"""Local mirror of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count, column
names, and exact cell values (rows sorted, columns sorted by name).

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
Exit 0 iff all selected queries match.
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

import duckdb
import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from otus_cpp_11_spark.catalog import TABLES  # noqa: E402
from otus_cpp_11_spark.session import get_spark  # noqa: E402

SF_DIR_DEFAULT = "/root/testdata/sf0.01"


def _norm_cell(v):
    """Type-sensitive cell normalization.

    The driver's value hash distinguishes int from float (832 vs 832.0 —
    e.g. DuckDB integer SUM returns HUGEINT which lands in pandas as
    float64 while Spark returns int64), so plain tuple equality
    (832.0 == 832 is True) would hide exactly the mismatches the driver
    flags. Tag every cell with a type kind; int *width* (int32 vs int64)
    is deliberately not distinguished — both repr identically.
    """
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return ("f", "NaN" if math.isnan(f) else f)
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("l", tuple(_norm_cell(x) for x in v))
    return (type(v).__name__, v)


def _frame_to_rows(pdf):
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = [tuple(_norm_cell(v) for v in row) for row in pdf.itertuples(index=False)]
    return cols, sorted(rows, key=repr)


def compare(name, spark_df, con, sql):
    t0 = time.time()
    spdf = spark_df.toPandas()
    t_spark = time.time() - t0
    t0 = time.time()
    odf = con.sql(sql).df()
    t_duck = time.time() - t0
    scols, srows = _frame_to_rows(spdf)
    ocols, orows = _frame_to_rows(odf)
    status, detail = "OK", ""
    if scols != ocols:
        status, detail = "COLS", f"spark={scols} duck={ocols}"
    elif len(srows) != len(orows):
        status, detail = "ROWS", f"spark={len(srows)} duck={len(orows)}"
    elif srows != orows:
        n_bad = sum(1 for a, b in zip(srows, orows) if a != b)
        first = next(((a, b) for a, b in zip(srows, orows) if a != b), None)
        status, detail = "VALS", f"{n_bad}/{len(srows)} differing; first: spark={first[0]} duck={first[1]}"
    print(
        f"{status:5s} {name:32s} rows={len(srows):6d} spark={t_spark:6.2f}s duck={t_duck:6.2f}s {detail}"
    )
    return status == "OK"


def check_query(name, fn, spark, sf_dir, con, sql) -> bool:
    """Run one query and print its status line; never raises. With no
    oracle ``sql`` the query only has to produce rows. A query that
    raises prints an ERR line and counts as failed."""
    try:
        if sql is None:
            n = fn(spark, sf_dir).count()
            print(f"SKIP  {name:32s} rows={n:6d} (no oracle: rows-only)")
            return True
        return compare(name, fn(spark, sf_dir), con, sql)
    except Exception as e:
        first = (str(e).splitlines() or [""])[0]
        print(f"ERR   {name:32s} {type(e).__name__}: {first[:140]}")
        return False


def check_all(qs, oracles, spark, sf_dir, con) -> list[str]:
    """Check every query in ``qs`` (name -> fn); return the failed names."""
    return [
        name
        for name, fn in qs.items()
        if not check_query(name, fn, spark, sf_dir, con, oracles.get(name))
    ]


def main():
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else SF_DIR_DEFAULT
    only = [a for a in args if "/" not in a]

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    spark = get_spark(app_name="oracle-check")
    failed = check_all(
        {n: fn for n, fn in qs.items() if not only or n in only},
        oracles,
        spark,
        sf_dir,
        con,
    )
    spark.stop()
    if failed:
        print(f"\nFAILED ({len(failed)}): {failed}")
        sys.exit(1)
    print("\nall queries match")


if __name__ == "__main__":
    main()
