"""Reference answers for the benchmark's operations.

* ``prefix_answer`` is the exact single-process answer to the reference's
  minimal-unique-prefix question: sort the lines, and the answer is one
  more than the longest common prefix of any two neighbours (``None`` when
  two lines are identical).
* ``oracle_summary`` runs a registry query's own DuckDB oracle SQL over
  the generated files and reduces the result to its columns, row count
  and a digest of its normalized rows; ``frame_summary`` reduces a Spark
  result the same way. Cells are tagged with their kind, so ``832`` and
  ``832.0`` differ, as they do in ``scripts/check_oracle.py``.

``AnswerCache`` keeps the answers for one set of generated inputs in a
JSON file, so a rerun on the same inputs reuses them.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import numpy as np


def prefix_answer(lines: list[str]) -> int | None:
    """Minimal prefix length L such that the first L characters of every
    line are distinct; ``None`` when some line occurs twice (no L works).
    There is no cap on L. An input whose lines are all empty has no
    answer either, matching the engine."""
    if not lines or max(map(len, lines)) == 0:
        return None
    ordered = sorted(lines)
    best = 1
    for a, b in zip(ordered, ordered[1:]):
        if a == b:
            return None
        n = 0
        for x, y in zip(a, b):
            if x != y:
                break
            n += 1
        best = max(best, n + 1)
    return best


def distinct_prefixes(lines: list[str], length: int) -> int:
    return len({line[:length] for line in lines})


def _norm_cell(v):
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


def pandas_summary(pdf) -> dict:
    """Columns (sorted), row count and a digest of the rows, each row's
    cells in column order, rows sorted — an order-insensitive fingerprint
    of the whole result."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = sorted(
        repr(tuple(_norm_cell(v) for v in row))
        for row in pdf.itertuples(index=False)
    )
    digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return {"columns": cols, "rows": len(rows), "digest": digest}


def frame_summary(df) -> dict:
    return pandas_summary(df.toPandas())


def oracle_summary(con, sql: str) -> dict:
    return pandas_summary(con.sql(sql).df())


def duckdb_catalog(data_dir: str, tables: tuple[str, ...]):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def mismatch(got: dict, want: dict) -> str | None:
    """None when two summaries agree, else a one-line reason."""
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != {want['columns']}"
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} != {want['rows']}"
    if got["digest"] != want["digest"]:
        return "values differ"
    return None


class AnswerCache:
    """JSON file of reference answers, one file per set of inputs."""

    def __init__(self, path: str):
        self.path = path
        try:
            with open(path) as f:
                self.answers = json.load(f)
        except (OSError, ValueError):
            self.answers = {}
        self.dirty = False

    def get(self, key: str, compute):
        if key not in self.answers:
            self.answers[key] = compute()
            self.dirty = True
        return self.answers[key]

    def save(self) -> None:
        if self.dirty:
            os.makedirs(os.path.dirname(self.path), exist_ok=True)
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.answers, f, sort_keys=True)
            os.replace(tmp, self.path)
