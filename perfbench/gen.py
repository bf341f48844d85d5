"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same arguments
write byte-identical files, a different seed writes different ones. The
tables follow the physical schema the package's catalog reads (one
single-row-group parquet file per table, ``timestamp[us]`` timestamps,
``list<float>`` embeddings) and the value distributions of the reference
testdata: uniform TPC-H-style keys and measures, an events stream with
exponential inter-arrival gaps, and documents made of words from a small
vocabulary. On top of that the corpus carries a seeded share of
word-edited near-duplicates, so the dedup operators have work to find.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per unit scale factor (the reference testdata at sf0.1 has a tenth
# of each of these).
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
NEAR_DUP_SHARE = 0.08
EVENTS_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EVENTS_SPAN_US = 30 * 86_400_000_000
ORDERS_START_DAY = 9131  # 1995-01-01
ORDERS_DAYS = 2404  # .. 2001-08-01
DAY_US = 86_400_000_000
_TABLE_IDS = {name: i for i, name in enumerate(TABLES)}


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent stream per (seed, table), so resizing one table
    leaves every other table's bytes unchanged."""
    tag = _TABLE_IDS.get(stream, 1000 + sum(map(ord, stream)))
    return np.random.default_rng([seed, tag])


def _write(table: pa.Table, path: str) -> None:
    # one row group, like the reference testdata; no pandas metadata, so
    # the bytes depend on the values alone
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1),
                   compression="snappy")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _region(seed: int, sf: float) -> pa.Table:
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })


def _nation(seed: int, sf: float) -> pa.Table:
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def _customer(seed: int, sf: float) -> pa.Table:
    n = rows("customer", sf)
    rng = _rng(seed, "customer")
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
    })


def _supplier(seed: int, sf: float) -> pa.Table:
    n = rows("supplier", sf)
    rng = _rng(seed, "supplier")
    return pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
    })


def _part(seed: int, sf: float) -> pa.Table:
    n = rows("part", sf)
    rng = _rng(seed, "part")
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array(names[rng.integers(0, len(names), n)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n)]),
        "p_size": pa.array(rng.integers(1, 51, n, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 2)),
    })


def _days_us(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * DAY_US, pa.timestamp("us"))


def _orders(seed: int, sf: float) -> pa.Table:
    n = rows("orders", sf)
    rng = _rng(seed, "orders")
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, rows("customer", sf), n)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
        "o_orderdate": _days_us(ORDERS_START_DAY + rng.integers(0, ORDERS_DAYS + 1, n)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    })


def _lineitem(seed: int, sf: float) -> pa.Table:
    n = rows("lineitem", sf)
    rng = _rng(seed, "lineitem")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, rows("orders", sf), n)),
        "l_partkey": pa.array(rng.integers(0, rows("part", sf), n)),
        "l_suppkey": pa.array(rng.integers(0, rows("supplier", sf), n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": _days_us(ORDERS_START_DAY + 1 + rng.integers(0, ORDERS_DAYS + 93, n)),
    })


def _events(seed: int, sf: float) -> pa.Table:
    n = rows("events", sf)
    rng = _rng(seed, "events")
    ts = EVENTS_START_US + np.sort(rng.integers(0, EVENTS_SPAN_US, n))
    users = max(1, rows("customer", sf) // 10)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(seed: int, sf: float) -> pa.Table:
    n = rows("documents", sf)
    rng = _rng(seed, "documents")
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, n)
    words = vocab[rng.integers(0, len(vocab), int(lengths.sum()))]
    bounds = np.concatenate(([0], np.cumsum(lengths)))
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    # near-duplicates: a later document copies an earlier one and has a
    # few of its words replaced
    n_dup = int(n * NEAR_DUP_SHARE)
    for i in np.sort(rng.choice(np.arange(1, n), size=min(n_dup, n - 1), replace=False)):
        src = texts[int(rng.integers(0, i))].split()
        for pos in rng.integers(0, len(src), int(rng.integers(1, 4))):
            src[pos] = vocab[rng.integers(0, len(vocab))]
        texts[i] = " ".join(src)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(seed: int, sf: float) -> pa.Table:
    n = rows("embeddings", sf)
    rng = _rng(seed, "embeddings")
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


_BUILDERS = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "events": _events, "documents": _documents,
    "embeddings": _embeddings,
}


def rows(table: str, sf: float) -> int:
    return max(1, int(round(ROWS_PER_SF[table] * sf)))


def write_tables(out_dir: str, seed: int, sf: float,
                 sf_overrides: dict[str, float] | None = None) -> dict[str, int]:
    """Write all ten catalog tables under ``out_dir`` at scale factor ``sf``
    (per-table overrides in ``sf_overrides``); returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name in TABLES:
        table = _BUILDERS[name](seed, (sf_overrides or {}).get(name, sf))
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def prefix_lines(seed: int, n_lines: int, depth: int) -> list[str]:
    """``n_lines`` distinct email-like lines whose minimal unique prefix
    length is exactly ``depth``.

    Random local parts over a 36-letter alphabet share prefixes of only
    about log36(n^2 / 2) characters (5 at 5k lines), so the answer is
    set by planted copies of existing lines with one character changed:
    at 1-based position ``depth`` for one copy, at shallower positions for
    the others.
    """
    if depth < 8:
        raise ValueError("depth must be >= 8 (random prefixes share up to ~6)")
    rng = _rng(seed, "prefix_lines")
    alphabet = np.array(list("abcdefghijklmnopqrstuvwxyz0123456789"))
    domains = ("example.com", "mail.example.org", "corp.example.net", "uni.example.edu")
    n_planted = max(1, n_lines // 100)
    n_random = n_lines - n_planted
    seen: set[str] = set()
    lines: list[str] = []
    while len(lines) < n_random:
        want = n_random - len(lines)
        lens = rng.integers(depth, depth + 12, want)
        chars = alphabet[rng.integers(0, len(alphabet), int(lens.sum()))]
        doms = rng.integers(0, len(domains), want)
        pos = 0
        for ln, d in zip(lens, doms):
            line = "".join(chars[pos:pos + ln]) + "@" + domains[d]
            pos += ln
            if line not in seen:
                seen.add(line)
                lines.append(line)
    # planted pairs: shared prefix depth-1 for the first, shallower for the rest
    shared = np.concatenate(([depth - 1], rng.integers(depth // 2, depth - 1, n_planted - 1)))
    for share in shared:
        while True:
            base = lines[int(rng.integers(0, n_random))]
            idx = int(np.flatnonzero(alphabet == base[share])[0])
            repl = alphabet[(idx + 1 + int(rng.integers(0, 35))) % 36]
            line = base[:share] + repl + base[share + 1:]
            if line not in seen:
                seen.add(line)
                lines.append(line)
                break
    order = rng.permutation(len(lines))
    return [lines[i] for i in order]


def write_prefix_lines(path: str, seed: int, n_lines: int, depth: int) -> None:
    """Write :func:`prefix_lines` to ``path``, one per line."""
    with open(path, "w") as f:
        f.write("\n".join(prefix_lines(seed, n_lines, depth)) + "\n")
