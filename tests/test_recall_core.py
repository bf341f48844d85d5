"""The shared recall-gate core of queries/similarity.py on small hand-built
frames, checked against a pure-Python computation: the stacked-metric
recall (ties, both sort directions, a metric with zero hits) and the
exact-top-k + overlap recall (fewer exact neighbours than k, pooled and
per query)."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from otus_cpp_11_spark.queries.similarity import (
    KNN_QUERY_MOD,
    KNN_TOPK,
    _knn_exact_top,
    _overlap_recall,
    _stacked_recall,
)


def _stacked_rows():
    """(qid, vec_id, metric, d) rows: integer scores from a small range so
    ties are common; metric 'never' scores only vectors outside every
    truth top-k, qid 3 has fewer candidates than k."""
    rng = random.Random(11)
    rows = []
    for qid in (1, 2):
        for vid in range(12):
            for metric in ("exact", "a", "b"):
                rows.append((qid, vid, metric, rng.randint(0, 4)))
    for vid in range(100, 104):
        rows.append((1, vid, "never", 0))
        rows.append((2, vid, "never", 0))
    for vid in range(3):
        rows.append((3, vid, "exact", vid))
        rows.append((3, vid, "a", -vid))
    return rows


def _py_stacked(rows, k, desc, truth, metrics):
    def top(qid, metric):
        got = [(d, v) for q, v, m, d in rows if q == qid and m == metric]
        got.sort(key=lambda t: ((-t[0] if desc else t[0]), t[1]))
        return {v for _, v in got[:k]}

    out = []
    for qid in sorted({r[0] for r in rows}):
        want = top(qid, truth)
        n = [len(want & top(qid, m)) for m in metrics]
        out.append((qid, *n, *[x / k for x in n]))
    return out


def test_stacked_recall_matches_python_both_directions(spark):
    rows = _stacked_rows()
    df = spark.createDataFrame(
        rows, "qid bigint, vec_id bigint, metric string, d bigint"
    )
    variants = [
        ("a", "n_hits_a", "recall_a"),
        ("b", "n_hits_b", "recall_b"),
        ("never", "n_hits_never", "recall_never"),
    ]
    for k, order, desc in ((5, F.asc("d"), False), (4, F.desc("d"), True)):
        got = _stacked_recall(df, order, k, "exact", variants).orderBy("qid")
        assert got.columns == [
            "qid", "n_hits_a", "n_hits_b", "n_hits_never",
            "recall_a", "recall_b", "recall_never",
        ]
        want = _py_stacked(rows, k, desc, "exact", ["a", "b", "never"])
        assert [tuple(r) for r in got.collect()] == want
        # the planted metric never reaches a truth top-k
        assert all(r[3] == 0 and r[6] == 0.0 for r in want)


def _embeddings(spark):
    """41 vectors (queries 0, 20, 40) in 4 dims. Vectors 5 and 6 are
    identical, so their cosine to any query ties exactly; against query
    0 they rank just behind vectors 1 and 2."""
    rng = random.Random(3)
    vecs = {v: [rng.uniform(-1, 1) for _ in range(4)] for v in range(41)}
    vecs[0] = [1.0, 0.0, 0.0, 0.0]
    vecs[1] = [1.0, 0.125, 0.0, 0.0]
    vecs[2] = [1.0, 0.25, 0.0, 0.0]
    vecs[5] = [1.0, 0.5, 0.0, 0.0]
    vecs[6] = list(vecs[5])
    df = spark.createDataFrame(
        sorted(vecs.items()), "vec_id bigint, embedding array<float>"
    )
    # compare against the float32 values Spark stores
    stored = {int(r["vec_id"]): list(r["embedding"]) for r in df.collect()}
    return df, stored


def _py_exact_top(vecs, eligible=None):
    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        return dot / (na * math.sqrt(sum(y * y for y in b)))

    top = {}
    for q in sorted(v for v in vecs if v % KNN_QUERY_MOD == 0):
        cands = [
            (-cos(vecs[n], vecs[q]), n)
            for n in vecs
            if n != q and (eligible is None or n in eligible)
        ]
        top[q] = [n for _, n in sorted(cands)[:KNN_TOPK]]
    return top


def test_exact_top_breaks_ties_by_vec_id(spark):
    df, vecs = _embeddings(spark)
    got = {}
    for r in _knn_exact_top(df).collect():
        got.setdefault(int(r["query_id"]), set()).add(int(r["nid"]))
    want = _py_exact_top(vecs)
    assert got == {q: set(ns) for q, ns in want.items()}
    # 5 and 6 tie for the last slot of query 0's top-k: the smaller id wins
    eligible = spark.createDataFrame([(1,), (2,), (5,), (6,)], "vec_id bigint")
    rows = _knn_exact_top(df, eligible).where("query_id = 0").collect()
    assert sorted(int(r["nid"]) for r in rows) == [1, 2, 5]
    assert _py_exact_top(vecs, {1, 2, 5, 6})[0] == [1, 2, 5]


def test_overlap_recall_denominator_is_exact_row_count(spark):
    df, vecs = _embeddings(spark)
    # query 0 has two eligible neighbours (itself excluded), fewer than
    # k; queries 20 and 40 have exactly k
    eligible_ids = {0, 3, 9}
    eligible = spark.createDataFrame(
        [(v,) for v in sorted(eligible_ids)], "vec_id bigint"
    )
    exact = _py_exact_top(vecs, eligible_ids)
    assert len(exact[0]) == 2 < KNN_TOPK and len(exact[20]) == KNN_TOPK
    # approximate answer: one true hit for query 0, two for 20, none for 40
    approx = spark.createDataFrame(
        [(0, exact[0][0]), (0, 999), (20, exact[20][0]), (20, exact[20][2])],
        "query_id bigint, neighbor_id bigint",
    )
    exact_top = _knn_exact_top(df, eligible)
    per_query = _overlap_recall(exact_top, approx, "query_id").orderBy("query_id")
    got = [tuple(r) for r in per_query.collect()]
    assert got == [(0, 1, 1 / 2), (20, 2, 2 / KNN_TOPK), (40, 0, 0.0)]
    pooled = _overlap_recall(exact_top, approx).first()
    assert (pooled["n_overlap"], pooled["recall"]) == (3, 3 / (2 + 2 * KNN_TOPK))
