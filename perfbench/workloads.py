"""The benchmark's workloads: what inputs each one generates, and the
fixed, ordered list of operations one pass runs.

An operation is either a registry query (``queries.<module>`` layer: the
query function builds a DataFrame, which the harness then materializes)
or a direct call into the prefix / MapReduce layers. ``kind`` is
``write`` for operations that commit to a versioned table or run a
streaming maintainer, ``read`` for everything else.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass
from typing import Any, Callable

import gen

PREFIX_DEPTH = 8


@dataclass(frozen=True)
class Op:
    name: str
    kind: str  # "read" | "write"
    layer: str  # "prefix" | "mapreduce" | "queries.<module>"
    # eager ops run their Spark jobs inside the call and return a value;
    # the others return a DataFrame that the harness materializes
    eager: bool = False


@dataclass(frozen=True)
class Workload:
    """Why each workload exists is stated in BENCHMARK.json and README.md."""

    name: str
    # size name -> generator parameters
    sizes: dict[str, dict[str, Any]]
    ops: tuple[Op, ...]


def _q(name: str, module: str, kind: str = "read") -> Op:
    return Op(name, kind, f"queries.{module}")


PREFIX_LINES = Workload(
    name="prefix_lines",
    sizes={"full": {"lines": 5_000}, "tiny": {"lines": 2_000}},
    ops=(
        Op("prefix_iterative", "read", "prefix", eager=True),
        Op("prefix_single_pass", "read", "prefix"),
        Op("mapreduce_run", "read", "mapreduce", eager=True),
        Op("mapreduce_run_counts", "read", "mapreduce"),
    ),
)

LLM_CORPUS = Workload(
    name="llm_corpus",
    sizes={
        "full": {"sf": 0.001, "documents": 0.1, "embeddings": 0.1},
        "tiny": {"sf": 0.001, "documents": 0.006, "embeddings": 0.01},
    },
    ops=(
        _q("word_count", "mapreduce_ops"),
        _q("corpus_dedup_stats", "dedup"),
        _q("doc_bpe_token_stats", "bpe"),
        _q("doc_quality_classifier", "text"),
        _q("benchmark_decontamination", "curation"),
        _q("ann_cosine_top10", "similarity"),
    ),
)

LAKEHOUSE_MIXED = Workload(
    name="lakehouse_mixed",
    sizes={"full": {"sf": 0.03}, "tiny": {"sf": 0.002}},
    ops=(
        _q("q3_shipping_priority", "relational"),
        _q("versioned_multi_table_txn", "cdc", "write"),
        _q("user_state_cdc_streamed", "cdc", "write"),
        _q("top3_orders_per_customer", "relational"),
        _q("purchase_prior_click_asof", "timeseries"),
    ),
)

WORKLOADS = {w.name: w for w in (PREFIX_LINES, LLM_CORPUS, LAKEHOUSE_MIXED)}


def generate(workload: Workload, size: str, seed: int, data_dir: str) -> dict:
    """Write the workload's inputs under ``data_dir``; returns the input
    description for the run record (rows and bytes per file)."""
    p = workload.sizes[size]
    os.makedirs(data_dir, exist_ok=True)
    if workload is PREFIX_LINES:
        path = os.path.join(data_dir, "lines.txt")
        gen.write_prefix_lines(path, seed, p["lines"], PREFIX_DEPTH)
        rows = {"lines": p["lines"]}
    else:
        overrides = {k: v for k, v in p.items() if k != "sf"}
        rows = gen.write_tables(data_dir, seed, p["sf"], overrides)
    files = sorted(os.listdir(data_dir))
    digest = hashlib.sha256()
    for f in files:
        with open(os.path.join(data_dir, f), "rb") as fh:
            digest.update(f.encode() + b"\0" + fh.read())
    return {
        "rows": rows,
        "bytes": {f: os.path.getsize(os.path.join(data_dir, f)) for f in files},
        "digest": digest.hexdigest()[:16],
    }


def lines_path(data_dir: str) -> str:
    return os.path.join(data_dir, "lines.txt")


def read_lines(data_dir: str) -> list[str]:
    with open(lines_path(data_dir)) as f:
        return f.read().splitlines()


def bind(op: Op, spark, data_dir: str, answer: dict) -> Callable[[], Any]:
    """The zero-argument call that performs ``op`` once. ``answer`` holds
    the reference prefix answer for the MapReduce ops, which run the
    reference client at that prefix length."""
    if op.layer.startswith("queries."):
        from otus_cpp_11_spark.registry import all_queries

        fn = all_queries()[op.name].fn
        return lambda: fn(spark, data_dir)
    from otus_cpp_11_spark import mapreduce, prefix

    path = lines_path(data_dir)
    if op.name == "prefix_iterative":
        return lambda: prefix.min_unique_prefix_length(spark, spark.read.text(path))
    if op.name == "prefix_single_pass":
        return lambda: prefix.min_unique_prefix_length_single_pass(spark.read.text(path))
    length = answer["prefix"]

    def job() -> mapreduce.MapReduceJob:
        return (
            mapreduce.MapReduceJob()
            .set_mapper(mapreduce.make_prefix_mapper(length))
            .set_reducer(mapreduce.make_adjacent_dup_reducer())
            .set_combiner()
        )

    if op.name == "mapreduce_run":
        return lambda: job().run(spark, path)
    if op.name == "mapreduce_run_counts":
        return lambda: job().run_counts(spark, path)
    raise KeyError(op.name)
