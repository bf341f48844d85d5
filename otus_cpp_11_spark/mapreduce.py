"""Generic MapReduce surface — API parity with the reference framework
(`PrefixFindRunner`, /root/reference/src/mapreduce.hpp:21-40).

Reference contract (description/homework/mapreduce.h:26-64, SURVEY.md §3.3):
construct with (mappers M, reducers R); inject any
``str -> list[(str, int)]`` mapper (flatMap-shaped, mapreduce.hpp:26) and any
``(str, int) -> bool`` reducer (ordered fold, mapreduce.hpp:27); ``run``
guarantees the mapper sees every input line exactly once and the reducer
sees its partition's pairs in **globally sorted key order** with **all equal
keys in one partition**; the job result is the AND of every reducer vote
(runner.cpp:62-80).

Spark-first realization — each reference stage maps onto the runtime:

==========================  =============================================
reference (SURVEY.md §2)    here
==========================  =============================================
split_file → M blocks (O1)  ``sparkContext.textFile(path, M)`` — the same
                            line-aligned contiguous byte splits, lines as
                            UTF-8 strings; ``coalesce(M)`` when Spark cut
                            more than M (``repartition(M)`` only if fewer)
M mapper threads (O3)       ``rdd.flatMap(mapper)`` over M partitions
per-mapper sort (O4/O5)     not needed pre-shuffle (sort-based shuffle)
k-way merge shuffle (O6)    R − 1 range bounds from the mapper applied on
                            the driver to a seeded 20·R-line sample, then
                            ``repartitionAndSortWithinPartitions(R,
                            bisect)`` — one shuffle + per-partition sort
                            ≡ one globally sorted run cut into R blocks
align_blocks (O7)           free: the range partitioner never splits a key
R reducer threads (O9)      ``mapPartitionsWithIndex(fold)``
AND-aggregate (O12)         driver ``all()`` over R partition votes
==========================  =============================================

The mapper must be a pure function of the line (the reference's functor
contract, mapreduce.hpp:26): the driver calls it on the bounds sample, and
each input line reaches it exactly once on the executors.

The user functions are arbitrary Python — this is the deliberate slow path
(the escape hatch the reference exists for). Every operator that *can* be a
Column expression is registered in ``otus_cpp_11_spark.queries`` instead;
the lecture tasks are expressed on this API in tests to prove the contract,
and as DataFrame queries in the registry to run fast.

Per SURVEY.md §2.3.2 the reference's cross-partition reducer state (C++
function-``static`` shared across threads — a data race) is deliberately
not reproducible: reducer state is per-partition, which is the *intended*
semantics and the only one that scales.
"""

from __future__ import annotations

import bisect
import os
from collections.abc import Callable, Iterable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MapperFn = Callable[[str], Iterable[tuple[str, int]]]
ReducerFn = Callable[[tuple[str, int]], bool]
CombinerFn = Callable[[int, int], int]

# Range-bound sample: 20 lines per reducer, the constant PySpark's sortByKey
# and Spark's RangePartitioner use; fixed seed so bounds are reproducible.
_SAMPLE_LINES_PER_REDUCER = 20
_SAMPLE_SEED = 1


@dataclass
class MapReduceResult:
    """Mirror of the reference's observable outputs (runner.cpp:62-83):
    overall AND verdict + the per-reducer votes (reduce.<i>.txt lines)."""

    ok: bool
    reducer_votes: list[bool]


class MapReduceJob:
    """Reference-parity generic MapReduce job.

    >>> job = MapReduceJob(mappers=3, reducers=2)
    >>> job.set_mapper(lambda line: [(line[:1], 1)])
    >>> job.set_reducer(make_dup_detector())
    >>> job.run(spark, "input.txt").ok
    """

    def __init__(self, mappers: int = 3, reducers: int = 2):
        # defaults M=3, R=2 mirror the reference CLI (src/main.cpp:49)
        if mappers < 1 or reducers < 1:
            raise ValueError("mappers and reducers must be >= 1")
        self.mappers = mappers
        self.reducers = reducers
        self._mapper: MapperFn | None = None
        self._reducer: ReducerFn | None = None
        self._combiner: CombinerFn | None = None

    def set_mapper(self, fn: MapperFn) -> "MapReduceJob":
        """src/mapreduce.hpp:32 — any line → list[(key, count)] functor.
        It must be a pure function of the line: the driver also calls it
        on the sample that picks the reducers' range bounds."""
        self._mapper = fn
        return self

    def set_reducer(self, fn: ReducerFn) -> "MapReduceJob":
        """src/mapreduce.hpp:36 — ordered (key, count) → bool vote fold.
        State belongs in the callable (closure/object); it is per-partition."""
        self._reducer = fn
        return self

    def set_combiner(self, fn: CombinerFn = lambda a, b: a + b) -> "MapReduceJob":
        """The Hadoop-style combine phase the reference spec reserves room
        for (description/homework/client.cpp:39-44 — the reducer's
        ``count > 1`` branch, dead in the shipped binary, exists to consume
        combined counts). ``fn`` must be associative+commutative; default
        is count-sum. Combining runs per mapper partition BEFORE the
        shuffle — at scale this is the map-side partial aggregation that
        shrinks shuffle volume from |records| to |distinct keys per
        partition|."""
        self._combiner = fn
        return self

    # -- internals ---------------------------------------------------------

    def _lines(self, spark: SparkSession, source: str | DataFrame):
        if isinstance(source, DataFrame):
            rdd = source.select(source.columns[0]).rdd
        else:
            rdd = spark.sparkContext.textFile(source, minPartitions=self.mappers)
        # M input partitions ≡ M mapper threads (src/runner.cpp:14-29);
        # merging splits needs no shuffle, only too few splits pay one.
        n = rdd.getNumPartitions()
        if n > self.mappers:
            rdd = rdd.coalesce(self.mappers)
        elif n < self.mappers:
            rdd = rdd.repartition(self.mappers)
        return rdd.map(lambda row: row[0]) if isinstance(source, DataFrame) else rdd

    def _bounds(self, spark: SparkSession, source: str | DataFrame) -> list:
        """The R − 1 range bounds: the mapper, applied on the driver to a
        seeded sample of 20·R input lines taken by one JVM-only job, gives
        sample keys; every (n/R)-th sorted key is a bound."""
        r = self.reducers
        if r == 1:
            return []
        df = source if isinstance(source, DataFrame) else spark.read.text(source)
        sample = (
            df.select(df.columns[0])
            .orderBy(F.rand(_SAMPLE_SEED))
            .limit(_SAMPLE_LINES_PER_REDUCER * r)
            .collect()
        )
        keys = sorted(key for row in sample for key, _ in self._mapper(row[0]))
        return [keys[len(keys) * i // r] for i in range(1, r)] if keys else []

    def _shuffled(self, spark: SparkSession, source: str | DataFrame):
        """map → exactly R range-partitioned, sorted pair partitions (the O6
        shuffle + O7 alignment contract): one pass of the mapper over the
        input lines, one shuffle by ``bisect(bounds, key)``, then a
        spillable per-partition sort. The bounds only balance load; any
        bounds give sorted partitions in global order with no key split
        across two partitions."""
        if self._mapper is None:
            raise RuntimeError("set_mapper first")
        bounds = self._bounds(spark, source)
        pairs = self._lines(spark, source).flatMap(self._mapper)
        if self._combiner is not None:
            combiner = self._combiner

            def combine_partition(it):
                acc: dict[str, int] = {}
                for key, count in it:
                    acc[key] = combiner(acc[key], count) if key in acc else count
                return iter(acc.items())

            pairs = pairs.mapPartitions(combine_partition)
        return pairs.repartitionAndSortWithinPartitions(
            self.reducers, lambda key: bisect.bisect_left(bounds, key)
        )

    # -- public runs -------------------------------------------------------

    def run(
        self,
        spark: SparkSession,
        source: str | DataFrame,
        output_directory: str | None = None,
    ) -> MapReduceResult:
        """Full reference pipeline: returns the AND of reducer votes
        (runner.cpp:62-80). With ``output_directory``, writes the
        reference's observable file layout: ``reducer/reduce.<i>.txt`` (one
        0/1 line per reducer, runner.cpp:46-47) and ``result.txt``
        (runner.cpp:65)."""
        if self._reducer is None:
            raise RuntimeError("set_reducer first")
        reducer = self._reducer

        def fold(idx: int, it):
            vote = True
            seen = False
            for key, count in it:
                seen = True
                vote = reducer((key, count)) and vote
            # empty partition votes true, like a reducer fed no pairs
            yield (idx, vote if seen else True)

        votes_by_idx = dict(
            self._shuffled(spark, source).mapPartitionsWithIndex(fold).collect()
        )
        votes = [votes_by_idx.get(i, True) for i in range(self.reducers)]
        ok = all(votes)
        if output_directory is not None:
            red_dir = os.path.join(output_directory, "reducer")
            os.makedirs(red_dir, exist_ok=True)
            for i, v in enumerate(votes):
                with open(os.path.join(red_dir, f"reduce.{i}.txt"), "w") as f:
                    f.write(f"{int(v)}\n")
            with open(os.path.join(output_directory, "result.txt"), "w") as f:
                f.write(f"{int(ok)}\n")
        return MapReduceResult(ok=ok, reducer_votes=votes)

    def run_counts(
        self, spark: SparkSession, source: str | DataFrame
    ) -> DataFrame:
        """The count-per-key reduction the reference's client approximates
        (SURVEY.md §2.3.3) and the lecture tasks need: key → sum(count),
        as a DataFrame. Uses reduceByKey (map-side combine), not the sorted
        fold — this is the fast path when the reduction is associative."""
        if self._mapper is None:
            raise RuntimeError("set_mapper first")
        mapper = self._mapper
        pairs = self._lines(spark, source).flatMap(mapper)
        reduced = pairs.reduceByKey(lambda a, b: a + b, numPartitions=self.reducers)
        return spark.createDataFrame(reduced, schema="key string, count long")


def make_adjacent_dup_reducer() -> ReducerFn:
    """The client reducer (src/main.cpp:75-91): votes false when the current
    key equals the previous key (sorted adjacency) or count > 1. State is a
    closure cell — per partition, not process-global (SURVEY.md §2.3.2)."""
    prev: list[str | None] = [None]

    def reducer(pair: tuple[str, int]) -> bool:
        key, count = pair
        dup = (prev[0] is not None and key == prev[0]) or count > 1
        prev[0] = key
        return not dup

    return reducer


def make_prefix_mapper(length: int) -> MapperFn:
    """The client mapper (src/main.cpp:62-74): emit (line[:L], 1)."""

    def mapper(line: str) -> list[tuple[str, int]]:
        return [(line[:length], 1)]

    return mapper


def find_min_unique_prefix(
    spark: SparkSession,
    source: str | DataFrame,
    mappers: int = 3,
    reducers: int = 2,
    max_len: int = 3,
    output_directory: str | None = None,
) -> int | None:
    """The reference's full CLI program (src/main.cpp:59-99) on the generic
    API: loop L = 1..max_len, one MapReduce job per L, stop on first success.
    ``max_len=3`` mirrors the reference's hard cap (``result < 4``,
    src/main.cpp:61); pass a larger cap for correct behavior on deep-prefix
    data. Returns None if no L in range succeeds (the reference would print
    the failing cap value instead — SURVEY.md §2.3.5)."""
    for length in range(1, max_len + 1):
        job = MapReduceJob(mappers=mappers, reducers=reducers)
        job.set_mapper(make_prefix_mapper(length))
        job.set_reducer(make_adjacent_dup_reducer())
        outdir = (
            os.path.join(output_directory, f"iter{length}")
            if output_directory
            else None
        )
        if job.run(spark, source, outdir).ok:
            return length
    return None
