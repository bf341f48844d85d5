"""The reference's flagship query: minimal prefix length that uniquely
identifies every line of a text dataset.

Reference behavior (/root/reference/src/main.cpp:59-99): loop L = 1, 2, 3;
each iteration runs a full MapReduce job whose mapper emits
``(line.substr(0, L), 1)`` (main.cpp:62-74) and whose reducer votes false on
any adjacent duplicate key in the sorted stream (main.cpp:75-91); stop at the
first L where every prefix is unique. Semantic quirks we deliberately fix
(SURVEY.md §2.3): the L < 4 cap becomes a parameter defaulting to the longest
line; identical full lines are reported as "no answer" (None) instead of the
cap value.

Spark-first design — two strategies, both built on ``groupBy`` (the sorted
adjacency + key co-location contract of the reference shuffle,
description/homework/mapreduce.h:41-44, is exactly what a hash aggregate
guarantees for free):

* ``iterative``  — the reference's search, answered in at most two
  aggregation rounds over one cached input instead of one job per L.
  Uniqueness is monotone in L (distinct L-prefixes stay distinct at L+1), so
  round 1 tests the powers of two below the cap plus the cap itself in one
  batched ``groupBy(L, prefix)`` (:func:`duplicate_prefix_lengths`); that
  brackets the answer in ``(lo, hi]`` with ``hi <= 2 * lo`` or ``hi`` = cap,
  and round 2 tests only the lengths strictly between (skipped when
  ``hi - lo == 1``). Per line, round 1 shuffles O(len(line)) prefix bytes
  (1 + 2 + 4 + ... <= 2 * len) and round 2 O(L*^2), so the search costs
  O(n + L*^2) per line of length n — the order of the reference's L* jobs —
  in a constant number of rounds. The aggregation is map-side combined, so
  only distinct prefixes cross the shuffle.
* ``single_pass`` — impossible in the reference's model, trivial in SQL:
  explode every row into (L, prefix) for L = 1..len(line) and aggregate once.
  Shuffle volume is O(rows * avg_len) — right when line width is bounded
  (keys, ids), wrong for long documents; callers pick.

Both explode each line only to its *own* length, not the global max —
shuffle volume stays proportional to data size, not data size x global max
length. This is sound because at any L, a line shorter than L contributes
its full text as its prefix, which can only compare equal to another prefix
string of the same (sub-L) length — i.e. to another short line's
*identical* full text. That is precisely the duplicate-full-line case,
which is handled by an explicit (cheap) duplicate guard: when any full line
occurs twice the answer is NULL regardless of L.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def prefix_counts(df: DataFrame, col: str, length: int) -> DataFrame:
    """(prefix, cnt) at a fixed prefix length — the reference's one MapReduce
    job (map: substr+lit(1), src/main.cpp:62-74; reduce: count per key)."""
    return df.groupBy(F.substring(F.col(col), 1, length).alias("prefix")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def duplicate_prefix_lengths(
    df: DataFrame, col: str, lengths: Iterable[int], max_len: int
) -> set[int]:
    """The lengths among ``lengths`` and ``max_len`` at which some prefix
    occurs more than once, tested together in one ``groupBy(L, prefix)``
    aggregation (the reference's per-L job, src/main.cpp:62-91, batched).

    Each line emits ``(L, its L-prefix)`` only for the lengths L <= its own
    length, plus ``L = max_len`` as the guard. A line shorter than L can
    only collide at L with an identical full line (module docstring), and
    identical lines collide at the guard; a duplicate at ``max_len`` implies
    one at every shorter length, so a guard hit marks every tested length.
    Every length must be <= ``max_len``.
    """
    batch = set(lengths) | {max_len}
    if max(batch) > max_len:
        raise ValueError(f"lengths must be <= max_len={max_len}, got {max(batch)}")
    rows = df.select(
        F.col(col).alias("_line"),
        F.explode(F.array(*[F.lit(n) for n in sorted(batch)])).alias("L"),
    ).where((F.col("L") <= F.length("_line")) | (F.col("L") == max_len))
    dup_rows = (
        rows.groupBy("L", F.expr("substring(_line, 1, L)").alias("prefix"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") > 1)
        .select("L")
        .distinct()
        .collect()
    )
    dups = {r["L"] for r in dup_rows}
    return batch if max_len in dups else dups


def has_duplicate_prefix(df: DataFrame, col: str, length: int) -> bool:
    """True iff some prefix of ``length`` occurs more than once — the
    reference's per-L reducer verdict (src/main.cpp:75-91), as a one-length
    batch of :func:`duplicate_prefix_lengths`."""
    return length in duplicate_prefix_lengths(df, col, [length], length)


def min_unique_prefix_length(
    spark: SparkSession,
    df: DataFrame,
    col: str = "value",
    max_len: int | None = None,
    cache: bool = True,
    on_iteration=None,
) -> int | None:
    """Smallest L <= ``max_len`` at which every L-prefix is unique — the
    reference's search (src/main.cpp:61-99) minus the hard L<4 cap, in at
    most two aggregation rounds whatever the answer. Returns None when no
    such L exists (a duplicate at the cap; with the default cap, the longest
    line, that means duplicate full lines — SURVEY.md §2.3.5/§2.3.7).

    The input is cached once; the longest-line scan builds the cache and
    both rounds reuse it (the reference re-reads the input file every pass).
    Round 1 tests the powers of two below the cap plus the cap: a duplicate
    at the cap answers None, otherwise it brackets the answer in
    ``(lo, hi]``, ``lo`` the largest length with a duplicate and ``hi`` the
    smallest tested length above it. Round 2 tests the lengths strictly
    between, guarded at ``hi - 1``, and is skipped when ``hi - lo == 1``.
    Round 1 shuffles O(len(line)) prefix bytes per line and round 2
    O(L*^2), since ``hi <= 2 * lo`` unless ``hi`` is the cap.

    ``on_iteration(length, unique)`` is replayed after the search for
    L = 1..answer (uniqueness is monotone in L, so every L before the
    answer collides) — the CLI uses it to mirror the reference's
    per-iteration ``iter{L}/result.txt`` output layout (src/runner.cpp:65).
    """
    if max_len is not None and max_len < 0:
        raise ValueError(f"max_len must be >= 0, got {max_len}")
    if cache:
        df = df.cache()
    try:
        if max_len is None:
            max_len = df.agg(F.max(F.length(F.col(col)))).first()[0] or 0
        if max_len == 0:
            return None
        probes = [1 << k for k in range((max_len - 1).bit_length())] + [max_len]
        dups = duplicate_prefix_lengths(df, col, probes, max_len)
        if max_len in dups:
            return None
        lo = max(dups, default=0)
        hi = min(n for n in probes if n > lo)
        if hi - lo > 1:
            between = range(lo + 1, hi)
            lo = max(duplicate_prefix_lengths(df, col, between, hi - 1), default=lo)
    finally:
        if cache:
            df.unpersist()
    answer = lo + 1
    if on_iteration is not None:
        for length in range(1, answer + 1):
            on_iteration(length, length == answer)
    return answer


def prefix_uniqueness_by_length(df: DataFrame, col: str = "value") -> DataFrame:
    """Single-pass per-L verdict table: ``[L, max_count]`` where
    ``max_count == 1`` marks lengths at which all prefixes are unique.

    Empty lines are filtered before the explode (Spark's ``sequence(1, 0)``
    would otherwise emit a descending [1, 0]); an empty line's prefix ""
    can only collide with another empty line — the duplicate-full-line case
    the caller's guard handles.
    """
    exploded = (
        df.where(F.length(F.col(col)) >= 1)
        .select(
            F.col(col).alias("_line"),
            F.explode(F.sequence(F.lit(1), F.length(F.col(col)))).alias("L"),
        )
        .select("L", F.expr("substring(_line, 1, L)").alias("prefix"))
    )
    return (
        exploded.groupBy("L", "prefix")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("L")
        .agg(F.max("cnt").alias("max_count"))
    )


def min_unique_prefix_length_single_pass(
    df: DataFrame, col: str = "value"
) -> DataFrame:
    """One-row DataFrame ``[min_unique_prefix_len: bigint]`` (NULL = no unique
    prefix exists, i.e. duplicate full lines).

    The duplicate guard (see module docstring) is a scalar aggregate cross-
    joined in — one extra row, no extra shuffle of the exploded data.
    """
    per_len = prefix_uniqueness_by_length(df, col)
    candidate = per_len.where(F.col("max_count") == 1).agg(
        F.min("L").cast("long").alias("_cand")
    )
    dup_guard = df.agg(
        (F.count(F.col(col)) > F.count_distinct(F.col(col))).alias("_has_dups")
    )
    return candidate.crossJoin(dup_guard).select(
        F.when(F.col("_has_dups"), F.lit(None).cast("long"))
        .otherwise(F.col("_cand"))
        .alias("min_unique_prefix_len")
    )
