"""Generic MapReduceJob contract tests (SURVEY.md §3.3 acceptance contract +
§2.1 lecture tasks + the reference CLI program end-to-end)."""

from __future__ import annotations

import pytest
from pyspark import TaskContext

from otus_cpp_11_spark.mapreduce import (
    MapReduceJob,
    find_min_unique_prefix,
    make_adjacent_dup_reducer,
    make_prefix_mapper,
)

# Exact input vectors from /root/reference/description/MapReduce.cpp:20,46.
# (FIXTURES.md §C.1 quotes expected values 414 / 8; recomputing from the
# reference's own lists gives 438 / 7 — we assert the recomputed truth.)
INTS_SQUARES = [1, 6, 3, 7, 2, 15, 10, 1, 3, 2]  # sum of squares = 438
INTS_ABS = [1, 6, 3, -7, 2, 15, -10, -1, 3, 2, -3, 7, -2, 15, 10]  # 7 unique |x|


def lines_df(spark, values):
    return spark.createDataFrame([(str(v),) for v in values], ["value"])


def lines_source(spark, tmp_path, kind, values):
    """The same lines as a DataFrame source or as a text-file path."""
    if kind == "dataframe":
        return spark.createDataFrame([(v,) for v in values], "value string")
    path = tmp_path / "lines.txt"
    path.write_text("".join(f"{v}\n" for v in values))
    return str(path)


class TestReferenceProgram:
    def test_golden_test_txt(self, spark, tmp_path):
        """Reference e2e: test.txt → Result = 2; iter1 fails, iter2 passes
        (out/iter{L}/result.txt mirror — SURVEY.md §5 golden)."""
        out = str(tmp_path / "out")
        result = find_min_unique_prefix(
            spark, "/root/reference/test.txt", mappers=3, reducers=2,
            output_directory=out,
        )
        assert result == 2
        assert (tmp_path / "out/iter1/result.txt").read_text() == "0\n"
        assert (tmp_path / "out/iter2/result.txt").read_text() == "1\n"
        votes = sorted((tmp_path / "out/iter2/reducer").glob("reduce.*.txt"))
        assert len(votes) == 2  # R=2 reducer vote files

    def test_l4_cap_miss_returns_none(self, spark, lines_dups):
        # duplicate full lines: no L succeeds; reference would report the cap
        assert find_min_unique_prefix(spark, lines_dups, max_len=3) is None

    def test_custom_parallelism(self, spark, lines_numbers69):
        assert find_min_unique_prefix(spark, lines_numbers69, mappers=5, reducers=4) == 2


class TestFrameworkContract:
    """The §3.3 guarantees: sorted adjacency, key co-location, M/R honored."""

    def test_reducer_sees_sorted_colocated_keys(self, spark):
        df = lines_df(spark, ["b", "a", "c", "a", "b", "a", "d"])
        job = MapReduceJob(mappers=3, reducers=2)
        job.set_mapper(lambda line: [(line, 1)])
        shuffled = job._shuffled(spark, df)
        assert shuffled.getNumPartitions() == 2
        parts = shuffled.glom().collect()
        seen_keys_per_part = []
        for part in parts:
            keys = [k for k, _ in part]
            assert keys == sorted(keys)  # sorted within partition
            seen_keys_per_part.append(set(keys))
        # equal keys never straddle partitions (O7 align_blocks contract)
        for i in range(len(seen_keys_per_part)):
            for j in range(i + 1, len(seen_keys_per_part)):
                assert not (seen_keys_per_part[i] & seen_keys_per_part[j])
        # range partitioning: global order across partitions too
        flat = [k for part in parts for k, _ in part]
        assert flat == sorted(flat)

    def test_mapper_sees_every_line_once(self, spark):
        values = [f"line{i}" for i in range(100)]
        job = MapReduceJob(mappers=7, reducers=3)
        job.set_mapper(lambda line: [(line, 1)])
        counts = job.run_counts(spark, lines_df(spark, values)).collect()
        assert len(counts) == 100
        assert all(r["count"] == 1 for r in counts)

    def test_flatmap_one_to_many(self, spark):
        # mapper is flatMap-shaped (O3): 1 line → N pairs
        job = MapReduceJob(mappers=2, reducers=2)
        job.set_mapper(lambda line: [(c, 1) for c in line])
        counts = {
            r["key"]: r["count"]
            for r in job.run_counts(spark, lines_df(spark, ["aab", "ba"])).collect()
        }
        assert counts == {"a": 3, "b": 2}

    @pytest.mark.parametrize("kind", ["dataframe", "path"])
    def test_empty_input_gives_r_partitions(self, spark, tmp_path, kind):
        source = lines_source(spark, tmp_path, kind, [])
        job = MapReduceJob(mappers=3, reducers=2)
        job.set_mapper(lambda line: [(line, 1)])
        job.set_reducer(make_adjacent_dup_reducer())
        assert job._shuffled(spark, source).getNumPartitions() == 2
        out = tmp_path / "out"
        result = job.run(spark, source, str(out))
        assert result.ok and result.reducer_votes == [True, True]
        votes = sorted(p.name for p in (out / "reducer").glob("reduce.*.txt"))
        assert votes == ["reduce.0.txt", "reduce.1.txt"]

    def test_path_source_matches_read_text(self, spark, tmp_path):
        # CRLF endings, a non-ASCII line and an empty line must reach the
        # mapper exactly as spark.read.text delivers them
        path = tmp_path / "crlf.txt"
        path.write_bytes("alpha\r\nbeta\r\n\r\ndéjà-vu\r\nalphabet\r\n".encode())
        job = MapReduceJob(mappers=3, reducers=2)
        job.set_mapper(lambda line: [(line[:5], 1)])
        job.set_reducer(make_adjacent_dup_reducer())

        def counts(source):
            return sorted(tuple(r) for r in job.run_counts(spark, source).collect())

        df = spark.read.text(str(path))
        assert counts(str(path)) == counts(df) == [
            ("", 1), ("alpha", 2), ("beta", 1), ("déjà-", 1)
        ]
        assert job.run(spark, str(path)).ok is job.run(spark, df).ok is False
        job.set_mapper(lambda line: [(line, 1)])
        assert job.run(spark, str(path)).ok is job.run(spark, df).ok is True

    def test_unset_functions_raise(self, spark, lines_trivial):
        job = MapReduceJob()
        with pytest.raises(RuntimeError):
            job.run(spark, lines_trivial)
        job.set_mapper(lambda line: [(line, 1)])
        with pytest.raises(RuntimeError):
            job.run(spark, lines_trivial)

    def test_bad_parallelism_rejected(self):
        with pytest.raises(ValueError):
            MapReduceJob(mappers=0)
        with pytest.raises(ValueError):
            MapReduceJob(reducers=0)


class TestSingleMapPass:
    """The mapper runs once per input line on the executors (the reference
    maps each line once, runner.cpp:14-29); its driver-side calls only
    pick the reducers' range bounds."""

    @pytest.mark.parametrize("kind", ["dataframe", "path"])
    @pytest.mark.parametrize("combine", [False, True])
    @pytest.mark.parametrize("reducers", [1, 2, 3])
    def test_one_executor_call_per_line(self, spark, tmp_path, kind, combine, reducers):
        values = [f"{i:04d}" for i in range(300)]
        calls = spark.sparkContext.accumulator(0)

        def mapper(line):
            if TaskContext.get() is not None:
                calls.add(1)
            return [(line[:3], 1)]

        job = MapReduceJob(mappers=3, reducers=reducers)
        job.set_mapper(mapper)
        job.set_reducer(make_adjacent_dup_reducer())
        if combine:
            job.set_combiner()
        assert job.run(spark, lines_source(spark, tmp_path, kind, values)).ok is False
        assert calls.value == len(values)


class TestLectureTasks:
    """description/MapReduce.cpp tasks expressed on the generic API
    (SURVEY.md §2.1), FIXTURES.md §C expected values."""

    def test_sum_of_squares(self, spark):
        job = MapReduceJob(mappers=3, reducers=1)
        job.set_mapper(lambda line: [("sum", int(line) ** 2)])
        rows = job.run_counts(spark, lines_df(spark, INTS_SQUARES)).collect()
        assert rows[0]["key"] == "sum" and rows[0]["count"] == 438

    def test_unique_by_abs(self, spark):
        job = MapReduceJob(mappers=3, reducers=2)
        job.set_mapper(lambda line: [(str(abs(int(line))), 1)])
        rows = job.run_counts(spark, lines_df(spark, INTS_ABS)).collect()
        assert len(rows) == 7

    def test_word_count(self, spark):
        text = "the quick brown fox jumps over the lazy dog the end"
        job = MapReduceJob(mappers=2, reducers=2)
        job.set_mapper(
            lambda line: [(w, 1) for w in line.lower().split() if w.isalpha()]
        )
        counts = {
            r["key"]: r["count"]
            for r in job.run_counts(spark, lines_df(spark, [text])).collect()
        }
        assert counts["the"] == 3
        assert counts["fox"] == 1

    def test_stateful_vote_reducer(self, spark):
        # count>1 branch of the client reducer (dead in the reference,
        # SURVEY.md §2.3.3 — live here because run_counts can pre-combine)
        df = lines_df(spark, ["x", "y", "z"])
        job = MapReduceJob(mappers=2, reducers=2)
        job.set_mapper(lambda line: [(line, 2)])  # emit count=2 directly
        job.set_reducer(make_adjacent_dup_reducer())
        assert job.run(spark, df).ok is False  # every pair has count>1

    def test_prefix_mapper_factory(self):
        assert make_prefix_mapper(2)("hello") == [("he", 1)]
        assert make_prefix_mapper(9)("abc") == [("abc", 1)]


class TestCombiner:
    """The combine phase the reference spec reserves room for
    (description/homework/client.cpp:39-44): map-side merge of equal keys
    makes the reducer's count>1 branch live."""

    def test_combiner_activates_count_branch(self, spark):
        # 'aa' and 'ab' share prefix 'a' and land in ONE mapper partition,
        # so the combiner emits ('a', 2) and the dup verdict comes from
        # count>1, not sorted adjacency
        df = spark.createDataFrame([("aa",), ("ab",), ("zz",)], ["value"])
        job = MapReduceJob(mappers=1, reducers=1)
        job.set_mapper(make_prefix_mapper(1))
        job.set_combiner()
        job.set_reducer(make_adjacent_dup_reducer())
        assert job.run(spark, df).ok is False

    def test_combined_verdict_matches_uncombined(self, spark, lines_numbers69):
        for length, want in ((1, False), (2, True)):
            plain = MapReduceJob(mappers=3, reducers=2)
            plain.set_mapper(make_prefix_mapper(length))
            plain.set_reducer(make_adjacent_dup_reducer())
            combined = MapReduceJob(mappers=3, reducers=2)
            combined.set_mapper(make_prefix_mapper(length))
            combined.set_combiner()
            combined.set_reducer(make_adjacent_dup_reducer())
            assert plain.run(spark, lines_numbers69).ok is want
            assert combined.run(spark, lines_numbers69).ok is want
