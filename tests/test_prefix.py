"""Golden + adversarial tests for the flagship prefix query (SURVEY.md §5).

Golden: the reference's bundled fixture test.txt (69 three-digit numbers)
must yield minimal unique prefix length 2 — L=1 collides on shared first
digits, L=2 is unique (/root/reference/test.txt; expected behavior SURVEY.md
§2.3.7).
"""

from __future__ import annotations

import pytest
from conftest import NUMBERS69

from otus_cpp_11_spark import prefix
from otus_cpp_11_spark.prefix import (
    duplicate_prefix_lengths,
    has_duplicate_prefix,
    min_unique_prefix_length,
    min_unique_prefix_length_single_pass,
    prefix_counts,
)


def single_pass_answer(df):
    return min_unique_prefix_length_single_pass(df).first()["min_unique_prefix_len"]


class TestGoldenNumbers69:
    def test_iterative_answer_is_2(self, spark, lines_numbers69):
        assert min_unique_prefix_length(spark, lines_numbers69) == 2

    def test_single_pass_answer_is_2(self, lines_numbers69):
        assert single_pass_answer(lines_numbers69) == 2

    def test_l1_collides_l2_unique(self, lines_numbers69):
        # mirrors out/iter1/result.txt == 0, out/iter2/result.txt == 1
        assert has_duplicate_prefix(lines_numbers69, "value", 1)
        assert not has_duplicate_prefix(lines_numbers69, "value", 2)

    def test_prefix_counts_l1(self, lines_numbers69):
        rows = {r["prefix"]: r["cnt"] for r in prefix_counts(
            lines_numbers69, "value", 1).collect()}
        # first-digit histogram of test.txt: 1->9 (starts at 111), 4->9
        # (401 absent), 8->1 (only 801), others 10
        assert rows["1"] == 9
        assert rows["4"] == 9
        assert rows["8"] == 1
        assert sum(rows.values()) == 69


class TestAdversarial:
    def test_duplicate_full_lines_no_answer(self, spark, lines_dups):
        assert min_unique_prefix_length(spark, lines_dups) is None
        assert single_pass_answer(lines_dups) is None

    def test_trivial_first_char_distinct(self, spark, lines_trivial):
        assert min_unique_prefix_length(spark, lines_trivial) == 1
        assert single_pass_answer(lines_trivial) == 1

    def test_edge_lines(self, spark, lines_edge):
        # "", "a", "ab", "abc", "déjà-vu", "déjà-lu": at L=6 "déjà-v"/"déjà-l"
        # split; "ab" vs "abc" split at L=3; "" never equals non-empty; but
        # "a"/"ab"/"abc" collide until L where prefixes diverge: L=2 -> "a",
        # "ab","ab" collide; L=3 -> "a","ab","abc" distinct... yet "déjà-" pair
        # needs L=6. Empty line prefix is always "" (distinct from others).
        expected = 6
        assert min_unique_prefix_length(spark, lines_edge) == expected
        assert single_pass_answer(lines_edge) == expected

    def test_single_row(self, spark):
        df = spark.createDataFrame([("solo",)], ["value"])
        assert min_unique_prefix_length(spark, df) == 1
        assert single_pass_answer(df) == 1

    def test_reference_test_txt_directly(self, spark):
        """Read the actual reference fixture end-to-end via spark.read.text —
        the O1/O2 line-text source path (SURVEY.md §2 O1-O2)."""
        df = spark.read.text("/root/reference/test.txt")
        assert min_unique_prefix_length(spark, df) == 2


class TestBatchedSearch:
    def test_duplicate_prefix_lengths_batch(self, lines_numbers69):
        assert duplicate_prefix_lengths(lines_numbers69, "value", [1, 2], 3) == {1}

    def test_guard_marks_every_length(self, spark):
        # "ab" twice never reaches L=4 on its own; the guard at 5 catches it
        df = spark.createDataFrame([("ab",), ("ab",), ("xyz12",)], ["value"])
        assert duplicate_prefix_lengths(df, "value", [4], 5) == {4, 5}

    def test_length_above_guard_rejected(self, lines_numbers69):
        with pytest.raises(ValueError):
            duplicate_prefix_lengths(lines_numbers69, "value", [4], 3)

    def test_negative_max_len_rejected(self, spark):
        df = spark.createDataFrame([("solo",)], ["value"])
        with pytest.raises(ValueError):
            min_unique_prefix_length(spark, df, max_len=-1)

    @pytest.mark.parametrize(
        "lines, max_len, answer",
        [
            (["apple", "banana", "cherry"], None, 1),
            (NUMBERS69, None, 2),
            (["abc1zzzzzz", "abc2", "x"], None, 4),
            (["abcdefg1", "abcdefg2", "b"], None, 8),
            (["abcde1", "abcde2"], None, 6),
            (["abcde1", "abcde2", "q"], 6, 6),
            (["alpha", "alpha", "beta"], None, None),
            (["abcde1", "abcde2"], 3, None),
        ],
        ids=["one", "two", "pow2", "pow2-cap", "cap", "explicit-cap",
             "dup-lines", "cap-too-short"],
    )
    def test_at_most_two_rounds(self, spark, monkeypatch, lines, max_len, answer):
        calls = []

        def counted(df, col, lengths, max_len):
            calls.append((list(lengths), max_len))
            return duplicate_prefix_lengths(df, col, lengths, max_len)

        monkeypatch.setattr(prefix, "duplicate_prefix_lengths", counted)
        df = spark.createDataFrame([(v,) for v in lines], ["value"])
        replay = []
        got = min_unique_prefix_length(
            spark, df, max_len=max_len, on_iteration=lambda n, u: replay.append((n, u))
        )
        assert got == answer
        assert 1 <= len(calls) <= 2, calls
        want = [] if answer is None else [(n, n == answer) for n in range(1, answer + 1)]
        assert replay == want
