"""Reference answers: the exact prefix answer on small fixtures (checked
against the engine too), and the type-tagged result summaries."""

import pandas as pd
import pytest

import verify

FIXTURES = [
    (["ab", "ac", "b"], 2),
    (["a"], 1),
    (["same", "same", "other"], None),  # duplicate full lines: no answer
    (["", "a"], 1),
    (["abc", "abcd"], 4),
    # above the reference's hard L < 4 cap
    (["mailbox1@example.com", "mailbox2@example.com", "other@example.com"], 8),
    (["x" * 30 + "a", "x" * 30 + "b", "y"], 31),
]


@pytest.mark.parametrize("lines, want", FIXTURES)
def test_prefix_answer(lines, want):
    assert verify.prefix_answer(lines) == want


def test_prefix_answer_agrees_with_engine():
    from otus_cpp_11_spark import get_spark
    from otus_cpp_11_spark.prefix import (
        min_unique_prefix_length,
        min_unique_prefix_length_single_pass,
    )

    spark = get_spark(app_name="perfbench-tests", extra_conf={"spark.ui.showConsoleProgress": "false"})
    for lines, want in FIXTURES:
        df = spark.createDataFrame([(x,) for x in lines], "value string")
        assert min_unique_prefix_length(spark, df) == want, lines
        assert min_unique_prefix_length_single_pass(df).first()[0] == want, lines


def test_distinct_prefixes():
    assert verify.distinct_prefixes(["abc", "abd", "b"], 2) == 2


def test_summary_is_order_insensitive_and_type_tagged():
    a = verify.pandas_summary(pd.DataFrame({"k": [1, 2], "v": ["x", "y"]}))
    b = verify.pandas_summary(pd.DataFrame({"v": ["y", "x"], "k": [2, 1]}))
    c = verify.pandas_summary(pd.DataFrame({"k": [1.0, 2.0], "v": ["x", "y"]}))
    assert a == b
    assert verify.mismatch(a, b) is None
    assert verify.mismatch(c, a) == "values differ"
    assert verify.mismatch({**a, "rows": 3}, a) == "rows 3 != 2"


def test_answer_cache_round_trip(tmp_path):
    path = str(tmp_path / "answers" / "x.json")
    cache = verify.AnswerCache(path)
    calls = []
    assert cache.get("k", lambda: calls.append(1) or 5) == 5
    assert cache.get("k", lambda: calls.append(1) or 6) == 5
    cache.save()
    assert verify.AnswerCache(path).get("k", lambda: 7) == 5
    assert calls == [1]
