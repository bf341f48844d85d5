"""CLI parity test: the golden e2e of the reference binary
(`Result = 2` on its bundled test.txt fixture, SURVEY.md §2.3.7) through
our argparse surface, including the per-iteration output layout
(iter{L}/result.txt with 0/1, mirroring src/runner.cpp:65)."""

from __future__ import annotations

import pytest
from conftest import NUMBERS69

from otus_cpp_11_spark.cli import build_parser, main

# minimal unique prefix 6 with a 16-character longest line: the search
# brackets it between 4 and 8 and resolves 5..7 in its second round
DEEP6 = ["abcde1xxxxxxxxxx", "abcde2", "b", "c"]


@pytest.fixture(autouse=True)
def _restore_shuffle_partitions(spark):
    """cli.main builds its session with shuffle_partitions = R (the
    reference's reducer count); under getOrCreate that retunes the SHARED
    test session, and R=2 would leak into every later test (it broke the
    skew-split plan test: with 2 partitions the skew detector's median IS
    the hot partition). Snapshot and restore."""
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", prior)


def test_parser_defaults_mirror_reference():
    args = build_parser().parse_args(["-i", "x.txt"])
    # reference CLI defaults m=3, r=2 (src/main.cpp:49)
    assert (args.mappers, args.reducers, args.debug) == (3, 2, False)


def test_cli_golden_result_and_iter_layout(spark, tmp_path, capsys):
    out = tmp_path / "out"
    rc = main(["-i", "/root/reference/test.txt", "--out", str(out)])
    assert rc == 0
    assert "Result = 2" in capsys.readouterr().out
    assert (out / "iter1" / "result.txt").read_text() == "0\n"
    assert (out / "iter2" / "result.txt").read_text() == "1\n"


def test_cli_duplicate_lines_exit_code(spark, tmp_path, capsys):
    f = tmp_path / "dups.txt"
    f.write_text("same\nsame\nother\n")
    rc = main(["-i", str(f)])
    assert rc == 1
    assert "not found" in capsys.readouterr().out


@pytest.mark.parametrize(
    "lines, answer",
    [(NUMBERS69, 2), (DEEP6, 6)],
    ids=["numbers69", "deep6"],
)
def test_cli_iter_layout_from_written_fixture(spark, tmp_path, capsys, lines, answer):
    """The golden layout without the reference's own test.txt: the fixture
    is written to a temp file, and iter1..answer-1 read 0, iter{answer}
    reads 1, with no file past the answer."""
    f = tmp_path / "lines.txt"
    f.write_text("\n".join(lines) + "\n")
    out = tmp_path / "out"
    assert main(["-i", str(f), "--out", str(out)]) == 0
    assert f"Result = {answer}" in capsys.readouterr().out
    want = {f"iter{n}": "0\n" for n in range(1, answer)}
    want[f"iter{answer}"] = "1\n"
    assert {p.parent.name: p.read_text() for p in out.glob("iter*/result.txt")} == want


def test_parser_rejects_negative_max_len(capsys):
    with pytest.raises(SystemExit):
        build_parser().parse_args(["-i", "x.txt", "--max-len", "-1"])
    assert "--max-len" in capsys.readouterr().err
    assert build_parser().parse_args(["-i", "x.txt", "--max-len", "0"]).max_len == 0
