"""CLI mirroring the reference binary's surface (src/main.cpp:19-56):
``-i/--input`` file, ``-m/--mappers`` M, ``-r/--reducers`` R (defaults 3/2,
src/main.cpp:49), ``-d/--debug`` verbosity — running the flagship
minimal-unique-prefix search (src/main.cpp:59-99) and printing
``Result = L`` exactly like the reference.

M/R map to their Spark equivalents (SURVEY.md §1.4): M = input partitions,
R = shuffle partitions. ``--out`` optionally writes per-iteration
``iter{L}/result.txt`` files (0/1) mirroring the reference's output layout
(src/runner.cpp:65), plus the final answer.

Usage: ``python -m otus_cpp_11_spark.cli -i test.txt -m 3 -r 2``
"""

from __future__ import annotations

import argparse
import logging
import sys
from pathlib import Path


def _non_negative_int(text: str) -> int:
    value = int(text)
    if value < 0:
        raise argparse.ArgumentTypeError(f"must be >= 0, got {value}")
    return value


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="otus-cpp-11-spark",
        description="Minimal unique prefix length over a line file (MapReduce flagship).",
    )
    p.add_argument("-i", "--input", required=True, help="input text file")
    p.add_argument("-m", "--mappers", type=int, default=3, help="map parallelism (default 3)")
    p.add_argument("-r", "--reducers", type=int, default=2, help="reduce parallelism (default 2)")
    p.add_argument("-d", "--debug", action="store_true", help="debug logging")
    p.add_argument("--out", default=None, help="optional output dir for iter{L}/result.txt files")
    p.add_argument(
        "--max-len",
        type=_non_negative_int,
        default=None,
        help="search cap (reference hard-codes 3, src/main.cpp:61; default: longest line)",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    logging.basicConfig(
        level=logging.DEBUG if args.debug else logging.INFO,
        format="%(levelname)s %(name)s: %(message)s",
    )
    log = logging.getLogger("otus_cpp_11_spark.cli")

    from otus_cpp_11_spark.prefix import min_unique_prefix_length
    from otus_cpp_11_spark.session import get_spark

    spark = get_spark(app_name="prefix-cli", shuffle_partitions=args.reducers)
    if not args.debug:
        spark.sparkContext.setLogLevel("ERROR")
    lines = spark.read.text(args.input).repartition(args.mappers)
    log.debug("input=%s mappers=%d reducers=%d", args.input, args.mappers, args.reducers)

    if args.out:
        outdir = Path(args.out)

        def _on_iter(length: int, unique: bool) -> None:
            d = outdir / f"iter{length}"
            d.mkdir(parents=True, exist_ok=True)
            (d / "result.txt").write_text(f"{int(unique)}\n")

        result = min_unique_prefix_length(
            spark, lines, max_len=args.max_len, on_iteration=_on_iter
        )
    else:
        result = min_unique_prefix_length(spark, lines, max_len=args.max_len)

    if result is None:
        print("Result = not found (duplicate lines)")
        return 1
    print(f"Result = {result}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
