#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload prefix_lines --seed 1 --seconds 15 --trace 0

Generates the workload's inputs from ``--seed``, brings the engine up
through ``session.get_spark`` in ``local[N]`` (N = min(4, nproc)), and
drives the workload's operations as a closed loop with one client: one
warm pass that collects and verifies every result, then timed passes
through Spark's ``noop`` sink until ``--seconds`` of passes have been
measured. Every operation attempted is recorded with its outcome; one that
raises or returns a wrong answer counts as failed and the run goes on.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs half the
time untraced, restarts the session with the event log and streaming
listener on, runs the other half traced, and prints the per-layer
metrics. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
Everything the run writes stays under ``.perfbench/`` in the checkout; the
full run record (inputs, versions, calibration, every attempt, spans) is
written to ``.perfbench/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from pathlib import Path

import gen
import layers
import verify
import workloads

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
MAX_CORES = 4
# bench.py's fixed calibration kernel: a 30M-row JVM-side aggregate, no
# I/O, no Python rows. Its time moves with the machine, not the engine.
CALIBRATION_ROWS = 30_000_000
UNITS = {"peak_rss_mb": "MB", "write_mb": "MB", "failed_frac": "ratio"}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def tree_usage(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    size = parquet = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            parquet += f.endswith(".parquet")
            try:
                size += os.lstat(os.path.join(dirpath, f)).st_size
            except FileNotFoundError:
                pass  # removed while walking
    return size, parquet


class Harness:
    """One run's session, reference answers, passes and attempt log."""

    def __init__(self, args, run_dir: Path):
        self.args = args
        # timed passes per measured part, however short --seconds is. A
        # traced run measures two halves and its per-layer numbers carry
        # no bound, so one pass each keeps it within the run budget.
        self.min_passes = 1 if args.trace else 2
        self.wl = workloads.WORKLOADS[args.workload]
        self.run_dir = run_dir
        self.tmp = run_dir / "tmp"
        self.data_dir = str(run_dir / "data")
        self.cores = min(MAX_CORES, os.cpu_count() or 1)
        self.attempts: list[dict] = []
        self.spark = None
        self.tracer = None
        self.answers: dict = {}

    # -- session ---------------------------------------------------------

    def conf(self, trace: bool) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(self.run_dir / "warehouse"),
            # -XX:-UsePerfData: the JVM would otherwise write
            # /tmp/hsperfdata_<user>/<pid>, outside the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
        }
        if trace:
            log_dir = self.run_dir / "eventlog"
            log_dir.mkdir(exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": f"file://{log_dir}",
            })
        return conf

    def start(self, trace: bool) -> float:
        """Bring the session up; returns get_spark's own time. The caller
        times the whole set-up around this."""
        from otus_cpp_11_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=self.conf(trace))
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return dt

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def stop(self, final: bool = False) -> None:
        """Stop the session; ``final`` also ends the JVM. Idempotent."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        proc = getattr(SparkContext._gateway, "proc", None) if final else None
        self.spark.stop()
        self.spark = None
        if proc is not None:
            # the JVM exits when its stdin closes; wait for it (and the
            # Python workers it forked) before the harness reports
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def cleanup(self) -> None:
        """Untimed reset between passes: release the package's retained
        caches and any persisted RDDs, then collect the JVM heap, so each
        pass starts from the same heap state. Without the GC, ten
        prefix_lines runs spread 0.115 (pass_s) and 0.134 (peak_rss_mb)
        around their medians, against 0.044 and 0.03 in five runs with it."""
        from otus_cpp_11_spark.queries.bpe import release_bpe_caches
        from otus_cpp_11_spark.queries.dedup import release_dedup_caches

        release_dedup_caches()
        release_bpe_caches()
        for rdd in list(self.spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        self.spark._jvm.System.gc()

    def calibrate(self, warm: int) -> float:
        from pyspark.sql import functions as F

        def kernel():
            self.spark.range(CALIBRATION_ROWS).select(
                F.sum(F.col("id") * 2 + 1).alias("s")
            ).write.format("noop").mode("overwrite").save()

        for _ in range(warm):
            kernel()
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            kernel()
            best = min(best, time.perf_counter() - t0)
        return best

    # -- references ------------------------------------------------------

    def references(self, inputs_digest: str):
        """Reference answers, computed untimed and cached per workload,
        seed and digest of the generated input bytes (so a generator or
        size change never reuses a stale answer). The prefix answers are
        computed here. DuckDB oracle answers are computed in a thread that
        overlaps the untimed warm pass; the returned ``join`` waits for it
        and re-raises what it raised."""
        from otus_cpp_11_spark.registry import all_queries

        cache = verify.AnswerCache(
            str(WORK / "answers" / f"{self.wl.name}-{self.args.seed}-{inputs_digest}.json")
        )
        self.answers = cache.answers
        if self.wl is workloads.PREFIX_LINES:
            lines = workloads.read_lines(self.data_dir)
            length = cache.get("prefix", lambda: verify.prefix_answer(lines))
            cache.get("mapreduce_run_counts", lambda: [
                verify.distinct_prefixes(lines, length), len(lines), 1])
            cache.save()
            return lambda: None
        queries = all_queries()
        missing = []
        for op in self.wl.ops:
            oracle = queries[op.name].oracle
            if oracle is None:
                raise ValueError(f"{op.name} has no oracle to verify against")
            if op.name not in cache.answers:
                missing.append((op.name, oracle))
        errors: list[BaseException] = []

        def compute():
            try:
                con = verify.duckdb_catalog(self.data_dir, gen.TABLES)
                try:
                    for name, sql in missing:
                        cache.get(name, lambda: verify.oracle_summary(con, sql))
                finally:
                    con.close()
                cache.save()
            except BaseException as e:
                errors.append(e)

        worker = threading.Thread(target=compute, name="oracle", daemon=True)
        worker.start()

        def join():
            worker.join()
            if errors:
                raise errors[0]

        return join

    def check(self, op, result, collect: bool):
        """None when ``result`` is right, else why not. DataFrame results
        are only collected (and checked) when ``collect``; otherwise they
        are materialized through the noop sink. A registry query's
        collected result is returned as its summary, to be compared with
        the oracle answer once that is ready (see :meth:`resolve`)."""
        from pyspark.sql import DataFrame, functions as F

        if isinstance(result, DataFrame) and not collect:
            result.write.format("noop").mode("overwrite").save()
            return None
        want = self.answers.get(op.name)
        if op.name == "prefix_iterative":
            got = result
            want = self.answers["prefix"]
        elif op.name == "prefix_single_pass":
            got = [r[0] for r in result.collect()]
            want = [self.answers["prefix"]]
        elif op.name == "mapreduce_run":
            got, want = result.ok, True
        elif op.name == "mapreduce_run_counts":
            row = result.agg(F.count("*"), F.sum("count"), F.max("count")).first()
            got = list(row)
        else:
            return verify.frame_summary(result)
        return None if got == want else f"got {got!r}, want {want!r}"

    def resolve(self) -> None:
        """Compare every collected summary with its reference answer."""

        for rec in self.attempts:
            summary = rec.pop("summary", None)
            if summary is not None:
                rec["error"] = verify.mismatch(summary, self.answers[rec["op"]])
                rec["ok"] = rec["error"] is None

    # -- passes ----------------------------------------------------------

    def attempt(self, pass_no: int, op, call, collect: bool) -> dict:
        rec = {"pass": pass_no, "op": op.name, "kind": op.kind, "ok": False}
        t0 = time.perf_counter()
        try:
            if self.tracer is None:
                verdict = self.check(op, call(), collect)
            else:
                verdict = self.traced_call(op, call, collect)
            if isinstance(verdict, dict):
                rec["summary"] = verdict
                verdict = None
            rec["error"] = verdict
            rec["ok"] = verdict is None
        except Exception as e:  # a failing operation is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {str(e).strip()[:300]}"
            rec["traceback"] = traceback.format_exc(limit=-8)
        rec["s"] = time.perf_counter() - t0
        self.attempts.append(rec)
        return rec

    def traced_call(self, op, call, collect: bool):
        from pyspark.sql import DataFrame

        wl = self.wl.name
        with self.tracer.span(op.name, group=f"{wl}:{op.name}", layer=op.layer, kind=op.kind):
            phase = "exec" if op.eager else "build"
            with self.tracer.span(phase, group=f"{wl}:{op.name}:{phase}"):
                result = call()
            if isinstance(result, DataFrame):
                with self.tracer.span("plan", group=f"{wl}:{op.name}:plan"):
                    result._jdf.queryExecution().executedPlan()
                with self.tracer.span("exec", group=f"{wl}:{op.name}:exec"):
                    return self.check(op, result, collect)
            return self.check(op, result, collect)

    def run_pass(self, pass_no: int, collect: bool) -> dict:

        bytes_before, files_before = tree_usage(str(self.tmp))
        t0 = time.perf_counter()
        ops = [
            self.attempt(pass_no, op, workloads.bind(op, self.spark, self.data_dir, self.answers), collect)
            for op in self.wl.ops
        ]
        wall = time.perf_counter() - t0
        bytes_after, files_after = tree_usage(str(self.tmp))
        return {
            "pass": pass_no,
            "wall_s": wall,
            "read_s": sum(r["s"] for r in ops if r["kind"] == "read"),
            "write_s": sum(r["s"] for r in ops if r["kind"] == "write"),
            "write_mb": max(bytes_after - bytes_before, 0) / 1e6,
            "files_written": files_after - files_before,
            "ops": {r["op"]: r["s"] for r in ops},
        }

    def timed_passes(self, seconds: float, first_no: int, min_passes: int,
                     calibration: dict | None = None) -> list[dict]:
        passes: list[dict] = []
        measured = 0.0
        while measured < seconds or len(passes) < min_passes:
            self.cleanup()
            if calibration is not None and "mid" not in calibration and measured >= seconds / 2:
                calibration["mid"] = self.calibrate(warm=0)
            p = self.run_pass(first_no + len(passes), collect=False)
            passes.append(p)
            measured += p["wall_s"]
        return passes


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def versions(spark) -> dict:
    import pyspark

    return {
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def run(args, run_dir: Path) -> tuple[dict, dict]:
    """One benchmark run; returns (metrics, record)."""
    h = Harness(args, run_dir)
    try:
        return _run(h, args)
    finally:
        h.stop(final=True)


def _run(h, args) -> tuple[dict, dict]:
    timeline = {"start": time.time()}
    inputs = workloads.generate(h.wl, args.size, args.seed, h.data_dir)
    timeline["generated"] = time.time()

    t0 = time.perf_counter()
    get_spark_s = h.start(trace=False)
    h.spark.range(1).count()
    from otus_cpp_11_spark.registry import all_queries

    all_queries()
    setup_s = time.perf_counter() - t0
    timeline["set_up"] = time.time()

    calibration = {"start": h.calibrate(warm=2)}
    join_references = h.references(inputs["digest"])
    warm = h.run_pass(0, collect=True)
    join_references()
    h.resolve()
    timeline["warmed"] = time.time()
    untraced_s = args.seconds / 2 if args.trace else args.seconds
    passes = h.timed_passes(untraced_s, 1, h.min_passes, calibration)
    calibration["end"] = h.calibrate(warm=0)
    peak_rss_mb = h.jvm_peak_rss_mb()
    timeline["measured"] = time.time()
    record = {
        "workload": h.wl.name,
        "seed": args.seed,
        "size": args.size,
        "inputs": inputs,
        "local": f"local[{h.cores}]",
        "nproc": os.cpu_count(),
        "versions": versions(h.spark),
        "calibration_s": calibration,
        "timeline": timeline,
        "ops": [{"name": o.name, "kind": o.kind, "layer": o.layer} for o in h.wl.ops],
        "warm_pass": warm,
        "passes": passes,
    }
    values = {
        "setup_s": setup_s,
        "pass_s": median(p["wall_s"] for p in passes),
        "read_s": median(p["read_s"] for p in passes),
        "write_s": median(p["write_s"] for p in passes),
        "peak_rss_mb": peak_rss_mb,
        "write_mb": median(p["write_mb"] for p in passes),
    }
    end_to_end = {k: (v, UNITS.get(k, "s")) for k, v in values.items()}
    metrics = dict(end_to_end)
    if args.trace:
        metrics = layers.traced_half(h, args, passes, record)
        metrics["session.get_spark_s"] = (get_spark_s, "s")
        for name in ("write_s", "write_mb"):
            metrics[name] = end_to_end[name]
    failed = sum(not a["ok"] for a in h.attempts)
    metrics["failed_frac"] = end_to_end["failed_frac"] = (failed / len(h.attempts), "ratio")
    record.update({
        "attempts": h.attempts,
        "end_to_end": {k: v for k, (v, _) in end_to_end.items()},
    })
    return metrics, record


def main(argv=None) -> int:
    args = parse_args(argv)
    run_dir = WORK / f"run-{os.getpid()}"
    for sub in ("tmp", "spark-local", "data"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    # everything the engine and its JVM write goes under the run dir:
    # session.scratch_dir lands in TMPDIR, so write_mb is measured there
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    os.environ["SPARK_GRAFT_CPUS"] = str(min(MAX_CORES, os.cpu_count() or 1))
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, str(ROOT))
    try:
        import otus_cpp_11_spark  # noqa: F401  (absent: not a checkout of the repo)

        metrics, record = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    printed = spec["per_layer" if args.trace else "end_to_end"]
    failed = sum(not a["ok"] for a in record["attempts"])
    result = {
        "correct": failed == 0,
        "attempted": len(record["attempts"]),
        "failed": failed,
        "metrics": {
            m["name"]: {"value": metrics[m["name"]][0], "unit": m["unit"]} for m in printed
        },
    }
    record["result"] = result
    rec_dir = WORK / "records"
    rec_dir.mkdir(parents=True, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    rec_path = rec_dir / f"{args.workload}-{args.size}-seed{args.seed}-trace{args.trace}-{stamp}.json"
    rec_path.write_text(json.dumps(record, indent=1, default=str))
    for a in record["attempts"]:
        if not a["ok"]:
            print(f"FAILED pass {a['pass']} {a['op']}: {a['error']}")
    print(f"workload {args.workload} seed {args.seed} record {rec_path}")
    # every metric measured, end-to-end ones included on a traced run
    every = {**{k: (v, UNITS.get(k, "s")) for k, v in record["end_to_end"].items()}, **metrics}
    for name, (value, unit) in sorted(every.items()):
        print(f"{name:36s} {value:14.6f} {unit}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
