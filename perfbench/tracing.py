"""Tracing for the benchmark's traced run.

Three sources, all collected from the benchmark's side of the package
boundary (nothing inside the package is changed):

* spans: the harness opens a span around every operation, each of its
  phases (``build`` = the query function, ``plan`` =
  ``queryExecution().executedPlan()``, ``exec`` = materialization), and
  every call into a layer's public function (:data:`LAYER_FUNCTIONS`).
  Each span sets the Spark job group to ``<workload>:<op>:<phase>[:<layer>]``
  so every job it launches can be attributed. Spans stay in memory and are
  written out with the run record.
* the Spark event log (uncompressed: ``zstandard`` is not available to
  read the default codec), rolled up per job group: jobs, stages, tasks,
  task CPU/run/GC/scheduler-delay time, shuffle, spill, input/output and
  Python-worker bytes.
* a ``StreamingQueryListener`` that keeps every progress event.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

# module -> public functions wrapped in a span while tracing
LAYER_FUNCTIONS = {
    "otus_cpp_11_spark.catalog": ("load_table", "spread"),
    "otus_cpp_11_spark.prefix": ("has_duplicate_prefix",),
    "otus_cpp_11_spark.streaming": ("run_available_now",),
}
VERSIONED_MODULE = "otus_cpp_11_spark.ops.versioned"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


class Tracer:
    """In-memory spans plus the job-group tagging that ties Spark jobs to
    them. ``sc`` is the SparkContext whose jobs are tagged."""

    def __init__(self, sc, workload: str):
        self.sc = sc
        self.workload = workload
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        if group is None:
            group = f"{parent['group']}:{name}" if parent else f"{self.workload}:{name}"
        rec = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "name": name,
            "group": group,
            "start": time.time(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            yield rec
        except BaseException as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", self._stack[-1]["group"] if self._stack else None
            )

    def _wrap(self, layer: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(layer) as rec:
                out = fn(*args, **kwargs)
                if layer == "catalog.spread":
                    rec["shuffled"] = out is not (args[0] if args else kwargs["df"])
                return out

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        """Wrap every layer function, in every package module that bound
        it by name, so calls through any import path open a span."""
        targets = {}
        for mod_name, names in LAYER_FUNCTIONS.items():
            mod = importlib.import_module(mod_name)
            short = mod_name.rsplit(".", 1)[-1]
            for n in names:
                targets[id(getattr(mod, n))] = (getattr(mod, n), f"{short}.{n}")
        versioned = importlib.import_module(VERSIONED_MODULE)
        for n, fn in vars(versioned).items():
            if n.startswith("commit_") and callable(fn):
                targets[id(fn)] = (fn, "versioned.commit")
        wrapped = {k: self._wrap(layer, fn) for k, (fn, layer) in targets.items()}
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("otus_cpp_11_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in targets and val is targets[id(val)][0]:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, wrapped[id(val)])

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._patched):
            setattr(mod, attr, val)
        self._patched.clear()


def streaming_listener(progress: list):
    """A StreamingQueryListener that appends each progress event's numbers
    to ``progress``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            progress.append({
                "name": p.name,
                "run_id": str(p.runId),
                "batch": p.batchId,
                "input_rows": p.numInputRows,
                "trigger_ms": (p.durationMs or {}).get("triggerExecution", 0),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


def _task_row(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    info = ev["Task Info"]
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    run_ms = m.get("Executor Run Time", 0)
    busy_ms = run_ms + m.get("Executor Deserialize Time", 0) + m.get("Result Serialization Time", 0)
    acc = {a.get("Name"): a.get("Update", 0) for a in info.get("Accumulables", [])}
    return {
        "stage": ev["Stage ID"],
        "failed": bool(info.get("Failed")),
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "run_s": run_ms / 1e3,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "wait_s": max(duration - busy_ms, 0) / 1e3,
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "output": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
        "py_sent": int(acc.get(PY_SENT, 0) or 0),
        "py_recv": int(acc.get(PY_RECV, 0) or 0),
    }


def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """(jobs, tasks) from the one application's event log under ``log_dir``.
    A job is ``{id, group, submitted (epoch s), stages}``; a task carries
    its job id."""
    # Spark 4 writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>
    paths = sorted(
        glob.glob(os.path.join(log_dir, "*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "id": jid,
                        "group": props.get("spark.jobGroup.id"),
                        "submitted": ev.get("Submission Time", 0) / 1e3,
                        "stages": list(ev.get("Stage IDs", [])),
                    }
                    for s in ev.get("Stage IDs", []):
                        stage_job[s] = jid
                elif kind == "SparkListenerTaskEnd":
                    row = _task_row(ev)
                    row["job"] = stage_job.get(row["stage"])
                    tasks.append(row)
    return list(jobs.values()), tasks


def skew(tasks: list[dict]) -> float:
    """Median over stages of (max task run time / median task run time),
    over stages with at least two tasks and nonzero median."""
    per_stage = defaultdict(list)
    for t in tasks:
        per_stage[t["stage"]].append(t["run_s"])
    ratios = []
    for runs in per_stage.values():
        med = statistics.median(runs) if len(runs) > 1 else 0
        if med > 0:
            ratios.append(max(runs) / med)
    return statistics.median(ratios) if ratios else 1.0
