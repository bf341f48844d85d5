"""The traced half of a ``--trace 1`` run and the per-layer metrics it
yields. Each metric is a per-pass mean over the traced passes unless its
name says otherwise (``*_share``, ``*_skew``, ``passes_per_answer`` are
ratios; ``trace.overhead_s`` is traced minus untraced median pass time).
"""

from __future__ import annotations

import statistics

import tracing as tr
from workloads import WORKLOADS

# every query module any workload draws from, so each run prints the same
# set of per-module metrics (0 where its workload has none of them)
QUERY_MODULES = sorted({
    op.layer.split(".", 1)[1]
    for w in WORKLOADS.values()
    for op in w.ops
    if op.layer.startswith("queries.")
})
MB = 1e6


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _ancestors(span: dict, by_id: dict) -> list[dict]:
    out = []
    while span["parent"] is not None:
        span = by_id[span["parent"]]
        out.append(span)
    return out


def traced_half(h, args, untraced: list[dict], record: dict) -> dict:
    """Restart the session with the event log on, run the traced passes,
    stop the session and roll everything up. ``h`` is the run's Harness;
    the untraced passes it already ran give ``trace.overhead_s``."""
    h.stop()
    h.start(trace=True)
    tracer = tr.Tracer(h.spark.sparkContext, h.wl.name)
    progress: list[dict] = []
    listener = tr.streaming_listener(progress)
    h.spark.streams.addListener(listener)
    tracer.install()
    h.tracer = tracer
    try:
        passes = h.timed_passes(args.seconds / 2, len(untraced) + 1, h.min_passes)
    finally:
        tracer.uninstall()
        h.tracer = None
    h.spark.streams.removeListener(listener)
    h.stop(final=True)  # flushes and closes the event log
    jobs, tasks = tr.read_event_log(str(h.run_dir / "eventlog"))
    record.update({
        "traced_passes": passes,
        "spans": tracer.spans,
        "streaming_progress": progress,
    })
    return rollup(h, passes, untraced, tracer.spans, jobs, tasks, progress)


def rollup(h, passes, untraced, spans, jobs, tasks, progress) -> dict:
    n = len(passes)
    by_id = {s["id"]: s for s in spans}
    ops = [s for s in spans if s["parent"] is None]
    op_of = {s["id"]: (_ancestors(s, by_id) or [s])[-1] for s in spans}

    def spans_named(name: str, outermost: bool = True) -> list[dict]:
        found = [s for s in spans if s["name"] == name]
        if outermost:
            found = [s for s in found if all(a["name"] != name for a in _ancestors(s, by_id))]
        return found

    def op_time(name: str) -> float:
        return sum(_dur(s) for s in ops if s["name"] == name) / n

    # jobs -> group path (workload:op[:phase[:layer...]])
    group_of = {}
    for j in jobs:
        g = j["group"]
        if not (g and g.startswith(h.wl.name + ":")):
            inside = [s for s in spans if s["start"] <= j["submitted"] <= s["end"]]
            g = max(inside, key=lambda s: s["start"])["group"] if inside else None
        if g:
            group_of[j["id"]] = g.split(":")
    traced_tasks = [t for t in tasks if t["job"] in group_of]

    def jobs_where(pred) -> list[int]:
        return [j for j, parts in group_of.items() if pred(parts)]

    def tasks_of(job_ids) -> list[dict]:
        ids = set(job_ids)
        return [t for t in traced_tasks if t["job"] in ids]

    layer_of_op = {op.name: op.layer for op in h.wl.ops}
    is_query = lambda parts: layer_of_op.get(parts[1], "").startswith("queries.")  # noqa: E731
    pass_s = statistics.median(p["wall_s"] for p in passes)
    untraced_s = statistics.median(p["wall_s"] for p in untraced)

    m: dict[str, tuple[float, str]] = {}
    load = spans_named("catalog.load_table")
    m["catalog.load_table.calls"] = (len(load) / n, "count")
    m["catalog.load_table_s"] = (sum(map(_dur, load)) / n, "s")
    m["catalog.load_table.jobs"] = (
        len(jobs_where(lambda p: "catalog.load_table" in p[3:])) / n, "count")
    spread = spans_named("catalog.spread")
    m["catalog.spread.calls"] = (len(spread) / n, "count")
    m["catalog.spread.shuffles"] = (sum(bool(s.get("shuffled")) for s in spread) / n, "count")

    build = [s for s in spans if s["name"] == "build" and s["parent"] is not None]
    m["queries.build_s"] = (sum(map(_dur, build)) / n, "s")
    m["queries.build_jobs"] = (
        len(jobs_where(lambda p: len(p) > 2 and p[2] == "build" and is_query(p))) / n, "count")
    m["queries.build_share"] = (m["queries.build_s"][0] / pass_s, "ratio")
    for mod in QUERY_MODULES:
        m[f"queries.{mod}.s"] = (
            sum(_dur(s) for s in ops if s.get("layer") == f"queries.{mod}") / n, "s")

    plan = [s for s in spans if s["name"] == "plan"]
    execs = [s for s in spans if s["name"] == "exec" and s["parent"] is not None]
    exec_jobs = jobs_where(lambda p: len(p) > 2 and p[2] == "exec")
    m["spark.plan_s"] = (sum(map(_dur, plan)) / n, "s")
    m["spark.exec_s"] = (sum(map(_dur, execs)) / n, "s")
    m["spark.exec_jobs"] = (len(exec_jobs) / n, "count")
    stages = {t["stage"] for t in traced_tasks}
    cpu = sum(t["cpu_s"] for t in traced_tasks)
    m["spark.stages"] = (len(stages) / n, "count")
    m["spark.tasks"] = (len(traced_tasks) / n, "count")
    m["spark.task_cpu_s"] = (cpu / n, "s")
    m["spark.task_run_s"] = (sum(t["run_s"] for t in traced_tasks) / n, "s")
    m["spark.task_gc_s"] = (sum(t["gc_s"] for t in traced_tasks) / n, "s")
    m["spark.task_wait_s"] = (sum(t["wait_s"] for t in traced_tasks) / n, "s")
    m["spark.cpu_busy_share"] = (cpu / (sum(p["wall_s"] for p in passes) * h.cores), "ratio")
    m["spark.task_skew"] = (tr.skew(traced_tasks), "ratio")
    m["spark.tasks_failed"] = (sum(t["failed"] for t in traced_tasks) / n, "count")
    for name, key in (
        ("shuffle_write_mb", "shuffle_write"), ("shuffle_read_mb", "shuffle_read"),
        ("spill_mb", "spill"), ("input_mb", "input"), ("output_mb", "output"),
        ("python_sent_mb", "py_sent"), ("python_recv_mb", "py_recv"),
    ):
        m[f"spark.{name}"] = (sum(t[key] for t in traced_tasks) / MB / n, "MB")

    iterative = [s for s in ops if s["name"] == "prefix_iterative"]
    dup_checks = [s for s in spans_named("prefix.has_duplicate_prefix")
                  if op_of[s["id"]]["name"] == "prefix_iterative"]
    m["prefix.iterative_s"] = (op_time("prefix_iterative"), "s")
    m["prefix.single_pass_s"] = (op_time("prefix_single_pass"), "s")
    m["prefix.passes"] = (len(dup_checks) / n, "count")
    answer = h.answers.get("prefix") or 0
    m["prefix.passes_per_answer"] = (
        len(dup_checks) / len(iterative) / answer if iterative and answer else 0.0, "ratio")
    m["mapreduce.run_s"] = (op_time("mapreduce_run"), "s")
    m["mapreduce.run_counts_s"] = (op_time("mapreduce_run_counts"), "s")
    mr_jobs = jobs_where(lambda p: layer_of_op.get(p[1]) == "mapreduce")
    m["mapreduce.shuffle_mb"] = (
        sum(t["shuffle_write"] for t in tasks_of(mr_jobs)) / MB / n, "MB")

    commits = spans_named("versioned.commit")
    m["versioned.commits"] = (len(commits) / n, "count")
    m["versioned.commit_s"] = (sum(map(_dur, commits)) / n, "s")
    m["versioned.conflicts"] = (
        sum(s.get("error") == "CommitConflict" for s in spans_named("versioned.commit", False)) / n,
        "count")
    m["versioned.files_written"] = (sum(p["files_written"] for p in passes) / n, "count")

    last_state: dict[str, int] = {}
    for p in progress:
        last_state[p["run_id"]] = p["state_rows"]
    m["streaming.run_available_now_s"] = (sum(p["trigger_ms"] for p in progress) / 1e3 / n, "s")
    m["streaming.batches"] = (len(progress) / n, "count")
    m["streaming.input_rows"] = (sum(p["input_rows"] for p in progress) / n, "count")
    m["streaming.state_rows"] = (sum(last_state.values()) / n, "count")
    m["trace.overhead_s"] = (pass_s - untraced_s, "s")
    return m

