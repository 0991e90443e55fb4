"""The traced run: per-layer metrics of each timed pass.

Spans come from ``perfbench.spans``, stage and job counters from
``perfbench.statusstore`` and CPU and memory from ``perfbench.proctree``;
the process tree is also read around each operation, to split
Python-worker CPU by operation. Every metric is the mean over the traced passes, except
``session.start_s`` (once per run) and ``process.peak_rss_mb`` and
``process.java_procs`` (peaks over the traced passes).
``trace.overhead_ratio`` compares the traced passes with untraced passes
run in the same process just before and just after them.
"""

from __future__ import annotations

import statistics
import time

from perfbench.spans import Tracer, self_times
from perfbench.statusstore import StatusStore
from perfbench.workloads import LOAD_STEPS, WORKLOADS

# metric -> span layer whose self time it reports
SPAN_METRICS = {
    "queries.build_s": "queries.build",
    "queries.collect_s": "queries.collect",
    "plans.build_star_s": "plans.build_star",
    "plans.write_star_s": "plans.write_star",
    "graph.cc_s": "graph.cc",
    "dedup.guard_s": "dedup.guard",
}

# metric -> (tracer counter, scale, unit)
COUNT_METRICS = {
    "sources.output_mb": ("sources.output_bytes", 1e-6, "MB"),
    "graph.cc_calls": ("graph.cc.calls", 1, "count"),
    "graph.cc_rounds": ("graph.cc.rounds", 1, "count"),
    "dedup.guard_calls": ("dedup.guard.calls", 1, "count"),
    "cache.persists": ("cache.persists", 1, "count"),
    "streaming.batches": ("streaming.batches", 1, "count"),
    "streaming.batch_s": ("streaming.batch_s", 1, "s"),
}

ALL_OPS = sorted({op for ops in WORKLOADS.values() for op in ops})
QUERY_OPS = [op for op in ALL_OPS if op not in LOAD_STEPS]
PROCESS_CLASSES = ("driver", "jvm", "pyworker", "sidecar")


def metric_units() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit."""
    units = {"session.start_s": "s"}
    units.update({f"process.{c}_cpu_s": "s" for c in PROCESS_CLASSES})
    units.update({"process.peak_rss_mb": "MB", "process.java_procs": "count"})
    units.update({f"spark.{k}": "count" for k in ("jobs", "stages", "stages_in_group", "tasks")})
    units.update({"spark.exec_run_s": "s", "spark.exec_cpu_s": "s"})
    units.update({f"spark.{k}_mb": "MB" for k in ("input", "shuffle_write", "shuffle_read", "spill")})
    units.update(dict.fromkeys(SPAN_METRICS, "s"))
    units.update({f"queries.{op}_s": "s" for op in QUERY_OPS})
    units.update({f"process.pyworker_cpu_s.{op}": "s" for op in ALL_OPS})
    units.update({k: unit for k, (_c, _s, unit) in COUNT_METRICS.items()})
    units.update({
        "graph.cc_stages": "count",
        "dedup.guard_cached_ratio": "ratio",
        "trace.overhead_ratio": "ratio",
    })
    return units


def _pass_metrics(spans, counts, stages, jobs, window, ops, cpu0, cpu1, lat, op_py) -> dict:
    lo, hi = window
    m: dict[str, float] = {}
    for c in PROCESS_CLASSES:
        m[f"process.{c}_cpu_s"] = cpu1["cpu"][c] - cpu0["cpu"][c]
    for op in ALL_OPS:
        m[f"process.pyworker_cpu_s.{op}"] = op_py.get(op, 0.0)
    ran = [s for s in stages if s.status != "SKIPPED"]
    # by submission time: also catches jobs from a streaming query's thread
    timed = [s for s in ran if s.submitted_ms is not None and lo <= s.submitted_ms <= hi]
    m["spark.jobs"] = sum(1 for j in jobs if j.submitted_ms is not None and lo <= j.submitted_ms <= hi)
    m["spark.stages"] = len(timed)
    m["spark.stages_in_group"] = sum(1 for s in ran if s.group in ops)
    m["spark.tasks"] = sum(s.tasks for s in timed)
    m["spark.exec_run_s"] = sum(s.run_s for s in timed)
    m["spark.exec_cpu_s"] = sum(s.cpu_s for s in timed)
    m["spark.input_mb"] = sum(s.input_bytes for s in timed) / 1e6
    m["spark.shuffle_write_mb"] = sum(s.shuffle_write_bytes for s in timed) / 1e6
    m["spark.shuffle_read_mb"] = sum(s.shuffle_read_bytes for s in timed) / 1e6
    m["spark.spill_mb"] = sum(s.spill_bytes for s in timed) / 1e6
    selfs = self_times(spans)
    for key, layer in SPAN_METRICS.items():
        m[key] = selfs.get(layer, 0.0)
    for key, (counter, scale, _unit) in COUNT_METRICS.items():
        m[key] = counts.get(counter, 0) * scale
    m["graph.cc_stages"] = sum(1 for s in ran if s.description == "graph.cc")
    calls = counts.get("dedup.guard.calls", 0)
    m["dedup.guard_cached_ratio"] = counts.get("dedup.guard.cached", 0) / calls if calls else 0.0
    for op in QUERY_OPS:
        m[f"queries.{op}_s"] = lat.get(op, 0.0)
    return m


def _untraced_pass(runner, tracer) -> float:
    from perfbench.run import NO_TRACE

    tracer.enabled = False
    try:
        wall, _ = runner.run_pass(NO_TRACE)
    finally:
        tracer.enabled = True
    tracer.drain()
    return wall


def _record_op_pyworker_cpu(workload, tree) -> dict[str, float]:
    """Wrap ``workload.run`` so each operation's Python-worker CPU
    seconds land in the returned dict (cleared by the caller per pass)."""
    op_py: dict[str, float] = {}
    run = workload.run

    def run_and_sample(op, tracer):
        before = tree.read()["cpu"]["pyworker"]
        try:
            return run(op, tracer)
        finally:
            op_py[op] = tree.read()["cpu"]["pyworker"] - before

    workload.run = run_and_sample
    return op_py


def traced_run(runner, seconds: float, tree, warmups: int) -> dict:
    tracer = Tracer(runner.spark)
    tracer.install()
    status = StatusStore(runner.spark)
    op_py = _record_op_pyworker_cpu(runner.workload, tree)
    try:
        for _ in range(warmups):
            runner.run_pass(tracer)
        ref_walls = [_untraced_pass(runner, tracer)]
        status.collect()

        per_pass, walls, peak_rss, peak_java = [], [], [], []
        t0 = time.perf_counter()
        while not per_pass or time.perf_counter() - t0 < seconds:
            tree.reset_peaks()
            op_py.clear()
            cpu0 = tree.read()
            lo = time.time() * 1e3
            wall, lat = runner.run_pass(tracer)
            hi = time.time() * 1e3
            cpu1 = tree.read()
            spans, counts = tracer.drain()
            stages, jobs = status.collect()
            per_pass.append(_pass_metrics(
                spans, counts, stages, jobs, (lo, hi), set(runner.workload.ops), cpu0, cpu1, lat,
                op_py,
            ))
            walls.append(wall)
            peak_rss.append(cpu1["peak_rss_bytes"] / 1e6)
            peak_java.append(cpu1["peak_java"])
        ref_walls.append(_untraced_pass(runner, tracer))
    finally:
        tracer.uninstall()

    units = metric_units()
    out = {k: statistics.fmean(p[k] for p in per_pass) for k in per_pass[0]}
    out["session.start_s"] = runner.session_start_s
    out["process.peak_rss_mb"] = max(peak_rss)
    out["process.java_procs"] = max(peak_java)
    out["trace.overhead_ratio"] = statistics.median(walls) / statistics.fmean(ref_walls) - 1.0
    if set(out) != set(units):
        raise RuntimeError(f"traced metrics differ from the declared ones: {set(out) ^ set(units)}")
    return {k: (out[k], units[k]) for k in units}
