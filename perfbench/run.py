"""Benchmark of the engine: each workload in a fresh process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The run makes seeded inputs, starts a
Spark session on ``local[<cores>]``, runs a warm-up pass, then timed
passes of the workload until ``--seconds`` seconds have passed (at least
one), checks every pass's outputs against DuckDB, and prints one JSON
line last. With ``--trace 0`` it reports the end-to-end metrics; with
``--trace 1`` it wraps the engine's layers in spans and reports
per-layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

ROOT = os.getcwd()
MEMBERS = 12_000  # healthcare fixture scale, as bench.py uses at sf0.1
WARMUP_PASSES = 1


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, help="a key of perfbench.workloads.WORKLOADS")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Keep every file the engine writes inside the checkout."""
    cores = len(os.sched_getaffinity(0))
    for sub in ("tmp", "spark-local", "codec"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_HC_MEMBERS=str(MEMBERS),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_NATIVE_CODEC_DIR=os.path.join(work, "codec"),
        TMPDIR=os.path.join(work, "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )


class NoTrace:
    """Stands in for the tracer when tracing is off: spans cost nothing."""

    def span(self, layer):
        return nullcontext()

    def count(self, key, n=1):
        pass


NO_TRACE = NoTrace()
_FAILED = object()


class Runner:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.attempted = 0
        self.failures: list[str] = []
        self.outputs: list[tuple[str, object]] = []

    def setup(self) -> None:
        from perfbench import inputs

        tpch, hc = os.path.join(self.work, "tpch"), os.path.join(self.work, "healthcare")
        inputs.write_tpch(tpch, self.args.seed)
        if self.args.workload == "dw":
            inputs.write_healthcare(hc, self.args.seed, MEMBERS)

        t0 = time.perf_counter()
        from data_engineer_project_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # no hsperfdata file in the system temp directory
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
                ),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t0

        from perfbench.workloads import Workload

        if self.args.workload == "dw":
            self._serve_fixtures_from(hc)
        self.workload = Workload(
            self.args.workload, self.spark, tpch, hc, os.path.join(self.work, "out")
        )

    def _serve_fixtures_from(self, hc_dir: str) -> None:
        """The hq queries read the 50 sources through fixtures.dataframes;
        hand them the generated parquet files instead of in-memory rows."""
        from data_engineer_project_spark import fixtures
        from perfbench.workloads import read_sources

        spark = self.spark

        def dataframes(_spark, n_members=MEMBERS):
            if n_members != MEMBERS:
                raise ValueError(f"the generated fixture has {MEMBERS} members, not {n_members}")
            return read_sources(spark, hc_dir)

        fixtures.dataframes = dataframes

    def run_pass(self, tracer) -> tuple[float, dict[str, float]]:
        """One pass; returns its wall seconds and each operation's."""
        sc = self.spark.sparkContext
        lat: dict[str, float] = {}
        t_pass = time.perf_counter()
        for op in self.workload.ops:
            sc.setLocalProperty("spark.jobGroup.id", op)
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                out = self.workload.run(op, tracer)
            except Exception as e:  # a failed operation is counted, not fatal
                self.failures.append(f"{op}: {type(e).__name__}: {str(e)[:300]}")
                out = _FAILED
            lat[op] = time.perf_counter() - t0
            if out is not _FAILED:
                self.outputs.append((op, out))
        sc.setLocalProperty("spark.jobGroup.id", None)
        wall = time.perf_counter() - t_pass
        self.workload.end_pass()
        return wall, lat

    def check_outputs(self) -> None:
        from perfbench import inputs
        from perfbench.oracle import Oracle

        oracle = Oracle(
            self.work,
            os.path.join(ROOT, ".perfbench", "oracle-cache.json"),
            inputs.content_id(MEMBERS),
        )
        try:
            for op, out in self.outputs:
                try:
                    problem = self.workload.check(oracle, op, out)
                except Exception as e:  # a check that cannot run is a failure
                    problem = f"{op}: check raised {type(e).__name__}: {str(e)[:300]}"
                if problem:
                    self.failures.append(problem)
        finally:
            oracle.close()
        self.outputs = []


def geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def end_to_end(runner: Runner, seconds: float, tree) -> dict:
    for _ in range(WARMUP_PASSES):
        runner.run_pass(NO_TRACE)
    setup_s = process_age_s()
    passes, lats = [], []
    cpu0 = sum(tree.read()["cpu"].values())
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < seconds:
        wall, lat = runner.run_pass(NO_TRACE)
        passes.append(wall)
        lats.append(lat)
    cpu = (sum(tree.read()["cpu"].values()) - cpu0) / len(passes)
    op_median = {op: statistics.median(l[op] for l in lats) for op in runner.workload.ops}
    print(json.dumps({"passes": passes, "op_median_s": op_median}), file=sys.stderr)
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(passes), "s"),
        "query_geomean_s": (geomean(op_median.values()), "s"),
        "cpu_s": (cpu, "s"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "data_engineer_project_spark")):
        print("run from the repository root: the engine package is missing", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    configure_env(work)  # before the engine is imported: it reads some at import

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        shutil.rmtree(work, ignore_errors=True)
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    from perfbench.proctree import ProcessTree, stop_descendants

    runner = Runner(args, work)
    try:
        with ProcessTree() as tree:
            runner.setup()
            if args.trace:
                from perfbench.layers import traced_run

                metrics = traced_run(runner, args.seconds, tree, WARMUP_PASSES)
            else:
                metrics = end_to_end(runner, args.seconds, tree)
            runner.check_outputs()
    finally:
        if getattr(runner, "spark", None) is not None:
            runner.spark.stop()
        stop_descendants()
        shutil.rmtree(work, ignore_errors=True)
    for f in runner.failures:
        print(f"FAILED {f}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": not runner.failures,
                "attempted": runner.attempted,
                "failed": len(runner.failures),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
