"""The benchmark's workloads: what one pass runs and how it is checked.

A pass is a list of operations that one client issues one after another
from the driver (a closed loop). An operation is either a step of the
warehouse load or a registered query, run through ``QuerySpec.fn`` and
collected. It returns what has to be checked against the oracle;
checking happens after the timed region.
"""

from __future__ import annotations

import os
import shutil

from data_engineer_project_spark.queries import QUERIES

# Steps of the warehouse load: the 50 sources into the star schema, and
# its claims fact written out (partitioned by service year; it joins six
# of the eight dimensions, so writing it builds most of the star).
LOAD_STEPS = ("build_star", "write_star")
WRITTEN_TABLES = ("fact_claims_line",)

# Operations of each workload, in pass order; short names are query ids.
WORKLOADS = {
    "dw": ["build_star", "write_star", "hq06", "q21", "e06"],
    "llm": ["d99", "m21", "s27"],
}


def query_name(short: str) -> str:
    matches = [n for n in QUERIES if n.split("_", 1)[0] == short]
    if len(matches) != 1:
        raise KeyError(f"no unique registered query for {short!r}: {matches}")
    return matches[0]


def read_sources(spark, hc_dir: str) -> dict:
    """The 50 generated healthcare source tables as DataFrames."""
    from data_engineer_project_spark.schemas import ALL_TABLES

    return {
        name: spark.read.schema(schema).parquet(f"{hc_dir}/{name}.parquet")
        for name, schema in ALL_TABLES.items()
    }


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


def _same(got: dict, want: dict) -> bool:
    return (got["rows"], got["cols"], got["hash"]) == (want["rows"], want["cols"], want["hash"])


class Workload:
    def __init__(self, name: str, spark, tpch_dir: str, hc_dir: str, out_root: str):
        self.name = name
        self.ops = list(WORKLOADS[name])
        self._spark = spark
        self._tpch_dir = tpch_dir
        self._hc_dir = hc_dir
        self._out_root = out_root
        self._specs = {op: QUERIES[query_name(op)] for op in self.ops if op not in LOAD_STEPS}
        self._pass = 0
        self._load: dict = {}

    # --------------------------------------------------------- running

    def run(self, op: str, tracer):
        if op in LOAD_STEPS:
            return self._run_load_step(op, tracer)
        from data_engineer_project_spark.operators.cache import release_all

        with tracer.span("queries.build"):
            df = self._specs[op].fn(self._spark, self._tpch_dir)
        with tracer.span("queries.collect"):
            rows = [tuple(r) for r in df.collect()]
        # per-call persists would otherwise pile up across passes
        release_all()
        return df.columns, rows

    def _run_load_step(self, op: str, tracer):
        from data_engineer_project_spark.plans import star

        st = self._load
        if op == "build_star":
            st["src"] = read_sources(self._spark, self._hc_dir)
            st["star"] = star.build_star(st["src"])
            return None
        out = os.path.join(self._out_root, f"pass{self._pass}", "star")
        star.write_star({t: st["star"][t] for t in WRITTEN_TABLES}, out)
        tracer.count("sources.output_bytes", _tree_bytes(out))
        return out

    def end_pass(self) -> None:
        for df in self._load.get("star", {}).values():
            df.unpersist()  # the dimensions build_star cached
        self._load = {}
        self._pass += 1

    # -------------------------------------------------------- checking

    def check(self, oracle, op: str, output) -> str | None:
        """None when ``output`` matches the oracle, else what differs."""
        from perfbench.oracle import healthcare_sql

        if op in LOAD_STEPS:
            return None if output is None else self._check_written(oracle, output)
        from tools.check_correctness import result_fingerprint

        cols, rows = output
        got = result_fingerprint(cols, rows)
        want = oracle.expected(healthcare_sql(self._specs[op].oracle))
        if not _same(got, want):
            return f"{op}: rows {got['rows']}/{want['rows']}, same cols {got['cols'] == want['cols']}"
        return None

    def _check_written(self, oracle, out_dir: str) -> str | None:
        """Every written star table against the ETL recomputed in SQL
        (the dimension and fact CTEs of ``queries/healthcare.py``)."""
        from data_engineer_project_spark.queries import healthcare
        from perfbench.oracle import healthcare_sql, written_table_sql

        problems = []
        for table in sorted(os.listdir(out_dir)):
            if table.startswith(("_", ".")):
                continue
            want = oracle.expected(
                healthcare_sql(healthcare._oracle(f"SELECT * FROM {table}", [table]))
            )
            got = oracle.actual(written_table_sql(out_dir, table))
            if not _same(got, want):
                problems.append(f"{table}: rows {got['rows']}/{want['rows']}")
        shutil.rmtree(out_dir, ignore_errors=True)
        return f"write_star: {problems}" if problems else None
