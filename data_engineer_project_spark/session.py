"""SparkSession factory + per-session normalization.

Scale notes: these settings are chosen so the same code runs on
``local[32]`` for tests and on a 1000-executor cluster unchanged —
AQE handles runtime coalescing/skew, shuffle partitions are a hint that
AQE resizes, and session timezone is pinned UTC so timestamp semantics
do not depend on cluster locale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Conf applied when *we* build the session (tests, bench, CLI).
_BUILD_CONF = {
    # AQE: runtime re-planning — coalesce tiny shuffle partitions, convert
    # sort-merge→broadcast when a side turns out small, split skewed joins.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic timestamp semantics regardless of host locale.
    "spark.sql.session.timeZone": "UTC",
    # Arrow for any pandas_udf / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Facts at 100 TB partition by date; enable dynamic pruning (default on,
    # stated for intent).
    "spark.sql.optimizer.dynamicPartitionPruning.enabled": "true",
    # Runtime bloom-filter pushdown: a selective dim filter builds a bloom
    # filter that prunes fact row groups before the join shuffle — the
    # difference between scanning 100 TB and scanning the matching slice.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Generated-code cache sized to the working set of one JVM. Spark's
    # default keeps 100 compiled whole-stage classes; one perfbench `dw`
    # pass needs ~161 and one `llm` pass ~130, so a repeated pass missed
    # on every access and recompiled everything (~5 ms of Janino each,
    # then C2 JIT again on the fresh classes). The 37 bench.py slots at
    # sf0.1 need ~1,010-1,140 classes (~1,015 cold plus 60-120 warm-path
    # and AQE variants, mostly d56, d101 and d89), so 1000 would thrash
    # again. Three 37-slot passes in one session on 4 cores compiled
    # 1,333 -> 1,297 -> 1,291 classes at 100 and 1,014 -> 89 -> 32 here,
    # for 8 MB more Metaspace (SCALING.md, "Codegen cache sized to the
    # working set"). Static conf: read once when the session is built,
    # so it cannot join _RUNTIME_CONF and driver-provided sessions keep
    # their own value.
    "spark.sql.codegen.cache.maxEntries": "4096",
    # Python workers forked from our daemon (pydaemon.py), which stops
    # each task from re-reading pyspark.zip's 1,328-entry directory once
    # per cached zipimporter (~16 times) when the archive has not
    # changed. A warm 1-column payload_stage on 4 cores, Python 3.11:
    # worker CPU per task 0.26-0.29 -> 0.05 s; per run, 4 tasks took
    # 1.06 -> 0.22 s CPU (0.50 -> 0.27 s wall) and 16 tasks 4.7 -> 0.82 s
    # CPU (1.74 -> 0.60 s wall), medians of 7 warm runs. Static conf
    # like the codegen entry: driver-provided sessions keep their own
    # daemon.
    "spark.python.daemon.module": "data_engineer_project_spark.pydaemon",
}

# Conf we also force onto *driver-provided* sessions (runtime-settable).
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    # SESSION CONTRACT: parquet TIMESTAMP(NANOS) columns (events.ts in
    # the driver testdata) read as raw int64 nanos everywhere — the
    # vectorized reader rejects NANOS otherwise. Every reader in this
    # engine (sources/registry.py, streaming/events.py) converts nanos
    # → timestamp explicitly. Declared here, once, instead of being
    # flipped inside individual readers, so batch and streaming reads
    # in the same session always agree on the type.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_spark(
    app_name: str = "data-engineer-project-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    ``shuffle_partitions`` defaults to the core count — at test scale a
    huge partition count only adds scheduling overhead; at cluster scale
    callers pass a value sized to executors×cores (AQE coalesces down).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus in ("*", "") else max(int(cpus), 4)

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _BUILD_CONF.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    normalize_session(spark)
    return spark


def normalize_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to ANY session (incl. driver-provided).

    Idempotent and cheap; every public query entry point calls this so
    results do not depend on who built the session.
    """
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in some deployments; defaults are acceptable
    return spark
