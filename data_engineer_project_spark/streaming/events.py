"""Event-stream pipelines: readStream → event-time transforms → sink.

Scale notes (100 TB / 1000-executor design):

- The file source here stands in for Kafka/Kinesis — swap
  ``readStream.parquet`` for ``readStream.format("kafka")`` and the
  transforms are unchanged (they only see an event-time column).
- Watermarks bound state: without one, windowed aggregation state
  grows forever on an unbounded stream. Every transform takes a
  ``watermark`` argument and applies it before the stateful op.
- Windowed aggregation shuffles by (window, key) — partial aggregation
  happens map-side; state lives in the state store partitioned by the
  grouping key, so it scales horizontally with
  ``spark.sql.shuffle.partitions``.
- ``applyInPandasWithState`` state is per-group and Arrow-batched; the
  per-user group key distributes across executors.
- Money math in exact integer cents (values have 2-decimal precision),
  so results are independent of partitioning / batch order and match
  the DuckDB DECIMAL oracle bit-for-bit.
"""

from __future__ import annotations


import itertools
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineer_project_spark.operators import fanout, plancap
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Streaming readers require an explicit schema; the driver's
# events.parquet has shipped ts as TIMESTAMP(NANOS) (reads as raw int64
# under the session nanosAsLong contract) in some rounds and plain
# timestamp[us] in others, so the ts field type must be probed from the
# actual files (see read_event_stream) rather than pinned here.
def _event_raw_schema(ts_type) -> StructType:
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


# Back-compat name: the nanos-era fixed schema (tests that write raw
# int64-nanos part files still use this shape).
EVENT_RAW_SCHEMA = _event_raw_schema(LongType())

DOC_RAW_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def read_document_stream(
    spark: SparkSession,
    path: str,
    glob: str = "documents.parquet",
    max_files_per_trigger: int | None = None,
    fanout_small: bool = False,
) -> DataFrame:
    """Open the documents table as a stream (file source) — the intake
    side of a continuously-ingesting training-data pipeline: new
    document part-files land in ``path`` and each becomes (part of) a
    micro-batch. Fixed declared schema (documents has no physical-type
    drift history); ``max_files_per_trigger=1`` forces multi-batch runs
    in tests.

    The glob is validated EAGERLY: ``pathGlobFilter`` matches file
    names only, so if ``documents.parquet`` is a DIRECTORY dataset the
    default glob would silently match nothing and every downstream
    query (s10/s11) would return empty results with no error. A
    schema-only batch probe checks the match; a directory layout falls
    back to streaming ``path/<glob>`` with ``*.parquet``; zero matches
    either way raises at stream setup instead of producing silent
    emptiness."""
    from data_engineer_project_spark.session import normalize_session

    normalize_session(spark)

    def _batch(p: str, g: str) -> DataFrame:
        return spark.read.schema(DOC_RAW_SCHEMA).option("pathGlobFilter", g).parquet(p)

    def _matches(p: str, g: str) -> bool:
        # schema-only listing (no data scan, no footer read needed).
        # Only "nothing there" maps to False; any OTHER failure
        # (permissions, corrupt footer, transient FS error) re-raises —
        # swallowing it would misreport a real read error as "no
        # parquet files match" and could silently reroute an existing
        # flat-file layout into the directory fallback.
        from pyspark.errors import AnalysisException

        try:
            return bool(_batch(p, g).inputFiles())
        except AnalysisException as exc:
            if "PATH_NOT_FOUND" in str(exc) or "UNABLE_TO_INFER_SCHEMA" in str(exc):
                return False
            raise

    target, eff_glob = path, glob
    if not _matches(path, glob):
        sub = path.rstrip("/") + "/" + glob
        if _matches(sub, "*.parquet"):
            target, eff_glob = sub, "*.parquet"
        else:
            raise RuntimeError(
                f"read_document_stream: no parquet files match {glob!r} under "
                f"{path!r} (nor {sub!r}/*.parquet) — the stream would only "
                "ever emit empty micro-batches"
            )
    reader = spark.readStream.schema(DOC_RAW_SCHEMA).option("pathGlobFilter", eff_glob)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(target)
    if fanout_small:
        # Codec consumers (multi-ms-per-payload Python stages) opt in
        # HERE, where the resolved source layout (flat file vs
        # directory fallback) is known — wiring the guard per call
        # site is how the next streaming codec query silently
        # re-creates the single-core shape (r14 review). Cheap
        # fake-decode consumers must NOT set this: the exchange costs
        # more than it buys there (BASELINE.md round-14 negative A/B).
        # A micro-batch inherits the source's split count, which the
        # batch read of the same files reports.
        stream = fanout.fanout_small(stream, scan=_batch(target, eff_glob))
    return stream


def read_event_stream(
    spark: SparkSession,
    path: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Open the events table as a stream (file source).

    ``path`` is a directory (the sf dir, or a test-controlled dir of
    part files); ``max_files_per_trigger=1`` lets tests force multiple
    micro-batches to exercise cross-batch watermark/state behavior.

    The nanos-as-long parquet flag comes from the session contract
    (``normalize_session``), not a per-reader mutation — batch and
    streaming reads in one session always see the same ``ts`` type.
    The ``ts`` field type is probed with a one-footer batch read of the
    same path+glob (schema-only, no data scan), so the stream reads
    nanos-era int64 files and micros-era timestamp files alike. On an
    empty or not-yet-populated directory the probe fails (no footer to
    infer from); fall back to the micros-era timestamp schema so a
    stream can start before its first file arrives.
    """
    from pyspark.errors import PySparkException
    from pyspark.sql.types import TimestampType

    from data_engineer_project_spark.session import normalize_session
    from data_engineer_project_spark.sources.registry import normalize_event_ts

    normalize_session(spark)
    try:
        probed_ts = (
            spark.read.option("pathGlobFilter", glob).parquet(path).schema["ts"].dataType
        )
    except PySparkException:  # empty dir / no matching files yet
        probed_ts = TimestampType()
    reader = spark.readStream.schema(_event_raw_schema(probed_ts)).option(
        "pathGlobFilter", glob
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return normalize_event_ts(reader.parquet(path))


# Exact-cents money column: value has 2-decimal precision, so integer
# cents sum exactly in any order (double-sum would drift per partition).
def _cents(col: str = "value"):
    return F.round(F.col(col) * 100).cast("long")


def tumbling_counts(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Tumbling 1-hour windows per event_type: count + exact total.

    Streaming twin of e01_tumbling_window; watermark bounds state and
    (in append mode) defines when a window is final.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(_cents()).alias("cents"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            (F.col("cents").cast("double") / 100.0).alias("total_value"),
        )
    )


def ohlc_bars(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Hourly OHLC bars per event_type — the streaming form of the
    e13 time-series downsample: open/high/low/close + count per
    (window, type), continuously maintained.

    min_by/max_by are ALGEBRAIC aggregates (state = one
    (ordering-key, value) pair per group), so cross-micro-batch
    merging is exact: whichever batch carried the day's earliest
    (ts, event_id) key wins regardless of arrival order — pinned by
    tests/test_streaming.py::test_streaming_ohlc_multibatch_equals_batch.
    The ordering key is the SHARED (ts, event_id) DECIMAL(38,0)
    composite from functions/ordering.py — the same definition the
    batch twin and the DuckDB oracle use, so streaming, batch, and
    oracle agree bit-exactly. State per group is O(1); the watermark
    bounds the number of open windows.
    """
    from data_engineer_project_spark.functions.ordering import ohlc_order_key

    key = ohlc_order_key()
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )


def sliding_totals(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Sliding 1-hour windows every 30 minutes: each event contributes
    to two overlapping windows (streaming twin of e02_sliding_window)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(_cents()).alias("cents"))
        .select(
            F.col("w.start").alias("window_start"),
            "n",
            (F.col("cents").cast("double") / 100.0).alias("total_value"),
        )
    )


def sessionize(events: DataFrame, gap: str = "5 minutes", watermark: str = "30 minutes") -> DataFrame:
    """Merging session windows per user with an inactivity gap —
    Spark's native dynamic-gap session operator (streaming twin of
    e03_sessionization). State is per (user, open session) and closes
    once the watermark passes session end + gap."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("last_event"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "last_event", "n_events")
    )


# ------------------------------------------------- custom stateful op

_USER_STATS_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)
# State: (cumulative event count, cumulative cents) — tiny, per-user.
_USER_STATS_STATE = StructType(
    [StructField("n", LongType()), StructField("cents", LongType())]
)


def _user_stats_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        cents += int((pdf["value"] * 100).round().astype("int64").sum())
    state.update((n, cents))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [cents / 100.0]}
    )


def stateful_user_stats(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Custom stateful operator: per-user running event count + exact
    total via applyInPandasWithState (Arrow-batched, update mode).

    The built-in aggs could express this; it exists to prove the
    arbitrary-stateful path (the template for anything windowless the
    built-ins can't say: decaying counters, per-entity ML state, CEP).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _user_stats_fn,
            outputStructType=_USER_STATS_OUT,
            stateStructType=_USER_STATS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def purchases_after_signup(
    purchases: DataFrame,
    signups: DataFrame,
    within: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream inner join with an event-time bound: purchases
    joined to the same user's signups at most ``within`` earlier.

    Both sides are watermarked and the join condition carries the time
    bound — that pair is what lets Spark expire join state (an
    unbounded stream-stream join would buffer forever). Matches emit
    in append mode as they are found."""
    s = (
        signups.select(
            F.col("user_id"),
            F.col("ts").alias("signup_ts"),
            F.col("event_id").alias("signup_id"),
        ).withWatermark("signup_ts", watermark)
    )
    p = (
        purchases.select(
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        ).withWatermark("purchase_ts", watermark)
    )
    cond = (
        (p.user_id == s.user_id)
        & (p.purchase_ts >= s.signup_ts)
        & (p.purchase_ts <= s.signup_ts + F.expr(f"INTERVAL {within}"))
    )
    return p.join(s, cond, "inner").select(
        "purchase_id", "signup_id", p.user_id.alias("user_id"), "signup_ts", "purchase_ts"
    )


def enrich_with_static(stream: DataFrame, static_df: DataFrame, on: str) -> DataFrame:
    """Stream-static join: enrich each event with a (batch) dimension.

    Spark plans this natively — the static side is re-read per
    micro-batch (or broadcast when small), no state store involved.
    The standard shape for joining a stream to reference data."""
    return stream.join(static_df, on, "left")


def run_to_partitioned_parquet(
    stream_df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    checkpoint_location: str | None = None,
) -> None:
    """Stream → warehouse: foreachBatch writing partitioned parquet.

    complete-mode aggregations overwrite (each batch carries the full
    state); append-mode streams use mode="append" and only ever add
    files. Dynamic partition overwrite keeps reloads per-partition —
    the same sink contract as sources/io.write_partitioned_parquet, so
    a streaming pipeline lands in the same layout batch ETL reads."""

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.sparkSession.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
        batch_df.write.mode(mode).partitionBy(*partition_cols).parquet(path)

    writer = (
        stream_df.writeStream.foreachBatch(sink)
        .outputMode("complete" if mode == "overwrite" else "append")
        .trigger(availableNow=True)
    )
    if checkpoint_location is not None:
        # durable source/state tracking: a restart with the same
        # checkpoint resumes from the last committed offsets instead of
        # reprocessing — the exactly-once contract tests pin down
        writer = writer.option("checkpointLocation", checkpoint_location)
    q = writer.start()
    q.awaitTermination()


def _store_has_partitions(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists and contains hive-style partition dirs.

    Goes through the Hadoop FileSystem API (not ``os.path``), so the
    check works against any Spark-supported filesystem — object stores
    and HDFS included, which is where a 100 TB rollup store actually
    lives. A local-FS-only ``os.listdir`` would silently skip the merge
    branch there and dynamic overwrite would drop surviving rows.
    """
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return False
    return any(
        "=" in st.getPath().getName() for st in fs.listStatus(jpath)
    )


def run_incremental_rollup(
    stream_df: DataFrame,
    path: str,
    key_cols: list[str],
    partition_col: str,
    checkpoint_location: str | None = None,
    on_batch=None,
) -> None:
    """Update-mode stream → keyed parquet rollup, merging each
    micro-batch into ONLY the partitions it touches.

    The scale-correct alternative to ``run_to_partitioned_parquet``'s
    complete-mode rewrite: complete mode re-emits (and rewrites) the
    ENTIRE aggregate state every batch — fine for a memory sink, fatal
    for a year-long rollup at 100 TB. In update mode each batch carries
    only the aggregate rows that changed; this sink

    1. collects the distinct ``partition_col`` values of the batch (a
       driver-side list of touched partitions — bounded by the
       watermark, not by history),
    2. reads back only those partitions of the store, anti-joins on
       ``key_cols`` to keep their surviving rows,
    3. writes survivors + changed rows with dynamic partition
       overwrite, leaving every untouched partition's files alone.

    Batch replay after a crash overwrites the same partitions with the
    same deterministic aggregates, so the store converges (per-partition
    idempotent upsert — the table-format MERGE pattern expressed on
    plain parquet). ``on_batch(batch_id, touched_partitions)`` is an
    observability hook (tests assert old partitions stop being
    rewritten).
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        batch_df = batch_df.persist()
        parts = [r[0] for r in batch_df.select(partition_col).distinct().collect()]
        if on_batch is not None:
            on_batch(batch_id, sorted(parts))
        if not parts:
            batch_df.unpersist()
            return
        out = batch_df
        if _store_has_partitions(
            spark, path
        ):  # store exists: merge with survivors of the touched partitions
            existing = spark.read.parquet(path).filter(
                F.col(partition_col).isin(parts)
            )
            survivors = existing.join(
                batch_df.select(*key_cols), on=key_cols, how="left_anti"
            )
            # materialize before writing over the files being read
            # (Spark refuses to overwrite a path it is also reading)
            out = survivors.unionByName(batch_df).localCheckpoint(eager=True)
        out.write.mode("overwrite").partitionBy(partition_col).parquet(path)
        batch_df.unpersist()

    writer = (
        stream_df.writeStream.foreachBatch(sink)
        .outputMode("update")
        .trigger(availableNow=True)
    )
    if checkpoint_location is not None:
        writer = writer.option("checkpointLocation", checkpoint_location)
    q = writer.start()
    q.awaitTermination()


# ------------------------------------------------------------- runner

_MEM_COUNTER = itertools.count()


def run_to_memory_table(
    stream_df: DataFrame, name_hint: str, output_mode: str
) -> DataFrame:
    """Execute a streaming plan to completion (availableNow) into a
    memory sink; return the result as a *batch* DataFrame.

    availableNow processes all currently-available input then stops —
    the streaming equivalent of a batch run, used by tests and the
    driver-facing s* catalog queries. In production the same plan runs
    unbounded with ``trigger(processingTime=...)`` and a durable sink.
    """
    spark = stream_df.sparkSession
    name = f"stream_{name_hint}_{next(_MEM_COUNTER)}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    plancap.grab_stream(f"{name_hint}: last micro-batch (IncrementalExecution)", q)
    return spark.table(name)


def dedup_counts(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Exactly-once ingestion: drop duplicate event_ids arriving within
    the watermark horizon (at-least-once sources redeliver; state for
    seen ids is bounded by the watermark), then aggregate per type.
    Two chained stateful operators — dedup feeding a complete-mode
    aggregate — the standard dedup-at-the-door pipeline shape."""
    dd = events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return dd.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum(_cents()).alias("cents")
    ).select(
        "event_type",
        "n",
        (F.col("cents").cast("double") / 100.0).alias("total_value"),
    )


def signups_with_purchase_outcome(
    purchases: DataFrame,
    signups: DataFrame,
    within: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream LEFT OUTER join: every signup, with the matching
    purchase(s) ≤ ``within`` later — or nulls once the watermark proves
    no purchase can still arrive (abandonment detection).

    The outer side is the semantic difference from the inner join:
    null rows can only emit when the join state for that signup expires
    (watermark past signup_ts + within), so "no purchase" is a proven
    negative, not an absence-so-far. State on both sides is bounded by
    the same watermark+bound pair as the inner form."""
    s = (
        signups.select(
            F.col("user_id").alias("s_user_id"),
            F.col("ts").alias("signup_ts"),
            F.col("event_id").alias("signup_id"),
        ).withWatermark("signup_ts", watermark)
    )
    p = (
        purchases.select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        ).withWatermark("purchase_ts", watermark)
    )
    cond = (
        (p.p_user_id == s.s_user_id)
        & (p.purchase_ts >= s.signup_ts)
        & (p.purchase_ts <= s.signup_ts + F.expr(f"INTERVAL {within}"))
    )
    return s.join(p, cond, "leftOuter").select(
        "signup_id",
        F.col("s_user_id").alias("user_id"),
        "signup_ts",
        "purchase_id",
        "purchase_ts",
    )


EMBEDDING_RAW_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ]
)


def read_embedding_stream(
    spark: SparkSession,
    path: str,
    glob: str = "embeddings.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Open the embeddings table as a stream (file source) — the
    intake side of a continuously-maintained vector index: newly
    embedded documents land as parquet part-files and each micro-batch
    is scored/assigned downstream (s17). Fixed declared schema;
    ``max_files_per_trigger=1`` forces multi-batch runs in tests."""
    from data_engineer_project_spark.session import normalize_session

    normalize_session(spark)
    reader = spark.readStream.schema(EMBEDDING_RAW_SCHEMA).option(
        "pathGlobFilter", glob
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)
