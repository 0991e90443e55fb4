"""Structured Streaming semantics that the single-batch driver gate
cannot see: cross-batch state, watermark-closed windows in append mode,
and streaming==batch agreement.

Multi-batch inputs are built by writing the events rows as several
parquet part files (explicit mtimes so the file source's order is
deterministic) and reading with maxFilesPerTrigger=1.
"""

from __future__ import annotations


import contextlib
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_engineer_project_spark.streaming import (
    read_event_stream,
    run_to_memory_table,
    sessionize,
    stateful_user_stats,
    tumbling_counts,
)

SF = "/root/testdata/sf0.001"


def _write_parts(tmp_path, n_parts: int) -> str:
    """Split the sf0.001 events table into n time-ordered part files."""
    tbl = pq.read_table(f"{SF}/events.parquet")
    # Store ts as raw int64 NANOS (whatever the source file's physical
    # unit) — this keeps the nanos-era raw-long streaming path under
    # test while the sf dirs themselves exercise the timestamp[us] path.
    ts_ns = tbl["ts"].cast(pa.timestamp("ns")).cast(pa.int64())
    tbl = tbl.set_column(tbl.schema.get_field_index("ts"), "ts", ts_ns)
    d = tmp_path / "events_parts"
    d.mkdir()
    n = tbl.num_rows
    step = (n + n_parts - 1) // n_parts
    for i in range(n_parts):
        part = tbl.slice(i * step, step)
        p = d / f"part-{i:03d}.parquet"
        pq.write_table(part, p)
        os.utime(p, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    return str(d)


def test_streaming_tumbling_equals_batch(spark):
    got = run_to_memory_table(
        tumbling_counts(read_event_stream(spark, SF)), "t_tumble", "complete"
    )
    from data_engineer_project_spark.sources.registry import normalize_event_ts

    want = (
        normalize_event_ts(spark.read.parquet(f"{SF}/events.parquet"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100.0).alias(
                "total_value"
            ),
        )
        .select(F.col("w.start").alias("window_start"), F.col("w.end").alias("window_end"),
                "event_type", "n", "total_value")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_streaming_sessionize_multibatch_equals_batch(spark, tmp_path):
    """Session state must merge correctly across micro-batches."""
    d = _write_parts(tmp_path, 4)
    stream = read_event_stream(spark, d, glob="*.parquet", max_files_per_trigger=1)
    got = run_to_memory_table(sessionize(stream), "t_sess", "complete")
    base = read_event_stream(spark, SF)  # reuse schema path for batch? no: batch read
    want = run_to_memory_table(sessionize(base), "t_sess_single", "complete")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stateful_state_carries_across_batches(spark, tmp_path):
    """applyInPandasWithState: updates accumulate; the per-user maximum
    across all update rows equals the global batch aggregate."""
    d = _write_parts(tmp_path, 3)
    stream = read_event_stream(spark, d, glob="*.parquet", max_files_per_trigger=1)
    got = run_to_memory_table(stateful_user_stats(stream), "t_state", "update")
    rows = got.collect()
    by_user: dict[int, tuple] = {}
    multi_update_users = 0
    seen: dict[int, int] = {}
    for r in rows:
        seen[r.user_id] = seen.get(r.user_id, 0) + 1
        prev = by_user.get(r.user_id)
        if prev is None or r.n_events > prev[0]:
            by_user[r.user_id] = (r.n_events, r.total_value)
    multi_update_users = sum(1 for v in seen.values() if v > 1)
    # with 3 batches most users appear in several batches — proves the
    # sink saw per-batch updates, not one final row
    assert multi_update_users > 0
    want = {
        r.user_id: (r.n_events, r.total_value)
        for r in run_to_memory_table(
            stateful_user_stats(read_event_stream(spark, SF)), "t_state_single", "update"
        ).collect()
    }
    assert by_user == want


def test_append_mode_emits_only_watermark_closed_windows(spark, tmp_path):
    """Append mode + watermark: only windows whose end precedes the
    final watermark are emitted; later (still-open) windows are not."""
    d = _write_parts(tmp_path, 4)
    stream = read_event_stream(spark, d, glob="*.parquet", max_files_per_trigger=1)
    appended = run_to_memory_table(
        tumbling_counts(stream, watermark="30 minutes"), "t_append", "append"
    )
    complete = run_to_memory_table(
        tumbling_counts(read_event_stream(spark, SF)), "t_complete", "complete"
    )
    a = sorted(map(tuple, appended.collect()))
    c = sorted(map(tuple, complete.collect()))
    assert 0 < len(a) < len(c)
    # every emitted window is final → identical to its batch value
    cset = set(c)
    assert all(row in cset for row in a)
    max_end = max(r[1] for r in c)
    # the newest window (not yet closed by the watermark) must be absent
    assert all(r[1] < max_end for r in a)


@pytest.mark.parametrize("n_parts", [2])
def test_multibatch_complete_tumbling_stable(spark, tmp_path, n_parts):
    """Complete-mode results must not depend on micro-batch slicing."""
    d = _write_parts(tmp_path, n_parts)
    stream = read_event_stream(spark, d, glob="*.parquet", max_files_per_trigger=1)
    got = run_to_memory_table(tumbling_counts(stream), "t_slice", "complete")
    want = run_to_memory_table(
        tumbling_counts(read_event_stream(spark, SF)), "t_slice_single", "complete"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_foreachbatch_partitioned_sink_matches_memory(spark, tmp_path):
    """Stream → warehouse: the tumbling aggregation landed via
    foreachBatch partitioned parquet must equal the memory-sink result,
    and event_type filters must prune partitions on read."""
    from data_engineer_project_spark.streaming import run_to_partitioned_parquet

    out = str(tmp_path / "stream_dw")
    run_to_partitioned_parquet(
        tumbling_counts(read_event_stream(spark, SF)), out, ["event_type"]
    )
    landed = spark.read.parquet(out)
    want = run_to_memory_table(
        tumbling_counts(read_event_stream(spark, SF)), "t_fb_mem", "complete"
    )
    cols = ["window_start", "window_end", "event_type", "n", "total_value"]
    assert sorted(map(tuple, landed.select(*cols).collect())) == sorted(
        map(tuple, want.select(*cols).collect())
    )
    pruned = landed.filter(F.col("event_type") == "purchase")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "event_type" in plan.split("PartitionFilters")[1][:120]


def test_checkpoint_recovery_resumes_without_reprocessing(spark, tmp_path):
    """Stop-and-restart with the same checkpoint must be exactly-once:
    run 1 drains file A; file B arrives; run 2 restarts from the
    checkpoint (A's offsets + window state are recovered, A is NOT
    re-read) and the landed warehouse result equals the one-shot batch
    aggregation over A+B. If recovery double-counted A, every count for
    its windows would be doubled and the compare would fail."""
    import shutil

    from data_engineer_project_spark.streaming import run_to_partitioned_parquet

    d = _write_parts(tmp_path, 2)
    hidden = tmp_path / "part-001.hold"
    shutil.move(os.path.join(d, "part-001.parquet"), hidden)

    out = str(tmp_path / "dw")
    cp = str(tmp_path / "cp")

    def run() -> None:
        stream = read_event_stream(spark, d, glob="*.parquet")
        run_to_partitioned_parquet(
            tumbling_counts(stream), out, ["event_type"], checkpoint_location=cp
        )

    run()  # processes only part A
    n_after_a = spark.read.parquet(out).agg(F.sum("n")).collect()[0][0]
    shutil.move(str(hidden), os.path.join(d, "part-001.parquet"))
    run()  # restart: must resume, not reprocess

    landed = spark.read.parquet(out)
    want = run_to_memory_table(
        tumbling_counts(read_event_stream(spark, d, glob="*.parquet")),
        "t_recovery_want",
        "complete",
    )
    cols = ["window_start", "window_end", "event_type", "n", "total_value"]
    assert sorted(map(tuple, landed.select(*cols).collect())) == sorted(
        map(tuple, want.select(*cols).collect())
    )
    total = landed.agg(F.sum("n")).collect()[0][0]
    assert n_after_a < total  # run 2 really added B's events


def test_left_outer_eviction_boundary_is_strict(spark, tmp_path):
    """Pins the stream-stream LEFT OUTER state-eviction convention the
    s08 oracle encodes as strictly ``signup_ts + 1h < watermark``: a
    signup whose join window closes EXACTLY at the final watermark
    (expiry == watermark) must NOT emit a null row, while one strictly
    before it must. If Spark's convention were <=, the boundary signup
    would appear and this test would catch the oracle divergence."""
    import datetime as dt

    from data_engineer_project_spark.streaming import signups_with_purchase_outcome

    def ns(s):
        t = dt.datetime.fromisoformat(s).replace(tzinfo=dt.timezone.utc)
        return int(t.timestamp() * 1_000_000_000)

    rows = [
        (1, ns("2024-01-01 10:00:00"), 1, "signup"),  # expiry 11:00 == watermark
        (2, ns("2024-01-01 09:00:00"), 4, "signup"),  # expiry 10:00 < watermark
        (3, ns("2024-01-01 11:30:00"), 2, "signup"),  # drives max signup ts
        (4, ns("2024-01-01 11:30:00"), 3, "purchase"),  # drives max purchase ts
    ]
    # final watermark = min(11:30, 11:30) - 30 min = 11:00
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.int64()),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([1.0] * 4, pa.float64()),
            "props": pa.array(["{}"] * 4, pa.string()),
        }
    )
    d = tmp_path / "wm_boundary"
    d.mkdir()
    pq.write_table(tbl, str(d / "part-000.parquet"))

    purchases = read_event_stream(spark, str(d), glob="*.parquet").filter(
        F.col("event_type") == "purchase"
    )
    signups = read_event_stream(spark, str(d), glob="*.parquet").filter(
        F.col("event_type") == "signup"
    )
    out = run_to_memory_table(
        signups_with_purchase_outcome(purchases, signups), "wm_boundary", "append"
    )
    got = {r["signup_id"]: r["purchase_id"] for r in out.collect()}
    assert got == {2: None}  # strictly-closed signup only; boundary held back


def test_stream_dedup_drops_redelivered_file(spark, tmp_path):
    """At-least-once redelivery: the same events file arrives twice in
    separate micro-batches; dropDuplicatesWithinWatermark must keep
    exactly one copy of every event_id (watermark horizon set past the
    data's time span so late duplicates hit the dedup state, not the
    late-data filter). Without dedup the counts would double."""
    import shutil

    from data_engineer_project_spark.streaming import dedup_counts

    d = _write_parts(tmp_path, 1)
    dup = os.path.join(d, "part-001.parquet")
    shutil.copy(os.path.join(d, "part-000.parquet"), dup)
    os.utime(dup, (1_700_000_100, 1_700_000_100))

    stream = read_event_stream(spark, d, glob="*.parquet", max_files_per_trigger=1)
    got = run_to_memory_table(dedup_counts(stream, watermark="35 days"), "dedup2", "complete")
    single = read_event_stream(spark, SF)
    want = run_to_memory_table(dedup_counts(single), "dedup1", "complete")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    n_total = sum(r["n"] for r in got.collect())
    n_rows = spark.read.parquet(f"{SF}/events.parquet").count()
    assert n_total == n_rows  # one copy of each event, not two


def test_incremental_rollup_merges_only_touched_partitions(spark, tmp_path):
    """Update-mode rollup sink: final store equals the batch aggregate,
    and once the stream moves past a day, that day's partition stops
    being rewritten (the complete-mode sink rewrites everything every
    batch — this is the scale-correct form)."""
    from data_engineer_project_spark.sources.registry import normalize_event_ts
    from data_engineer_project_spark.streaming import (
        read_event_stream,
        run_incremental_rollup,
    )

    d = _write_parts(tmp_path, 6)

    def rollup(e):
        return (
            e.withWatermark("ts", "30 minutes")
            .groupBy(
                F.window("ts", "1 hour").alias("w"), "event_type"
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n",
                F.to_date("w.start").alias("day"),
            )
        )

    stream = read_event_stream(spark, d, glob="*.parquet", max_files_per_trigger=1)
    store = str(tmp_path / "rollup_store")
    touched: list[tuple[int, list]] = []
    run_incremental_rollup(
        rollup(stream),
        store,
        key_cols=["window_start", "event_type"],
        partition_col="day",
        checkpoint_location=str(tmp_path / "ckpt"),
        on_batch=lambda bid, parts: touched.append((bid, parts)),
    )

    want = sorted(
        map(
            tuple,
            rollup(
                normalize_event_ts(spark.read.parquet(f"{d}/*.parquet"))
            ).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            spark.read.parquet(store)
            .select("window_start", "event_type", "n", "day")
            .collect(),
        )
    )
    # partition col round-trips as date; compare on the same columns
    assert got == want

    # multiple batches ran, and the first day's partition is NOT
    # rewritten by the final batch (time-ordered input => early
    # partitions age out of the touched set)
    assert len(touched) >= 3
    first_day = min(p for _, parts in touched for p in parts)
    assert first_day not in dict(touched)[max(b for b, _ in touched)]


def test_incremental_rollup_replay_converges(spark, tmp_path):
    """The docstring claims replay is safe: re-processing the same
    input into an existing store (fresh checkpoint, so every batch is
    reprocessed) must leave the store exactly as a single run would —
    the per-partition overwrite upsert is idempotent for deterministic
    aggregates."""
    from data_engineer_project_spark.streaming import (
        read_event_stream,
        run_incremental_rollup,
    )

    d = _write_parts(tmp_path, 3)

    def agg():
        stream = read_event_stream(spark, d, glob="*.parquet", max_files_per_trigger=1)
        return (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n",
                F.to_date("w.start").alias("day"),
            )
        )

    store = str(tmp_path / "store")
    run_incremental_rollup(
        agg(), store, ["window_start", "event_type"], "day",
        checkpoint_location=str(tmp_path / "ckpt1"),
    )
    once = sorted(map(tuple, spark.read.parquet(store).collect()))
    # full replay into the SAME store with a fresh checkpoint
    run_incremental_rollup(
        agg(), store, ["window_start", "event_type"], "day",
        checkpoint_location=str(tmp_path / "ckpt2"),
    )
    twice = sorted(map(tuple, spark.read.parquet(store).collect()))
    assert twice == once


def test_read_event_stream_starts_on_empty_directory(spark, tmp_path):
    """A stream must be startable before its first file arrives: the
    ts-type probe has no footer to read, so the reader falls back to
    the micros-era timestamp schema instead of raising."""
    from pyspark.sql.types import TimestampType

    from data_engineer_project_spark.streaming.events import read_event_stream

    empty = tmp_path / "no_files_yet"
    empty.mkdir()
    stream = read_event_stream(spark, str(empty))
    assert stream.isStreaming
    assert isinstance(stream.schema["ts"].dataType, TimestampType)


def test_store_has_partitions_uses_hadoop_fs(spark, tmp_path):
    from data_engineer_project_spark.streaming.events import _store_has_partitions

    missing = tmp_path / "nope"
    assert _store_has_partitions(spark, str(missing)) is False
    flat = tmp_path / "flat"
    flat.mkdir()
    (flat / "part-0000.parquet").write_bytes(b"")
    assert _store_has_partitions(spark, str(flat)) is False
    store = tmp_path / "store"
    (store / "day=2024-01-01").mkdir(parents=True)
    assert _store_has_partitions(spark, str(store)) is True


def test_document_quality_gate_multibatch_equals_batch(spark, tmp_path):
    """s10's contract across micro-batches: two part-files processed
    one per trigger must converge to the same per-lang tallies as a
    single batch pass (complete-mode agg state carries between
    batches)."""
    from pyspark.sql import functions as F

    from data_engineer_project_spark.functions import text as T
    from data_engineer_project_spark.streaming import read_document_stream
    from data_engineer_project_spark.streaming.events import run_to_memory_table

    import pyarrow.parquet as pq

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tbl = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    half = tbl.num_rows // 2
    d = tmp_path / "docs_stream"
    d.mkdir()
    # plain FILES (not directory datasets): the stream's pathGlobFilter
    # matches file names, mirroring the driver's sf-dir layout
    pq.write_table(tbl.slice(0, half), d / "documents_a.parquet")
    pq.write_table(tbl.slice(half), d / "documents_b.parquet")

    def gate(df):
        n_words = T.token_count("text")
        sr = T.stopword_count("text").cast("double") / n_words.cast("double")
        return (
            df.filter(n_words.between(20, 120) & (sr < 0.3))
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(T.bpe_token_estimate("text")).alias("survivor_tokens"),
            )
        )

    stream = read_document_stream(
        spark, str(d), glob="documents_*.parquet", max_files_per_trigger=1
    )
    got = {
        r["lang"]: (r["n_docs"], r["survivor_tokens"])
        for r in run_to_memory_table(gate(stream), "s10_mb", "complete").collect()
    }
    want = {
        r["lang"]: (r["n_docs"], r["survivor_tokens"])
        for r in gate(docs).collect()
    }
    assert got == want


def test_stream_corpus_dedup_drops_planted_duplicate(spark, tmp_path):
    """s11 semantics up close: an arriving doc whose text already
    exists in the static corpus half must be dropped; a novel doc in
    the same micro-batch must survive.

    md5 buckets of the doc ids (engine-portable content addressing):
    1→96, 4→68 land in the incoming half (≥50); 2→0, 3→36, 5→28 in
    the corpus half (<50). Doc 1 duplicates corpus doc 3's text; doc 4
    is novel — only 4 may survive."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_engineer_project_spark.queries import QUERIES

    dup_text = "alpha beta gamma delta epsilon"
    texts = [
        dup_text,                      # 1: incoming, duplicates corpus doc 3
        "corpus only text one",        # 2: corpus
        dup_text,                      # 3: corpus (the duplicated original)
        "totally novel arrival text",  # 4: incoming, novel
        "corpus only text two",        # 5: corpus
    ]
    rows = {
        "doc_id": [1, 2, 3, 4, 5],
        "text": texts,
        "lang": ["en"] * 5,
        "source": ["t"] * 5,
        "n_chars": [len(s) for s in texts],
    }
    sf = tmp_path / "sf_s11"
    sf.mkdir()
    pq.write_table(
        pa.table({k: pa.array(v) for k, v in rows.items()}), sf / "documents.parquet"
    )
    got = {
        r["doc_id"]
        for r in QUERIES["s11_stream_dedup_against_corpus"].fn(spark, str(sf)).collect()
    }
    assert got == {4}, f"expected only the novel arrival to survive, got {got}"


def test_document_stream_dir_dataset_fallback_and_loud_failure(spark, tmp_path):
    """ADVICE r4: pathGlobFilter matches file NAMES, so a directory-
    dataset documents.parquet/ would silently stream nothing. The
    reader must fall back to streaming inside the directory — and a
    glob that matches nothing anywhere must fail at setup, not emit
    empty micro-batches forever."""
    import pyarrow.parquet as pq
    import pytest
    from pyspark.sql import functions as F

    from data_engineer_project_spark.streaming import read_document_stream
    from data_engineer_project_spark.streaming.events import run_to_memory_table

    tbl = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    d = tmp_path / "sfdir"
    (d / "documents.parquet").mkdir(parents=True)
    pq.write_table(tbl.slice(0, 100), d / "documents.parquet" / "part-0.parquet")

    stream = read_document_stream(spark, str(d))
    got = run_to_memory_table(
        stream.groupBy("lang").agg(F.count(F.lit(1)).alias("n")),
        "docs_dirset",
        "complete",
    ).collect()
    assert sum(r["n"] for r in got) == 100

    with pytest.raises(RuntimeError, match="no parquet files match"):
        read_document_stream(spark, str(tmp_path / "nothing_here"))


def test_s12_late_row_beyond_watermark_is_dropped(spark, tmp_path):
    """The watermark contract s12 gates has a second half the single-
    batch gate can't show: a row arriving AFTER its window was closed
    by the watermark is dropped from the aggregate. One wrinkle pinned
    here deliberately: Spark filters late events with a watermark that
    LAGS eviction by one batch (StateStoreSave carries separate
    late-events and eviction watermarks), so the stale row must arrive
    two batches after the data that advanced the watermark — batches
    1+2 carry everything except one event from the earliest hour
    window, batch 3 carries only that stale event, which is dropped
    and its window (holding no other rows) never appears."""
    tbl = pq.read_table(f"{SF}/events.parquet")
    ts = tbl["ts"].cast(pa.timestamp("us")).to_pylist()
    victim = min(range(len(ts)), key=lambda i: ts[i])
    mask = [i != victim for i in range(len(ts))]
    main = tbl.filter(pa.array(mask))
    half = main.num_rows // 2
    d = tmp_path / "late_parts"
    d.mkdir()
    parts = [main.slice(0, half), main.slice(half), tbl.slice(victim, 1)]
    for i, part in enumerate(parts):
        p = d / f"part-{i:03d}.parquet"
        pq.write_table(part, p)
        os.utime(p, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))

    stream = read_event_stream(spark, str(d), glob="*.parquet", max_files_per_trigger=1)
    appended = run_to_memory_table(
        tumbling_counts(stream, watermark="30 minutes"), "t_late_drop", "append"
    )
    victim_row = spark.createDataFrame(
        [(ts[victim],)], "vts timestamp"
    ).collect()[0]
    victim_start = victim_row["vts"].replace(minute=0, second=0, microsecond=0)
    victim_type = tbl["event_type"][victim].as_py()
    batch_n = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter(
            (F.date_trunc("hour", "ts") == F.lit(victim_start))
            & (F.col("event_type") == victim_type)
        )
        .count()
    )
    assert batch_n == 1, "victim must be alone in its (window, type) group"
    got = appended.filter(
        (F.col("window_start") == F.lit(victim_start))
        & (F.col("event_type") == victim_type)
    ).collect()
    assert got == [], "the late row must have been dropped, not re-emitted"


def test_stream_probe_reraises_real_read_errors(spark, tmp_path, monkeypatch):
    """A probe-time failure that is NOT absence (permissions, transient
    FS fault) must surface as the underlying error, not be misreported
    as 'no parquet files match' — absence and breakage are different
    diagnoses. (A corrupt FOOTER passes the schema-only listing probe
    and correctly errors at stream start instead — the probe never
    reads footers.)"""
    from pyspark.sql.readwriter import DataFrameReader

    from data_engineer_project_spark.streaming import read_document_stream

    def boom(self, *a, **k):
        raise RuntimeError("simulated transient FS failure")

    monkeypatch.setattr(DataFrameReader, "parquet", boom)
    with pytest.raises(RuntimeError, match="simulated transient FS failure"):
        read_document_stream(spark, str(tmp_path))


def test_s14_cutoffs_equal_quadratic_rule(spark, sf_dir):
    """The isqrt-derived integer cutoff flags exactly the windows the
    e11 quadratic form flags — the stream and the batch detector agree
    window-for-window."""
    from data_engineer_project_spark.queries import QUERIES

    got = {
        (r["event_type"], r["window_start"], r["cnt"])
        for r in QUERIES["s14_stream_rate_anomaly_gate"].fn(spark, sf_dir).collect()
    }
    e11 = {
        (r["event_type"], r["hour"], r["cnt"])
        for r in QUERIES["e11_event_rate_anomalies"].fn(spark, sf_dir).collect()
    }
    assert got == e11
    assert got, "fixture data should contain at least one spike"


def test_streaming_ohlc_multibatch_equals_batch(spark, tmp_path):
    """min_by/max_by streaming state must merge exactly across
    micro-batches: a 4-file one-file-per-trigger run (events split in
    time order, so a window's open and close can arrive in DIFFERENT
    batches) must equal both the single-batch streaming run and the
    plain batch aggregate."""
    from data_engineer_project_spark.sources.registry import normalize_event_ts
    from data_engineer_project_spark.streaming import ohlc_bars

    d = _write_parts(tmp_path, 4)
    sliced = run_to_memory_table(
        ohlc_bars(
            read_event_stream(spark, d, glob="*.parquet", max_files_per_trigger=1)
        ),
        "ohlc_sliced",
        "complete",
    )
    single = run_to_memory_table(
        ohlc_bars(read_event_stream(spark, SF)), "ohlc_single", "complete"
    )
    from data_engineer_project_spark.functions.ordering import ohlc_order_key

    key = ohlc_order_key()
    batch = (
        normalize_event_ts(spark.read.parquet(f"{SF}/events.parquet"))
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
            "event_type", "open", "high", "low", "close", "n_events",
        )
    )
    got = sorted(map(tuple, sliced.collect()))
    assert got == sorted(map(tuple, single.collect()))
    assert got == sorted(map(tuple, batch.collect()))


def _policy_gated_plan(spark, n_types: int) -> str:
    """s14's shape with a synthetic n-type policy: broadcast
    stream-static left join BEFORE the windowed aggregation."""
    policy = spark.createDataFrame(
        [(f"type_{i}", i % 97) for i in range(n_types)],
        "event_type string, cutoff long",
    )
    gated = (
        read_event_stream(spark, SF)
        .join(F.broadcast(policy), "event_type", "left")
        .withColumn("cutoff", F.coalesce("cutoff", F.lit(0).cast("long")))
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), "event_type", "cutoff")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= F.col("cutoff"))
    )
    return gated._jdf.queryExecution().analyzed().toString()


def test_s14_policy_gate_plan_flat_in_type_count(spark):
    """Round-6 pin: the rate-anomaly policy is a broadcast relation,
    not a literal CASE tree — the stream plan must NOT grow with the
    number of event types (the old chained-when form grew one branch
    per type and got silly past ~10^3 types)."""
    small = _policy_gated_plan(spark, 10)
    big = _policy_gated_plan(spark, 1000)
    # the 100x type count may not add even one percent of plan text
    assert len(big) <= len(small) * 1.01, (len(small), len(big))
    # and no per-type branches anywhere
    assert big.count("CASE WHEN") <= 2, big.count("CASE WHEN")


def test_s21_cms_grid_multibatch_equals_batch(spark, tmp_path):
    """CMS counters must merge by SUM across micro-batches exactly: a
    4-file one-file-per-trigger run (users split across batches, so
    one user's events land in several batches) must produce the same
    (row_j, idx, counter) grid as the single-batch streaming run and
    as the plain batch fold over the same rows."""
    from data_engineer_project_spark.queries.streaming_queries import (
        s21_cms_grid,
    )
    from data_engineer_project_spark.sources.registry import normalize_event_ts

    d = _write_parts(tmp_path, 4)
    sliced = run_to_memory_table(
        s21_cms_grid(
            read_event_stream(spark, d, glob="*.parquet", max_files_per_trigger=1)
        ),
        "cms_sliced",
        "complete",
    )
    single = run_to_memory_table(
        s21_cms_grid(read_event_stream(spark, SF)), "cms_single", "complete"
    )
    batch = s21_cms_grid(
        normalize_event_ts(spark.read.parquet(f"{SF}/events.parquet"))
    )
    got = sorted(map(tuple, sliced.collect()))
    assert got == sorted(map(tuple, single.collect()))
    assert got == sorted(map(tuple, batch.collect()))
    assert len(got) <= 3 * 1024


def test_s22_manifest_multibatch_equals_batch_and_prefix_exact(
    spark, tmp_path
):
    """s22's contract: (a) two part-files processed one per trigger
    converge to d91's batch manifest (same shards, counts, checksums);
    (b) the checksums are PREFIX-exact — after the full drain, each
    shard's sums equal the pure sum of its docs' terms regardless of
    which batch carried them (order/batching independence is the whole
    point of sum-checksums)."""
    import hashlib

    import pyarrow.parquet as pq

    from data_engineer_project_spark.queries import QUERIES
    from data_engineer_project_spark.streaming import read_document_stream
    from data_engineer_project_spark.streaming.events import (
        run_to_memory_table,
    )
    from pyspark.sql import functions as F
    from data_engineer_project_spark.queries.llm_pipeline import (
        D91_ID_S,
        D91_PAY_S,
        D91_SHARD_S,
    )

    tbl = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    half = tbl.num_rows // 2
    d = tmp_path / "docs_stream"
    d.mkdir()
    pq.write_table(tbl.slice(0, half), d / "documents_a.parquet")
    pq.write_table(tbl.slice(half), d / "documents_b.parquet")

    stream = read_document_stream(
        spark, str(d), glob="documents_*.parquet", max_files_per_trigger=1
    ).select(
        "doc_id",
        "n_chars",
        F.expr(D91_SHARD_S).alias("shard"),
        F.expr(D91_PAY_S).alias("pay_ck"),
        F.expr(D91_ID_S).alias("id_ck"),
    )
    manifest = (
        stream.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("pay_ck").cast("long").alias("payload_checksum"),
            F.sum("id_ck").cast("long").alias("id_checksum"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )
    got = {
        int(r.shard): (
            r.n_docs, r.total_chars, r.payload_checksum, r.id_checksum,
            r.min_doc, r.max_doc,
        )
        for r in run_to_memory_table(manifest, "s22_mb", "complete")
        .collect()
    }

    # (a) equals the batch twin d91 (shared columns)
    want = {
        int(r.shard): (
            r.n_docs, r.total_chars, r.payload_checksum, r.id_checksum,
            r.min_doc, r.max_doc,
        )
        for r in QUERIES["d91_shard_manifest"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert got == want

    # (b) pure-Python prefix-exactness from the raw parquet
    def h(s, dgt):
        return int(hashlib.md5(s.encode()).hexdigest()[:dgt], 16)

    pp = {}
    cols = tbl.to_pydict()
    for i, txt in enumerate(cols["text"]):
        sh = h(txt, 2) % 16
        a = pp.setdefault(sh, [0, 0])
        a[0] += h(txt, 4)
        a[1] += h(f"{cols['doc_id'][i]}:{cols['n_chars'][i]}", 4)
    for sh, (pay, idc) in pp.items():
        assert got[sh][2] == pay and got[sh][3] == idc


def _s27_expected(spark, docs_df):
    """Closed-form expectation for s27 over an arbitrary documents
    DataFrame: per-window doc/quarantine counts over non-empty docs,
    emitted only where the 1-hour watermark proves the window final
    (window_end <= max(minute offset) - 60)."""
    m = (
        docs_df.filter(F.octet_length("text") > 0)
        .select(
            (F.col("doc_id") % 720).alias("mins"),
            F.when(F.col("doc_id") % 37 == 0, 1).otherwise(0).alias("bad"),
        )
    )
    mm = m.agg(F.max("mins")).collect()[0][0]
    rows = (
        m.groupBy((F.col("mins") / 60).cast("long").alias("window_no"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("bad").alias("n_quarantined"),
        )
        .filter(60 * (F.col("window_no") + 1) <= mm - 60)
        .orderBy("window_no")
        .collect()
    )
    return [(r.window_no, r.n_docs, r.n_quarantined) for r in rows]


def test_s27_withholds_unfinal_windows(spark):
    """The append contract is only proven if the newest windows are
    MISSING: a complete-mode run would emit every window, so the gap
    between 'all windows with data' and 'emitted windows' is the
    watermark's signature. Counts per emitted window must match the
    closed-form expectation exactly."""
    from data_engineer_project_spark.queries import QUERIES

    got = [
        (r.window_no, r.n_docs, r.n_quarantined)
        for r in QUERIES["s27_stream_media_quarantine_rate"].fn(spark, SF).collect()
    ]
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    expected = _s27_expected(spark, docs)
    assert got == expected and len(got) > 0
    # the withheld tail exists: at least one window with data did NOT emit
    all_windows = (
        docs.filter(F.octet_length("text") > 0)
        .select(((F.col("doc_id") % 720) / 60).cast("long").alias("w"))
        .distinct()
        .count()
    )
    assert len(got) < all_windows


def test_s27_multibatch_in_order_equals_single_batch(spark, tmp_path):
    """Two in-order micro-batches (low minute offsets, then high) must
    finalize exactly the same window set as the one-batch run: the
    watermark advances across batches and the no-data flush closes the
    same frontier. Pins cross-batch state merge for the quarantine
    windows (the s12 late-row test pins the drop side of the same
    machinery). Drives the SHARED s27 pipeline builder, not an inline
    copy, so the pin tracks the shipped query."""
    from data_engineer_project_spark.queries.streaming_queries import (
        s27_windowed_rates,
    )
    from data_engineer_project_spark.streaming import read_document_stream

    tbl = pq.read_table(f"{SF}/documents.parquet")
    offs = [d % 720 for d in tbl["doc_id"].to_pylist()]
    lo = tbl.filter(pa.array([o < 300 for o in offs]))
    hi = tbl.filter(pa.array([o >= 300 for o in offs]))
    d = tmp_path / "doc_parts"
    d.mkdir()
    for i, part in enumerate((lo, hi)):
        p = d / f"part-{i:03d}.parquet"
        pq.write_table(part, p)
        os.utime(p, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))

    docs = read_document_stream(spark, str(d), glob="*.parquet", max_files_per_trigger=1)
    out = run_to_memory_table(
        s27_windowed_rates(docs), "s27_multibatch", "append"
    )
    got = [
        (r.window_no, r.n_docs, r.n_quarantined)
        for r in out.orderBy("window_no").collect()
    ]
    expected = _s27_expected(spark, spark.read.parquet(f"{SF}/documents.parquet"))
    assert got == expected


@contextlib.contextmanager
def _split_conf(spark, max_part: int, open_cost: int):
    """Set the real file-split confs for the block, restoring the
    session's values afterwards."""
    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    old = [spark.conf.get(k) for k in keys]
    try:
        for k, v in zip(keys, (max_part, open_cost)):
            spark.conf.set(k, str(v))
        yield
    finally:
        for k, v in zip(keys, old):
            spark.conf.set(k, v)


def test_fanout_small_stream_guard_decisions(spark, tmp_path):
    """The stream fan-out guard decides from the split count Spark
    reports for the batch scan of the stream's source (streams can't
    be introspected): a single-split source fires the repartition; a
    source Spark already splits >= default-parallelism ways passes
    through untouched (the 100 TB no-op contract); a stream with no
    scan, or a scan that cannot be sized, passes through; a batch
    frame is sized by its own scan."""
    from data_engineer_project_spark.operators.fanout import fanout_small
    from data_engineer_project_spark.streaming import read_document_stream

    src = f"{SF}/documents.parquet"
    target = spark.sparkContext.defaultParallelism
    stream = read_document_stream(spark, SF)
    # tiny flat file -> one split -> fires: the returned frame is a new plan node
    assert spark.read.parquet(src).rdd.getNumPartitions() == 1 < target
    fanned = fanout_small(stream, scan=spark.read.parquet(src))
    assert fanned is not stream
    assert fanned.isStreaming
    # shrink the split size so Spark splits the same file >= cores ways
    with _split_conf(spark, 1024, 1024):
        scan = spark.read.parquet(src)
        assert scan.rdd.getNumPartitions() >= target
        assert fanout_small(stream, scan=scan) is stream
    # no scan, or a scan Spark cannot size -> conservative pass-through
    assert fanout_small(stream) is stream
    assert fanout_small(stream, scan=stream) is stream
    # batch frames are sized by their own scan
    batch = spark.read.parquet(src)
    out = fanout_small(batch)
    assert not out.isStreaming


def test_fanout_stream_estimator_tracks_spark_partitioning(spark, tmp_path):
    """The stream guard's decision follows the ACTUAL partition count
    of a batch scan over the same files, in BOTH regimes it
    distinguishes: split-starved (Spark below the core count -> the
    fan-out fires on the stream) and healthily-split (at/above -> the
    guard is a no-op; the r14 review's failure band was re-shuffling
    sources Spark already delivers cores-way)."""
    import pyspark.sql.functions as SF

    from data_engineer_project_spark.operators.fanout import fanout_small

    src = tmp_path / "docs"
    src.mkdir()
    spark.range(0, 20000).select(
        SF.col("id").alias("doc_id"),
        SF.repeat(SF.lit("x"), 200).alias("text"),
    ).coalesce(1).write.mode("overwrite").parquet(str(src))
    target = spark.sparkContext.defaultParallelism
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))

    for max_part, open_cost, starved in (
        # defaults: one ~80 KB file is a single split, starved
        (134217728, 4194304, True),
        # shrunk splits: Spark delivers >= cores partitions
        (2048, 1024, False),
    ):
        with _split_conf(spark, max_part, open_cost):
            scan = spark.read.parquet(str(src))
            actual = scan.rdd.getNumPartitions()
            fired = fanout_small(stream, scan=scan) is not stream
        assert fired == (actual < target), (max_part, open_cost, actual, target)
        assert (actual < target) == starved, (actual, target, starved)


def test_fanout_fires_on_a_source_split_fewer_ways_than_cores(spark, tmp_path):
    """The layout a hand copy of Spark's FilePartition math got wrong:
    one file Spark splits 3 ways (split size = openCostInBytes = 0.4 x
    the file) while ``total / split`` with the open cost added rounds
    up to 4. On 4 cores the copy called the source healthy; the guard
    reads Spark's own count, so it must fan the stream out."""
    import pandas as pd

    from data_engineer_project_spark.operators.fanout import fanout_small

    target = spark.sparkContext.defaultParallelism
    if target < 4:
        pytest.skip("a 3-split source is only starved at >= 4 cores")
    src = tmp_path / "docs"
    src.mkdir()
    p = src / "part-0.parquet"
    pd.DataFrame(
        {"doc_id": range(5000), "text": [f"doc {i} " * 8 for i in range(5000)]}
    ).to_parquet(p)
    size = os.path.getsize(p)
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    with _split_conf(spark, 134217728, size * 2 // 5):
        scan = spark.read.parquet(str(src))
        assert scan.rdd.getNumPartitions() == 3
        fanned = fanout_small(stream, scan=scan)
    assert fanned is not stream
    assert fanned.isStreaming
