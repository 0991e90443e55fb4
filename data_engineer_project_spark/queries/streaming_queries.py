"""Streaming catalog queries (s01–s04): the Structured Streaming
pipelines from ``streaming/events.py`` executed to completion with
``trigger(availableNow=True)`` and returned as batch DataFrames, so the
driver's DuckDB hash gate verifies streaming semantics end-to-end.

Determinism contract: the driver's sf dirs hold ONE events.parquet
file, so an availableNow run is a single micro-batch — complete-mode
results equal the full-history aggregate, and the update-mode stateful
query emits exactly one row per key. Multi-batch behavior (watermark
closing windows across batches, state carried between batches) is
covered by tests/test_streaming.py with a controlled multi-file input.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from data_engineer_project_spark.functions.ordering import OHLC_KEY_SQL
from data_engineer_project_spark.functions.text import STOPWORDS as T_STOPWORDS
from data_engineer_project_spark.queries.catalog import query
from data_engineer_project_spark.streaming import (
    enrich_with_static,
    read_event_stream,
    run_to_memory_table,
    sessionize,
    sliding_totals,
    stateful_user_stats,
    tumbling_counts,
)


def _stream(t):
    return read_event_stream(t._spark, t._sf_dir)


@query(
    "s01_stream_tumbling_hour",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL '1 hour' AS window_end,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2, 3
    """,
    tags=("streaming", "window"),
)
def s01_stream_tumbling_hour(t):
    """readStream → watermark → tumbling 1h window per event_type →
    memory sink (complete). Batch twin: e01_tumbling_window."""
    return run_to_memory_table(tumbling_counts(_stream(t)), "tumbling", "complete")


@query(
    "s02_stream_sliding",
    """
    WITH marks AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', value
      FROM events
    )
    SELECT window_start, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM marks GROUP BY 1
    """,
    tags=("streaming", "window"),
)
def s02_stream_sliding(t):
    """readStream sliding 1h/30min windows (each event in two windows);
    complete mode. Batch twin: e02_sliding_window."""
    return run_to_memory_table(sliding_totals(_stream(t)), "sliding", "complete")


@query(
    "s03_stream_sessionization",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '5 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, event_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_no
      FROM ordered
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS last_event,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, session_no
    """,
    tags=("streaming", "sessions"),
)
def s03_stream_sessionization(t):
    """readStream merging session_window (5-min gap) per user; complete
    mode. Oracle: gaps-and-islands SQL. Batch twin: e03_sessionization."""
    return run_to_memory_table(sessionize(_stream(t)), "sessions", "complete")


@query(
    "s04_stream_stateful_user_stats",
    """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY user_id
    """,
    tags=("streaming", "stateful"),
)
def s04_stream_stateful_user_stats(t):
    """Custom stateful operator (applyInPandasWithState): per-user
    running count + exact-cents total, update mode. Single input file →
    single micro-batch → one (final) row per user, equal to the batch
    aggregate the oracle computes."""
    return run_to_memory_table(stateful_user_stats(_stream(t)), "user_stats", "update")


@query(
    "s05_stream_static_join",
    """
    WITH tiers AS (
      SELECT user_id,
             CASE WHEN COUNT(*) >= 67 THEN 'heavy' ELSE 'light' END AS tier
      FROM events GROUP BY user_id
    )
    SELECT tier, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events e JOIN tiers t ON e.user_id = t.user_id
    GROUP BY tier
    """,
    tags=("streaming", "join"),
)
def s05_stream_static_join(t):
    """Stream-static join: the event stream enriched with a batch-built
    per-user tier dimension (integer count threshold — exact on both
    engines), then aggregated per tier; complete mode. The static side
    is broadcast per micro-batch, no state store."""
    spark, sf_dir = t._spark, t._sf_dir
    tiers = (
        t.events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_ev"))
        .select(
            "user_id",
            F.when(F.col("n_ev") >= 67, "heavy").otherwise("light").alias("tier"),
        )
    )
    stream = enrich_with_static(read_event_stream(spark, sf_dir), tiers, "user_id")
    agg = stream.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100.0
        ).alias("total_value"),
    )
    return run_to_memory_table(agg, "static_join", "complete")


@query(
    "s06_stream_stream_join",
    """
    SELECT p.event_id AS purchase_id, s.event_id AS signup_id,
           p.user_id, s.ts AS signup_ts, p.ts AS purchase_ts
    FROM events p JOIN events s
      ON p.user_id = s.user_id
     AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL '1 hour'
    WHERE p.event_type = 'purchase' AND s.event_type = 'signup'
    """,
    tags=("streaming", "join"),
)
def s06_stream_stream_join(t):
    """Stream-stream inner join with an event-time bound (purchases ≤1h
    after the same user's signup): both sides watermarked, the time
    bound lets Spark expire join state. Append mode — matches emit as
    found; single input file → all matches in one batch."""
    from data_engineer_project_spark.streaming import purchases_after_signup

    spark, sf_dir = t._spark, t._sf_dir
    purchases = read_event_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    signups = read_event_stream(spark, sf_dir).filter(F.col("event_type") == "signup")
    joined = purchases_after_signup(purchases, signups)
    return run_to_memory_table(joined, "ss_join", "append")


@query(
    "s07_stream_dedup",
    """
    SELECT event_type, COUNT(DISTINCT event_id) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
    tags=("streaming", "dedup"),
)
def s07_stream_dedup(t):
    """readStream → dropDuplicatesWithinWatermark(event_id) → per-type
    aggregate: exactly-once counts under at-least-once delivery, with
    seen-id state bounded by the watermark. The driver table has unique
    ids (dedup is a pass-through here); redelivery semantics are proven
    by tests/test_streaming.py replaying a duplicate input file."""
    from data_engineer_project_spark.streaming import dedup_counts

    return run_to_memory_table(dedup_counts(_stream(t)), "dedup", "complete")


@query(
    "s08_stream_stream_left_outer",
    """
    WITH wm AS (
      SELECT least((SELECT max(ts) FROM events WHERE event_type = 'signup'),
                   (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
             - INTERVAL 30 minutes AS w
    )
    SELECT s.event_id AS signup_id, s.user_id, s.ts AS signup_ts,
           p.event_id AS purchase_id, p.ts AS purchase_ts
    FROM events s JOIN events p
      ON p.user_id = s.user_id
     AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL '1 hour'
    WHERE s.event_type = 'signup' AND p.event_type = 'purchase'
    UNION ALL
    SELECT s.event_id, s.user_id, s.ts,
           CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP)
    FROM events s, wm
    WHERE s.event_type = 'signup'
      AND NOT EXISTS (SELECT 1 FROM events p
                      WHERE p.event_type = 'purchase' AND p.user_id = s.user_id
                        AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL '1 hour')
      AND s.ts + INTERVAL '1 hour' < wm.w
    """,
    tags=("streaming", "join", "outer"),
)
def s08_stream_stream_left_outer(t):
    """Stream-stream LEFT OUTER join (abandonment detection): every
    signup with its ≤1h purchase, or nulls once the watermark proves no
    purchase can still arrive. The oracle splits that into matches
    UNION proven-unmatched signups whose join window closed before the
    final watermark (min of both sides' max event time − 30 min) —
    exactly Spark's state-eviction rule, verified row-for-row."""
    from data_engineer_project_spark.streaming import signups_with_purchase_outcome

    spark, sf_dir = t._spark, t._sf_dir
    purchases = read_event_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    signups = read_event_stream(spark, sf_dir).filter(F.col("event_type") == "signup")
    joined = signups_with_purchase_outcome(purchases, signups)
    return run_to_memory_table(joined, "ss_left_outer", "append")


@query(
    "s09_incremental_rollup",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           event_type, COUNT(*) AS n,
           CAST(date_trunc('hour', ts) AS DATE) AS day
    FROM events GROUP BY 1, 2, 4
    """,
    tags=("streaming", "sink", "rollup"),
)
def s09_incremental_rollup(t):
    """Update-mode rollup landed through the partition-merging parquet
    sink (run_incremental_rollup), read back from the store. Each batch
    rewrites only the day-partitions it touched — the scale-correct
    alternative to complete-mode full rewrites; multi-batch merge
    semantics are pinned by tests/test_streaming.py."""
    import shutil
    import tempfile

    from data_engineer_project_spark.streaming import run_incremental_rollup

    agg = (
        _stream(t)
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            F.to_date("w.start").alias("day"),
        )
    )
    tmp = tempfile.mkdtemp(prefix="s09_rollup_")
    store = f"{tmp}/store"
    try:
        run_incremental_rollup(
            agg,
            store,
            key_cols=["window_start", "event_type"],
            partition_col="day",
            checkpoint_location=f"{tmp}/ckpt",
        )
        out = t._spark.read.parquet(store).select(
            "window_start", "event_type", "n", F.col("day").cast("date").alias("day")
        )
        # materialize off the temp files before they are deleted
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_S10_SW = ", ".join(f"'{w}'" for w in T_STOPWORDS)


@query(
    "s10_stream_quality_gate",
    f"""
    WITH scored AS (
      SELECT lang,
             length(string_split(text, ' ')) AS n_words,
             CAST(length(list_filter(string_split(text, ' '),
                                     x -> x IN ({_S10_SW}))) AS DOUBLE)
               / CAST(length(string_split(text, ' ')) AS DOUBLE) AS sr,
             CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_tokens
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(est_tokens) AS BIGINT) AS survivor_tokens
    FROM scored
    WHERE n_words BETWEEN 20 AND 120 AND sr < 0.3
    GROUP BY lang
    """,
    tags=("streaming", "llm", "quality"),
)
def s10_stream_quality_gate(t):
    """Streaming intake quality gate: documents arrive as a file
    stream, each micro-batch is scored with the d02 filter (word-count
    band + stopword-ratio ceiling) and survivors roll into a per-lang
    running doc/token tally — the continuously-ingesting front door of
    a training-data pipeline (complete mode; stateless filter + one
    streaming agg keyed by a bounded lang domain, so state is tiny and
    needs no watermark). Batch/oracle twin applies the same filter in
    SQL; integer token sums keep parity exact."""
    from data_engineer_project_spark.functions import text as T
    from data_engineer_project_spark.streaming import read_document_stream

    docs = read_document_stream(t._spark, t._sf_dir)
    n_words = T.token_count("text")
    sr = T.stopword_count("text").cast("double") / n_words.cast("double")
    survivors = docs.filter(n_words.between(20, 120) & (sr < 0.3))
    agg = survivors.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(T.bpe_token_estimate("text")).alias("survivor_tokens"),
    )
    return run_to_memory_table(agg, "quality_gate", "complete")


_S11_BUCKET = (
    "((instr('0123456789abcdef', substring(md5(cast(doc_id as string)), 1, 1)) - 1) * 16"
    " + instr('0123456789abcdef', substring(md5(cast(doc_id as string)), 2, 1)) - 1) % 100"
)
_S11_BUCKET_DUCK = _S11_BUCKET.replace("as string", "as varchar")


@query(
    "s11_stream_dedup_against_corpus",
    f"""
    WITH corpus AS (
      SELECT DISTINCT md5(text) AS fp FROM documents
      WHERE {_S11_BUCKET_DUCK} < 50
    ),
    incoming AS (
      SELECT doc_id, lang, md5(text) AS fp FROM documents
      WHERE {_S11_BUCKET_DUCK} >= 50
    )
    SELECT i.doc_id, i.lang
    FROM incoming i LEFT JOIN corpus c ON i.fp = c.fp
    WHERE c.fp IS NULL
    """,
    tags=("streaming", "llm", "dedup"),
)
def s11_stream_dedup_against_corpus(t):
    """Incremental ingestion dedup: newly-arriving documents (a file
    stream, here the content-addressed upper half of the table) are
    anti-joined on their exact-text fingerprint against the EXISTING
    corpus (static lower half) and only novel texts survive — the
    streaming front-door twin of d05's batch exact dedup. Stateless
    stream-static anti-join → append mode, no watermark, no state
    store; at scale the static side is a broadcast- or bucketed-
    fingerprint table. md5 hex is engine-portable, so the oracle is
    the same anti-join in SQL."""
    from data_engineer_project_spark.streaming import read_document_stream

    b = F.expr(_S11_BUCKET)
    incoming = (
        read_document_stream(t._spark, t._sf_dir)
        .withColumn("bucket", b)
        .filter(F.col("bucket") >= 50)
        .select("doc_id", "lang", F.md5("text").alias("fp"))
    )
    corpus = (
        t.documents.withColumn("bucket", b)
        .filter(F.col("bucket") < 50)
        .select(F.md5("text").alias("fp"))
        .distinct()
    )
    survivors = incoming.join(corpus, "fp", "left_anti").select("doc_id", "lang")
    return run_to_memory_table(survivors, "stream_corpus_dedup", "append")


@query(
    "s12_stream_append_final_windows",
    """
    WITH mx AS (SELECT MAX(ts) AS mt FROM events),
    agg AS (
      SELECT date_trunc('hour', ts) AS window_start,
             date_trunc('hour', ts) + INTERVAL '1 hour' AS window_end,
             event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events GROUP BY 1, 2, 3
    )
    SELECT window_start, window_end, event_type, n, total_value
    FROM agg, mx
    WHERE window_end <= mt - INTERVAL '1 hour'
    """,
    tags=("streaming", "window", "watermark"),
)
def s12_stream_append_final_windows(t):
    """Append-mode tumbling windows under a 1-hour watermark: unlike
    the complete-mode s01, a window row is emitted ONLY once the
    watermark (max event time seen minus the delay) passes its end —
    the canonical production shape, where each window is written
    exactly once to a durable sink and state is evicted. The
    observable contract the oracle pins: the emitted set is exactly
    the windows with ``window_end <= max(ts) - 1 hour``; the newest
    windows are withheld, which is the proof the watermark ran (a
    complete-mode run would include them). Late rows arriving after
    their window closed are dropped — with the engine's real wrinkle
    (the late-events watermark lags eviction by one batch) exercised
    against a crafted out-of-order multi-batch input in
    tests/test_streaming.py::test_s12_late_row_beyond_watermark_is_dropped.
    Scale:
    state is bounded by (open windows x event types), independent of
    stream length; the final batch's eviction is a state-store scan,
    no shuffle beyond the windowed agg's own."""
    from data_engineer_project_spark.streaming import (
        read_event_stream,
        run_to_memory_table,
        tumbling_counts,
    )

    stream = read_event_stream(t._spark, t._sf_dir)
    return run_to_memory_table(
        tumbling_counts(stream, watermark="1 hour"), "append_final", "append"
    )


from data_engineer_project_spark.queries.llm_pipeline import (  # noqa: E402
    _ORACLE_BUCKET64K,
    _SPARK_BUCKET64K,
)

_S13_BUCKET = _ORACLE_BUCKET64K.replace("doc_id", "d.doc_id")


@query(
    "s13_stream_mixture_gate",
    f"""
    WITH toks AS (
      SELECT source,
             SUM(CAST(ceil(length(text) / 4.0) AS BIGINT)) AS orig_tokens
      FROM documents GROUP BY source
    ),
    mn AS (SELECT MIN(orig_tokens) AS min_tok FROM toks),
    thr AS (SELECT source,
                   least(65536, (65536 * min_tok + orig_tokens - 1) // orig_tokens)
                     AS keep_thr
            FROM toks, mn)
    SELECT d.doc_id, d.source
    FROM documents d JOIN thr ON d.source = thr.source
    WHERE ({_S13_BUCKET}) < thr.keep_thr
    """,
    tags=("streaming", "curation", "sampling"),
)
def s13_stream_mixture_gate(t):
    """Streaming enforcement of the d42 mixture policy: a batch job
    computes per-source keep thresholds (toward the smallest source's
    token mass); the ingestion stream applies them — each arriving doc
    joins its source's threshold (broadcast static side) and survives
    iff its content-addressed md5 bucket clears it. The production
    split of responsibilities: policy recomputed offline per day,
    enforcement stateless per record. Stateless stream-static inner
    join + filter → append mode, no watermark, no state store; the
    keep decision is the same pure function of doc_id as d42, so batch
    replay and stream agree doc-for-doc (the oracle IS the batch
    form)."""
    from data_engineer_project_spark.functions import text as T
    from data_engineer_project_spark.streaming import read_document_stream

    docs = t.documents
    src = docs.groupBy("source").agg(
        F.sum(T.bpe_token_estimate("text")).alias("orig_tokens")
    )
    mn = src.agg(F.min("orig_tokens").alias("min_tok"))
    thr = src.crossJoin(F.broadcast(mn)).select(
        "source",
        F.expr(
            "least(65536, (65536 * min_tok + orig_tokens - 1) div orig_tokens)"
        ).alias("keep_thr"),
    )
    incoming = read_document_stream(t._spark, t._sf_dir).withColumn(
        "bkt", F.expr(_SPARK_BUCKET64K)
    )
    kept = (
        incoming.join(F.broadcast(thr), "source")
        .filter(F.col("bkt") < F.col("keep_thr"))
        .select("doc_id", "source")
    )
    return run_to_memory_table(kept, "mixture_gate", "append")


@query(
    "s14_stream_rate_anomaly_gate",
    """
    WITH hc AS (
      SELECT event_type, date_trunc('hour', ts) AS window_start,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_hours,
             CAST(SUM(cnt) AS BIGINT) AS tot,
             CAST(SUM(cnt * cnt) AS BIGINT) AS sumsq
      FROM hc GROUP BY event_type
    )
    SELECT hc.event_type AS event_type, hc.window_start, hc.cnt
    FROM hc JOIN st ON hc.event_type = st.event_type
    WHERE hc.cnt * st.n_hours - st.tot > 0
      AND (hc.cnt * st.n_hours - st.tot) * (hc.cnt * st.n_hours - st.tot)
          > 4 * (st.n_hours * st.sumsq - st.tot * st.tot)
    ORDER BY hc.event_type, hc.window_start
    """,
    tags=("streaming", "quality"),
)
def s14_stream_rate_anomaly_gate(t):
    """Streaming enforcement of e11's rate-anomaly policy: a batch job
    reduces each event type's hourly-count history to ONE integer
    cutoff c* (the smallest count past mean + 2·sigma), and the stream
    flags any 1-hour window reaching it. Spark forbids joins after a
    streaming aggregation, so the policy snapshot joins the stream
    BEFORE the windowed aggregation (the key is already on every
    event): a broadcast stream-static left join stamps each event with
    its type's cutoff, the cutoff rides the grouping key (functionally
    dependent on event_type — group count unchanged), and the
    post-aggregation filter is one column comparison. Plan size stays
    FLAT in the number of event types — at 10⁴+ types the policy is
    still one small broadcast relation, not a 10⁴-branch CASE tree
    (pinned by tests/test_streaming.py). Production recomputes the
    policy offline and restarts the query.

    The cutoff is EXACT integer math: with K = n·sumsq − tot² and
    d = cnt·n − tot, e11's test d > 0 AND d² > 4K is equivalent for
    integer d to d >= isqrt(4K)+1, so c* = ceil((tot + isqrt(4K)+1)/n)
    — math.isqrt on the driver, no float sqrt anywhere. The oracle is
    e11's quadratic form, proving the two formulations agree
    window-for-window. Flagged windows only (append-friendly volume),
    complete-mode windowed count like s01."""
    from math import isqrt

    hc = t.events.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    # DECIMAL(38,0) stats (e11's widening): sum-of-squares overflows
    # BIGINT at high-rate types; Python ints are unbounded thereafter
    cw = F.col("cnt").cast("decimal(38,0)")
    stats = (
        hc.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.sum(cw).alias("tot"),
            F.sum(cw * cw).alias("sumsq"),
        )
        .collect()
    )
    cutoffs: dict[str, int] = {}
    for r in stats:
        n, tot, sumsq = int(r["n_hours"]), int(r["tot"]), int(r["sumsq"])
        k4 = 4 * (n * sumsq - tot * tot)
        d_min = isqrt(k4) + 1
        cutoffs[r["event_type"]] = -(-(tot + d_min) // n)  # ceil div
    policy = t._spark.createDataFrame(
        [(et, cutoffs[et]) for et in sorted(cutoffs)],
        "event_type string, cutoff long",
    )
    # FAIL-CLOSED default: an event type absent from the policy
    # snapshot (appeared after the last offline recompute) coalesces
    # to cutoff 0 — every window of a novel type is surfaced as
    # anomalous rather than silently passed (a NULL cutoff would make
    # `cnt >= cutoff` three-valued-false and drop exactly the types
    # most likely to be misbehaving). Here batch and stream read the
    # same corpus, so the default never fires and the oracle is
    # unaffected.
    wc = (
        _stream(t)
        .join(F.broadcast(policy), "event_type", "left")
        .withColumn("cutoff", F.coalesce("cutoff", F.lit(0).cast("long")))
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), "event_type", "cutoff")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= F.col("cutoff"))
        .select(
            "event_type",
            F.col("window.start").alias("window_start"),
            "cnt",
        )
        .orderBy("event_type", "window_start")
    )
    return run_to_memory_table(wc, "rate_anomaly", "complete")


@query(
    "s15_stream_ohlc_bars",
    f"""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           arg_min(value, {OHLC_KEY_SQL}) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, {OHLC_KEY_SQL}) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2
    """,
    tags=("streaming", "timeseries", "downsample"),
)
def s15_stream_ohlc_bars(t):
    """readStream → watermark → hourly OHLC per event_type (min_by/
    max_by streaming aggregate) → memory sink (complete). The
    continuously-maintained candlestick rollup; batch twin e13 at
    daily grain. Cross-batch exactness of the min_by/max_by state
    merge is pinned in tests/test_streaming.py."""
    from data_engineer_project_spark.streaming import ohlc_bars

    return run_to_memory_table(ohlc_bars(_stream(t)), "ohlc", "complete")


# ---------------------------------------- composed streaming front door

from data_engineer_project_spark.queries.llm_pipeline import (  # noqa: E402
    _EMAIL_RE,
    _PHONE_RE,
)

# The d39 inject+redact expression in DuckDB SQL (text/doc_id columns in
# scope); the Spark twin is _s16_redact below. Shared shape with d56's
# batch composition.
_S16_RED_SQL = (
    "regexp_replace(regexp_replace("
    "text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@mail-' || CAST(doc_id % 97 AS VARCHAR) || '.example.com'"
    " || ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')"
    " || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),"
    f" '{_EMAIL_RE}', '<EMAIL>', 'g'),"
    f" '{_PHONE_RE}', '<PHONE>', 'g')"
)


def _s16_redact():
    d = F.col("doc_id")
    pii = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        d.cast("string"),
        F.lit("@mail-"),
        (d % 97).cast("string"),
        F.lit(".example.com"),
        F.lit(" call 555-"),
        F.lpad((d % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((d % 10000).cast("string"), 4, "0"),
    )
    return F.regexp_replace(
        F.regexp_replace(pii, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )


@query(
    "s16_stream_curation_front_door",
    f"""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents WHERE {_S11_BUCKET_DUCK} < 50
    ),
    inc AS (
      SELECT doc_id, lang, source, text FROM documents
      WHERE {_S11_BUCKET_DUCK} >= 50
    ),
    cred AS (SELECT DISTINCT md5({_S16_RED_SQL}) AS fp FROM corpus),
    ired AS (SELECT doc_id, lang, source, {_S16_RED_SQL} AS ctext FROM inc),
    q AS (
      SELECT * FROM ired
      WHERE len(string_split(ctext, ' ')) BETWEEN 20 AND 120
        AND CAST(length(list_filter(string_split(ctext, ' '),
                                    x -> x IN ({_S10_SW}))) AS DOUBLE)
            / CAST(len(string_split(ctext, ' ')) AS DOUBLE) < 0.3
    ),
    dd AS (
      SELECT q.* FROM q LEFT JOIN cred c ON md5(q.ctext) = c.fp
      WHERE c.fp IS NULL
    ),
    toks AS (
      SELECT source,
             SUM(CAST(ceil(length(text) / 4.0) AS BIGINT)) AS orig_tokens
      FROM corpus GROUP BY source
    ),
    mn AS (SELECT MIN(orig_tokens) AS min_tok FROM toks),
    thr AS (SELECT source,
                   least(65536, (65536 * min_tok + orig_tokens - 1) // orig_tokens)
                     AS keep_thr
            FROM toks, mn),
    kept AS (
      SELECT dd.doc_id, dd.lang, dd.source, dd.ctext
      FROM dd JOIN thr ON dd.source = thr.source
      WHERE ({_ORACLE_BUCKET64K}) < thr.keep_thr
    )
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(ceil(length(ctext) / 4.0) AS BIGINT)) AS BIGINT)
             AS survivor_tokens
    FROM kept GROUP BY source, lang ORDER BY source, lang
    """,
    tags=("streaming", "llm", "curation", "pipeline"),
)
def s16_stream_curation_front_door(t):
    """The streaming twin of d56: the curation FRONT DOOR as one
    composed continuously-ingesting pipeline. Newly-arriving documents
    (the content-addressed upper half, per s11's split) flow through
    PII redaction (d39, row-local) → quality gate (s10's d02 filter,
    scored on the REDACTED text) → exact-dedup against the existing
    corpus (s11's stream-static anti-join on the redacted
    fingerprint) → mixture gate (s13's per-source thresholds computed
    offline from the stored corpus, enforced per record) → a per
    (source, lang) running doc/token tally. d56 is the nightly batch
    rebuild; s16 is what runs between rebuilds — same stage semantics,
    re-expressed in the stream-legal subset (every stage stateless or
    stream-static; the only state is the final ≤ sources×langs-key
    complete-mode tally, so no watermark is needed).

    Scale shape: redaction and scoring are row-local inside the
    micro-batch; both static sides broadcast (corpus fingerprints are
    the one large static input — at 100 TB that side becomes the
    bucketed fingerprint table of s11's docstring and the anti-join
    co-locates by fingerprint instead); the keep decision is the same
    pure function of doc_id as d42/d45, so a batch replay of the
    stream produces doc-for-doc identical survivors (the oracle IS
    that batch form)."""
    from data_engineer_project_spark.functions import text as T
    from data_engineer_project_spark.streaming import read_document_stream

    b = F.expr(_S11_BUCKET)
    corpus = t.documents.withColumn("bucket", b).filter(F.col("bucket") < 50)
    cred = corpus.select(F.md5(_s16_redact()).alias("fp")).distinct()
    incoming = (
        read_document_stream(t._spark, t._sf_dir)
        .withColumn("bucket", b)
        .filter(F.col("bucket") >= 50)
        .withColumn("ctext", _s16_redact())
        .select("doc_id", "lang", "source", "ctext")
    )
    n_words = T.token_count("ctext")
    sr = T.stopword_count("ctext").cast("double") / n_words.cast("double")
    q = incoming.filter(n_words.between(20, 120) & (sr < 0.3))
    dd = q.withColumn("fp", F.md5("ctext")).join(cred, "fp", "left_anti")
    src = corpus.groupBy("source").agg(
        F.sum(T.bpe_token_estimate("text")).alias("orig_tokens")
    )
    thr = src.withColumn(
        "min_tok", F.min("orig_tokens").over(Window.partitionBy(F.lit(1)))
    ).select(
        "source",
        F.expr(
            "least(65536, (65536 * min_tok + orig_tokens - 1) div orig_tokens)"
        ).alias("keep_thr"),
    )
    kept = (
        dd.withColumn("bkt", F.expr(_SPARK_BUCKET64K))
        .join(F.broadcast(thr), "source")
        .filter(F.col("bkt") < F.col("keep_thr"))
    )
    tally = kept.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(T.bpe_token_estimate("ctext")).alias("survivor_tokens"),
    )
    return run_to_memory_table(tally, "curation_door", "complete").orderBy(
        "source", "lang"
    )


from data_engineer_project_spark.queries.llm_pipeline import (  # noqa: E402
    _kmeans_chain,
)


@query(
    "s17_stream_ivf_cell_ingestion",
    f"""
    WITH {_kmeans_chain(2)}
    SELECT cid,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(vec_id) AS BIGINT) AS id_checksum
    FROM asg GROUP BY cid ORDER BY cid
    """,
    tags=("streaming", "similarity", "llm"),
)
def s17_stream_ivf_cell_ingestion(t):
    """Continuously-maintained vector-index intake: newly-embedded
    vectors arrive as a file stream and each is assigned to its IVF
    cell IN-STREAM, feeding a running per-cell population tally (the
    signal that drives index maintenance — cell splits, re-training,
    nprobe tuning). The coarse quantizer is trained OFFLINE on the
    stored corpus (the audited d14 k-means) and its ≤ ~sqrt(N)
    materialized centroids are folded into the stream as a LITERAL
    scored-argmax expression — Spark forbids rank windows on streams,
    so nearest-centroid is array_max over a literal (cosine, −cid)
    struct array: exactly the batch assignment's (score desc, cid asc)
    order, no join, no window, no state beyond the bounded per-cell
    tally. At 32768-cell scale the literal form gives way to a
    stream-static broadcast join + max_by aggregate — same semantics,
    documented here as the production form.

    The oracle is the batch k-means chain's final assignment rolled up
    per cell: stream and batch replay agree vector-for-vector, the
    same policy-offline / apply-in-stream split as s13/s14."""
    import math

    from data_engineer_project_spark.operators import similarity as SIM
    from data_engineer_project_spark.operators.similarity import dot, norm
    from data_engineer_project_spark.streaming import read_embedding_stream

    cents = SIM.materialized_centroids(t.embeddings).collect()

    # Hoist the norms out of the argmax: cosine per centroid would
    # re-fold |q| (and |c|) for every one of the ~sqrt(N) candidates.
    # |c| is a DRIVER-SIDE constant — computed here with the exact
    # left-to-right IEEE fold the JVM/DuckDB use, so the resulting
    # double is bit-identical — and |q| folds once per row; each
    # candidate then costs a single dot fold. Same final expression
    # shape as the oracle: dot / (sqrt(aa) · sqrt(bb)).
    def _cnorm(v):
        s = 0.0
        for x in v:
            s += float(x) * float(x)
        return math.sqrt(s)

    scored = F.array(
        *[
            F.struct(
                (
                    dot(
                        F.col("embedding"),
                        F.array(*[F.lit(float(x)) for x in r["cvec"]]),
                    )
                    / (F.col("qnrm") * F.lit(_cnorm(r["cvec"])))
                ).alias("cs"),
                F.lit(-int(r["cid"])).cast("long").alias("ncid"),
            )
            for r in cents
        ]
    )
    stream = (
        read_embedding_stream(t._spark, t._sf_dir)
        .withColumn("qnrm", norm(F.col("embedding")))
        .withColumn("cid", -F.array_max(scored)["ncid"])
    )
    tally = stream.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("vec_id").alias("id_checksum"),
    )
    return run_to_memory_table(tally, "ivf_ingest", "complete").orderBy("cid")


# ------------------------------- incremental curation rebuild (batch)

from data_engineer_project_spark.queries.llm_pipeline import (  # noqa: E402
    _PACK_SHARDS_SQL,
    _md5_hex_int,
    _pack_shards,
)
from data_engineer_project_spark.operators.cache import (  # noqa: E402
    tracked_persist,
)

_D64_SEED = "d64incr1|"


def s16_door_survivors(t, incoming):
    """The s16 front door in BATCH form, applied to ``incoming`` docs
    against artifacts FROZEN from the stored corpus (bucket < 50):
    redaction (row-local) → quality gate → exact-dedup against the
    store's redacted fingerprints → mixture gate with per-source
    thresholds computed from the store. Because every gate is either
    row-local or a join against the frozen store artifacts — never a
    function of other increment rows — the survivor set is increment-
    SLICING-INVARIANT: door(inc₁ ∪ inc₂) = door(inc₁) ∪ door(inc₂),
    the property that makes daily increments composable and is pinned
    at the DAG level in tests/test_streaming_extra.py."""
    from data_engineer_project_spark.functions import text as T

    b = F.expr(_S11_BUCKET)
    corpus = t.documents.withColumn("bucket", b).filter(F.col("bucket") < 50)
    cred = corpus.select(F.md5(_s16_redact()).alias("fp")).distinct()
    src = corpus.groupBy("source").agg(
        F.sum(T.bpe_token_estimate("text")).alias("orig_tokens")
    )
    thr = src.withColumn(
        "min_tok", F.min("orig_tokens").over(Window.partitionBy(F.lit(1)))
    ).select(
        "source",
        F.expr(
            "least(65536, (65536 * min_tok + orig_tokens - 1) div orig_tokens)"
        ).alias("keep_thr"),
    )
    inc = incoming.withColumn("ctext", _s16_redact()).select(
        "doc_id", "lang", "source", "ctext"
    )
    n_words = T.token_count("ctext")
    sr = T.stopword_count("ctext").cast("double") / n_words.cast("double")
    q = inc.filter(n_words.between(20, 120) & (sr < 0.3))
    dd = q.withColumn("fp", F.md5("ctext")).join(cred, "fp", "left_anti")
    return (
        dd.withColumn("bkt", F.expr(_SPARK_BUCKET64K))
        .join(F.broadcast(thr), "source")
        .filter(F.col("bkt") < F.col("keep_thr"))
        .select(
            "doc_id",
            "source",
            T.bpe_token_estimate("ctext").cast("long").alias("kept_tokens"),
        )
    )


@query(
    "d64_incremental_curation_rebuild",
    f"""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents WHERE {_S11_BUCKET_DUCK} < 50
    ),
    inc AS (
      SELECT doc_id, lang, source, text FROM documents
      WHERE {_S11_BUCKET_DUCK} >= 50
    ),
    cred AS (SELECT DISTINCT md5({_S16_RED_SQL}) AS fp FROM corpus),
    ired AS (SELECT doc_id, lang, source, {_S16_RED_SQL} AS ctext FROM inc),
    q AS (
      SELECT * FROM ired
      WHERE len(string_split(ctext, ' ')) BETWEEN 20 AND 120
        AND CAST(length(list_filter(string_split(ctext, ' '),
                                    x -> x IN ({_S10_SW}))) AS DOUBLE)
            / CAST(len(string_split(ctext, ' ')) AS DOUBLE) < 0.3
    ),
    dd AS (
      SELECT q.* FROM q LEFT JOIN cred c ON md5(q.ctext) = c.fp
      WHERE c.fp IS NULL
    ),
    toks AS (
      SELECT source,
             SUM(CAST(ceil(length(text) / 4.0) AS BIGINT)) AS orig_tokens
      FROM corpus GROUP BY source
    ),
    mn AS (SELECT MIN(orig_tokens) AS min_tok FROM toks),
    thr AS (SELECT source,
                   least(65536, (65536 * min_tok + orig_tokens - 1) // orig_tokens)
                     AS keep_thr
            FROM toks, mn),
    kept AS (
      SELECT dd.doc_id, dd.source,
             CAST(ceil(length(dd.ctext) / 4.0) AS BIGINT) AS kept_tokens
      FROM dd JOIN thr ON dd.source = thr.source
      WHERE ({_ORACLE_BUCKET64K}) < thr.keep_thr
    ),
    un AS (
      SELECT doc_id, source,
             CAST(ceil(length(text) / 4.0) AS BIGINT) AS kept_tokens,
             1 AS is_base
      FROM corpus
      UNION ALL
      SELECT doc_id, source, kept_tokens, 0 AS is_base FROM kept
    ),
    nf AS (SELECT COUNT(*) AS n_docs FROM un),
    ns AS (SELECT {_PACK_SHARDS_SQL} AS n_shards FROM nf),
    keyed AS (
      SELECT doc_id, source, kept_tokens, is_base,
             ({_md5_hex_int('doc_id', 'varchar', 4, prefix=_D64_SEED)})
               % n_shards AS shard,
             md5(concat('{_D64_SEED}', cast(doc_id AS varchar))) AS okey
      FROM un, ns
    ),
    rk AS (
      SELECT doc_id, source, kept_tokens, is_base, shard,
             ROW_NUMBER() OVER (PARTITION BY shard ORDER BY okey, doc_id) AS rnk
      FROM keyed
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(is_base) AS BIGINT) AS n_base,
           CAST(SUM(1 - is_base) AS BIGINT) AS n_new,
           CAST(SUM(kept_tokens) AS BIGINT) AS kept_tokens,
           CAST(MAX(CASE WHEN rnk = 1 THEN doc_id END) AS BIGINT) AS first_doc,
           CAST(SUM(rnk * doc_id) AS BIGINT) AS order_checksum
    FROM rk GROUP BY shard ORDER BY shard
    """,
    tags=("llm", "curation", "pipeline"),
)
def d64_incremental_curation_rebuild(t):
    """INCREMENTAL corpus rebuild — the missing third leg of the
    curation triptych (d56 = nightly batch, s16 = the continuously-
    running door, d64 = what the nightly job actually does between
    full rebuilds): fold one day's door SURVIVORS into the stored
    corpus and re-deal the union into training shards, without
    re-curating the store. The door runs in batch form against
    artifacts frozen from the store (see ``s16_door_survivors`` —
    identical gates to s16, so the stream and this rebuild agree
    doc-for-doc); the re-shard is the d45/d56 seeded md5 permutation
    with a corpus-derived shard count over the UNION, which is pure
    per-row hash math — the only part that touches base docs, and it
    moves no text, only (doc_id, source, token) metadata.

    Output pins the rebuilt corpus identity per shard — doc count,
    base/new split, token mass, first doc in shuffle order, rank
    checksum — so one wrong survivor or one mis-dealt base doc flips
    the hash.

    Scale shape: the door inherits s16's audited form (fingerprint
    anti-join co-locates by fp at 100 TB; thresholds are a per-source
    broadcast); the union is metadata-width; the re-shard windows are
    bounded by the corpus-derived shard count (~256 docs each). One
    driver sync (the union count that sizes the shard count) reads a
    persisted metadata-width intermediate."""
    b = F.expr(_S11_BUCKET)
    base = (
        t.documents.withColumn("bucket", b)
        .filter(F.col("bucket") < 50)
        .select(
            "doc_id",
            "source",
            F.expr("cast(ceil(length(text) / 4.0) as long)").alias(
                "kept_tokens"
            ),
            F.lit(1).cast("int").alias("is_base"),
        )
    )
    newd = s16_door_survivors(
        t, t.documents.withColumn("bucket", b).filter(F.col("bucket") >= 50)
    ).select(
        "doc_id", "source", "kept_tokens", F.lit(0).cast("int").alias("is_base")
    )
    un = tracked_persist(base.unionByName(newd))
    n_shards = _pack_shards(un.count())
    keyed = un.select(
        "doc_id",
        "source",
        "kept_tokens",
        "is_base",
        F.md5(
            F.concat(F.lit(_D64_SEED), F.col("doc_id").cast("string"))
        ).alias("okey"),
        F.expr(
            f"({_md5_hex_int('doc_id', 'string', 4, prefix=_D64_SEED)})"
            f" % {n_shards}"
        ).alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("okey", "doc_id")
    ranked = keyed.withColumn("rnk", F.row_number().over(w))
    return (
        ranked.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_base").cast("long").alias("n_base"),
            F.sum(1 - F.col("is_base")).cast("long").alias("n_new"),
            F.sum("kept_tokens").cast("long").alias("kept_tokens"),
            F.max(F.when(F.col("rnk") == 1, F.col("doc_id")))
            .cast("long")
            .alias("first_doc"),
            F.sum(F.col("rnk") * F.col("doc_id")).alias("order_checksum"),
        )
        .orderBy("shard")
    )


@query(
    "s18_stream_media_integrity_gate",
    """
    WITH m AS (
      SELECT doc_id, lang,
             list_extract(['png','jpeg','webp'],
                          CAST(doc_id % 3 + 1 AS INT)) AS media_format,
             octet_length(encode(text)) AS n_bytes
      FROM documents
    ),
    chk AS (
      SELECT lang, media_format, n_bytes,
             CASE WHEN doc_id % 37 = 0 THEN n_bytes // 2
                  ELSE n_bytes END AS actual_bytes
      FROM m
    )
    SELECT lang, media_format,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN actual_bytes <> n_bytes THEN 1 ELSE 0 END)
                AS BIGINT) AS n_corrupt,
           CAST(SUM(CASE WHEN actual_bytes <> n_bytes THEN n_bytes
                    ELSE 0 END) AS BIGINT) AS bytes_quarantined
    FROM chk
    GROUP BY lang, media_format
    ORDER BY lang, media_format
    """,
    tags=("streaming", "multimodal", "quality"),
)
def s18_stream_media_integrity_gate(t):
    """The multimodal intake gate AS A STREAM — m13's payload-
    integrity quarantine running continuously at the ingest door,
    where a production pipeline actually runs it (quarantine BEFORE
    the blob hits the decode fleet, not in a nightly audit): arriving
    documents get their media payload + metadata attached (row-local
    codegen, no Python), the planted doc_id % 37 truncation damages
    the same payloads as the batch twin, and the octet-length-vs-
    metadata check feeds a complete-mode (lang, format) quarantine
    tally — the first streaming member of the multimodal family.

    Every stage is stateless except the final ≤ langs×formats-key
    aggregate, so no watermark is needed and a batch replay (the
    oracle) agrees row-for-row — the s10/s16 policy: gates row-local,
    state bounded by the reporting grain, stream == batch pinned by
    the driver's oracle comparison itself.

    Scale shape: the check never leaves whole-stage codegen; at 100 TB
    of blobs the only cross-executor traffic is the tally's partial
    aggregates (map-side-combined)."""
    from data_engineer_project_spark.operators.multimodal import attach_media
    from data_engineer_project_spark.streaming import read_document_stream

    media = attach_media(read_document_stream(t._spark, t._sf_dir))
    damaged = media.withColumn(
        "payload",
        F.when(
            F.col("doc_id") % 37 == 0,
            F.expr("substring(media, 1, cast(n_bytes div 2 as int))"),
        ).otherwise(F.col("media")),
    )
    ok = F.octet_length("payload") == F.col("n_bytes")
    tally = (
        damaged.groupBy("lang", "media_format")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((~ok).cast("long")).alias("n_corrupt"),
            F.sum(F.when(~ok, F.col("n_bytes")).otherwise(0)).alias(
                "bytes_quarantined"
            ),
        )
    )
    return run_to_memory_table(tally, "media_gate", "complete").orderBy(
        "lang", "media_format"
    )


from data_engineer_project_spark.queries.llm_pipeline import (  # noqa: E402
    _BLOOM_BITS,
    _BLOOM_K,
    _bloom_positions_sql,
    _md5_hex_int,
)


def _s19_bloom_words(t) -> list[int]:
    """The corpus Bloom bitset as BOUNDED driver state: <= 2048 int64
    words (16 KB — d70's sketch, the whole point of which is that it
    ships to executors whole). Built once per call from the static
    corpus half with the same OR-fold d70 gates."""
    b = F.expr(_S11_BUCKET)
    train = t.documents.withColumn("bucket", b).filter(F.col("bucket") < 50)
    pos_exprs = [
        F.expr(
            f"({_md5_hex_int('text', 'string', 4, prefix=f'bl{j}|')})"
            f" % {_BLOOM_BITS}"
        )
        for j in range(_BLOOM_K)
    ]
    rows = (
        train.select(F.explode(F.array(*pos_exprs)).alias("idx"))
        .groupBy((F.col("idx") / 32).cast("long").alias("word_idx"))
        .agg(
            F.expr("bit_or(shiftleft(cast(1 as bigint), idx % 32))").alias(
                "bits"
            )
        )
        .collect()
    )
    words = [0] * (_BLOOM_BITS // 32)
    for r in rows:
        words[r["word_idx"]] = r["bits"]
    return words


@query(
    "s19_stream_bloom_gate",
    f"""
    WITH train AS (
      SELECT text FROM documents WHERE {_S11_BUCKET_DUCK} < 50
    ),
    pos AS (
      {" UNION ALL ".join(
        f"SELECT {p} AS idx FROM train" for p in _bloom_positions_sql("text")
      )}
    ),
    bitset AS (
      SELECT idx // 32 AS word_idx,
             bit_or(CAST(1 AS BIGINT) << (idx % 32)) AS bits
      FROM pos GROUP BY idx // 32
    ),
    test AS (
      SELECT doc_id, lang, text FROM documents
      WHERE {_S11_BUCKET_DUCK} >= 50
    ),
    probe AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, {p} AS idx FROM test"
        for p in _bloom_positions_sql("text")
      )}
    ),
    hits AS (
      SELECT p.doc_id,
             SUM(CASE WHEN b.bits IS NOT NULL
                       AND ((b.bits >> (p.idx % 32)) & 1) = 1
                 THEN 1 ELSE 0 END) AS k_set
      FROM probe p LEFT JOIN bitset b ON b.word_idx = p.idx // 32
      GROUP BY p.doc_id
    )
    SELECT t.doc_id, t.lang
    FROM test t JOIN hits h ON h.doc_id = t.doc_id
    WHERE h.k_set < {_BLOOM_K}
    """,
    tags=("streaming", "llm", "dedup", "sketch"),
)
def s19_stream_bloom_gate(t):
    """The Bloom SKETCH at the ingest door — s11's exact anti-join
    replaced by d70's 16 KB bitset, which is how a 100 TB corpus
    actually gates a stream (the full fingerprint set doesn't fit
    next to the stream; the sketch rides along as a literal): each
    arriving doc probes its k=3 md5 bit positions ROW-LOCALLY against
    the corpus bitset baked into the plan — no join, no state store,
    no shuffle, append mode. Bloom's one-sidedness is the gate's
    safety contract: every true duplicate is blocked (no false
    negatives — pinned against s11's exact survivor set), and the
    price is a measured sliver of falsely-blocked novel docs (d70
    reports that rate).

    Scale shape: the ONLY non-row-local work is building the bitset
    (one corpus fan-out collapsing map-side to <= 2048 words,
    refreshed offline like s17's centroids); the streaming side is
    pure whole-stage-codegen expressions over a 16 KB literal."""
    from data_engineer_project_spark.streaming import read_document_stream

    words = _s19_bloom_words(t)
    blm = F.array(*[F.lit(w).cast("long") for w in words])
    incoming = (
        read_document_stream(t._spark, t._sf_dir)
        .withColumn("bucket", F.expr(_S11_BUCKET))
        .filter(F.col("bucket") >= 50)
    )
    probed = incoming.withColumn("blm", blm)
    cond = None
    for j in range(_BLOOM_K):
        bit = F.expr(f"(shiftright(element_at(blm, cast(("
                     f"{_md5_hex_int('text', 'string', 4, prefix=f'bl{j}|')})"
                     f" % {_BLOOM_BITS} / 32 as int) + 1),"
                     f" ({_md5_hex_int('text', 'string', 4, prefix=f'bl{j}|')})"
                     f" % {_BLOOM_BITS} % 32) & 1) = 1")
        cond = bit if cond is None else (cond & bit)
    survivors = probed.filter(~cond).select("doc_id", "lang")
    return run_to_memory_table(survivors, "stream_bloom_gate", "append")


from data_engineer_project_spark.queries.llm_pipeline import (  # noqa: E402
    _HLL_EST_NUM,
    _HLL_M,
    _hll_fields_sql,
)

_S20_REG_DUCK, _S20_RHO_DUCK = _hll_fields_sql("user_id", "varchar")
_S20_REG_SPARK, _S20_RHO_SPARK = _hll_fields_sql("user_id", "string")


@query(
    "s20_stream_hourly_distinct_hll",
    f"""
    WITH h AS (
      SELECT date_trunc('hour', ts) AS window_start,
             ({_S20_REG_DUCK}) AS reg, ({_S20_RHO_DUCK}) AS rho
      FROM events
    ),
    regs AS (
      SELECT window_start, reg, MAX(rho) AS m_r FROM h GROUP BY 1, 2
    ),
    st AS (
      SELECT window_start,
             CAST(SUM(CAST(1 AS BIGINT) << (41 - m_r)) AS BIGINT)
               AS s_present,
             CAST(COUNT(*) AS BIGINT) AS registers_used
      FROM regs GROUP BY window_start
    ),
    ex AS (
      SELECT date_trunc('hour', ts) AS window_start,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
      FROM events GROUP BY 1
    )
    SELECT st.window_start, ex.exact_users, st.registers_used,
           {_HLL_EST_NUM}
             / CAST(st.s_present
                    + ({_HLL_M} - st.registers_used)
                      * (CAST(1 AS BIGINT) << 41) AS DOUBLE)
             AS hll_estimate
    FROM st JOIN ex ON ex.window_start = st.window_start
    ORDER BY st.window_start
    """,
    tags=("streaming", "sketch", "window", "stats"),
)
def s20_stream_hourly_distinct_hll(t):
    """Streaming DISTINCT-USER cardinality per hour via HLL registers
    — the state-explosion case exact streaming COUNT(DISTINCT) cannot
    survive: per-key distinct state grows with the user universe,
    while the d72 register fold bounds state at windows x 256 rows
    FOREVER (registers merge by MAX across micro-batches, which is
    precisely what the streaming agg does). The in-stream part is
    row-local hashing (reg, rho from the user id) plus one windowed
    MAX aggregation; the harmonic-mean estimate is read sink-side off
    the <= 256-row-per-window register table (the s17 convention: the
    fold after the sink is batch arithmetic over bounded state). The
    exact per-hour COUNT(DISTINCT) from the static table rides along
    so every output row states its own realized error.

    Engine-exactness: inherits d72's integer register/rho derivation
    and single-double-literal estimate; the oracle is the identical
    batch fold (availableNow == batch replay, the s01 contract).

    Scale shape: streaming state is windows x <= 256 int rows —
    independent of user cardinality (s04's per-user state is the
    contrast this query exists to avoid); the sink-side fold touches
    only register rows. At 100 TB/day the register table IS the
    checkpoint artifact."""
    stream = read_event_stream(t._spark, t._sf_dir)
    regs = (
        stream.withWatermark("ts", "1 hour")
        .select(
            "ts",
            F.expr(_S20_REG_SPARK).alias("reg"),
            F.expr(_S20_RHO_SPARK).alias("rho"),
        )
        .groupBy(F.window("ts", "1 hour").alias("w"), "reg")
        .agg(F.max("rho").alias("m_r"))
        .select(F.col("w.start").alias("window_start"), "reg", "m_r")
    )
    reg_table = run_to_memory_table(regs, "hourly_hll_regs", "complete")
    st = reg_table.groupBy("window_start").agg(
        F.sum(F.expr("shiftleft(cast(1 as bigint), 41 - m_r)")).alias(
            "s_present"
        ),
        F.count(F.lit(1)).alias("registers_used"),
    )
    ex = t.events.groupBy(
        F.date_trunc("hour", "ts").alias("window_start")
    ).agg(F.countDistinct("user_id").alias("exact_users"))
    s_total = (
        F.col("s_present")
        + (F.lit(_HLL_M) - F.col("registers_used"))
        * F.expr("shiftleft(cast(1 as bigint), 41)")
    ).cast("double")
    return (
        st.join(ex, "window_start")
        .select(
            "window_start",
            F.col("exact_users").cast("long").alias("exact_users"),
            F.col("registers_used").cast("long").alias("registers_used"),
            (F.expr(_HLL_EST_NUM) / s_total).alias("hll_estimate"),
        )
        .orderBy("window_start")
    )


from data_engineer_project_spark.queries.llm_pipeline import (  # noqa: E402
    _CMS_D,
    _CMS_W,
)


def _s21_cell_sql(j: int, cast_type: str) -> str:
    """One CMS cell index for a user id — d71's md5-derived column,
    seeded 'sc{j}|' so the stream sketch decorrelates from d71's."""
    return (
        f"({_md5_hex_int('user_id', cast_type, 4, prefix=f'sc{j}|')})"
        f" % {_CMS_W}"
    )


def s21_cms_grid(events_df):
    """Fold an events frame (streaming or batch — the logic is
    identical, which is the multi-batch == batch pin's whole point)
    into the d x w Count-Min counter grid keyed by (row_j, idx)."""
    cells = events_df.filter(F.col("user_id").isNotNull()).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row_j"),
                        F.expr(_s21_cell_sql(j, "string")).alias("idx"),
                    )
                    for j in range(_CMS_D)
                ]
            )
        ).alias("c")
    ).select("c.row_j", "c.idx")
    return cells.groupBy("row_j", "idx").agg(
        F.count(F.lit(1)).alias("counter")
    )


@query(
    "s21_stream_countmin_heavy_users",
    f"""
    WITH ue AS (
      SELECT user_id FROM events WHERE user_id IS NOT NULL
    ),
    cells AS (
      {" UNION ALL ".join(
        f"SELECT {j} AS row_j, {_s21_cell_sql(j, 'varchar')} AS idx FROM ue"
        for j in range(_CMS_D)
      )}
    ),
    cms AS (
      SELECT row_j, idx, CAST(COUNT(*) AS BIGINT) AS counter
      FROM cells GROUP BY row_j, idx
    ),
    uc AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt FROM ue
      GROUP BY user_id
    ),
    top AS (SELECT user_id, cnt FROM uc ORDER BY cnt DESC, user_id LIMIT 10),
    tprobe AS (
      {" UNION ALL ".join(
        f"SELECT user_id, cnt, {j} AS row_j,"
        f" {_s21_cell_sql(j, 'varchar')} AS idx FROM top"
        for j in range(_CMS_D)
      )}
    ),
    est AS (
      SELECT p.user_id, p.cnt, MIN(c.counter) AS estimate
      FROM tprobe p JOIN cms c ON c.row_j = p.row_j AND c.idx = p.idx
      GROUP BY p.user_id, p.cnt
    )
    SELECT user_id, cnt AS exact_count,
           CAST(estimate AS BIGINT) AS cms_estimate,
           CAST(estimate - cnt AS BIGINT) AS overestimate
    FROM est ORDER BY exact_count DESC, user_id
    """,
    tags=("streaming", "sketch", "stats"),
)
def s21_stream_countmin_heavy_users(t):
    """Streaming HEAVY-HITTER users via a Count-Min sketch — d71's
    frequency sketch run as the stream-side state, completing the
    sketch pair s20 started: s20 bounds DISTINCT-count state with HLL
    registers, s21 bounds FREQUENCY state with CMS counters. Exact
    per-user streaming counts keep one state row per user (s04's
    shape — state grows with the user universe); here each event
    row-locally derives its d=3 md5 cell indices and the streaming
    aggregation folds them into <= d x w = 3072 integer counters —
    state bounded FOREVER, merged by SUM across micro-batches, which
    is exactly what CMS grids do across partitions at 100 TB. The
    sink-side read probes the true top-10 users (exact counts from
    the static table riding along) and reports each estimate's
    realized one-sided error.

    Engine-exactness: counters and estimates are integer counts/mins
    over md5-derived cells (d71's derivation, 'sc|' seed); the oracle
    is the identical batch fold — availableNow == batch replay, the
    s01 contract. Overestimate >= 0 always (CMS one-sidedness, the
    d70/d71 property pin's streaming sibling).

    Scale shape: in-stream work is row-local hashing plus ONE
    aggregation over 3072 keys (map-side partials collapse each
    micro-batch to <= 3072 rows before the shuffle); the sink-side
    probe joins 10 users against the broadcast 3 KB grid. No
    watermark needed: the key space is bounded by construction, so
    complete mode never grows."""
    grid = s21_cms_grid(read_event_stream(t._spark, t._sf_dir))
    cms = run_to_memory_table(grid, "stream_cms_users", "complete")
    ue = t.events.filter(F.col("user_id").isNotNull())
    uc = ue.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    top = uc.orderBy(F.desc("cnt"), "user_id").limit(10)
    probe = top.select(
        "user_id",
        "cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row_j"),
                        F.expr(_s21_cell_sql(j, "string")).alias("idx"),
                    )
                    for j in range(_CMS_D)
                ]
            )
        ).alias("c"),
    ).select("user_id", "cnt", "c.row_j", "c.idx")
    est = (
        probe.join(F.broadcast(cms), ["row_j", "idx"])
        .groupBy("user_id", "cnt")
        .agg(F.min("counter").alias("estimate"))
    )
    return est.select(
        "user_id",
        F.col("cnt").alias("exact_count"),
        F.col("estimate").cast("long").alias("cms_estimate"),
        (F.col("estimate") - F.col("cnt")).cast("long").alias("overestimate"),
    ).orderBy(F.desc("exact_count"), "user_id")


# --------------------- s22: incremental shard manifest at the door

from data_engineer_project_spark.queries.llm_pipeline import (  # noqa: E402
    _D91_ID_O,
    _D91_ID_S,
    _D91_PAY_O,
    _D91_PAY_S,
    _D91_SHARD_O,
    _D91_SHARD_S,
    _D91_SHARDS,
)


@query(
    "s22_stream_shard_manifest",
    f"""
    WITH assigned AS (
      SELECT doc_id, n_chars,
             {_D91_SHARD_O} AS shard,
             {_D91_PAY_O} AS pay_ck,
             {_D91_ID_O} AS id_ck
      FROM documents
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(pay_ck) AS BIGINT) AS payload_checksum,
           CAST(SUM(id_ck) AS BIGINT) AS id_checksum,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM assigned GROUP BY 1 ORDER BY 1
    """,
    tags=("streaming", "llm", "delivery", "integrity"),
)
def s22_stream_shard_manifest(t):
    """d91's delivery manifest maintained INCREMENTALLY at the ingest
    door — the measured proof of the batch query's central claim that
    order-independent sum-checksums make the manifest computable one
    micro-batch at a time. Every arriving doc is assigned its
    content-addressed shard and its two checksum terms ROW-LOCALLY
    (pure md5 arithmetic, no lookup state); a complete-mode streaming
    aggregate folds count / char / checksum sums per shard, so after
    ANY prefix of batches the memory table holds the exact manifest of
    everything ingested so far — and after availableNow drains the
    directory it equals d91's batch manifest row-for-row (minus the
    derived share/distinct columns, which a consumer computes from the
    manifest itself).

    Scale shape: state is EXACTLY {_D91_SHARDS} rows of six int64
    registers at any corpus size — the sketch-family bound (s19/s20/
    s21) applied to delivery accounting; the only shuffle is the
    {_D91_SHARDS}-key aggregate. In production the same plan runs
    unbounded and each trigger publishes the cumulative manifest next
    to the data files.

    Multi-batch == single-batch convergence is pinned in
    tests/test_streaming.py with one-file-per-trigger input."""
    from data_engineer_project_spark.streaming import read_document_stream

    incoming = read_document_stream(t._spark, t._sf_dir).select(
        "doc_id",
        "n_chars",
        F.expr(_D91_SHARD_S).alias("shard"),
        F.expr(_D91_PAY_S).alias("pay_ck"),
        F.expr(_D91_ID_S).alias("id_ck"),
    )
    manifest = (
        incoming.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("pay_ck").cast("long").alias("payload_checksum"),
            F.sum("id_ck").cast("long").alias("id_checksum"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .select(
            F.col("shard").cast("long").alias("shard"),
            "n_docs",
            "total_chars",
            "payload_checksum",
            "id_checksum",
            "min_doc",
            "max_doc",
        )
    )
    return run_to_memory_table(manifest, "shard_manifest", "complete")


# ------------------ s23: NB quality-classifier gate at the door

from data_engineer_project_spark.queries.llm_pipeline import (  # noqa: E402
    _D90_BUCKETS,
    _D90_SCORED_CTES,
    _SPARK_BUCKET as _S23_SPLIT,
)


def _s23_model_literals(t):
    """Train d90's hashed-NB model on the STATIC corpus and bake it
    into two {_D90_BUCKETS}-entry integer-bits arrays + two scalar
    priors — the broadcast-as-literal form a stream can score with
    row-locally (the s19 Bloom-bitset move). Bounded driver collect:
    <= {_D90_BUCKETS} model rows + two 1-row aggregates."""
    docs = t.documents.select("doc_id", "lang").withColumn(
        "bucket", F.expr(_S23_SPLIT)
    )
    tok = t.documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("wd")
    ).select("doc_id", F.substring(F.md5("wd"), 1, 2).alias("b"))
    train_tok = tok.join(
        docs.filter(F.col("bucket") < 80).select("doc_id", "lang"),
        "doc_id",
    )
    en = (F.col("lang") == "en").cast("long")
    model = {
        r.b: (r.c_en, r.c_ot)
        for r in train_tok.groupBy("b")
        .agg(F.sum(en).alias("c_en"), F.sum(1 - en).alias("c_ot"))
        .collect()
    }
    # class token totals are exactly the model's column sums — no
    # second corpus pass needed
    t_en = sum(c for c, _ in model.values())
    t_ot = sum(c for _, c in model.values())
    nd = (
        docs.filter(F.col("bucket") < 80)
        .agg(F.count(F.lit(1)).alias("n_train"), F.sum(en).alias("n_en"))
        .collect()[0]
    )
    B = _D90_BUCKETS
    bits_en, bits_ot = [], []
    for i in range(B):
        key = format(i, "02x")
        c_en, c_ot = model.get(key, (0, 0))
        bits_en.append(
            (int(t_en) + B).bit_length() - (int(c_en) + 1).bit_length()
        )
        bits_ot.append(
            (int(t_ot) + B).bit_length() - (int(c_ot) + 1).bit_length()
        )
    prior_en = (int(nd.n_train) + 2).bit_length() - (
        int(nd.n_en) + 1
    ).bit_length()
    prior_ot = (int(nd.n_train) + 2).bit_length() - (
        int(nd.n_train) - int(nd.n_en) + 1
    ).bit_length()
    return bits_en, bits_ot, prior_en, prior_ot


@query(
    "s23_stream_nb_quality_gate",
    f"""
    WITH {_D90_SCORED_CTES}
    SELECT doc_id, lang, CAST(margin AS BIGINT) AS margin,
           CASE WHEN margin >= 0 THEN 'en' ELSE 'other' END AS predicted
    FROM scored ORDER BY doc_id
    """,
    tags=("streaming", "llm", "quality", "classifier"),
)
def s23_stream_nb_quality_gate(t):
    """d90's quality classifier at the INGEST DOOR — the deployment
    shape a trained filter actually runs in: the model is trained
    OFFLINE on the static corpus (one batch pass), baked into two
    {_D90_BUCKETS}-entry integer-bits array LITERALS plus two scalar
    priors, and every arriving held-out doc is scored ROW-LOCALLY —
    tokens fold through element_at(<literal array>, md5-bucket + 1)
    inside whole-stage codegen. No join, no state store, no shuffle;
    append mode (the s19 Bloom-literal discipline applied to a learned
    model). The emitted margin is the SAME integer d90 computes with
    its broadcast-join form — the oracle is the shared scored CTE
    chain, so batch training + streaming serving are verified
    equivalent doc-for-doc, the train-offline/serve-online contract
    made checkable.

    Scale shape: the model is ~4 KB of plan literals at ANY corpus
    size; streaming work is per-token arithmetic, embarrassingly
    row-local. Refreshing the model is an offline re-train + plan
    redeploy, exactly how production quality filters roll."""
    from data_engineer_project_spark.queries.llm_pipeline import (
        _md5_hex_int,
    )
    from data_engineer_project_spark.streaming import read_document_stream

    bits_en, bits_ot, prior_en, prior_ot = _s23_model_literals(t)
    bidx = _md5_hex_int("w", "string", 2)

    def fold(bits):
        arr = ", ".join(str(v) + "L" for v in bits)
        return (
            f"aggregate(split(text, ' '), 0L,"
            f" (acc, w) -> acc + element_at(array({arr}),"
            f" cast(({bidx}) + 1 as int)))"
        )

    incoming = (
        read_document_stream(t._spark, t._sf_dir)
        .withColumn("split_bucket", F.expr(_S23_SPLIT))
        .filter(F.col("split_bucket") >= 90)
    )
    scored = incoming.select(
        "doc_id",
        "lang",
        (
            (F.expr(fold(bits_ot)) + F.lit(prior_ot))
            - (F.expr(fold(bits_en)) + F.lit(prior_en))
        ).cast("long").alias("margin"),
    )
    out = scored.select(
        "doc_id",
        "lang",
        "margin",
        F.when(F.col("margin") >= 0, F.lit("en"))
        .otherwise(F.lit("other"))
        .alias("predicted"),
    )
    return run_to_memory_table(out, "nb_quality_gate", "append")


from data_engineer_project_spark.operators.neardup import reps_sql  # noqa: E402
from data_engineer_project_spark.queries.llm_pipeline import (  # noqa: E402
    _D100_PROBE_CTES,
    _ORACLE_BUCKET as _D100_ORACLE_BUCKET,
    _SPARK_BUCKET as _D100_SPARK_BUCKET,
)


@query(
    "s24_stream_neardup_probe",
    f"""
    WITH inc AS (
      SELECT doc_id, text FROM documents WHERE {_D100_ORACLE_BUCKET} >= 90
    ),
    corp AS (
      SELECT doc_id, text FROM documents WHERE {_D100_ORACLE_BUCKET} < 90
    ),
    {reps_sql("corp", "cfp")},
    rem AS (
      SELECT doc_id, text FROM inc
      WHERE md5(text) NOT IN (SELECT fp FROM cfp)
    ),
    {_D100_PROBE_CTES}
    SELECT new_doc, corpus_doc, jaccard FROM ver
    ORDER BY new_doc, corpus_doc
    """,
    tags=("streaming", "llm", "dedup", "incremental"),
)
def s24_stream_neardup_probe(t):
    """d100's NEAR-DUP tier as a continuously-ingesting stream — the
    missing streaming sibling between s11 (exact-fingerprint door) and
    the nightly d101 cluster merge: newly-arriving documents are
    probed against the indexed corpus's band-key table and every
    VERIFIED near-dup hit (exact Jaccard >= 0.5) is emitted as an
    append-mode row (new_doc, corpus_doc, jaccard) for the downstream
    merge job (d101 consumes exactly these verdicts).

    The whole stream is STATELESS — the trick is doing d100's
    machinery in the stream-legal subset:
    - shingles/MinHash/band keys are computed ROW-LOCALLY with array
      higher-order functions (T.shingles -> array_distinct ->
      array_min(transform(...)) per salt) instead of the batch
      explode+window+groupBy chain — same values, no shuffle, no
      state;
    - the corpus side is a STATIC batch table (band keys + each rep's
      distinct-shingle array), built once per corpus — at 100 TB this
      is shingle_table + the band-key table d101's store already
      holds;
    - the Jaccard verify is ROW-LOCAL too: the incoming doc's shingle
      array meets the corpus doc's array in the band join and
      size(array_intersect(...)) / union computes per row — no
      per-pair aggregation, hence no streaming-state store and no
      watermark.
    A pair colliding in k bands surfaces k times in the raw sink (the
    stream stays stateless); the returned table dedups — in
    production the sink is a keyed MERGE. The oracle is d100's ver
    CTE verbatim (ALL verified pairs).

    Scale shape: incoming band keys hash-partition into the static
    band table exactly like d100's one-sided probe; candidate volume
    is new x matching-corpus, never corpus^2; the static side carries
    each corpus rep's shingle array through the join (the verify
    payload), which is the same row the verify join would fetch in
    batch — fetched once per candidate either way."""
    from data_engineer_project_spark.functions import text as T
    from data_engineer_project_spark.streaming import read_document_stream

    def sig_cols(sh_col):
        # NOTE: the per-salt binding must come from a closure, not a
        # defaulted lambda parameter — Spark's transform() inspects
        # lambda arity, and a 2-parameter lambda receives (element,
        # array_index), silently shadowing the salt
        def mh(k):
            return F.array_min(
                F.transform(
                    sh_col, lambda s: F.md5(F.concat(F.lit(f"{k}:"), s))
                )
            ).alias(f"mh{k}")

        return [mh(k) for k in range(8)]

    def band_structs():
        return F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|", F.col(f"mh{2 * b}"), F.col(f"mh{2 * b + 1}")
                            )
                        ).alias("key"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk")

    bucket = F.expr(_D100_SPARK_BUCKET)
    corp = t.documents.filter(bucket < 90).select("doc_id", "text")
    cfp = corp.select(F.md5("text").alias("fp")).distinct()
    csh = corp.select(
        F.col("doc_id").alias("corpus_doc"),
        F.array_distinct(T.shingles("text")).alias("csh"),
    ).filter(F.size("csh") > 0)
    cbands = (
        csh.select("corpus_doc", "csh", *sig_cols(F.col("csh")))
        .select("corpus_doc", "csh", band_structs())
        .select(
            "corpus_doc",
            "csh",
            F.col("bk.band").alias("band"),
            F.col("bk.key").alias("key"),
        )
    )
    incoming = (
        read_document_stream(t._spark, t._sf_dir)
        .filter(bucket >= 90)
        .withColumn("fp", F.md5("text"))
        .join(cfp, "fp", "left_anti")  # exact tier: s11's door
        .select(
            F.col("doc_id").alias("new_doc"),
            F.array_distinct(T.shingles("text")).alias("ish"),
        )
        .filter(F.size("ish") > 0)
    )
    ibands = (
        incoming.select("new_doc", "ish", *sig_cols(F.col("ish")))
        .select("new_doc", "ish", band_structs())
        .select(
            "new_doc",
            "ish",
            F.col("bk.band").alias("band"),
            F.col("bk.key").alias("key"),
        )
    )
    ni = F.size(F.array_intersect(F.col("ish"), F.col("csh")))
    j = ni.cast("double") / (
        F.size("ish") + F.size("csh") - ni
    ).cast("double")
    hits = (
        ibands.join(cbands, ["band", "key"])
        .select("new_doc", "corpus_doc", j.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )
    sunk = run_to_memory_table(hits, "neardup_probe", "append")
    # band-multiplicity dedup happens at the sink (keyed MERGE in
    # production); the verdict table is the distinct pair set
    return sunk.distinct().orderBy("new_doc", "corpus_doc")


from data_engineer_project_spark.queries.catalog import (  # noqa: E402
    QUERIES as _REGISTRY_S25,
)

# s25's contract IS d101's: the streamed merge must be hash-equal to
# d99 run from scratch on the full table, so the oracle is d99's
# oracle verbatim (llm_pipeline is imported before this module, so the
# spec is already registered).
_S25_ORACLE = _REGISTRY_S25["d99_weighted_neardup_clusters"].oracle


@query(
    "s25_stream_cluster_maintenance",
    _S25_ORACLE,
    tags=("streaming", "llm", "dedup", "graph", "incremental"),
)
def s25_stream_cluster_maintenance(t):
    """d101's incremental cluster merge as a CONTINUOUS ingest: the
    standing weighted near-dup cluster state (reps, components, corpus
    shingle + band-key tables) is maintained across micro-batches of
    newly-landed documents — each foreachBatch merges one batch via
    _merge_delta_state (exact dups bump weights, novels attach through
    one-sided band probes, bridges merge standing components) and the
    UPDATED state becomes the corpus side the NEXT batch probes. This
    is the end of the streaming dedup arc: s11 gates exact dups at the
    door, s24 emits near-dup verdicts, s25 folds them into the
    standing cluster table a training-data pipeline actually serves.

    Exactness: _merge_delta_state chains — novels join the band and
    shingle tables later batches probe, weight bumps/renames land on
    reps keyed by content fingerprint — so state merged batch-by-batch
    equals one merge of the whole delta, which the d101 parity pytest
    pins hash-equal to d99 from scratch. The oracle is therefore d99's
    oracle verbatim, and a pytest asserts the run really processed
    multiple batches (maxFilesPerTrigger=1 over a multi-file spill).

    Scale shape: per-batch work is batch x matching-corpus (band
    equi-join) plus batch^2 through the skew guard; the CC pass runs
    over already-converged star edges plus the batch's attachments, so
    rounds track the log diameter of NEW merges only. State lives in
    localCheckpoint here (test scale); the 100 TB form is
    ``durable_cluster_merge_sink`` (llm_pipeline.py) — the same four
    artifacts published per batch through write_store_atomic into a
    batch-versioned store, replay-idempotent and restart-resumable,
    pinned by test_durable_cluster_merge_survives_midstream_crash
    (crash between publish and checkpoint commit, restart, final
    table tuple-equal to d99 from scratch)."""
    import shutil
    import tempfile

    import data_engineer_project_spark.operators.dedup as DD
    import data_engineer_project_spark.operators.graph as GR
    from data_engineer_project_spark.functions import text as T
    from data_engineer_project_spark.operators.cache import tracked_persist
    from data_engineer_project_spark.operators import neardup as ND
    from data_engineer_project_spark.queries.llm_pipeline import (
        _D100_NB,
        _D100_NH,
        _merge_delta_state,
    )

    bucket = F.expr(_D100_SPARK_BUCKET)
    docs = t.documents
    corpus = docs.filter(bucket < 90).select("doc_id", "text")
    delta = docs.filter(bucket >= 90).select("doc_id", "text")

    # standing state from the corpus partition (d101's cold path,
    # hermetic in-session here; the production form is its store)
    reps = tracked_persist(ND.collapse_exact(corpus))
    shc = tracked_persist(
        DD.exploded_shingles(reps.select("node", "text"), id_col="node").distinct()
    )
    pairs = DD.minhash_lsh_pairs_from_shingles(
        shc,
        id_col="node",
        num_hashes=_D100_NH,
        bands=_D100_NB,
        jaccard_threshold=0.5,
    ).select("doc_a", "doc_b")
    sigc = DD.minhash_signatures(shc, id_col="node", num_hashes=_D100_NH)
    state = {
        "reps": reps.select(
            "fp", "node", "wt", T.token_count("text").alias("n_tok")
        ),
        "comps": GR.connected_components(pairs, pairs_unique=True).select("node", "component"),
        "sh": shc,
        "bands": DD.band_key_rows(
            sigc, id_col="node", num_hashes=_D100_NH, bands=_D100_NB
        ),
    }

    tmp = tempfile.mkdtemp(prefix="s25_delta_")
    try:
        # the intake layout: delta docs land as multiple part files;
        # maxFilesPerTrigger=1 makes each file one micro-batch
        delta.repartition(3).write.mode("overwrite").parquet(f"{tmp}/landing")
        incoming = (
            t._spark.readStream.schema(delta.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/landing")
        )
        holder = {"st": state, "batches": 0}

        def sink(batch_df, _batch_id):
            if batch_df.isEmpty():
                return
            new = _merge_delta_state(
                batch_df.select("doc_id", "text"), holder["st"]
            )
            # materialize before the batch context closes (and cut
            # the per-batch lineage growth)
            holder["st"] = {
                k: v.localCheckpoint(eager=True) for k, v in new.items()
            }
            holder["batches"] += 1

        q = (
            incoming.writeStream.foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        from data_engineer_project_spark.operators import plancap

        plancap.grab_stream(
            "s25 source: last micro-batch (file source -> foreachBatch)", q
        )
        st = holder["st"]
        out = ND.weighted_rollup(st["reps"], st["comps"])
        # surface the batch count for the multi-batch pytest without
        # changing the driver-facing schema
        out._s25_batches = holder["batches"]
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------- s26: streaming media-ingest integrity gate (r13)

# The oracle's codepoint->UTF-8 byte expansion is the SAME arithmetic
# the m-family oracles use; import the shared constant so the two can
# never silently diverge (r13 advice).
from .multimodal_queries import _UTF8_BYTES as _S26_UTF8_BYTES


def _media_gate_verdicts(docs):
    """Shared front door of the streaming media gates (s26/s27 and
    their tests): wrap each document's bytes in a real VP8L container,
    TRUNCATE every doc_id % 37 == 0 payload to half its container
    bytes (the m16/m13 planted-damage convention — always cuts inside
    the VP8L chunk, so the strict parser quarantines it), parse with
    the Python integrity gate, and drop the empty-payload rows. One
    definition so the queries and the cross-batch pytest drive the
    SAME pipeline (r14 review: an inline copy in the test would keep
    passing after a constant drifts in the query)."""
    from data_engineer_project_spark.operators.multimodal import (
        attach_webp_media,
        container_integrity,
    )

    media = attach_webp_media(docs)
    damaged = media.filter(F.col("media").isNotNull()).withColumn(
        "media",
        F.when(
            F.col("doc_id") % 37 == 0,
            F.expr("substring(media, 1, cast(n_bytes div 2 as int))"),
        ).otherwise(F.col("media")),
    )
    return container_integrity(damaged).filter(F.col("status") != "empty")


_S27_EPOCH = 1704067200  # 2024-01-01 00:00:00 UTC, on an hour boundary


def s27_windowed_rates(docs):
    """The s27 pipeline from the docs stream to the windowed-rate
    aggregate (shared with the cross-batch pytest): gate verdicts,
    synthetic minute-offset event time (pure function of doc_id,
    derived AFTER the codec Arrow stages so the watermark column
    exists at the aggregation), 1-hour tumbling windows under a
    1-hour watermark, per-window quarantine counts and rate."""
    timed = _media_gate_verdicts(docs).withColumn(
        "ts",
        F.timestamp_seconds(F.lit(_S27_EPOCH) + (F.col("doc_id") % 720) * 60),
    )
    return (
        timed.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("status") != "ok", 1).otherwise(0))
            .cast("long")
            .alias("n_quarantined"),
            F.sum(F.when(F.col("status") == "ok", F.col("n_px")).otherwise(0))
            .cast("long")
            .alias("ok_px"),
        )
        .select(
            ((F.unix_timestamp(F.col("w.start")) - F.lit(_S27_EPOCH)) / 3600)
            .cast("long")
            .alias("window_no"),
            "n_docs",
            "n_quarantined",
            (F.col("n_quarantined").cast("double") / F.col("n_docs")).alias(
                "quarantine_rate"
            ),
            "ok_px",
        )
    )


@query(
    "s26_stream_media_integrity_gate",
    f"""
    WITH bl AS (
      SELECT doc_id, {_S26_UTF8_BYTES} AS b FROM documents
    ),
    m AS (
      SELECT doc_id, len(b) AS n,
             CAST(16 + doc_id % 48 AS BIGINT) AS w
      FROM bl WHERE len(b) > 0
    )
    SELECT CASE WHEN doc_id % 37 = 0 THEN 'corrupt' ELSE 'ok' END AS status,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id % 37 = 0 THEN 0
                         ELSE w * CAST(ceil(n / w) AS BIGINT) END)
                AS BIGINT) AS total_px
    FROM m GROUP BY 1 ORDER BY 1
    """,
    tags=("streaming", "multimodal", "quality"),
)
def s26_stream_media_integrity_gate(t):
    """Streaming media-ingest integrity gate — the streaming front
    door of the multimodal tier (round 13; the one streaming x
    multimodal intersection the registry lacked): documents arrive as
    a file stream, each micro-batch is wrapped in a REAL lossless-webp
    container (attach_webp_media — the m22 corpus prep, running
    stateless inside the stream), docs with doc_id % 37 == 0 are
    deterministically TRUNCATED to half their container bytes (the
    m16/m13 planted-damage convention), and every payload is PARSED
    by the strict Python decode gate (container_integrity — the
    round-13 tier rule keeps the lenient native path out of gates in
    code). Verdict counts and recovered-pixel mass roll up per status
    in complete mode (two bounded keys, tiny state, no watermark).

    The oracle models the verdicts arithmetically: an intact VP8L
    container always parses to exactly w*ceil(n/w) pixels, and a
    half-truncation ALWAYS cuts inside the VP8L chunk (the RIFF
    header + tag alone exceed half of any container our encoder
    emits), so the decoder's chunk-extent check quarantines it —
    'corrupt' iff planted, px mass only from survivors.

    Scale shape: encode, damage, and decode are stateless per-batch
    Arrow/codegen stages; the only streaming state is the two-row
    status rollup. At 100 TB this is the continuous-crawl ingest
    shape: decode-validate at the door, quarantine before anything
    downstream pays for a corrupt payload."""
    from data_engineer_project_spark.streaming import read_document_stream

    docs = read_document_stream(t._spark, t._sf_dir, fanout_small=True)
    gate = _media_gate_verdicts(docs)
    agg = (
        gate.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("status") == "ok", F.col("n_px")).otherwise(0))
            .cast("long")
            .alias("total_px"),
        )
    )
    return run_to_memory_table(agg, "media_gate", "complete").orderBy("status")


# ------- s27: append-mode per-window quarantine rates (round 14)


@query(
    "s27_stream_media_quarantine_rate",
    f"""
    WITH bl AS (
      SELECT doc_id, {_S26_UTF8_BYTES} AS b FROM documents
    ),
    m AS (
      SELECT doc_id, len(b) AS n,
             CAST(16 + doc_id % 48 AS BIGINT) AS w,
             CAST(doc_id % 720 AS BIGINT) AS mins,
             CASE WHEN doc_id % 37 = 0 THEN 1 ELSE 0 END AS bad
      FROM bl WHERE len(b) > 0
    ),
    mx AS (SELECT MAX(mins) AS mm FROM m),
    agg AS (
      SELECT CAST(mins // 60 AS BIGINT) AS window_no,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(bad) AS BIGINT) AS n_quarantined,
             CAST(SUM(bad) AS DOUBLE) / COUNT(*) AS quarantine_rate,
             CAST(SUM(CASE WHEN bad = 1 THEN 0
                           ELSE w * CAST(ceil(n / w) AS BIGINT) END)
                  AS BIGINT) AS ok_px
      FROM m GROUP BY 1
    )
    SELECT window_no, n_docs, n_quarantined, quarantine_rate, ok_px
    FROM agg, mx
    WHERE 60 * (window_no + 1) <= mm - 60
    ORDER BY window_no
    """,
    tags=("streaming", "multimodal", "quality", "watermark"),
)
def s27_stream_media_quarantine_rate(t):
    """Append-mode twin of s26 — the shape a CONTINUOUS crawl monitor
    actually runs (r13 verdict item 8): same front door (real VP8L
    containers via attach_webp_media, doc_id % 37 half-truncation, the
    strict Python container_integrity gate), but instead of a two-row
    complete-mode rollup, verdicts land in tumbling 1-hour event-time
    windows under a 1-hour watermark and each window emits its
    quarantine RATE exactly once, when the watermark proves it final
    (s12's append contract: emitted set = windows with window_end <=
    max(ts) - delay; the newest windows are withheld, which is the
    proof the watermark ran).

    Ingest time is a pure function of doc_id (minute offset
    doc_id % 720 from a fixed epoch), derived AFTER the codec Arrow
    stages — so the watermark column exists at the aggregation even
    though mapInPandas schemas don't carry it, and the oracle's
    emission cutoff reduces to closed-form integer arithmetic over
    the non-empty docs (no timestamps in the output schema, no
    timezone coupling anywhere). The rate is the same IEEE double
    division on both engines (count arithmetic, hash-stable).

    Scale shape: encode/damage/decode remain stateless per-batch
    Arrow stages; streaming state is one row per OPEN window (bounded
    by the watermark horizon, independent of stream length), and each
    closed window is emitted exactly once to the sink — the
    production monitor writes these rows to a durable alerting table.
    """
    from data_engineer_project_spark.streaming import (
        read_document_stream,
        run_to_memory_table,
    )

    docs = read_document_stream(t._spark, t._sf_dir, fanout_small=True)
    return run_to_memory_table(
        s27_windowed_rates(docs), "media_quarantine_rate", "append"
    ).orderBy("window_no")
