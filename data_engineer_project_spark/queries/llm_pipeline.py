"""LLM training-data pipeline operators over documents / embeddings /
events — first-class components beyond the reference's surface
(BASELINE.json north star): text analysis, dedup (exact → MinHash-LSH →
SimHash), similarity search (brute-force + sign-LSH ANN), and
event-window analytics (the batch twins of the streaming module).

Oracle parity notes:
- dot products fold in DOUBLE in array order on both engines (DuckDB's
  float-accumulating list_dot_product is deliberately NOT used);
- the ±1 LSH hyperplanes are md5-parity literals shared between the
  Spark plan and the generated oracle SQL;
- counts/ratios are integer-derived, so doubles compare exactly.
"""

from __future__ import annotations


from pyspark.sql import Window
from pyspark.sql import functions as F

from data_engineer_project_spark.functions import text as T
from data_engineer_project_spark.functions.numeric import money
from data_engineer_project_spark.operators import curation as CUR
from data_engineer_project_spark.operators import dedup as DD
from data_engineer_project_spark.operators.cache import tracked_persist
from data_engineer_project_spark.operators.fanout import fanout_small
from data_engineer_project_spark.operators import graph as GR
from data_engineer_project_spark.operators import linalg as LA
from data_engineer_project_spark.operators import neardup as ND
from data_engineer_project_spark.operators import pq as PQ
from data_engineer_project_spark.operators import retrieval as RET
from data_engineer_project_spark.operators import robust as ROB
from data_engineer_project_spark.operators import similarity as SIM
from data_engineer_project_spark.operators import topk as TK
from data_engineer_project_spark.operators.asof import asof_join
from data_engineer_project_spark.operators.interval import range_join
from data_engineer_project_spark.queries.catalog import query

# ------------------------------------------------------------------ text


@query(
    "d01_token_stats",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(length(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM(CAST(ceil(length(text) / 4.0) AS BIGINT)) AS BIGINT) AS est_bpe_tokens,
           CAST(SUM(length(string_split(text, ' '))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS avg_tokens
    FROM documents GROUP BY lang
    """,
    tags=("llm", "text"),
)
def d01_token_stats(t):
    """Token counting per language: whitespace tokens + a BPE-ish
    chars/4 estimate. Array-native (no explode) → scales as a single
    map + one small shuffle on lang."""
    d = t.documents
    toks = T.token_count("text")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(toks).alias("total_tokens"),
        F.sum(F.length("text")).alias("total_chars"),
        F.sum(T.bpe_token_estimate("text")).alias("est_bpe_tokens"),
        (F.sum(toks).cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avg_tokens"
        ),
    )


_SW_SQL = ", ".join(f"'{w}'" for w in T.STOPWORDS)


@query(
    "d02_quality_scores",
    f"""
    SELECT doc_id,
           length(string_split(text, ' ')) AS n_words,
           CAST(length(replace(text, ' ', '')) AS DOUBLE)
             / CAST(length(string_split(text, ' ')) AS DOUBLE) AS avg_word_len,
           CAST(length(list_filter(string_split(text, ' '),
                                   x -> x IN ({_SW_SQL}))) AS DOUBLE)
             / CAST(length(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio,
           CASE WHEN length(string_split(text, ' ')) BETWEEN 20 AND 120
                 AND CAST(length(list_filter(string_split(text, ' '),
                                   x -> x IN ({_SW_SQL}))) AS DOUBLE)
                     / CAST(length(string_split(text, ' ')) AS DOUBLE) < 0.3
                THEN 1 ELSE 0 END AS quality_flag
    FROM documents
    """,
    tags=("llm", "text"),
)
def d02_quality_scores(t):
    """Per-doc quality scoring: word count, avg word length, stopword
    ratio, and a keep/drop flag — the standard pre-training filter
    shape. All ratios are integer-derived doubles (exact parity)."""
    d = t.documents
    n_words = T.token_count("text")
    n_chars_ns = F.length(F.regexp_replace("text", " ", ""))
    sw = T.stopword_count("text")
    stop_ratio = sw.cast("double") / n_words.cast("double")
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        (n_chars_ns.cast("double") / n_words.cast("double")).alias("avg_word_len"),
        stop_ratio.alias("stopword_ratio"),
        F.when(
            n_words.between(20, 120) & (stop_ratio < 0.3), 1
        ).otherwise(0).alias("quality_flag"),
    )


@query(
    "d03_lang_id_heuristic",
    f"""
    SELECT lang,
           CASE WHEN CAST(length(list_filter(string_split(text, ' '),
                                   x -> x IN ({_SW_SQL}))) AS DOUBLE)
                     / CAST(length(string_split(text, ' ')) AS DOUBLE) >= 0.02
                THEN 'en' ELSE 'und' END AS predicted,
           COUNT(*) AS n
    FROM documents GROUP BY 1, 2
    """,
    tags=("llm", "text"),
)
def d03_lang_id_heuristic(t):
    """Language-ID heuristic (stopword-marker scoring) + confusion
    matrix against the labeled lang column. The marker-list approach is
    the real n-gram-profile plumbing; richer profiles are a data
    change, not a plan change. (The synthetic corpus shares one vocab
    across langs, so the interesting output IS the confusion matrix.)"""
    d = t.documents
    stop_ratio = T.stopword_count("text").cast("double") / T.token_count("text").cast(
        "double"
    )
    return (
        d.select(
            "lang",
            F.when(stop_ratio >= 0.02, "en").otherwise("und").alias("predicted"),
        )
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "d04_fingerprints",
    f"""
    WITH {ND.shingles_sql()}
    SELECT d.doc_id,
           md5(d.text) AS exact_fp,
           md5(array_to_string(string_split(d.text,' ')[1:10], ' ')) AS prefix_fp,
           s.min_shingle_fp
    FROM documents d
    JOIN (SELECT doc_id, min(md5(shingle)) AS min_shingle_fp FROM sh GROUP BY doc_id) s
      ON d.doc_id = s.doc_id
    """,
    tags=("llm", "text", "dedup"),
)
def d04_fingerprints(t):
    """Document fingerprinting: exact md5, leading-content (first 10
    words) fingerprint, and min-shingle fingerprint (MinHash k=1) —
    the building blocks of the dedup tiers, emitted per doc. The
    min-shingle leg uses the relational posexplode+lead builder and a
    doc-keyed min — HOF transform+array_min lambdas are interpreted
    (dedup.py:53) and measured ~3 s vs ~0.5 s at sf0.1; the join is
    inner, mirroring the oracle (shingle-less docs drop out)."""
    d = t.documents
    mn = (
        DD.exploded_shingles(d)
        .groupBy("doc_id")
        .agg(F.min(F.md5("shingle")).alias("min_shingle_fp"))
    )
    return d.select(
        "doc_id",
        T.md5_fingerprint("text").alias("exact_fp"),
        T.prefix_fingerprint("text", 10).alias("prefix_fp"),
    ).join(mn, "doc_id")


# ----------------------------------------------------------------- dedup


@query(
    "d05_dedup_exact",
    """
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(text)) AS n_distinct,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dup_rows
    FROM documents
    """,
    tags=("llm", "dedup"),
)
def d05_dedup_exact(t):
    """Exact dedup accounting (hash-groupBy tier): one shuffle on the
    md5 fingerprint; at 100 TB this is the cheap first pass."""
    return DD.exact_dedup_stats(t.documents)


@query(
    "d06_dedup_prefix_clusters",
    """
    SELECT md5(array_to_string(string_split(text,' ')[1:10], ' ')) AS prefix_fp,
           COUNT(*) AS cluster_size,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id
    FROM documents
    GROUP BY 1 HAVING COUNT(*) > 1
    """,
    tags=("llm", "dedup"),
)
def d06_dedup_prefix_clusters(t):
    """Near-dup blocking by leading-content fingerprint: clusters
    sharing their first 10 words (the candidate generator tier)."""
    return DD.prefix_clusters(t.documents, n_words=10)


# d07's chain over documents up to the verified pairs ``ver``(doc_a,
# doc_b, jaccard): the prefix of every near-dup pair/cluster oracle
# over the raw corpus.
_NEARDUP_CTES = f"""{ND.shingles_sql()},
    {ND.minhash_sql()},
    {ND.verify_self_sql(0.5)}"""


@query(
    "d07_dedup_minhash_lsh",
    f"""
    WITH {_NEARDUP_CTES}
    SELECT doc_a, doc_b, jaccard FROM ver
    """,
    tags=("llm", "dedup", "flagship"),
)
def d07_dedup_minhash_lsh(t):
    """MinHash+LSH near-dup pairs with exact-Jaccard verify (SURVEY
    north-star dedup): shingle → salted-md5 signature → band buckets →
    candidate equi-join → relational Jaccard ≥ 0.5. No all-pairs step
    anywhere, so the plan survives corpus-scale fan-out."""
    return ND.verified_pairs(t.documents)


def _simhash_oracle(max_hamming: int = 3, bucket_bits: int = 8) -> str:
    sums = ", ".join(
        f"SUM(((strpos('0123456789abcdef', substring(m, {b + 1}, 1)) - 1) % 2) * 2 - 1)"
        f" AS s{b}"
        for b in range(16)
    )
    hash_expr = " + ".join(f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(16))
    return f"""
    WITH w AS (SELECT doc_id, unnest(string_split(text,' ')) AS wd FROM documents),
    h AS (SELECT doc_id, md5(wd) AS m FROM w),
    s AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id),
    sig AS (SELECT doc_id, CAST({hash_expr} AS BIGINT) AS simhash FROM s)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sig a JOIN sig b
      ON a.simhash // {1 << bucket_bits} = b.simhash // {1 << bucket_bits}
     AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


@query(
    "d08_dedup_simhash",
    _simhash_oracle(),
    tags=("llm", "dedup"),
    tier="diagnostic",
    production_twin="d99_weighted_neardup_clusters",
)
def d08_dedup_simhash(t):
    """SimHash near-dup pairs: 16-bit signed-projection signature,
    bucketed by high bits so hamming comparison never goes quadratic."""
    return DD.simhash_pairs(t.documents, max_hamming=3, bucket_bits=8)


# ------------------------------------------------------------ similarity

def _cosine_topk_oracle(k: int = 5, query_limit: int = 10) -> str:
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < {query_limit}),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    pairs AS (SELECT query_id, neighbor_id, qv, cv FROM q, c
              WHERE neighbor_id <> query_id),
    {SIM.cosine_sql("scored", "pairs", ("query_id", "neighbor_id"))}
    SELECT query_id, neighbor_id, score FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= {k}
    """


@query(
    "d09_cosine_topk_bruteforce",
    _cosine_topk_oracle(),
    tags=("llm", "similarity", "flagship"),
)
def d09_cosine_topk_bruteforce(t):
    """Exact cosine top-5 neighbors for the first 10 vectors —
    the ANN baseline. Query set broadcasts; corpus never shuffles;
    per-query windowed top-k."""
    emb = t.embeddings
    queries = emb.filter(F.col("vec_id") < 10)
    return SIM.brute_force_topk(queries, fanout_small(emb), k=5)


def _lsh_topk_oracle(k: int = 3, dim: int = 64, query_limit: int = 10) -> str:
    return f"""
    WITH {SIM.banded_lsh_sigs_sql(dim)},
    q AS (SELECT e.vec_id AS query_id, e.embedding AS qv, b.band, b.bucket
          FROM embeddings e JOIN buck b ON e.vec_id = b.vec_id
          WHERE e.vec_id < {query_limit}),
    c AS (SELECT e.vec_id AS neighbor_id, e.embedding AS cv, b.band, b.bucket
          FROM embeddings e JOIN buck b ON e.vec_id = b.vec_id),
    pairs AS (SELECT DISTINCT q.query_id, c.neighbor_id, q.qv, c.cv
              FROM q JOIN c ON q.band = c.band AND q.bucket = c.bucket
              WHERE c.neighbor_id <> q.query_id),
    {SIM.cosine_sql("scored", "pairs", ("query_id", "neighbor_id"))}
    SELECT query_id, neighbor_id, score FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= {k}
    """


@query("d10_ann_lsh_bucketed", _lsh_topk_oracle(), tags=("llm", "similarity"))
def d10_ann_lsh_bucketed(t):
    """Banded adaptive sign-LSH ANN (the scale path): plane count grows
    with the corpus (clamp(ceil(log2(ceil(N/64))), 4, 24) — buckets
    stay ~64 rows, so candidate generation is corpus-LINEAR, not
    N²/constant), and the band count grows with the planes
    (max(2, ceil(planes/3)) independent plane families OR together) so
    recall stays ≥ ~0.94 for 0.99-cosine pairs at any corpus size.
    Candidates equi-join on (band, bucket) → exact cosine →
    cross-band dedup → top-3."""
    emb = t.embeddings
    queries = emb.filter(F.col("vec_id") < 10)
    return SIM.lsh_topk(queries, emb, k=3, dim=64)


@query(
    "d11_embedding_norm_stats",
    """
    WITH ex AS (SELECT vec_id, label, unnest(embedding) AS x FROM embeddings),
    norms AS (SELECT vec_id, label,
                     sqrt(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
              FROM ex GROUP BY vec_id, label)
    SELECT label, COUNT(*) AS n,
           CAST(SUM(CAST(round(nrm, 9) AS DECIMAL(18,9))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS avg_norm
    FROM norms GROUP BY label
    """,
    tags=("llm", "similarity"),
)
def d11_embedding_norm_stats(t):
    """Per-label embedding norm stats. Norms are per-row doubles
    (deterministic); the cross-row mean goes through round→decimal so
    the aggregation is order-independent at any parallelism."""
    emb = t.embeddings
    nrm = SIM.norm(F.col("embedding"))
    return (
        emb.select("label", F.round(nrm, 9).cast("decimal(18,9)").alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("nrm").cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "avg_norm"
            ),
        )
    )


def _ngram_jaccard_oracle(threshold: float = 0.5, max_df: int = 50) -> str:
    return f"""
    WITH {ND.shingles_sql()},
    {ND.inverted_pairs_sql(max_df)}
    SELECT doc_a, doc_b,
           CAST(n_inter AS DOUBLE) / CAST(n_a + n_b - n_inter AS DOUBLE) AS jaccard
    FROM pstats
    WHERE CAST(n_inter AS DOUBLE) / CAST(n_a + n_b - n_inter AS DOUBLE) >= {threshold}
    """


@query("d12_dedup_ngram_jaccard", _ngram_jaccard_oracle(), tags=("llm", "dedup"))
def d12_dedup_ngram_jaccard(t):
    """Exact n-gram-Jaccard near-dup pairs via an inverted shingle
    index: docs sharing an informative shingle (document frequency ≤ 50
    and > 1) become candidates; Jaccard over those shingle sets. No
    approximation — the exact-tier complement of d07's MinHash."""
    return DD.ngram_jaccard_pairs(
        fanout_small(t.documents), jaccard_threshold=0.5, max_df=50
    )


def _cosine_near_dup_oracle(threshold: float = 0.4, dim: int = 64) -> str:
    return f"""
    WITH {SIM.banded_lsh_sigs_sql(dim)},
    v AS (SELECT e.vec_id, e.embedding, b.band, b.bucket
          FROM embeddings e JOIN buck b ON e.vec_id = b.vec_id),
    pairs AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
                     a.embedding AS qv, b.embedding AS cv
              FROM v a JOIN v b ON a.band = b.band AND a.bucket = b.bucket
                               AND a.vec_id < b.vec_id),
    {SIM.cosine_sql("pd", "pairs", ("vec_a", "vec_b"))}
    SELECT vec_a, vec_b, score FROM pd WHERE score >= {threshold}
    """


@query("d13_embedding_near_dup", _cosine_near_dup_oracle(), tags=("llm", "dedup", "similarity"))
def d13_embedding_near_dup(t):
    """Embedding-cosine near-dup pairs, banded-adaptive-LSH-blocked:
    candidates collide in any band's bucket (bucket count scales with
    N — corpus-linear), deduped across bands, verified by exact cosine
    ≥ 0.4 (this synthetic corpus has no >0.52 pairs; the threshold is
    set to exercise the pipeline, recall semantics are the operator's)."""
    return SIM.cosine_near_dup_pairs(t.embeddings, threshold=0.4, dim=64)


def _ivf_oracle(k: int = 3, query_limit: int = 10, nprobe: int = 1) -> str:
    """DuckDB twin of ``kmeans_centroids`` + ``ivf_topk``: the shared
    k-means chain (``kmeans_chain``) plus the query-side cell probe
    and in-cell top-k. ``nprobe`` widens the QUERY side to its nearest
    n cells (corpus stays in one cell), matching
    ``ivf_topk(nprobe=...)``."""
    return f"""
    WITH {SIM.kmeans_chain(2)},
    {SIM.nearest_cells_sql("qasg", "apd2", nprobe)},
    q AS (SELECT e.vec_id AS query_id, e.embedding AS qv, a.cid
          FROM embeddings e JOIN qasg a ON e.vec_id = a.vec_id
          WHERE e.vec_id < {query_limit}),
    c AS (SELECT e.vec_id AS neighbor_id, e.embedding AS cv, a.cid
          FROM embeddings e JOIN asg a ON e.vec_id = a.vec_id),
    pairs AS (SELECT q.query_id, c.neighbor_id, q.cid, q.qv, c.cv
              FROM q JOIN c ON q.cid = c.cid
              WHERE c.neighbor_id <> q.query_id),
    {SIM.cosine_sql("scored", "pairs", ("query_id", "neighbor_id", "cid"))}
    SELECT query_id, neighbor_id, cid, score FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= {k}
    """


@query("d14_ann_ivf", _ivf_oracle(), tags=("llm", "similarity"))
def d14_ann_ivf(t):
    """IVF ANN (nprobe=1): corpus coarse-quantized into ~sqrt(N) cells
    (adaptive_centroids — one eager count sizes it, mirrored in the
    oracle from COUNT(*)) by two spherical k-means iterations (seeded
    at the lowest ids, centroid update = integer-quantized coordinate
    sum — exact and engine-portable; see operators/similarity.
    kmeans_centroids); each query searches only its own cell. Per-query
    search cost is ~sqrt(N) — the structure that makes billion-vector
    search tractable (nprobe>1 is recall tuning, same plan)."""
    emb = t.embeddings
    return SIM.ivf_topk(emb.filter(F.col("vec_id") < 10), emb, k=3)


# ---------------------------------------------------------------- events


@query(
    "e01_tumbling_window",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
    tags=("events", "window"),
)
def e01_tumbling_window(t):
    """Tumbling 1-hour windowed aggregation over the event stream —
    the batch twin of the Structured Streaming pipeline (streaming/
    module runs the same plan with readStream + watermark)."""
    e = t.events
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(money("value")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


@query(
    "e02_sliding_window",
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
    tags=("events", "window"),
)
def e02_sliding_window(t):
    """Sliding window (1 hour, slide 30 min): every event lands in two
    overlapping windows; Spark's window(slide) materializes both
    assignments — the oracle mirrors that with a two-mark union."""
    e = t.events
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(money("value")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "total_value")
    )


@query(
    "e03_sessionization",
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
    tags=("events", "window", "sessions"),
)
def e03_sessionization(t):
    """Sessionization with a 5-minute inactivity gap via
    session_window — Spark's native merging session operator; the
    oracle is the classic gaps-and-islands formulation (they agree
    because both merge events with gap ≤ 5 min into one session)."""
    e = t.events
    return (
        e.groupBy("user_id", F.session_window("ts", "5 minutes").alias("w"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("last_event"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "last_event", "n_events")
    )


@query(
    "e04_json_extract",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS total_k,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS avg_k
    FROM events GROUP BY event_type
    """,
    tags=("events", "json"),
)
def e04_json_extract(t):
    """Semi-structured extraction: pull props.k out of the JSON string
    column and aggregate — get_json_object stays JVM-side (no UDF)."""
    e = t.events
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("total_k"),
        (F.sum(k).cast("double") / F.count(F.lit(1)).cast("double")).alias("avg_k"),
    )


@query(
    "e05_asof_join",
    """
    SELECT p.event_id, p.user_id, p.ts, p.value,
           v.value AS asof_value, v.event_id AS asof_event_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
    tags=("events", "asof", "timeseries"),
)
def e05_asof_join(t):
    """Point-in-time (as-of) join: each purchase picks up the value of
    the user's latest at-or-before view. operators/asof.py implements
    it as union + one per-key window — a single shuffle, no join node —
    where the naive range join is per-key quadratic. The oracle is
    DuckDB's native ASOF JOIN (identical backward/<= tie semantics)."""
    e = t.events
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = e.filter(F.col("event_type") == "view").select("user_id", "ts", "value", "event_id")
    return asof_join(
        purchases, views, key="user_id", left_ts="ts", right_ts="ts",
        value_cols=["value", "event_id"],
    )


@query(
    "e06_range_join",
    """
    SELECT e.event_id AS err_id, COUNT(*) AS n_hits,
           CAST(SUM(CAST(x.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM (SELECT event_id, ts FROM events WHERE event_type = 'error') e
    JOIN events x ON x.ts >= e.ts AND x.ts < e.ts + INTERVAL 1 HOUR
    GROUP BY err_id
    """,
    tags=("events", "range-join", "timeseries"),
)
def e06_range_join(t):
    """Range (interval) join without an equi key: all activity in the
    hour after each error event. operators/interval.py buckets time so
    this plans as a shuffled equi-join on bucket id + residual filter
    instead of the BroadcastNestedLoopJoin a bare inequality join
    produces — the form that survives 100 TB. The oracle runs the bare
    inequality join (DuckDB IEJoin), proving the bucketed rewrite is
    exactly equivalent."""
    e = t.events
    errs = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("ts").alias("err_ts"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("err_end"),
    )
    hits = e.select(F.col("ts").alias("hit_ts"), F.col("value").alias("hit_value"))
    j = range_join(
        fanout_small(errs), hits, "err_ts", "err_end", "hit_ts",
        bucket_width="1 hour",
    )
    return j.groupBy("err_id").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.sum(money("hit_value")).cast("double").alias("total_value"),
    )


# ------------------------------------------------- composed pipelines


# d15's three curation tiers, shared with d38 (which adds a fourth).
_CURATION_FIN_SQL = f"""q AS (
      SELECT doc_id, lang, text FROM documents
      WHERE length(string_split(text, ' ')) BETWEEN 20 AND 120
        AND CAST(length(list_filter(string_split(text, ' '),
                                    x -> x IN ({_SW_SQL}))) AS DOUBLE)
            / CAST(length(string_split(text, ' ')) AS DOUBLE) < 0.3
    ),
    {ND.reps_sql("q", "ex")},
    e2 AS (SELECT q.doc_id, q.lang, q.text FROM q JOIN ex USING (doc_id)),
    nd AS (SELECT MIN(doc_id) AS doc_id FROM e2
           GROUP BY md5(array_to_string(string_split(text,' ')[1:10], ' '))),
    fin AS (SELECT e2.doc_id, e2.lang, e2.text FROM e2 JOIN nd USING (doc_id))"""


@query(
    "d15_curation_pipeline",
    f"""
    WITH {_CURATION_FIN_SQL}
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(length(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM fin GROUP BY lang
    """,
    tags=("llm", "dedup", "pipeline", "flagship"),
)
def d15_curation_pipeline(t):
    """End-to-end curation: quality filter (d02 criteria) → exact dedup
    keep-first → prefix near-dup removal (keep lowest id per cluster) →
    per-lang corpus stats. The composition every training-data pipeline
    runs, as ONE declarative plan — three groupBy shuffles total, no
    materialization between stages. (d38 runs the same tiers plus a
    containment tier; the tier chain is shared via _curated_fin.)"""
    fin = _curated_fin(t)
    return fin.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(T.token_count("text")).alias("total_tokens"),
    )


def _ann_recall_oracle(k: int = 3, dim: int = 64, query_limit: int = 10) -> str:
    return f"""
    WITH {SIM.banded_lsh_sigs_sql(dim)},
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
          WHERE vec_id < {query_limit}),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    allp AS (SELECT query_id, neighbor_id, qv, cv FROM q, c
             WHERE neighbor_id <> query_id),
    {SIM.cosine_sql("scored", "allp", ("query_id", "neighbor_id"))},
    bf AS (SELECT query_id, neighbor_id FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY score DESC, neighbor_id) AS rn
             FROM scored) WHERE rn <= {k}),
    lshp AS (SELECT DISTINCT s.query_id, s.neighbor_id, s.score FROM scored s
             JOIN buck bq ON bq.vec_id = s.query_id
             JOIN buck bc ON bc.vec_id = s.neighbor_id
                         AND bc.band = bq.band AND bc.bucket = bq.bucket),
    lsh AS (SELECT query_id, neighbor_id FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY score DESC, neighbor_id) AS rn
              FROM lshp) WHERE rn <= {k}),
    hits AS (SELECT COUNT(*) AS n_hits FROM bf JOIN lsh USING (query_id, neighbor_id))
    SELECT (SELECT COUNT(*) FROM q) AS n_queries,
           CAST(n_hits AS DOUBLE) / ({k} * (SELECT COUNT(*) FROM q)) AS recall_at_k
    FROM hits
    """


@query("d16_ann_recall", _ann_recall_oracle(), tags=("llm", "similarity", "eval"))
def d16_ann_recall(t):
    """ANN quality evaluation: recall@3 of the banded adaptive sign-LSH
    index against brute-force ground truth over the same queries — the
    measurement loop that tunes the bucket-size target / band count at
    scale. Integer hit counts / fixed denominators → exact cross-engine
    parity."""
    emb = t.embeddings
    queries = emb.filter(F.col("vec_id") < 10)
    bf = SIM.brute_force_topk(queries, fanout_small(emb), k=3).select(
        "query_id", "neighbor_id"
    )
    lsh = SIM.lsh_topk(queries, emb, k=3, dim=64).select(
        "query_id", "neighbor_id"
    )
    n_q = queries.count()
    hits = bf.join(lsh, ["query_id", "neighbor_id"], "inner")
    return hits.agg(
        F.lit(n_q).cast("long").alias("n_queries"),
        (F.count(F.lit(1)).cast("double") / F.lit(3.0 * n_q)).alias("recall_at_k"),
    )


@query(
    "d17_approx_aggregates",
    """
    SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           0.06 AS hll_error_bound,
           TRUE AS hll_within_bound,
           0.01 AS median_error_bound,
           TRUE AS median_within_bound
    FROM lineitem
    """,
    tags=("agg", "approx"),
)
def d17_approx_aggregates(t):
    """Approximate aggregation for 100 TB interactive profiling:
    HLL++ approx_count_distinct and an approximate median, checked
    against their exact twins INSIDE the query. The sketch estimates
    themselves are engine-specific (DuckDB cannot reproduce Spark's
    HLL registers), so the output carries only what IS verifiable:
    the exact value, the hard error bounds, and booleans asserting the
    sketches landed within them — the oracle pins those booleans to
    TRUE, so a sketch regression past its bound turns the row red.
    HLL is merge-order-invariant (register max), and the bound checks
    leave slack for the quantile sketch's mild merge-order wiggle, so
    the booleans are deterministic under any partitioning/AQE plan.

    Plan note: the exact distinct count runs in its OWN aggregate,
    cross-joined (1-row broadcast) with the sketch aggregate — mixing
    countDistinct's Expand rewrite with typed-imperative sketch
    aggregates in one agg node planned 10× slower (4.2 s vs 0.4 s at
    sf0.01, measured); two scans of a pruned single column are cheaper
    at every scale."""
    li = t.lineitem
    exact_df = li.agg(
        F.countDistinct("l_orderkey").cast("double").alias("exact_d")
    )
    sketch_df = li.agg(
        F.approx_count_distinct("l_orderkey", 0.02).cast("double").alias("approx_d"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("med_approx"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("med_exact"),
    )
    j = exact_df.crossJoin(F.broadcast(sketch_df))
    return j.select(
        F.col("exact_d").cast("long").alias("exact_orders"),
        F.lit(0.06).alias("hll_error_bound"),
        (F.abs(F.col("approx_d") - F.col("exact_d")) / F.col("exact_d") < 0.06).alias(
            "hll_within_bound"
        ),
        F.lit(0.01).alias("median_error_bound"),
        (
            F.abs(F.col("med_approx") - F.col("med_exact")) / F.col("med_exact") < 0.01
        ).alias("median_within_bound"),
    )


# ------------------------------------------------ reproducible splits

# Splits, sampling buckets and shards are content-addressed: md5 hex
# digits of the doc id (operators/curation.py), identical on Spark and
# DuckDB and stable under re-sharding, backfills and engine swaps.


@query(
    "d18_hash_split",
    f"""
    SELECT doc_id, lang,
           CASE WHEN {CUR.ORACLE_BUCKET} < 80 THEN 'train'
                WHEN {CUR.ORACLE_BUCKET} < 90 THEN 'valid'
                ELSE 'test' END AS split
    FROM documents
    """,
    tags=("llm", "split"),
)
def d18_hash_split(t):
    """Deterministic 80/10/10 train/valid/test assignment per document
    — a narrow map over the scan (no shuffle, no state), stable under
    any partitioning."""
    b = F.expr(CUR.SPARK_BUCKET)
    return t.documents.select(
        "doc_id",
        "lang",
        F.when(b < 80, "train").when(b < 90, "valid").otherwise("test").alias("split"),
    )


@query(
    "d19_stratified_sample",
    f"""
    SELECT lang, COUNT(*) AS n_sampled,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc, CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM documents WHERE {CUR.ORACLE_BUCKET} < 10
    GROUP BY lang
    """,
    tags=("llm", "sample"),
)
def d19_stratified_sample(t):
    """Reproducible ~10% per-language sample via the same content-
    addressed bucket: a pushable filter, so the sample costs one scan
    and strata stay proportional without a per-stratum pass (contrast
    `sampleBy`, whose output changes with partitioning)."""
    b = F.expr(CUR.SPARK_BUCKET)
    return (
        t.documents.filter(b < 10)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


@query(
    "e07_funnel_conversion",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_view_click,
           (SELECT COUNT(*) FROM p) AS n_full_funnel
    """,
    tags=("events", "funnel"),
)
def e07_funnel_conversion(t):
    """Strict-order funnel (view → later click → later purchase):
    stage N is an aggregate joined back to stage N-1 with a time bound
    — each stage is one shuffle on user_id and the stage tables shrink
    monotonically, so the 100 TB cost is dominated by the first scan.
    Events is filtered once per stage type, never self-joined raw."""
    e = t.events
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_view_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_full_funnel")))
    )


@query(
    "e08_rolling_1h_per_user",
    """
    SELECT event_id, user_id, ts,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS value_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
    tags=("events", "window", "timeseries"),
)
def e08_rolling_1h_per_user(t):
    """Per-user rolling 1-hour count/sum via a RANGE-framed window on
    event time (ordered by epoch micros so the frame bound is numeric;
    exact-decimal sum keeps the frame aggregation order-independent).
    One shuffle on user_id; frames never cross partitions."""
    e = t.events
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum(money("value")).over(w).cast("double").alias("value_1h"),
    )


@query(
    "d20_dedup_clusters",
    f"""
    WITH RECURSIVE {_NEARDUP_CTES},
    {ND.components_sql()}
    SELECT component, COUNT(*) AS cluster_size,
           CAST(MIN(node) AS BIGINT) AS canonical_doc,
           CAST(MAX(node) AS BIGINT) AS max_doc
    FROM lab GROUP BY component
    """,
    tags=("llm", "dedup", "graph"),
)
def d20_dedup_clusters(t):
    """Near-duplicate CLUSTERS: MinHash-LSH verified pairs (d07's
    plan) → connected components (operators/graph.py min-label
    propagation) → one canonical doc (min id) per component. This is
    the end of the dedup pipeline — what a curation job actually keeps.
    The oracle replays the propagation as a recursive CTE to fixpoint;
    both sides compute the same exact min-label result."""
    pairs = ND.verified_pairs(t.documents)
    comps = GR.connected_components(pairs, pairs_unique=True)
    return comps.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.min("node").alias("canonical_doc"),
        F.max("node").alias("max_doc"),
    )


@query(
    "d21_multimodal_record_join",
    """
    WITH ex AS (SELECT vec_id, label, unnest(embedding) AS x FROM embeddings),
    norms AS (SELECT vec_id, label,
                     sqrt(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
              FROM ex GROUP BY vec_id, label),
    j AS (SELECT d.lang, n.label, n.nrm,
                 length(string_split(d.text, ' ')) AS toks
          FROM documents d JOIN norms n ON d.doc_id = n.vec_id)
    SELECT lang, label, COUNT(*) AS n,
           CAST(SUM(CAST(round(nrm, 9) AS DECIMAL(18,9))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS avg_norm,
           CAST(SUM(toks) AS BIGINT) AS total_tokens
    FROM j GROUP BY lang, label
    """,
    tags=("llm", "multimodal", "join"),
)
def d21_multimodal_record_join(t):
    """Multimodal record assembly: text rows joined 1:1 to their
    embedding vectors (doc_id = vec_id) — the canonical training-data
    shape (text + tensor in one record). Per (lang, label): count,
    mean L2 norm (per-row double, round→decimal for an order-free
    mean), token totals. At 100 TB both sides bucket/partition on the
    id so this join is co-located, not a full shuffle."""
    emb = t.embeddings
    d = t.documents
    nrm = F.round(SIM.norm(F.col("embedding")), 9).cast("decimal(18,9)")
    j = d.join(emb, d.doc_id == emb.vec_id).select(
        "lang", "label", nrm.alias("nrm"), T.token_count("text").alias("toks")
    )
    return j.groupBy("lang", "label").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("nrm").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avg_norm"
        ),
        F.sum("toks").alias("total_tokens"),
    )


@query(
    "d22_zscore_features",
    """
    WITH s AS (
      SELECT lang, COUNT(*) AS n,
             SUM(n_chars) AS s1,
             SUM(n_chars * n_chars) AS s2
      FROM documents GROUP BY lang
    )
    SELECT d.doc_id, d.lang,
           CAST((CAST(d.n_chars AS DOUBLE) - CAST(s.s1 AS DOUBLE) / CAST(s.n AS DOUBLE))
                / sqrt((CAST(s.s2 AS DOUBLE)
                        - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE) / CAST(s.n AS DOUBLE))
                       / CAST(s.n - 1 AS DOUBLE)) AS DOUBLE) AS z_chars
    FROM documents d JOIN s ON d.lang = s.lang
    """,
    tags=("llm", "features"),
)
def d22_zscore_features(t):
    """Per-language z-score standardization of document length — the
    feature-engineering normalize step. Moments come from exact integer
    sums (SUM(x), SUM(x²)) so mean/stddev are the same IEEE doubles on
    any engine at any parallelism; the built-in stddev_samp (Welford
    merge order) would NOT hash-match. Aggregate is tiny → broadcast
    back onto the row stream, one shuffle total."""
    d = t.documents
    s = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n").cast("double")
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n").cast("double")
    ) / (F.col("n") - 1).cast("double")
    return (
        d.join(F.broadcast(s), "lang")
        .select(
            "doc_id",
            "lang",
            ((F.col("n_chars").cast("double") - mean) / F.sqrt(var)).alias("z_chars"),
        )
    )


@query(
    "d23_dedup_edit_distance",
    """
    WITH fp AS (
      SELECT doc_id, text,
             md5(array_to_string(string_split(text,' ')[1:10], ' ')) AS prefix_fp
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
           CAST(length(a.text) AS BIGINT) AS len_a,
           CAST(length(b.text) AS BIGINT) AS len_b
    FROM fp a JOIN fp b ON a.prefix_fp = b.prefix_fp AND a.doc_id < b.doc_id
    """,
    tags=("llm", "dedup"),
)
def d23_dedup_edit_distance(t):
    """Edit-distance dedup tier: candidate pairs come from the cheap
    prefix-fingerprint blocks (d06's key — never all-pairs), then exact
    levenshtein scores each candidate. The O(n·m) distance runs only on
    block-mates, so cost scales with duplicate density, not corpus
    size²; both engines implement the same Wagner-Fischer distance."""
    fp = t.documents.select(
        "doc_id", "text", T.prefix_fingerprint("text", 10).alias("prefix_fp")
    )
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.prefix_fp") == F.col("b.prefix_fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.levenshtein(F.col("a.text"), F.col("b.text")).cast("long").alias("edit_dist"),
            F.length(F.col("a.text")).cast("long").alias("len_a"),
            F.length(F.col("b.text")).cast("long").alias("len_b"),
        )
    )


@query(
    "d24_repetition_ratio",
    f"""
    WITH {ND.shingles_sql()},
    per AS (SELECT doc_id, shingle, COUNT(*) AS n FROM sh GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_shingles,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(n) - COUNT(*) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS rep_ratio,
           CAST(MAX(n) AS BIGINT) AS max_repeat,
           CASE WHEN CAST(SUM(n) - COUNT(*) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) > 0.2
                THEN 1 ELSE 0 END AS rep_flag
    FROM per GROUP BY doc_id
    """,
    tags=("llm", "text", "quality"),
)
def d24_repetition_ratio(t):
    """Intra-document repetition scoring (the Gopher/RefinedWeb
    duplicate-n-gram quality rule): per doc, the fraction of 3-gram
    occurrences that are repeats of an earlier 3-gram, plus the most-
    repeated shingle's count, and a drop flag above 20%. Two groupBys
    keyed (doc, shingle) → (doc): the second input is pre-shrunk to
    distinct shingles per doc, so the heavy shuffle happens once on
    the exploded stream and the rest is corpus-linear. Docs under 3
    words have no shingles and are excluded on both engines."""
    sh = DD.exploded_shingles(t.documents, "doc_id", "text", 3)
    per = sh.groupBy("doc_id", "shingle").agg(F.count(F.lit(1)).alias("n"))
    total = F.sum("n")
    distinct = F.count(F.lit(1))
    rep = (total - distinct).cast("double") / total.cast("double")
    return per.groupBy("doc_id").agg(
        total.alias("n_shingles"),
        distinct.alias("n_distinct"),
        rep.alias("rep_ratio"),
        F.max("n").alias("max_repeat"),
        F.when(rep > 0.2, 1).otherwise(0).alias("rep_flag"),
    )


@query(
    "d25_decontamination",
    f"""
    WITH {ND.shingles_sql()},
    {CUR.overlap_sql()}
    SELECT test_doc,
           CAST(COUNT(*) AS BIGINT) AS n_train_matches,
           CAST(MAX(n_overlap) AS BIGINT) AS max_overlap
    FROM leaks
    GROUP BY test_doc
    """,
    tags=("llm", "dedup", "eval"),
)
def d25_decontamination(t):
    """Benchmark decontamination: for each held-out (test-split) doc,
    find training-split docs sharing ≥2 informative 3-gram shingles —
    the n-gram-overlap contamination check run before training. Splits
    are d18's content-addressed hash buckets (no data movement to
    split); candidates come through the same inverted informative-
    shingle index as d12 (df ≤ 50 drops stop-shingles), so the overlap
    join is corpus-linear, never |test|×|train|. Report: per test doc,
    how many train docs collide and the worst overlap."""
    sh = tracked_persist(
        DD.exploded_shingles(t.documents, "doc_id", "text", 3).distinct()
    )
    return (
        CUR.leaking_pairs(sh)
        .groupBy("test_doc")
        .agg(
            F.count(F.lit(1)).alias("n_train_matches"),
            F.max("n_overlap").alias("max_overlap"),
        )
    )


@query(
    "d26_quality_survivor",
    f"""
    WITH RECURSIVE {_NEARDUP_CTES},
    {ND.components_sql()},
    scored AS (
      SELECT l.component, l.node,
             length(string_split(d.text, ' ')) AS n_words
      FROM lab l JOIN documents d ON d.doc_id = l.node
    )
    SELECT component,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           CAST(MAX(CASE WHEN rn = 1 THEN node END) AS BIGINT) AS survivor_doc,
           CAST(MAX(CASE WHEN rn = 1 THEN n_words END) AS BIGINT) AS survivor_words
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY component
                                   ORDER BY n_words DESC, node) AS rn
      FROM scored
    ) GROUP BY component
    """,
    tags=("llm", "dedup", "graph"),
)
def d26_quality_survivor(t):
    """Cluster survivorship by QUALITY, not id: within each near-dup
    cluster (d20's components) keep the doc with the most words (tie →
    lowest id) — the rule real curation uses ("keep the longest/most
    complete copy"), vs d20's min-id canonical. One broadcastable join
    from the tiny component labels back to documents, then a window
    argmax partitioned by component — no new shuffle surface beyond
    d20's."""
    pairs = ND.verified_pairs(t.documents)
    comps = GR.connected_components(pairs, pairs_unique=True)
    scored = comps.join(
        t.documents.select(
            F.col("doc_id").alias("node"), T.token_count("text").alias("n_words")
        ),
        "node",
    )
    w = Window.partitionBy("component").orderBy(F.desc("n_words"), F.asc("node"))
    ranked = scored.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.max(F.when(F.col("rn") == 1, F.col("node"))).alias("survivor_doc"),
        F.max(F.when(F.col("rn") == 1, F.col("n_words"))).alias("survivor_words"),
    )


@query(
    "d27_vocab_topk",
    """
    SELECT wd AS word, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS wd FROM documents)
    GROUP BY wd ORDER BY freq DESC, word LIMIT 100
    """,
    tags=("llm", "text"),
)
def d27_vocab_topk(t):
    """Corpus vocabulary induction: top-100 tokens by frequency
    (ties → lexicographic) — the counting pass behind building a
    tokenizer vocab / stopword list. explode + groupBy(word) is one
    shuffle with map-side partial counts; the top-k is a
    TakeOrderedAndProject over the (tiny) distinct-word aggregate,
    never a global sort of the token stream."""
    d = t.documents
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(100)
    )


@query(
    "e09_retention_cohorts",
    """
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    )
    SELECT CAST(f.cohort_week AS DATE) AS cohort_week,
           CAST(datediff('day', f.cohort_week, a.wk) / 7 AS INTEGER) AS week_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM first_seen f JOIN activity a USING (user_id)
    GROUP BY 1, 2
    """,
    tags=("events", "retention"),
)
def e09_retention_cohorts(t):
    """Weekly cohort retention: users grouped by the week they first
    appeared; for each later week, how many were active again — the
    classic triangular retention matrix. Two aggregates on user_id
    (first-seen and distinct active weeks) that join on the same key —
    at scale both sides are already hash-partitioned by user_id so the
    join adds no extra shuffle; the final matrix is tiny."""
    e = t.events
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    return (
        first_seen.join(activity, "user_id")
        .groupBy(
            F.col("cohort_week").cast("date").alias("cohort_week"),
            (F.datediff("wk", "cohort_week") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@query(
    "e10_asof_forward",
    """
    SELECT p.event_id, p.user_id, p.ts, p.value,
           (SELECT v.value FROM events v
            WHERE v.event_type = 'view' AND v.user_id = p.user_id
              AND v.ts >= p.ts ORDER BY v.ts LIMIT 1) AS next_value,
           (SELECT v.event_id FROM events v
            WHERE v.event_type = 'view' AND v.user_id = p.user_id
              AND v.ts >= p.ts ORDER BY v.ts LIMIT 1) AS next_event_id
    FROM events p WHERE p.event_type = 'purchase'
    """,
    tags=("events", "asof", "timeseries"),
)
def e10_asof_forward(t):
    """Forward as-of join: each purchase picks up the user's EARLIEST
    at-or-after view (lead-to-next-touchpoint attribution). Same
    union+single-window plan as e05 with the timestamp sort reversed
    (operators/asof.py direction="forward"); DuckDB has no forward
    ASOF, so the oracle is a correlated min-ts subquery (deterministic:
    no duplicate (user_id, ts) pairs in the data)."""
    e = t.events
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value", "event_id"
    )
    return asof_join(
        purchases, views, key="user_id", left_ts="ts", right_ts="ts",
        value_cols=["value", "event_id"], prefix="next_", direction="forward",
    )


@query(
    "d28_embedding_int8_quantization",
    """
    WITH ex AS (SELECT vec_id, label, unnest(embedding) AS x,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings),
    mx AS (SELECT vec_id, MAX(ABS(CAST(x AS DOUBLE))) AS maxabs
           FROM ex GROUP BY vec_id),
    q AS (SELECT e.vec_id, e.label,
                 CAST(e.x AS DOUBLE) AS x,
                 floor(127 * CAST(e.x AS DOUBLE) / m.maxabs + 0.5)
                   * m.maxabs / 127 AS dq
          FROM ex e JOIN mx m ON e.vec_id = m.vec_id),
    per AS (SELECT vec_id, label,
                   SUM((x - dq) * (x - dq)) / COUNT(*) AS mse,
                   MAX(ABS(x - dq)) AS max_err
            FROM q GROUP BY vec_id, label)
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(mse, 12) AS DECIMAL(20,12))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS avg_mse,
           CAST(SUM(CAST(round(max_err, 12) AS DECIMAL(20,12))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS avg_max_err
    FROM per GROUP BY label
    """,
    tags=("llm", "similarity", "compression"),
)
def d28_embedding_int8_quantization(t):
    """Int8 vector quantization quality report: symmetric per-vector
    max-abs scaling (q = floor(127·x/maxabs + 0.5), the standard PTQ
    scheme — 4× smaller vectors for ANN at 100 TB), with per-label mean
    reconstruction MSE and mean max abs error. floor(v+0.5) instead of
    round() keeps tie behavior engine-identical; per-vector sums are
    array-order folds (deterministic), cross-row means go through
    round→decimal like d11. Pure array expressions — one scan, one
    shuffle on label."""
    emb = t.embeddings
    x = F.transform("embedding", lambda v: v.cast("double"))
    maxabs = F.array_max(F.transform(x, F.abs))
    dq = F.transform(
        x, lambda v: F.floor(F.lit(127) * v / maxabs + F.lit(0.5)) * maxabs / F.lit(127)
    )
    err2 = F.zip_with(x, dq, lambda a, b: (a - b) * (a - b))
    abserr = F.zip_with(x, dq, lambda a, b: F.abs(a - b))
    mse = F.aggregate(err2, F.lit(0.0), lambda acc, v: acc + v) / F.size("embedding")
    max_err = F.array_max(abserr)
    per = emb.select(
        "label",
        F.round(mse, 12).cast("decimal(20,12)").alias("mse"),
        F.round(max_err, 12).cast("decimal(20,12)").alias("max_err"),
    )
    return per.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("mse").cast("double") / F.count(F.lit(1)).cast("double")).alias("avg_mse"),
        (F.sum("max_err").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avg_max_err"
        ),
    )


# signature-agreement count between the two sides' MinHash columns
_D29_AGREE = " + ".join(
    f"(CASE WHEN sa.mh{k} = sb.mh{k} THEN 1 ELSE 0 END)" for k in range(8)
)


@query(
    "d29_minhash_estimator_quality",
    f"""
    WITH {ND.shingles_sql()},
    {ND.minhash_sql()},
    {ND.verify_self_sql(None)}
    SELECT e.doc_a, e.doc_b,
           CAST({_D29_AGREE} AS DOUBLE) / 8 AS est_jaccard,
           e.jaccard,
           ABS(CAST({_D29_AGREE} AS DOUBLE) / 8 - e.jaccard) AS abs_err
    FROM ver e
    JOIN sig sa ON sa.doc_id = e.doc_a
    JOIN sig sb ON sb.doc_id = e.doc_b
    """,
    tags=("llm", "dedup", "eval"),
)
def d29_minhash_estimator_quality(t):
    """MinHash estimator calibration: for every LSH candidate pair,
    the signature-agreement Jaccard estimate (matching minima / H)
    next to the exact Jaccard and the absolute error — the evaluation
    that tells you whether H hashes suffice before trusting the
    estimate at corpus scale (completes the approx-operator evaluators:
    d16 ANN recall, d17 sketch bounds, d28 quantization error). Reuses
    the shared signature/candidate/verify builders, so the plan shape
    is d07's plus one signature self-join on the (small) pair set."""
    num_hashes = 8
    sh = tracked_persist(
        DD.exploded_shingles(t.documents, "doc_id", "text", 3).distinct()
    )
    sig = tracked_persist(DD.minhash_signatures(sh, "doc_id", num_hashes))
    cand = DD.band_candidates(sig, "doc_id", num_hashes, bands=4)
    exact = DD.exact_jaccard(cand, sh, "doc_id")
    sa, sb = sig.alias("sa"), sig.alias("sb")
    est = sum(
        F.when(F.col(f"sa.mh{k}") == F.col(f"sb.mh{k}"), 1).otherwise(0)
        for k in range(num_hashes)
    ).cast("double") / F.lit(num_hashes)
    return (
        exact.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            est.alias("est_jaccard"),
            "jaccard",
            F.abs(est - F.col("jaccard")).alias("abs_err"),
        )
    )


_BM25_TERMS = ["join", "window", "scan"]


@query(
    "d30_bm25_topk",
    RET.bm25_oracle_sql(_BM25_TERMS, k=10),
    tags=("llm", "retrieval"),
)
def d30_bm25_topk(t):
    """BM25 top-10 for a fixed term set (rational-idf variant — no
    ``ln``, so doubles bit-match DuckDB; see operators/retrieval.py).
    Term frequencies are array-native in one scan, global stats are one
    broadcast 1-row aggregate, top-k is TakeOrderedAndProject — the
    sparse-retrieval shape for curation/decontamination at corpus
    scale."""
    return RET.bm25_topk(t.documents, _BM25_TERMS, k=10)


def _semantic_decon_oracle(threshold: float = 0.4, dim: int = 64) -> str:
    bucket = CUR.ORACLE_BUCKET.replace("doc_id", "e.vec_id")
    return f"""
    WITH {SIM.banded_lsh_sigs_sql(dim)},
    v AS (SELECT e.vec_id, e.embedding, b.band, b.bucket, {bucket} AS split_b
          FROM embeddings e JOIN buck b ON e.vec_id = b.vec_id),
    pairs AS (SELECT DISTINCT te.vec_id AS test_vec, tr.vec_id AS train_vec,
                     te.embedding AS qv, tr.embedding AS cv
              FROM v te JOIN v tr ON te.band = tr.band AND te.bucket = tr.bucket
              WHERE te.split_b >= 90 AND tr.split_b < 80),
    {SIM.cosine_sql("pd", "pairs", ("test_vec", "train_vec"))}
    SELECT test_vec, CAST(COUNT(*) AS BIGINT) AS n_train_matches,
           MAX(score) AS max_score
    FROM pd WHERE score >= {threshold}
    GROUP BY test_vec
    """


@query(
    "d31_semantic_decontamination",
    _semantic_decon_oracle(),
    tags=("llm", "dedup", "split", "similarity"),
)
def d31_semantic_decontamination(t):
    """Semantic (embedding-space) decontamination: test-split vectors
    whose cosine to ANY train-split vector clears the threshold — the
    SemDeDup-style complement of d25's exact shingle-overlap check
    (paraphrased leakage has no shared n-grams but nearby embeddings).
    Splits come from the same content-addressed md5 bucket as d18, so
    membership is engine-portable; candidates are banded-adaptive-LSH-
    blocked (bucket count scales with the corpus — candidate volume is
    corpus-linear, never test×train all-pairs), deduped across bands,
    verified by exact cosine."""
    b = F.expr(CUR.SPARK_BUCKET.replace("doc_id", "vid"))
    v = SIM.banded_lsh_sigs(t.embeddings, t.embeddings).withColumn("split_b", b)
    test = v.filter(F.col("split_b") >= 90).select(
        F.col("vid").alias("test_vec"),
        F.col("vec").alias("qv"),
        F.col("nrm").alias("qn"),
        "band",
        "bucket",
    )
    train = v.filter(F.col("split_b") < 80).select(
        F.col("vid").alias("train_vec"),
        F.col("vec").alias("cv"),
        F.col("nrm").alias("cn2"),
        "band",
        "bucket",
    )
    # banded_lsh_sigs hoists |v| per vector before the band explode;
    # one dot fold per verified candidate, same op order → bit-equal
    score = SIM.dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn2"))
    return (
        test.join(train, ["band", "bucket"])
        .select("test_vec", "train_vec", score.alias("score"))
        .groupBy("test_vec", "train_vec")
        .agg(F.max("score").alias("score"))
        .filter(F.col("score") >= 0.4)
        .groupBy("test_vec")
        .agg(
            F.count(F.lit(1)).alias("n_train_matches"),
            F.max("score").alias("max_score"),
        )
    )


_PACK_BUDGET = 2048


@query(
    "d32_sequence_packing",
    f"""
    WITH st AS (SELECT COUNT(*) AS n_docs FROM documents),
    ns AS (SELECT {CUR.PACK_SHARDS_SQL} AS n_shards FROM st),
    toks AS (
      SELECT doc_id, lang,
             CAST(({CUR.md5_hex_int('doc_id', 'varchar')}) % n_shards AS BIGINT) AS shard,
             CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_tokens
      FROM documents, ns
    ),
    run AS (
      SELECT doc_id, lang, shard, est_tokens,
             COALESCE(SUM(est_tokens) OVER (
               PARTITION BY lang, shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS prev_cum
      FROM toks
    ),
    packed AS (
      SELECT lang, shard, CAST(prev_cum // {_PACK_BUDGET} AS BIGINT) AS seq_id,
             doc_id, est_tokens
      FROM run
    )
    SELECT lang, shard, seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(est_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM packed GROUP BY lang, shard, seq_id
    """,
    tags=("llm", "packing"),
)
def d32_sequence_packing(t):
    """Greedy sequence packing for training batches: within each
    (language, shard), docs in doc_id order fill a {budget}-token
    sequence; a doc whose exclusive prefix-sum crosses the budget
    starts/overflows into the next sequence (token-budget chunking —
    the streaming concat-then-chunk semantics, deterministic under any
    partitioning because the running sum is exact integers over a
    total order).

    Scale shape: the window key is BOUNDED. The shard is content-
    addressed (4 md5 hex digits of doc_id — stable under re-sharding,
    backfills, and engine migrations, like d18's splits) and the shard
    count doubles with the corpus until shards hold ~{target} docs
    (one eager metadata count sizes it; the oracle derives the
    identical count from COUNT(*) with the same integer comparisons).
    So no single task ever computes a whole language's running sum —
    the prefix-sum window distributes over lang × shard, then a
    map-side-partial groupBy aggregates per sequence. Per-shard quotas
    still sum exactly to the corpus totals. Output: per-sequence fill
    report (docs, tokens, id range)."""
    n_shards = CUR.pack_shards(t.documents.count())
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = t.documents.select(
        "doc_id",
        "lang",
        F.expr(f"({CUR.md5_hex_int('doc_id', 'string')}) % {n_shards}")
        .cast("long")
        .alias("shard"),
        T.bpe_token_estimate("text").alias("est_tokens"),
    )
    packed = toks.withColumn(
        "prev_cum", F.coalesce(F.sum("est_tokens").over(w), F.lit(0).cast("long"))
    ).withColumn("seq_id", F.expr(f"prev_cum div {_PACK_BUDGET}"))
    return packed.groupBy("lang", "shard", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("est_tokens").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


_MIX_BUDGET = 100_000


@query(
    "d33_source_token_budget",
    f"""
    WITH toks AS (
      SELECT source, CAST(SUM(CAST(ceil(length(text) / 4.0) AS BIGINT)) AS BIGINT) AS tok
      FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(tok) AS tot FROM toks),
    q AS (
      SELECT source, tok, tot,
             ({_MIX_BUDGET} * tok) // tot AS base,
             ({_MIX_BUDGET} * tok) % tot AS rem
      FROM toks, tot
    ),
    r AS (
      SELECT source, tok, tot, base, rem,
             ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rn,
             SUM(rem) OVER () // tot AS deficit
      FROM q
    )
    SELECT source,
           tok AS total_tokens,
           CAST(tok AS DOUBLE) / CAST(tot AS DOUBLE) AS share,
           CAST(base + CASE WHEN rn <= deficit THEN 1 ELSE 0 END AS BIGINT) AS token_budget
    FROM r
    """,
    tags=("llm", "curation", "sampling"),
)
def d33_source_token_budget(t):
    """Proportional token-budget apportionment across sources for a
    fixed training budget ({budget} tokens), by largest-remainder
    (Hamilton) rounding: integer floor quotas plus one extra token for
    the sources with the largest remainders, so the quotas sum EXACTLY
    to the budget. All integer arithmetic (div/mod, remainder-ranked
    window) — deterministic under any partitioning and bit-equal in
    the oracle. The global window runs over one row per SOURCE
    (bounded domain cardinality — thousands at worst), not per
    document; the only corpus-scale stage is the first groupBy."""
    toks = t.documents.groupBy("source").agg(
        F.sum(T.bpe_token_estimate("text")).alias("tok")
    )
    tot = toks.agg(F.sum("tok").alias("tot"))
    q = (
        toks.crossJoin(F.broadcast(tot))
        .withColumn("base", F.expr(f"(cast({_MIX_BUDGET} as bigint) * tok) div tot"))
        .withColumn("rem", F.expr(f"(cast({_MIX_BUDGET} as bigint) * tok) % tot"))
    )
    w_rank = Window.orderBy(F.desc("rem"), F.asc("source"))
    r = q.withColumn("rn", F.row_number().over(w_rank)).withColumn(
        "deficit", F.expr("sum(rem) over () div tot")
    )
    return r.select(
        "source",
        F.col("tok").alias("total_tokens"),
        (F.col("tok").cast("double") / F.col("tot").cast("double")).alias("share"),
        (
            F.col("base")
            + F.when(F.col("rn") <= F.col("deficit"), F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias("token_budget"),
    )


@query(
    "d34_containment_dedup",
    f"""
    WITH {ND.shingles_sql()},
    {ND.inverted_pairs_sql()}
    SELECT doc_a, doc_b,
           CAST(n_inter AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE) AS containment
    FROM pstats
    WHERE CAST(n_inter AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE) >= 0.6
    """,
    tags=("llm", "dedup"),
)
def d34_containment_dedup(t):
    """Containment (overlap-coefficient) near-dup pairs: |A∩B| over
    min(|A|,|B|) of informative-shingle sets — catches a short doc
    quoted inside a long one, which Jaccard under-scores (union
    dominated by the long doc). Same inverted-index blocking as d12,
    so pair generation stays corpus-linear; the exact-tier complement
    for snippet/quote subsumption."""
    return DD.containment_pairs(
        fanout_small(t.documents), overlap_threshold=0.6, max_df=50
    )


_PUNCT = ".,!?;:()-"


@query(
    "d35_char_class_profile",
    f"""
    WITH c AS (
      SELECT lang,
             SUM(length(text)) AS n_chars,
             SUM(length(text) - length(translate(text, '0123456789', ''))) AS n_digit,
             SUM(length(text) - length(translate(text, ' ', ''))) AS n_space,
             SUM(length(text) - length(translate(text, '{_PUNCT}', ''))) AS n_punct
      FROM documents GROUP BY lang
    )
    SELECT lang,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(n_digit AS DOUBLE) / CAST(n_chars AS DOUBLE) AS digit_frac,
           CAST(n_space AS DOUBLE) / CAST(n_chars AS DOUBLE) AS space_frac,
           CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) AS punct_frac
    FROM c
    """,
    tags=("llm", "text", "quality"),
)
def d35_char_class_profile(t):
    """Per-language character-class composition (digit / whitespace /
    punctuation fractions) — the standard quality-filter features for
    boilerplate and table-dump detection. Counts via length-minus-
    translate (exact integers, single scan, no regex engine to
    disagree across engines); fractions are integer ratios in double,
    so they bit-match the oracle. One groupBy on a bounded key."""
    d = t.documents
    n = F.length("text")

    def cnt(chars: str):
        return n - F.length(F.translate(F.col("text"), chars, ""))

    c = d.groupBy("lang").agg(
        F.sum(n).alias("n_chars"),
        F.sum(cnt("0123456789")).alias("n_digit"),
        F.sum(cnt(" ")).alias("n_space"),
        F.sum(cnt(_PUNCT)).alias("n_punct"),
    )
    return c.select(
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        (F.col("n_digit").cast("double") / F.col("n_chars").cast("double")).alias("digit_frac"),
        (F.col("n_space").cast("double") / F.col("n_chars").cast("double")).alias("space_frac"),
        (F.col("n_punct").cast("double") / F.col("n_chars").cast("double")).alias("punct_frac"),
    )


@query(
    "d36_ngram_novelty",
    f"""
    WITH {ND.shingles_sql()},
    shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
    b AS (SELECT doc_id, lang, {CUR.ORACLE_BUCKET} AS bucket FROM documents),
    shl AS (SELECT shd.shingle, b.lang, b.bucket FROM shd JOIN b USING (doc_id)),
    test_sh AS (SELECT DISTINCT lang, shingle FROM shl WHERE bucket >= 90),
    train_sh AS (SELECT DISTINCT shingle FROM shl WHERE bucket < 80),
    cov AS (SELECT t.lang, COUNT(*) AS n_covered
            FROM test_sh t JOIN train_sh USING (shingle) GROUP BY t.lang),
    tot AS (SELECT lang, COUNT(*) AS n_test_shingles FROM test_sh GROUP BY lang)
    SELECT tot.lang,
           CAST(n_test_shingles AS BIGINT) AS n_test_shingles,
           CAST(COALESCE(n_covered, 0) AS BIGINT) AS n_covered,
           CAST(COALESCE(n_covered, 0) AS DOUBLE)
             / CAST(n_test_shingles AS DOUBLE) AS coverage
    FROM tot LEFT JOIN cov ON tot.lang = cov.lang
    """,
    tags=("llm", "split", "eval"),
)
def d36_ngram_novelty(t):
    """N-gram novelty of the held-out split: per language, what
    fraction of the test split's distinct 3-gram types already appear
    anywhere in the train split — the corpus-level eval-hygiene dual
    of d25's per-document contamination report (high coverage means
    the test set can be pattern-matched from training data; novelty =
    1 - coverage). Splits are d18's content-addressed buckets; the
    check is two distinct-projections and a semi join on the shingle
    key — corpus-linear, no doc×doc stage; integer count ratios keep
    the doubles engine-exact."""
    b = F.expr(CUR.SPARK_BUCKET)
    docs = t.documents.select("doc_id", "lang", b.alias("bucket"))
    sh = DD.exploded_shingles(t.documents, "doc_id", "text", 3).distinct()
    shl = sh.join(docs, "doc_id")
    test_sh = (
        shl.filter(F.col("bucket") >= 90).select("lang", "shingle").distinct()
    )
    train_sh = shl.filter(F.col("bucket") < 80).select("shingle").distinct()
    cov = (
        test_sh.join(train_sh, "shingle", "left_semi")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_covered"))
    )
    tot = test_sh.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_test_shingles")
    )
    return tot.join(cov, "lang", "left").select(
        "lang",
        F.col("n_test_shingles").cast("long").alias("n_test_shingles"),
        F.coalesce(F.col("n_covered"), F.lit(0)).cast("long").alias("n_covered"),
        (
            F.coalesce(F.col("n_covered"), F.lit(0)).cast("double")
            / F.col("n_test_shingles").cast("double")
        ).alias("coverage"),
    )


@query(
    "d37_ann_ivf_nprobe2",
    _ivf_oracle(nprobe=2),
    tags=("llm", "similarity"),
)
def d37_ann_ivf_nprobe2(t):
    """IVF ANN with nprobe=2 — the recall/cost knob d14 fixes at 1:
    each query searches its TWO nearest k-means cells (the corpus
    stays single-cell, so candidates need no dedup), doubling per-
    query work for materially better recall near cell boundaries —
    the standard production tuning for inverted-file indexes. Same
    learned centroids and exact-integer update as d14, so the oracle
    reuses the unrolled CTE chain with a widened query-side rank."""
    emb = t.embeddings
    return SIM.ivf_topk(emb.filter(F.col("vec_id") < 10), emb, k=3, nprobe=2)


def _curated_fin(t):
    """Spark twin of _CURATION_FIN_SQL: quality filter (d02 criteria) →
    exact dedup keep-first → prefix near-dup removal. Returns the
    surviving (doc_id, lang, text) rows — d15 aggregates these; d38
    runs one more dedup tier first."""
    d = t.documents
    n_words = T.token_count("text")
    ratio = T.stopword_count("text").cast("double") / n_words.cast("double")
    q = d.filter(n_words.between(20, 120) & (ratio < 0.3))
    e2 = DD.exact_dedup_keep_first(q)
    keep = (
        e2.select(T.prefix_fingerprint("text", 10).alias("pfp"), "doc_id")
        .groupBy("pfp")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return e2.join(keep, "doc_id", "left_semi").select("doc_id", "lang", "text")


@query(
    "d38_curation_containment",
    f"""
    WITH {_CURATION_FIN_SQL},
    {ND.shingles_sql("fin")},
    {ND.inverted_pairs_sql()},
    cpairs AS (SELECT doc_a, doc_b FROM pstats
               WHERE CAST(n_inter AS DOUBLE) / CAST(LEAST(n_a, n_b) AS DOUBLE) >= 0.25),
    toks AS (SELECT doc_id, length(string_split(text, ' ')) AS tok FROM fin),
    drops AS (SELECT DISTINCT CASE WHEN ta.tok < tb.tok
                                   THEN doc_a ELSE doc_b END AS doc_id
              FROM cpairs
              JOIN toks ta ON ta.doc_id = cpairs.doc_a
              JOIN toks tb ON tb.doc_id = cpairs.doc_b),
    fin2 AS (SELECT fin.* FROM fin
             WHERE doc_id NOT IN (SELECT doc_id FROM drops))
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(length(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM fin2 GROUP BY lang
    """,
    tags=("llm", "dedup", "pipeline"),
)
def d38_curation_containment(t):
    """d15's curation pipeline plus a CONTAINMENT tier: after the
    quality filter, exact dedup, and prefix near-dup removal, docs
    subsumed by another survivor (shingle overlap coefficient over the
    d34 informative inverted index) are dropped too — quote/snippet
    dups that Jaccard under-scores. Per containment pair the SHORTER
    doc (fewer tokens; ties → higher id) is dropped — deterministic
    and engine-portable. Still one declarative plan: the extra tier
    costs one inverted-index self-join (corpus-linear, df ≤ 50
    blocking) and one anti-join; no materialization between tiers.
    The 0.25 threshold is the aggressive end of the knob, chosen so
    the gate corpus (whose post-filter containment tops out ~0.29 —
    the planted full quotes are removed by the earlier tiers) exercises
    a NON-EMPTY drop set; production snippet-dedup typically runs
    ≥ 0.6 (d34's setting)."""
    fin = _curated_fin(t)
    pairs = DD.containment_pairs(fin, overlap_threshold=0.25, max_df=50)
    toks = fin.select("doc_id", T.token_count("text").alias("tok"))
    ta, tb = toks.alias("ta"), toks.alias("tb")
    drops = (
        pairs.join(ta, F.col("doc_a") == F.col("ta.doc_id"))
        .join(tb, F.col("doc_b") == F.col("tb.doc_id"))
        .select(
            # pairs come ordered doc_a < doc_b, so "ties → higher id"
            # is simply the ELSE branch (drop doc_b)
            F.when(F.col("ta.tok") < F.col("tb.tok"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("doc_id")
        )
        .distinct()
    )
    fin2 = fin.join(drops, "doc_id", "left_anti")
    return fin2.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(T.token_count("text")).alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# Round 5 additions: PII redaction, boilerplate detection, batch-shape
# percentiles — the remaining standard stages of a pretraining text
# pipeline (C4/RefinedWeb-style cleanup) not yet covered by d01-d38.
# ---------------------------------------------------------------------------


@query(
    "d39_pii_redaction",
    f"""
    WITH injected AS (
      SELECT doc_id, lang, {CUR.PII_INJECTED_SQL} AS pii_text FROM documents
    ), red AS (
      SELECT doc_id, lang, pii_text,
             {CUR.redacted_sql("pii_text")} AS clean_text,
             length(regexp_extract_all(pii_text, '{CUR.EMAIL_RE}')) AS n_email,
             length(regexp_extract_all(pii_text, '{CUR.PHONE_RE}')) AS n_phone
      FROM injected
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_email) AS BIGINT) AS emails_redacted,
           CAST(SUM(n_phone) AS BIGINT) AS phones_redacted,
           CAST(SUM(length(pii_text) - length(clean_text)) AS BIGINT)
             AS chars_removed
    FROM red
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("llm", "pii"),
)
def d39_pii_redaction(t):
    """PII redaction audit: scrub email addresses and phone numbers
    with regexp_replace and report per-language match/char-delta
    counts. The corpus is synthetic word salad with no digits
    (TESTDATA.md), so — following s11's planted-duplicate precedent —
    both engines first INJECT deterministic doc_id-derived PII spans,
    then redact them; the assertion is that the full inject→match→
    replace pipeline agrees span-for-span across engines (patterns
    restricted to the character-class/quantifier subset where Java
    regex and RE2 semantics coincide: no backrefs, no lookaround).
    Scale: stateless row-local string work — single scan, no shuffle
    besides the 5-group rollup; at 100 TB this is the cheapest stage
    of the pipeline and pipelines with any adjacent scan."""
    injected = t.documents.select(
        "doc_id", "lang", CUR.pii_injected().alias("pii_text")
    )
    red = injected.select(
        "lang",
        "pii_text",
        CUR.redacted("pii_text").alias("clean_text"),
        F.regexp_count("pii_text", F.lit(CUR.EMAIL_RE)).alias("n_email"),
        F.regexp_count("pii_text", F.lit(CUR.PHONE_RE)).alias("n_phone"),
    )
    return (
        red.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_email").alias("emails_redacted"),
            F.sum("n_phone").alias("phones_redacted"),
            F.sum(F.length("pii_text") - F.length("clean_text")).alias(
                "chars_removed"
            ),
        )
        .orderBy("lang")
    )


@query(
    "d40_boilerplate_ngrams",
    f"""
    WITH {ND.shingles_sql(n=2, carry=("lang",))},
    shd AS (SELECT DISTINCT doc_id, lang, shingle FROM sh),
    nd AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
    df AS (SELECT lang, shingle, COUNT(*) AS cnt FROM shd GROUP BY 1, 2),
    boiler AS (
      SELECT df.lang, df.shingle
      FROM df JOIN nd ON df.lang = nd.lang
      WHERE cnt * 10 > n_docs
    ),
    hits AS (
      SELECT shd.lang,
             COUNT(*) AS total_hits,
             COUNT(*) FILTER (b.shingle IS NOT NULL) AS boiler_hits
      FROM shd LEFT JOIN boiler b
        ON shd.lang = b.lang AND shd.shingle = b.shingle
      GROUP BY shd.lang
    )
    SELECT nd.lang AS lang, nd.n_docs,
           (SELECT COUNT(*) FROM boiler WHERE boiler.lang = nd.lang)
             AS n_boiler_shingles,
           boiler_hits, total_hits,
           CAST(boiler_hits AS DOUBLE) / CAST(total_hits AS DOUBLE)
             AS boiler_frac
    FROM nd JOIN hits ON hits.lang = nd.lang
    ORDER BY nd.lang
    """,
    tags=("llm", "quality"),
)
def d40_boilerplate_ngrams(t):
    """Boilerplate detection (C4-style repeated-content removal
    signal): a word 2-gram is boilerplate for a language when it
    occurs in more than 10% of that language's documents; report per
    language how much of the corpus' distinct (doc, shingle) mass is
    boilerplate. The 10% threshold is the exact cross-multiplication
    ``df_count * 10 > n_docs`` (no division), and the one division —
    the final ratio — is bigint/bigint→double, identical on both
    engines. Scale: the whole query is ONE scan of documents and a
    pure aggregation tree — document frequency shuffles once on
    (lang, shingle) with map-side partials over array-native distinct
    shingles (no explode of duplicates), and every output metric
    (boilerplate set size, boilerplate hit mass, total hit mass)
    derives from that df table alone: boiler_hits is the sum of df
    counts over boilerplate shingles, which equals re-joining the
    (doc, shingle) pairs but costs no second pass. The 5-row per-lang
    doc-count broadcasts into the df filter. Linear in corpus size,
    never all-pairs."""
    docs = t.documents
    shd = docs.select(
        "doc_id", "lang", F.explode(F.array_distinct(T.shingles("text", 2))).alias("shingle")
    )
    nd = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    df_ = shd.groupBy("lang", "shingle").agg(F.count(F.lit(1)).alias("cnt"))
    is_boiler = F.col("cnt") * 10 > F.col("n_docs")
    rollup = (
        df_.join(F.broadcast(nd), "lang")
        .groupBy("lang")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.count(F.when(is_boiler, F.lit(1))).alias("n_boiler_shingles"),
            F.sum(F.when(is_boiler, F.col("cnt")).otherwise(0)).alias("boiler_hits"),
            F.sum("cnt").alias("total_hits"),
        )
    )
    return rollup.select(
        "lang",
        "n_docs",
        "n_boiler_shingles",
        "boiler_hits",
        "total_hits",
        (
            F.col("boiler_hits").cast("double")
            / F.col("total_hits").cast("double")
        ).alias("boiler_frac"),
    ).orderBy("lang")


@query(
    "d41_length_percentiles",
    """
    WITH ranked AS (
      SELECT lang, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
               AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM documents
    )
    SELECT lang,
           CAST(MAX(n) AS BIGINT) AS n_docs,
           MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN n_chars END) AS p50_chars,
           MAX(CASE WHEN rn = (n * 90 + 99) // 100 THEN n_chars END) AS p90_chars,
           MAX(CASE WHEN rn = (n * 99 + 99) // 100 THEN n_chars END) AS p99_chars
    FROM ranked
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("llm", "stats"),
)
def d41_length_percentiles(t):
    """Exact discrete length percentiles per language (batch-shape
    planning for sequence packing: what padding budget does each
    language need?). PERCENTILE_DISC semantics, derived from first
    principles so both engines agree bit-for-bit: the p-th percentile
    is the value at rank ceil(p*n), computed in pure integer
    arithmetic as ``(n*p + 99) DIV 100`` — no float percentile
    functions, whose interpolation rules differ across engines.
    Scale: one window shuffle on lang (5 partitions at test scale;
    for a skewed-language corpus the same pattern shards like d32,
    but percentile extraction genuinely needs a per-language global
    order, so the honest 100 TB form is sort-within-language); the
    conditional aggregation collapses map-side."""
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = t.documents.select(
        "lang",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
    )
    def _at(p):
        target = F.expr(f"(n * {p} + 99) div 100")
        return F.max(F.when(F.col("rn") == target, F.col("n_chars")))
    return (
        ranked.groupBy("lang")
        .agg(
            F.max("n").alias("n_docs"),
            _at(50).alias("p50_chars"),
            _at(90).alias("p90_chars"),
            _at(99).alias("p99_chars"),
        )
        .orderBy("lang")
    )


# --------------------------------------------- domain mixture resampling


@query(
    "d42_domain_mixture_downsample",
    f"""
    WITH hist AS (
      SELECT source, {CUR.ORACLE_BUCKET64K} AS bkt,
             COUNT(*) AS n,
             SUM(CAST(ceil(length(text) / 4.0) AS BIGINT)) AS tokens
      FROM documents GROUP BY 1, 2
    ),
    {CUR.mixture_report_sql("source")}
    SELECT * FROM report ORDER BY source
    """,
    tags=("llm", "curation", "sampling"),
)
def d42_domain_mixture_downsample(t):
    """Deterministic domain-mixture rebalancing: downsample every
    source toward the smallest source's token count by a
    content-addressed hash threshold — doc kept iff its md5 bucket
    (0..65535) < ceil(65536 · min_tokens / source_tokens). The
    1/65536 resolution downsamples a source 10⁴× larger than the
    smallest without granularity overshoot. The keep/drop
    decision is a pure function of doc_id (d18's split property), so
    the mixture survives re-sharding, backfills, and engine swaps;
    no seeded sample() whose membership depends on partitioning.

    Scale shape: ONE corpus scan folds into a (source × 65536)-bucket
    histogram (map-side combine; ≤ 65536·n_sources rows ever shuffle,
    and per-partition partial aggregation bounds each task's emit at
    its own row count);
    thresholds and kept-counts all derive from that tiny table with
    broadcast-size joins. Integer arithmetic end-to-end → bit-equal
    in the oracle."""
    hist = (
        t.documents.select(
            "source",
            F.expr(CUR.SPARK_BUCKET64K).alias("bkt"),
            T.bpe_token_estimate("text").alias("tok"),
        )
        .groupBy("source", "bkt")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("tok").alias("tokens"))
    )
    return CUR.mixture_report(hist, "source")


@query(
    "d43_bpe_pair_counts",
    """
    WITH words AS (
      SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w FROM documents
    ),
    w2 AS (SELECT w FROM words WHERE length(w) >= 2),
    pairs AS (
      SELECT substring(w, CAST(i AS INT), 2) AS pair
      FROM w2, unnest(range(1, length(w))) AS t(i)
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs GROUP BY pair ORDER BY n DESC, pair LIMIT 20
    """,
    tags=("llm", "tokenizer"),
)
def d43_bpe_pair_counts(t):
    """One BPE-training iteration's merge-candidate statistics: count
    adjacent character pairs inside lowercased alphabetic words across
    the corpus, top 20 (the pair a byte-pair-encoding tokenizer would
    merge next). Deterministic top-k (count desc, pair asc tiebreak).

    Scale shape: explode is O(total chars) but feeds a partial
    (map-side) aggregate that collapses each partition to ≤ 26² pair
    keys before the shuffle, so the exchange is a few hundred rows per
    partition regardless of corpus size; top-k is
    TakeOrderedAndProject. The full BPE loop is this query iterated
    with a merge table broadcast back — each iteration stays this
    shape."""
    words = t.documents.select(
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


@query(
    "d44_semantic_cluster_profile",
    f"""
    WITH {SIM.kmeans_chain()}
    SELECT a.cid,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(DISTINCT d.lang) AS BIGINT) AS n_langs,
           CAST(SUM(d.n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM asg a JOIN documents d ON d.doc_id = a.vec_id
    GROUP BY a.cid ORDER BY a.cid
    """,
    tags=("llm", "similarity", "curation"),
)
def d44_semantic_cluster_profile(t):
    """Semantic corpus clustering for curation: assign every document
    (via its embedding) to a spherical-k-means cluster and profile
    each cluster — doc count, char mass, language spread, mean doc
    length. The curation use: clusters with anomalous length/language
    mixes are the ones to inspect or reweight; per-cluster quotas
    (d33) then balance the training mix by TOPIC, not just source.

    Reuses the IVF machinery end-to-end (adaptive ~sqrt(N) centroid
    count from one metadata count, integer-quantized centroid sums —
    exact on both engines; see operators/similarity.kmeans_centroids),
    so the oracle shares the same unrolled CTE chain as d14/d37.
    Scale shape: assignment is a centroid broadcast against a linear
    corpus scan; the profile is one skinny (vec_id, cid) shuffle
    joined to documents on the id — no all-pairs stage anywhere."""
    emb = t.embeddings
    cents = SIM.materialized_centroids(emb)
    asg = SIM.ivf_assign(emb, cents).select("vec_id", "cid")
    docs = t.documents.select("doc_id", "lang", "n_chars")
    joined = asg.join(docs, asg.vec_id == docs.doc_id, "inner")
    return (
        joined.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        )
        .orderBy("cid")
    )


# ------------------------------------------------ epoch-seeded shuffle

_EPOCH_SEED = "epoch7|"


@query(
    "d45_epoch_shuffle",
    f"""
    WITH {CUR.shard_deal_sql(
        "documents", _EPOCH_SEED, "CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources"
    )}
    SELECT * FROM deal ORDER BY shard
    """,
    tags=("llm", "sampling"),
)
def d45_epoch_shuffle(t):
    """Epoch-seeded deterministic global shuffle: each training epoch
    orders the corpus by md5(seed ‖ doc_id) — a reproducible
    pseudorandom permutation that is a pure function of (seed, doc),
    so data order is re-derivable on any engine, after any backfill,
    for exact training-run reproduction (unlike engine rand(), whose
    draw depends on partitioning). The seed re-deals shard membership
    AND within-shard order, giving fresh mixing every epoch.

    Output pins the permutation itself: per shard, the first doc in
    shuffle order and a rank-weighted checksum — any engine that
    disagrees on ANY doc's position disagrees on the checksum.

    Scale shape: the shard count DERIVES from the corpus (d32's
    ~256-docs-per-shard doubling formula, capped 2^16, one metadata
    count mirrored in the oracle from COUNT(*)), so each rank window
    stays bounded at any scale — a trainer reads shard files in rank
    order, so no global sort ever materializes. One scan, one shuffle
    on shard."""
    return CUR.shard_deal(
        t.documents.select("doc_id", "source"),
        _EPOCH_SEED,
        F.countDistinct("source").alias("n_sources"),
    )


@query(
    "d46_leakage_severity_histogram",
    f"""
    WITH {ND.shingles_sql()},
    {CUR.overlap_sql()},
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM test_sh GROUP BY doc_id),
    mo AS (SELECT test_doc, MAX(n_overlap) AS max_ov FROM overlap GROUP BY test_doc),
    sev AS (
      SELECT s.doc_id,
             CAST(COALESCE((4 * m.max_ov) // s.n_sh, -1) AS INT) AS quartile
      FROM sizes s LEFT JOIN mo m ON m.test_doc = s.doc_id
    )
    SELECT quartile, CAST(COUNT(*) AS BIGINT) AS n_test_docs
    FROM sev GROUP BY quartile ORDER BY quartile
    """,
    tags=("llm", "dedup", "eval"),
)
def d46_leakage_severity_histogram(t):
    """Contamination SEVERITY distribution — the report that decides
    whether a leak is droppable noise or a systemic split failure.
    For every test-split doc: its worst informative-shingle overlap
    with ANY train doc, as an exact integer quartile of its own
    shingle count — (4·max_overlap) div n_shingles ∈ {0..4}, −1 for
    docs with no train collision at all — then the doc count per
    quartile. Complements d25 (which lists the offenders): this is
    the severity histogram over the WHOLE test split, including the
    clean mass. Candidates come through the same df ≤ 50 inverted
    index as d12/d25, so the overlap join stays corpus-linear; the
    quartile is pure integer arithmetic (no float ratios to drift
    cross-engine)."""
    sh = tracked_persist(
        DD.exploded_shingles(t.documents, "doc_id", "text", 3).distinct()
    )
    test_sh, _ = CUR.split_shingles(sh)
    sizes = test_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    mo = CUR.overlap(sh).groupBy("test_doc").agg(F.max("n_overlap").alias("max_ov"))
    sev = sizes.join(mo, sizes.doc_id == mo.test_doc, "left").select(
        F.coalesce(
            F.expr("(4 * max_ov) div n_sh").cast("int"), F.lit(-1)
        ).alias("quartile")
    )
    return (
        sev.groupBy("quartile")
        .agg(F.count(F.lit(1)).alias("n_test_docs"))
        .orderBy("quartile")
    )




@query(
    "d47_chunk_substring_dedup",
    f"""
    WITH {CUR.chunks_sql("documents", "text", ("lang",))}
    SELECT lang,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS total_chunks,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_chunks,
           CAST(SUM(CASE WHEN rn > 1 THEN n_words ELSE 0 END) AS BIGINT)
             AS removed_words,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS frac_kept
    FROM cranked GROUP BY lang ORDER BY lang
    """,
    tags=("llm", "dedup"),
)
def d47_chunk_substring_dedup(t):
    """Chunk-granular exact-substring dedup (the scalable approximation
    of suffix-array ExactSubstr from "Deduplicating Training Data Makes
    Language Models Better"): the corpus is cut into non-overlapping
    {8}-word chunks and every repeat of a chunk already seen earlier
    (first occurrence = lowest (doc_id, pos)) is dropped; report per
    language how many chunks/words survive. Distinct from d34 (whole-doc
    shingle containment) and d40 (docfreq boilerplate fraction): this is
    the REMOVAL accounting at sub-document granularity.

    Scale shape: chunking is a pure JVM map (sequence + slice inside
    whole-stage codegen — bounded per-doc arrays, no joins), and
    keep-first is computed with PARTIAL-AGGREGATABLE groupBys only —
    never a window over the chunk key. A window's row_number would
    serialize a viral chunk's entire occurrence list (multiplicity =
    corpus frequency, unbounded at 100 TB) through one task; instead,
    identical chunk text implies identical n_words, so the survivor
    per chunk is min(struct(doc_id, pos, lang, n_words)) — a map-side-
    combining aggregate where every partition contributes ONE row per
    chunk regardless of hot keys — and per-lang removed words fall out
    as total_words − survivor_words. No all-pairs surface anywhere;
    cost is linear in corpus tokens. frac_kept is the only float:
    bigint/bigint → double."""
    ch = CUR.chunks(t.documents, "text", ("lang",))
    # per-lang occurrence totals: one map-side-partial shuffle on lang
    occ = ch.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("total_chunks"),
        F.sum("n_words").alias("total_words"),
    )
    # one survivor per chunk; lang rides along in the min struct
    kept = (
        CUR.first_chunks(ch, "lang")
        .groupBy(F.col("first.lang").alias("k_lang"))
        .agg(
            F.count(F.lit(1)).alias("kept_chunks"),
            F.sum("first.n_words").alias("kept_words"),
        )
    )
    zero = F.lit(0).cast("long")
    return (
        # LEFT join: a language every one of whose chunks was first
        # seen in another language still reports (with 0 kept).
        # Null-SAFE key so a NULL-lang group matches its survivors the
        # way the oracle's GROUP BY lang does.
        occ.join(
            F.broadcast(kept),
            F.col("lang").eqNullSafe(F.col("k_lang")),
            "left",
        )
        .select(
            "lang",
            "n_docs",
            "total_chunks",
            F.coalesce("kept_chunks", zero).alias("kept_chunks"),
            (F.col("total_words") - F.coalesce("kept_words", zero)).alias(
                "removed_words"
            ),
            (
                F.coalesce("kept_chunks", zero).cast("double")
                / F.col("total_chunks").cast("double")
            ).alias("frac_kept"),
        )
        .orderBy("lang")
    )


@query(
    "d48_source_overlap_matrix",
    f"""
    WITH {ND.shingles_sql(carry=("source",))},
    ss AS (SELECT DISTINCT source, shingle FROM sh),
    shc AS (SELECT source, COUNT(*) AS n_sh FROM ss GROUP BY source),
    srcs AS (SELECT source FROM documents GROUP BY source),
    sz AS (
      SELECT srcs.source, COALESCE(shc.n_sh, 0) AS n_sh
      FROM srcs LEFT JOIN shc ON shc.source = srcs.source
    ),
    ov AS (
      SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_overlap
      FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT sa.source AS source_a, sb.source AS source_b,
           CAST(sa.n_sh AS BIGINT) AS n_sh_a,
           CAST(sb.n_sh AS BIGINT) AS n_sh_b,
           CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
           CASE WHEN sa.n_sh + sb.n_sh - COALESCE(ov.n_overlap, 0) = 0
                THEN 0.0
                ELSE CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE)
                     / CAST(sa.n_sh + sb.n_sh - COALESCE(ov.n_overlap, 0)
                            AS DOUBLE)
           END AS jaccard
    FROM sz sa
    JOIN sz sb ON sa.source < sb.source
    LEFT JOIN ov ON ov.source_a = sa.source AND ov.source_b = sb.source
    ORDER BY source_a, source_b
    """,
    tags=("llm", "dedup", "eval"),
)
def d48_source_overlap_matrix(t):
    """Inter-source contamination matrix: distinct 3-word-shingle
    Jaccard between every pair of sources — the diagnostic that tells a
    curation run which crawls/dumps are re-publishing each other before
    any doc-level dedup is attempted. Zero-overlap pairs stay in the
    matrix (full upper triangle over ALL sources in the corpus — a
    source whose docs are too short to shingle still appears, with
    n_sh = 0 and jaccard defined as 0 for an empty-empty pair).

    Scale shape: distinct (source, shingle) is one shuffle; the
    shingle self-join's per-key multiplicity is bounded by the SOURCE
    COUNT (post-distinct, a shingle appears once per source), so join
    output ≤ sources² per shingle and the pair rollup collapses
    map-side into a ≤ sources² key domain. The final cross of the
    per-source size table with itself is sources² rows — driver-scale
    metadata, broadcast both sides. Everything JVM codegen."""
    sh = DD.exploded_shingles(
        t.documents, "doc_id", "text", 3, extra_cols=("source",)
    ).select("source", "shingle")
    # one corpus scan: the distinct (source, shingle) set feeds three
    # consumers (sizes + both join sides) via the tracked cache
    ss = tracked_persist(sh.distinct())
    shc = ss.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    srcs = t.documents.select("source").distinct()
    sz = srcs.join(F.broadcast(shc), "source", "left").select(
        "source", F.coalesce("n_sh", F.lit(0).cast("long")).alias("n_sh")
    )
    a = ss.select(F.col("source").alias("source_a"), "shingle")
    b = ss.select(F.col("source").alias("source_b"), "shingle")
    ov = (
        a.join(b, "shingle")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    sa = sz.select(F.col("source").alias("source_a"), F.col("n_sh").alias("n_sh_a"))
    sb = sz.select(F.col("source").alias("source_b"), F.col("n_sh").alias("n_sh_b"))
    pairs = F.broadcast(sa).join(
        F.broadcast(sb), sa.source_a < sb.source_b
    )
    out = pairs.join(F.broadcast(ov), ["source_a", "source_b"], "left")
    novl = F.coalesce(F.col("n_overlap"), F.lit(0).cast("long"))
    denom = F.col("n_sh_a") + F.col("n_sh_b") - novl
    return out.select(
        "source_a",
        "source_b",
        "n_sh_a",
        "n_sh_b",
        novl.alias("n_overlap"),
        F.when(denom == 0, F.lit(0.0))
        .otherwise(novl.cast("double") / denom.cast("double"))
        .alias("jaccard"),
    ).orderBy("source_a", "source_b")


@query(
    "e11_event_rate_anomalies",
    """
    WITH hc AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_hours,
             SUM(CAST(cnt AS HUGEINT)) AS tot,
             SUM(CAST(cnt AS HUGEINT) * cnt) AS sumsq
      FROM hc GROUP BY event_type
    )
    SELECT hc.event_type AS event_type, hc.hour, hc.cnt, st.n_hours,
           CAST(hc.cnt * st.n_hours - st.tot AS DOUBLE)
             / sqrt(CAST(st.n_hours * st.sumsq - st.tot * st.tot AS DOUBLE))
             AS zscore
    FROM hc JOIN st ON hc.event_type = st.event_type
    WHERE hc.cnt * st.n_hours - st.tot > 0
      AND (hc.cnt * st.n_hours - st.tot) * (hc.cnt * st.n_hours - st.tot)
          > 4 * (st.n_hours * st.sumsq - st.tot * st.tot)
    ORDER BY hc.event_type, hc.hour
    """,
    tags=("events", "quality"),
)
def e11_event_rate_anomalies(t):
    """Event-rate spike detection: hours where a type's event count
    exceeds mean + 2·stddev of that type's hourly counts. The 2-sigma
    test is EXACT INTEGER arithmetic — ``cnt·n − tot > 0`` and
    ``(cnt·n − tot)² > 4·(n·sumsq − tot²)`` (n²·var_pop = n·sumsq −
    tot², so no float mean/stddev fold whose ordering could drift
    cross-engine); the reported z-score is one integer-derived
    division + sqrt, bit-identical on both engines. The stats fold in
    128-bit-class types — Spark DECIMAL(38,0), DuckDB HUGEINT — so
    sum-of-squares and the squared deviation stay exact far past
    int64 (a type at 10⁷ events/hour for 10⁴ hours overflows BIGINT
    sumsq; DECIMAL(38,0) holds every realistic operating point).

    Scale shape: hourly rollup is a map-side-partial groupBy; the
    per-type stats table is ≤ #event-types rows (driver-scale) and is
    broadcast back — no window over an unbounded per-type partition,
    no second shuffle of the hourly table. The wide-decimal math only
    ever touches that bounded table and the hourly rows."""
    # the hourly rollup feeds both the stats build and the probe side;
    # caching it keeps the raw events scan single-pass
    hc = tracked_persist(
        t.events.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
        ).agg(F.count(F.lit(1)).alias("cnt"))
    )
    cw = F.col("cnt").cast("decimal(38,0)")
    st = hc.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(cw).alias("tot"),
        F.sum(cw * cw).alias("sumsq"),
    )
    j = hc.join(F.broadcast(st), "event_type")
    nw = F.col("n_hours").cast("decimal(38,0)")
    dev = cw * nw - F.col("tot")
    nvar = nw * F.col("sumsq") - F.col("tot") * F.col("tot")
    return (
        j.filter((dev > 0) & (dev * dev > 4 * nvar))
        .select(
            "event_type",
            "hour",
            "cnt",
            "n_hours",
            (dev.cast("double") / F.sqrt(nvar.cast("double"))).alias("zscore"),
        )
        .orderBy("event_type", "hour")
    )



@query(
    "d49_word_frequency_spectrum",
    """
    WITH w AS (
      SELECT unnest(string_split(text, ' ')) AS wd FROM documents
    ),
    wc AS (SELECT wd, CAST(COUNT(*) AS BIGINT) AS cnt FROM w GROUP BY wd),
    b AS (
      SELECT CAST(length(bin(cnt)) - 1 AS INT) AS freq_class, cnt FROM wc
    ),
    spec AS (
      SELECT freq_class,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(cnt) AS BIGINT) AS token_mass
      FROM b GROUP BY freq_class
    ),
    tot AS (SELECT SUM(token_mass) AS total FROM spec)
    SELECT freq_class, n_words, token_mass,
           CAST(token_mass AS DOUBLE) / CAST(total AS DOUBLE) AS mass_share,
           CAST(SUM(token_mass) OVER (ORDER BY freq_class DESC) AS DOUBLE)
             / CAST(total AS DOUBLE) AS head_cum_share
    FROM spec, tot ORDER BY freq_class
    """,
    tags=("llm", "text", "vocab"),
)
def d49_word_frequency_spectrum(t):
    """Zipf frequency spectrum — the vocab-sizing profile: words are
    bucketed by frequency class floor(log2(count)) and each class
    reports its vocabulary size, token mass, mass share, and the
    cumulative share of all classes at-or-above it (how head-heavy the
    corpus is; what a 2^j-count cutoff would keep). Complements d27
    (which lists the top-k words): this is the whole-distribution
    shape in ~40 rows.

    The bucket is EXACT integer arithmetic on both engines —
    length(bin(count)) − 1, never float log2 (whose half-ulp rounding
    can misbucket counts adjacent to powers of two at large scale).

    Scale shape: word counting is one map-side-partial shuffle; the
    class rollup collapses to <= ~40 keys map-side; the cumulative
    window and scalar-total broadcast run over that bounded 40-row
    table only. Nothing global touches unbounded data."""
    w = t.documents.select(F.explode(F.split(F.col("text"), " ")).alias("wd"))
    wc = w.groupBy("wd").agg(F.count(F.lit(1)).alias("cnt"))
    spec = (
        wc.select(
            (F.length(F.expr("bin(cnt)")) - 1).cast("int").alias("freq_class"),
            "cnt",
        )
        .groupBy("freq_class")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("cnt").alias("token_mass"),
        )
    )
    tot = spec.agg(F.sum("token_mass").alias("total"))
    win = Window.orderBy(F.col("freq_class").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        spec.crossJoin(F.broadcast(tot))
        .withColumn("head_cum", F.sum("token_mass").over(win))
        .select(
            "freq_class",
            "n_words",
            "token_mass",
            (F.col("token_mass").cast("double") / F.col("total").cast("double")).alias(
                "mass_share"
            ),
            (F.col("head_cum").cast("double") / F.col("total").cast("double")).alias(
                "head_cum_share"
            ),
        )
        .orderBy("freq_class")
    )


@query(
    "e12_event_transition_matrix",
    """
    WITH ordered AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    ),
    tr AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(COUNT(*) AS BIGINT) AS n_transitions
      FROM ordered WHERE next_type IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (
      SELECT from_type, SUM(n_transitions) AS from_total FROM tr GROUP BY 1
    )
    SELECT tr.from_type AS from_type, tr.to_type, tr.n_transitions,
           CAST(tr.n_transitions AS DOUBLE) / CAST(tot.from_total AS DOUBLE)
             AS share
    FROM tr JOIN tot ON tr.from_type = tot.from_type
    ORDER BY tr.from_type, tr.to_type
    """,
    tags=("events", "analytics"),
)
def e12_event_transition_matrix(t):
    """First-order user-path transition matrix: for each consecutive
    pair of events within a user's timeline ((ts, event_id) total
    order), count from-type → to-type transitions and each row's share
    of its from-type's outgoing mass — the Markov-chain view of user
    behavior that funnels (e07) are a special case of.

    Scale shape: ONE shuffle keyed by user_id for the lead window
    (per-key volume = a single user's event count — the natural bound
    in behavioral data); the pair rollup collapses map-side into a
    ≤ types² key domain; the row-normalizing totals table is ≤ #types
    rows, broadcast back. share is the only float (bigint/bigint)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = t.events.select(
        "user_id", "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    # the <= types^2-row rollup feeds both the output and the
    # normalizing totals; caching it keeps the window pass single-shot
    tr = tracked_persist(
        ordered.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    tot = tr.groupBy("from_type").agg(F.sum("n_transitions").alias("from_total"))
    return (
        tr.join(F.broadcast(tot), "from_type")
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            (
                F.col("n_transitions").cast("double")
                / F.col("from_total").cast("double")
            ).alias("share"),
        )
        .orderBy("from_type", "to_type")
    )



_RH_BASE = 1_000_003
_RH_MOD = 2_147_483_647  # Mersenne prime 2^31 - 1; acc*BASE + x < 2^52


@query(
    "d50_rolling_hash_fingerprints",
    f"""
    SELECT doc_id, lang,
           CAST(list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ' '),
                 w -> CAST({CUR.md5_hex_int('w', 'varchar', 8)} AS BIGINT))),
             (acc, x) -> (acc * {_RH_BASE} + x) % {_RH_MOD}) AS BIGINT)
             AS rolling_fp
    FROM documents ORDER BY doc_id
    """,
    tags=("llm", "fingerprint"),
)
def d50_rolling_hash_fingerprints(t):
    """Polynomial (Karp–Rabin) rolling-hash document fingerprint:
    fold (acc·B + h(word)) mod M over the word sequence, with h =
    32-bit md5 digits via the module's one content-address generator
    and M = 2³¹−1 — ORDER-SENSITIVE, unlike d04's md5/min-shingle
    fingerprints, so reordered-word documents get distinct prints
    while the incremental form is what a content-defined-chunking
    cutter computes per position. B·M < 2⁵² keeps every intermediate
    exact in int64 on both engines (and in a double-based engine).

    Scale shape: one scan, per-doc fold, NO shuffle at all (the only
    ORDER BY is presentation). The fold lambda touches only its
    arguments — no captured subexpression recompute, the interpreted-
    HOF pitfall `exploded_shingles` documents — and the md5-per-word
    cost equals the shingle builders'. Output is driver-thin: one
    int64 per doc."""
    # conv(hex,16,10) is the JVM-native 32-bit word hash (the instr
    # arithmetic generator would need bigint coefficients at 8 digits;
    # the value is identical to the oracle's digit expansion)
    expr = (
        f"aggregate(split(text, ' '), cast(0 as bigint),"
        f" (acc, w) -> (acc * {_RH_BASE}"
        f" + cast(conv(substring(md5(cast(w as string)), 1, 8), 16, 10)"
        f" as bigint)) % {_RH_MOD})"
    )
    return t.documents.select(
        "doc_id", "lang", F.expr(expr).cast("long").alias("rolling_fp")
    ).orderBy("doc_id")


# ------------------------------------------------------- OHLC downsample

# Deterministic open/close selection: the shared (ts, event_id) scalar
# ordering key — one definition for e13, streaming ohlc_bars/s15, and
# the tests. See functions/ordering.py for the 2^64-slot width argument
# (order-preserving for EVERY int64 event_id, negatives included).
from data_engineer_project_spark.functions.ordering import (  # noqa: E402
    OHLC_KEY_SQL as _OHLC_KEY_SQL,
    ohlc_order_key as _ohlc_order_key,
)


@query(
    "e13_ohlc_bars",
    f"""
    SELECT event_type,
           CAST(date_trunc('day', ts) AS DATE) AS day,
           arg_min(value, {_OHLC_KEY_SQL}) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, {_OHLC_KEY_SQL}) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(value * 1000.0) AS BIGINT)) AS DOUBLE)
             / (1000.0 * CAST(COUNT(*) AS DOUBLE)) AS avg_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("events", "timeseries", "downsample"),
)
def e13_ohlc_bars(t):
    """Daily OHLC bars per event type — the canonical time-series
    DOWNSAMPLE (hypertable rollup / candlestick) operator: open (first
    value of the day), high, low, close (last value), event count, and
    mean value per (event_type, day).

    Scale shape: ONE hash aggregate, no window — min_by/max_by carry
    the (ordering-key, value) pair through map-side partial
    aggregation, so each of a 1000 executors reduces its slice of a
    day before the single shuffle on the (type, day) key; a window
    formulation would instead sort every partition. open/close/high/
    low are SELECTIONS of stored doubles (no float summation), and the
    mean folds integer milli-units, so results are bit-identical on
    both engines regardless of partitioning. Day-bucketed keys keep
    every group bounded (one day × one type) at any corpus size."""
    key = _ohlc_order_key()
    q = F.floor(F.col("value") * 1000.0).cast("long")
    return (
        t.events.groupBy(
            "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(q).cast("double")
                / (F.lit(1000.0) * F.count(F.lit(1)).cast("double"))
            ).alias("avg_value"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "e14_time_weighted_avg",
    """
    WITH seg AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(floor(value * 1000.0) AS BIGINT) AS q,
             lead(epoch_us(ts)) OVER (
               PARTITION BY event_type, date_trunc('day', ts)
               ORDER BY ts, event_id
             ) - epoch_us(ts) AS dur_us
      FROM events
    )
    SELECT event_type, day,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CAST(dur_us AS HUGEINT)) AS BIGINT) AS span_us,
           CAST(SUM(CAST(q AS HUGEINT) * dur_us) AS DOUBLE)
             / (1000.0 * CAST(SUM(CAST(dur_us AS HUGEINT)) AS DOUBLE))
             AS twa_value
    FROM seg WHERE dur_us IS NOT NULL AND dur_us > 0
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("events", "timeseries"),
)
def e14_time_weighted_avg(t):
    """Time-weighted average value per (event_type, day) — the
    last-observation-carried-forward integral (∑ valueᵢ·Δtᵢ / ∑ Δtᵢ)
    over segments between consecutive events, the correct mean for
    irregularly-sampled series where e13's per-event mean over-weights
    bursts. Segments are clipped at day boundaries (the day's last
    observation contributes no segment) — the per-day contract that
    also bounds the window key.

    Exactness: value quantized to integer milli-units, durations are
    integer microseconds, products fold in 128-bit-class integers
    (Spark DECIMAL(38,0), DuckDB HUGEINT — a day of microseconds ×
    milli-unit values overflows int64), so the single final division
    is bit-identical cross-engine.

    Scale shape: the lead() window partitions by (event_type, DAY) —
    a bounded key (one day of one type per task), never the unbounded
    per-type partition the d32 round-5 rewrite eliminated; then one
    map-side-combinable aggregate on the same key, so AQE coalesces
    both stages onto one exchange."""
    day_us = F.unix_micros(F.date_trunc("day", "ts"))
    w = Window.partitionBy("event_type", day_us).orderBy("ts", "event_id")
    seg = t.events.select(
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.floor(F.col("value") * 1000.0).cast("long").alias("q"),
        (F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts")).alias(
            "dur_us"
        ),
    ).filter(F.col("dur_us").isNotNull() & (F.col("dur_us") > 0))
    qd = F.col("q").cast("decimal(38,0)")
    dd = F.col("dur_us").cast("decimal(38,0)")
    return (
        seg.groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(dd).cast("long").alias("span_us"),
            (
                F.sum(qd * dd).cast("double")
                / (F.lit(1000.0) * F.sum(dd).cast("double"))
            ).alias("twa_value"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "d51_embedding_covariance",
    """
    WITH ex AS (
      SELECT vec_id, unnest(embedding) AS x,
             generate_subscripts(embedding, 1) AS p
      FROM embeddings
    ),
    mx AS (
      SELECT vec_id, MAX(ABS(CAST(x AS DOUBLE))) AS maxabs
      FROM ex GROUP BY vec_id
    ),
    q AS (
      SELECT e.vec_id, CAST(e.p - 1 AS INT) AS i,
             CASE WHEN m.maxabs = 0 THEN 0
                  ELSE CAST(floor(127 * CAST(e.x AS DOUBLE) / m.maxabs + 0.5)
                            AS BIGINT) END AS qv
      FROM ex e JOIN mx m ON e.vec_id = m.vec_id
    ),
    g AS (
      SELECT a.i AS dim_i, b.i AS dim_j,
             CAST(SUM(a.qv * b.qv) AS BIGINT) AS gram,
             CAST(COUNT(*) AS BIGINT) AS n_vectors
      FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY 1, 2
    ),
    s AS (SELECT i, CAST(SUM(qv) AS BIGINT) AS sv FROM q GROUP BY i)
    SELECT g.dim_i, g.dim_j, g.gram, g.n_vectors,
           CAST(CAST(g.n_vectors AS HUGEINT) * g.gram
                  - CAST(sa.sv AS HUGEINT) * sb.sv AS DOUBLE)
             / CAST(CAST(g.n_vectors AS HUGEINT) * g.n_vectors AS DOUBLE)
             AS cov
    FROM g JOIN s sa ON sa.i = g.dim_i JOIN s sb ON sb.i = g.dim_j
    """,
    tags=("llm", "similarity", "linalg"),
)
def d51_embedding_covariance(t):
    """Exact covariance / Gram matrix of the int8-quantized embedding
    corpus — the preprocessing primitive for PCA whitening, OPQ
    rotation, and IVF centroid seeding (operators/linalg.py). Vectors
    quantize with d28's symmetric max-abs rule, after which every Gram
    cell Σ qᵢ·qⱼ and column sum Σ qᵢ is INTEGER, so partial results
    commute across any partitioning and cov = (n·G − SᵢSⱼ)/n² is one
    bit-exact division (numerator folded 128-bit-wide: Spark
    DECIMAL(38,0), DuckDB HUGEINT — n·G overflows int64 near 10⁹
    vectors).

    Scale shape: ONE corpus scan; each Arrow batch emits a d×d partial
    Gram via a single integer matmul (q.T @ q, the rank-n update), so
    shuffle volume is O(partitions·d²) — independent of corpus size —
    where the declarative posexplode²-and-groupBy form the oracle uses
    would shuffle N·d² rows. The d² aggregate and the two column-sum
    broadcasts are driver-thin."""
    from data_engineer_project_spark.operators.linalg import (
        quantized_covariance,
    )

    return quantized_covariance(t.embeddings)


@query(
    "d52_quality_tiered_mixture",
    f"""
    WITH sc AS (
      SELECT source,
             (CASE WHEN length(string_split(text, ' ')) BETWEEN 20 AND 120
                    AND CAST(length(list_filter(string_split(text, ' '),
                                      x -> x IN ({_SW_SQL}))) AS DOUBLE)
                        / CAST(length(string_split(text, ' ')) AS DOUBLE) < 0.3
                   THEN 0 ELSE 1000000 END)
             + (length(list_filter(string_split(text, ' '),
                                   x -> x IN ({_SW_SQL}))) * 1000000)
               // length(string_split(text, ' ')) AS s,
             length(string_split(text, ' ')) AS n_words
      FROM documents
    ),
    hist AS (
      SELECT source, s, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(n_words) AS BIGINT) AS toks
      FROM sc GROUP BY 1, 2
    ),
    tot AS (SELECT source, SUM(cnt) AS n FROM hist GROUP BY source),
    run AS (
      SELECT h.source, h.s, h.cnt, h.toks, t.n,
             SUM(h.cnt) OVER (PARTITION BY h.source ORDER BY h.s) AS rc
      FROM hist h JOIN tot t ON h.source = t.source
    ),
    cut AS (
      SELECT source, MIN(s) AS cutoff_score
      FROM run WHERE rc * 4 >= n GROUP BY source
    )
    SELECT r.source,
           CAST(MAX(r.n) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN r.s <= c.cutoff_score THEN r.cnt ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(MAX(c.cutoff_score) AS BIGINT) AS cutoff_score,
           CAST(SUM(CASE WHEN r.s <= c.cutoff_score THEN r.toks ELSE 0 END)
                AS BIGINT) AS kept_tokens
    FROM run r JOIN cut c ON r.source = c.source
    GROUP BY r.source
    """,
    tags=("llm", "mixture", "quality"),
)
def d52_quality_tiered_mixture(t):
    """Quality-tiered source mixture: per source keep the best ~25% of
    documents by quality score (FineWeb-style quality pools feeding
    d33/d42's budget apportionment). The keep rule is a THRESHOLD, not
    a rank: scores quantize to integers (failed-filter penalty +
    stopword millionths, lower = better), a per-(source, score)
    histogram accumulates, and the cutoff is the smallest score whose
    running count covers a quarter of the source — every doc scoring
    <= cutoff is kept, so the decision is content-addressed and
    reproducible under re-sharding, and ties at the boundary over-keep
    deterministically rather than depending on row order.

    Scale shape: ONE corpus scan folds to the (source × distinct-score)
    histogram with map-side partials; the cumulative window partitions
    by source but ranges over DISTINCT SCORES (≤ 10⁶-value quantized
    domain, not corpus rows — the bounded-window-key rule d32/d45
    established); cutoffs are a per-source scalar broadcast. Integer
    arithmetic end to end."""
    d = t.documents
    n_words = T.token_count("text")
    sw = T.stopword_count("text")
    stop_ratio = sw.cast("double") / n_words.cast("double")
    flag_pen = F.when(
        n_words.between(20, 120) & (stop_ratio < 0.3), 0
    ).otherwise(1000000)
    # the Spark-SQL twin of the oracle's integer division, built from
    # the SAME _SW_SQL stopword list (one source of truth)
    s = flag_pen + F.expr(
        "(size(filter(split(text, ' '), x -> array_contains("
        f"array({_SW_SQL}), x)))"
        " * cast(1000000 as bigint))"
        " div size(split(text, ' '))"
    )
    sc = d.select(
        "source", s.cast("long").alias("s"), n_words.alias("n_words")
    )
    hist = tracked_persist(
        sc.groupBy("source", "s").agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("n_words").alias("toks")
        )
    )
    tot = hist.groupBy("source").agg(F.sum("cnt").alias("n"))
    w = Window.partitionBy("source").orderBy("s")
    run = hist.join(F.broadcast(tot), "source").withColumn(
        "rc", F.sum("cnt").over(w)
    )
    cut = (
        run.filter(F.col("rc") * 4 >= F.col("n"))
        .groupBy("source")
        .agg(F.min("s").alias("cutoff_score"))
    )
    kept = F.col("s") <= F.col("cutoff_score")
    return (
        run.join(F.broadcast(cut), "source")
        .groupBy("source")
        .agg(
            F.max("n").alias("n_docs"),
            F.sum(F.when(kept, F.col("cnt")).otherwise(0)).alias("n_kept"),
            F.max("cutoff_score").alias("cutoff_score"),
            F.sum(F.when(kept, F.col("toks")).otherwise(0)).alias(
                "kept_tokens"
            ),
        )
    )


@query(
    "d53_corpus_snapshot_diff",
    f"""
    WITH b AS (
      SELECT doc_id, lang, text, {CUR.ORACLE_BUCKET} AS bk FROM documents
    ),
    snap_a AS (
      SELECT doc_id, lang, md5(text) AS fp FROM b WHERE bk < 90
    ),
    snap_b AS (
      SELECT doc_id, lang,
             md5(CASE WHEN bk BETWEEN 50 AND 59 THEN upper(text)
                      ELSE text END) AS fp
      FROM b WHERE bk >= 10
    ),
    d AS (
      SELECT COALESCE(a.doc_id, c.doc_id) AS doc_id,
             COALESCE(a.lang, c.lang) AS lang,
             CASE WHEN a.doc_id IS NULL THEN 'added'
                  WHEN c.doc_id IS NULL THEN 'removed'
                  WHEN a.fp <> c.fp THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM snap_a a FULL OUTER JOIN snap_b c ON a.doc_id = c.doc_id
    )
    SELECT lang, status, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM d GROUP BY 1, 2
    """,
    tags=("llm", "incremental", "audit"),
)
def d53_corpus_snapshot_diff(t):
    """Corpus snapshot diff — the audit a recurring-crawl pipeline runs
    between ingests: full-outer join of two corpus versions on doc_id,
    comparing content FINGERPRINTS (md5 of text, never the text
    itself) to classify every document added / removed / changed /
    unchanged, rolled up per lang. The two snapshots here are derived
    views of the one test corpus (content-addressed buckets drop
    different slices; one slice's text is deterministically mutated)
    so both engines diff identical inputs — the operator shape, not
    the simulation, is the contract.

    Scale shape: fingerprints reduce each side to (id, 16-byte fp)
    before the join — the shuffle moves hashes, not 100 TB of text;
    at scale both snapshots bucket by doc_id so the full-outer join is
    co-partitioned with no extra exchange, and the rollup output is
    langs × 4 rows. This is s11's batch complement: s11 gates NEW docs
    against a corpus incrementally, d53 reconciles two full versions."""
    b = t.documents.select(
        "doc_id", "lang", "text", F.expr(CUR.SPARK_BUCKET).alias("bk")
    )
    snap_a = b.filter(F.col("bk") < 90).select(
        "doc_id", "lang", F.md5("text").alias("fp")
    )
    snap_b = b.filter(F.col("bk") >= 10).select(
        "doc_id",
        "lang",
        F.md5(
            F.when(
                F.col("bk").between(50, 59), F.upper("text")
            ).otherwise(F.col("text"))
        ).alias("fp"),
    )
    a, c = snap_a.alias("a"), snap_b.alias("c")
    d = a.join(c, F.col("a.doc_id") == F.col("c.doc_id"), "full_outer").select(
        F.coalesce(F.col("a.lang"), F.col("c.lang")).alias("lang"),
        F.when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("c.doc_id").isNull(), "removed")
        .when(F.col("a.fp") != F.col("c.fp"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return d.groupBy("lang", "status").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@query(
    "e15_hourly_gap_fill",
    """
    WITH span AS (
      SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
      FROM events
    ),
    hours AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM span
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    grid AS (SELECT h.hour, t.event_type FROM hours h CROSS JOIN types t),
    agg AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(floor(value * 1000.0) AS BIGINT)) AS BIGINT) AS vmilli
      FROM events GROUP BY 1, 2
    )
    SELECT g.event_type, g.hour,
           COALESCE(a.n, 0) AS n_events,
           CAST(COALESCE(a.vmilli, 0) AS DOUBLE) / 1000.0 AS total_value
    FROM grid g LEFT JOIN agg a
      ON g.event_type = a.event_type AND g.hour = a.hour
    """,
    tags=("events", "timeseries", "gapfill"),
)
def e15_hourly_gap_fill(t):
    """Hourly event gap fill — p72's calendar-spine pattern on the
    time-series side, completing the hypertable toolkit (e13 OHLC
    downsample, e14 LOCF integral, e15 dense grid): an hour spine
    generated from the data's own span crossed with the observed
    event types, left-joined to hourly rollups so silent hours
    surface as explicit zero rows — what alerting (a dead producer
    looks like a zero, not a missing row) and e11's anomaly scoring
    need to see. Totals fold integer milli-units, so the zero-filled
    column is bit-exact cross-engine.

    Scale shape: the spine is driver-thin (a decade is ~90k hours)
    and the type dim tiny, so the grid broadcasts; the rollup is one
    map-side-combined aggregate on (type, hour); the left join of
    grid against rollup is broadcast-size on both sides."""
    ev = t.events
    span = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = span.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval '1' hour"))).alias(
            "hour"
        )
    )
    types = ev.select("event_type").distinct()
    grid = hours.crossJoin(F.broadcast(types)).select(
        "event_type", F.col("hour").alias("g_hour")
    )
    agg = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("value") * 1000.0).cast("long")).alias("vmilli"),
    )
    return grid.join(
        agg,
        (grid.event_type == agg.event_type) & (grid.g_hour == agg.hour),
        "left",
    ).select(
        grid.event_type,
        F.col("g_hour").alias("hour"),
        F.coalesce("n", F.lit(0).cast("long")).alias("n_events"),
        (
            F.coalesce("vmilli", F.lit(0).cast("long")).cast("double")
            / 1000.0
        ).alias("total_value"),
    )


@query(
    "d54_rare_token_mass",
    """
    WITH w AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS wd
      FROM documents
    ),
    wc AS (SELECT wd, CAST(COUNT(*) AS BIGINT) AS cnt FROM w GROUP BY wd)
    SELECT w.lang,
           CAST(COUNT(DISTINCT w.doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN wc.cnt <= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS rare_tokens,
           CAST(SUM(CASE WHEN wc.cnt <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS rare_mass
    FROM w JOIN wc ON w.wd = wc.wd
    GROUP BY w.lang
    """,
    tags=("llm", "text", "quality"),
)
def d54_rare_token_mass(t):
    """Rare-token mass per language: the fraction of token OCCURRENCES
    whose corpus-wide frequency is ≤ 2 (hapax + dis legomena) — the
    lexical-richness / OCR-noise signal quality filters read (a spike
    in never-repeated tokens means garbled text or boilerplate-free
    natural prose, and which one the d02 features disambiguate). The
    corpus frequency table is d49's word-count rollup reused as a
    lookup; the ratio is integer-derived, bit-exact cross-engine.

    Scale shape: ONE tokenized projection persisted and read twice —
    once folding to the (word → count) table (map-side combined),
    once joining per-occurrence against it; both shuffles key on the
    word, so at scale they share partitioning (the BM25 df shape).
    The rare set is the vocabulary's long tail — far too big to
    broadcast, which is exactly why this is a co-partitioned join and
    not a lookup. Output is langs-thin."""
    w = tracked_persist(
        t.documents.select(
            "doc_id", "lang", F.explode(T.words("text")).alias("wd")
        )
    )
    wc = w.groupBy("wd").agg(F.count(F.lit(1)).alias("cnt"))
    rare = F.when(F.col("cnt") <= 2, 1).otherwise(0)
    return (
        w.join(wc, "wd")
        .groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("total_tokens"),
            F.sum(rare).alias("rare_tokens"),
            (
                F.sum(rare).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("rare_mass"),
        )
    )


@query(
    "d55_clean_train_split",
    f"""
    WITH {ND.shingles_sql()},
    {CUR.overlap_sql()},
    tr AS (
      SELECT doc_id, lang, length(string_split(text, ' ')) AS nw
      FROM documents WHERE {CUR.ORACLE_BUCKET} < 80
    )
    SELECT tr.lang,
           CAST(COUNT(*) AS BIGINT) AS n_train,
           CAST(SUM(CASE WHEN l.train_doc IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_removed,
           CAST(SUM(CASE WHEN l.train_doc IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clean,
           CAST(SUM(CASE WHEN l.train_doc IS NULL THEN nw ELSE 0 END)
                AS BIGINT) AS clean_tokens
    FROM tr LEFT JOIN leaky l ON tr.doc_id = l.train_doc
    GROUP BY tr.lang
    """,
    tags=("llm", "eval", "split"),
)
def d55_clean_train_split(t):
    """The DECONTAMINATED training split — the step d25 only reports
    on: training-split documents that share ≥2 informative shingles
    with ANY held-out doc are REMOVED (the GPT-3-style n-gram rule,
    applied train-side), and the survivors are rolled up per lang with
    their token budget. d25 answers "which test docs are compromised";
    d55 answers "what do I actually train on" — the materialization a
    pipeline ships to the tokenizer. Every piece is the established
    machinery: d18's content-addressed buckets split with no data
    movement, d12/d25's inverted informative-shingle index keeps the
    overlap join corpus-linear, and the final anti-join-shaped LEFT
    JOIN touches only the leaky-id set (far smaller than train).

    Scale note: the leaky set's size is a property of the data, not
    the query — a contaminated crawl (the exact case decontamination
    exists for) makes it corpus-proportional, so the join carries no
    forced broadcast hint: AQE broadcasts it when it is actually
    small and falls back to a sort-merge join on doc_id otherwise.
    The per-lang rollup is map-side-combined."""
    sh = tracked_persist(
        DD.exploded_shingles(t.documents, "doc_id", "text", 3).distinct()
    )
    leaky = CUR.leaky(sh)
    tr = t.documents.filter(F.expr(CUR.SPARK_BUCKET) < 80).select(
        "doc_id", "lang", T.token_count("text").alias("nw")
    )
    # No broadcast hint: the leaky set is data-dependent (a contaminated
    # crawl makes it corpus-proportional).  AQE still broadcasts it when
    # it is actually small; otherwise this is a fine sort-merge on doc_id.
    j = tr.join(leaky, tr.doc_id == leaky.train_doc, "left")
    removed = F.col("train_doc").isNotNull()
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_train"),
        F.sum(removed.cast("long")).alias("n_removed"),
        F.sum((~removed).cast("long")).alias("n_clean"),
        F.sum(F.when(~removed, F.col("nw")).otherwise(0)).alias(
            "clean_tokens"
        ),
    )


@query(
    "e16_type_correlation_matrix",
    """
    WITH hb AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             SUM(CAST(floor(value * 1000.0) AS BIGINT)) AS v
      FROM events GROUP BY 1, 2
    ),
    p AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_hours,
             SUM(CAST(a.v AS HUGEINT)) AS sx,
             SUM(CAST(b.v AS HUGEINT)) AS sy,
             SUM(CAST(a.v AS HUGEINT) * a.v) AS sxx,
             SUM(CAST(b.v AS HUGEINT) * b.v) AS syy,
             SUM(CAST(a.v AS HUGEINT) * b.v) AS sxy
      FROM hb a JOIN hb b
        ON a.hour = b.hour AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_hours,
           CAST(n_hours * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n_hours * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n_hours * syy - sy * sy AS DOUBLE))) AS corr
    FROM p
    WHERE n_hours * sxx - sx * sx > 0 AND n_hours * syy - sy * sy > 0
    ORDER BY type_a, type_b
    """,
    tags=("events", "timeseries", "stats"),
)
def e16_type_correlation_matrix(t):
    """Pairwise Pearson correlation between event types' hourly value
    totals — the cross-series co-movement matrix (do error spikes track
    purchase volume?) a monitoring stack computes over its rollups.
    Hours are aligned by inner join (pairwise-complete observations);
    all five moment sums fold integer milli-units in 128-bit-class
    types (hourly totals squared overflow int64 fast), so the one
    final (n·Σxy − ΣxΣy) / (√(n·Σx²−Σx²̄)·√(n·Σy²−Σȳ²)) expression is
    built from exact integers and is bit-identical cross-engine
    (+, −, ×, ÷, √ are all IEEE correctly-rounded). Degenerate
    (zero-variance) pairs are excluded by the same integer test e11
    uses.

    Scale shape: the hourly rollup is map-side combined; the pair join
    multiplies each hour row by at most #types (bounded fan-out, the
    d48 pattern); the moment aggregate collapses to types² rows."""
    hb = tracked_persist(
        t.events.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("hour")
        ).agg(
            F.sum(F.floor(F.col("value") * 1000.0).cast("long")).alias("v")
        )
    )
    a = hb.select(
        F.col("event_type").alias("type_a"),
        "hour",
        F.col("v").cast("decimal(38,0)").alias("x"),
    )
    b = hb.select(
        F.col("event_type").alias("type_b"),
        "hour",
        F.col("v").cast("decimal(38,0)").alias("y"),
    )
    p = (
        a.join(b, "hour")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    n = F.col("n_hours").cast("decimal(38,0)")
    dx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = n * F.col("syy") - F.col("sy") * F.col("sy")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    return (
        p.filter((dx > 0) & (dy > 0))
        .select(
            "type_a",
            "type_b",
            "n_hours",
            (
                num.cast("double")
                / (F.sqrt(dx.cast("double")) * F.sqrt(dy.cast("double")))
            ).alias("corr"),
        )
        .orderBy("type_a", "type_b")
    )


# ------------------------------------------- end-to-end curation DAG

_D56_SEED = "d56epoch1|"


@query(
    "d56_end_to_end_curation",
    f"""
    WITH {ND.shingles_sql()},
    {CUR.overlap_sql()},
    clean AS (
      SELECT doc_id, lang, source, text FROM documents
      WHERE {CUR.ORACLE_BUCKET} < 80
        AND doc_id NOT IN (SELECT train_doc FROM leaky)
    ),
    red AS (
      SELECT doc_id, lang, source, {CUR.PII_REDACTED_SQL} AS ctext FROM clean
    ),
    {CUR.chunks_sql("red", "ctext", ())},
    kpd AS (
      SELECT doc_id, SUM(n_words) AS kept_words
      FROM cranked WHERE rn = 1 GROUP BY doc_id
    ),
    surv AS (
      SELECT red.doc_id, red.source, kpd.kept_words
      FROM red JOIN kpd USING (doc_id)
    ),
    srcs AS (SELECT source, SUM(kept_words) AS orig_tokens FROM surv GROUP BY source),
    {CUR.mixture_keep_sql("surv", "srcs")},
    {CUR.shard_deal_sql(
        "kept",
        _D56_SEED,
        "CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources",
        "CAST(SUM(kept_words) AS BIGINT) AS kept_tokens",
    )}
    SELECT * FROM deal ORDER BY shard
    """,
    tags=("llm", "curation", "pipeline"),
)
def d56_end_to_end_curation(t):
    """The FULL training-data curation DAG as one gated query — the
    composition the d-family proves piecewise: train/test split (d18's
    content-addressed buckets) → decontamination (d55's informative-
    shingle rule removes train docs sharing ≥2 rare shingles with any
    held-out doc) → PII redaction (d39's inject+scrub, so the cleaned
    text carries <EMAIL>/<PHONE> markers) → chunk-granular exact-
    substring dedup (d47's keep-first over 8-word chunks of the
    REDACTED text; per-doc surviving token budget; the injected
    redaction markers become cross-doc boilerplate chunks that dedup
    correctly strips after the first doc) → domain-mixture rebalance
    (d42's 1/65536-resolution hash threshold, token budget = chunk-
    surviving words) → epoch-seeded shuffle (d45's md5 permutation
    into corpus-derived shards). Output pins the FINAL corpus
    identity: per shard, doc/source counts, token mass, first doc in
    shuffle order, and a rank-weighted checksum — one row disagreeing
    anywhere in the five upstream stages flips the hash.

    Scale shape inherits each stage's audited form: the shingle
    overlap join is inverted-index (df ≤ 50) corpus-linear; leaky is
    an unhinted anti-join (AQE broadcasts iff small — the set is
    data-dependent); redaction is row-local; chunk keep-first
    is the partial-aggregatable min(struct) (no window over hot
    chunks); mixture thresholds derive from a histogram-scale
    aggregate; the only windows run inside bounded corpus-derived
    shards. The one driver sync — the final doc count that sizes the
    shard count — reads a persisted intermediate the shuffle stage
    reuses (the d32/d45 metadata-count pattern)."""
    docs = t.documents
    # decontaminated train split (d55 machinery). r14 (guide §2.4):
    # every consumer of the cached shingle set keys by `shingle`
    # (informative's groupBy, the shf join, the test×train overlap
    # join), so cache it hash-partitioned by shingle — repartition +
    # dropDuplicates dedups with no extra exchange (hash(shingle)
    # already clusters equal (doc_id, shingle) rows) and the three
    # downstream shingle-keyed exchanges all disappear. The old
    # `.distinct()` cached by (doc_id, shingle), a layout nothing
    # downstream could reuse.
    sh = tracked_persist(
        DD.exploded_shingles(fanout_small(docs), "doc_id", "text", 3)
        .repartition(F.col("shingle"))
        .dropDuplicates(["doc_id", "shingle"])
    )
    # leaky feeds clean -> red, which three later branches read (the
    # chunks, the survivors and, through them, the thresholds and the
    # deal): persisted, the test x train overlap aggregate runs once
    # instead of once per branch.
    leaky = tracked_persist(CUR.leaky(sh))
    # No broadcast hint on the data-dependent leaky set (see d55): AQE
    # broadcasts it when small, shuffle-anti-join otherwise.
    clean = docs.filter(F.expr(CUR.SPARK_BUCKET) < 80).join(
        leaky,
        docs.doc_id == leaky.train_doc,
        "left_anti",
    )
    # PII redaction (d39) on the surviving train docs
    red = clean.select(
        "doc_id", "source", CUR.redacted(CUR.pii_injected()).alias("ctext")
    )
    # chunk-granular keep-first dedup (d47) on the redacted text
    kpd = (
        CUR.first_chunks(CUR.chunks(red, "ctext", ()))
        .groupBy(F.col("first.doc_id").alias("doc_id"))
        .agg(F.sum("first.n_words").alias("kept_words"))
    )
    surv = red.select("doc_id", "source").join(kpd, "doc_id")
    # domain-mixture rebalance (d42) on surviving token mass, then the
    # epoch-seeded deal (d45) of the persisted survivors
    srcs = surv.groupBy("source").agg(F.sum("kept_words").alias("orig_tokens"))
    fin = tracked_persist(CUR.mixture_keep(surv, srcs))
    return CUR.shard_deal(
        fin,
        _D56_SEED,
        F.countDistinct("source").alias("n_sources"),
        F.sum("kept_words").cast("long").alias("kept_tokens"),
    )


# --------------------------------------------- product quantization


@query(
    "d57_pq_codebook",
    f"""
    WITH {PQ.codes_sql()}
    SELECT m AS subspace,
           CAST(cid AS BIGINT) AS code,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(vec_id) AS BIGINT) AS member_id_sum
    FROM codes GROUP BY m, cid ORDER BY subspace, code
    """,
    tags=("llm", "similarity", "quantization"),
)
def d57_pq_codebook(t):
    """Product-quantization codebook build + corpus encoding — the
    missing piece between the IVF coarse quantizer (d14/d37) and a
    production ANN index (IVF-PQ): each 64-d embedding splits into
    {4} contiguous 16-d subvectors, each subspace learns a {16}-entry
    codebook with the SAME integer-exact spherical k-means as the IVF
    path (operators/similarity.kmeans_centroids, 2 iterations,
    lowest-id seeds), and every vector is encoded as its nearest code
    per subspace — 4x4-bit codes replacing 256 bytes of floats, the
    16x-compression memory layout ANN serving needs at 10^9+ vectors.
    Output pins the full encoding: per (subspace, code) population and
    the member-id sum, so one vector assigned to a different code on
    either engine flips the hash.

    Scale shape: ALL subspaces train in ONE subspace-tagged k-means —
    the corpus explodes once into (subspace, vec_id, subvector) rows,
    the 4x16-row codebook broadcasts tagged by subspace, assignment is
    one equi-join-on-subspace + per-(subspace, vector) rank, and the
    centroid update is one (subspace, code, pos)-keyed integer-sum
    aggregate. Job count is therefore independent of M (2 iterations +
    final assign, same as ONE k-means), instead of M sequential
    codebook builds; per-stage work is the audited k-means shape
    (broadcast codebook x linear scan, integer-quantized sums — no
    floating mean drift), nothing all-pairs. The code count is FIXED
    (it is the index format, 4 bits), unlike the IVF cell count which
    scales ~sqrt(N) — exactly how FAISS separates nlist from the PQ
    codebook. The oracle unrolls the mathematically identical chain
    per subspace via the parameterized kmeans_chain (same seeds,
    same quantized updates, same tie-breaks — the subspace tag only
    fuses the jobs)."""
    _, codes, _ = PQ.pq_train(t.embeddings)
    return (
        codes.groupBy(
            F.col("m").alias("subspace"), F.col("cid").cast("long").alias("code")
        )
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("vec_id").alias("member_id_sum"),
        )
        .orderBy("subspace", "code")
    )


@query(
    "d58_ivfpq_adc_topk",
    f"""
    WITH {SIM.kmeans_chain(2)},
    {PQ.pq_lut_sql()},
    {PQ.adc_sql()}
    SELECT query_id, neighbor_id,
           CAST(iscore AS DOUBLE) / {PQ.ADC_SCALE} AS adc_score
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY iscore DESC, neighbor_id) AS rn
          FROM adc)
    WHERE rn <= 3
    ORDER BY query_id, neighbor_id
    """,
    tags=("llm", "similarity", "quantization"),
)
def d58_ivfpq_adc_topk(t):
    """IVF-PQ ANN search with asymmetric distance computation (ADC) —
    the composed FAISS-style query path the index pieces build toward:
    d14's coarse quantizer restricts each query to its IVF cell, d57's
    PQ codes stand in for the corpus vectors, and each query scores
    candidates via a precomputed LOOKUP TABLE — per (query, subspace,
    code): the cosine between the query's exact subvector and that
    code's centroid, floor-quantized to an integer at 2^30 resolution.
    A candidate's ADC score is then FOUR integer lookups summed —
    order-free exact arithmetic, no per-candidate float math at all —
    and per-query top-3 ranks on (score desc, id). This is the memory
    layout that serves billion-vector ANN: the scan touches 4-bit
    codes + a 640-entry LUT instead of 256-byte float vectors.

    Scale shape: the LUT is queries x M x K rows (driver-thin) built
    from one broadcast join and BROADCAST back; candidate generation
    is the IVF cell equi-join (per-query cost ~sqrt(N)); scoring is
    two broadcast hash joins + a (query, neighbor)-keyed integer-sum
    aggregate with map-side partials. Nothing all-pairs, nothing
    floating-point per candidate. The oracle composes the identical
    coarse chain, per-subspace PQ chains, LUT, and integer ADC."""
    adc = PQ.ivfpq_adc(t.embeddings)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("iscore"), F.asc("neighbor_id")
    )
    return (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "query_id",
            "neighbor_id",
            (F.col("iscore").cast("double") / F.lit(float(PQ.ADC_SCALE))).alias(
                "adc_score"
            ),
        )
        .orderBy("query_id", "neighbor_id")
    )


@query(
    "d59_curriculum_difficulty_bands",
    """
    WITH w AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS wd FROM documents
    ),
    wc AS (SELECT wd, CAST(COUNT(*) AS BIGINT) AS cnt FROM w GROUP BY wd),
    cls AS (SELECT wd, CAST(length(bin(cnt)) - 1 AS BIGINT) AS freq_class FROM wc),
    per_doc AS (
      SELECT w.doc_id, w.lang,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(c.freq_class) AS BIGINT) AS sum_class
      FROM w JOIN cls c ON w.wd = c.wd
      GROUP BY w.doc_id, w.lang
    )
    SELECT lang,
           CAST(sum_class // n_words AS INT) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST(MIN(doc_id) AS BIGINT) AS sample_doc
    FROM per_doc
    GROUP BY lang, band
    ORDER BY lang, band
    """,
    tags=("llm", "curation", "curriculum"),
)
def d59_curriculum_difficulty_bands(t):
    """Curriculum-learning difficulty binning: score every document by
    the mean frequency class of its words (d49's exact integer
    log2-of-corpus-count buckets — docs of common words score HIGH /
    easy, rare-word docs score LOW / hard) and band the corpus by the
    integer mean ``sum_class div n_words``. The training scheduler
    then feeds bands in order (easy → hard) or reweights them — the
    standard data-curriculum primitive, computed as a pure corpus
    statistic with no model in the loop.

    Everything is integer-exact: frequency classes are
    length(bin(count))−1 (never float log2), the band is integer
    division — both engines agree bit-for-bit at any scale, unlike a
    float mean whose banding could flip on ulp drift. Banding by
    ABSOLUTE score (not per-lang quantiles) keeps the plan
    window-free: scale shape is one word-count shuffle, one
    word→class equi-join back to the exploded corpus (map-side
    partials into per-doc sums), and a (lang, band)-keyed rollup —
    all corpus-linear; the ≤ ~40-band output is driver-thin."""
    w = t.documents.select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("wd")
    )
    wc = w.groupBy("wd").agg(F.count(F.lit(1)).alias("cnt"))
    cls = wc.select(
        "wd", (F.length(F.expr("bin(cnt)")) - 1).cast("long").alias("freq_class")
    )
    per_doc = (
        w.join(cls, "wd")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("freq_class").alias("sum_class"),
        )
    )
    return (
        per_doc.groupBy(
            "lang",
            F.expr("sum_class div n_words").cast("int").alias("band"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("total_words"),
            F.min("doc_id").alias("sample_doc"),
        )
        .orderBy("lang", "band")
    )


@query(
    "e17_anomaly_episodes",
    """
    WITH hc AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_hours,
             SUM(CAST(cnt AS HUGEINT)) AS tot,
             SUM(CAST(cnt AS HUGEINT) * cnt) AS sumsq
      FROM hc GROUP BY event_type
    ),
    anom AS (
      SELECT hc.event_type, hc.hour, hc.cnt,
             CAST(epoch(hc.hour) // 3600 AS BIGINT) AS hidx
      FROM hc JOIN st ON hc.event_type = st.event_type
      WHERE hc.cnt * st.n_hours - st.tot > 0
        AND (hc.cnt * st.n_hours - st.tot) * (hc.cnt * st.n_hours - st.tot)
            > 4 * (st.n_hours * st.sumsq - st.tot * st.tot)
    ),
    isl AS (
      SELECT event_type, hour, cnt,
             hidx - ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hidx)
               AS grp
      FROM anom
    )
    SELECT event_type,
           MIN(hour) AS episode_start,
           MAX(hour) AS episode_end,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(MAX(cnt) AS BIGINT) AS peak_cnt,
           CAST(SUM(cnt) AS BIGINT) AS total_cnt
    FROM isl
    GROUP BY event_type, grp
    ORDER BY event_type, episode_start
    """,
    tags=("events", "quality", "islands"),
)
def e17_anomaly_episodes(t):
    """Alert EPISODES from e11's spike detector: consecutive anomalous
    hours per event type merge into one incident row (start, end,
    duration, peak and total volume) via the gaps-and-islands rewrite —
    hour_index − row_number is constant within a consecutive run, so
    one window + one groupBy produce the episodes with no self-join
    and no iteration (m09's segmentation idiom on the time axis). The
    operational report a pager wants: 7 anomalous hours across 2
    bursts = 2 rows, not 7.

    Scale shape: the anomaly filter (e11's exact-integer 2σ rule with
    the per-type stats broadcast back) reduces the hourly table to the
    anomalous sliver BEFORE the window, and the islands window
    partitions by event_type over that sliver — bounded by hours of
    history per type (calendar-bounded, ~10⁴ rows/type/year), not by
    event volume. Everything upstream is the audited e11 shape."""
    hc = tracked_persist(
        t.events.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
        ).agg(F.count(F.lit(1)).alias("cnt"))
    )
    cw = F.col("cnt").cast("decimal(38,0)")
    st = hc.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(cw).alias("tot"),
        F.sum(cw * cw).alias("sumsq"),
    )
    nw = F.col("n_hours").cast("decimal(38,0)")
    dev = cw * nw - F.col("tot")
    nvar = nw * F.col("sumsq") - F.col("tot") * F.col("tot")
    anom = (
        hc.join(F.broadcast(st), "event_type")
        .filter((dev > 0) & (dev * dev > 4 * nvar))
        .select(
            "event_type",
            "hour",
            "cnt",
            # Exact integer division (no double roundtrip).  Both Spark's
            # `div` and DuckDB's `//` truncate toward zero (verified:
            # -3601 // 3600 = -1 in DuckDB), so the engines agree for
            # every epoch, including pre-1970 negatives.
            F.expr("unix_timestamp(hour) div 3600").alias("hidx"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("hidx")
    isl = anom.withColumn("grp", F.col("hidx") - F.row_number().over(w))
    return (
        isl.groupBy("event_type", "grp")
        .agg(
            F.min("hour").alias("episode_start"),
            F.max("hour").alias("episode_end"),
            F.count(F.lit(1)).alias("n_hours"),
            F.max("cnt").alias("peak_cnt"),
            F.sum("cnt").alias("total_cnt"),
        )
        .drop("grp")
        .orderBy("event_type", "episode_start")
    )


_SEMDEDUP_TAU = 0.4  # this synthetic corpus has no >0.52 cosine pairs


@query(
    "d60_semdedup",
    f"""
    WITH {SIM.kmeans_chain(2)},
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, ea.embedding AS qv,
             eb.embedding AS cv
      FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
    ),
    {SIM.cosine_sql("pc", "pairs", ("id_a", "id_b"))},
    dropped AS (
      SELECT DISTINCT id_b AS vec_id FROM pc WHERE score >= {_SEMDEDUP_TAU}
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN dr.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN dr.vec_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(MIN(CASE WHEN dr.vec_id IS NOT NULL THEN d.doc_id END)
                AS BIGINT) AS sample_dropped
    FROM documents d
    JOIN embeddings e ON e.vec_id = d.doc_id
    LEFT JOIN dropped dr ON dr.vec_id = d.doc_id
    GROUP BY d.lang ORDER BY d.lang
    """,
    tags=("llm", "dedup", "similarity"),
)
def d60_semdedup(t):
    """SemDeDup — semantic deduplication via embedding clusters
    ("SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication", Abbas et al. 2023): cluster the corpus with the
    audited IVF k-means (~sqrt(N) cells), compare embeddings PAIRWISE
    ONLY WITHIN each cluster, and greedily drop the higher-id member
    of every pair with cosine ≥ τ. Catches paraphrase/translation-
    style duplicates that share no n-grams (d07/d12 are blind to
    them) at a cost exact all-pairs could never pay: the quadratic
    term is Σ|cell|² ≈ N·sqrt(N) instead of N², and each cell's
    comparisons are an independent equi-join partition — the paper's
    exact trick, expressed as joins. Per-lang keep/drop accounting,
    LEFT-JOIN-complete so every lang reports even with zero drops.

    Engine-exactness: pair cosines recompute the same IEEE double
    fold on both engines (the d09/d14 convention); the keep rule
    (lowest id survives any qualifying pair) is a deterministic
    integer comparison, so the dropped set — not just its size — is
    pinned via sample_dropped."""
    emb = t.embeddings
    cents = SIM.materialized_centroids(emb)
    asg = SIM.ivf_assign(emb, cents).select("vec_id", "cid")
    a = asg.select(F.col("vec_id").alias("id_a"), "cid")
    b = asg.select(F.col("vec_id").alias("id_b"), F.col("cid").alias("cid_b"))
    # norms computed once per VECTOR before the pair join fans each
    # vector into its cell's pairs (the ivf_assign_n hoist); same
    # dot/(sqrt(aa)·sqrt(bb)) op order → bit-equal with the oracle
    ea = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        SIM.norm(F.col("embedding")).alias("na"),
    )
    eb = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        SIM.norm(F.col("embedding")).alias("nb"),
    )
    pairs = (
        a.join(b, (a.cid == b.cid_b) & (a.id_a < b.id_b))
        .select("id_a", "id_b")
        .join(ea, "id_a")
        .join(eb, "id_b")
    )
    dropped = (
        pairs.filter(
            SIM.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            >= _SEMDEDUP_TAU
        )
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    docs = t.documents.select("doc_id", "lang").join(
        emb.select(F.col("vec_id").alias("doc_id")), "doc_id"
    )
    # No broadcast hint: SemDeDup's dropped set is corpus-proportional by
    # design (the paper prunes up to ~50% of docs) — forcing a broadcast
    # here is an OOM at scale.  AQE picks broadcast only when it fits.
    j = docs.join(
        dropped.withColumnRenamed("vec_id", "dr_id"),
        docs.doc_id == F.col("dr_id"),
        "left",
    )
    hit = F.col("dr_id").isNotNull()
    return (
        j.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(hit.cast("long")).alias("n_dropped"),
            F.sum((~hit).cast("long")).alias("n_kept"),
            F.min(F.when(hit, F.col("doc_id"))).alias("sample_dropped"),
        )
        .orderBy("lang")
    )


@query(
    "d61_decontamination_span_masking",
    f"""
    WITH {ND.shingles_sql()},
    {ND.informative_sql()},
    test_sh AS (
      SELECT DISTINCT s.shingle
      FROM shd s JOIN informative USING (shingle)
      WHERE ({CUR.ORACLE_BUCKET.replace('doc_id', 's.doc_id')}) >= 90
    ),
    hits AS (
      SELECT s.doc_id, s.i
      FROM sh s JOIN test_sh USING (shingle)
      WHERE ({CUR.ORACLE_BUCKET.replace('doc_id', 's.doc_id')}) < 80
    ),
    pos AS (
      SELECT DISTINCT doc_id, i + off AS p
      FROM hits, unnest([0, 1, 2]) AS t(off)
    ),
    isl AS (
      SELECT doc_id, p,
             p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS grp
      FROM pos
    ),
    spans AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS span_len
      FROM isl GROUP BY doc_id, grp
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(SUM(span_len) AS BIGINT) AS masked_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_spans
      FROM spans GROUP BY doc_id
    ),
    train AS (
      SELECT doc_id, lang,
             CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents WHERE ({CUR.ORACLE_BUCKET}) < 80
    )
    SELECT tr.lang,
           CAST(COUNT(*) AS BIGINT) AS n_train_docs,
           CAST(SUM(CASE WHEN pd.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_touched,
           CAST(SUM(COALESCE(pd.n_spans, 0)) AS BIGINT) AS n_spans,
           CAST(SUM(COALESCE(pd.masked_tokens, 0)) AS BIGINT) AS masked_tokens,
           CAST(SUM(tr.n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(COALESCE(pd.masked_tokens, 0)) AS DOUBLE)
             / CAST(SUM(tr.n_tokens) AS DOUBLE) AS frac_masked
    FROM train tr LEFT JOIN per_doc pd ON pd.doc_id = tr.doc_id
    GROUP BY tr.lang ORDER BY tr.lang
    """,
    tags=("llm", "eval", "dedup"),
)
def d61_decontamination_span_masking(t):
    """SURGICAL span-level decontamination — the loss-masking
    alternative to d55's whole-doc removal: instead of dropping every
    train doc that overlaps the held-out split, mask ONLY the
    contaminated token spans. Every train-doc occurrence of an
    informative 3-shingle that also appears in any test doc marks its
    3 word positions; overlapping/adjacent positions merge into spans
    via gaps-and-islands (position − row_number constant within a
    run); per-lang accounting reports docs touched, span count,
    masked vs total tokens. The trainer zeroes the loss on masked
    spans and keeps the rest of the doc — recovering the training
    signal d55 throws away with the bathwater (compare: d55 removes
    whole docs; here the same leak costs only its actual tokens).

    Scale shape: shingle building is the audited positional-lead
    form; the test-shingle set is the df ≤ 50 informative sliver
    (corpus-linear inverted index, same as d25/d55); the hits join
    touches only colliding positions; the islands window partitions
    per doc over HIT positions only (bounded by doc length). The
    touched-doc rollup join carries no forced broadcast hint — the
    per_doc set is data-dependent (heavy contamination makes it
    corpus-proportional), so AQE decides; the per-lang rollup is
    map-side-combined."""
    b = F.expr(CUR.SPARK_BUCKET)
    w = t.documents.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("i", "wd")
    )
    win = Window.partitionBy("doc_id").orderBy("i")
    sh3 = tracked_persist(
        w.select(
            "doc_id",
            "i",
            F.concat_ws(
                " ", "wd", F.lead("wd", 1).over(win), F.lead("wd", 2).over(win)
            ).alias("shingle"),
            F.lead("wd", 2).over(win).alias("_w2"),
        )
        .filter(F.col("_w2").isNotNull())
        .drop("_w2")
    )
    shd = sh3.select("doc_id", "shingle").distinct()
    informative = (
        shd.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") <= 50) & (F.col("df") > 1))
        .select("shingle")
    )
    test_sh = (
        shd.join(informative, "shingle")
        .filter(b >= 90)
        .select("shingle")
        .distinct()
    )
    hits = sh3.filter(b < 80).join(test_sh, "shingle").select("doc_id", "i")
    pos = (
        hits.select(
            "doc_id", F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("off"), "i"
        )
        .select("doc_id", (F.col("i") + F.col("off")).alias("p"))
        .distinct()
    )
    wp = Window.partitionBy("doc_id").orderBy("p")
    isl = pos.withColumn("grp", F.col("p") - F.row_number().over(wp))
    spans = isl.groupBy("doc_id", "grp").agg(F.count(F.lit(1)).alias("span_len"))
    per_doc = spans.groupBy("doc_id").agg(
        F.sum("span_len").alias("masked_tokens"),
        F.count(F.lit(1)).alias("n_spans"),
    )
    train = t.documents.filter(b < 80).select(
        "doc_id", "lang", T.token_count("text").cast("long").alias("n_tokens")
    )
    # No broadcast hint on the data-dependent touched-doc set (a heavily
    # contaminated corpus makes per_doc corpus-proportional); AQE decides.
    j = train.join(
        per_doc.withColumnRenamed("doc_id", "pd_id"),
        train.doc_id == F.col("pd_id"),
        "left",
    )
    touched = F.col("pd_id").isNotNull()
    zero = F.lit(0).cast("long")
    return (
        j.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_train_docs"),
            F.sum(touched.cast("long")).alias("n_docs_touched"),
            F.sum(F.coalesce("n_spans", zero)).alias("n_spans"),
            F.sum(F.coalesce("masked_tokens", zero)).alias("masked_tokens"),
            F.sum("n_tokens").alias("total_tokens"),
            (
                F.sum(F.coalesce("masked_tokens", zero)).cast("double")
                / F.sum("n_tokens").cast("double")
            ).alias("frac_masked"),
        )
        .orderBy("lang")
    )


@query(
    "e18_funnel_latency_percentiles",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, v.t_view, MIN(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
      WHERE e.event_type = 'click' GROUP BY e.user_id, v.t_view
    ),
    p AS (
      SELECT e.user_id, c.t_click, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
      WHERE e.event_type = 'purchase' GROUP BY e.user_id, c.t_click
    ),
    lat AS (
      SELECT 'view_to_click' AS stage, user_id,
             CAST(epoch_us(t_click) - epoch_us(t_view) AS BIGINT) AS lat_us
      FROM c
      UNION ALL
      SELECT 'click_to_purchase', user_id,
             CAST(epoch_us(t_purchase) - epoch_us(t_click) AS BIGINT)
      FROM p
    ),
    ranked AS (
      SELECT stage, lat_us,
             row_number() OVER (PARTITION BY stage ORDER BY lat_us, user_id)
               AS rn,
             COUNT(*) OVER (PARTITION BY stage) AS n
      FROM lat
    )
    SELECT stage,
           CAST(MAX(n) AS BIGINT) AS n_users,
           MAX(CASE WHEN rn = (n * 25 + 99) // 100 THEN lat_us END) AS p25_us,
           MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN lat_us END) AS p50_us,
           MAX(CASE WHEN rn = (n * 90 + 99) // 100 THEN lat_us END) AS p90_us,
           CAST(MAX(CASE WHEN rn = n THEN lat_us END) AS BIGINT) AS max_us
    FROM ranked
    GROUP BY stage
    ORDER BY stage
    """,
    tags=("events", "funnel", "stats"),
)
def e18_funnel_latency_percentiles(t):
    """Funnel CONVERSION-LATENCY distribution — the product-analytics
    question e07's stage counts set up but never answer: for users who
    progressed, how long did each transition take? Latencies are exact
    integer microseconds (epoch_us differences of the stage-N minimum
    timestamps), and the p25/p50/p90/max are d41's integer-rank
    PERCENTILE_DISC — rank ceil(p·n) via ``(n·p + 99) div 100``, no
    float interpolation to drift cross-engine, user_id tiebreak for a
    total order. Composes the two audited shapes: e07's monotonically-
    shrinking stage joins feed d41's bounded rank windows (partitioned
    by the 2-value stage key over converting users only)."""
    e = t.events
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id", "t_view")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c.select("user_id", "t_click"), "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id", "t_click")
        .agg(F.min("ts").alias("t_purchase"))
    )
    lat = c.select(
        F.lit("view_to_click").alias("stage"),
        "user_id",
        (F.unix_micros("t_click") - F.unix_micros("t_view")).alias("lat_us"),
    ).unionByName(
        p.select(
            F.lit("click_to_purchase").alias("stage"),
            "user_id",
            (F.unix_micros("t_purchase") - F.unix_micros("t_click")).alias(
                "lat_us"
            ),
        )
    )
    w = Window.partitionBy("stage").orderBy("lat_us", "user_id")
    ranked = lat.select(
        "stage",
        "lat_us",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("stage")).alias("n"),
    )

    def at(pct):
        return F.max(
            F.when(
                F.col("rn") == F.expr(f"(n * {pct} + 99) div 100"),
                F.col("lat_us"),
            )
        )

    return (
        ranked.groupBy("stage")
        .agg(
            F.max("n").alias("n_users"),
            at(25).alias("p25_us"),
            at(50).alias("p50_us"),
            at(90).alias("p90_us"),
            F.max(F.when(F.col("rn") == F.col("n"), F.col("lat_us"))).alias(
                "max_us"
            ),
        )
        .orderBy("stage")
    )


# Synthetic stand-in blocklist: real pipelines load thousands of terms
# from a policy file; these corpus-present words exercise every code
# path (multi-hit docs, zero-hit docs, per-term attribution).
_BLOCKLIST = ("merge", "window", "scan")
_BLOCK_MAX_HITS = 2  # drop a doc at >= this many blocklisted TOKENS

_BL_SQL = ", ".join(f"'{w}'" for w in _BLOCKLIST)


@query(
    "d62_blocklist_safety_filter",
    f"""
    WITH w AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS wd
      FROM documents
    ),
    hits AS (
      SELECT doc_id, lang,
             CAST(COUNT(*) FILTER (wd IN ({_BL_SQL})) AS BIGINT) AS n_hits,
             CAST(COUNT(*) AS BIGINT) AS n_words
      FROM w GROUP BY doc_id, lang
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_hits >= {_BLOCK_MAX_HITS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN n_hits < {_BLOCK_MAX_HITS} THEN n_words
                    ELSE 0 END) AS BIGINT) AS kept_words,
           CAST(SUM(n_hits) AS BIGINT) AS total_hits,
           CAST(MIN(CASE WHEN n_hits >= {_BLOCK_MAX_HITS} THEN doc_id END)
                AS BIGINT) AS sample_dropped
    FROM hits GROUP BY lang ORDER BY lang
    """,
    tags=("llm", "safety", "quality"),
)
def d62_blocklist_safety_filter(t):
    """Term-blocklist safety filtering — the policy-compliance stage
    (NSFW/spam/PII-keyword exclusion) every production corpus passes
    before training: tokens are matched against a blocklist, documents
    reaching the hit threshold are dropped, and per-lang accounting
    reports drop counts, surviving token mass, total hit volume, and a
    sample dropped id (pinning the DECISION, not just its size). The
    blocklist here is a 3-term synthetic stand-in chosen to exercise
    multi-hit, zero-hit, and threshold-boundary docs; production swaps
    in the policy file and, at 10⁴+ terms, replaces the IN-list with a
    broadcast join against the term table — same plan shape as s14's
    policy gate.

    Scale shape: one explode + a per-doc map-side-combining count
    (the filter predicate is a codegen'd IN over a literal set — no
    join, no Python), then a ≤ langs-key rollup. Corpus-linear,
    shuffle keyed by doc id only."""
    bl = F.array(*[F.lit(w) for w in _BLOCKLIST])
    w = t.documents.select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("wd")
    )
    hits = w.groupBy("doc_id", "lang").agg(
        F.sum(F.array_contains(bl, F.col("wd")).cast("long")).alias("n_hits"),
        F.count(F.lit(1)).alias("n_words"),
    )
    drop = F.col("n_hits") >= _BLOCK_MAX_HITS
    return (
        hits.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(drop.cast("long")).alias("n_dropped"),
            F.sum(F.when(~drop, F.col("n_words")).otherwise(0)).alias(
                "kept_words"
            ),
            F.sum("n_hits").alias("total_hits"),
            F.min(F.when(drop, F.col("doc_id"))).alias("sample_dropped"),
        )
        .orderBy("lang")
    )


@query(
    "e19_top_user_paths",
    """
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             lead(event_type, 1) OVER win AS t2,
             lead(event_type, 2) OVER win AS t3
      FROM events
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    paths AS (
      SELECT event_type || ' > ' || t2 || ' > ' || t3 AS path
      FROM o WHERE t3 IS NOT NULL
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n
    FROM paths GROUP BY path
    ORDER BY n DESC, path LIMIT 15
    """,
    tags=("events", "sequence", "topk"),
)
def e19_top_user_paths(t):
    """Top-k 3-step behavioral paths — sequence mining one order
    deeper than e12's transition matrix: every consecutive
    (event, next, next-next) triple per user (ts + event_id total
    order), counted corpus-wide, top 15 deterministically (count
    desc, path asc). The product-analytics view that distinguishes
    'view > click > purchase' journeys from 'view > view > view'
    loops, which a first-order matrix provably cannot (it forgets
    where the chain came from).

    Scale shape: ONE window pass per user (the e03/e12 sessionization
    shuffle, per-user partitions bounded by activity), then a
    groupBy whose key domain is ≤ types³ — partial aggregation
    collapses each partition to that bounded key set before the
    shuffle, and top-k plans as TakeOrderedAndProject, never a global
    sort."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = t.events.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    return (
        o.select(
            F.concat_ws(" > ", "event_type", "t2", "t3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(15)
    )


@query(
    "d63_split_drift_ks",
    f"""
    WITH s AS (
      SELECT lang, n_chars, doc_id,
             CASE WHEN ({CUR.ORACLE_BUCKET}) < 80 THEN 1 ELSE 0 END AS is_train,
             CASE WHEN ({CUR.ORACLE_BUCKET}) >= 90 THEN 1 ELSE 0 END AS is_test
      FROM documents
      WHERE ({CUR.ORACLE_BUCKET}) < 80 OR ({CUR.ORACLE_BUCKET}) >= 90
    ),
    tot AS (
      SELECT lang,
             CAST(SUM(is_train) AS BIGINT) AS n_train,
             CAST(SUM(is_test) AS BIGINT) AS n_test
      FROM s GROUP BY lang
    ),
    run AS (
      SELECT s.lang,
             SUM(s.is_train) OVER (PARTITION BY s.lang
                                   ORDER BY s.n_chars, s.doc_id
                                   ROWS UNBOUNDED PRECEDING) AS a,
             SUM(s.is_test) OVER (PARTITION BY s.lang
                                  ORDER BY s.n_chars, s.doc_id
                                  ROWS UNBOUNDED PRECEDING) AS b
      FROM s
    ),
    dev AS (
      SELECT run.lang,
             MAX(abs(run.a * tot.n_test - run.b * tot.n_train)) AS max_cross
      FROM run JOIN tot ON run.lang = tot.lang
      GROUP BY run.lang
    )
    SELECT tot.lang, tot.n_train, tot.n_test,
           CAST(dev.max_cross AS BIGINT) AS ks_cross,
           CAST(dev.max_cross AS DOUBLE)
             / (CAST(tot.n_train AS DOUBLE) * CAST(tot.n_test AS DOUBLE))
             AS ks_stat
    FROM tot JOIN dev ON dev.lang = tot.lang
    ORDER BY tot.lang
    """,
    tags=("llm", "eval", "stats"),
)
def d63_split_drift_ks(t):
    """Split-drift health check: the exact two-sample
    Kolmogorov–Smirnov statistic between the train and test splits'
    length distributions, per language — a drifted split (test docs
    systematically longer/shorter than train) invalidates eval
    comparisons before a single token is trained on. The KS supremum
    is computed in EXACT integer arithmetic: at each length-ordered
    step, |a·n_test − b·n_train| (a, b = running split counts) is the
    cross-multiplied deviation, its max divides ONCE by n_train·n_test
    — no per-row float CDFs whose accumulation could drift
    cross-engine. Same content-addressed split as d18/d55, so the
    statistic is reproducible on any engine, any re-shard.

    Scale shape: one window pass ordered by (n_chars, doc_id) within
    each language — d41's caveat applies verbatim (percentile/CDF
    extraction genuinely needs a per-language global order; the
    honest 100 TB form is sort-within-language); everything after the
    window is a map-side-combining max per ≤ #langs keys."""
    b = F.expr(CUR.SPARK_BUCKET)
    s = t.documents.filter((b < 80) | (b >= 90)).select(
        "lang",
        "n_chars",
        "doc_id",
        (b < 80).cast("long").alias("is_train"),
        (b >= 90).cast("long").alias("is_test"),
    )
    tot = s.groupBy("lang").agg(
        F.sum("is_train").alias("n_train"),
        F.sum("is_test").alias("n_test"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("n_chars", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = s.select(
        "lang",
        F.sum("is_train").over(w).alias("a"),
        F.sum("is_test").over(w).alias("b"),
    )
    dev = (
        run.join(F.broadcast(tot), "lang")
        .groupBy("lang")
        .agg(
            F.max(
                F.abs(
                    F.col("a") * F.col("n_test")
                    - F.col("b") * F.col("n_train")
                )
            ).alias("max_cross")
        )
    )
    return (
        tot.join(dev, "lang")
        .select(
            "lang",
            "n_train",
            "n_test",
            F.col("max_cross").cast("long").alias("ks_cross"),
            (
                F.col("max_cross").cast("double")
                / (
                    F.col("n_train").cast("double")
                    * F.col("n_test").cast("double")
                )
            ).alias("ks_stat"),
        )
        .orderBy("lang")
    )


# ------------------------------------------- near-dup doc clusters

@query(
    "d65_neardup_doc_clusters",
    f"""
    WITH RECURSIVE {_NEARDUP_CTES},
    {ND.components_sql()},
    tk AS (SELECT doc_id, length(string_split(text, ' ')) AS n_tokens
           FROM documents)
    SELECT CAST(lab.component AS BIGINT) AS component,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           CAST(MIN(lab.node) AS BIGINT) AS canonical_doc,
           CAST(SUM(tk.n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN lab.node <> lab.component
                    THEN tk.n_tokens ELSE 0 END) AS BIGINT) AS dup_tokens
    FROM lab JOIN tk ON tk.doc_id = lab.node
    GROUP BY lab.component ORDER BY component
    """,
    tags=("llm", "dedup", "graph"),
    tier="diagnostic",
    production_twin="d99_weighted_neardup_clusters",
)
def d65_neardup_doc_clusters(t):
    """Near-duplicate document CLUSTERS — the step every pairwise
    dedup (d07/d08/d12) stops short of: near-dup relations are not
    transitive pairwise decisions, so production dedup canonicalizes
    by CONNECTED COMPONENT (the m10 pipeline, here for text): MinHash
    +LSH verified pairs (exact Jaccard ≥ 0.5, the audited d07
    machinery — banded equi-join, never all-pairs) → pointer-jumped
    connected components (O(log diameter) rounds, measured flat at
    10× in SCALING.md) → per cluster: size, canonical doc (min id,
    the keep rule), total token mass, and DUP token mass (what
    deleting non-canonical members saves — the dedup ROI number a
    curation run reports).

    The oracle re-derives the same clusters with a recursive-CTE walk
    over the same verified pair set, so a banding scheme that dropped
    a qualifying pair, or a CC that mislabeled one node, flips the
    hash — not just the row count.

    Scale shape: pair generation inherits d07's corpus-linear form;
    CC shuffles only the EDGE set per round for ≤ 2·log₂(diameter)+4
    rounds; the rollup is one shuffle on component ids. CAVEAT: the
    verified pair set is quadratic in duplicate MULTIPLICITY (a
    k-replica clique emits k(k−1)/2 pairs) — this doc-granular form
    is the diagnostic tier; the PRODUCTION default is
    d99_weighted_neardup_clusters (exact-dup collapse first, measured
    flat at 100× duplication)."""
    pairs = ND.verified_pairs(t.documents).select("doc_a", "doc_b")
    comps = GR.connected_components(pairs, pairs_unique=True)
    toks = t.documents.select(
        "doc_id", T.token_count("text").cast("long").alias("n_tokens")
    )
    return (
        comps.join(toks, comps.node == toks.doc_id)
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min("node").alias("canonical_doc"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(
                F.when(F.col("node") != F.col("component"), F.col("n_tokens"))
                .otherwise(F.lit(0))
            ).alias("dup_tokens"),
        )
        .orderBy("component")
    )


@query(
    "e20_conversion_attribution",
    """
    WITH conv AS (
      SELECT event_id AS conv_id, user_id, ts AS cts,
             CAST(value AS DECIMAL(18,2)) AS val
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT event_id AS tid, user_id, event_type AS ttype, ts AS tts
      FROM events WHERE event_type IN ('click', 'view', 'signup')
    ),
    j AS (
      SELECT c.conv_id, c.val, t.tts, t.tid, t.ttype
      FROM conv c JOIN touch t
        ON t.user_id = c.user_id
       AND t.tts < c.cts AND t.tts >= c.cts - INTERVAL 7 DAY
    ),
    pc AS (
      SELECT conv_id, MAX(val) AS val,
             (MIN({'ts': tts, 'id': tid, 'ty': ttype})).ty AS first_type,
             (MAX({'ts': tts, 'id': tid, 'ty': ttype})).ty AS last_type
      FROM j GROUP BY conv_id
    ),
    una AS (
      SELECT c.conv_id, c.val FROM conv c
      WHERE NOT EXISTS (SELECT 1 FROM j WHERE j.conv_id = c.conv_id)
    ),
    ft AS (
      SELECT first_type AS touch_type, COUNT(*) AS n, SUM(val) AS rev
      FROM pc GROUP BY first_type
      UNION ALL
      SELECT 'none', COUNT(*), SUM(val) FROM una HAVING COUNT(*) > 0
    ),
    lt AS (
      SELECT last_type AS touch_type, COUNT(*) AS n, SUM(val) AS rev
      FROM pc GROUP BY last_type
      UNION ALL
      SELECT 'none', COUNT(*), SUM(val) FROM una HAVING COUNT(*) > 0
    )
    SELECT COALESCE(ft.touch_type, lt.touch_type) AS touch_type,
           CAST(COALESCE(ft.n, 0) AS BIGINT) AS first_touch_convs,
           CAST(COALESCE(ft.rev, 0) AS DOUBLE) AS first_touch_revenue,
           CAST(COALESCE(lt.n, 0) AS BIGINT) AS last_touch_convs,
           CAST(COALESCE(lt.rev, 0) AS DOUBLE) AS last_touch_revenue
    FROM ft FULL JOIN lt ON ft.touch_type = lt.touch_type
    ORDER BY touch_type
    """,
    tags=("events", "funnel", "window"),
)
def e20_conversion_attribution(t):
    """Marketing-style conversion ATTRIBUTION — for every purchase,
    credit the FIRST and the LAST touch (click/view/signup) by the
    same user inside a 7-day lookback, then roll up per touch type:
    conversions and revenue under first-touch vs last-touch rules
    (the two ends of the attribution-model spectrum; the gap between
    the two columns per channel is the classic over/under-credit
    signal). Purchases with no touch in the window surface as an
    explicit 'none' row — direct conversions are visible, not
    dropped.

    Engine-exactness: first/last are min/max over a (ts, event_id,
    type) struct — the event_id tiebreak makes simultaneous touches
    deterministic on both engines; revenue folds in DECIMAL(18,2)
    and casts to double once.

    Scale shape: the conversion-touch join is an equi-join on
    user_id (co-partitioned; the range predicate prunes within each
    user's bounded event history — the e03 sessionization cost
    model), the per-conversion argmin/argmax is a map-side-partial
    struct aggregate, and the final rollups are touch-type-sized. At
    10⁹ users nothing here exceeds per-user work."""
    e = t.events
    conv = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        "user_id",
        F.col("ts").alias("cts"),
        money("value").alias("val"),
    )
    touch = e.filter(
        F.col("event_type").isin("click", "view", "signup")
    ).select(
        F.col("event_id").alias("tid"),
        "user_id",
        F.col("event_type").alias("ttype"),
        F.col("ts").alias("tts"),
    )
    j = conv.join(
        touch,
        (conv.user_id == touch.user_id)
        & (touch.tts < conv.cts)
        & (touch.tts >= conv.cts - F.expr("INTERVAL 7 DAYS")),
    ).select("conv_id", "val", "tts", "tid", "ttype")
    pc = tracked_persist(
        j.groupBy("conv_id").agg(
            F.max("val").alias("val"),
            F.min(F.struct("tts", "tid", "ttype")).getField("ttype").alias(
                "first_type"
            ),
            F.max(F.struct("tts", "tid", "ttype")).getField("ttype").alias(
                "last_type"
            ),
        )
    )
    una = conv.join(pc.select("conv_id"), "conv_id", "left_anti").select(
        "conv_id", "val"
    )
    none_row = una.agg(
        F.count(F.lit(1)).alias("n"), F.sum("val").alias("rev")
    ).filter(F.col("n") > 0).select(F.lit("none").alias("touch_type"), "n", "rev")
    ft = (
        pc.groupBy(F.col("first_type").alias("touch_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("val").alias("rev"))
        .unionByName(none_row)
    )
    lt = (
        pc.groupBy(F.col("last_type").alias("touch_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("val").alias("rev"))
        .unionByName(none_row)
    )
    zero_l = F.lit(0).cast("long")
    zero_d = F.lit(0).cast("double")
    ftj = ft.select(
        F.col("touch_type").alias("ft_type"),
        F.col("n").alias("ft_n"),
        F.col("rev").alias("ft_rev"),
    )
    ltj = lt.select(
        F.col("touch_type").alias("lt_type"),
        F.col("n").alias("lt_n"),
        F.col("rev").alias("lt_rev"),
    )
    return (
        ftj.join(ltj, ftj.ft_type == ltj.lt_type, "full_outer")
        .select(
            F.coalesce("ft_type", "lt_type").alias("touch_type"),
            F.coalesce(F.col("ft_n"), zero_l).alias("first_touch_convs"),
            F.coalesce(F.col("ft_rev").cast("double"), zero_d).alias(
                "first_touch_revenue"
            ),
            F.coalesce(F.col("lt_n"), zero_l).alias("last_touch_convs"),
            F.coalesce(F.col("lt_rev").cast("double"), zero_d).alias(
                "last_touch_revenue"
            ),
        )
        .orderBy("touch_type")
    )


# --------------------------------- contamination method attribution

from data_engineer_project_spark.queries.catalog import (  # noqa: E402
    QUERIES as _REGISTRY,
)


def _d66_oracle() -> str:
    ex = _REGISTRY["d25_decontamination"].oracle
    sem = _REGISTRY["d31_semantic_decontamination"].oracle
    return f"""
    WITH ex AS (SELECT test_doc AS doc_id FROM ({ex})),
    sem AS (SELECT test_vec AS doc_id FROM ({sem})),
    td AS (SELECT doc_id FROM documents WHERE {CUR.ORACLE_BUCKET} >= 90),
    cls AS (
      SELECT td.doc_id,
             CASE WHEN e.doc_id IS NOT NULL AND s.doc_id IS NOT NULL
                    THEN 'both'
                  WHEN e.doc_id IS NOT NULL THEN 'exact_only'
                  WHEN s.doc_id IS NOT NULL THEN 'semantic_only'
                  ELSE 'clean' END AS method
      FROM td
      LEFT JOIN ex e ON e.doc_id = td.doc_id
      LEFT JOIN sem s ON s.doc_id = td.doc_id
    )
    SELECT method,
           CAST(COUNT(*) AS BIGINT) AS n_test_docs,
           CAST(MIN(doc_id) AS BIGINT) AS sample_doc
    FROM cls GROUP BY method ORDER BY method
    """


@query(
    "d66_contamination_method_attribution",
    _d66_oracle(),
    tags=("llm", "eval", "split", "similarity"),
)
def d66_contamination_method_attribution(t):
    """Which decontamination method catches WHICH leaks — the Venn
    report that justifies running both passes: every held-out doc is
    classified 'exact_only' (caught by d25's informative-shingle
    overlap but invisible to embeddings), 'semantic_only' (caught by
    d31's LSH-blocked cosine — paraphrased/translated leakage with no
    shared n-grams, the case the SemDeDup line of work exists for),
    'both', or 'clean'. The per-method counts are the operational
    answer to "can we skip the expensive semantic pass?" — a nonzero
    semantic_only row says no.

    Composition-exact: the two flag sets are the REGISTERED d25/d31
    queries (same machinery, same thresholds), so this report can
    never drift from what the individual passes actually do; the
    oracle nests both registered oracle twins verbatim for the same
    reason.

    Scale shape: inherits d25's inverted-index overlap join and d31's
    banded-LSH blocking (both corpus-linear); the attribution itself
    is two left joins keyed on doc_id against flag sets bounded by
    the test split, then a 4-key rollup."""
    ex = d25_decontamination(t).select(
        F.col("test_doc").alias("doc_id"), F.lit(1).alias("ex_hit")
    )
    sem = d31_semantic_decontamination(t).select(
        F.col("test_vec").alias("doc_id"), F.lit(1).alias("sem_hit")
    )
    b = F.expr(CUR.SPARK_BUCKET)
    td = t.documents.filter(b >= 90).select("doc_id")
    cls = (
        td.join(ex, "doc_id", "left")
        .join(sem, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                F.col("ex_hit").isNotNull() & F.col("sem_hit").isNotNull(),
                F.lit("both"),
            )
            .when(F.col("ex_hit").isNotNull(), F.lit("exact_only"))
            .when(F.col("sem_hit").isNotNull(), F.lit("semantic_only"))
            .otherwise(F.lit("clean"))
            .alias("method"),
        )
    )
    return (
        cls.groupBy("method")
        .agg(
            F.count(F.lit(1)).alias("n_test_docs"),
            F.min("doc_id").alias("sample_doc"),
        )
        .orderBy("method")
    )


@query(
    "d67_token_budget_waterfill",
    """
    WITH srcs AS (
      SELECT source,
             CAST(SUM(length(string_split(text, ' '))) AS BIGINT) AS toks
      FROM documents GROUP BY source
    ),
    st AS (
      SELECT CAST(SUM(toks) // 2 AS BIGINT) AS budget, COUNT(*) AS n
      FROM srcs
    ),
    rk AS (
      SELECT source, toks,
             ROW_NUMBER() OVER (ORDER BY toks, source) AS i,
             SUM(toks) OVER (ORDER BY toks, source
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS pref
      FROM srcs
    ),
    thr AS (
      SELECT budget, n, k, pk,
             (budget - pk) // (n - k) AS cap,
             (budget - pk) % (n - k) AS rem
      FROM (
        SELECT MAX(st.budget) AS budget, MAX(st.n) AS n,
               COALESCE(MAX(CASE WHEN pref + (st.n - i) * toks <= st.budget
                                 THEN i END), 0) AS k,
               COALESCE(MAX(CASE WHEN pref + (st.n - i) * toks <= st.budget
                                 THEN pref END), 0) AS pk
        FROM rk, st
      )
    )
    SELECT rk.source,
           rk.toks AS orig_tokens,
           CAST(CASE WHEN rk.i <= thr.k THEN rk.toks
                     WHEN rk.i - thr.k <= thr.rem THEN thr.cap + 1
                     ELSE thr.cap END AS BIGINT) AS alloc_tokens,
           CAST(CASE WHEN rk.i <= thr.k THEN 1.0
                     ELSE CAST(CASE WHEN rk.i - thr.k <= thr.rem
                                    THEN thr.cap + 1 ELSE thr.cap END
                               AS DOUBLE) / CAST(rk.toks AS DOUBLE)
                END AS DOUBLE) AS keep_ratio,
           rk.i <= thr.k AS uncapped
    FROM rk, thr ORDER BY rk.source
    """,
    tags=("llm", "mixture", "stats"),
)
def d67_token_budget_waterfill(t):
    """Data-mixing WATERFILL — the allocator behind "train on B tokens
    with sources as balanced as possible": find the unique cap C where
    granting every source min(its_tokens, C) exactly spends the budget
    (here B = half the corpus), i.e. the classic waterfilling solution
    that maximizes the minimum allocation. Small sources keep
    everything ('uncapped'); large sources are cut to the common cap,
    with the integer remainder dealt deterministically to the smallest
    capped sources. Compare d42 (fixed min-source target) and d33
    (fixed per-source quota): waterfill is the budget-first variant a
    mixture planner actually runs, and its output IS d42's
    keep-threshold input.

    Exactness: the threshold index k, the prefix sums, C and the
    remainder are all integer arithmetic over the per-source token
    totals — bit-equal cross-engine, including the alloc-sums-to-
    budget invariant (pinned in tests).

    Scale shape: one corpus scan folds to a per-source aggregate;
    everything after — the sort window, the threshold fold, the final
    cross join — runs over #sources rows (driver-scale metadata, the
    d56 bounded-window pattern). The 1-row parameter frames broadcast."""
    srcs = t.documents.groupBy("source").agg(
        F.sum(T.token_count("text").cast("long")).alias("toks")
    )
    st = srcs.agg(
        F.expr("sum(toks) div 2").cast("long").alias("budget"),
        F.count(F.lit(1)).alias("n"),
    )
    w = Window.orderBy("toks", "source")
    rk = srcs.select(
        "source",
        "toks",
        F.row_number().over(w).alias("i"),
        F.sum("toks")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("pref"),
    )
    uncapped_i = F.when(
        F.col("pref") + (F.col("n") - F.col("i")) * F.col("toks")
        <= F.col("budget"),
        F.col("i"),
    )
    uncapped_p = F.when(
        F.col("pref") + (F.col("n") - F.col("i")) * F.col("toks")
        <= F.col("budget"),
        F.col("pref"),
    )
    zero = F.lit(0).cast("long")
    thr = (
        rk.crossJoin(F.broadcast(st))
        .agg(
            F.max("budget").alias("budget"),
            F.max("n").alias("n"),
            F.coalesce(F.max(uncapped_i), zero).alias("k"),
            F.coalesce(F.max(uncapped_p), zero).alias("pk"),
        )
        .select(
            "budget",
            "n",
            "k",
            "pk",
            F.expr("(budget - pk) div (n - k)").alias("cap"),
            F.expr("(budget - pk) % (n - k)").alias("rem"),
        )
    )
    alloc = (
        F.when(F.col("i") <= F.col("k"), F.col("toks"))
        .when(F.col("i") - F.col("k") <= F.col("rem"), F.col("cap") + 1)
        .otherwise(F.col("cap"))
    )
    return (
        rk.crossJoin(F.broadcast(thr))
        .select(
            "source",
            F.col("toks").alias("orig_tokens"),
            alloc.cast("long").alias("alloc_tokens"),
            F.when(F.col("i") <= F.col("k"), F.lit(1.0))
            .otherwise(alloc.cast("double") / F.col("toks").cast("double"))
            .cast("double")
            .alias("keep_ratio"),
            (F.col("i") <= F.col("k")).alias("uncapped"),
        )
        .orderBy("source")
    )


@query(
    "e21_activation_latency",
    """
    WITH su AS (
      SELECT user_id, MIN({'ts': ts, 'id': event_id}).ts AS signup_ts
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    fp AS (
      SELECT su.user_id, su.signup_ts,
             MIN(p.ts) AS first_purchase_ts
      FROM su LEFT JOIN events p
        ON p.user_id = su.user_id
       AND p.event_type = 'purchase'
       AND p.ts >= su.signup_ts
      GROUP BY su.user_id, su.signup_ts
    ),
    lat AS (
      SELECT user_id,
             CAST(date_trunc('month', signup_ts) AS DATE) AS cohort,
             CASE WHEN first_purchase_ts IS NOT NULL THEN
               CAST(epoch(first_purchase_ts) AS BIGINT) // 3600
               - CAST(epoch(signup_ts) AS BIGINT) // 3600
             END AS lat_hours
      FROM fp
    ),
    act AS (
      SELECT cohort, lat_hours, user_id,
             ROW_NUMBER() OVER (PARTITION BY cohort
                                ORDER BY lat_hours, user_id) AS rn,
             COUNT(*) OVER (PARTITION BY cohort) AS n
      FROM lat WHERE lat_hours IS NOT NULL AND lat_hours <= 336
    ),
    med AS (
      SELECT cohort,
             CAST(MAX(n) AS BIGINT) AS n_activated,
             MAX(CASE WHEN rn = (n * 50 + 99) // 100
                 THEN lat_hours END) AS median_hours,
             MAX(CASE WHEN rn = (n * 90 + 99) // 100
                 THEN lat_hours END) AS p90_hours
      FROM act GROUP BY cohort
    ),
    coh AS (
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_signups FROM lat
      GROUP BY cohort
    )
    SELECT coh.cohort, coh.n_signups,
           CAST(COALESCE(med.n_activated, 0) AS BIGINT) AS n_activated,
           med.median_hours, med.p90_hours,
           CAST(COALESCE(med.n_activated, 0) AS DOUBLE)
             / CAST(coh.n_signups AS DOUBLE) AS activation_rate
    FROM coh LEFT JOIN med ON med.cohort = coh.cohort
    ORDER BY coh.cohort
    """,
    tags=("events", "funnel", "stats"),
)
def e21_activation_latency(t):
    """Activation latency by signup cohort — the time-to-event metric
    behind every activation dashboard: for each user's FIRST signup,
    the hours until their first purchase at-or-after it; per monthly
    cohort, the signup count, how many activated within 14 days
    (336 h), the exact integer-rank median and p90 of the activation
    latency (d41's PERCENTILE_DISC machinery, partitioned per cohort
    so the rank window never goes global), and the activation rate.
    Cohorts with zero activations keep their row with NULL latency
    (hq32's absence-is-visible convention).

    Engine-exactness: latency is integer hour arithmetic (epoch div
    3600 on both engines — truncation semantics agree for all
    epochs, see e17); first-signup ties break on event_id via the
    struct-min; the rate is one bigint/bigint division.

    Scale shape: first-signup and first-purchase both reduce per
    user with map-side partials; the signup-purchase join is
    user_id-co-partitioned (per-user bounded, the e03/e20 cost
    model); the percentile windows partition by cohort."""
    e = t.events
    su = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.struct("ts", "event_id")).getField("ts").alias("signup_ts"))
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("pts")
    )
    fp = (
        su.join(
            p, (su.user_id == p.p_user) & (p.pts >= su.signup_ts), "left"
        )
        .groupBy("user_id", "signup_ts")
        .agg(F.min("pts").alias("first_purchase_ts"))
    )
    lat = fp.select(
        "user_id",
        F.date_trunc("month", "signup_ts").cast("date").alias("cohort"),
        F.when(
            F.col("first_purchase_ts").isNotNull(),
            F.expr("unix_timestamp(first_purchase_ts) div 3600")
            - F.expr("unix_timestamp(signup_ts) div 3600"),
        ).alias("lat_hours"),
    )
    act = lat.filter(
        F.col("lat_hours").isNotNull() & (F.col("lat_hours") <= 336)
    )
    w = Window.partitionBy("cohort").orderBy("lat_hours", "user_id")
    ranked = act.select(
        "cohort",
        "lat_hours",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("cohort")).alias("n"),
    )
    med = ranked.groupBy("cohort").agg(
        F.max("n").alias("n_activated"),
        F.max(
            F.when(F.col("rn") == F.expr("(n * 50 + 99) div 100"), F.col("lat_hours"))
        ).alias("median_hours"),
        F.max(
            F.when(F.col("rn") == F.expr("(n * 90 + 99) div 100"), F.col("lat_hours"))
        ).alias("p90_hours"),
    )
    coh = lat.groupBy("cohort").agg(F.count(F.lit(1)).alias("n_signups"))
    zero = F.lit(0).cast("long")
    return (
        coh.join(med, "cohort", "left")
        .select(
            "cohort",
            "n_signups",
            F.coalesce("n_activated", zero).alias("n_activated"),
            "median_hours",
            "p90_hours",
            (
                F.coalesce("n_activated", zero).cast("double")
                / F.col("n_signups").cast("double")
            ).alias("activation_rate"),
        )
        .orderBy("cohort")
    )


@query(
    "d68_test_doc_bigram_novelty",
    f"""
    WITH {ND.shingles_sql(n=2)},
    bg AS (SELECT doc_id, i, shingle AS bigram FROM sh),
    b AS (SELECT doc_id, lang, {CUR.ORACLE_BUCKET} AS bucket FROM documents),
    train_bg AS (
      SELECT DISTINCT bigram FROM bg JOIN b USING (doc_id)
      WHERE b.bucket < 80
    ),
    test_occ AS (
      SELECT bg.doc_id, b.lang, bg.bigram
      FROM bg JOIN b USING (doc_id) WHERE b.bucket >= 90
    ),
    per_doc AS (
      SELECT o.doc_id, o.lang,
             COUNT(*) AS n_bg,
             SUM(CASE WHEN t.bigram IS NULL THEN 1 ELSE 0 END) AS n_unseen
      FROM test_occ o LEFT JOIN train_bg t ON t.bigram = o.bigram
      GROUP BY o.doc_id, o.lang
    )
    SELECT lang,
           CAST((100 * n_unseen) // n_bg // 10 AS BIGINT) AS novelty_band,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_unseen) AS BIGINT) AS unseen_bigrams,
           CAST(SUM(n_bg) AS BIGINT) AS total_bigrams,
           CAST(MIN(doc_id) AS BIGINT) AS sample_doc
    FROM per_doc
    GROUP BY lang, (100 * n_unseen) // n_bg // 10
    ORDER BY lang, novelty_band
    """,
    tags=("llm", "eval", "split"),
)
def d68_test_doc_bigram_novelty(t):
    """Per-DOC bigram novelty of the held-out split — the doc-level
    dual of d36's corpus-level type coverage, and the shape of the
    CCNet-style LM-novelty quality signal with the logs stripped out:
    for every test doc, what fraction of its bigram OCCURRENCES never
    appears in the train split? Low novelty ⇒ the doc is boilerplate
    the model has seen (or leakage d25 should confirm); high novelty
    ⇒ new material (or noise — pair with d02's quality gates). Docs
    roll up per (lang, novelty decile band) so the output is bounded
    at langs × 11 rows with counts, occurrence masses, and a sample
    doc per band. Docs with fewer than two words carry no bigram and
    are excluded by construction (the per_doc grain requires ≥ 1
    occurrence).

    Engine-exactness: the novelty percent is pure integer arithmetic
    ((100 · unseen) div total div 10) — no floats anywhere.

    Scale shape: bigram building is the positional-lead window inside
    each doc (d12's shingle machinery at n=2); the train TYPE set
    collapses by bigram with map-side partials; the occurrence check
    is one equi-join on the bigram string (corpus-linear both sides,
    AQE-sized); the band rollup is bounded."""
    w = t.documents.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("i", "wd")
    )
    win = Window.partitionBy("doc_id").orderBy("i")
    bg = tracked_persist(
        w.select(
            "doc_id",
            F.concat_ws(" ", "wd", F.lead("wd", 1).over(win)).alias("bigram"),
            F.lead("wd", 1).over(win).alias("nxt"),
        )
        .filter(F.col("nxt").isNotNull())
        .drop("nxt")
    )
    b = F.expr(CUR.SPARK_BUCKET)
    docs = t.documents.select("doc_id", "lang").withColumn("bucket", b)
    train_bg = (
        bg.join(docs.filter(F.col("bucket") < 80).select("doc_id"), "doc_id")
        .select("bigram")
        .distinct()
        .withColumn("seen", F.lit(1))
    )
    test_occ = bg.join(
        docs.filter(F.col("bucket") >= 90).select("doc_id", "lang"), "doc_id"
    )
    per_doc = (
        test_occ.join(train_bg, "bigram", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_bg"),
            F.sum(F.col("seen").isNull().cast("long")).alias("n_unseen"),
        )
    )
    band = F.expr("(100 * n_unseen) div n_bg div 10")
    return (
        per_doc.groupBy("lang", band.alias("novelty_band"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_unseen").alias("unseen_bigrams"),
            F.sum("n_bg").alias("total_bigrams"),
            F.min("doc_id").alias("sample_doc"),
        )
        .orderBy("lang", "novelty_band")
    )


# --------------------------------------------- BPE merge training

_BPE_ROUNDS = 3


def _bpe_ctes(rounds: int = _BPE_ROUNDS) -> str:
    """The unrolled BPE-training CTE prefix (word table -> per-round
    pair counts -> argmax -> greedy reduce() merge; s{rounds} is the
    final merged vocab) — shared by the d69 trainer oracle and the
    d75 encoder oracle."""
    parts = [
        """
    WITH w0 AS (
      SELECT wd AS w, COUNT(*) AS wc
      FROM (SELECT unnest(string_split(text, ' ')) AS wd FROM documents)
      WHERE wd <> '' GROUP BY wd
    ),
    s0 AS (
      SELECT w, wc, list_filter(string_split(w, ''), x -> x <> '') AS syms
      FROM w0
    )"""
    ]
    for r in range(rounds):
        parts.append(f""",
    ex{r} AS (
      SELECT w, wc, unnest(syms) AS sym, generate_subscripts(syms, 1) AS i
      FROM s{r}
    ),
    pr{r} AS (
      SELECT w, wc, sym, lead(sym, 1) OVER win AS nxt
      FROM ex{r} WINDOW win AS (PARTITION BY w ORDER BY i)
      QUALIFY lead(sym, 1) OVER win IS NOT NULL
    ),
    cnt{r} AS (
      SELECT sym, nxt, SUM(wc) AS cnt FROM pr{r} GROUP BY sym, nxt
    ),
    b{r} AS (
      SELECT sym AS pa, nxt AS pb, cnt FROM cnt{r}
      ORDER BY cnt DESC, sym, nxt LIMIT 1
    ),
    s{r + 1} AS (
      SELECT w, wc,
             reduce(list_transform(syms, x -> [x]),
                    (acc, x) -> CASE WHEN acc[-1] = b.pa AND x[1] = b.pb
                                THEN list_concat(
                                       list_slice(acc, 1, len(acc) - 1),
                                       [b.pa || b.pb])
                                ELSE list_concat(acc, x) END) AS syms
      FROM s{r}, b{r} b
    ),
    out{r} AS (
      SELECT {r + 1} AS round, b.pa AS pair_a, b.pb AS pair_b,
             b.pa || b.pb AS merged,
             CAST(b.cnt AS BIGINT) AS pair_count,
             (SELECT CAST(SUM(len(syms) * wc) AS BIGINT) FROM s{r + 1})
               AS corpus_tokens_after
      FROM b{r} b
    )""")
    return "".join(parts)


def _bpe_oracle(rounds: int = _BPE_ROUNDS) -> str:
    """Trainer oracle: the merge table, one row per unrolled round."""
    union = " UNION ALL ".join(f"SELECT * FROM out{r}" for r in range(rounds))
    return f"{_bpe_ctes(rounds)}\n    {union} ORDER BY round"


@query(
    "d69_bpe_merge_trainer",
    _bpe_oracle(),
    tags=("llm", "tokenizer", "flagship"),
)
def d69_bpe_merge_trainer(t):
    """BPE tokenizer TRAINING, the first _BPE_ROUNDS merge rounds — the
    iterative algorithm d43's single pair-count round sets up (Sennrich
    et al. 2016): fold the corpus ONCE into the word-frequency table
    (the classical BPE trick — iterations then run over the vocab, not
    the corpus), and per round (a) count adjacent symbol pairs weighted
    by word frequency, (b) take the deterministic argmax (count desc,
    pair lexicographic), (c) greedily merge that pair left-to-right in
    every word via an exact aggregate fold (overlapping runs resolve
    leftmost-first: 'aaa' + merge(a,a) -> [aa, a] on both engines,
    verified). Output is the actual training artifact: the merge table
    (round, pair, count) plus the corpus token count after each merge —
    the compression-progress curve a tokenizer build monitors.

    Exactness: pair counts are integer word-frequency sums; the merge
    is the same left-fold in Spark's aggregate() and DuckDB's
    reduce(); the argmax tiebreak is total lexicographic order.

    Scale shape: ONE corpus-wide shuffle builds the word table; every
    round after that is vocab-sized (explode/lead/count with map-side
    partials; the chosen pair is a 1-row driver sync, the k-means
    literal pattern); the per-round vocab table is persisted to cut
    the unrolled lineage. At 100 TB the vocab is millions of rows —
    executor-trivial — and rounds stay corpus-free."""
    sy, out_rows = _bpe_train(t.documents)
    return t._spark.createDataFrame(
        out_rows,
        "round int, pair_a string, pair_b string, merged string,"
        " pair_count bigint, corpus_tokens_after bigint",
    ).orderBy("round")


def _bpe_train(documents, rounds: int = _BPE_ROUNDS):
    """Run the unrolled BPE merge rounds; returns (final vocab frame
    (w, wc, syms), merge-table rows). The corpus folds ONCE into the
    word table; each round is vocab-sized with a 1-row argmax driver
    sync (the k-means literal pattern)."""
    words = (
        documents.select(
            F.explode(F.split(F.col("text"), " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    sy = tracked_persist(
        words.select(
            "w",
            "wc",
            F.expr("filter(split(w, ''), x -> x <> '')").alias("syms"),
        )
    )
    out_rows = []
    for r in range(rounds):
        ex = sy.select("w", "wc", F.posexplode("syms").alias("i", "sym"))
        win = Window.partitionBy("w").orderBy("i")
        pr = ex.select(
            "wc", "sym", F.lead("sym", 1).over(win).alias("nxt")
        ).filter(F.col("nxt").isNotNull())
        cnt = pr.groupBy("sym", "nxt").agg(F.sum("wc").alias("cnt"))
        best = cnt.orderBy(F.desc("cnt"), "sym", "nxt").limit(1).collect()[0]
        pa, pb = best["sym"], best["nxt"]
        qa, qb = pa.replace("'", "''"), pb.replace("'", "''")
        sy = tracked_persist(
            sy.select(
                "w",
                "wc",
                F.expr(
                    f"aggregate(slice(syms, 2, size(syms) - 1),"
                    f" array(element_at(syms, 1)),"
                    f" (acc, x) -> IF(element_at(acc, -1) = '{qa}'"
                    f" AND x = '{qb}',"
                    f" concat(slice(acc, 1, size(acc) - 1),"
                    f" array('{qa}{qb}')),"
                    f" concat(acc, array(x))))"
                ).alias("syms"),
            )
        )
        toks_after = sy.agg(
            F.sum(F.size("syms") * F.col("wc")).cast("long")
        ).collect()[0][0]
        out_rows.append(
            (r + 1, pa, pb, pa + pb, int(best["cnt"]), int(toks_after))
        )
    return sy, out_rows


# ------------------------------------------------ Bloom membership

BLOOM_BITS = 1 << 16  # m = 65536 bits -> 2048 32-bit words
BLOOM_K = 3


def bloom_positions_sql(text_expr: str) -> list[str]:
    """k bit positions for ``text_expr`` — 4 md5 hex digits of
    (seed || text) mod m, identical integer derivation on both
    engines (the curation.md5_hex_int machinery with a per-hash seed)."""
    return [
        f"({CUR.md5_hex_int(text_expr, 'varchar', 4, prefix=f'bl{j}|')})"
        f" % {BLOOM_BITS}"
        for j in range(BLOOM_K)
    ]


@query(
    "d70_bloom_membership_sketch",
    f"""
    WITH train AS (
      SELECT md5(text) AS fp, text FROM documents WHERE {CUR.ORACLE_BUCKET} < 80
    ),
    test AS (
      SELECT doc_id, md5(text) AS fp, text FROM documents
      WHERE {CUR.ORACLE_BUCKET} >= 90
    ),
    pos AS (
      {" UNION ALL ".join(
        f"SELECT {p} AS idx FROM train" for p in bloom_positions_sql("text")
      )}
    ),
    bitset AS (
      SELECT idx // 32 AS word_idx,
             bit_or(CAST(1 AS BIGINT) << (idx % 32)) AS bits
      FROM pos GROUP BY idx // 32
    ),
    probe AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, {p} AS idx FROM test"
        for p in bloom_positions_sql("text")
      )}
    ),
    hits AS (
      SELECT p.doc_id,
             SUM(CASE WHEN b.bits IS NOT NULL
                       AND ((b.bits >> (p.idx % 32)) & 1) = 1
                 THEN 1 ELSE 0 END) AS k_set
      FROM probe p LEFT JOIN bitset b ON b.word_idx = p.idx // 32
      GROUP BY p.doc_id
    ),
    truth AS (
      SELECT t.doc_id,
             CASE WHEN tr.fp IS NOT NULL THEN 1 ELSE 0 END AS is_member
      FROM test t LEFT JOIN (SELECT DISTINCT fp FROM train) tr
        ON tr.fp = t.fp
    ),
    occ AS (SELECT CAST(COUNT(*) AS BIGINT) AS words_occupied FROM (
      SELECT DISTINCT idx FROM pos))
    SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN h.k_set = {BLOOM_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged,
           CAST(SUM(t.is_member) AS BIGINT) AS n_true_members,
           CAST(SUM(CASE WHEN h.k_set = {BLOOM_K} AND t.is_member = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positives,
           CAST(SUM(CASE WHEN h.k_set = {BLOOM_K} AND t.is_member = 0
                    THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS fp_rate,
           (SELECT words_occupied FROM occ) AS bits_set
    FROM hits h JOIN truth t ON t.doc_id = h.doc_id
    """,
    tags=("llm", "sketch", "dedup"),
)
def d70_bloom_membership_sketch(t):
    """A BLOOM FILTER built and probed entirely in relational ops —
    the broadcastable membership sketch a 100 TB dedup/decontamination
    pass ships to executors instead of the full fingerprint set: k=3
    md5-derived bit positions per train doc OR-fold into a 65536-bit /
    2048-word bitset (an 16 KB table!), every held-out doc probes its
    k positions, and the exact fingerprint anti-join provides ground
    truth, so the output reports the MEASURED false-positive rate next
    to the sketch's occupancy — the number you check against the
    (1-e^{{-kn/m}})^k design point before trusting the sketch at scale.

    Engine-exactness: positions, the OR-fold (bit_or over 1 << (idx %
    32) in BIGINT words), and the probe's shift-and-mask are pure
    integer/bit arithmetic, identical cross-engine; only the final
    rate divides.

    Scale shape: the build is one train-scan fan-out (k rows per doc)
    collapsing map-side into ≤ 2048 words; the probe joins test
    positions against the 2048-row bitset (trivially broadcast — the
    entire point of the sketch); ground truth is one fingerprint
    equi-join. Nothing here exceeds corpus-linear."""
    b = F.expr(CUR.SPARK_BUCKET)
    train = t.documents.filter(b < 80).select("text", F.md5("text").alias("fp"))
    test = t.documents.filter(b >= 90).select(
        "doc_id", "text", F.md5("text").alias("fp")
    )
    pos_exprs = [
        F.expr(
            f"({CUR.md5_hex_int('text', 'string', 4, prefix=f'bl{j}|')})"
            f" % {BLOOM_BITS}"
        )
        for j in range(BLOOM_K)
    ]
    pos = train.select(
        F.explode(F.array(*pos_exprs)).alias("idx")
    )
    bitset = pos.groupBy((F.col("idx") / 32).cast("long").alias("word_idx")).agg(
        F.expr("bit_or(shiftleft(cast(1 as bigint), idx % 32))").alias("bits")
    )
    probe = test.select(
        "doc_id", F.explode(F.array(*pos_exprs)).alias("idx")
    )
    hits = (
        probe.join(
            F.broadcast(bitset),
            (F.col("idx") / 32).cast("long") == F.col("word_idx"),
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.sum(
                (
                    F.col("bits").isNotNull()
                    & (
                        F.expr("(shiftright(bits, idx % 32) & 1)") == 1
                    )
                ).cast("long")
            ).alias("k_set")
        )
    )
    truth = test.join(
        train.select("fp").distinct().withColumn("hit", F.lit(1)),
        "fp",
        "left",
    ).select("doc_id", F.coalesce("hit", F.lit(0)).alias("is_member"))
    occupied = pos.select("idx").distinct().count()
    flagged = (F.col("k_set") == BLOOM_K).cast("long")
    fpos = ((F.col("k_set") == BLOOM_K) & (F.col("is_member") == 0)).cast(
        "long"
    )
    return hits.join(truth, "doc_id").agg(
        F.count(F.lit(1)).alias("n_test"),
        F.sum(flagged).alias("n_flagged"),
        F.sum("is_member").cast("long").alias("n_true_members"),
        F.sum(fpos).alias("n_false_positives"),
        (F.sum(fpos).cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "fp_rate"
        ),
        F.lit(occupied).cast("long").alias("bits_set"),
    )


CMS_W = 1024  # counters per hash row
CMS_D = 3  # hash rows


@query(
    "d71_countmin_heavy_hitters",
    f"""
    WITH words AS (
      SELECT wd, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS wd FROM documents)
      WHERE wd <> '' GROUP BY wd
    ),
    cells AS (
      {" UNION ALL ".join(
        f"SELECT {j} AS row_j, "
        f"({CUR.md5_hex_int('wd', 'varchar', 4, prefix=f'cm{j}|')}) % {CMS_W}"
        f" AS idx, cnt FROM words"
        for j in range(CMS_D)
      )}
    ),
    cms AS (
      SELECT row_j, idx, SUM(cnt) AS counter FROM cells GROUP BY row_j, idx
    ),
    top AS (
      SELECT wd, cnt FROM words ORDER BY cnt DESC, wd LIMIT 10
    ),
    tprobe AS (
      {" UNION ALL ".join(
        f"SELECT wd, cnt, {j} AS row_j, "
        f"({CUR.md5_hex_int('wd', 'varchar', 4, prefix=f'cm{j}|')}) % {CMS_W}"
        f" AS idx FROM top"
        for j in range(CMS_D)
      )}
    ),
    est AS (
      SELECT p.wd, p.cnt, MIN(c.counter) AS estimate
      FROM tprobe p JOIN cms c ON c.row_j = p.row_j AND c.idx = p.idx
      GROUP BY p.wd, p.cnt
    )
    SELECT wd AS word, cnt AS exact_count,
           CAST(estimate AS BIGINT) AS cms_estimate,
           CAST(estimate - cnt AS BIGINT) AS overestimate
    FROM est ORDER BY exact_count DESC, word
    """,
    tags=("llm", "sketch", "stats"),
)
def d71_countmin_heavy_hitters(t):
    """COUNT-MIN SKETCH heavy hitters with exact error accounting —
    d70's Bloom sibling for FREQUENCIES: fold the corpus word counts
    into a d=3 x w=1024 counter grid (md5-derived column per hash
    row, integer sums — a 3 KB table an executor keeps in L1), then
    read back the true top-10 words' estimates (min over the d
    counters, the CMS read rule) next to their exact counts. The
    overestimate column is the sketch's one-sided error realized on
    this corpus — never negative (pinned), bounded in expectation by
    N/w — the number you validate before replacing an exact
    frequency shuffle with a mergeable 3 KB sketch at 100 TB.

    Exactness: counters and estimates are integer sums/mins over
    md5-derived cells — identical cross-engine; no floats at all.

    Scale shape: the corpus folds once to the word table; the grid
    collapses map-side to <= d*w cells; the top-k probe joins 10
    words against the tiny grid. The sketch itself is what makes the
    100 TB version cheap: counter grids from every partition merge
    by addition."""
    words = (
        t.documents.select(F.explode(F.split(F.col("text"), " ")).alias("wd"))
        .filter(F.col("wd") != "")
        .groupBy("wd")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cell_exprs = [
        F.expr(
            f"({CUR.md5_hex_int('wd', 'string', 4, prefix=f'cm{j}|')}) % {CMS_W}"
        ).alias(f"idx{j}")
        for j in range(CMS_D)
    ]
    wpos = tracked_persist(words.select("wd", "cnt", *cell_exprs))
    cells = wpos.select(
        "cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row_j"), F.col(f"idx{j}").alias("idx")
                    )
                    for j in range(CMS_D)
                ]
            )
        ).alias("c"),
    ).select("cnt", "c.row_j", "c.idx")
    cms = cells.groupBy("row_j", "idx").agg(F.sum("cnt").alias("counter"))
    top = wpos.orderBy(F.desc("cnt"), "wd").limit(10)
    probe = top.select(
        "wd",
        "cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row_j"), F.col(f"idx{j}").alias("idx")
                    )
                    for j in range(CMS_D)
                ]
            )
        ).alias("c"),
    ).select("wd", "cnt", "c.row_j", "c.idx")
    est = (
        probe.join(F.broadcast(cms), ["row_j", "idx"])
        .groupBy("wd", "cnt")
        .agg(F.min("counter").alias("estimate"))
    )
    return est.select(
        F.col("wd").alias("word"),
        F.col("cnt").alias("exact_count"),
        F.col("estimate").cast("long").alias("cms_estimate"),
        (F.col("estimate") - F.col("cnt")).cast("long").alias("overestimate"),
    ).orderBy(F.desc("exact_count"), "word")


# ------------------------------------------------ HyperLogLog

HLL_M = 256  # registers (b = 8 index bits)
# alpha_256 * m^2 * 2^41, folded to ONE double literal in Python and
# embedded in scientific notation (which both Spark SQL and DuckDB
# parse as DOUBLE — plain decimal literals are DECIMAL-typed with
# engine-specific arithmetic, the drift this avoids). The single
# division by the exact integer harmonic sum is then IEEE-identical
# cross-engine.
HLL_EST_NUM = repr(0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 2199023255552.0)
assert "e" in HLL_EST_NUM  # scientific notation => DOUBLE literal


def hll_fields_sql(item_expr: str, cast_type: str) -> tuple[str, str]:
    """(register, rho) SQL for ``item_expr``: the register is the first
    2 md5 hex digits of ('hl|' || item); rho is 1 + the number of
    leading zero BITS in the next 10 hex digits (a 40-bit window) —
    derived with TRIM(LEADING '0') + a 4-way CASE on the first
    surviving hex digit, pure string/integer ops identical in Spark
    SQL and DuckDB (no log2, no floats)."""
    reg = CUR.md5_hex_int(item_expr, cast_type, 2, prefix="hl|")
    tail = (
        f"substring(md5(concat('hl|', cast({item_expr} as {cast_type}))), 3, 10)"
    )
    stripped = f"trim(LEADING '0' FROM {tail})"
    first = f"substring({stripped}, 1, 1)"
    intra = (
        f"CASE WHEN {first} IN ('8','9','a','b','c','d','e','f') THEN 0"
        f" WHEN {first} IN ('4','5','6','7') THEN 1"
        f" WHEN {first} IN ('2','3') THEN 2 ELSE 3 END"
    )
    rho = (
        f"CASE WHEN length({stripped}) = 0 THEN 41"
        f" ELSE (10 - length({stripped})) * 4 + {intra} + 1 END"
    )
    return reg, rho


_HLL_REG_SQL, _HLL_RHO_SQL = hll_fields_sql("sh", "varchar")
_HLL_REG_SPARK, _HLL_RHO_SPARK = hll_fields_sql("sh", "string")


@query(
    "d72_hll_distinct_sketch",
    f"""
    WITH {ND.shingles_sql()},
    occ AS (SELECT shingle AS sh FROM sh),
    hashed AS (
      SELECT sh, ({_HLL_REG_SQL}) AS reg, ({_HLL_RHO_SQL}) AS rho FROM occ
    ),
    regs AS (SELECT reg, MAX(rho) AS m_r,
                    COUNT(DISTINCT sh) AS n_distinct
             FROM hashed GROUP BY reg),
    st AS (
      SELECT CAST(SUM(CAST(1 AS BIGINT) << (41 - m_r)) AS BIGINT)
               AS s_present,
             CAST(COUNT(*) AS BIGINT) AS registers_used,
             CAST(MAX(m_r) AS BIGINT) AS max_rho,
             CAST(SUM(n_distinct) AS BIGINT) AS exact_distinct
      FROM regs
    ),
    ex AS (SELECT exact_distinct FROM st)
    SELECT CAST({HLL_M} AS BIGINT) AS m_registers,
           ex.exact_distinct,
           st.registers_used,
           st.max_rho,
           CAST(st.s_present
                + ({HLL_M} - st.registers_used)
                  * (CAST(1 AS BIGINT) << 41) AS BIGINT)
             AS harmonic_sum_scaled,
           {HLL_EST_NUM}
             / CAST(st.s_present
                    + ({HLL_M} - st.registers_used)
                      * (CAST(1 AS BIGINT) << 41) AS DOUBLE)
             AS hll_estimate,
           ({HLL_EST_NUM}
             / CAST(st.s_present
                    + ({HLL_M} - st.registers_used)
                      * (CAST(1 AS BIGINT) << 41) AS DOUBLE)
            - CAST(ex.exact_distinct AS DOUBLE))
             / CAST(ex.exact_distinct AS DOUBLE) AS rel_error
    FROM st, ex
    """,
    tags=("llm", "sketch", "stats"),
)
def d72_hll_distinct_sketch(t):
    """HYPERLOGLOG cardinality of the 3-gram SHINGLE universe — the
    third sketch next to d70 (membership) and d71 (frequency), and
    the number that actually sizes d07's LSH parameters: every
    shingle OCCURRENCE hashes to one of m=256 registers whose value
    is the max leading-zero run rho of a 40-bit md5 window, and the
    harmonic-mean estimate alpha*m^2/sum(2^-M_r) is read off a
    256-row table. The exact COUNT(DISTINCT) runs beside it so the
    output states the realized relative error — the number that
    justifies replacing a corpus-wide distinct shuffle with a 2 KB
    mergeable sketch at 100 TB (registers from every partition merge
    by MAX). The shingle universe (~17k at sf0.01) sits in the raw
    estimator's regime (n >= 2.5m); below that HLL prescribes linear
    counting, which this corpus never triggers.

    Engine-exactness: registers and rho are md5/string/CASE integer
    arithmetic; the harmonic sum is the exact integer
    sum(2^(41-M_r)) (zero registers contribute 2^41); the only
    floats are one literal-constant multiply chain and one division,
    IEEE-identical cross-engine.

    Scale shape: shingling uses the relational posexplode+lead
    builder (HOF lambdas are interpreted — dedup.py:53 — and profile
    ~10x slower here); then ONE register-keyed shuffle for both
    legs — the rho fold collapses map-side to <= 256 rows, and the
    exact ground truth rides the same shuffle because each shingle
    hashes to exactly ONE register, so per-register COUNT(DISTINCT)
    partitions the global distinct set (10x-swept: the sketch row is
    bit-identical under corpus duplication — HLL sees the SET, not
    multiplicity). At 100 TB you'd drop the ground-truth column and
    ship only the 256-register sketch, merged by MAX."""
    occ = DD.exploded_shingles(t.documents).select(
        F.col("shingle").alias("sh")
    )
    regs = (
        occ.select(
            "sh",
            F.expr(_HLL_REG_SPARK).alias("reg"),
            F.expr(_HLL_RHO_SPARK).alias("rho"),
        )
        .groupBy("reg")
        .agg(
            F.max("rho").alias("m_r"),
            F.countDistinct("sh").alias("n_distinct"),
        )
    )
    st = regs.agg(
        F.sum(F.expr("shiftleft(cast(1 as bigint), 41 - m_r)")).alias(
            "s_present"
        ),
        F.count(F.lit(1)).alias("registers_used"),
        F.max("m_r").cast("long").alias("max_rho"),
        F.sum("n_distinct").cast("long").alias("exact_distinct"),
    )
    s_total = (
        F.col("s_present")
        + (F.lit(HLL_M) - F.col("registers_used"))
        * F.expr("shiftleft(cast(1 as bigint), 41)")
    ).cast("long")
    est = F.expr(HLL_EST_NUM) / s_total.cast("double")
    return st.select(
        F.lit(HLL_M).cast("long").alias("m_registers"),
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
        F.col("registers_used").cast("long").alias("registers_used"),
        "max_rho",
        s_total.alias("harmonic_sum_scaled"),
        est.alias("hll_estimate"),
        (
            (est - F.col("exact_distinct").cast("double"))
            / F.col("exact_distinct").cast("double")
        ).alias("rel_error"),
    )




# ------------------------------------- power iteration (top PC)

_PI_QUANT = 1024.0  # embedding quantization: floor(x * 2^10)
_PI_VSCALE = 128.0  # direction rescale target: max|v| = 2^7
_PI_ROUNDS = 3


def _pi_iter_sql(k: int) -> str:
    """One unrolled power-iteration round as oracle CTEs: s_k (per-
    vector dot with v_{k-1}), y_k (the matrix-vector product Q'Q v,
    exact BIGINT sums), the Rayleigh ingredients nm_k/vq_k, and v_k
    (y rescaled to max|v| = 128 with the same FLOOR(x + 0.5) double
    arithmetic the Spark driver loop runs)."""
    return f"""
    s{k} AS (SELECT q.vec_id, SUM(q.qv * v{k - 1}.v) AS s
             FROM q JOIN v{k - 1} USING (pos) GROUP BY q.vec_id),
    y{k} AS (SELECT q.pos, SUM(q.qv * s{k}.s) AS y
             FROM q JOIN s{k} USING (vec_id) GROUP BY q.pos),
    nm{k} AS (SELECT SUM(y{k}.y * v{k - 1}.v) AS num
              FROM y{k} JOIN v{k - 1} USING (pos)),
    vq{k} AS (SELECT SUM(v * v) AS vv FROM v{k - 1}),
    v{k} AS (SELECT pos,
                    CAST(FLOOR(CAST(y AS DOUBLE) * {_PI_VSCALE} / m + 0.5)
                         AS BIGINT) AS v
             FROM y{k},
                  (SELECT CAST(MAX(ABS(y)) AS DOUBLE) AS m FROM y{k}))"""


_PI_R = _PI_ROUNDS  # short alias for the f-string below


@query(
    "d73_power_iteration_top_pc",
    f"""
    WITH q AS (
      SELECT vec_id, pos,
             CAST(FLOOR(CAST(x AS DOUBLE) * {_PI_QUANT}) AS BIGINT) AS qv
      FROM (SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings)
    ),
    v0 AS (SELECT DISTINCT pos, CAST({int(_PI_VSCALE)} AS BIGINT) AS v
           FROM q),
    {",".join(_pi_iter_sql(k) for k in range(1, _PI_ROUNDS + 1))},
    sf AS (SELECT q.vec_id, SUM(q.qv * v{_PI_R}.v) AS s
           FROM q JOIN v{_PI_R} USING (pos) GROUP BY q.vec_id),
    yf AS (SELECT q.pos, SUM(q.qv * sf.s) AS y
           FROM q JOIN sf USING (vec_id) GROUP BY q.pos),
    nmf AS (SELECT SUM(yf.y * v{_PI_R}.v) AS num
            FROM yf JOIN v{_PI_R} USING (pos)),
    vqf AS (SELECT SUM(v * v) AS vv FROM v{_PI_R}),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
    tr AS (SELECT SUM(qv * qv) AS tr FROM q)
    SELECT v{_PI_R}.pos AS pos,
           v{_PI_R}.v AS component,
           {",".join(
               f"CAST(nm{k}.num AS DOUBLE)"
               f" / (CAST(vq{k}.vv AS DOUBLE) * CAST(nn.n AS DOUBLE))"
               f" AS rayleigh_r{k}"
               for k in range(1, _PI_ROUNDS + 1)
           )},
           CAST(nmf.num AS DOUBLE)
             / (CAST(vqf.vv AS DOUBLE) * CAST(nn.n AS DOUBLE))
             AS eigval_quantized,
           CAST(nmf.num AS DOUBLE)
             / (CAST(vqf.vv AS DOUBLE) * CAST(tr.tr AS DOUBLE))
             AS top_share
    FROM v{_PI_R},
         {",".join(f"nm{k}, vq{k}" for k in range(1, _PI_ROUNDS + 1))},
         nmf, vqf, nn, tr
    ORDER BY pos
    """,
    tags=("llm", "linalg", "iterative"),
)
def d73_power_iteration_top_pc(t):
    """POWER ITERATION toward the dominant principal direction of the
    embedding second-moment matrix C = (1/n) X'X — the iterative
    eigensolver next to d51 (covariance) and d57 (PQ k-means),
    matrix-free: no d x d matrix is materialized; each round is two
    relational passes (s_i = x_i . v per vector, y = sum x_i s_i per
    coordinate), exactly how Krylov methods run on data-parallel
    engines (operators/linalg.power_iteration).

    The output carries the per-round Rayleigh quotients: on a PSD
    matrix power iteration increases them monotonically (pinned),
    and their climb rate IS the eigengap — this corpus is near-
    isotropic (lambda2/lambda1 ~ 0.93 at sf0.001), so 3 rounds make
    honest progress, not convergence; on a spectrum WITH a gap the
    same operator recovers the planted direction in 3 rounds
    (pinned on a synthetic spike in tests). Reporting the climb
    rather than pretending a converged vector is the point.

    Engine-exactness (the kmeans_centroids playbook): embeddings
    quantize once to integers; every sum is exact int64 (worst case
    at sf0.1: n = 2^17, |q| < 2^10, |v| <= 2^7 keeps all sums under
    2^62); the inter-round rescale FLOOR(y * 128 / max|y| + 0.5) and
    the final Rayleigh divisions are the only doubles — IEEE-
    identical in driver Python, Spark SQL, and DuckDB.

    Scale shape: the quantized corpus persists once; each round
    broadcasts the 64-row direction against a linear scan plus one
    vector-keyed shuffle. Driver state is the direction, max|y|,
    and four scalars — bounded by dim, never by n. 100 TB: same
    plan, still 3 rounds."""
    # r14 (guide §2.4): the ARRAY-form quantized corpus + dense rounds
    # — one scan-and-aggregate job per round with the direction inlined
    # as literals, no joins, no per-round createDataFrame round-trip
    # (was: two join+groupBy passes per round over the exploded
    # coordinate table). All-integer sums keep v/stats bit-identical
    # to the exploded form (pinned in tests/test_pipeline_round7.py).
    qa = tracked_persist(LA.quantized_vectors(t.embeddings, _PI_QUANT))
    v, stats = LA.power_iteration_dense(qa, _PI_ROUNDS, _PI_VSCALE)
    spark = t._spark
    # Post-loop tail, same dense shape folded into ONE aggregate job:
    # num_f = Σ_j y_j v_j = Σ_i s_i² (exact-integer algebra — s_i is
    # the final-direction dot the yf CTE builds its y from), tr = Σ q²,
    # and n — the oracle computes the identical BIGINTs via its
    # sf/yf/nmf CTEs.
    s_expr = LA.dense_dot(F.col("qv"), [v[p] for p in sorted(v)])
    row_tr = F.aggregate(
        F.transform(F.col("qv"), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    fin = (
        qa.select(s_expr.alias("__s"), row_tr.alias("__t"))
        .agg(
            F.sum(F.col("__s") * F.col("__s")).alias("num_f"),
            F.sum("__t").alias("tr"),
            F.count(F.lit(1)).alias("n"),
        )
        .first()
    )
    num_f, tr, n = fin["num_f"], fin["tr"], fin["n"]
    vv_f = sum(x * x for x in v.values())
    rayleighs = [
        float(num) / (float(vv) * float(n)) for num, vv in stats
    ]
    eigval = float(num_f) / (float(vv_f) * float(n))
    share = float(num_f) / (float(vv_f) * float(tr))
    return spark.createDataFrame(
        [
            (p, v[p], *rayleighs, eigval, share)
            for p in sorted(v)
        ],
        "pos int, component long, "
        + ", ".join(f"rayleigh_r{k} double" for k in range(1, _PI_ROUNDS + 1))
        + ", eigval_quantized double, top_share double",
    ).orderBy("pos")


# --------------------------------------- PageRank canonical pick

_PR_ROUNDS = 3
_PR_SCALE = 1_000_000  # initial integer rank per node
_PR_BASE = 150_000  # (1 - 0.85) * scale, exact integers


def _pr_iter_sql(k: int, weighted: bool = False) -> str:
    """One unrolled integer-PageRank round as oracle CTEs: every node
    splits its rank across its out-edges with floor division, and the
    damped update 150000 + (85 * inflow) // 100 stays in exact BIGINT
    arithmetic (all values nonnegative, so DuckDB's flooring // and
    Spark's truncating // div agree). ``weighted`` scales the teleport
    term by the node's duplicate multiplicity (d89: the random surfer
    restarts proportionally to how many exact copies a representative
    stands for)."""
    base = f"MAX(nw.wt) * {_PR_BASE}" if weighted else f"{_PR_BASE}"
    wt_join = "\n             JOIN nw ON nw.node = e.e_dst" if weighted else ""
    return f"""
    r{k} AS (SELECT e.e_dst AS node,
                    CAST({base}
                         + (85 * SUM(r{k - 1}.r // d.deg)) // 100
                         AS BIGINT) AS r
             FROM edges e
             JOIN r{k - 1} ON r{k - 1}.node = e.e_src
             JOIN deg d ON d.e_src = e.e_src{wt_join}
             GROUP BY e.e_dst)"""


@query(
    "d74_pagerank_canonical_doc",
    f"""
    WITH RECURSIVE {_NEARDUP_CTES},
    {ND.components_sql()},
    deg AS (SELECT e_src, CAST(COUNT(*) AS BIGINT) AS deg
            FROM edges GROUP BY e_src),
    r0 AS (SELECT node, CAST({_PR_SCALE} AS BIGINT) AS r FROM nodes),
    {",".join(_pr_iter_sql(k) for k in range(1, _PR_ROUNDS + 1))}
    SELECT CAST(lab.component AS BIGINT) AS component,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           CAST(MIN(lab.node) AS BIGINT) AS canonical_minid,
           CAST((MAX({{'r': rk.r, 'i': -lab.node}})).i * -1 AS BIGINT)
             AS canonical_pagerank,
           CAST(MAX(rk.r) AS BIGINT) AS top_rank,
           CAST(MIN(lab.node)
                = (MAX({{'r': rk.r, 'i': -lab.node}})).i * -1
                AS BOOLEAN) AS same_pick
    FROM lab JOIN r{_PR_ROUNDS} rk ON rk.node = lab.node
    GROUP BY lab.component ORDER BY component
    """,
    tags=("llm", "dedup", "graph", "iterative"),
    tier="diagnostic",
    production_twin="d89_weighted_pagerank_canonical",
)
def d74_pagerank_canonical_doc(t):
    """PAGERANK over the verified near-dup graph — the canonical-pick
    refinement of d65: min-id keeps an arbitrary cluster member, but
    the member a curation run should keep is the most CENTRAL one
    (the doc most similar to the most others — the medoid the random
    surfer concentrates on). 3 unrolled damped rounds of integer
    PageRank (rank splits over out-edges by floor division; update =
    150000 + 85% of inflow, exact int64 throughout — nonnegative, so
    truncating and flooring division agree cross-engine) over the
    SAME verified pair set as d65, then per component: both canonical
    picks side by side, the winning rank, and whether they agree —
    on symmetric duplicate clusters they usually do; on chain-shaped
    clusters (A~B~C but A!~C) PageRank picks the chain center.

    The oracle re-derives the full graph AND the three rank rounds
    in recursive/unrolled CTEs, so a dropped edge, a wrong degree,
    or one mis-ranked node flips the hash.

    Scale shape: pair generation inherits d07's corpus-linear banded
    form; each rank round shuffles the EDGE set once (deg and rank
    co-partition on the join key); component labels come from the
    pointer-jumped CC (log-diameter rounds, measured flat at 10x).
    Rank state is edge-proportional — but the EDGE SET ITSELF is
    quadratic in duplicate multiplicity (the 100x stress OOMed here,
    SCALING.md): this doc-granular form is the diagnostic tier; the
    PRODUCTION default is d89_weighted_pagerank_canonical
    (exact-dup collapse first, measured at 100x). No driver state at
    all — the loop is fully relational, executed once at the final
    action."""
    edges = ND.rank_edges(ND.verified_pairs(t.documents))
    deg = edges.groupBy("e_src").agg(F.count(F.lit(1)).alias("deg"))
    ranks = (
        edges.select(F.col("e_src").alias("node"))
        .distinct()
        .withColumn("r", F.lit(_PR_SCALE).cast("long"))
    )
    for _ in range(_PR_ROUNDS):
        ranks = (
            edges.join(ranks, ranks.node == edges.e_src)
            .join(deg, "e_src")
            .groupBy("e_dst")
            .agg(F.sum(F.expr("r div deg")).alias("inflow"))
            .select(
                F.col("e_dst").alias("node"),
                (
                    F.lit(_PR_BASE) + F.expr("(85 * inflow) div 100")
                ).cast("long").alias("r"),
            )
        )
    comps = GR.connected_components_from_edges(edges)
    pick = F.max(F.struct(F.col("r"), (-F.col("node")).alias("i")))
    return (
        comps.join(ranks, "node")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min("node").alias("canonical_minid"),
            (pick["i"] * -1).cast("long").alias("canonical_pagerank"),
            F.max("r").cast("long").alias("top_rank"),
            (F.min("node") == pick["i"] * -1).alias("same_pick"),
        )
        .orderBy("component")
    )


@query(
    "d75_bpe_encode_compression",
    f"""{_bpe_ctes()},
    wl AS (
      SELECT lang, wd AS w, CAST(COUNT(*) AS BIGINT) AS occ
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS wd
            FROM documents)
      WHERE wd <> '' GROUP BY lang, wd
    ),
    enc AS (
      SELECT wl.lang,
             SUM(wl.occ) AS n_words,
             SUM(wl.occ * length(wl.w)) AS char_tokens,
             SUM(wl.occ * len(s.syms)) AS bpe_tokens
      FROM wl JOIN s{_BPE_ROUNDS} s ON s.w = wl.w
      GROUP BY wl.lang
    )
    SELECT lang,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(char_tokens AS BIGINT) AS char_tokens,
           CAST(bpe_tokens AS BIGINT) AS bpe_tokens,
           CAST(char_tokens - bpe_tokens AS BIGINT) AS tokens_saved,
           CAST(char_tokens - bpe_tokens AS DOUBLE)
             / CAST(char_tokens AS DOUBLE) AS compression
    FROM enc ORDER BY lang
    """,
    tags=("llm", "tokenizer"),
)
def d75_bpe_encode_compression(t):
    """BPE tokenizer APPLICATION — the encode half d69's trainer
    exists for: encode the whole corpus with the trained merge table
    and account tokens per language. The classical vocab trick makes
    encoding a JOIN, not a per-document fold: after training, every
    word's token count is len(syms) in the final vocab, so corpus
    token mass = sum over (lang, word) occurrences x vocab lookup —
    the form that encodes 100 TB with one corpus scan plus one
    vocab-sized broadcast join, never re-running merges per doc.

    Output per lang: word count, char-level token mass (the
    no-merges baseline), BPE token mass after _BPE_ROUNDS merges,
    and the realized compression — the tokens-per-byte curve a
    tokenizer build tracks as merges accumulate (d69's
    corpus_tokens_after column, here resolved per language).

    Engine-exactness: training inherits d69's bit-identical fold;
    the encode is integer sums of vocab lookups; compression is one
    double division.

    Scale shape: one corpus shuffle to the (lang, word) table; the
    vocab join is broadcast-sized (vocab << corpus); rounds stay
    vocab-local exactly as in d69."""
    sy, _ = _bpe_train(t.documents)
    wl = (
        t.documents.select(
            "lang", F.explode(F.split(F.col("text"), " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("occ"))
    )
    enc = (
        wl.join(sy.select("w", F.size("syms").alias("n_sym")), "w")
        .groupBy("lang")
        .agg(
            F.sum("occ").alias("n_words"),
            F.sum(F.col("occ") * F.length("w")).alias("char_tokens"),
            F.sum(F.col("occ") * F.col("n_sym")).alias("bpe_tokens"),
        )
    )
    return enc.select(
        "lang",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("char_tokens").cast("long").alias("char_tokens"),
        F.col("bpe_tokens").cast("long").alias("bpe_tokens"),
        (F.col("char_tokens") - F.col("bpe_tokens"))
        .cast("long")
        .alias("tokens_saved"),
        (
            (F.col("char_tokens") - F.col("bpe_tokens")).cast("double")
            / F.col("char_tokens").cast("double")
        ).alias("compression"),
    ).orderBy("lang")


# ------------------------------------ histogram quantile sketch

_HQS_W = 4  # bin width (chars); 256 bins cover lengths < 1024
_HQS_BINS = 256


@query(
    "d76_histogram_quantile_sketch",
    f"""
    WITH h AS (
      SELECT lang, LEAST({_HQS_BINS - 1}, n_chars // {_HQS_W}) AS bin,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY lang, bin
    ),
    cum AS (
      SELECT lang, bin, c,
             SUM(c) OVER (PARTITION BY lang ORDER BY bin) AS cum,
             SUM(c) OVER (PARTITION BY lang) AS n
      FROM h
    ),
    pick AS (
      SELECT lang, MAX(n) AS n_docs,
             MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN bin END)
               AS b50,
             MIN(CASE WHEN cum >= (n * 90 + 99) // 100 THEN bin END)
               AS b90,
             CAST(COUNT(*) AS BIGINT) AS bins_used
      FROM cum GROUP BY lang
    ),
    ranked AS (
      SELECT lang, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
               AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM documents
    ),
    ex AS (
      SELECT lang,
             MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN n_chars END)
               AS p50_exact,
             MAX(CASE WHEN rn = (n * 90 + 99) // 100 THEN n_chars END)
               AS p90_exact
      FROM ranked GROUP BY lang
    )
    SELECT p.lang, CAST(p.n_docs AS BIGINT) AS n_docs, p.bins_used,
           CAST(ex.p50_exact AS BIGINT) AS p50_exact,
           CAST(p.b50 * {_HQS_W} AS BIGINT) AS p50_bin_lo,
           CAST(p.b50 * {_HQS_W} + {_HQS_W - 1} AS BIGINT) AS p50_bin_hi,
           CAST(ex.p50_exact BETWEEN p.b50 * {_HQS_W}
                AND p.b50 * {_HQS_W} + {_HQS_W - 1}
                OR p.b50 = {_HQS_BINS - 1} AS BOOLEAN) AS p50_in_bin,
           CAST(ex.p90_exact AS BIGINT) AS p90_exact,
           CAST(p.b90 * {_HQS_W} AS BIGINT) AS p90_bin_lo,
           CAST(p.b90 * {_HQS_W} + {_HQS_W - 1} AS BIGINT) AS p90_bin_hi,
           CAST(ex.p90_exact BETWEEN p.b90 * {_HQS_W}
                AND p.b90 * {_HQS_W} + {_HQS_W - 1}
                OR p.b90 = {_HQS_BINS - 1} AS BOOLEAN) AS p90_in_bin
    FROM pick p JOIN ex ON ex.lang = p.lang
    ORDER BY p.lang
    """,
    tags=("llm", "sketch", "stats"),
)
def d76_histogram_quantile_sketch(t):
    """QUANTILE sketch — the fourth summary next to d70 (membership),
    d71 (frequency), d72 (cardinality): per-language length quantiles
    read off a mergeable 256-bin integer histogram (bin = chars // 4,
    top bin absorbs the tail) instead of d41's global per-language
    sort. The read rule is the first bin whose cumulative count
    reaches the ceil-rank; the histogram guarantee — the exact
    percentile LIVES in that bin, so the error is bounded by the bin
    width 4, a design constant independent of corpus size — is not
    assumed but emitted (p50_in_bin / p90_in_bin) next to d41's exact
    values re-derived in the same query.

    Engine-exactness: bins, cumulative counts, and ceil-ranks are
    pure integer arithmetic; the BETWEEN containment check is
    integer comparison; no floats anywhere.

    Scale shape: the corpus scan collapses map-side into <= 5 x 256
    histogram cells — histograms from every partition MERGE BY
    ADDITION, which is what replaces d41's per-language global sort
    at 100 TB; the exact-percentile leg pays that sort here
    precisely to measure what the sketch trades away."""
    b = F.least(
        F.lit(_HQS_BINS - 1), F.expr(f"n_chars div {_HQS_W}")
    ).alias("bin")
    h = t.documents.select("lang", b).groupBy("lang", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    wcum = Window.partitionBy("lang").orderBy("bin")
    cum = h.select(
        "lang",
        "bin",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(Window.partitionBy("lang")).alias("n"),
    )
    rank50 = F.expr("(n * 50 + 99) div 100")
    rank90 = F.expr("(n * 90 + 99) div 100")
    pick = cum.groupBy("lang").agg(
        F.max("n").alias("n_docs"),
        F.min(F.when(F.col("cum") >= rank50, F.col("bin"))).alias("b50"),
        F.min(F.when(F.col("cum") >= rank90, F.col("bin"))).alias("b90"),
        F.count(F.lit(1)).alias("bins_used"),
    )
    wr = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = t.documents.select(
        "lang",
        "n_chars",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
    )
    ex = ranked.groupBy("lang").agg(
        F.max(F.when(F.col("rn") == rank50, F.col("n_chars"))).alias(
            "p50_exact"
        ),
        F.max(F.when(F.col("rn") == rank90, F.col("n_chars"))).alias(
            "p90_exact"
        ),
    )

    def edges(bcol, exact):
        lo = (F.col(bcol) * _HQS_W).cast("long")
        hi = (F.col(bcol) * _HQS_W + (_HQS_W - 1)).cast("long")
        inb = (
            F.col(exact).between(lo, hi)
            | (F.col(bcol) == _HQS_BINS - 1)
        )
        return lo, hi, inb

    lo50, hi50, in50 = edges("b50", "p50_exact")
    lo90, hi90, in90 = edges("b90", "p90_exact")
    return (
        pick.join(ex, "lang")
        .select(
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("bins_used").cast("long").alias("bins_used"),
            F.col("p50_exact").cast("long").alias("p50_exact"),
            lo50.alias("p50_bin_lo"),
            hi50.alias("p50_bin_hi"),
            in50.alias("p50_in_bin"),
            F.col("p90_exact").cast("long").alias("p90_exact"),
            lo90.alias("p90_bin_lo"),
            hi90.alias("p90_bin_hi"),
            in90.alias("p90_in_bin"),
        )
        .orderBy("lang")
    )


@query(
    "e22_user_burstiness",
    """
    WITH s AS (
      SELECT user_id,
             epoch_us(ts) // 1000000 AS sec,
             ts, event_id
      FROM events
    ),
    g AS (
      SELECT user_id,
             sec - lag(sec) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS d
      FROM s
      QUALIFY lag(sec) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) IS NOT NULL
    ),
    m AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_gaps,
             CAST(SUM(d) AS BIGINT) AS total_gap_s,
             CAST(SUM(d * d) AS BIGINT) AS sumsq
      FROM g GROUP BY user_id
    ),
    c AS (
      SELECT user_id, n_gaps, total_gap_s,
             CAST(total_gap_s AS DOUBLE) / CAST(n_gaps AS DOUBLE)
               AS mean_gap_s,
             sqrt(CAST(n_gaps * sumsq - total_gap_s * total_gap_s
                       AS DOUBLE))
               / CAST(total_gap_s AS DOUBLE) AS cv
      FROM m WHERE n_gaps >= 9 AND total_gap_s > 0
    )
    SELECT user_id, n_gaps, total_gap_s, mean_gap_s, cv,
           (cv - 1.0) / (cv + 1.0) AS burstiness
    FROM c ORDER BY cv DESC, user_id LIMIT 20
    """,
    tags=("events", "stats", "window"),
)
def e22_user_burstiness(t):
    """Inter-event BURSTINESS per user — the arrival-regularity index
    behind bot/fraud triage (Goh & Barabasi 2008): per user, the
    coefficient of variation of inter-event gaps and the bounded
    burstiness score (cv-1)/(cv+1) — -1 = metronome, 0 = Poisson,
    -> 1 = extreme bursts. Top-20 burstiest users with >= 10 events.

    Engine-exactness: gaps are exact integer SECONDS (epoch
    microseconds floor-divided by 10^6 — positive, so Spark's div and
    DuckDB's // agree); n, sum(d), sum(d^2) are exact int64 moments
    (worst case n * T^2 at a year's span and 10^3 events/user stays
    under 2^59 — at larger spans the gap unit co-scales to minutes);
    cv = sqrt(n*sumsq - sum^2)/sum is one correctly-rounded sqrt and
    one division of exact integers — bit-identical cross-engine, and
    the tie-broken (cv DESC, user_id) top-20 is therefore stable.

    Scale shape: one window pass partitioned by user (co-partitioned
    with every other per-user analytic), map-side-combined moment
    aggregation, TakeOrderedAndProject for the top-k — never a global
    sort; gap multisets are invariant to tie order among equal
    timestamps, so the moments don't depend on the window's
    tie-break."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.expr("unix_micros(ts) div 1000000")
    g = (
        t.events.select(
            "user_id",
            (sec - F.lag(sec).over(w)).alias("d"),
        )
        .filter(F.col("d").isNotNull())
    )
    m = g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("d").alias("total_gap_s"),
        F.sum(F.col("d") * F.col("d")).alias("sumsq"),
    )
    c = m.filter((F.col("n_gaps") >= 9) & (F.col("total_gap_s") > 0)).select(
        "user_id",
        F.col("n_gaps").cast("long").alias("n_gaps"),
        F.col("total_gap_s").cast("long").alias("total_gap_s"),
        (
            F.col("total_gap_s").cast("double")
            / F.col("n_gaps").cast("double")
        ).alias("mean_gap_s"),
        (
            F.sqrt(
                (
                    F.col("n_gaps") * F.col("sumsq")
                    - F.col("total_gap_s") * F.col("total_gap_s")
                ).cast("double")
            )
            / F.col("total_gap_s").cast("double")
        ).alias("cv"),
    )
    return c.select(
        "*", ((F.col("cv") - 1.0) / (F.col("cv") + 1.0)).alias("burstiness")
    ).orderBy(F.desc("cv"), "user_id").limit(20)


_D77_SHORTLIST = 10  # ADC shortlist size fed to the exact re-rank
_D77_K = 3  # final neighbors returned per query


def _ivfpq_rerank_oracle() -> str:
    """d58's full oracle chain + the exact-cosine re-rank: the ADC
    top-10 shortlist joins back to the RAW embeddings, scores with
    the d09 exact-cosine fold, and the final top-3 ranks on the
    exact score."""
    return f"""
    WITH {SIM.kmeans_chain(2)},
    {PQ.pq_lut_sql()},
    {PQ.adc_sql()},
    short AS (SELECT query_id, neighbor_id, iscore,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY iscore DESC, neighbor_id)
                       AS adc_rank
              FROM adc),
    sl AS (SELECT * FROM short WHERE adc_rank <= {_D77_SHORTLIST}),
    prs AS (SELECT s.query_id, s.neighbor_id, s.iscore, s.adc_rank,
                   eq.embedding AS qv, en.embedding AS cv
            FROM sl s
            JOIN embeddings eq ON eq.vec_id = s.query_id
            JOIN embeddings en ON en.vec_id = s.neighbor_id),
    {SIM.cosine_sql("dots2", "prs", ("query_id", "neighbor_id", "iscore", "adc_rank"))},
    rr AS (SELECT query_id, neighbor_id, adc_rank,
                  CAST(iscore AS DOUBLE) / {PQ.ADC_SCALE} AS adc_score,
                  score AS exact_cos
           FROM dots2)
    SELECT query_id, neighbor_id,
           CAST(adc_rank AS BIGINT) AS adc_rank, adc_score, exact_cos,
           CAST(final_rank AS BIGINT) AS final_rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY exact_cos DESC, neighbor_id)
                      AS final_rank
          FROM rr)
    WHERE final_rank <= {_D77_K}
    ORDER BY query_id, final_rank
    """


@query(
    "d77_ivfpq_rerank_topk",
    _ivfpq_rerank_oracle(),
    tags=("llm", "similarity", "quantization"),
)
def d77_ivfpq_rerank_topk(t):
    """IVF-PQ search with EXACT RE-RANKING — the third stage that
    completes the d57/d58 serving stack (the standard two-phase ANN
    recipe): the 4-bit ADC scan is deliberately lossy, so production
    search keeps an ADC SHORTLIST (top-10 here) and re-scores only
    those candidates against their RAW vectors, paying full float
    math for 10 rows per query instead of the whole cell. Output is
    the final top-3 by exact cosine with the ADC rank alongside — the
    rank churn between the two columns is the measured PQ
    quantization distortion, the number that tunes shortlist depth.

    Engine-exactness: the shortlist inherits d58's integer ADC; the
    re-rank is the d09 exact-cosine fold (norm-hoisted dot /
    (|q||c|)); final order ties break on neighbor id.

    Scale shape: everything through the shortlist inherits d58's
    audited form; the re-rank joins 10 rows per query back to the
    vector table on its key — at billion-vector scale that is the
    point: full vectors are touched only for queries x 10 rows, so
    they can live in slow storage while codes + LUT stay hot."""
    emb = t.embeddings
    adc = PQ.ivfpq_adc(emb)
    w_adc = Window.partitionBy("query_id").orderBy(
        F.desc("iscore"), F.asc("neighbor_id")
    )
    sl = adc.withColumn("adc_rank", F.row_number().over(w_adc)).filter(
        F.col("adc_rank") <= _D77_SHORTLIST
    )
    qv = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        SIM.norm(F.col("embedding")).alias("qnrm"),
    )
    cv = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        SIM.norm(F.col("embedding")).alias("cnrm"),
    )
    rr = (
        sl.join(qv, "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.col("adc_rank").cast("long").alias("adc_rank"),
            (F.col("iscore").cast("double") / F.lit(float(PQ.ADC_SCALE))).alias(
                "adc_score"
            ),
            (
                SIM.dot(F.col("qv"), F.col("cv"))
                / (F.col("qnrm") * F.col("cnrm"))
            ).alias("exact_cos"),
        )
    )
    w_fin = Window.partitionBy("query_id").orderBy(
        F.desc("exact_cos"), F.asc("neighbor_id")
    )
    return (
        rr.withColumn("final_rank", F.row_number().over(w_fin))
        .filter(F.col("final_rank") <= _D77_K)
        .select(
            "query_id",
            "neighbor_id",
            "adc_rank",
            "adc_score",
            "exact_cos",
            F.col("final_rank").cast("long").alias("final_rank"),
        )
        .orderBy("query_id", "final_rank")
    )


@query(
    "d78_decontamination_certificate",
    f"""
    WITH {ND.shingles_sql()},
    {CUR.overlap_sql()},
    sh2 AS (
      SELECT s.doc_id, s.shingle FROM shd s
      LEFT JOIN leaky l ON l.train_doc = s.doc_id
      WHERE l.train_doc IS NULL
    ),
    {CUR.overlap_sql("sh2", "2")},
    clean AS (
      SELECT d.doc_id, d.lang FROM documents d
      LEFT JOIN leaky l ON l.train_doc = d.doc_id
      WHERE {CUR.ORACLE_BUCKET.replace("doc_id", "d.doc_id")} < 80
        AND l.train_doc IS NULL
    )
    SELECT c.lang,
           CAST(COUNT(*) AS BIGINT) AS n_clean,
           CAST(SUM(CASE WHEN r.train_doc IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS residual_leaky,
           CAST(SUM(CASE WHEN r.train_doc IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS residual_pct
    FROM clean c LEFT JOIN leaky2 r ON r.train_doc = c.doc_id
    GROUP BY c.lang ORDER BY c.lang
    """,
    tags=("llm", "eval", "split"),
)
def d78_decontamination_certificate(t):
    """The decontamination CERTIFICATE — the audit a pipeline runs on
    its own d55 output before shipping, and it is NOT vacuous:
    removing the leaky docs CHANGES document frequencies, so a
    shingle that was too common to be informative (df > 50) on the
    dirty corpus can drop into the informative band on the cleaned
    one and expose overlaps round 1 never tested. The certificate
    re-derives the informative set and the >= 2-shingle rule over the
    post-removal corpus and reports, per lang, the clean-train size
    and the RESIDUAL leaky count — zero means certified; nonzero is
    the exact iteration signal (run d55's rule again) with its
    magnitude. This is why production decontamination loops to a
    fixed point instead of trusting one pass.

    Scale shape: both rounds are the audited d25/d55 inverted-index
    form (informative-shingle equi-joins, never all-pairs); the
    leaky/residual sets stay unhinted (data-dependent, the round-6
    lesson) so AQE picks broadcast vs sort-merge; the rollup is
    langs-thin."""
    sh = tracked_persist(
        DD.exploded_shingles(t.documents, "doc_id", "text", 3).distinct()
    )
    # read twice (the round-2 shingle set and the clean split): persist
    # it so its overlap aggregate runs once
    leaky = tracked_persist(CUR.leaky(sh))
    sh2 = tracked_persist(
        sh.join(leaky, sh.doc_id == leaky.train_doc, "left_anti")
    )
    residual = CUR.leaky(sh2)
    clean = (
        t.documents.withColumn("bucket", F.expr(CUR.SPARK_BUCKET))
        .filter(F.col("bucket") < 80)
        .join(leaky, F.col("doc_id") == leaky.train_doc, "left_anti")
        .select("doc_id", "lang")
    )
    j = clean.join(residual, clean.doc_id == residual.train_doc, "left")
    hit = F.col("train_doc").isNotNull()
    return (
        j.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_clean"),
            F.sum(hit.cast("long")).alias("residual_leaky"),
            (
                F.sum(hit.cast("long")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("residual_pct"),
        )
        .orderBy("lang")
    )


@query(
    "d79_robust_mad_outlier_gate",
    f"""
    WITH {ROB.mad_sql("documents", "n_chars", "doc_id", ("lang",))}
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(m1.med) AS BIGINT) AS median_chars,
           CAST(MAX(m2.mad) AS BIGINT) AS mad_chars,
           CAST(SUM(CASE WHEN {ROB.outlier_sql("d.ad", "m2.mad")}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(SUM(CASE WHEN {ROB.outlier_sql("d.ad", "m2.mad")}
                    THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS outlier_pct
    FROM dev d
    JOIN med m1 ON m1.lang = d.lang
    JOIN mad m2 ON m2.lang = d.lang
    GROUP BY d.lang ORDER BY d.lang
    """,
    tags=("llm", "quality", "stats"),
)
def d79_robust_mad_outlier_gate(t):
    """ROBUST outlier gating by median/MAD — the outlier-resistant
    alternative to d22's mean/std z-scores (a handful of giant crawl
    artifacts inflate the std enough to hide themselves; the median
    absolute deviation does not budge): per language, the exact
    integer-rank median of doc lengths, the exact MAD, and the count
    flagged by the standard |x - med| > 3 * 1.4826 * MAD rule — with
    the consistency constant applied as INTEGER CROSS-MULTIPLICATION,
    so the gate decision never touches a float; only the final
    percentage divides. The chain is ``operators/robust.py``'s
    ``mad_frame`` per language (hq34 and hq48 run its global form).

    Engine-exactness: both medians are d41's ceil-rank PERCENTILE_DISC
    derivation (value at rank (n*50+99) div 100, ties on doc_id);
    deviations and the gate are pure int64.

    Scale shape: two per-language rank windows (the honest cost of
    exact order statistics — the d76 histogram sketch is the
    replace-this-at-100TB answer, with its error bound measured
    there); the per-lang medians broadcast back (5 rows); the rollup
    is map-side-combined."""
    out = ROB.outlier()
    return (
        ROB.mad_frame(t.documents, "n_chars", "doc_id", ("lang",))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("med").cast("long").alias("median_chars"),
            F.max("mad").cast("long").alias("mad_chars"),
            F.sum(out.cast("long")).alias("n_outliers"),
            (
                F.sum(out.cast("long")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("outlier_pct"),
        )
        .orderBy("lang")
    )


@query(
    "e23_session_type_lift",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '5 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    sessions AS (
      SELECT user_id, event_type,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_no
      FROM ordered
    ),
    st AS (SELECT DISTINCT user_id, session_no, event_type FROM sessions),
    ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions FROM
           (SELECT DISTINCT user_id, session_no FROM st)),
    ca AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t
           FROM st GROUP BY event_type),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM st a JOIN st b
        ON a.user_id = b.user_id AND a.session_no = b.session_no
       AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.n_both,
           za.n_t AS n_a, zb.n_t AS n_b, ns.n_sessions,
           CAST(p.n_both AS DOUBLE) / CAST(ns.n_sessions AS DOUBLE)
             AS support,
           CAST(p.n_both * ns.n_sessions AS DOUBLE)
             / CAST(za.n_t * zb.n_t AS DOUBLE) AS lift
    FROM pairs p
    JOIN ca za ON za.event_type = p.type_a
    JOIN ca zb ON zb.event_type = p.type_b, ns
    ORDER BY p.type_a, p.type_b
    """,
    tags=("events", "sessions", "stats"),
)
def e23_session_type_lift(t):
    """Event-type CO-OCCURRENCE LIFT within sessions — the
    association-mining step past e12's adjacent-transition matrix:
    for every unordered type pair, how much more often do the two
    co-occur in one 5-minute-gap session than independence predicts
    (lift = P(a AND b) / (P(a) P(b)))? Lift >> 1 pairs are the
    behavioral bundles (view+click), lift << 1 the substitutes —
    the session-level signal a recommender or funnel design reads.
    Sessions come from the e03 machinery (Spark session_window; the
    oracle's gaps-and-islands twin).

    Engine-exactness: all counts are exact integers over the DISTINCT
    (session, type) set; support and lift are single divisions of
    exact integer products.

    Scale shape: the session tag is one user-partitioned window (the
    e03 shape); the distinct (session, type) frame is <= 5 rows per
    session; the pair self-join is session-keyed with <= 5 types a
    side (bounded fan-out 10 pairs/session, never corpus-quadratic);
    the rollup collapses to <= C(types,2) rows map-side."""
    sess = (
        t.events.groupBy(
            "user_id", F.session_window("ts", "5 minutes").alias("w")
        )
        .agg(F.collect_set("event_type").alias("types"))
        .select(
            "user_id", F.col("w.start").alias("ss"), F.explode("types").alias("ty")
        )
    )
    st = tracked_persist(sess)
    ns = st.select("user_id", "ss").distinct().count()
    ca = st.groupBy("ty").agg(F.count(F.lit(1)).alias("n_t"))
    a, b = st.alias("a"), st.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.ss") == F.col("b.ss"))
            & (F.col("a.ty") < F.col("b.ty")),
        )
        .groupBy(F.col("a.ty").alias("type_a"), F.col("b.ty").alias("type_b"))
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ca_a = ca.select(F.col("ty").alias("type_a"), F.col("n_t").alias("n_a"))
    ca_b = ca.select(F.col("ty").alias("type_b"), F.col("n_t").alias("n_b"))
    return (
        pairs.join(F.broadcast(ca_a), "type_a")
        .join(F.broadcast(ca_b), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            F.lit(ns).cast("long").alias("n_sessions"),
            (F.col("n_both").cast("double") / F.lit(float(ns))).alias(
                "support"
            ),
            (
                (F.col("n_both") * F.lit(ns)).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


def _dense_hourly_grid(t):
    """Zero-filled (event_type, hour-index, count) grid over the full
    observed span — e15's calendar-spine discipline shared by e24/e25:
    the dense hour spine (from the 1-row span aggregate) cross-joins
    the broadcast type dimension, then left-joins the observed hourly
    counts; missing hours coalesce to 0. Both cross-join sides are
    corpus-independent (calendar span x distinct types). Persisted:
    every consumer reads the one materialized grid."""
    b = t.events.select(
        "event_type",
        F.expr("unix_micros(ts) div 1000000 div 3600").alias("hidx"),
    )
    span = b.agg(F.min("hidx").alias("lo"), F.max("hidx").alias("hi"))
    hours = span.select(
        F.explode(F.sequence("lo", "hi")).alias("hidx")
    )
    types = b.select("event_type").distinct()
    cnt = b.groupBy("event_type", "hidx").agg(F.count(F.lit(1)).alias("n"))
    grid = (
        hours.crossJoin(F.broadcast(types))
        .join(cnt, ["event_type", "hidx"], "left")
        .select(
            "event_type",
            "hidx",
            F.coalesce("n", F.lit(0).cast("long")).alias("n"),
        )
    )
    return tracked_persist(grid)


# Oracle CTE chain for the dense hourly grid (the SQL twin of
# ``_dense_hourly_grid`` — shared by e24/e25 so the two queries pin
# the SAME spine semantics).
_HOUR_GRID_SQL = """
    b AS (
      SELECT event_type, epoch_us(ts) // 1000000 // 3600 AS hidx
      FROM events
    ),
    span AS (SELECT MIN(hidx) AS lo, MAX(hidx) AS hi FROM b),
    hours AS (SELECT unnest(generate_series(lo, hi)) AS hidx FROM span),
    types AS (SELECT DISTINCT event_type FROM b),
    cnt AS (SELECT event_type, hidx, CAST(COUNT(*) AS BIGINT) AS n
            FROM b GROUP BY 1, 2),
    grid AS (
      SELECT t.event_type, h.hidx, COALESCE(c.n, 0) AS n
      FROM hours h CROSS JOIN types t
      LEFT JOIN cnt c ON c.event_type = t.event_type AND c.hidx = h.hidx
    )"""


def _e24_lag_sql(lag: int) -> str:
    """Oracle CTEs for one autocorrelation lag: dense-spine pairs via
    lead(lag) (the spine has no holes, so lead k IS hidx+k), exact
    integer moment sums, and the cross-multiplied Pearson ratio with
    NULLIF-guarded zero-variance denominators."""
    return f"""
    p{lag} AS (
      SELECT event_type, n AS x,
             lead(n, {lag}) OVER (PARTITION BY event_type
                                  ORDER BY hidx) AS y
      FROM grid
      QUALIFY lead(n, {lag}) OVER (PARTITION BY event_type
                                   ORDER BY hidx) IS NOT NULL
    ),
    m{lag} AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nn,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM p{lag} GROUP BY event_type
    ),
    r{lag} AS (
      SELECT event_type,
             CAST(nn * sxy - sx * sy AS DOUBLE)
               / NULLIF(sqrt(CAST(nn * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(nn * syy - sy * sy AS DOUBLE)), 0.0)
               AS r
      FROM m{lag}
    )"""


@query(
    "e24_diurnal_autocorrelation",
    f"""
    WITH {_HOUR_GRID_SQL},
    {_e24_lag_sql(1)},
    {_e24_lag_sql(24)},
    nh AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours
           FROM grid GROUP BY event_type)
    SELECT nh.event_type, nh.n_hours, r1.r AS r_lag1, r24.r AS r_lag24
    FROM nh
    JOIN r1 ON r1.event_type = nh.event_type
    JOIN r24 ON r24.event_type = nh.event_type
    ORDER BY nh.event_type
    """,
    tags=("events", "timeseries", "stats"),
)
def e24_diurnal_autocorrelation(t):
    """DIURNAL periodicity detection — the seasonality check behind
    capacity planning and anomaly baselining (e11 thresholds assume
    stationarity; this measures how false that is): per event type,
    the Pearson autocorrelation of the ZERO-FILLED hourly count
    series at lag 1 (short-term burst persistence) and lag 24 (the
    day cycle). r_lag24 >> r_lag1 is a strongly diurnal stream —
    baseline per hour-of-day; r_lag24 ~ 0 means a flat baseline is
    honest. The spine matters: computing over only OBSERVED hours
    (e15's lesson) silently deletes the quiet half of the cycle.

    Engine-exactness: hour indexes and the dense spine are exact
    integers (positive floor division); all five moment sums are
    exact int64 (720 hours x counts^2 is tiny); the Pearson ratio is
    the d73/e22 pattern — integer cross-multiplication inside, two
    correctly-rounded sqrts and one division outside, zero-variance
    denominators NULLIF-guarded identically on both engines.

    Scale shape: one hour-keyed rollup with map-side partials; the
    spine is span-sized (bounded by calendar time, not events) and
    cross-joins only the type dimension; the lag pairing is a dense-
    spine lead window partitioned by type — at years x thousands of
    types this is the e15 grid plus two windows, corpus-independent."""
    grid = _dense_hourly_grid(t)

    def corr_at(lag):
        w = Window.partitionBy("event_type").orderBy("hidx")
        p = grid.select(
            "event_type",
            F.col("n").alias("x"),
            F.lead("n", lag).over(w).alias("y"),
        ).filter(F.col("y").isNotNull())
        m = p.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("nn"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
        den = F.sqrt(
            (F.col("nn") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
        ) * F.sqrt(
            (F.col("nn") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                "double"
            )
        )
        num = (
            F.col("nn") * F.col("sxy") - F.col("sx") * F.col("sy")
        ).cast("double")
        return m.select(
            "event_type",
            F.when(den != 0.0, num / den).alias(f"r_lag{lag}"),
        )

    nh = grid.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_hours"))
    return (
        nh.join(corr_at(1), "event_type")
        .join(corr_at(24), "event_type")
        .orderBy("event_type")
    )


@query(
    "e25_seasonal_rebaseline",
    f"""
    WITH {_HOUR_GRID_SQL},
    g2 AS (SELECT event_type, hidx, n, hidx % 24 AS hod FROM grid),
    flat AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
             CAST(SUM(n) AS BIGINT) AS s, CAST(SUM(n * n) AS BIGINT) AS ss
      FROM grid GROUP BY event_type
    ),
    seas AS (
      SELECT event_type, hod, CAST(COUNT(*) AS BIGINT) AS nh,
             CAST(SUM(n) AS BIGINT) AS sh, CAST(SUM(n * n) AS BIGINT) AS ssh
      FROM g2 GROUP BY 1, 2
    ),
    fl AS (
      SELECT g.event_type,
             CASE WHEN g.n * f.n_hours - f.s > 0
                   AND (g.n * f.n_hours - f.s) * (g.n * f.n_hours - f.s)
                       > 4 * (f.n_hours * f.ss - f.s * f.s)
                  THEN 1 ELSE 0 END AS ff,
             CASE WHEN g.n * se.nh - se.sh > 0
                   AND (g.n * se.nh - se.sh) * (g.n * se.nh - se.sh)
                       > 4 * (se.nh * se.ssh - se.sh * se.sh)
                  THEN 1 ELSE 0 END AS fs
      FROM g2 g
      JOIN flat f ON f.event_type = g.event_type
      JOIN seas se ON se.event_type = g.event_type AND se.hod = g.hod
    ),
    agg AS (
      SELECT event_type, CAST(SUM(ff) AS BIGINT) AS n_flag_flat,
             CAST(SUM(fs) AS BIGINT) AS n_flag_seasonal
      FROM fl GROUP BY event_type
    ),
    pk AS (
      SELECT event_type,
             CAST((MAX({{'c': sh, 'i': -hod}})).i * -1 AS BIGINT) AS peak_hod,
             CAST(MAX(sh) AS BIGINT) AS peak_hod_events
      FROM seas GROUP BY event_type
    )
    SELECT f.event_type, f.n_hours, a.n_flag_flat, a.n_flag_seasonal,
           pk.peak_hod, pk.peak_hod_events
    FROM flat f
    JOIN agg a ON a.event_type = f.event_type
    JOIN pk ON pk.event_type = f.event_type
    ORDER BY f.event_type
    """,
    tags=("events", "timeseries", "quality"),
)
def e25_seasonal_rebaseline(t):
    """Hour-of-day SEASONAL re-baselining — e24's conclusion
    operationalized: e11 flags hours against one flat per-type mean,
    but a strongly diurnal stream (r_lag24 >> 0) makes every evening
    peak a false alarm and every overnight outage invisible. Here each
    zero-filled grid hour is tested one-sided (> 2 sigma, e11's exact
    cross-multiplied rule) against BOTH baselines — the flat per-type
    stats and the per-(type, hour-of-day) stats — and the per-type
    flag counts are reported side by side with the peak hour-of-day.
    n_flag_seasonal << n_flag_flat is the measured payoff of
    seasonality-aware alerting; equality means the stream really is
    flat and e11's cheap baseline is honest.

    Engine-exactness: the grid and both moment sets are exact int64
    (e24's spine; hidx >= 0 for post-1970 data so Spark % and DuckDB %
    agree); each flag is an integer cross-multiplied comparison —
    no division, no sqrt. The peak pick is the hq34 struct-argmax
    (max events, ties -> lowest hour).

    Scale shape: one persisted calendar-bounded grid (e24's), two
    map-side-collapsing rollups (types and types x 24 rows), and a
    grid-sized probe joining two broadcast stat tables — no window,
    corpus touched once through the shared grid."""
    grid = _dense_hourly_grid(t)
    g2 = grid.withColumn("hod", F.col("hidx") % 24)
    flat = grid.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("ss"),
    )
    seas = g2.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum("n").alias("sh"),
        F.sum(F.col("n") * F.col("n")).alias("ssh"),
    )
    seas = tracked_persist(seas)
    dflat = F.col("n") * F.col("n_hours") - F.col("s")
    dseas = F.col("n") * F.col("nh") - F.col("sh")
    ff = (dflat > 0) & (
        dflat * dflat > 4 * (F.col("n_hours") * F.col("ss") - F.col("s") * F.col("s"))
    )
    fs = (dseas > 0) & (
        dseas * dseas > 4 * (F.col("nh") * F.col("ssh") - F.col("sh") * F.col("sh"))
    )
    agg = (
        g2.join(F.broadcast(flat), "event_type")
        .join(F.broadcast(seas), ["event_type", "hod"])
        .groupBy("event_type")
        .agg(
            F.sum(ff.cast("long")).alias("n_flag_flat"),
            F.sum(fs.cast("long")).alias("n_flag_seasonal"),
        )
    )
    pick = F.max(F.struct(F.col("sh").alias("c"), (-F.col("hod")).alias("i")))
    pk = seas.groupBy("event_type").agg(
        (pick["i"] * -1).cast("long").alias("peak_hod"),
        F.max("sh").cast("long").alias("peak_hod_events"),
    )
    return (
        flat.select("event_type", "n_hours")
        .join(agg, "event_type")
        .join(pk, "event_type")
        .orderBy("event_type")
    )


@query(
    "d80_tfidf_doc_keywords",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    dfreq AS (
      SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok GROUP BY term
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok WHERE doc_id < 20 GROUP BY 1, 2
    ),
    sc AS (
      SELECT t.doc_id, t.term, t.tf, d.df,
             CAST(t.tf * (2 * nd.n_docs - 2 * d.df + 1) AS DOUBLE)
               / CAST(2 * d.df + 1 AS DOUBLE) AS score
      FROM tf t JOIN dfreq d ON d.term = t.term, nd
    )
    SELECT doc_id, CAST(rn AS BIGINT) AS rank, term, tf, df, score
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rn
      FROM sc
    )
    WHERE rn <= 3
    ORDER BY doc_id, rank
    """,
    tags=("llm", "text", "retrieval"),
)
def d80_tfidf_doc_keywords(t):
    """Per-document KEYWORD extraction by tf-idf — the labeling /
    topical-indexing primitive between d27's corpus vocabulary and
    d30's fixed-term BM25: for each doc in a bounded demo set
    (doc_id < 20, d09's bounded-query contract), the top-3 terms by
    tf x rational-idf, where the document frequency is computed over
    the WHOLE corpus (the distributed part). The rational idf
    (2N - 2df + 1) / (2df + 1) is d30's ln-free BM25 idf scaled by 2
    to stay integral — monotone in the real thing, engine-exact.

    Engine-exactness: tf/df/N are exact int64; the score is ONE double
    division of exact integer products (identical expression both
    engines), ties broken lexicographically by term.

    Scale shape: the corpus is tokenized once; docfreq collapses
    map-side to a vocab-sized aggregate; the bounded tf set broadcasts
    into the vocab join (corpus-side never shuffles to the query); the
    per-doc top-3 runs through grouped_topk (two-phase, no
    single-reducer window over the corpus). Output is 3 rows per
    target doc."""
    tok = t.documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    dfreq = tok.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    nd = t.documents.agg(F.count(F.lit(1)).alias("n_docs"))
    tf = (
        tok.filter(F.col("doc_id") < 20)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    sc = (
        dfreq.join(F.broadcast(tf), "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (
                (
                    F.col("tf")
                    * (2 * F.col("n_docs") - 2 * F.col("df") + 1)
                ).cast("double")
                / (2 * F.col("df") + 1).cast("double")
            ).alias("score"),
        )
    )
    top = TK.grouped_topk(
        sc, ["doc_id"], [F.desc("score"), F.asc("term")], 3
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("doc_id", "rank", "term", "tf", "df", "score")
        .orderBy("doc_id", "rank")
    )


@query(
    "d81_dsir_hashed_importance",
    """
    WITH tok AS (
      SELECT doc_id, lang,
             substring(md5(unnest(string_split(text, ' '))), 1, 2) AS b
      FROM documents
    ),
    tgt AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS ct
      FROM tok WHERE lang = 'en' GROUP BY 1
    ),
    raw AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS cr
      FROM tok WHERE lang <> 'en' GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nt,
             CAST(SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nr
      FROM tok
    ),
    lean AS (
      SELECT b,
             CASE
               WHEN CAST(COALESCE(ct, 0) + 1 AS HUGEINT) * (nr + 256)
                    > CAST(COALESCE(cr, 0) + 1 AS HUGEINT) * (nt + 256) THEN 1
               WHEN CAST(COALESCE(ct, 0) + 1 AS HUGEINT) * (nr + 256)
                    < CAST(COALESCE(cr, 0) + 1 AS HUGEINT) * (nt + 256) THEN -1
               ELSE 0
             END AS v
      FROM tgt FULL JOIN raw USING (b), tot
    ),
    doc AS (
      SELECT t.doc_id, MIN(t.lang) AS lang,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(l.v) AS BIGINT) AS vote_sum
      FROM tok t JOIN lean l ON l.b = t.b
      WHERE t.lang <> 'en'
      GROUP BY t.doc_id
    ),
    top AS (
      SELECT doc_id, lang, n_tokens, vote_sum,
             CAST(vote_sum AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS vote_share
      FROM doc
      ORDER BY vote_share DESC, doc_id
      LIMIT 10
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY vote_share DESC, doc_id) AS BIGINT)
             AS rank,
           doc_id, lang, n_tokens, vote_sum, vote_share
    FROM top
    ORDER BY rank
    """,
    tags=("llm", "text", "mixture"),
)
def d81_dsir_hashed_importance(t):
    """Data Selection via Importance Resampling, sign-quantized — the
    hashed-n-gram importance scorer of DSIR (Xie et al. 2023,
    arXiv:2302.03169) with the per-feature log-likelihood ratio
    quantized to its SIGN so the whole score is exact int64: build
    bag-of-hashed-token distributions for the TARGET domain (lang='en')
    and the RAW pool (everything else) over 256 md5-prefix buckets,
    mark each bucket target-leaning (+1), raw-leaning (-1) or neutral
    by smoothed cross-multiplied rate comparison, then score every raw
    doc by its token-weighted vote sum. The top-10 raw docs by
    per-token vote share are the ones DSIR would resample toward the
    target — here the measurably most-en-like non-en docs.

    Engine-exactness: bucket ids are md5-hex prefixes (portable string
    hash, functions/text.py convention); the add-one-smoothed rate
    comparison (ct+1)*(nr+256) vs (cr+1)*(nt+256) cross-multiplies in
    128-bit integers (Spark decimal(38,0) / DuckDB HUGEINT) so it
    cannot overflow below ~1e19 tokens per side; votes and vote sums
    are exact int64; vote_share is ONE double division of exact
    integers, identical in both engines (ties broken by doc_id).

    Scale shape: the corpus is tokenized ONCE and persisted through
    both tallies and the doc scorer; the two distributions collapse
    map-side to <=256-row tables; `lean` is a bounded 256-row frame,
    so broadcasting it into the per-doc join is the vetted
    bounded-side hint (the corpus side never shuffles); the global
    top-10 is TakeOrderedAndProject, and the rank window runs over 10
    rows. Job count is fixed; everything else is one corpus scan.
    """
    tok = t.documents.select(
        "doc_id",
        "lang",
        F.explode(F.split("text", " ")).alias("term"),
    ).withColumn("b", F.substring(F.md5("term"), 1, 2)).drop("term")
    tok = tracked_persist(tok)
    is_t = F.col("lang") == "en"
    tgt = tok.filter(is_t).groupBy("b").agg(F.count(F.lit(1)).alias("ct"))
    raw = tok.filter(~is_t).groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    tot = tok.agg(
        F.sum(is_t.cast("long")).alias("nt"),
        F.sum((~is_t).cast("long")).alias("nr"),
    )
    big = "decimal(38,0)"
    lt = (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast(big) * (
        F.col("nr") + 256
    ).cast(big)
    lr = (F.coalesce(F.col("cr"), F.lit(0)) + 1).cast(big) * (
        F.col("nt") + 256
    ).cast(big)
    lean = (
        tgt.join(raw, "b", "full_outer")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.when(lt > lr, 1).when(lt < lr, -1).otherwise(0).alias("v"),
        )
    )
    doc = (
        tok.filter(~is_t)
        .join(F.broadcast(lean), "b")
        .groupBy("doc_id")
        .agg(
            F.min("lang").alias("lang"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("v").alias("vote_sum"),
        )
        .withColumn(
            "vote_share",
            F.col("vote_sum").cast("double") / F.col("n_tokens").cast("double"),
        )
    )
    top = doc.orderBy(F.desc("vote_share"), F.asc("doc_id")).limit(10)
    w = Window.orderBy(F.desc("vote_share"), F.asc("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("rank", "doc_id", "lang", "n_tokens", "vote_sum", "vote_share")
        .orderBy("rank")
    )


@query(
    "e26_km_conversion_survival",
    """
    WITH su AS (
      SELECT user_id, MIN(ts) AS t0
      FROM events WHERE event_type = 'signup' GROUP BY 1
    ),
    pu AS (
      SELECT s.user_id, MIN(e.ts) AS t1
      FROM su s JOIN events e ON e.user_id = s.user_id
        AND e.event_type = 'purchase' AND e.value >= 180.0 AND e.ts >= s.t0
      GROUP BY 1
    ),
    study AS (SELECT MAX(ts) AS tend FROM events),
    durs AS (
      SELECT CASE WHEN p.t1 IS NOT NULL
                  THEN date_diff('day', CAST(s.t0 AS DATE), CAST(p.t1 AS DATE))
                  ELSE date_diff('day', CAST(s.t0 AS DATE), CAST(st.tend AS DATE))
             END AS day,
             CASE WHEN p.t1 IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM su s LEFT JOIN pu p USING (user_id), study st
    ),
    lt AS (
      SELECT CAST(day AS BIGINT) AS day,
             CAST(SUM(ev) AS BIGINT) AS n_events,
             CAST(COUNT(*) - SUM(ev) AS BIGINT) AS n_censored
      FROM durs GROUP BY 1
    ),
    risk AS (
      SELECT day, n_events, n_censored,
             CAST(SUM(n_events + n_censored)
                  OVER (ORDER BY day DESC) AS BIGINT) AS n_risk
      FROM lt
    ),
    ratio AS (
      SELECT *,
             CAST(n_risk - n_events AS DOUBLE) / CAST(n_risk AS DOUBLE) AS r
      FROM risk
    )
    SELECT day, n_risk, n_events, n_censored,
           list_reduce(
             list(r) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             (acc, x) -> acc * x) AS survival
    FROM ratio
    ORDER BY day
    """,
    tags=("events", "funnel", "survival"),
)
def e26_km_conversion_survival(t):
    """Kaplan-Meier survival curve for signup -> first HIGH-VALUE
    purchase (value >= 180), with administrative censoring at the end
    of the observed stream — the censored-data estimator e21's latency
    percentiles cannot provide: users who never convert still
    contribute exposure to every risk set they survive through, so the
    curve is unbiased where a converters-only percentile is not
    (Kaplan & Meier 1958). Emits the classic life table: per distinct
    duration day, the risk-set size, events, censored exits, and the
    product-limit survival estimate.

    Engine-exactness: durations are calendar-day differences of exact
    timestamps; the life table and the reverse-cumulative risk set are
    exact int64 window sums over a DETERMINISTIC day order; each
    per-day ratio is ONE double division of exact integers, and the
    survival product folds those ratios left-to-right in ascending-day
    order on BOTH engines (Spark F.aggregate over a frame-ordered
    collect_list vs DuckDB list_reduce over a frame-ordered list) —
    IEEE multiply/divide are correctly rounded, so identical operand
    sequences give bit-identical doubles; no transcendentals anywhere
    (no exp/ln survival trick).

    Scale shape: the cohort build is two equi-joins on user_id (first
    signup per user, first qualifying purchase after it) — both plain
    shuffle joins, NO broadcast hint, because the cohort is
    user-proportional (the forced-broadcast gate's exact rule); the
    study-end scalar is a 1-row broadcast. Everything after the
    per-day rollup runs on a CALENDAR-BOUNDED life table (<= stream
    span in days — e24/e25's grid argument), so the single-partition
    windows and the O(days^2) frame-ordered fold are bounded by the
    calendar, not the data."""
    ev = t.events
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    pu = (
        su.join(
            ev.filter(
                (F.col("event_type") == "purchase") & (F.col("value") >= 180.0)
            ).select("user_id", "ts"),
            "user_id",
        )
        .filter(F.col("ts") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    tend = ev.agg(F.max("ts").alias("tend"))
    durs = (
        su.join(pu, "user_id", "left")
        .crossJoin(F.broadcast(tend))
        .select(
            F.when(
                F.col("t1").isNotNull(),
                F.datediff(F.to_date("t1"), F.to_date("t0")),
            )
            .otherwise(F.datediff(F.to_date("tend"), F.to_date("t0")))
            .cast("long")
            .alias("day"),
            F.col("t1").isNotNull().cast("long").alias("ev"),
        )
    )
    lt = durs.groupBy("day").agg(
        F.sum("ev").alias("n_events"),
        (F.count(F.lit(1)) - F.sum("ev")).alias("n_censored"),
    )
    w_desc = Window.orderBy(F.desc("day")).rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = lt.withColumn(
        "n_risk",
        F.sum(F.col("n_events") + F.col("n_censored")).over(w_desc),
    )
    ratio = risk.withColumn(
        "r",
        (F.col("n_risk") - F.col("n_events")).cast("double")
        / F.col("n_risk").cast("double"),
    )
    w_asc = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    surv = ratio.withColumn(
        "survival",
        F.aggregate(
            F.collect_list("r").over(w_asc),
            F.lit(1.0),
            lambda acc, x: acc * x,
        ),
    )
    return surv.select(
        "day", "n_risk", "n_events", "n_censored", "survival"
    ).orderBy("day")


# ------------------------------------------------ d82: IVF-PQ recall

_D82_K = 10  # shortlist depth scored for recall (d77's shortlist size)


@query(
    "d82_ivfpq_recall",
    f"""
    WITH {SIM.kmeans_chain(2)},
    {SIM.nearest_cells_sql("qasgp", "apd2", 2)},
    {PQ.pq_lut_sql()},
    nprobes AS (SELECT 1 AS np UNION ALL SELECT 2),
    cand AS (SELECT p.np, qa.vec_id AS query_id, a.vec_id AS neighbor_id
             FROM nprobes p
             JOIN qasgp qa ON qa.rn <= p.np
             JOIN asg a ON qa.cid = a.cid
             WHERE qa.vec_id < 10 AND a.vec_id <> qa.vec_id),
    adcx AS (SELECT c.np, c.query_id, c.neighbor_id,
                    CAST(SUM(l.ics) AS BIGINT) AS iscore
             FROM cand c
             JOIN codes k ON k.vec_id = c.neighbor_id
             JOIN lut l ON l.query_id = c.query_id AND l.m = k.m
                        AND l.code = k.cid
             GROUP BY c.np, c.query_id, c.neighbor_id),
    sl AS (SELECT np, query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY np, query_id
                                         ORDER BY iscore DESC, neighbor_id) AS rn
            FROM adcx) WHERE rn <= {_D82_K}),
    bfq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
            WHERE vec_id < 10),
    bfp AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                   q.qv, e.embedding AS cv
            FROM bfq q, embeddings e WHERE e.vec_id <> q.query_id),
    {SIM.cosine_sql("bfd", "bfp", ("query_id", "neighbor_id"))},
    bf AS (SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, neighbor_id) AS rn
            FROM bfd) WHERE rn <= {_D82_K}),
    hits AS (SELECT s.np, CAST(COUNT(*) AS BIGINT) AS n_hits
             FROM sl s JOIN bf b USING (query_id, neighbor_id)
             GROUP BY s.np),
    nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM bfq)
    SELECT CAST(p.np AS BIGINT) AS nprobe,
           nq.n_queries,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
             / ({_D82_K} * CAST(nq.n_queries AS DOUBLE)) AS recall_at_10
    FROM nprobes p CROSS JOIN nq LEFT JOIN hits h ON h.np = p.np
    ORDER BY nprobe
    """,
    tags=("llm", "similarity", "eval", "quantization"),
)
def d82_ivfpq_recall(t):
    """Recall evaluation for the IVF-PQ SERVING path — the measured-
    quality number the ANN family owed (d16 scores LSH only; d77 emits
    rank churn but never scores the shortlist against ground truth):
    recall@10 of the ADC shortlist (exactly what d77 re-ranks) versus
    d09's exact brute-force top-10, swept over nprobe ∈ {1, 2}. This
    is THE tuning curve for an IVF-PQ deployment — it prices the
    recall bought by each extra probed cell, next to d58/d77 which
    price the cost side.

    Engine-exactness: hit counts are integers over bit-matching
    shortlists (d58's integer ADC, d09's exact cosine fold, ties on
    neighbor id); recall is one integer/integer double division —
    IEEE-exact on both engines.

    Scale shape: the brute-force arm is the eval harness, not the
    serving path — at production scale ground truth is computed once
    for a FIXED query panel (here: 10 queries), so its cost is
    queries x corpus with the query side broadcast, corpus scanned
    once. The ADC arms inherit d58's audited shape; nprobe=2 doubles
    candidate volume (~2·sqrt(N) per query), never all-pairs."""
    emb = t.embeddings
    queries = emb.filter(F.col("vec_id") < 10)
    n_q = queries.count()
    bf = SIM.brute_force_topk(queries, fanout_small(emb), k=_D82_K).select(
        "query_id", "neighbor_id"
    )
    # ONE widest-probe ADC frame; each arm is a probe_rank filter of
    # it (bit-identical to per-arm recomputation — a candidate's cell
    # is unique, so rank <= np IS the nprobe=np candidate set), so the
    # nprobe-independent corpus side (assignment, codes, LUT) runs
    # once, not per arm.
    adc = tracked_persist(PQ.ivfpq_adc(emb, nprobe=2, with_probe_rank=True))
    arms = []
    for np_ in (1, 2):
        w = Window.partitionBy("query_id").orderBy(
            F.desc("iscore"), F.asc("neighbor_id")
        )
        arms.append(
            adc.filter(F.col("probe_rank") <= np_)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _D82_K)
            .select(
                F.lit(np_).cast("long").alias("nprobe"),
                "query_id",
                "neighbor_id",
            )
        )
    sl = arms[0].unionByName(arms[1])
    hits = (
        sl.join(bf, ["query_id", "neighbor_id"])
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    probes = (
        emb.sparkSession.range(1, 3)
        .select(F.col("id").cast("long").alias("nprobe"))
    )
    return (
        probes.join(hits, "nprobe", "left")
        .select(
            "nprobe",
            F.lit(n_q).cast("long").alias("n_queries"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.lit(float(_D82_K * n_q))
            ).alias("recall_at_10"),
        )
        .orderBy("nprobe")
    )


# ------------------------------------------ d83: hard-negative mining

_D83_K = 3  # hard negatives kept per query


@query(
    "d83_hard_negative_mining",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label AS clabel
          FROM embeddings),
    pairs AS (SELECT q.query_id, q.qlabel, c.neighbor_id, c.clabel,
                     q.qv, c.cv
              FROM q JOIN c ON c.clabel <> q.qlabel),
    {SIM.cosine_sql("scored", "pairs", ("query_id", "qlabel", "neighbor_id", "clabel"))}
    SELECT query_id, CAST(qlabel AS INT) AS query_label,
           neighbor_id, CAST(clabel AS INT) AS negative_label,
           CAST(rn AS BIGINT) AS rank, score
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= {_D83_K}
    ORDER BY query_id, rank
    """,
    tags=("llm", "similarity", "training"),
)
def d83_hard_negative_mining(t):
    """HARD-NEGATIVE mining for contrastive training — for each query
    vector, the most-similar vectors carrying a DIFFERENT class label
    (the embeddings table's ``label`` column): maximally confusable
    cross-class pairs, exactly what an InfoNCE/triplet trainer wants
    in the denominator. Labels ride the candidate generation as a
    residual predicate, so the mined negatives need no post-filter.

    Exactness: the d09 cosine fold (norm-hoisted, identical op order)
    with ties on neighbor id; labels are exact ints.

    Scale shape: identical to d09 — the 10-query panel broadcasts,
    the corpus streams once, grouped_topk bounds per-query state. At
    production scale the same predicate composes with the IVF cell
    join (d14) instead of the brute-force scan: nothing here is
    all-pairs in the corpus."""
    emb = t.embeddings
    scored = (
        SIM.panel(emb.filter(F.col("vec_id") < 10), emb, carry=("label",))
        .filter(F.col("clabel") != F.col("qlabel"))
        .select(
            "query_id",
            "qlabel",
            "neighbor_id",
            "clabel",
            SIM.panel_score().alias("score"),
        )
    )
    top = TK.grouped_topk(
        scored,
        ["query_id"],
        [F.desc("score"), F.asc("neighbor_id")],
        _D83_K,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .select(
            "query_id",
            F.col("qlabel").cast("int").alias("query_label"),
            "neighbor_id",
            F.col("clabel").cast("int").alias("negative_label"),
            "rank",
            "score",
        )
        .orderBy("query_id", "rank")
    )


@query(
    "d84_cluster_balanced_sampling",
    f"""
    WITH {SIM.kmeans_chain(2)},
    hist AS (
      SELECT a.cid AS cell_id, {CUR.ORACLE_BUCKET64K} AS bkt, COUNT(*) AS n,
             SUM(CAST(ceil(length(text) / 4.0) AS BIGINT)) AS tokens
      FROM documents JOIN asg a ON a.vec_id = doc_id
      GROUP BY 1, 2
    ),
    {CUR.mixture_report_sql("cell_id")}
    SELECT * FROM report ORDER BY cell_id
    """,
    tags=("llm", "curation", "sampling"),
)
def d84_cluster_balanced_sampling(t):
    """SEMANTIC cluster-balanced downsampling — d42's deterministic
    mixture rule applied to k-means TOPIC cells instead of source
    labels (the DCLM-style move: balance what the data IS about, not
    where it came from, so one over-crawled topic cannot dominate the
    training mix even when its sources look diverse): every cell
    downsamples toward the smallest cell's token mass via the
    content-addressed md5-bucket threshold. Cells come from the
    MATERIALIZED coarse quantizer (d14/d44 machinery), so the topic
    assignment is the same one the ANN index and the cluster profiles
    already use.

    Exactness: integer threshold arithmetic end-to-end (the d42 rule);
    the oracle composes the identical k-means chain.

    Scale shape: one corpus scan folds into a (cell x 65536)-bucket
    histogram with map-side combine; the doc->cell join is id-keyed
    against a vec_id-partitioned assignment; thresholds broadcast.
    Keep decisions remain a pure function of doc_id — re-shardable,
    engine-portable, backfill-stable."""
    emb = t.embeddings
    cents = SIM.materialized_centroids(emb)
    asg = SIM.ivf_assign(emb, cents).select(
        F.col("vec_id").alias("doc_id"), F.col("cid").alias("cell_id")
    )
    hist = (
        t.documents.select(
            "doc_id",
            F.expr(CUR.SPARK_BUCKET64K).alias("bkt"),
            T.bpe_token_estimate("text").alias("tok"),
        )
        .join(asg, "doc_id")
        .groupBy("cell_id", "bkt")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("tok").alias("tokens"))
    )
    return CUR.mixture_report(hist, "cell_id")


@query(
    "e27_cusum_changepoint",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
      FROM events GROUP BY 1, 2
    ),
    span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
    spine AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS day
      FROM span
    ),
    grid AS (
      SELECT t.event_type, s.day,
             COALESCE(d.x, 0) AS x
      FROM (SELECT DISTINCT event_type FROM daily) t
      CROSS JOIN spine s
      LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = s.day
    ),
    tot AS (
      SELECT event_type, SUM(x) AS total, COUNT(*) AS n_days
      FROM grid GROUP BY 1
    ),
    dev AS (
      SELECT g.event_type, g.day,
             CAST(g.x AS BIGINT) * t.n_days - t.total AS d,
             t.total, t.n_days
      FROM grid g JOIN tot t USING (event_type)
    ),
    csum AS (
      SELECT event_type, day, total, n_days,
             SUM(d) OVER (PARTITION BY event_type ORDER BY day
                          ROWS UNBOUNDED PRECEDING) AS s
      FROM dev
    ),
    cusum AS (
      SELECT event_type, day, total, n_days, s,
             MIN(s) OVER (PARTITION BY event_type ORDER BY day
                          ROWS UNBOUNDED PRECEDING) AS lo_s
      FROM csum
    ),
    exc AS (
      SELECT event_type, day, total, n_days, s - lo_s AS m,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY s - lo_s DESC, day) AS rn
      FROM cusum
    )
    SELECT event_type,
           CAST(n_days AS BIGINT) AS n_days,
           CAST(total AS BIGINT) AS total_events,
           day AS change_day,
           CAST(m AS BIGINT) AS max_cusum,
           CAST(m AS DOUBLE) / n_days AS cusum_per_day
    FROM exc WHERE rn = 1
    ORDER BY event_type
    """,
    tags=("events", "timeseries", "anomaly"),
)
def e27_cusum_changepoint(t):
    """CUSUM change-point detection per event type — the sustained-
    LEVEL-SHIFT detector that complements e11's single-hour spikes and
    e17's episodes: on the zero-filled daily grid, fold the exact
    integer deviations dev_d = x_d·D − T (scaled by the day count so
    no fractional mean ever appears; they sum to zero by
    construction), take the running sum S_d, and report the maximum
    upward EXCURSION max_d (S_d − min_{s≤d} S_s) with the day it
    peaks — the classic CUSUM surge-onset statistic, computed entirely
    relationally (two window folds, one rank).

    Exactness: x·D − T and both window folds are int64; the only
    double is the final per-day normalization.

    Scale shape: the corpus folds once to (type, day) counts; the
    spine is calendar-bounded and the type dimension enum-small (the
    e15/p72 bounded-grid shape), so the windows run over calendar ×
    types rows, never events."""
    ev = t.events
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    span = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = span.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 day"))
        ).alias("day")
    )
    types = daily.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(spine))
        .join(daily, ["event_type", "day"], "left")
        .select(
            "event_type", "day", F.coalesce("x", F.lit(0)).alias("x")
        )
    )
    tot = grid.groupBy("event_type").agg(
        F.sum("x").alias("total"), F.count(F.lit(1)).alias("n_days")
    )
    dev = grid.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "day",
        (F.col("x").cast("long") * F.col("n_days") - F.col("total")).alias(
            "d"
        ),
        "total",
        "n_days",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cusum = dev.withColumn("s", F.sum("d").over(w)).withColumn(
        "lo_s", F.min("s").over(w)
    )
    exc = cusum.withColumn("m", F.col("s") - F.col("lo_s"))
    w_rank = Window.partitionBy("event_type").orderBy(
        F.desc("m"), F.asc("day")
    )
    return (
        exc.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("n_days").cast("long").alias("n_days"),
            F.col("total").cast("long").alias("total_events"),
            F.col("day").alias("change_day"),
            F.col("m").cast("long").alias("max_cusum"),
            (F.col("m").cast("double") / F.col("n_days")).alias(
                "cusum_per_day"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "d85_embedding_alignment_eval",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label AS clabel
          FROM embeddings),
    pairs AS (SELECT q.query_id, q.qlabel, c.neighbor_id, c.clabel, q.qv, c.cv
              FROM q JOIN c ON c.neighbor_id <> q.query_id),
    {SIM.cosine_sql("pd", "pairs", ("query_id", "qlabel", "neighbor_id", "clabel"))},
    scored AS (SELECT qlabel, clabel,
                      CAST(round(score, 9) AS DECIMAL(18,9)) AS cos9
               FROM pd),
    rolled AS (
      SELECT qlabel,
             SUM(CASE WHEN qlabel = clabel THEN 1 ELSE 0 END) AS n_same,
             SUM(CASE WHEN qlabel <> clabel THEN 1 ELSE 0 END) AS n_cross,
             SUM(CASE WHEN qlabel = clabel THEN cos9 ELSE 0 END) AS s_same,
             SUM(CASE WHEN qlabel <> clabel THEN cos9 ELSE 0 END) AS s_cross
      FROM scored GROUP BY qlabel
    )
    SELECT CAST(qlabel AS INT) AS query_label,
           CAST(n_same AS BIGINT) AS n_same_pairs,
           CAST(n_cross AS BIGINT) AS n_cross_pairs,
           CAST(s_same AS DOUBLE) / n_same AS mean_same_cos,
           CAST(s_cross AS DOUBLE) / n_cross AS mean_cross_cos,
           CAST(s_same AS DOUBLE) / n_same
             - CAST(s_cross AS DOUBLE) / n_cross AS margin
    FROM rolled
    ORDER BY query_label
    """,
    tags=("llm", "similarity", "eval"),
)
def d85_embedding_alignment_eval(t):
    """Embedding ALIGNMENT/SEPARATION evaluation — the representation-
    quality number behind d83's mining: over the 10-query panel x the
    full corpus, the mean cosine to SAME-label vectors (alignment),
    the mean cosine to CROSS-label vectors (separation), and the
    margin between them, per label. A healthy embedding space has a
    positive margin everywhere; a label whose margin collapses is
    exactly where d83's hard negatives concentrate and where a kNN
    probe (d86) starts misfiring.

    Exactness: per-pair cosines round to DECIMAL(18,9) before the fold
    (the d21 move — a double sum is partition-order-dependent, a
    decimal sum is not); counts are exact ints; the means are one
    double division each.

    Scale shape: d09's broadcast-panel scan — the corpus streams once
    past the 10-query panel and collapses map-side to labels x panel
    rows; nothing all-pairs in the corpus."""
    emb = t.embeddings
    cos9 = F.round(SIM.panel_score(), 9).cast("decimal(18,9)")
    same = F.col("qlabel") == F.col("clabel")
    zero = F.lit(0).cast("decimal(18,9)")
    rolled = (
        SIM.panel(emb.filter(F.col("vec_id") < 10), emb, carry=("label",))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("qlabel", same.alias("is_same"), cos9.alias("cos9"))
        .groupBy("qlabel")
        .agg(
            F.sum(F.when(F.col("is_same"), 1).otherwise(0)).alias("n_same"),
            F.sum(F.when(~F.col("is_same"), 1).otherwise(0)).alias("n_cross"),
            F.sum(F.when(F.col("is_same"), F.col("cos9")).otherwise(zero)).alias(
                "s_same"
            ),
            F.sum(
                F.when(~F.col("is_same"), F.col("cos9")).otherwise(zero)
            ).alias("s_cross"),
        )
    )
    mean_same = F.col("s_same").cast("double") / F.col("n_same")
    mean_cross = F.col("s_cross").cast("double") / F.col("n_cross")
    return rolled.select(
        F.col("qlabel").cast("int").alias("query_label"),
        F.col("n_same").cast("long").alias("n_same_pairs"),
        F.col("n_cross").cast("long").alias("n_cross_pairs"),
        mean_same.alias("mean_same_cos"),
        mean_cross.alias("mean_cross_cos"),
        (mean_same - mean_cross).alias("margin"),
    ).orderBy("query_label")


@query(
    "d86_knn_label_probe",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label AS clabel
          FROM embeddings),
    pairs AS (SELECT q.query_id, q.qlabel, c.neighbor_id, c.clabel, q.qv, c.cv
              FROM q JOIN c ON c.neighbor_id <> q.query_id),
    {SIM.cosine_sql("pd", "pairs", ("query_id", "qlabel", "neighbor_id", "clabel"))},
    topk AS (SELECT query_id, qlabel, neighbor_id, clabel FROM (
               SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY query_id
                 ORDER BY score DESC, neighbor_id) AS rn
               FROM pd) WHERE rn <= 5),
    votes AS (SELECT query_id, qlabel, clabel, COUNT(*) AS v
              FROM topk GROUP BY 1, 2, 3),
    win AS (SELECT query_id, qlabel, clabel, v FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY v DESC, clabel) AS rn
              FROM votes) WHERE rn = 1)
    SELECT query_id,
           CAST(qlabel AS INT) AS true_label,
           CAST(clabel AS INT) AS predicted_label,
           CAST(v AS BIGINT) AS winner_votes,
           qlabel = clabel AS correct
    FROM win
    ORDER BY query_id
    """,
    tags=("llm", "similarity", "eval"),
)
def d86_knn_label_probe(t):
    """kNN LABEL PROBE — the standard no-training embedding-quality
    eval: predict each panel query's label by majority vote of its 5
    exact nearest neighbors (ties -> smallest label), report the
    prediction and whether it matches. Together with d85 (margins)
    and d82/d16 (index recall), the ANN family now measures both the
    SPACE and the INDEX.

    Exactness: d09's cosine fold, deterministic rank ties on neighbor
    id, integer votes with deterministic tie-break.

    Scale shape: d09's broadcast-panel top-k, then two tiny grouped
    ranks over panel x k rows."""
    emb = t.embeddings
    queries = emb.filter(F.col("vec_id") < 10)
    top = SIM.brute_force_topk(queries, fanout_small(emb), k=5).select(
        "query_id", "neighbor_id"
    )
    lab = emb.select("vec_id", "label")
    votes = (
        top.join(
            F.broadcast(
                queries.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("label").alias("qlabel"),
                )
            ),
            "query_id",
        )
        .join(
            lab.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("clabel"),
            ),
            "neighbor_id",
        )
        .groupBy("query_id", "qlabel", "clabel")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("v"), F.asc("clabel"))
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("qlabel").cast("int").alias("true_label"),
            F.col("clabel").cast("int").alias("predicted_label"),
            F.col("v").cast("long").alias("winner_votes"),
            (F.col("qlabel") == F.col("clabel")).alias("correct"),
        )
        .orderBy("query_id")
    )


@query(
    "e28_dau_wau_stickiness",
    """
    WITH user_days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM user_days),
    spine AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS day
      FROM span
    ),
    dau AS (SELECT day, COUNT(*) AS dau FROM user_days GROUP BY 1),
    contrib AS (
      SELECT DISTINCT user_id,
             CAST(unnest(generate_series(day, day + INTERVAL 6 DAY,
                                         INTERVAL 1 DAY)) AS DATE) AS day
      FROM user_days
    ),
    wau AS (SELECT day, COUNT(*) AS wau FROM contrib GROUP BY 1)
    SELECT s.day,
           CAST(COALESCE(d.dau, 0) AS BIGINT) AS dau,
           CAST(COALESCE(w.wau, 0) AS BIGINT) AS wau,
           CAST(COALESCE(d.dau, 0) AS DOUBLE) / NULLIF(w.wau, 0)
             AS stickiness
    FROM spine s
    LEFT JOIN dau d ON d.day = s.day
    LEFT JOIN wau w ON w.day = s.day
    ORDER BY s.day
    """,
    tags=("events", "timeseries", "product"),
)
def e28_dau_wau_stickiness(t):
    """DAU / WAU / stickiness — the canonical product-analytics series
    (how much of the weekly audience shows up daily), computed with
    EXACT rolling distincts and no distinct-over-window state: each
    (user, active-day) row fans out to the <= 7 trailing spine days it
    keeps the user 'weekly active' for, then one DISTINCT collapses
    multi-day users and one count per day reads WAU off the grid. The
    fan-out is a fixed x7, so the shuffle is bounded by 7x the
    user-day grain — never events, never a per-day distinct-users
    window (whose state is users x days).

    Exactness: everything is integer counts on both engines; the
    stickiness ratio is one double division.

    Scale shape: events fold once to DISTINCT user-days (map-side);
    the x7 explode is narrow; the spine is calendar-bounded. At 100 TB
    the user-day grain is the already-reduced table every growth team
    materializes."""
    ev = t.events
    user_days = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    span = user_days.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = span.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias(
            "day"
        )
    )
    dau = user_days.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = (
        user_days.select(
            "user_id",
            F.explode(
                F.sequence(
                    "day", F.date_add("day", 6), F.expr("interval 1 day")
                )
            ).alias("day"),
        )
        .distinct()
    )
    wau = contrib.groupBy("day").agg(F.count(F.lit(1)).alias("wau"))
    return (
        spine.join(dau, "day", "left")
        .join(wau, "day", "left")
        .select(
            "day",
            F.coalesce("dau", F.lit(0)).cast("long").alias("dau"),
            F.coalesce("wau", F.lit(0)).cast("long").alias("wau"),
            (
                F.coalesce("dau", F.lit(0)).cast("double")
                / F.nullif(F.col("wau"), F.lit(0))
            ).alias("stickiness"),
        )
        .orderBy("day")
    )


# --------------------------------- d87: bigram LM surprisal filter

# Tier cuts on the per-doc average surprisal band (integer bits per
# bigram occurrence): fluent/boilerplate docs land low, unseen-word
# noise lands high — CCNet keeps the low-perplexity head and drops the
# tail, so the cut points are the filter's tuning knobs.
_D87_KEEP_MAX = 6
_D87_REVIEW_MAX = 8


@query(
    "d87_bigram_surprisal_filter",
    f"""
    WITH {ND.words_sql()},
    bg AS (
      SELECT doc_id, wd AS w1, lead(wd,1) OVER win AS w2
      FROM w WINDOW win AS (PARTITION BY doc_id ORDER BY i)
      QUALIFY lead(wd,1) OVER win IS NOT NULL
    ),
    b AS (SELECT doc_id, lang, {CUR.ORACLE_BUCKET} AS bucket FROM documents),
    train AS (
      SELECT bg.w1, bg.w2 FROM bg JOIN b USING (doc_id)
      WHERE b.bucket < 80
    ),
    ctx AS (SELECT w1, COUNT(*) AS c1 FROM train GROUP BY 1),
    pair AS (SELECT w1, w2, COUNT(*) AS c2 FROM train GROUP BY 1, 2),
    voc AS (
      SELECT COUNT(*) + 1 AS vs FROM (
        SELECT w1 AS wd FROM train UNION SELECT w2 FROM train)
    ),
    test_occ AS (
      SELECT bg.doc_id, b.lang, bg.w1, bg.w2
      FROM bg JOIN b USING (doc_id) WHERE b.bucket >= 90
    ),
    sc AS (
      SELECT o.doc_id, o.lang,
             length(bin(COALESCE(c.c1, 0) + v.vs))
               - length(bin(COALESCE(p.c2, 0) + 1)) AS bits,
             CASE WHEN p.c2 IS NULL THEN 1 ELSE 0 END AS unseen
      FROM test_occ o CROSS JOIN voc v
      LEFT JOIN ctx c ON c.w1 = o.w1
      LEFT JOIN pair p ON p.w1 = o.w1 AND p.w2 = o.w2
    ),
    per_doc AS (
      SELECT doc_id, lang, COUNT(*) AS n_bg, SUM(bits) AS sum_bits,
             SUM(unseen) AS n_unseen
      FROM sc GROUP BY 1, 2
    )
    SELECT lang,
           CAST(sum_bits // n_bg AS BIGINT) AS bits_band,
           CASE WHEN sum_bits // n_bg <= {_D87_KEEP_MAX} THEN 'keep'
                WHEN sum_bits // n_bg <= {_D87_REVIEW_MAX} THEN 'review'
                ELSE 'drop' END AS tier,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_bg) AS BIGINT) AS total_bigrams,
           CAST(SUM(n_unseen) AS BIGINT) AS unseen_pairs,
           CAST(MIN(doc_id) AS BIGINT) AS sample_doc
    FROM per_doc
    GROUP BY lang, sum_bits // n_bg
    ORDER BY lang, bits_band
    """,
    tags=("llm", "quality", "filter", "lm"),
)
def d87_bigram_surprisal_filter(t):
    """CCNet-style LM-perplexity FILTERING, engine-exact: train an
    add-one-smoothed bigram language model on the content-addressed
    train split (bucket < 80), score every held-out doc (bucket >= 90)
    by its average per-bigram SURPRISAL, and roll docs into
    keep/review/drop tiers — the standard perplexity gate every
    web-scale curation pipeline runs between dedup and mixture.

    The surprisal is discretized to INTEGER BITS so both engines agree
    bit-for-bit (the d81 move — keep the comparison integer instead of
    trusting transcendental libm parity): per occurrence,
    bits = bitlen(C(w1) + V + 1) - bitlen(C(w1,w2) + 1), where
    bitlen(x) = length(bin(x)) = floor(log2 x) + 1 is exact integer in
    Spark and DuckDB. That is log2 of the reciprocal add-one
    probability (C+1)/(C1+V+1) quantized to +-1 bit per factor —
    decile-grade resolution, exactly what a keep/drop tier needs,
    with zero float drift. Unseen CONTEXTS score the uniform
    bitlen(V+1) - 1 floor; unseen PAIRS are counted alongside (the
    d68 novelty stat falls out as a column).

    Exactness: counts, bit lengths, sums, and the integer band
    division are int64 end-to-end; tiers are a CASE over the band.

    Scale shape: LM training is two map-side-combined groupBys over
    the train split (corpus-linear, the d49 word-spectrum shape);
    vocab size is one scalar; scoring is two equi-joins on word keys
    (AQE-sized, never all-pairs); the rollup is bounded at
    langs x ~64 bands. At 100 TB the ctx/pair tables are the
    materialized LM — bucketable by w1 so both scoring joins co-locate
    (the d07 shingle-table pattern)."""
    w = t.documents.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("i", "wd")
    )
    win = Window.partitionBy("doc_id").orderBy("i")
    bg = tracked_persist(
        w.select(
            "doc_id",
            F.col("wd").alias("w1"),
            F.lead("wd", 1).over(win).alias("w2"),
        ).filter(F.col("w2").isNotNull())
    )
    docs = t.documents.select("doc_id", "lang").withColumn(
        "bucket", F.expr(CUR.SPARK_BUCKET)
    )
    train = bg.join(
        docs.filter(F.col("bucket") < 80).select("doc_id"), "doc_id"
    ).select("w1", "w2")
    ctx = train.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    pair = train.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    vs = (
        train.select(F.col("w1").alias("wd"))
        .unionByName(train.select(F.col("w2").alias("wd")))
        .distinct()
        .count()
        + 1
    )
    test_occ = bg.join(
        docs.filter(F.col("bucket") >= 90).select("doc_id", "lang"), "doc_id"
    )
    sc = (
        test_occ.join(ctx, "w1", "left")
        .join(pair, ["w1", "w2"], "left")
        .select(
            "doc_id",
            "lang",
            (
                F.length(
                    F.bin(F.coalesce("c1", F.lit(0)) + F.lit(int(vs)))
                )
                - F.length(F.bin(F.coalesce("c2", F.lit(0)) + F.lit(1)))
            ).cast("long").alias("bits"),
            F.col("c2").isNull().cast("long").alias("unseen"),
        )
    )
    per_doc = sc.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_bg"),
        F.sum("bits").alias("sum_bits"),
        F.sum("unseen").alias("n_unseen"),
    )
    band = F.expr("sum_bits div n_bg")
    tier = (
        F.when(F.col("bits_band") <= _D87_KEEP_MAX, F.lit("keep"))
        .when(F.col("bits_band") <= _D87_REVIEW_MAX, F.lit("review"))
        .otherwise(F.lit("drop"))
    )
    return (
        per_doc.groupBy("lang", band.alias("bits_band"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bg").alias("total_bigrams"),
            F.sum("n_unseen").alias("unseen_pairs"),
            F.min("doc_id").alias("sample_doc"),
        )
        .select(
            "lang",
            F.col("bits_band").cast("long").alias("bits_band"),
            tier.alias("tier"),
            "n_docs",
            "total_bigrams",
            "unseen_pairs",
            "sample_doc",
        )
        .orderBy("lang", "bits_band")
    )


# ------------------------------------ e29: EWMA baseline anomaly

# Spike rule on the power-of-two EWMA baseline: flag day t when
# 127*x_t > _E29_SPIKE_NUM * base_scaled AND x_t >= _E29_MIN_X, where
# base_scaled = sum_{j=1..7} x_{t-j} * 2^(7-j) (weights 64..1, geometric
# half-life of one day; 127 = sum of the weights normalizes the scale).
_E29_SPIKE_NUM = 3
_E29_MIN_X = 5


@query(
    "e29_ewma_baseline_anomaly",
    f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
      FROM events GROUP BY 1, 2
    ),
    span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
    spine AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS day
      FROM span
    ),
    grid AS (
      SELECT t.event_type, s.day, COALESCE(d.x, 0) AS x
      FROM (SELECT DISTINCT event_type FROM daily) t
      CROSS JOIN spine s
      LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = s.day
    ),
    lagged AS (
      SELECT event_type, day, CAST(x AS BIGINT) AS x,
             lag(x, 1) OVER win AS l1, lag(x, 2) OVER win AS l2,
             lag(x, 3) OVER win AS l3, lag(x, 4) OVER win AS l4,
             lag(x, 5) OVER win AS l5, lag(x, 6) OVER win AS l6,
             lag(x, 7) OVER win AS l7
      FROM grid WINDOW win AS (PARTITION BY event_type ORDER BY day)
    ),
    scored AS (
      SELECT event_type, day, x,
             CAST(64*l1 + 32*l2 + 16*l3 + 8*l4 + 4*l5 + 2*l6 + l7
                  AS BIGINT) AS base_scaled,
             CAST(127*x - {_E29_SPIKE_NUM}*(64*l1 + 32*l2 + 16*l3 + 8*l4
                  + 4*l5 + 2*l6 + l7) AS BIGINT) AS margin
      FROM lagged WHERE l7 IS NOT NULL
    ),
    flags AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_scored,
             CAST(SUM(CASE WHEN margin > 0 AND x >= {_E29_MIN_X}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
             CAST(MAX(margin) AS BIGINT) AS max_margin
      FROM scored GROUP BY 1
    ),
    peak AS (
      SELECT event_type, day AS peak_day, x AS peak_x,
             base_scaled AS peak_base_scaled
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                        ORDER BY margin DESC, day) AS rn FROM scored)
      WHERE rn = 1
    )
    SELECT f.event_type, f.n_scored, f.n_flagged, f.max_margin,
           p.peak_day, CAST(p.peak_x AS BIGINT) AS peak_x,
           p.peak_base_scaled
    FROM flags f JOIN peak p USING (event_type)
    ORDER BY f.event_type
    """,
    tags=("events", "timeseries", "anomaly"),
)
def e29_ewma_baseline_anomaly(t):
    """EWMA-baseline spike detection — the RECENCY-WEIGHTED
    complement of e11 (global-stats z-scores), e25 (hour-of-day
    seasonal), and e27 (sustained CUSUM shifts): each day's count is
    judged against an exponentially-weighted moving average of the
    trailing week, so the baseline forgets old regimes at a one-day
    half-life and a step change stops alarming within days instead of
    skewing a global mean forever.

    The EWMA is computed EXACTLY with integer power-of-two weights
    (the alpha = 1/2 smoother truncated at depth 7):
    base_scaled = sum x_(t-j) * 2^(7-j), total weight 127 — no float
    decay products. The spike test and its margin are the d81
    cross-multiplication: 127*x > 3*base_scaled, all int64. A day
    must also clear an absolute floor (x >= 5) so a 1-vs-0 blip on a
    dormant type never pages anyone.

    Exactness: counts, lags, weights, margins all int64; no doubles
    anywhere in the output.

    Scale shape: events fold once to (type, day) counts; the
    zero-filled grid is the e15/p72 calendar x enum-types shape, so
    the seven lags and both rollups run over calendar-bounded rows,
    never events. State per partition is seven lag registers."""
    ev = t.events
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    span = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = span.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias(
            "day"
        )
    )
    types = daily.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(spine))
        .join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce("x", F.lit(0)).cast("long").alias("x"),
        )
    )
    win = Window.partitionBy("event_type").orderBy("day")
    lagged = grid.select(
        "event_type",
        "day",
        "x",
        *[F.lag("x", j).over(win).alias(f"l{j}") for j in range(1, 8)],
    )
    base = F.expr("64*l1 + 32*l2 + 16*l3 + 8*l4 + 4*l5 + 2*l6 + l7")
    scored = tracked_persist(
        lagged.filter(F.col("l7").isNotNull()).select(
            "event_type",
            "day",
            "x",
            base.cast("long").alias("base_scaled"),
            (
                F.lit(127) * F.col("x")
                - F.lit(_E29_SPIKE_NUM) * base
            ).cast("long").alias("margin"),
        )
    )
    flags = scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.sum(
            (
                (F.col("margin") > 0) & (F.col("x") >= _E29_MIN_X)
            ).cast("long")
        ).alias("n_flagged"),
        F.max("margin").alias("max_margin"),
    )
    w_rank = Window.partitionBy("event_type").orderBy(
        F.desc("margin"), F.asc("day")
    )
    peak = (
        scored.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("peak_day"),
            F.col("x").alias("peak_x"),
            F.col("base_scaled").alias("peak_base_scaled"),
        )
    )
    return (
        flags.join(peak, "event_type")
        .select(
            "event_type",
            "n_scored",
            "n_flagged",
            "max_margin",
            "peak_day",
            "peak_x",
            "peak_base_scaled",
        )
        .orderBy("event_type")
    )


# ------------------------------- d88: Heaps-law vocabulary growth

# Cumulative-vocabulary checkpoints: the scan order is the
# content-addressed 0..99 md5 bucket (the d45 epoch-shuffle order), so
# the growth curve is a deterministic property of the corpus, not of
# file layout, and re-shards identically on any engine.
_D88_DECILE = "bucket div 10"
_D88_DECILE_ORACLE = "bucket // 10"


@query(
    "d88_heaps_vocab_growth",
    f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text,' ')) AS wd
      FROM documents
    ),
    b AS (SELECT doc_id, {CUR.ORACLE_BUCKET} AS bucket FROM documents),
    occ AS (
      SELECT w.wd, b.bucket // 10 AS decile
      FROM w JOIN b USING (doc_id)
    ),
    first_seen AS (
      SELECT wd, MIN(decile) AS first_decile FROM occ GROUP BY wd
    ),
    new_types AS (
      SELECT first_decile AS decile, COUNT(*) AS n_new
      FROM first_seen GROUP BY 1
    ),
    tok AS (
      SELECT decile, COUNT(*) AS n_tok FROM occ GROUP BY 1
    ),
    deciles AS (SELECT unnest(generate_series(0, 9)) AS decile),
    curve AS (
      SELECT d.decile,
             COALESCE(t.n_tok, 0) AS n_tok,
             COALESCE(n.n_new, 0) AS n_new
      FROM deciles d
      LEFT JOIN tok t ON t.decile = d.decile
      LEFT JOIN new_types n ON n.decile = d.decile
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(SUM(n_tok) OVER win AS BIGINT) AS cum_tokens,
           CAST(SUM(n_new) OVER win AS BIGINT) AS cum_types,
           CAST(n_new AS BIGINT) AS new_types,
           CAST((10000 * SUM(n_new) OVER win)
                // GREATEST(SUM(n_tok) OVER win, 1) AS BIGINT)
             AS types_per_10k_tokens
    FROM curve
    WINDOW win AS (ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY decile
    """,
    tags=("llm", "corpus", "diagnostics"),
)
def d88_heaps_vocab_growth(t):
    """HEAPS-LAW vocabulary growth curve — the corpus-health
    diagnostic curation teams plot after every pipeline change: how
    many DISTINCT word types have appeared after each tenth of the
    corpus (in the deterministic content-addressed scan order d45
    uses), next to the token mass seen so far. A healthy raw corpus
    grows sublinearly (Heaps V ~ n^beta, beta ~ 0.5-0.7: the
    types-per-10k-tokens column falls steadily); a curve that goes
    FLAT early means the tail is template/boilerplate mass (dedup
    missed it), and one that stays LINEAR means tokenizer junk or
    encoding noise is minting unbounded new types (d35's failure
    modes) — both visible in one bounded 10-row table.

    The cumulative distinct is computed RELATIONALLY, with no
    per-checkpoint rescans and no distinct-over-window state: each
    type's FIRST-occurrence decile is one min-groupBy, new types per
    decile is a bounded rollup, and the running sums fold a 10-row
    table. The 'rate' column is integer basis-point style
    (10000·types div tokens) — engine-exact.

    Exactness: counts, mins, window sums, and the scaled integer
    division are int64 end-to-end.

    Scale shape: one corpus scan explodes words (the d49 spectrum
    shape, map-side combined into (word, decile) partials); the
    min-groupBy shuffles once on the word key; everything after is
    10-row arithmetic. At 100 TB the word partials are exactly d49's
    materializable spectrum table keyed by (word, decile)."""
    w = t.documents.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("wd")
    )
    b = t.documents.select("doc_id").withColumn(
        "decile", F.expr(f"({CUR.SPARK_BUCKET}) div 10")
    )
    occ = w.join(b, "doc_id").select("wd", "decile")
    first_seen = occ.groupBy("wd").agg(F.min("decile").alias("first_decile"))
    new_types = first_seen.groupBy(
        F.col("first_decile").alias("decile")
    ).agg(F.count(F.lit(1)).alias("n_new"))
    tok = occ.groupBy("decile").agg(F.count(F.lit(1)).alias("n_tok"))
    deciles = t.documents.sparkSession.range(0, 10).select(
        F.col("id").cast("int").alias("decile")
    )
    curve = (
        deciles.join(tok, "decile", "left")
        .join(new_types, "decile", "left")
        .select(
            "decile",
            F.coalesce("n_tok", F.lit(0)).alias("n_tok"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
    )
    win = (
        Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return curve.select(
        F.col("decile").cast("long").alias("decile"),
        F.sum("n_tok").over(win).cast("long").alias("cum_tokens"),
        F.sum("n_new").over(win).cast("long").alias("cum_types"),
        F.col("n_new").cast("long").alias("new_types"),
        F.expr(
            "(10000 * sum(n_new) over (order by decile rows between "
            "unbounded preceding and current row)) div "
            "greatest(sum(n_tok) over (order by decile rows between "
            "unbounded preceding and current row), 1)"
        ).cast("long").alias("types_per_10k_tokens"),
    ).orderBy("decile")


# -------------------- d89: weighted PageRank over collapsed dup nodes

# The d89/d99 graph: exact-dup collapse, then d07's chain and the
# component walk over the representatives.
_REP_GRAPH_CTES = f"""{ND.reps_sql()},
    {ND.shingles_sql("reps")},
    {ND.minhash_sql()},
    {ND.verify_self_sql(0.5)},
    {ND.components_sql()}"""


@query(
    "d89_weighted_pagerank_canonical",
    f"""
    WITH RECURSIVE {_REP_GRAPH_CTES},
    deg AS (SELECT e_src, CAST(COUNT(*) AS BIGINT) AS deg
            FROM edges GROUP BY e_src),
    nw AS (SELECT doc_id AS node, wt FROM reps),
    r0 AS (SELECT nd.node, CAST(n.wt * {_PR_SCALE} AS BIGINT) AS r
           FROM nodes nd JOIN nw n ON n.node = nd.node),
    {",".join(_pr_iter_sql(k, weighted=True)
              for k in range(1, _PR_ROUNDS + 1))}
    SELECT CAST(lab.component AS BIGINT) AS component,
           CAST(COUNT(*) AS BIGINT) AS n_reps,
           CAST(SUM(nw.wt) AS BIGINT) AS total_docs,
           CAST(MIN(lab.node) AS BIGINT) AS canonical_minid,
           CAST((MAX({{'r': rk.r, 'i': -lab.node}})).i * -1 AS BIGINT)
             AS canonical_pagerank,
           CAST(MAX(rk.r) AS BIGINT) AS top_rank,
           CAST(MIN(lab.node)
                = (MAX({{'r': rk.r, 'i': -lab.node}})).i * -1
                AS BOOLEAN) AS same_pick
    FROM lab
    JOIN r{_PR_ROUNDS} rk ON rk.node = lab.node
    JOIN nw ON nw.node = lab.node
    GROUP BY lab.component ORDER BY component
    """,
    tags=("llm", "dedup", "graph", "iterative"),
)
def d89_weighted_pagerank_canonical(t):
    """d74's PRODUCTION-SCALE form — the weighted-node variant
    SCALING.md documents as the path past heavy exact duplication:
    collapse exact copies to ONE representative per md5 fingerprint
    (d05's tier, weight = multiplicity) BEFORE near-dup pairing, then
    run the same 3-round integer PageRank with the teleport term
    scaled by each node's weight (r0 = wt * scale; update =
    wt * 150000 + 85% of inflow). A k-replica clique that costs d74
    k(k-1)/2 edges is ONE node here, so the edge set — and every rank
    shuffle — is sized by DISTINCT content, not duplicate
    multiplicity, while the weights keep the rank mass faithful to
    the uncollapsed graph's teleport distribution.

    Per near-dup component of representatives: how many distinct
    texts it holds, the TOTAL doc count it stands for (the d74
    cluster size on the uncollapsed corpus), the min-id pick, and the
    weighted-PageRank pick. The duplication-invariance this buys is
    pinned by test: replicating the corpus k-fold leaves every
    representative, edge, rank, and canonical pick bit-identical
    except the weights (x k).

    Exactness: the collapse, weights, rank recursion, and picks are
    int64/boolean end-to-end; the oracle re-derives the collapse, the
    graph, and all three weighted rounds in CTEs.

    Scale shape: the fingerprint collapse is one map-side-combined
    groupBy on md5(text); pair generation inherits d07's
    corpus-linear banded form over representatives only; each rank
    round shuffles the collapsed edge set once. This is the d56
    tier ordering (exact -> near-dup) applied to d74's contract."""
    reps = tracked_persist(
        ND.collapse_exact(t.documents, rep="doc_id").select("doc_id", "text", "wt")
    )
    edges = ND.rank_edges(
        DD.minhash_lsh_pairs(
            reps, num_hashes=ND.NUM_HASHES, bands=ND.BANDS, jaccard_threshold=0.5
        )
    )
    deg = edges.groupBy("e_src").agg(F.count(F.lit(1)).alias("deg"))
    nw = reps.select(F.col("doc_id").alias("node"), "wt")
    ranks = (
        edges.select(F.col("e_src").alias("node"))
        .distinct()
        .join(nw, "node")
        .select(
            "node", (F.col("wt") * _PR_SCALE).cast("long").alias("r")
        )
    )
    for _ in range(_PR_ROUNDS):
        inflow = (
            edges.join(ranks, ranks.node == edges.e_src)
            .join(deg, "e_src")
            .groupBy(F.col("e_dst").alias("node"))
            .agg(F.sum(F.expr("r div deg")).alias("inflow"))
        )
        ranks = inflow.join(nw, "node").select(
            "node",
            (
                F.col("wt") * _PR_BASE
                + F.expr("(85 * inflow) div 100")
            ).cast("long").alias("r"),
        )
    comps = GR.connected_components_from_edges(edges)
    pick = F.max(F.struct(F.col("r"), (-F.col("node")).alias("i")))
    return (
        comps.join(ranks, "node")
        .join(nw, "node")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_reps"),
            F.sum("wt").cast("long").alias("total_docs"),
            F.min("node").alias("canonical_minid"),
            (pick["i"] * -1).cast("long").alias("canonical_pagerank"),
            F.max("r").cast("long").alias("top_rank"),
            (F.min("node") == pick["i"] * -1).alias("same_pick"),
        )
        .orderBy("component")
    )


# ---------------------------- d90: hashed Naive-Bayes quality gate

# Hashed feature space: first two md5 hex digits of each token -> 256
# buckets. Add-one smoothing is over the BUCKET universe, so the
# smoothing constant is the fixed table width, not the corpus vocab.
D90_BUCKETS = 256


def _bitlen(col):
    """floor(log2 x) + 1 as exact integer — length(bin(x)) on both
    engines (the d87 surprisal quantization)."""
    return F.length(F.bin(col))


# The per-doc NB scoring pipeline as a reusable CTE chain (no WITH
# keyword): ends in scored(doc_id, lang, margin). Shared by d90's
# confusion rollup, d97's threshold calibration, and s23's streaming
# gate oracle — one derivation, three consumers, zero drift.
D90_SCORED_CTES = f"""docs AS (
      SELECT doc_id, lang, {CUR.ORACLE_BUCKET} AS bucket FROM documents
    ),
    tok AS (
      SELECT doc_id,
             substring(md5(unnest(string_split(text, ' '))), 1, 2) AS b
      FROM documents
    ),
    train_tok AS (
      SELECT t.b, d.lang FROM tok t JOIN docs d USING (doc_id)
      WHERE d.bucket < 80
    ),
    model AS (
      SELECT b,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_en,
             SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS c_ot
      FROM train_tok GROUP BY 1
    ),
    tot AS (
      SELECT SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t_en,
             SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS t_ot
      FROM train_tok
    ),
    nd AS (
      SELECT COUNT(*) AS n_train,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_en
      FROM docs WHERE bucket < 80
    ),
    sc AS (
      SELECT t.doc_id, d.lang,
             length(bin(tt.t_en + {D90_BUCKETS}))
               - length(bin(COALESCE(m.c_en, 0) + 1)) AS bits_en,
             length(bin(tt.t_ot + {D90_BUCKETS}))
               - length(bin(COALESCE(m.c_ot, 0) + 1)) AS bits_ot
      FROM tok t
      JOIN docs d USING (doc_id)
      LEFT JOIN model m ON m.b = t.b
      CROSS JOIN tot tt
      WHERE d.bucket >= 90
    ),
    per_doc AS (
      SELECT doc_id, lang,
             SUM(bits_en) AS s_en, SUM(bits_ot) AS s_ot
      FROM sc GROUP BY 1, 2
    ),
    scored AS (
      SELECT p.doc_id, p.lang,
             (p.s_ot + length(bin(n.n_train + 2))
                     - length(bin(n.n_train - n.n_en + 1)))
           - (p.s_en + length(bin(n.n_train + 2))
                     - length(bin(n.n_en + 1))) AS margin
      FROM per_doc p CROSS JOIN nd n
    )"""


@query(
    "d90_hashed_nb_classifier",
    f"""
    WITH {D90_SCORED_CTES}
    SELECT lang,
           CASE WHEN margin >= 0 THEN 'en' ELSE 'other' END AS predicted,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(margin) AS BIGINT) AS margin_sum,
           CAST(MIN(margin) AS BIGINT) AS margin_min,
           CAST(MAX(margin) AS BIGINT) AS margin_max,
           CAST(MIN(doc_id) AS BIGINT) AS sample_doc
    FROM scored
    GROUP BY lang, CASE WHEN margin >= 0 THEN 'en' ELSE 'other' END
    ORDER BY lang, predicted
    """,
    tags=("llm", "quality", "classifier"),
)
def d90_hashed_nb_classifier(t):
    """Hashed Naive-Bayes text CLASSIFIER with a train/holdout split
    and a measured confusion rollup — the fastText/logistic 'quality
    classifier' stage every web-scale curation stack runs (GPT-3's
    WebText LR filter, LLaMA's Wikipedia-reference classifier), made
    engine-exact. The only supervised signal the synthetic corpus
    carries is ``lang``, so the demo target is en-vs-other; swapping
    the label column for a curated quality seed set changes nothing
    structural.

    Mechanics: tokens hash to {D90_BUCKETS} buckets (two md5 hex
    digits — engine-portable, the d81 feature map); per class the
    bucket counts ARE the model. A held-out doc's class score is the
    add-one-smoothed NB surprisal, quantized to INTEGER BITS per
    occurrence (bits_c = bitlen(T_c + B) - bitlen(C_c(b) + 1), the d87
    move), plus an integer-bits class prior; predict 'en' iff
    margin = score_other - score_en >= 0 (tie -> the positive class,
    deterministic). The rollup is the confusion matrix
    (actual lang x predicted) with margin mass — accuracy and
    per-class precision/recall read straight off it.

    Exactness: counts, bit lengths, sums, and the margin are int64
    end-to-end on both engines; no transcendental libm calls.

    Scale shape: training is ONE map-side-combined groupBy over train
    tokens into a <= {D90_BUCKETS}-row model + two scalar aggregates;
    scoring joins the broadcast model to held-out tokens (hash-local,
    never all-pairs) and folds per doc. At 100 TB the model is still
    {D90_BUCKETS} rows — the classifier costs two corpus scans total,
    and the bucket table bucketing co-locates with d81's importance
    sampler so the two stages share a shuffle."""
    scored = _d90_scored_frame(t)
    predicted = F.when(F.col("margin") >= 0, F.lit("en")).otherwise(
        F.lit("other")
    )
    return (
        scored.groupBy("lang", predicted.alias("predicted"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("margin").cast("long").alias("margin_sum"),
            F.min("margin").cast("long").alias("margin_min"),
            F.max("margin").cast("long").alias("margin_max"),
            F.min("doc_id").alias("sample_doc"),
        )
        .orderBy("lang", "predicted")
    )


def _d90_scored_frame(t):
    """The shared NB scoring pipeline: per held-out doc, the integer
    margin = score_other - score_en (>= 0 -> predict 'en'). One
    derivation behind d90's confusion rollup and d97's threshold
    calibration — the Spark twin of ``D90_SCORED_CTES``."""
    docs = t.documents.select("doc_id", "lang").withColumn(
        "bucket", F.expr(CUR.SPARK_BUCKET)
    )
    # Deliberately NOT persisted (the d30 trade): the token explode is
    # read twice (train fold + holdout scoring join), but both are
    # cheap codegen scans, and caching a tokenized 100 TB corpus would
    # exceed any cluster's storage memory — measured at the 100x
    # decade, the persisted form spills and runs ~2x slower than the
    # two plain scans. tot is derived from the 256-row model, so two
    # scans is the true total (the docstring's claim).
    tok = t.documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("wd")
    ).select("doc_id", F.substring(F.md5("wd"), 1, 2).alias("b"))
    train_tok = tok.join(
        docs.filter(F.col("bucket") < 80).select("doc_id", "lang"), "doc_id"
    )
    en = (F.col("lang") == "en").cast("long")
    model = tracked_persist(
        train_tok.groupBy("b").agg(
            F.sum(en).alias("c_en"),
            F.sum(1 - en).alias("c_ot"),
        )
    )
    tot = model.agg(
        F.sum("c_en").alias("t_en"), F.sum("c_ot").alias("t_ot")
    )
    nd = docs.filter(F.col("bucket") < 80).agg(
        F.count(F.lit(1)).alias("n_train"), F.sum(en).alias("n_en")
    )
    test_tok = tok.join(
        docs.filter(F.col("bucket") >= 90).select("doc_id", "lang"),
        "doc_id",
    )
    b = D90_BUCKETS
    sc = (
        test_tok.join(F.broadcast(model), "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "lang",
            (
                _bitlen(F.col("t_en") + b)
                - _bitlen(F.coalesce("c_en", F.lit(0)) + 1)
            ).alias("bits_en"),
            (
                _bitlen(F.col("t_ot") + b)
                - _bitlen(F.coalesce("c_ot", F.lit(0)) + 1)
            ).alias("bits_ot"),
        )
    )
    per_doc = sc.groupBy("doc_id", "lang").agg(
        F.sum("bits_en").alias("s_en"), F.sum("bits_ot").alias("s_ot")
    )
    prior_en = _bitlen(F.col("n_train") + 2) - _bitlen(F.col("n_en") + 1)
    prior_ot = _bitlen(F.col("n_train") + 2) - _bitlen(
        F.col("n_train") - F.col("n_en") + 1
    )
    return per_doc.crossJoin(F.broadcast(nd)).select(
        "doc_id",
        "lang",
        (
            (F.col("s_ot") + prior_ot) - (F.col("s_en") + prior_en)
        ).alias("margin"),
    )


# ------------------------------- d91: shard manifest with checksums

D91_SHARDS = 16

# Content-addressed shard key (payload md5, not doc_id) and two
# order-independent sum-checksums: one over the payload, one binding
# (doc_id, n_chars) so an id remap or metadata drift is caught even
# when every payload byte survives.
D91_SHARD_S = f"({CUR.md5_hex_int('text', 'string', 2)}) % {D91_SHARDS}"
D91_SHARD_O = f"({CUR.md5_hex_int('text', 'varchar', 2)}) % {D91_SHARDS}"
D91_PAY_S = CUR.md5_hex_int("text", "string", 4)
D91_PAY_O = CUR.md5_hex_int("text", "varchar", 4)
_D91_IDK = "concat(cast(doc_id as string), ':', cast(n_chars as string))"
D91_ID_S = CUR.md5_hex_int(_D91_IDK, "string", 4)
D91_ID_O = CUR.md5_hex_int(_D91_IDK, "varchar", 4)


@query(
    "d91_shard_manifest",
    f"""
    WITH assigned AS (
      SELECT doc_id, lang, n_chars,
             {D91_SHARD_O} AS shard,
             {D91_PAY_O} AS pay_ck,
             {D91_ID_O} AS id_ck
      FROM documents
    ),
    per_shard AS (
      SELECT shard,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(SUM(pay_ck) AS BIGINT) AS payload_checksum,
             CAST(SUM(id_ck) AS BIGINT) AS id_checksum,
             CAST(MIN(doc_id) AS BIGINT) AS min_doc,
             CAST(MAX(doc_id) AS BIGINT) AS max_doc
      FROM assigned GROUP BY 1
    ),
    tot AS (SELECT SUM(total_chars) AS grand_chars FROM per_shard)
    SELECT CAST(s.shard AS BIGINT) AS shard,
           s.n_docs, s.total_chars, s.n_langs,
           s.payload_checksum, s.id_checksum, s.min_doc, s.max_doc,
           CAST(s.total_chars AS DOUBLE) / CAST(t.grand_chars AS DOUBLE)
             AS chars_share
    FROM per_shard s CROSS JOIN tot t
    ORDER BY s.shard
    """,
    tags=("llm", "delivery", "integrity"),
)
def d91_shard_manifest(t):
    """Training-data DELIVERY manifest: the per-shard summary a 100 TB
    pipeline writes next to each output shard so downstream consumers
    can verify what they read without re-scanning it. Shard assignment
    is content-addressed (two md5 hex digits of the PAYLOAD, mod
    {D91_SHARDS}) so the same document lands in the same shard across
    engines, re-partitionings, and backfills; two ORDER-INDEPENDENT
    sum-checksums travel with each row — one over the payload md5, one
    binding (doc_id, n_chars) — so a consumer detects payload
    corruption, id remapping, OR metadata drift by recomputing two
    sums, and shard-level checksums MERGE by addition into a corpus
    checksum (the mergeability property the sketches family already
    relies on). chars_share is the balance audit: content-addressed
    assignment keeps shards within sampling noise of 1/{D91_SHARDS}.

    Exactness: every checksum is a sum of 16-bit md5-prefix integers
    (int64 headroom up to ~1.4e14 docs per shard); the share is one
    double division of exact longs.

    Scale shape: one corpus scan, one {D91_SHARDS}-group map-side-
    combined aggregate, one broadcast scalar join — no windows, no
    all-pairs, nothing keyed finer than the shard id. The checksums'
    order-independence is what makes the manifest computable
    incrementally (per input split, then merged) on a real cluster."""
    assigned = t.documents.select(
        "doc_id",
        "lang",
        "n_chars",
        F.expr(D91_SHARD_S).alias("shard"),
        F.expr(D91_PAY_S).alias("pay_ck"),
        F.expr(D91_ID_S).alias("id_ck"),
    )
    per_shard = assigned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("pay_ck").cast("long").alias("payload_checksum"),
        F.sum("id_ck").cast("long").alias("id_checksum"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )
    tot = per_shard.agg(F.sum("total_chars").alias("grand_chars"))
    return (
        per_shard.crossJoin(F.broadcast(tot))
        .select(
            F.col("shard").cast("long").alias("shard"),
            "n_docs",
            "total_chars",
            "n_langs",
            "payload_checksum",
            "id_checksum",
            "min_doc",
            "max_doc",
            (
                F.col("total_chars").cast("double")
                / F.col("grand_chars").cast("double")
            ).alias("chars_share"),
        )
        .orderBy("shard")
    )


# ------------------------------ e30: cross-correlation lead-lag scan

# Lag window scanned in hours: negative lag means type_b LEADS type_a
# (b's count at t correlates with a's at t+|lag|); positive means
# type_a leads. 13 lags x <= T*(T-1)/2 pairs — output is
# pair-and-constant bounded, never event-bounded.
_E30_MAX_LAG = 6


@query(
    "e30_crosscorr_lead_lag",
    f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS x
      FROM events GROUP BY 1, 2
    ),
    span AS (SELECT MIN(hr) AS lo, MAX(hr) AS hi FROM hourly),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
      FROM span
    ),
    grid AS (
      SELECT t.event_type, s.hr, CAST(COALESCE(h.x, 0) AS BIGINT) AS x
      FROM (SELECT DISTINCT event_type FROM hourly) t
      CROSS JOIN spine s
      LEFT JOIN hourly h
        ON h.event_type = t.event_type AND h.hr = s.hr
    ),
    lags AS (
      SELECT unnest(generate_series(-{_E30_MAX_LAG}, {_E30_MAX_LAG}, 1))
               AS lag
    ),
    j AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, l.lag,
             a.x AS xa, b.x AS xb
      FROM grid a
      CROSS JOIN lags l
      JOIN grid b
        ON b.hr = a.hr + l.lag * INTERVAL 1 HOUR
       AND b.event_type > a.event_type
    ),
    agg AS (
      SELECT type_a, type_b, lag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(xa) AS BIGINT) AS sa,
             CAST(SUM(xb) AS BIGINT) AS sb,
             CAST(SUM(xa * xb) AS BIGINT) AS sab,
             CAST(SUM(xa * xa) AS BIGINT) AS saa,
             CAST(SUM(xb * xb) AS BIGINT) AS sbb
      FROM j GROUP BY 1, 2, 3
    ),
    stat AS (
      SELECT type_a, type_b, lag, n,
             n * sab - sa * sb AS num,
             n * saa - sa * sa AS da,
             n * sbb - sb * sb AS db
      FROM agg
    ),
    corr AS (
      SELECT type_a, type_b, lag, n, num,
             CASE WHEN da > 0 AND db > 0
                  THEN CAST(num AS DOUBLE)
                       / (sqrt(CAST(da AS DOUBLE)) * sqrt(CAST(db AS DOUBLE)))
                  ELSE NULL END AS xcorr
      FROM stat
    )
    SELECT type_a, type_b,
           CAST(lag AS BIGINT) AS lag,
           CAST(n AS BIGINT) AS n_hours,
           CAST(num AS BIGINT) AS cov_num,
           xcorr,
           (ROW_NUMBER() OVER (
              PARTITION BY type_a, type_b
              ORDER BY xcorr DESC NULLS LAST, lag) = 1) AS is_best
    FROM corr
    ORDER BY type_a, type_b, lag
    """,
    tags=("events", "timeseries", "correlation"),
)
def e30_crosscorr_lead_lag(t):
    """Cross-correlation LEAD-LAG DISCOVERY between event-type series —
    the ops/product question e24's single-series autocorrelation can't
    answer: does type A's hourly volume anticipate type B's, and by how
    many hours? (Classic reads: clicks lead purchases; errors lead
    support contacts.) For every unordered type pair and every lag in
    [-{_E30_MAX_LAG}, +{_E30_MAX_LAG}] hours, Pearson correlation of
    the zero-filled hourly grids with b shifted by the lag; positive
    lag = type_a leads. is_best marks each pair's argmax lag
    (ties -> smallest lag, NULLs last — deterministic because every
    input to the double is exact int64).

    Exactness: the five sufficient statistics (n, Σa, Σb, Σab, Σa²,
    Σb²) are exact int64 on both engines; the only floats are one
    IEEE sqrt-and-divide applied to identical integers — bit-stable
    across engines and partitionings. Degenerate (constant) windows
    yield NULL, not NaN. int64 headroom: n·Σab tops out ~1e17 even at
    1e5 grid hours x 1e6-count hours.

    Scale shape: events fold ONCE to the (type, hour) grain (map-side
    combine); the grid is calendar x type bounded, the x13-lag fan-out
    is a constant, and the shifted join is an equi-join on the hour
    key — so the whole scan is grid-linear, independent of event
    count (the e24/e29 discipline). At 100 TB the hourly grain IS the
    pre-aggregated table, and the pair x lag output stays tiny."""
    ev = t.events.select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    )
    hourly = ev.groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).alias("x")
    )
    span = hourly.agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
    spine = span.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 hour"))
        ).alias("hr")
    )
    types = hourly.select("event_type").distinct()
    grid = tracked_persist(
        types.crossJoin(F.broadcast(spine))
        .join(hourly, ["event_type", "hr"], "left")
        .select(
            "event_type",
            "hr",
            F.coalesce("x", F.lit(0)).cast("long").alias("x"),
        )
    )
    lags = F.explode(
        F.array(
            *[F.lit(i) for i in range(-_E30_MAX_LAG, _E30_MAX_LAG + 1)]
        )
    )
    a = grid.select(
        F.col("event_type").alias("type_a"),
        F.col("hr").alias("hr_a"),
        F.col("x").alias("xa"),
    ).withColumn("lag", lags)
    b = grid.select(
        F.col("event_type").alias("type_b"),
        F.col("hr").alias("hr_b"),
        F.col("x").alias("xb"),
    )
    j = a.join(
        b,
        (F.col("hr_b") == F.expr("timestampadd(HOUR, lag, hr_a)"))
        & (F.col("type_b") > F.col("type_a")),
    )
    agg = j.groupBy("type_a", "type_b", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xa").alias("sa"),
        F.sum("xb").alias("sb"),
        F.sum(F.col("xa") * F.col("xb")).alias("sab"),
        F.sum(F.col("xa") * F.col("xa")).alias("saa"),
        F.sum(F.col("xb") * F.col("xb")).alias("sbb"),
    )
    stat = agg.select(
        "type_a",
        "type_b",
        "lag",
        "n",
        (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")).alias(
            "num"
        ),
        (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")).alias(
            "da"
        ),
        (F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")).alias(
            "db"
        ),
    )
    corr = stat.select(
        "type_a",
        "type_b",
        "lag",
        "n",
        "num",
        F.when(
            (F.col("da") > 0) & (F.col("db") > 0),
            F.col("num").cast("double")
            / (
                F.sqrt(F.col("da").cast("double"))
                * F.sqrt(F.col("db").cast("double"))
            ),
        ).alias("xcorr"),
    )
    w = Window.partitionBy("type_a", "type_b").orderBy(
        F.desc_nulls_last("xcorr"), F.asc("lag")
    )
    return (
        corr.select(
            "type_a",
            "type_b",
            F.col("lag").cast("long").alias("lag"),
            F.col("n").cast("long").alias("n_hours"),
            F.col("num").cast("long").alias("cov_num"),
            "xcorr",
            (F.row_number().over(w) == 1).alias("is_best"),
        )
        .orderBy("type_a", "type_b", "lag")
    )


# ----------------------- d92: Good-Turing / Chao1 corpus completeness


@query(
    "d92_good_turing_completeness",
    """
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS wd FROM documents
    ),
    freq AS (
      SELECT source, wd, COUNT(*) AS r FROM tok GROUP BY 1, 2
    ),
    spec AS (
      SELECT source,
             CAST(SUM(r) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_singletons,
             CAST(SUM(CASE WHEN r = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_doubletons
      FROM freq GROUP BY 1
    )
    SELECT source, n_tokens, n_types, n_singletons, n_doubletons,
           CAST(n_singletons AS DOUBLE) / CAST(n_tokens AS DOUBLE)
             AS unseen_mass,
           CASE WHEN n_singletons > 0
                THEN 2.0 * CAST(n_doubletons AS DOUBLE)
                     / CAST(n_singletons AS DOUBLE)
                ELSE NULL END AS r1_star,
           CAST(n_types AS DOUBLE)
             + CAST(n_singletons * (n_singletons - 1) AS DOUBLE)
               / CAST(2 * (n_doubletons + 1) AS DOUBLE) AS chao1_est
    FROM spec
    ORDER BY source
    """,
    tags=("llm", "text", "completeness"),
)
def d92_good_turing_completeness(t):
    """Vocabulary COMPLETENESS estimation per source — the "have we
    seen enough of this domain yet" question a mixture planner asks
    before buying more data, answered with the two classical
    estimators over the frequency-of-frequencies spectrum:

    - Good-Turing unseen mass P0 = N1/N (the probability the NEXT
      token is a never-seen type — the Gale/Sampson missing-mass
      estimate): high P0 = the source is nowhere near exhausted;
    - adjusted count r1* = 2*N2/N1 for once-seen types (how much a
      singleton's count overstates its true rate; NULL when the
      source has no singletons);
    - bias-corrected Chao1 richness V + N1(N1-1)/(2(N2+1)) — the
      estimated TOTAL vocabulary size including unseen types, so
      (chao1_est - n_types) is the predicted undiscovered-type count.

    Complements d88 (Heaps growth CURVE over scan order) with
    closed-form endpoint estimates, and d49 (global spectrum
    histogram) with per-source actionables.

    Exactness: N, V, N1, N2 are exact int64 folds; the three
    estimators are each ONE double expression over exact integers —
    identical on both engines.

    Scale shape: the d49 word-spectrum discipline — one token
    explode, one map-side-combined (source, word) count, one
    source-keyed fold; no windows, no joins, nothing all-pairs. At
    100 TB the (source, word) table is the already-materialized
    vocabulary; the spectrum fold reads it once."""
    freq = (
        t.documents.select(
            "source", F.explode(F.split("text", " ")).alias("wd")
        )
        .groupBy("source", "wd")
        .agg(F.count(F.lit(1)).alias("r"))
    )
    spec = freq.groupBy("source").agg(
        F.sum("r").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum((F.col("r") == 1).cast("long")).alias("n_singletons"),
        F.sum((F.col("r") == 2).cast("long")).alias("n_doubletons"),
    )
    return spec.select(
        "source",
        "n_tokens",
        "n_types",
        "n_singletons",
        "n_doubletons",
        (
            F.col("n_singletons").cast("double")
            / F.col("n_tokens").cast("double")
        ).alias("unseen_mass"),
        F.when(
            F.col("n_singletons") > 0,
            F.lit(2.0)
            * F.col("n_doubletons").cast("double")
            / F.col("n_singletons").cast("double"),
        ).alias("r1_star"),
        (
            F.col("n_types").cast("double")
            + (
                F.col("n_singletons") * (F.col("n_singletons") - 1)
            ).cast("double")
            / (2 * (F.col("n_doubletons") + 1)).cast("double")
        ).alias("chao1_est"),
    ).orderBy("source")


# ---------------------- d93: temperature-scaled mixture weighting

# Temperatures restricted to inverse powers of two (alpha = 1/2, 1/4)
# so the scaled share is computed with IEEE-correctly-rounded sqrt
# alone — pow() is NOT correctly rounded and would put engine parity
# at libm's mercy (the d87/d30 no-transcendentals discipline).
_D93_BUDGET_TOKENS = 1_000_000


@query(
    "d93_mixture_temperature",
    f"""
    WITH src AS (
      SELECT source,
             CAST(SUM(length(string_split(text, ' '))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY 1
    ),
    tot AS (SELECT SUM(n_tokens) AS total_tokens FROM src),
    shares AS (
      SELECT s.source, s.n_tokens,
             CAST(s.n_tokens AS DOUBLE) / CAST(t.total_tokens AS DOUBLE)
               AS share
      FROM src s CROSS JOIN tot t
    ),
    scaled AS (
      SELECT source, n_tokens, share,
             CAST(round(sqrt(share), 9) AS DECIMAL(18,9)) AS u_half,
             CAST(round(sqrt(sqrt(share)), 9) AS DECIMAL(18,9))
               AS u_quarter
      FROM shares
    ),
    norm AS (
      SELECT SUM(u_half) AS z_half, SUM(u_quarter) AS z_quarter
      FROM scaled
    )
    SELECT s.source, s.n_tokens, s.share,
           CAST(s.u_half AS DOUBLE) / CAST(n.z_half AS DOUBLE) AS w_half,
           CAST(s.u_quarter AS DOUBLE) / CAST(n.z_quarter AS DOUBLE)
             AS w_quarter,
           (CAST(s.u_half AS DOUBLE) / CAST(n.z_half AS DOUBLE))
             * {_D93_BUDGET_TOKENS} / s.n_tokens AS epochs_half
    FROM scaled s CROSS JOIN norm n
    ORDER BY s.source
    """,
    tags=("llm", "mixture"),
)
def d93_mixture_temperature(t):
    """Temperature-scaled multinomial MIXTURE weights — the sampling
    knob multilingual/multi-source training actually turns (T5/mT5's
    alpha = 0.3, XLM-R's 0.7, the Pile's hand-tuned epochs): raw token
    share p_s is flattened to p_s^alpha / Z so low-resource sources
    are upsampled without letting any source dominate. Emitted at
    alpha = 1/2 and 1/4 — temperatures chosen as inverse POWERS OF TWO
    so the scaling is one (or two) IEEE-correctly-rounded sqrt calls,
    never libm pow() (whose last-ulp behavior differs across engines —
    the module's no-transcendentals parity discipline). epochs_half
    prices the consequence: how many passes over source s a
    {_D93_BUDGET_TOKENS:,}-token budget sampled at alpha = 1/2 implies
    (epochs > 1 = the upsampling repeats data — the overfitting signal
    mixture planners watch).

    Exactness: token counts fold as int64 (array-native length, no
    explode); the scaled shares round to DECIMAL(18,9) BEFORE the
    normalization sum (the d85/d21 move — a double sum is
    partition-order-dependent, a decimal sum is not), and every
    remaining double is an identical expression over those exact
    values on both engines.

    Scale shape: ONE corpus scan into a source-keyed fold (map-side
    combined), then arithmetic on the <= #sources-row table — the
    d33/d67 budget-family shape; at 100 TB the per-source token counts
    are the already-maintained ledger and the weight table broadcasts
    everywhere downstream."""
    src = t.documents.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens")
    )
    tot = src.agg(F.sum("n_tokens").alias("total_tokens"))
    shares = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        (
            F.col("n_tokens").cast("double")
            / F.col("total_tokens").cast("double")
        ).alias("share"),
    )
    scaled = shares.select(
        "source",
        "n_tokens",
        "share",
        F.round(F.sqrt("share"), 9).cast("decimal(18,9)").alias("u_half"),
        F.round(F.sqrt(F.sqrt("share")), 9)
        .cast("decimal(18,9)")
        .alias("u_quarter"),
    )
    norm = scaled.agg(
        F.sum("u_half").alias("z_half"),
        F.sum("u_quarter").alias("z_quarter"),
    )
    w_half = F.col("u_half").cast("double") / F.col("z_half").cast(
        "double"
    )
    return (
        scaled.crossJoin(F.broadcast(norm))
        .select(
            "source",
            "n_tokens",
            "share",
            w_half.alias("w_half"),
            (
                F.col("u_quarter").cast("double")
                / F.col("z_quarter").cast("double")
            ).alias("w_quarter"),
            (
                w_half * F.lit(_D93_BUDGET_TOKENS) / F.col("n_tokens")
            ).alias("epochs_half"),
        )
        .orderBy("source")
    )


# ------------------- d94: RAG chunking self-retrieval evaluation

# Chunk geometry: 40-word windows on a 20-word stride (50% overlap,
# the standard RAG default); query = 4 mid-doc words (positions
# 12..15, inside chunk 0 only) per panel doc.
_D94_CHUNK = 40
_D94_STRIDE = 20
_D94_Q_OFF = 12  # 1-based slice start of the query terms
_D94_Q_LEN = 4
# BM25 constants shared with d30's operator (same saturation shape).
from data_engineer_project_spark.operators.retrieval import (  # noqa: E402
    B as BM25_B,
    K1 as BM25_K1,
)


@query(
    "d94_chunk_retrieval_eval",
    f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    ch AS (
      SELECT doc_id,
             unnest(generate_series(0, (len(words) - 1) // {_D94_STRIDE}))
               AS pos,
             words
      FROM w
    ),
    chunks AS (
      SELECT doc_id, pos,
             words[pos * {_D94_STRIDE} + 1
                   : pos * {_D94_STRIDE} + {_D94_CHUNK}] AS cw,
             least({_D94_CHUNK}, len(words) - pos * {_D94_STRIDE}) AS dl
      FROM ch
    ),
    tok AS (
      SELECT doc_id, pos, dl, unnest(cw) AS term FROM chunks
    ),
    qraw AS (
      SELECT doc_id AS query_doc,
             unnest(words[{_D94_Q_OFF} : {_D94_Q_OFF} + {_D94_Q_LEN} - 1])
               AS term
      FROM w WHERE doc_id < 10
    ),
    qterms AS (
      SELECT DISTINCT query_doc, term FROM qraw
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
      FROM chunks
    ),
    dfreq AS (
      SELECT q.query_doc, q.term,
             CAST(COUNT(DISTINCT (t.doc_id, t.pos)) AS DOUBLE) AS df
      FROM qterms q JOIN tok t ON t.term = q.term
      GROUP BY 1, 2
    ),
    tf AS (
      SELECT q.query_doc, q.term, t.doc_id, t.pos,
             MIN(t.dl) AS dl,
             CAST(COUNT(*) AS DOUBLE) AS tf
      FROM qterms q JOIN tok t ON t.term = q.term
      GROUP BY 1, 2, 3, 4
    ),
    contrib AS (
      SELECT f.query_doc, f.doc_id, f.pos,
             CAST(round(
               ((s.n - d.df + 0.5) / (d.df + 0.5))
               * ((f.tf * ({BM25_K1} + 1.0))
                  / (f.tf + {BM25_K1} * (1.0 - {BM25_B}
                     + ({BM25_B} * CAST(f.dl AS DOUBLE)) / s.avgdl))),
               9) AS DECIMAL(18,9)) AS c9
      FROM tf f
      JOIN dfreq d ON d.query_doc = f.query_doc AND d.term = f.term
      CROSS JOIN stats s
    ),
    scored AS (
      SELECT query_doc, doc_id, pos, SUM(c9) AS score9
      FROM contrib GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT query_doc, doc_id, pos, score9,
             ROW_NUMBER() OVER (
               PARTITION BY query_doc
               ORDER BY score9 DESC, doc_id, pos) AS rn
      FROM scored
    )
    SELECT query_doc, CAST(doc_id AS BIGINT) AS top_doc,
           CAST(pos AS BIGINT) AS top_pos,
           CAST(score9 AS DOUBLE) AS top_score,
           (doc_id = query_doc) AS self_hit
    FROM ranked WHERE rn = 1
    ORDER BY query_doc
    """,
    tags=("llm", "retrieval", "rag", "eval"),
)
def d94_chunk_retrieval_eval(t):
    """RAG CHUNKING self-retrieval evaluation — the standard sanity
    eval run before trusting a chunk geometry: split every document
    into {_D94_CHUNK}-word windows on a {_D94_STRIDE}-word stride (50%
    overlap), issue each panel doc's own mid-doc words (positions
    {_D94_Q_OFF}..{_D94_Q_OFF + _D94_Q_LEN - 1}, inside chunk 0) as a
    query, BM25-rank ALL chunks, and report whether the top-1 chunk
    belongs to the querying document (self_hit). A geometry whose
    self-retrieval fails is returning someone else's context; the
    failure rate is the measurement.

    Fully relational inverted-index form — unlike d30's fixed-literal
    tf columns, the query terms here are DATA (each doc's own words),
    so tf/df come from equi-joins of the token table with the exploded
    query-term table: candidates are exactly the chunks sharing >= 1
    query term (inverted-index behavior — chunks matching nothing are
    never scored), never an all-pairs surface.

    Exactness: tf/df/n/dl are exact ints; each term's BM25
    contribution (d30's rational ln-free idf x the k1/b saturation,
    identically parenthesized) rounds to DECIMAL(18,9) BEFORE the
    per-chunk sum (the d85 move — a double sum over a grouped term
    set is partition-order-dependent), so ranking ties are decided on
    identical numbers in both engines.

    Scale shape: chunking is array-native (slice arithmetic in
    codegen); the token explode is corpus-linear with the shuffle
    keyed by term (AQE-sized); df collapses map-side; the final top-1
    is a window over the PANEL-bounded candidate set. At 100 TB the
    token table is the inverted index every retrieval stack already
    materializes, bucketed by term."""
    cw, st = _D94_CHUNK, _D94_STRIDE
    w = t.documents.select(
        "doc_id", F.split("text", " ").alias("words")
    )
    chunks = w.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, (size(words)-1) div {st}),"
                f" p -> struct(slice(words, p*{st}+1, {cw}) AS cw,"
                f" least({cw}, size(words) - p*{st}) AS dl))"
            )
        ).alias("pos", "c"),
    ).select("doc_id", "pos", "c.cw", "c.dl")
    tok = chunks.select(
        "doc_id", "pos", "dl", F.explode("cw").alias("term")
    )
    # distinct: BM25 treats the query as a term SET — a word repeated
    # inside the query slice must not double the document-tf join fan-out
    qterms = (
        w.filter(F.col("doc_id") < 10)
        .select(
            F.col("doc_id").alias("query_doc"),
            F.explode(
                F.slice("words", _D94_Q_OFF, _D94_Q_LEN)
            ).alias("term"),
        )
        .distinct()
    )
    stats = chunks.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (
            F.sum("dl").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    hits = tok.join(F.broadcast(qterms), "term")
    dfreq = hits.groupBy("query_doc", "term").agg(
        F.countDistinct("doc_id", "pos").cast("double").alias("df")
    )
    tf = hits.groupBy("query_doc", "term", "doc_id", "pos").agg(
        F.min("dl").alias("dl"),
        F.count(F.lit(1)).cast("double").alias("tf"),
    )
    # identical parenthesization to the oracle — do not reorder
    idf = (F.col("n") - F.col("df") + F.lit(0.5)) / (
        F.col("df") + F.lit(0.5)
    )
    sat = (F.col("tf") * (F.lit(BM25_K1) + F.lit(1.0))) / (
        F.col("tf")
        + F.lit(BM25_K1)
        * (
            F.lit(1.0)
            - F.lit(BM25_B)
            + (F.lit(BM25_B) * F.col("dl").cast("double")) / F.col("avgdl")
        )
    )
    contrib = (
        tf.join(F.broadcast(dfreq), ["query_doc", "term"])
        .crossJoin(F.broadcast(stats))
        .select(
            "query_doc",
            "doc_id",
            "pos",
            F.round(idf * sat, 9).cast("decimal(18,9)").alias("c9"),
        )
    )
    scored = contrib.groupBy("query_doc", "doc_id", "pos").agg(
        F.sum("c9").alias("score9")
    )
    win = Window.partitionBy("query_doc").orderBy(
        F.desc("score9"), F.asc("doc_id"), F.asc("pos")
    )
    return (
        scored.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select(
            "query_doc",
            F.col("doc_id").cast("long").alias("top_doc"),
            F.col("pos").cast("long").alias("top_pos"),
            F.col("score9").cast("double").alias("top_score"),
            (F.col("doc_id") == F.col("query_doc")).alias("self_hit"),
        )
        .orderBy("query_doc")
    )


# ---------------- d95: partitioned-sink write/read roundtrip audit


@query(
    "d95_partitioned_roundtrip_audit",
    f"""
    WITH assigned AS (
      SELECT doc_id, lang, n_chars,
             {D91_PAY_O} AS pay_ck,
             {D91_ID_O} AS id_ck
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(pay_ck) AS BIGINT) AS payload_checksum,
           CAST(SUM(id_ck) AS BIGINT) AS id_checksum,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM assigned GROUP BY 1 ORDER BY 1
    """,
    tags=("llm", "sink", "integrity"),
)
def d95_partitioned_roundtrip_audit(t):
    """Partitioned parquet SINK with a write -> read-back -> verify
    roundtrip — the one surface d91's manifest doesn't touch: the
    query WRITES the corpus as a hive-partitioned dataset
    (partitionBy(lang), the layout a 100 TB delivery actually ships so
    per-language consumers prune at the directory level), re-reads the
    artifact from disk, and audits the READ-BACK copy with d91's two
    order-independent sum-checksums. The oracle computes the same
    rollup from the SOURCE table, so a hash match proves byte fidelity
    of every payload and every (doc_id, n_chars) binding through the
    write/read cycle — the check a delivery pipeline runs before
    declaring a drop complete.

    The artifact is content-addressed (store key = row count + both
    corpus checksums + STORE_VERSION) and written via the atomic
    temp-dir+rename store machinery (one rename moves the whole
    partitioned tree), so re-runs on the same corpus re-READ, never
    re-write, and concurrent first callers cannot expose a
    half-written dataset. A pytest pins partition pruning on the
    read-back path (PartitionFilters in the plan) and store reuse.

    Exactness: checksums are sums of 16-bit md5-prefix ints (int64);
    every column is an exact integer fold.

    Scale shape: one write (shuffle-free — partitionBy splits files
    within each task), one read, one lang-keyed fold. The bounded
    driver collect is the 1-row fingerprint aggregate."""
    docs = t.documents
    fp = docs.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr(D91_PAY_S)).alias("p"),
        F.sum(F.expr(D91_ID_S)).alias("i"),
    ).collect()[0]
    key = f"rt{SIM.STORE_VERSION}_n{fp.n}_p{fp.p}_i{fp.i}"
    root = SIM.WAREHOUSE / "roundtrip_store"
    store = root / key
    if not (store / "_SUCCESS").exists():
        SIM.write_store_atomic(docs, store, partition_by=["lang"])
        SIM.prune_store(root)
    back = docs.sparkSession.read.parquet(str(store))
    return (
        back.select(
            "lang",
            "doc_id",
            "n_chars",
            F.expr(D91_PAY_S).alias("pay_ck"),
            F.expr(D91_ID_S).alias("id_ck"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("pay_ck").cast("long").alias("payload_checksum"),
            F.sum("id_ck").cast("long").alias("id_checksum"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("lang")
    )


# --------------- d96: dedup threshold calibration (operating curve)

_D96_CUTS = (50, 70, 90)  # Jaccard thresholds, percent


@query(
    "d96_dedup_threshold_calibration",
    f"""
    WITH {ND.shingles_sql()},
    {ND.inverted_pairs_sql()},
    stats AS (
      SELECT doc_a, doc_b, n_inter, n_a + n_b - n_inter AS n_union
      FROM pstats
    ),
    cuts AS (
      SELECT unnest(ARRAY{list(_D96_CUTS)}) AS threshold_pct
    ),
    hits AS (
      SELECT c.threshold_pct, s.doc_a, s.doc_b
      FROM stats s JOIN cuts c
        ON 100 * s.n_inter >= c.threshold_pct * s.n_union
    ),
    toks AS (
      SELECT doc_id, CAST(length(string_split(text, ' ')) AS BIGINT)
               AS n_tok
      FROM documents
    ),
    removed AS (
      SELECT DISTINCT threshold_pct, doc_b FROM hits
    ),
    nd AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT c.threshold_pct,
           CAST(COALESCE(p.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(r.n_removed, 0) AS BIGINT) AS n_docs_removed,
           CAST(COALESCE(r.tokens_removed, 0) AS BIGINT)
             AS tokens_removed,
           CAST(COALESCE(r.n_removed, 0) AS DOUBLE)
             / CAST(nd.n_docs AS DOUBLE) AS frac_docs_removed
    FROM cuts c
    LEFT JOIN (
      SELECT threshold_pct, COUNT(*) AS n_pairs FROM hits GROUP BY 1
    ) p ON p.threshold_pct = c.threshold_pct
    LEFT JOIN (
      SELECT rm.threshold_pct, COUNT(*) AS n_removed,
             SUM(t.n_tok) AS tokens_removed
      FROM removed rm JOIN toks t ON t.doc_id = rm.doc_b
      GROUP BY 1
    ) r ON r.threshold_pct = c.threshold_pct
    CROSS JOIN nd
    ORDER BY c.threshold_pct
    """,
    tags=("llm", "dedup", "calibration"),
)
def d96_dedup_threshold_calibration(t):
    """Dedup threshold CALIBRATION CURVE — the operating-point table a
    dedup rollout is tuned from: for Jaccard cuts at
    {_D96_CUTS} percent, how many near-dup pairs fire, how many
    documents the greedy keep-lowest-id rule would remove (a doc is
    removed iff SOME earlier doc matches it at the cut — d47's
    keep-first semantics, deliberately transitive-closure-free so the
    rollup is pure relational), and how many tokens that reclaims.
    Reading the curve top-down shows the knob's bite: 90% catches only
    verbatim-grade twins, 50% starts eating topical siblings — the
    pairs/removal deltas between rows ARE the precision/recall
    trade-off made visible.

    One pair materialization serves the whole sweep: candidates come
    from d12's informative-shingle inverted index (document frequency
    2..50 — any pair with positive Jaccard over those sets shares a
    shingle, so candidate recall at every cut is EXACT, not
    probabilistic), and each pair carries INTEGER (n_inter, n_union)
    so every cut is the rational test 100·n_inter >= pct·n_union —
    no doubles anywhere near a boundary.

    Exactness: counts int64 end-to-end; the one double is the removed
    fraction.

    Scale shape: the shingle index + pair stats are d12's
    corpus-linear machinery, paid ONCE for all {len(_D96_CUTS)} cuts
    (a x3 constant fan-out on the bounded pair set, never a rescan);
    removal/token rollups are small keyed folds. At 100 TB this query
    IS the nightly report next to the persisted shingle table."""
    stats = DD.ngram_pair_stats(fanout_small(t.documents), max_df=50)
    cuts = F.explode(
        F.array(*[F.lit(c) for c in _D96_CUTS])
    ).alias("threshold_pct")
    hits = tracked_persist(
        stats.select("doc_a", "doc_b", "n_inter", "n_union", cuts).filter(
            100 * F.col("n_inter") >= F.col("threshold_pct") * F.col("n_union")
        )
    )
    toks = t.documents.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    removed = (
        hits.select("threshold_pct", "doc_b")
        .distinct()
        .join(toks, F.col("doc_b") == F.col("doc_id"))
        .groupBy("threshold_pct")
        .agg(
            F.count(F.lit(1)).alias("n_removed"),
            F.sum("n_tok").alias("tokens_removed"),
        )
    )
    pairs = hits.groupBy("threshold_pct").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    nd = t.documents.agg(F.count(F.lit(1)).alias("n_docs"))
    grid = t.documents.sparkSession.createDataFrame(
        [(c,) for c in _D96_CUTS], "threshold_pct int"
    )
    zero = F.lit(0).cast("long")
    return (
        grid.join(F.broadcast(pairs), "threshold_pct", "left")
        .join(F.broadcast(removed), "threshold_pct", "left")
        .crossJoin(F.broadcast(nd))
        .select(
            F.col("threshold_pct").cast("long").alias("threshold_pct"),
            F.coalesce("n_pairs", zero).alias("n_pairs"),
            F.coalesce("n_removed", zero).alias("n_docs_removed"),
            F.coalesce("tokens_removed", zero).alias("tokens_removed"),
            (
                F.coalesce("n_removed", zero).cast("double")
                / F.col("n_docs").cast("double")
            ).alias("frac_docs_removed"),
        )
        .orderBy("threshold_pct")
    )


# -------------- d97: classifier threshold calibration (P/R curve)

# Margin cuts in integer bits: tau = -8 (permissive: call 'en' unless
# strongly other-ish), 0 (the d90 default), +8 (strict: demand 8 bits
# of evidence). Predict 'en' iff margin >= tau.
_D97_CUTS = (-8, 0, 8)


@query(
    "d97_classifier_threshold_calibration",
    f"""
    WITH {D90_SCORED_CTES},
    cuts AS (SELECT unnest(ARRAY{list(_D97_CUTS)}) AS tau)
    SELECT c.tau,
           CAST(SUM(CASE WHEN s.margin >= c.tau AND s.lang = 'en'
                         THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN s.margin >= c.tau AND s.lang <> 'en'
                         THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN s.margin < c.tau AND s.lang = 'en'
                         THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           CAST(SUM(CASE WHEN s.margin < c.tau AND s.lang <> 'en'
                         THEN 1 ELSE 0 END) AS BIGINT) AS tn,
           CAST(SUM(CASE WHEN s.margin >= c.tau AND s.lang = 'en'
                         THEN 1 ELSE 0 END) AS DOUBLE)
             / NULLIF(SUM(CASE WHEN s.margin >= c.tau
                               THEN 1 ELSE 0 END), 0) AS precision_en,
           CAST(SUM(CASE WHEN s.margin >= c.tau AND s.lang = 'en'
                         THEN 1 ELSE 0 END) AS DOUBLE)
             / NULLIF(SUM(CASE WHEN s.lang = 'en'
                               THEN 1 ELSE 0 END), 0) AS recall_en
    FROM scored s CROSS JOIN cuts c
    GROUP BY c.tau
    ORDER BY c.tau
    """,
    tags=("llm", "quality", "classifier", "calibration"),
)
def d97_classifier_threshold_calibration(t):
    """Decision-threshold CALIBRATION for the d90 classifier — d96's
    operating-curve idea applied to the model side: sweep the margin
    cut tau over {_D97_CUTS} bits and report the confusion counts plus
    precision/recall of the positive class at each cut. This is the
    table a curation team reads before wiring a classifier into the
    keep/drop path (a quality filter is usually run PRECISION-first:
    raise tau until the kept pool is clean, and pay the recall).
    Margins are integer bits, so the cuts are exact integer
    comparisons — the curve has no float-boundary ambiguity by
    construction.

    Exactness: one shared scoring pipeline (``_d90_scored_frame`` /
    ``D90_SCORED_CTES``) feeds d90 and this sweep — the margins are
    identical by construction, not by re-derivation; counts are int64;
    precision/recall are single double divisions (NULL when a cut
    empties its denominator).

    Scale shape: the scoring cost is d90's (two token scans + a
    256-row broadcast model); the sweep itself is a x{len(_D97_CUTS)}
    constant fan-out over the per-doc margin table folded map-side to
    {len(_D97_CUTS)} rows."""
    scored = _d90_scored_frame(t)
    cuts = F.explode(
        F.array(*[F.lit(c) for c in _D97_CUTS])
    ).alias("tau")
    x = scored.select("lang", "margin", cuts)
    pos = (F.col("margin") >= F.col("tau")).cast("long")
    is_en = (F.col("lang") == "en").cast("long")
    return (
        x.groupBy("tau")
        .agg(
            F.sum(pos * is_en).alias("tp"),
            F.sum(pos * (1 - is_en)).alias("fp"),
            F.sum((1 - pos) * is_en).alias("fn"),
            F.sum((1 - pos) * (1 - is_en)).alias("tn"),
        )
        .select(
            F.col("tau").cast("long").alias("tau"),
            "tp",
            "fp",
            "fn",
            "tn",
            (
                F.col("tp").cast("double")
                / F.nullif((F.col("tp") + F.col("fp")).cast("double"), F.lit(0.0))
            ).alias("precision_en"),
            (
                F.col("tp").cast("double")
                / F.nullif((F.col("tp") + F.col("fn")).cast("double"), F.lit(0.0))
            ).alias("recall_en"),
        )
        .orderBy("tau")
    )


# ------------- d98: duplication profile (cluster-size distribution)


@query(
    "d98_duplication_profile",
    """
    WITH cl AS (
      SELECT md5(text) AS f, CAST(COUNT(*) AS BIGINT) AS k,
             CAST(MIN(doc_id) AS BIGINT) AS rep,
             CAST(SUM(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY 1
    ),
    hist AS (
      SELECT k,
             CAST(COUNT(*) AS BIGINT) AS n_clusters,
             CAST(SUM(k) AS BIGINT) AS n_docs,
             CAST(SUM(k - 1) AS BIGINT) AS removable_docs,
             CAST(SUM(chars - chars // k) AS BIGINT)
               AS reclaimable_chars,
             CAST(MIN(rep) AS BIGINT) AS sample_rep
      FROM cl GROUP BY k
    ),
    tot AS (SELECT SUM(n_docs) AS total_docs FROM hist)
    SELECT h.k AS cluster_size, h.n_clusters, h.n_docs,
           h.removable_docs, h.reclaimable_chars, h.sample_rep,
           CAST(h.n_docs AS DOUBLE) / CAST(t.total_docs AS DOUBLE)
             AS doc_share
    FROM hist h CROSS JOIN tot t
    ORDER BY h.k
    """,
    tags=("llm", "dedup", "forensics"),
)
def d98_duplication_profile(t):
    """Corpus DUPLICATION PROFILE — the forensic a dedup rollout runs
    FIRST, before choosing its tiers: group exact duplicates by
    payload md5 and histogram the cluster sizes. Each row answers
    'how many k-fold duplicate cliques exist, how many docs and
    characters does collapsing them reclaim, and what share of the
    corpus lives at this multiplicity'. The k = 1 row is the unique
    mass; a heavy tail is the signal that exact-dup collapse (the
    d05/d89 tier) must run before any pairwise near-dup machinery —
    d96's 100x sweep showed WHY (replica cliques emit ~k²/2 candidate
    pairs, then the df cap zeroes the near-dup surface entirely);
    this query is the cheap measurement that tells an operator which
    regime a corpus is in before any pair generation is attempted.

    Exactness: per-cluster char reclaim is chars - chars/k in INTEGER
    division on both engines (the representative keeps one copy;
    exact when duplicates are byte-identical, as md5 grouping
    guarantees); all counts int64; doc_share is the one double.

    Scale shape: ONE map-side-combined groupBy on the md5 fingerprint
    (the d05 shuffle) followed by a fold keyed by cluster size —
    output rows are bounded by the number of DISTINCT multiplicities
    (<= ~log-scale dozens on real corpora), never by corpus size. At
    100 TB this is strictly cheaper than any dedup it gates."""
    cl = t.documents.groupBy(F.md5("text").alias("f")).agg(
        F.count(F.lit(1)).alias("k"),
        F.min("doc_id").alias("rep"),
        F.sum("n_chars").cast("long").alias("chars"),
    )
    hist = cl.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("k").cast("long").alias("n_docs"),
        F.sum(F.col("k") - 1).cast("long").alias("removable_docs"),
        F.sum(F.col("chars") - F.expr("chars div k"))
        .cast("long")
        .alias("reclaimable_chars"),
        F.min("rep").alias("sample_rep"),
    )
    tot = hist.agg(F.sum("n_docs").alias("total_docs"))
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            F.col("k").cast("long").alias("cluster_size"),
            "n_clusters",
            "n_docs",
            "removable_docs",
            "reclaimable_chars",
            "sample_rep",
            (
                F.col("n_docs").cast("double")
                / F.col("total_docs").cast("double")
            ).alias("doc_share"),
        )
        .orderBy("cluster_size")
    )


# ------- d99: weighted near-dup clusters (d65's production-scale twin)


@query(
    "d99_weighted_neardup_clusters",
    f"""
    WITH RECURSIVE {_REP_GRAPH_CTES},
    tk AS (SELECT doc_id AS node, wt,
                  length(string_split(text, ' ')) AS n_tok
           FROM reps),
    singles AS (
      SELECT doc_id AS node, doc_id AS component FROM reps
      WHERE wt > 1 AND doc_id NOT IN (SELECT node FROM nodes)
    ),
    allc AS (
      SELECT node, component FROM lab
      UNION ALL SELECT node, component FROM singles
    )
    SELECT CAST(c.component AS BIGINT) AS component,
           CAST(COUNT(*) AS BIGINT) AS n_reps,
           CAST(SUM(tk.wt) AS BIGINT) AS total_docs,
           CAST(MIN(c.node) AS BIGINT) AS canonical_doc,
           CAST(SUM(tk.wt * tk.n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(tk.wt * tk.n_tok)
                - (MIN({{'i': c.node, 't': tk.n_tok}})).t
                AS BIGINT) AS dup_tokens
    FROM allc c JOIN tk ON tk.node = c.node
    GROUP BY c.component ORDER BY component
    """,
    tags=("llm", "dedup", "graph"),
)
def d99_weighted_neardup_clusters(t):
    """d65's PRODUCTION-SCALE form — the d89 treatment applied to the
    text near-dup CLUSTER contract, retiring the last
    multiplicity-quadratic default in the dedup family: collapse exact
    copies to ONE representative per md5 fingerprint (weight =
    multiplicity) BEFORE MinHash banding, pair/verify/cluster the
    REPRESENTATIVES only, then report every cluster in UNCOLLAPSED
    units via the weights. A k-replica group that costs d65 k(k-1)/2
    verified pairs (the shape whose 100x stress OOMed d74,
    SCALING.md) is ONE node here — the edge set is sized by DISTINCT
    content, never duplicate multiplicity.

    Cluster-for-cluster parity with d65 is structural, not
    approximate: copies share signatures, so the rep graph's
    components expand to exactly d65's doc partition; the canonical
    (min doc_id) is preserved because each rep already carries its
    copy-group's min id. Exact-dup-only groups (wt > 1, no near-dup
    neighbor) surface as singleton components so the weighted form
    never loses a cluster d65 reports — it strictly gains the
    short-doc (< 3 tokens, hence shingle-less) exact-dup groups d65's
    shingle pipeline structurally misses. Both properties are pinned
    by pytest; the oracle re-derives collapse, banding, verification,
    the recursive component walk, and the weighted rollup in SQL.

    Columns mirror d65 in uncollapsed units: total_docs is d65's
    cluster_size, total_tokens the cluster's token mass SUM(wt *
    n_tok), dup_tokens what deleting all non-canonical DOCS saves
    (total minus ONE copy of the canonical text — the min-struct
    pick, exact int64 in both engines).

    Scale shape: the collapse is one map-side-combined groupBy on
    md5(text); banding/verification inherit d07's corpus-linear form
    over reps; CC shuffles the collapsed edge set for O(log diameter)
    rounds; singletons are a broadcast-free left-anti join. Measured
    at 100x duplication in SCALING.md alongside d89."""
    reps = tracked_persist(
        ND.collapse_exact(t.documents, rep="doc_id").select("doc_id", "text", "wt")
    )
    pairs = DD.minhash_lsh_pairs(
        reps, num_hashes=ND.NUM_HASHES, bands=ND.BANDS, jaccard_threshold=0.5
    ).select("doc_a", "doc_b")
    comps = GR.connected_components(pairs, pairs_unique=True)
    tk = reps.select(
        F.col("doc_id").alias("node"),
        "wt",
        T.token_count("text").alias("n_tok"),
    )
    return ND.weighted_rollup(tk, comps)


# --------- d100: incremental near-dup ingest (new batch vs corpus)


@query(
    "d100_incremental_neardup_ingest",
    f"""
    WITH inc AS (
      SELECT doc_id, text FROM documents WHERE {CUR.ORACLE_BUCKET} >= {ND.DELTA_SPLIT}
    ),
    corp AS (
      SELECT doc_id, text FROM documents WHERE {CUR.ORACLE_BUCKET} < {ND.DELTA_SPLIT}
    ),
    {ND.reps_sql("corp", "cfp")},
    exact AS (
      SELECT i.doc_id, c.doc_id AS mdoc
      FROM inc i JOIN cfp c ON c.fp = md5(i.text)
    ),
    rem AS (
      SELECT doc_id, text FROM inc
      WHERE doc_id NOT IN (SELECT doc_id FROM exact)
    ),
    {ND.probe_sql()},
    best AS (
      SELECT new_doc,
             (MAX({{'j': jaccard, 'i': -corpus_doc}})).i * -1 AS match_doc,
             (MAX({{'j': jaccard, 'i': -corpus_doc}})).j AS jaccard
      FROM ver GROUP BY 1
    )
    SELECT i.doc_id,
           CASE WHEN e.mdoc IS NOT NULL THEN 'exact_dup'
                WHEN b.match_doc IS NOT NULL THEN 'near_dup'
                ELSE 'novel' END AS verdict,
           CAST(COALESCE(e.mdoc, b.match_doc) AS BIGINT) AS match_doc,
           CAST(CASE WHEN e.mdoc IS NOT NULL THEN 1.0
                     ELSE b.jaccard END AS DOUBLE) AS jaccard
    FROM inc i
    LEFT JOIN exact e ON e.doc_id = i.doc_id
    LEFT JOIN best b ON b.new_doc = i.doc_id
    ORDER BY i.doc_id
    """,
    tags=("llm", "dedup", "incremental"),
)
def d100_incremental_neardup_ingest(t):
    """INCREMENTAL near-dup ingest — the missing tier between s11's
    exact-fingerprint door and d99's full-corpus clustering: a newly
    arriving batch (the content-addressed top decile, standing in for
    today's crawl delta) is deduplicated AGAINST the indexed corpus
    (the other 90%) without ever re-pairing the corpus with itself.
    Tier 1: exact md5 lookup (s11's door, min-id corpus match).
    Tier 2: survivors go through d07's MinHash machinery, but the
    band join is ONE-SIDED — incoming band keys against corpus band
    keys — so candidate volume is new x matching-corpus, never
    corpus², which is what makes nightly ingest affordable when the
    index dwarfs the delta. Verified exact-Jaccard >= 0.5; best match
    per incoming doc by (jaccard, min corpus id) struct-argmax.
    Verdicts: exact_dup (jaccard pinned 1.0) / near_dup / novel.

    Exactness: both engines compute jaccard as one double division of
    exact int shingle counts (the d65 convention) and the argmax
    struct compares (double, -int) identically.

    Scale shape: the corpus side's shingles/signatures/band keys are
    exactly what `shingle_table` + a persisted band-key table hold at
    100 TB — the nightly job computes them for the DELTA only and
    probes the indexed band table (AQE handles one-sided band-key
    skew by splitting the probe side; the corpus build path keeps the
    skew_guarded grid). Here both sides derive from one scan split by
    the md5 bucket."""
    bucket = F.expr(CUR.SPARK_BUCKET)
    docs = t.documents
    inc = docs.filter(bucket >= ND.DELTA_SPLIT).select("doc_id", "text")
    corp = docs.filter(bucket < ND.DELTA_SPLIT).select("doc_id", "text")
    cfp = ND.collapse_exact(corp, rep="mdoc").select("fp", "mdoc")
    exact = (
        inc.select("doc_id", F.md5("text").alias("fp"))
        .join(cfp, "fp")
        .select("doc_id", "mdoc")
    )
    rem = inc.join(exact.select("doc_id"), "doc_id", "left_anti")
    shi = tracked_persist(DD.exploded_shingles(rem).distinct())
    shc = tracked_persist(DD.exploded_shingles(corp).distinct())
    sigi = DD.minhash_signatures(shi, num_hashes=ND.NUM_HASHES)
    sigc = DD.minhash_signatures(shc, num_hashes=ND.NUM_HASHES)
    bi = DD.band_key_rows(sigi, num_hashes=ND.NUM_HASHES, bands=ND.BANDS).select(
        F.col("doc_id").alias("doc_a"), "band", "key"
    )
    bc = DD.band_key_rows(sigc, num_hashes=ND.NUM_HASHES, bands=ND.BANDS).select(
        F.col("doc_id").alias("doc_b"), "band", "key"
    )
    # doc_a is the incoming doc, doc_b its corpus candidate
    cand = bi.join(bc, ["band", "key"]).select("doc_a", "doc_b").distinct()
    ver = DD.exact_jaccard(cand, shi, sh_b=shc).filter(F.col("jaccard") >= 0.5)
    pick = F.max(
        F.struct(F.col("jaccard").alias("j"), (-F.col("doc_b")).alias("i"))
    )
    best = ver.groupBy("doc_a").agg(
        (pick["i"] * -1).alias("match_doc"), pick["j"].alias("jaccard")
    )
    return (
        inc.join(exact, "doc_id", "left")
        .join(best.withColumnRenamed("doc_a", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("mdoc").isNotNull(), F.lit("exact_dup"))
            .when(F.col("match_doc").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("novel"))
            .alias("verdict"),
            F.coalesce("mdoc", "match_doc").cast("long").alias("match_doc"),
            F.when(F.col("mdoc").isNotNull(), F.lit(1.0))
            .otherwise(F.col("jaccard"))
            .cast("double")
            .alias("jaccard"),
        )
        .orderBy("doc_id")
    )


# --------- d101: incremental cluster maintenance (d99 ∘ d100)

from data_engineer_project_spark.queries.catalog import QUERIES as _REGISTRY

# d101's contract IS "hash-equal to d99 from scratch on the full
# table", so its oracle is d99's oracle verbatim.
_D101_ORACLE = _REGISTRY["d99_weighted_neardup_clusters"].oracle


@query(
    "d101_incremental_cluster_merge",
    _D101_ORACLE,
    tags=("llm", "dedup", "graph", "incremental"),
)
def d101_incremental_cluster_merge(t):
    """INCREMENTAL cluster maintenance — the d99 ∘ d100 composition
    the round-9 verdict named as the missing piece: d100 classifies a
    crawl delta against the indexed corpus but nothing merged those
    verdicts into d99's standing clusters without a full rebuild.
    This query maintains the STANDING weighted cluster table: the
    corpus partition's exact-collapse reps and components live in a
    fingerprint-keyed warehouse store (neardup_cluster_store — built
    once per corpus by ``neardup.cluster_state``, swept by
    sweep_stores); each run merges the delta partition in via
    ``neardup.merge_delta`` (exact dups bump weights, near dups attach/bridge through
    one-sided band probes, novels open singletons) and returns the
    full merged cluster table, HASH-EQUAL to d99 run from scratch on
    all documents — the oracle is d99's oracle verbatim, and the
    parity pytest pins Spark-vs-Spark equality too.

    Corpus/delta split: md5(doc_id) buckets (d100's convention),
    delta = the top decile (buckets >= ``neardup.DELTA_SPLIT``).

    Scale shape: the store holds reps + components + the corpus
    shingle and band-key tables (shingle_table's 100 TB form), and the
    store KEY is a metadata-only file manifest (``neardup.corpus_key``:
    driver-side listing, zero Spark jobs — the round-10 version paid a
    full corpus-text checksum scan here every warm run), so the warm
    path touches NOTHING corpus-scale except the star-edge CC pass
    and the rollup scan: delta work is delta x matching-corpus +
    delta^2-guarded. CC runs over already-converged star edges plus
    delta attachments, so its rounds track the log diameter of NEW
    merges only. Measured in SCALING.md: warm runtime is FLAT as the
    delta grows 10x (1% -> 10% of the table) and beats the d99 full
    rebuild it replaces."""
    bucket = F.expr(CUR.SPARK_BUCKET)
    docs = t.documents
    corpus = docs.filter(bucket < ND.DELTA_SPLIT).select("doc_id", "text")
    delta = docs.filter(bucket >= ND.DELTA_SPLIT).select("doc_id", "text")
    store = ND.state_store(corpus)
    if not ND.state_complete(store):
        ND.publish_state(ND.cluster_state(corpus), store)
        SIM.prune_store(store.parent)
    # Store-read fan-out: measured and REJECTED twice. r14 recorded it
    # as inconclusive (after-readings straddled baseline); the r15
    # interleaved A/B (5 paired solo min-of-6 invocations, alternating
    # order) read it consistently ~1 s SLOWER (7.61–7.95 s vs
    # 6.75–6.93 s): the guarded exchange moves the WHOLE corpus
    # shingle artifact to parallelize per-row work that is small at
    # any scale where the guard fires, and at real split counts the
    # guard is a no-op anyway — so the fan-out can only ever cost.
    # Do not retry without new evidence.
    st = ND.merge_delta(delta, ND.read_state(docs.sparkSession, store))
    return ND.weighted_rollup(st["reps"], st["comps"])
