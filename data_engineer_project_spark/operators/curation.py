"""The curation DAG's shared stages, in both engines.

The batch DAG (d56), the incremental rebuild (d64) and the streaming
front door (s16) compose the same five stages that d25/d39/d42/d45/d47
and their neighbours run one at a time:

- decontamination overlap (``overlap``/``leaky``): informative 3-gram
  shingles (df <= 50 and > 1) of the test (bucket >= 90) and train
  (bucket < 80) splits, joined on the shingle;
- PII inject and redact (``pii_injected``/``redacted``): deterministic
  doc_id-derived email/phone spans appended, then scrubbed;
- chunking (``chunks``/``first_chunks``): non-overlapping 8-word
  chunks, keep-first by min(struct(doc_id, pos, ...));
- mixture keep-threshold (``keep_thresholds``, ``mixture_keep``,
  ``mixture_report``): each group downsampled toward the smallest
  group's token mass by a 1/65536-resolution md5 bucket threshold;
- seeded shard deal (``shard_deal``): md5(seed ‖ doc_id) order inside
  corpus-derived shards, summarised per shard.

Each Spark function has a DuckDB twin returning comma-joinable CTE
text (no ``WITH`` keyword), as in ``operators/neardup.py``. The
content-addressed keys both engines share (``md5_hex_int`` and the
bucket expressions) live here too: pure md5/substring/instr SQL, so a
doc lands in the same split, bucket and shard on either engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_engineer_project_spark.operators.cache import tracked_persist

# ----------------------------------------------------- content addressing


def md5_hex_int(
    id_expr: str, cast_type: str, digits: int = 4, prefix: str = ""
) -> str:
    """Engine-portable integer from the first ``digits`` md5 hex digits
    of ``prefix`` ‖ ``id_expr`` — pure md5/substring/instr arithmetic,
    identical in Spark SQL (cast_type='string') and DuckDB
    (cast_type='varchar'). The one definition behind every
    content-addressed bucket/shard key (splits, sampling buckets,
    packing and epoch shards), so twin pairs stay identical by
    construction. (Engine hash() builtins are not portable; seeded
    sample() is not stable across partitionings.)"""
    key = f"cast({id_expr} as {cast_type})"
    if prefix:
        key = f"concat('{prefix}', {key})"
    digit = f"(instr('0123456789abcdef', substring(md5({key}), {{i}}, 1)) - 1)"
    return " + ".join(
        f"{digit.format(i=i + 1)} * {16 ** (digits - 1 - i)}"
        if i < digits - 1
        else digit.format(i=i + 1)
        for i in range(digits)
    )


# The train/valid/test split bucket: two hex digits -> 0..255 -> % 100.
SPARK_BUCKET = f"({md5_hex_int('doc_id', 'string', 2)}) % 100"
ORACLE_BUCKET = f"({md5_hex_int('doc_id', 'varchar', 2)}) % 100"

# The sampling bucket: four hex digits -> 0..65535, so a keep ratio
# resolves to 1/65536 of a group's mass — fine enough to downsample a
# group 10^4x larger than the smallest without granularity overshoot.
SPARK_BUCKET64K = f"({md5_hex_int('doc_id', 'string', 4)})"
ORACLE_BUCKET64K = f"({md5_hex_int('doc_id', 'varchar', 4)})"

# Shard sizing: the shard COUNT doubles with the corpus until each
# shard holds ~_PACK_SHARD_TARGET docs (integer comparisons ``n >
# TARGET << j``, so the DuckDB twin derives the identical count from
# COUNT(*)). Capped at 2^16 shards by the hash domain — beyond that
# shards grow linearly but stay 65536x smaller than the corpus. A
# window keyed by such a shard stays bounded at any scale.
_PACK_SHARD_TARGET = 256
_PACK_SHARD_MAX_BITS = 16


def pack_shards(n: int) -> int:
    """Shard count for an n-doc corpus: 2^(#{j < 16 : n > 256·2^j})."""
    return 1 << sum(
        1 for j in range(_PACK_SHARD_MAX_BITS) if n > (_PACK_SHARD_TARGET << j)
    )


PACK_SHARDS_SQL = "1 " + " ".join(
    f"* (CASE WHEN n_docs > {_PACK_SHARD_TARGET << j} THEN 2 ELSE 1 END)"
    for j in range(_PACK_SHARD_MAX_BITS)
)

# ------------------------------------------------ decontamination overlap


def split_shingles(sh: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(test_sh(doc_id, shingle), train_sh(train_doc, shingle)) from a
    distinct (doc_id, shingle) set: only informative shingles (df <= 50
    drops stop-shingles, df > 1 drops ones no other doc shares), split
    by the content-addressed bucket — test >= 90, train < 80."""
    informative = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") <= 50) & (F.col("df") > 1))
        .select("shingle")
    )
    shf = sh.join(informative, "shingle").withColumn("bucket", F.expr(SPARK_BUCKET))
    test_sh = shf.filter(F.col("bucket") >= 90).select("doc_id", "shingle")
    train_sh = shf.filter(F.col("bucket") < 80).select(
        F.col("doc_id").alias("train_doc"), "shingle"
    )
    return test_sh, train_sh


def overlap(sh: DataFrame) -> DataFrame:
    """(train_doc, test_doc, n_overlap): informative shingles each
    train/test doc pair shares. The inverted-index equi-join on the
    shingle keeps it corpus-linear, never |test|x|train|."""
    test_sh, train_sh = split_shingles(sh)
    return (
        test_sh.join(train_sh, "shingle")
        .groupBy("train_doc", F.col("doc_id").alias("test_doc"))
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


def leaking_pairs(sh: DataFrame) -> DataFrame:
    """The ``overlap`` pairs sharing >= 2 informative shingles (the
    GPT-3-style n-gram contamination rule)."""
    return overlap(sh).filter(F.col("n_overlap") >= 2)


def leaky(sh: DataFrame) -> DataFrame:
    """(train_doc): train docs in any leaking pair. Its size is a
    property of the data (a contaminated crawl makes it
    corpus-proportional), so never broadcast-hint it."""
    return leaking_pairs(sh).select("train_doc").distinct()


def overlap_sql(source: str = "sh", suffix: str = "") -> str:
    """``shd{suffix}`` (the distinct (doc_id, shingle) set of
    ``source``), ``informative{suffix}``, ``shf{suffix}``,
    ``test_sh{suffix}``/``train_sh{suffix}``(doc_id, shingle),
    ``overlap{suffix}``(train_doc, test_doc, n_overlap),
    ``leaks{suffix}`` (its >= 2 pairs) and ``leaky{suffix}``(train_doc)."""
    s = suffix
    return f"""shd{s} AS (SELECT DISTINCT doc_id, shingle FROM {source}),
    informative{s} AS (
      SELECT shingle FROM shd{s} GROUP BY shingle
      HAVING COUNT(*) <= 50 AND COUNT(*) > 1
    ),
    shf{s} AS (
      SELECT shd{s}.doc_id, shd{s}.shingle, {ORACLE_BUCKET} AS bucket
      FROM shd{s} JOIN informative{s} USING (shingle)
    ),
    test_sh{s} AS (SELECT doc_id, shingle FROM shf{s} WHERE bucket >= 90),
    train_sh{s} AS (SELECT doc_id, shingle FROM shf{s} WHERE bucket < 80),
    overlap{s} AS (
      SELECT tr.doc_id AS train_doc, te.doc_id AS test_doc, COUNT(*) AS n_overlap
      FROM test_sh{s} te JOIN train_sh{s} tr ON te.shingle = tr.shingle
      GROUP BY 1, 2
    ),
    leaks{s} AS (SELECT * FROM overlap{s} WHERE n_overlap >= 2),
    leaky{s} AS (SELECT DISTINCT train_doc FROM leaks{s})"""


# ---------------------------------------------------- PII inject / redact

# Patterns restricted to the character-class/quantifier subset where
# Java regex and RE2 agree (no backrefs, no lookaround). The local part
# is bounded to RFC 5321's 64 characters: unbounded, Java's backtracking
# matcher is quadratic in a long '@'-less run (a base64 or hex blob),
# while RE2 stays linear either way.
EMAIL_RE = "[A-Za-z0-9._%+-]{1,64}@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


def pii_injected() -> Column:
    """``text`` with a deterministic doc_id-derived email address and
    phone number appended (the synthetic corpus carries no PII)."""
    d = F.col("doc_id")
    return F.concat(
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


def redacted(text: str | Column) -> Column:
    """``text`` with every email -> <EMAIL> and phone -> <PHONE>."""
    return F.regexp_replace(
        F.regexp_replace(text, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )


PII_INJECTED_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@mail-' || CAST(doc_id % 97 AS VARCHAR) || '.example.com'"
    " || ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')"
    " || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


def redacted_sql(text: str) -> str:
    """``redacted`` over the SQL expression ``text``."""
    return (
        f"regexp_replace(regexp_replace({text}, '{EMAIL_RE}', '<EMAIL>', 'g'),"
        f" '{PHONE_RE}', '<PHONE>', 'g')"
    )


# The whole inject + redact step as one SQL expression (text/doc_id in
# scope); the Spark twin is ``redacted(pii_injected())``.
PII_REDACTED_SQL = redacted_sql(PII_INJECTED_SQL)

# ------------------------------------------------------------- chunking

CHUNK_WORDS = 8


def chunks(docs: DataFrame, text: str, carry: tuple[str, ...]) -> DataFrame:
    """(doc_id, *carry, pos, chunk, n_words): ``docs``.``text`` cut
    into non-overlapping CHUNK_WORDS-word chunks (the last one may be
    shorter). A pure JVM map: sequence + slice inside whole-stage
    codegen, bounded per-doc arrays, no joins."""
    cw = CHUNK_WORDS
    return (
        docs.select("doc_id", *carry, F.split(text, " ").alias("words"))
        .select(
            "doc_id",
            *carry,
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, (size(words)-1) div {cw}),"
                    f" j -> struct(concat_ws(' ', slice(words, j*{cw}+1, {cw})) AS chunk,"
                    f" least({cw}, size(words) - j*{cw}) AS n_words))"
                )
            ).alias("pos", "c"),
        )
        .select("doc_id", *carry, "pos", "c.chunk", "c.n_words")
    )


def first_chunks(ch: DataFrame, *carry: str) -> DataFrame:
    """(chunk, first): one survivor per distinct chunk, the first
    occurrence = min(struct(doc_id, pos, *carry, n_words)). A
    map-side-combining aggregate, never a window over the chunk key: a
    viral chunk's occurrence list (unbounded at scale) never lands in
    one task. n_words is a function of the chunk text, so the
    survivor's value is the value."""
    return ch.groupBy("chunk").agg(
        F.min(F.struct("doc_id", "pos", *carry, "n_words")).alias("first")
    )


def chunks_sql(source: str, text: str, carry: tuple[str, ...]) -> str:
    """``cwords``, ``cpos``, ``chunks``(doc_id, *carry, pos, chunk,
    n_words) and ``cranked``(doc_id, *carry, n_words, rn): rn = 1 marks
    each chunk's first occurrence by (doc_id, pos)."""
    cols = "".join(f"{c}, " for c in carry)
    cw = CHUNK_WORDS
    return f"""cwords AS (
      SELECT doc_id, {cols}string_split({text}, ' ') AS words FROM {source}
    ),
    cpos AS (
      SELECT doc_id, {cols}
             unnest(generate_series(0, (len(words) - 1) // {cw})) AS pos,
             words
      FROM cwords
    ),
    chunks AS (
      SELECT doc_id, {cols}pos,
             array_to_string(words[pos * {cw} + 1 : (pos + 1) * {cw}], ' ') AS chunk,
             least({cw}, len(words) - pos * {cw}) AS n_words
      FROM cpos
    ),
    cranked AS (
      SELECT doc_id, {cols}n_words,
             ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
      FROM chunks
    )"""


# ------------------------------------------------ mixture keep-threshold

# A doc is kept iff its 64K bucket < ceil(65536 · min_tokens /
# group_tokens): every group downsamples toward the smallest group's
# token mass. Integer arithmetic end to end, so bit-equal in DuckDB.
_KEEP_THR = "least(65536, (65536 * min_tok + orig_tokens - 1) div orig_tokens)"
_KEEP_THR_SQL = "least(65536, (65536 * min_tok + orig_tokens - 1) // orig_tokens)"


def keep_thresholds(src: DataFrame) -> DataFrame:
    """``src`` (one row per group, with orig_tokens) plus min_tok and
    keep_thr. The minimum across groups is a window over one partition:
    the frame spans <= #groups rows (driver-scale metadata), so the
    single-partition window is bounded by design."""
    return src.withColumn(
        "min_tok", F.min("orig_tokens").over(Window.partitionBy(F.lit(1)))
    ).withColumn("keep_thr", F.expr(_KEEP_THR))


def mixture_keep(rows: DataFrame, src: DataFrame) -> DataFrame:
    """``rows`` (doc_id, source, ...) whose 64K bucket clears their
    source's threshold, thresholds computed from ``src``(source,
    orig_tokens). The threshold table is <= #sources rows, so it is
    broadcast. The keep decision is a pure function of doc_id, so a
    doc keeps or drops the same way on any engine or partitioning."""
    thr = keep_thresholds(src).select("source", "keep_thr")
    return (
        rows.withColumn("bkt", F.expr(SPARK_BUCKET64K))
        .join(F.broadcast(thr), "source")
        .filter(F.col("bkt") < F.col("keep_thr"))
        .select(*rows.columns)
    )


def mixture_report(hist: DataFrame, key: str) -> DataFrame:
    """Per ``key`` group of ``hist``(key, bkt, n, tokens) — a (group x
    64K-bucket) histogram — the downsampling outcome: (key, orig_docs,
    orig_tokens, keep_thr, kept_docs, kept_tokens), ordered by key.
    Everything derives from the persisted histogram, so the corpus is
    scanned once; the threshold and kept tables are group-sized and
    broadcast."""
    hist = tracked_persist(hist)
    thr = keep_thresholds(
        hist.groupBy(key).agg(
            F.sum("n").alias("orig_docs"), F.sum("tokens").alias("orig_tokens")
        )
    )
    kept = (
        hist.join(F.broadcast(thr.select(key, "keep_thr")), key)
        .filter(F.col("bkt") < F.col("keep_thr"))
        .groupBy(key)
        .agg(F.sum("n").alias("kept_docs"), F.sum("tokens").alias("kept_tokens"))
    )
    return (
        thr.join(F.broadcast(kept), key, "left")
        .select(
            key,
            F.col("orig_docs").cast("long").alias("orig_docs"),
            F.col("orig_tokens").cast("long").alias("orig_tokens"),
            F.col("keep_thr").cast("long").alias("keep_thr"),
            F.coalesce("kept_docs", F.lit(0)).cast("long").alias("kept_docs"),
            F.coalesce("kept_tokens", F.lit(0)).cast("long").alias("kept_tokens"),
        )
        .orderBy(key)
    )


def _thr_sql(src: str) -> str:
    return f"""mn AS (SELECT MIN(orig_tokens) AS min_tok FROM {src}),
    thr AS (SELECT {src}.*, {_KEEP_THR_SQL} AS keep_thr FROM {src}, mn)"""


def mixture_keep_sql(rows: str, src: str) -> str:
    """``mn``, ``thr`` and ``kept`` (``rows``' columns): the rows of
    ``rows``(doc_id, source, ...) kept by ``mixture_keep`` with
    thresholds from ``src``(source, orig_tokens)."""
    return f"""{_thr_sql(src)},
    kept AS (
      SELECT {rows}.* FROM {rows} JOIN thr USING (source)
      WHERE ({ORACLE_BUCKET64K}) < thr.keep_thr
    )"""


def mixture_report_sql(key: str) -> str:
    """``src``, ``mn``, ``thr``, ``kept`` and ``report`` — the
    ``mixture_report`` columns — over ``hist``(key, bkt, n, tokens)."""
    return f"""src AS (SELECT {key}, SUM(n) AS orig_docs, SUM(tokens) AS orig_tokens
            FROM hist GROUP BY {key}),
    {_thr_sql("src")},
    kept AS (SELECT h.{key}, SUM(h.n) AS kept_docs, SUM(h.tokens) AS kept_tokens
             FROM hist h JOIN thr t ON h.{key} = t.{key} AND h.bkt < t.keep_thr
             GROUP BY h.{key}),
    report AS (
      SELECT t.{key},
             CAST(t.orig_docs AS BIGINT) AS orig_docs,
             CAST(t.orig_tokens AS BIGINT) AS orig_tokens,
             CAST(t.keep_thr AS BIGINT) AS keep_thr,
             CAST(COALESCE(k.kept_docs, 0) AS BIGINT) AS kept_docs,
             CAST(COALESCE(k.kept_tokens, 0) AS BIGINT) AS kept_tokens
      FROM thr t LEFT JOIN kept k ON t.{key} = k.{key}
    )"""


# ----------------------------------------------------- seeded shard deal


def shard_deal(rows: DataFrame, seed: str, *aggs: Column) -> DataFrame:
    """Deal ``rows`` (doc_id, ...) into corpus-derived shards in the
    epoch order md5(``seed`` ‖ doc_id) — a reproducible permutation
    that is a pure function of (seed, doc), so data order is
    re-derivable on any engine, after any backfill. The seed re-deals
    shard membership and within-shard order.

    Per shard: (shard, n_docs, *aggs, first_doc, order_checksum) —
    the first doc in shuffle order and sum(rank · doc_id), so an engine
    that disagrees on any doc's position disagrees on the checksum.
    The shard count comes from one driver-side count of ``rows``
    (persist it when it is expensive), so each rank window stays
    bounded at any scale."""
    n_shards = pack_shards(rows.count())
    keyed = rows.select(
        "*",
        F.md5(F.concat(F.lit(seed), F.col("doc_id").cast("string"))).alias("okey"),
        F.expr(f"({md5_hex_int('doc_id', 'string', 4, prefix=seed)}) % {n_shards}")
        .alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("okey", "doc_id")
    return (
        keyed.withColumn("rnk", F.row_number().over(w))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            *aggs,
            F.max(F.when(F.col("rnk") == 1, F.col("doc_id")))
            .cast("long")
            .alias("first_doc"),
            F.sum(F.col("rnk") * F.col("doc_id")).alias("order_checksum"),
        )
        .orderBy("shard")
    )


def shard_deal_sql(rows: str, seed: str, *aggs: str) -> str:
    """``ns``, ``keyed``, ``ranked`` and ``deal`` — the ``shard_deal``
    columns, ``aggs`` being SQL select items over ``ranked`` — over
    ``rows``(doc_id, ...)."""
    extra = "".join(f"{a},\n             " for a in aggs)
    return f"""ns AS (
      SELECT {PACK_SHARDS_SQL} AS n_shards
      FROM (SELECT COUNT(*) AS n_docs FROM {rows})
    ),
    keyed AS (
      SELECT {rows}.*,
             ({md5_hex_int('doc_id', 'varchar', 4, prefix=seed)}) % n_shards AS shard,
             md5(concat('{seed}', cast(doc_id AS varchar))) AS okey
      FROM {rows}, ns
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY shard ORDER BY okey, doc_id) AS rnk
      FROM keyed
    ),
    deal AS (
      SELECT shard,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             {extra}CAST(MAX(CASE WHEN rnk = 1 THEN doc_id END) AS BIGINT) AS first_doc,
             CAST(SUM(rnk * doc_id) AS BIGINT) AS order_checksum
      FROM ranked GROUP BY shard
    )"""
