"""Deduplication operators for large-scale training-data pipelines.

Four tiers, all pure DataFrame plans (no Python UDFs):

1. exact        — md5-groupBy; one shuffle on the fingerprint.
2. prefix/block — fingerprint of leading content; cheap blocking key.
3. MinHash+LSH  — shingle → salted-md5 signature → band buckets →
                  candidate pairs → exact-Jaccard verify. The standard
                  shuffle-efficient near-dup pipeline: candidates are
                  generated by equi-join on band keys (hash shuffle),
                  never by all-pairs comparison.
4. SimHash      — 16-bit signed-projection hash; near-dups differ in
                  few bits; bucketed by signature prefix so the
                  hamming join never goes quadratic.

Scale notes (100 TB): every step is groupBy/join on a derived key —
Spark distributes them as hash shuffles. The only quadratic surface is
*within* an LSH bucket / simhash-prefix bucket, which stays tiny when
bands are sized for the corpus (tune H/B for recall-vs-bucket-size).

Cache policy: the distinct-shingle intermediates feeding multiple
consumers (signature build + size table + both verify-join sides) are
persisted at the default MEMORY_AND_DISK level through
``cache.tracked_persist``, which registers every handle so harnesses
(the correctness gate, the bench loop) can ``release_all()`` between
queries instead of accumulating per-call cached blocks across a
long-lived session. This is a soft cache — Spark's storage memory is
LRU-managed, so under pressure blocks evict and recompute; it is NOT a
correctness dependency, and at 100 TB the production form of this
intermediate is an explicit checkpointed/bucketed table keyed by doc
id (see ``shingle_table`` below), not an executor cache. Contrast
bm25_topk (operators/retrieval.py), which deliberately re-scans
instead: its per-call tokenization feeds only two cheap codegen
consumers, so caching would cost more than it saves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_engineer_project_spark.functions import text as T
from data_engineer_project_spark.operators.cache import tracked_persist
from data_engineer_project_spark.operators.fanout import is_large_source


def exploded_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, [extra_cols...,] shingle) rows via posexplode + windowed
    lead — the relational shingle builder. ``extra_cols`` are carried
    through unchanged (e.g. ``source`` for cross-source overlap).

    Deliberately NOT the array higher-order-function form
    (``T.shingles``): Spark evaluates HOF lambdas interpreted,
    re-computing captured subexpressions (the split) per element —
    ~7× slower at corpus scale. split+posexplode stay inside
    whole-stage codegen; the lead window shuffles by doc id once and
    is what the DuckDB oracles compute too.
    """
    w = df.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.posexplode(F.split(F.col(text_col), " ")).alias("i", "wd"),
    )
    win = Window.partitionBy(id_col).orderBy("i")
    leads = [F.lead("wd", j).over(win).alias(f"w{j}") for j in range(1, n)]
    return (
        w.select(id_col, *extra_cols, "wd", *leads)
        .filter(F.col(f"w{n-1}").isNotNull())
        .select(
            id_col,
            *extra_cols,
            F.concat_ws(" ", "wd", *[f"w{j}" for j in range(1, n)]).alias("shingle"),
        )
    )


def exact_dedup_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level exact-dup accounting: total docs, distinct texts,
    and how many rows dedup would drop."""
    return df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5(F.col(text_col))).alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5(F.col(text_col)))).alias(
            "n_dup_rows"
        ),
    )


def exact_dedup_keep_first(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup keeping the lowest id per identical text — a
    groupBy(fingerprint) min, then semi-join back (no window needed)."""
    fp = F.md5(F.col(text_col)).alias("fp")
    keep = df.select(fp, F.col(id_col)).groupBy("fp").agg(F.min(id_col).alias(id_col))
    return df.join(keep, on=id_col, how="left_semi")


def prefix_clusters(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n_words: int = 10
) -> DataFrame:
    """Near-dup blocking by leading-content fingerprint: clusters of
    docs that share their first ``n_words`` words."""
    fp = T.prefix_fingerprint(text_col, n_words)
    return (
        df.select(fp.alias("prefix_fp"), F.col(id_col))
        .groupBy("prefix_fp")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min(id_col).alias("min_doc_id"),
            F.max(id_col).alias("max_doc_id"),
        )
        .filter(F.col("cluster_size") > 1)
    )


def minhash_signatures(
    sh: DataFrame, id_col: str = "doc_id", num_hashes: int = 8
) -> DataFrame:
    """MinHash signature relationally: per-salt md5 minimum in a single
    groupBy (map-side partial min → one shuffle on doc id)."""
    return sh.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat_ws(":", F.lit(str(k)), F.col("shingle")))).alias(
                f"mh{k}"
            )
            for k in range(num_hashes)
        ]
    )


# Hot-band population cap: a band bucket with more than this many
# members is split into ceil(pop/cap) salted cells before the pair
# self-join, bounding any single join task to ~cap² candidate pairs.
# At crawl scale a degenerate band key (all-zero dHash band from blank
# images, a boilerplate shingle band) concentrates candidates in ONE
# bucket: aggregate volume stays linear but one task owns a quadratic
# key. AQE's OptimizeSkewedJoin splits skewed PARTITIONS but must
# duplicate the other side whole, so a single hot KEY still yields
# pop-sized probe tasks; the salted grid bounds BOTH sides.
HOT_BAND_CAP = 2048

# Guard observability (round-10 verdict item 8): the hot-key probe
# decides plans eagerly but used to record nothing, so bench deltas on
# guard consumers required re-deriving band populations by hand. Every
# probe now appends a record here: {"consumer", "hot_buckets",
# "max_nsplit", "path"} — read by tools/plan_audit.py (PLANS.md rows)
# and tools/breadth_stress.py. LAST_GUARD_STATS holds the most recent
# record; GUARD_STATS_LOG the session history (bounded).
LAST_GUARD_STATS: dict = {}
GUARD_STATS_LOG: list[dict] = []

# (consumer, key cols, id col, cap, source files) -> "plain": probe
# verdicts for file-backed inputs; performance-only (see the guard
# docstring) and bounded against hostile churn.
_PROBE_VERDICT_CACHE: dict = {}
_GUARD_LOG_MAX = 256


def _has_identityless_leaf(analyzed_plan: str) -> bool:
    """True when the analyzed plan string contains a data leaf whose
    canonicalized form prints only output attributes — LocalRelation,
    LogicalRDD, ExistingRDD, and the Scala/Java-interop ExternalRDD —
    so plan_identity alone cannot distinguish two different in-memory
    datasets with the same derivation shape. Word-boundary match on
    the node NAME (round-13 review finding: ExternalRDD slipped the
    old substring list, and a plan merely containing one of these
    words inside a longer token shouldn't disable caching)."""
    import re

    return bool(
        re.search(
            r"\b(LocalRelation|LogicalRDD|ExistingRDD|ExternalRDD)\b",
            analyzed_plan,
        )
    )


def _record_guard(stats: dict) -> None:
    LAST_GUARD_STATS.clear()
    LAST_GUARD_STATS.update(stats)
    GUARD_STATS_LOG.append(stats)
    del GUARD_STATS_LOG[:-_GUARD_LOG_MAX]


def _plain_self_pairs(
    rows: DataFrame, key_cols: list[str], id_col: str, carry: tuple[str, ...]
) -> DataFrame:
    """The unguarded self-equi-join: every (doc_a < doc_b) pair sharing
    ``key_cols``, keys dropped — the guard's path whenever no bucket is
    over the cap (probed or cached verdict)."""
    a = rows.select(
        *key_cols,
        F.col(id_col).alias("doc_a"),
        *[F.col(c).alias(f"{c}_a") for c in carry],
    )
    b = rows.select(
        *key_cols,
        F.col(id_col).alias("doc_b"),
        *[F.col(c).alias(f"{c}_b") for c in carry],
    )
    return (
        a.join(b, list(key_cols))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .drop(*key_cols)
    )


def skew_guarded_self_pairs(
    rows: DataFrame,
    key_cols: list[str],
    id_col: str,
    carry: tuple[str, ...] = (),
    cap: int = HOT_BAND_CAP,
    consumer: str = "",
) -> DataFrame:
    """All intra-bucket ordered pairs (doc_a < doc_b) of ``rows``
    grouped by ``key_cols`` — the self-equi-join with a skew guard
    that leaves the PAIR SET bit-identical to the naive join.

    Buckets with population ≤ cap take the normal single-cell path.
    A hot bucket (pop > cap) gets S = ceil(pop/cap) deterministic
    salts (xxhash64 of the id); pair (a, b) is produced exactly once
    in grid cell (salt_a, salt_b): the A side replicates each row S
    ways across (salt_a, j), the B side across (i, salt_b), and the
    join on (key, i, j) meets every pair in its one cell. Each cell
    holds ~(pop/S)² ≤ cap² pairs, so no single task owns a quadratic
    bucket, at the price of S× replication of the HOT bucket's rows
    only (cold buckets replicate 1×). The population pre-aggregation
    is map-side combinable on the band key.

    ``carry`` columns are returned from both sides as ``{c}_a``/
    ``{c}_b`` (for verify predicates, e.g. m10's Hamming filter).

    ADAPTIVE: the hot-key probe is one map-side-combined aggregate
    over the (persisted) keyed rows; when it finds NO bucket over cap
    — the overwhelmingly common shape — the plain two-exchange
    self-join plans instead and the grid machinery costs nothing.
    The probe is an eager action at plan-construction time (the
    connected_components convergence-checksum precedent); either
    branch produces the identical pair set.

    PLAIN verdicts are cached per (consumer, inputs) — round 11, the
    d07 drift triage: the probe + its eager persist cost ~0.5 s per
    bench rep while the verdict never changes for a fixed corpus. On
    a cache hit the plain join builds straight from ``rows`` with no
    persist (its two sides share one shuffle via ReusedExchange) and
    no probe job. The cache key (round 12, hardened per the r11
    advice) is ``source_manifest_key`` — the backing files' (uri,
    size, mtime_ns) manifest folded with the canonicalized-plan
    identity — so two DIFFERENT derivations over the same files
    (another band geometry, another filter) can never collide, and an
    in-place data rewrite (new size/mtime) changes the key instead of
    serving a stale verdict whose hot-band distribution no longer
    holds (at 100 TB an unguarded quadratic band is effectively a
    hang, so a stale "plain" verdict is not an acceptable trade even
    though the pair SET stays bit-identical). ``plan_identity`` alone
    stands in when a cached parent hides the files — but ONLY when the
    analyzed plan carries no identity-less data leaf (LocalRelation /
    LogicalRDD / ExistingRDD / ExternalRDD print just their output
    attributes in the canonicalized string, so two DIFFERENT in-memory
    datasets with the same derivation shape would collide and a stale
    plain verdict could skip the probe for a skewed corpus — round-12
    review finding, ExternalRDD + word-boundary matching added round
    13; such frames are simply never cached). Frames with neither
    identity are never cached."""
    from data_engineer_project_spark.operators.similarity import (
        plan_identity,
        source_manifest_key,
    )

    ident = source_manifest_key(rows)
    if not ident:
        try:
            analyzed = rows._jdf.queryExecution().analyzed().toString()
            if not _has_identityless_leaf(analyzed):
                ident = plan_identity(rows)
        except Exception:
            ident = None
    ck = (consumer, tuple(key_cols), id_col, cap, ident) if ident else None
    if ck is not None and _PROBE_VERDICT_CACHE.get(ck) == "plain":
        _record_guard(
            {
                "consumer": consumer,
                "hot_buckets": 0,
                "max_nsplit": 0,
                "path": "plain",
                "cached": True,
            }
        )
        return _plain_self_pairs(rows, key_cols, id_col, carry)
    lvl = rows.storageLevel
    if not (lvl.useMemory or lvl.useDisk):  # caller may have persisted
        rows = tracked_persist(rows)
    hot = (
        rows.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_pop"))
        .filter(F.col("_pop") > cap)
        .select(
            *key_cols,
            F.ceil(F.col("_pop") / F.lit(cap)).cast("int").alias("_nsplit"),
        )
    )
    # the probe action doubles as the observability record: hot-bucket
    # count + worst split factor land in GUARD_STATS_LOG so plan audits
    # and scale sweeps can attribute guard cost without re-deriving
    # band populations. `hot` is tiny by construction (only
    # over-cap keys survive the map-side-combined aggregate).
    probe = hot.agg(
        F.count(F.lit(1)).alias("n"), F.max("_nsplit").alias("mx")
    ).first()
    stats = {
        "consumer": consumer,
        "hot_buckets": int(probe["n"]),
        "max_nsplit": int(probe["mx"]) if probe["mx"] is not None else 0,
        "path": "grid" if probe["n"] else "plain",
    }
    _record_guard(stats)
    if stats["path"] == "plain":
        if ck is not None:
            if len(_PROBE_VERDICT_CACHE) >= 256:
                _PROBE_VERDICT_CACHE.clear()
            _PROBE_VERDICT_CACHE[ck] = "plain"
        return _plain_self_pairs(rows, key_cols, id_col, carry)
    keyed = (
        rows.join(hot, list(key_cols), "left")
        .withColumn("_nsplit", F.coalesce("_nsplit", F.lit(1)))
        .withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.col(id_col)), F.col("_nsplit")).cast("int"),
        )
    )
    grid = F.explode(F.sequence(F.lit(0), F.col("_nsplit") - F.lit(1)))
    a = keyed.select(
        *key_cols,
        F.col("_salt").alias("_ci"),
        grid.alias("_cj"),
        F.col(id_col).alias("doc_a"),
        *[F.col(c).alias(f"{c}_a") for c in carry],
    )
    b = keyed.select(
        *key_cols,
        grid.alias("_ci"),
        F.col("_salt").alias("_cj"),
        F.col(id_col).alias("doc_b"),
        *[F.col(c).alias(f"{c}_b") for c in carry],
    )
    return (
        a.join(b, [*key_cols, "_ci", "_cj"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .drop("_ci", "_cj", *key_cols)
    )


def band_key_rows(
    sig: DataFrame, id_col: str = "doc_id", num_hashes: int = 8, bands: int = 4
) -> DataFrame:
    """(id, band, key) rows: md5 of each signature slice — the LSH
    bucket keys both the self-join (band_candidates) and the
    one-sided incremental join (new batch vs indexed corpus) hash on."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *parts)).alias("key"))
        )
    return sig.select(
        id_col, F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def band_candidates(
    sig: DataFrame, id_col: str = "doc_id", num_hashes: int = 8, bands: int = 4
) -> DataFrame:
    """LSH candidate pairs: band keys (md5 of each signature slice) →
    explode → skew-guarded self-equi-join on band key (THE shuffle;
    hash-partitioned by bucket, hot buckets salted into ≤cap² cells —
    see skew_guarded_self_pairs) → distinct (doc_a, doc_b), a < b."""
    banded = band_key_rows(sig, id_col, num_hashes, bands)
    return skew_guarded_self_pairs(
        banded, ["band", "key"], id_col, consumer="band_candidates"
    ).distinct()


def exact_jaccard(
    cand: DataFrame,
    sh: DataFrame,
    id_col: str = "doc_id",
    prefilter: bool = False,
    sh_b: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard per candidate pair, relationally: |A∩B| via a
    shingle equi-join, |A∪B| = |A|+|B|−|A∩B| — just joins, no per-pair
    array materialization on the driver.

    One-sided form: with ``sh_b``, doc_a's shingles come from ``sh``
    (the new side) and doc_b's from ``sh_b`` (the corpus side), so the
    two id spaces may overlap (d100's probe); ``prefilter`` prunes
    ``sh`` only.

    ``prefilter=True`` enables the SIZE-GATED candidate-id semi-join
    prefilter (guide §3.2): when the shingle side's estimated source
    size clears the gate, ``sh`` is semi-joined down to docs that
    appear in ``cand`` before the by-id exchanges. Scores are exactly
    unchanged — every shingle row of every candidate doc survives the
    semi-join, and non-candidate docs never reach the output (pinned
    by test_exact_jaccard_scores_are_exact). Opt in ONLY where the
    candidate set is much smaller than the shingle table (the
    incremental-merge warm path, where cand is delta-sized and sh
    unions the full corpus shingle artifact); for corpus-sized cand
    the ids distinct costs more than the pruning saves (r14 A/B).

    The size gate is ``fanout.is_large_source(sh)``: on a small
    source the prefilter's extra stages (two id projections + distinct
    + semi-join) cost more than the pruned by-id exchange saves (r14:
    d99 at 9.86 s with vs 6.96 s without)."""
    if prefilter and is_large_source(sh):
        ids = (
            cand.select(F.col("doc_a").alias(id_col))
            .union(cand.select(F.col("doc_b").alias(id_col)))
            .distinct()
        )
        sh = sh.join(ids, id_col, "left_semi")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    if sh_b is None:
        sh_b, sizes_b = sh, sizes
    else:
        sizes_b = sh_b.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))

    sa = sh.alias("sa")
    sb = sh_b.alias("sb")
    inter = (
        cand.join(sa, F.col("doc_a") == F.col(f"sa.{id_col}"))
        .join(
            sb,
            (F.col("doc_b") == F.col(f"sb.{id_col}"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )

    za = sizes.alias("za")
    zb = sizes_b.alias("zb")
    return (
        inter.join(za, F.col("doc_a") == F.col(f"za.{id_col}"))
        .join(zb, F.col("doc_b") == F.col(f"zb.{id_col}"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("za.n_sh") + F.col("zb.n_sh") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
    )


def minhash_lsh_pairs_from_shingles(
    sh: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int | None = None,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """MinHash+LSH near-dup pairs from a PRE-BUILT distinct-shingle
    set (id, shingle) — the checkpointed-table entry point: at 100 TB
    the shingle intermediate is materialized once (``shingle_table``)
    and reused across every dedup pass instead of re-exploding the
    corpus per call.

    ``bands`` defaults to the S-curve planner's split for the given
    (num_hashes, jaccard_threshold) — plan_lsh_bands — so the band key
    and the verify threshold cannot contradict each other (at the
    8-hash/0.5 operating point this resolves to the 4×2 the pipeline
    has always used). Pass ``bands`` explicitly only to study
    off-knee operating points (d29's calibration does)."""
    if bands is None:
        bands, _ = plan_lsh_bands(num_hashes, jaccard_threshold)
    sig = tracked_persist(minhash_signatures(sh, id_col, num_hashes))
    cand = band_candidates(sig, id_col, num_hashes, bands)
    return exact_jaccard(cand, sh, id_col).filter(
        F.col("jaccard") >= jaccard_threshold
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int | None = None,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs with exact-Jaccard verify.
    ``bands=None`` → plan_lsh_bands picks the S-curve split for the
    threshold (see minhash_lsh_pairs_from_shingles).

    Pipeline: per-doc distinct shingles → ``num_hashes`` salted-md5
    minima (minhash_signatures) → LSH band self-join candidates
    (band_candidates) → exact Jaccard on distinct-shingle counts
    (exact_jaccard) → threshold.
    """
    # ONE scan: the exploded distinct-shingle set feeds the signature
    # build, the size table, and both sides of the verify join — five
    # consumers. Persisted so the text scan + shingle explode + md5s
    # run once, not per consumer (the checkpointed-table form of the
    # same pipeline is minhash_lsh_pairs_from_shingles over
    # shingle_table).
    sh = tracked_persist(
        exploded_shingles(df, id_col, text_col).distinct()
    )
    return minhash_lsh_pairs_from_shingles(
        sh, id_col, num_hashes, bands, jaccard_threshold
    )


def _shingle_set_partitioned_by_shingle(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """The distinct (id, shingle) set cached for the inverted-index
    consumers, in one of two layouts chosen by ``fanout.is_large_source``
    over the source's on-disk bytes (metadata-only estimate; results
    identical either way — only the physical partitioning differs):

    - big corpus: hash-partitioned by ``shingle`` — the key every
      consumer (the df-count aggregate, the informative join, the
      intra-shingle self-join) reuses instead of re-exchanging the
      widest intermediate (r14, guide §2.4); repartition +
      dropDuplicates dedups with no extra exchange (hash(shingle)
      already clusters equal (id, shingle) rows).
    - small corpus (or no file lineage): plain ``distinct()`` — its
      map-side partial aggregate collapses in-doc duplicate shingles
      BEFORE the exchange, which at bench scale beats the exchange
      reuse (the r14 driver measured the unconditional partitioned
      layout as a d12 regression, 2.19 → 2.91 s).

    The minhash path keeps the plain ``distinct()`` regardless — its
    verify join probes by (id, shingle), which that layout serves
    directly."""
    sh = exploded_shingles(df, id_col, text_col)
    if is_large_source(df):
        return tracked_persist(
            sh.repartition(F.col("shingle")).dropDuplicates([id_col, "shingle"])
        )
    return tracked_persist(sh.distinct())


def _inverted_index_pair_stats(
    sh: DataFrame, id_col: str, max_df: int
) -> DataFrame:
    """The ONE inverted-index candidate core: keep *informative*
    shingles (document frequency ≤ ``max_df`` and > 1 — the trick that
    keeps pair generation corpus-linear), self-join on the shingle,
    and emit per (doc_a, doc_b) the integer sufficient statistics
    (n_inter, n_a, n_b) over the informative sets. Every exact pair
    scorer (jaccard, containment, the d96 calibration stats) derives
    from this frame, so the candidate semantics cannot fork."""
    informative = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") <= max_df) & (F.col("df") > 1))
        .select("shingle")
    )
    # hash shuffle on shingle; persisted: consumed by sizes + both join sides
    shf = tracked_persist(sh.join(informative, "shingle"))
    sizes = shf.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))

    a = shf.alias("a")
    b = shf.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    za = sizes.alias("za")
    zb = sizes.alias("zb")
    return (
        inter.join(za, F.col("doc_a") == F.col(f"za.{id_col}"))
        .join(zb, F.col("doc_b") == F.col(f"zb.{id_col}"))
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            F.col("za.n_sh").alias("n_a"),
            F.col("zb.n_sh").alias("n_b"),
        )
    )


def _inverted_index_scored_pairs(
    sh: DataFrame, id_col: str, max_df: int, score_name: str
) -> DataFrame:
    """Score the shared candidate stats by ``score_name``: 'jaccard'
    (|∩| / |∪|) or 'containment' (|∩| / min|·|), both over the SAME
    informative sets so oracle SQL mirrors exactly."""
    st = _inverted_index_pair_stats(sh, id_col, max_df)
    denom = (
        F.least(F.col("n_a"), F.col("n_b"))
        if score_name == "containment"
        else (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    )
    return st.select(
        "doc_a",
        "doc_b",
        (F.col("n_inter").cast("double") / denom.cast("double")).alias(score_name),
    )


def ngram_jaccard_pairs_from_shingles(
    sh: DataFrame,
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.5,
    max_df: int = 50,
) -> DataFrame:
    """Exact n-gram-Jaccard pairs from a PRE-BUILT distinct-shingle
    set — the checkpointed-table entry point (see ``shingle_table``)."""
    return _inverted_index_scored_pairs(sh, id_col, max_df, "jaccard").filter(
        F.col("jaccard") >= jaccard_threshold
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    max_df: int = 50,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs via an inverted shingle
    index (no MinHash approximation).

    Candidate pairs come from docs *sharing an informative shingle*:
    shingles with document frequency > ``max_df`` are dropped before
    the self-join — the standard inverted-index trick that keeps pair
    generation corpus-linear instead of quadratic (a stopword-ish
    shingle shared by 1M docs would otherwise emit 10^12 pairs).
    Jaccard is computed over the same informative-shingle sets, so the
    oracle SQL mirrors the semantics exactly.
    """
    # feeds the df-count AND the filtered index build
    sh = _shingle_set_partitioned_by_shingle(df, id_col, text_col)
    return ngram_jaccard_pairs_from_shingles(sh, id_col, jaccard_threshold, max_df)


def containment_pairs_from_shingles(
    sh: DataFrame,
    id_col: str = "doc_id",
    overlap_threshold: float = 0.6,
    max_df: int = 50,
) -> DataFrame:
    """Overlap-coefficient pairs from a PRE-BUILT distinct-shingle set
    — the checkpointed-table entry point (see ``shingle_table``)."""
    return _inverted_index_scored_pairs(sh, id_col, max_df, "containment").filter(
        F.col("containment") >= overlap_threshold
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    overlap_threshold: float = 0.6,
    max_df: int = 50,
) -> DataFrame:
    """Subsumption-style near-dup pairs by shingle OVERLAP COEFFICIENT:
    |sh(A) ∩ sh(B)| / min(|sh(A)|, |sh(B)|) ≥ ``overlap_threshold``.

    Jaccard under-scores a short doc quoted inside a long one (the
    union is dominated by the long doc); the overlap coefficient is the
    standard containment detector for snippet/quote dedup. Candidates
    come from the same informative-shingle inverted index as
    :func:`ngram_jaccard_pairs` (df ≤ ``max_df`` and > 1), so pair
    generation stays corpus-linear; sizes are over the SAME informative
    sets, keeping the oracle SQL exact. Returns (doc_a, doc_b,
    containment), a < b, integer-ratio doubles (engine-exact)."""
    sh = _shingle_set_partitioned_by_shingle(df, id_col, text_col)
    return containment_pairs_from_shingles(sh, id_col, overlap_threshold, max_df)


def shingle_table(
    spark,
    df: DataFrame,
    table_name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    buckets: int = 32,
) -> DataFrame:
    """Materialize the distinct-shingle intermediate as a BUCKETED
    parquet table and return a reader over it — the 100 TB form of the
    soft-cache the inline operators persist():

    every dedup/decontamination pass over a big corpus needs the same
    (doc, shingle) set, and re-exploding 100 TB of text per pass costs
    more than the dedup itself. Materializing once, bucketed+sorted by
    ``id_col``, makes each subsequent pass start from a columnar scan
    (no text scan, no explode, no window), and the bucketing lets
    per-doc aggregations (minhash signatures, size tables) plan
    without a fresh shuffle on the bucketed key. Pair with the
    ``*_from_shingles`` operators, or incremental ingestion (s11) for
    the streaming front door.

    Lifecycle: name the table with the ``shingle`` prefix — that is
    the contract similarity.sweep_stores keys on to keep-latest-N
    whole tables alongside the ``*_store`` artifact families (same
    re-run on the same name just overwrites in place)."""
    (
        exploded_shingles(df, id_col, text_col, n)
        .distinct()
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, id_col)
        .sortBy(id_col)
        .saveAsTable(table_name)
    )
    return spark.table(table_name)


def _simhash_relational(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16
) -> DataFrame:
    """16-bit SimHash via explode + one groupBy (16 conditional parity
    sums), bit b = sign(Σ_words (2·parity_b(md5(w))−1). Deliberately
    not an array-fold: HOF folds evaluate interpreted per element; this
    stays in codegen with one shuffle on doc id."""
    h = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("wd")
    ).select(id_col, F.md5("wd").alias("h"))
    contrib = h.groupBy(id_col).agg(
        *[
            F.sum(T.hex_digit_parity(F.col("h"), b) * 2 - 1).alias(f"c{b}")
            for b in range(bits)
        ]
    )
    sig = F.lit(0)
    for b in range(bits):
        sig = sig + F.when(F.col(f"c{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return contrib.select(F.col(id_col), sig.cast("long").alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bucket_bits: int = 8,
) -> DataFrame:
    """SimHash near-dup pairs: bucket by the signature's high bits so
    the hamming comparison happens only within buckets, then filter by
    hamming distance ≤ ``max_hamming``. The bucket self-join routes
    through the same hot-key guard as the MinHash bands — an all-zero
    simhash prefix (short/boilerplate docs) is exactly the degenerate
    key that would otherwise own a quadratic task at crawl scale."""
    sigs = _simhash_relational(df, id_col, text_col).withColumn(
        "bucket", (F.col("simhash") / (1 << bucket_bits)).cast("long")
    )
    return (
        skew_guarded_self_pairs(
            sigs, ["bucket"], id_col, carry=("simhash",),
            consumer="simhash_pairs",
        )
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(
                F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def plan_lsh_bands(
    num_hashes: int, jaccard_threshold: float
) -> tuple[int, int]:
    """Choose the (bands, rows_per_band) split of a MinHash signature
    for a target Jaccard threshold — the standard S-curve planner
    (Leskovec/Rajaraman/Ullman, *Mining of Massive Datasets* §3.4).

    A pair with Jaccard j collides in ≥1 band with probability
    p(j) = 1 − (1 − j^r)^b; the curve's steepest point sits near
    (1/b)^(1/r). Among the divisors b·r = num_hashes this picks the
    split whose threshold (1/b)^(1/r) lands closest to the target on
    a log scale — log-scale because the threshold family is
    geometric in r, and because FP cost (small-j pairs admitted) and
    FN cost (large-j pairs missed) trade symmetrically in log j.

    Driver-side pure integer/float math over ≤ num_hashes divisors —
    the planner runs once per job; only its OUTPUT (two ints) shapes
    the distributed plan, the same pattern as adaptive_planes /
    adaptive_centroids in operators/similarity.py.
    """
    if num_hashes < 1:
        raise ValueError("num_hashes must be >= 1")
    if not (0.0 < jaccard_threshold < 1.0):
        raise ValueError("jaccard_threshold must be in (0, 1)")
    import math

    best: tuple[float, int, int] | None = None
    for r in range(1, num_hashes + 1):
        if num_hashes % r:
            continue
        b = num_hashes // r
        thr = (1.0 / b) ** (1.0 / r)
        dist = abs(math.log(thr) - math.log(jaccard_threshold))
        # strictly-better keeps the FIRST (smallest r) split on ties:
        # fewer rows per band = higher recall at equal distance
        if best is None or dist < best[0]:
            best = (dist, b, r)
    assert best is not None
    return best[1], best[2]


def ngram_pair_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int = 50,
) -> DataFrame:
    """INTEGER sufficient statistics for every inverted-index candidate
    pair: (doc_a, doc_b, n_inter, n_union) over the informative-shingle
    sets (same candidates and sets as :func:`ngram_jaccard_pairs`).
    Keeping the stats integral lets callers apply ANY Jaccard threshold
    as the rational comparison 100·n_inter >= pct·n_union — exact on
    every engine, and one pair materialization serves a whole threshold
    sweep (the d96 calibration table) instead of one scan per cut.
    Built on the same ``_inverted_index_pair_stats`` core as the
    jaccard/containment scorers — identical candidates by
    construction."""
    sh = _shingle_set_partitioned_by_shingle(df, id_col, text_col)
    st = _inverted_index_pair_stats(sh, id_col, max_df)
    return st.select(
        "doc_a",
        "doc_b",
        F.col("n_inter").cast("long").alias("n_inter"),
        (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        .cast("long")
        .alias("n_union"),
    )
