"""Multimodal catalog queries (m01–m05): binary-payload plumbing from
``operators/multimodal.py`` with full DuckDB oracles.

The payloads are deterministic (UTF-8 bytes of the document text), so
every byte-level result is SQL-expressible: the oracle decomposes each
codepoint into its UTF-8 bytes arithmetically (``_UTF8_BYTES``) where
the Spark side runs numpy over real binary columns. Both engines
therefore histogram the SAME domain — bytes — so parity survives
non-ASCII, empty, and NULL text in regenerated testdata. This verifies
the whole mapInPandas path — schemas, Arrow batches, explode shapes —
not just metadata arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

# DuckDB expression: the UTF-8 bytes of `text` as a BIGINT list.
# string_split('','') yields [''] (filtered); NULL text yields NULL
# (flatten/list_transform propagate NULL; callers coalesce or unnest,
# and unnest(NULL) emits no rows). Subqueries are not allowed inside
# DuckDB lambdas, hence the repeated unicode(ch) calls.
_UTF8_BYTES = """flatten(list_transform(list_filter(string_split(text, ''), ch -> ch != ''), ch ->
      CASE WHEN unicode(ch) < 128 THEN [unicode(ch)]
           WHEN unicode(ch) < 2048 THEN [192 + unicode(ch) // 64, 128 + unicode(ch) % 64]
           WHEN unicode(ch) < 65536 THEN [224 + unicode(ch) // 4096, 128 + (unicode(ch) // 64) % 64, 128 + unicode(ch) % 64]
           ELSE [240 + unicode(ch) // 262144, 128 + (unicode(ch) // 4096) % 64, 128 + (unicode(ch) // 64) % 64, 128 + unicode(ch) % 64] END))"""

from data_engineer_project_spark.operators.multimodal import (
    attach_media,
    attach_real_media,
    byte_histogram,
    decode_media,
    frame_byte_sums,
    resize_media,
    sample_frames,
)
from data_engineer_project_spark.operators.cache import tracked_persist
from data_engineer_project_spark.operators.neardup import (
    collapse_exact,
    components_sql,
    dhash_band_pairs,
    dhash_bands,
    reps_sql,
    set_jaccard_pairs,
    set_jaccard_sql,
)
from data_engineer_project_spark.queries.catalog import query


def _media(t):
    return attach_media(t.documents)


@query(
    "m01_media_metadata",
    """
    SELECT doc_id,
           list_extract(['png','jpeg','webp'], CAST(doc_id % 3 + 1 AS INT)) AS media_format,
           CAST(16 + doc_id % 48 AS INT) AS width,
           CAST(ceil(octet_length(encode(text)) / (16 + doc_id % 48)) AS INT) AS height,
           octet_length(encode(text)) AS n_bytes
    FROM documents
    """,
    tags=("multimodal", "metadata"),
)
def m01_media_metadata(t):
    """Typed metadata for opaque payloads — JVM-only expressions, no
    Python; the scan must prune the binary column away (tested)."""
    return _media(t).select("doc_id", "media_format", "width", "height", "n_bytes")


@query(
    "m02_byte_histogram_by_lang",
    f"""
    WITH per_doc AS (
      SELECT lang, {_UTF8_BYTES} AS b FROM documents
    )
    SELECT lang,
           CAST(SUM(COALESCE(list_sum(list_transform(b, v -> CASE WHEN v >> 6 = 0 THEN 1 ELSE 0 END)), 0)) AS BIGINT) AS b0,
           CAST(SUM(COALESCE(list_sum(list_transform(b, v -> CASE WHEN v >> 6 = 1 THEN 1 ELSE 0 END)), 0)) AS BIGINT) AS b1,
           CAST(SUM(COALESCE(list_sum(list_transform(b, v -> CASE WHEN v >> 6 = 2 THEN 1 ELSE 0 END)), 0)) AS BIGINT) AS b2,
           CAST(SUM(COALESCE(list_sum(list_transform(b, v -> CASE WHEN v >> 6 = 3 THEN 1 ELSE 0 END)), 0)) AS BIGINT) AS b3
    FROM per_doc GROUP BY lang
    """,
    tags=("multimodal", "features"),
)
def m02_byte_histogram_by_lang(t):
    """Corpus byte-value histogram: numpy per Arrow batch (map-side
    partial agg), JVM-side final sum per lang. Both engines bucket
    UTF-8 BYTES (top-2 bits), not codepoints — the per-doc list form
    (no unnest) keeps a lang visible even if all its docs are empty,
    matching the Spark side's zero-contribution rows."""
    return byte_histogram(_media(t))


@query(
    "m03_frame_sample_stats",
    """
    WITH meta AS (
      SELECT doc_id,
             CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT) AS nf,
             octet_length(encode(text)) AS n
      FROM documents
    )
    SELECT doc_id,
           CAST(ceil(nf / 4.0) AS BIGINT) AS n_sampled,
           CAST(4 * (ceil(nf / 4.0) - 1) AS INT) AS max_frame_no,
           CAST(256 * (ceil(nf / 4.0) - 1)
                + CASE WHEN (nf - 1) % 4 = 0 THEN n - 256 * (nf - 1) ELSE 256 END
                AS BIGINT) AS sampled_bytes
    FROM meta
    """,
    tags=("multimodal", "video"),
)
def m03_frame_sample_stats(t):
    """Frame sampling (every 4th 256-byte frame): per-doc sampled-frame
    count, last frame index, and total sampled bytes. The Spark side
    materializes actual frame binaries; the oracle recomputes the
    arithmetic the sampler must satisfy."""
    frames = sample_frames(_media(t), frame_bytes=256, every=4)
    return frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.max("frame_no").alias("max_frame_no"),
        F.sum(F.octet_length("frame")).alias("sampled_bytes"),
    )


@query(
    "m04_decoded_pixel_stats",
    f"""
    WITH bl AS (
      SELECT doc_id, lang, {_UTF8_BYTES} AS b FROM documents
    ),
    px AS (
      SELECT doc_id, lang, unnest(b) AS v FROM bl
    )
    SELECT doc_id, lang, COUNT(*) AS n_px,
           CAST(SUM(v) AS BIGINT) AS sum_px,
           CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean_px,
           CAST(MIN(v) AS INT) AS min_px, CAST(MAX(v) AS INT) AS max_px
    FROM px GROUP BY doc_id, lang
    """,
    tags=("multimodal", "decode"),
)
def m04_decoded_pixel_stats(t):
    """Stub decode (payload bytes = pixels) → per-doc pixel stats via
    mapInPandas; pixels are UTF-8 BYTES on both engines, and empty/NULL
    payloads emit no row (oracle's unnest of an empty/NULL byte list).
    The REAL decode path (dependency-free PNM + 8-bit BMP parsers,
    dispatching on magic bytes) is gated by m15 over genuinely
    container-wrapped payloads; png/jpeg/webp stay a documented
    NotImplementedError stub (no entropy codecs in this container)."""
    return decode_media(_media(t))


@query(
    "m05_resize_metadata",
    """
    SELECT doc_id,
           CAST((octet_length(encode(text)) + 1) // 2 AS BIGINT) AS n_bytes,
           CAST(greatest((16 + doc_id % 48) // 2, 1) AS INT) AS width
    FROM documents
    """,
    tags=("multimodal", "transform"),
)
def m05_resize_metadata(t):
    """Stub resize (keep every 2nd byte): binary in → binary out with
    recomputed metadata; query projects the new metadata."""
    return resize_media(_media(t), keep_every=2).select("doc_id", "n_bytes", "width")


@query(
    "m06_audio_window_rms",
    f"""
    WITH bl AS (
      SELECT doc_id, {_UTF8_BYTES} AS b FROM documents
    ),
    bytes AS (
      SELECT doc_id, unnest(b) AS v, generate_subscripts(b, 1) AS i FROM bl
    ),
    w AS (
      SELECT doc_id, (i - 1) // 64 AS wid,
             SUM(v * v) AS ss, COUNT(*) AS n
      FROM bytes GROUP BY 1, 2
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
           MAX(sqrt(CAST(ss AS DOUBLE) / n)) AS peak_rms
    FROM w GROUP BY doc_id
    """,
    tags=("multimodal", "audio"),
)
def m06_audio_window_rms(t):
    """Audio modality plumbing: payload as 8-bit PCM, 64-sample
    windows, per-doc window count + peak window RMS via mapInPandas
    (operators/multimodal.audio_window_energy). Completes the
    image (m02/m04) / video (m03) / audio modality triple; integer
    squared-sums keep RMS bit-identical to the SQL twin."""
    from data_engineer_project_spark.operators.multimodal import audio_window_energy

    return audio_window_energy(_media(t), window=64)


@query(
    "m07_phash_dup_groups",
    f"""
    WITH bl AS (
      SELECT doc_id, {_UTF8_BYTES} AS b FROM documents
    ),
    bytes AS (
      SELECT doc_id, unnest(b) AS v, generate_subscripts(b, 1) AS p FROM bl
    ),
    s AS (SELECT doc_id, COUNT(*) AS n, SUM(v) AS total FROM bytes GROUP BY doc_id),
    blk AS (
      SELECT bytes.doc_id, ((bytes.p - 1) * 8) // s.n AS blk,
             SUM(bytes.v) AS bs, COUNT(*) AS bn
      FROM bytes JOIN s USING (doc_id) GROUP BY 1, 2
    ),
    hashes AS (
      SELECT blk.doc_id,
             SUM(CASE WHEN blk.bs * s.n > s.total * blk.bn
                      THEN (CAST(1 AS BIGINT) << blk.blk) ELSE 0 END) AS phash
      FROM blk JOIN s USING (doc_id) GROUP BY blk.doc_id
    )
    SELECT CAST(phash AS BIGINT) AS phash,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc
    FROM hashes GROUP BY phash HAVING COUNT(*) >= 2 ORDER BY phash
    """,
    tags=("multimodal", "dedup"),
)
def m07_phash_dup_groups(t):
    """Perceptual-hash BLOCKING for the image modality: an 8-bit
    block-mean hash (aHash family; operators/multimodal.
    perceptual_hash) per decoded payload, grouped into candidate
    buckets — images sharing a coarse luminance profile are the pairs
    a verifier would compare, the same generate-candidates-by-equi-key
    shape as every LSH tier here (NEVER all-pairs over images).
    Production widens to 32/64 bits with SimHash-style banding for
    Hamming-near matching (operators/dedup.py); 8 bits is the blocking
    operating point for this corpus size. Integer cross-multiplied
    block means keep the bits — and the oracle — exact."""
    from data_engineer_project_spark.operators.multimodal import perceptual_hash

    hashes = perceptual_hash(_media(t), n_blocks=8)
    return (
        hashes.groupBy("phash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("phash")
    )


_CUT_FRAME_BYTES = 64
_CUT_THRESHOLD = 250


@query(
    "m08_scene_cut_detection",
    f"""
    WITH bl AS (
      SELECT doc_id, {_UTF8_BYTES} AS b FROM documents
    ),
    k AS (
      SELECT doc_id,
             unnest(generate_series(
               0, CAST(ceil(len(b) / {_CUT_FRAME_BYTES}.0) AS BIGINT) - 1)) AS k,
             b
      FROM bl
    ),
    fs AS (
      SELECT doc_id, k,
             list_sum(b[k * {_CUT_FRAME_BYTES} + 1 : (k + 1) * {_CUT_FRAME_BYTES}])
               AS s,
             len(b[k * {_CUT_FRAME_BYTES} + 1 : (k + 1) * {_CUT_FRAME_BYTES}]) AS fl
      FROM k
    ),
    d AS (
      SELECT doc_id, fl, s,
             lag(fl) OVER w AS pfl,
             abs(s - lag(s) OVER w) AS delta
      FROM fs WINDOW w AS (PARTITION BY doc_id ORDER BY k)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(CASE WHEN fl = {_CUT_FRAME_BYTES} AND pfl = {_CUT_FRAME_BYTES}
                          AND delta > {_CUT_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cuts,
           CAST(COALESCE(MAX(CASE WHEN fl = {_CUT_FRAME_BYTES}
                                   AND pfl = {_CUT_FRAME_BYTES}
                              THEN delta END), 0) AS BIGINT) AS max_delta
    FROM d GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("multimodal", "video"),
)
def m08_scene_cut_detection(t):
    """Scene-cut detection over the frame stream: every {64}-byte frame
    is reduced to an integer byte sum (frame_byte_sums — the stub for
    per-frame luma extraction), and a cut fires where two consecutive
    FULL frames differ by more than {250}. Partial tail frames are
    excluded from cut tests (their smaller mass would fake a cut — the
    same reason real detectors normalize per-pixel). Per doc: frame
    count, cut count, and the peak full-frame delta.

    Scale shape: frame explosion + feature extraction is one Arrow
    mapInPandas pass (no shuffle); the lag window partitions by doc —
    per-doc frame counts are bounded by payload size, so no unbounded
    window key; the rollup is a map-side-partial groupBy on doc_id.
    All comparisons exact int64."""
    frames = sample_frames(_media(t), frame_bytes=_CUT_FRAME_BYTES, every=1)
    fs = frame_byte_sums(frames)
    w = Window.partitionBy("doc_id").orderBy("frame_no")
    d = fs.withColumn("pfl", F.lag("frame_len").over(w)).withColumn(
        "delta", F.abs(F.col("frame_sum") - F.lag("frame_sum").over(w))
    )
    full = (F.col("frame_len") == _CUT_FRAME_BYTES) & (
        F.col("pfl") == _CUT_FRAME_BYTES
    )
    return (
        d.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.sum(
                F.when(full & (F.col("delta") > _CUT_THRESHOLD), 1).otherwise(0)
            ).alias("n_cuts"),
            F.coalesce(
                F.max(F.when(full, F.col("delta"))), F.lit(0).cast("long")
            ).alias("max_delta"),
        )
        .orderBy("doc_id")
    )


_VAD_WINDOW_BYTES = 64
_VAD_THRESHOLD = 6048


@query(
    "m09_audio_activity_segments",
    f"""
    WITH bl AS (
      SELECT doc_id, {_UTF8_BYTES} AS b FROM documents
    ),
    k AS (
      SELECT doc_id,
             unnest(generate_series(
               0, CAST(ceil(len(b) / {_VAD_WINDOW_BYTES}.0) AS BIGINT) - 1)) AS k,
             b
      FROM bl
    ),
    fs AS (
      SELECT doc_id, k,
             list_sum(b[k * {_VAD_WINDOW_BYTES} + 1 : (k + 1) * {_VAD_WINDOW_BYTES}])
               AS s
      FROM k
    ),
    act AS (
      SELECT doc_id, k,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY k) AS rn
      FROM fs WHERE s > {_VAD_THRESHOLD}
    ),
    runs AS (
      SELECT doc_id, k - rn AS grp, COUNT(*) AS run_len
      FROM act GROUP BY 1, 2
    ),
    pa AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_segments,
             CAST(MAX(run_len) AS BIGINT) AS longest_run,
             CAST(SUM(run_len) AS BIGINT) AS n_active
      FROM runs GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows FROM fs GROUP BY doc_id)
    SELECT tot.doc_id, tot.n_windows,
           COALESCE(pa.n_active, 0) AS n_active,
           COALESCE(pa.n_segments, 0) AS n_segments,
           COALESCE(pa.longest_run, 0) AS longest_run
    FROM tot LEFT JOIN pa ON pa.doc_id = tot.doc_id
    ORDER BY tot.doc_id
    """,
    tags=("multimodal", "audio"),
)
def m09_audio_activity_segments(t):
    """Voice-activity-style segmentation of the audio stub: the payload
    is framed into {64}-sample windows, a window is ACTIVE when its
    exact integer energy sum clears {6048} (the corpus median — a real
    VAD learns this floor), and consecutive active windows merge into
    segments via the gaps-and-islands rewrite (window_index −
    row_number over active windows is constant within a run — no
    self-join, no iteration). Per doc: window count, active count,
    segment count, longest run. Docs with no active window report
    zeros. The speech-curation primitive (silence trimming, utterance
    splitting), and the one islands-shaped computation in the m family.

    Scale shape: framing + energy is one Arrow mapInPandas pass (no
    shuffle); both windows partition by doc — per-doc window counts
    are payload-bounded, never corpus-bounded; the rollups are
    map-side-partial groupBys. All comparisons exact int64."""
    frames = sample_frames(_media(t), frame_bytes=_VAD_WINDOW_BYTES, every=1)
    fs = frame_byte_sums(frames)
    act = fs.filter(F.col("frame_sum") > _VAD_THRESHOLD)
    w = Window.partitionBy("doc_id").orderBy("frame_no")
    runs = (
        act.withColumn("grp", F.col("frame_no") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    pa = runs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.max("run_len").alias("longest_run"),
        F.sum("run_len").alias("n_active"),
    )
    tot = fs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_windows"))
    zero = F.lit(0).cast("long")
    return (
        tot.join(pa, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            F.coalesce("n_active", zero).alias("n_active"),
            F.coalesce("n_segments", zero).alias("n_segments"),
            F.coalesce("longest_run", zero).alias("longest_run"),
        )
        .orderBy("doc_id")
    )


# The dHash derivation CTE chain, byte-identical to m10's oracle
# prefix (UTF-8 bytes -> 8-byte block sums on a dense 65-block grid ->
# adjacent-block comparison bits -> packed signed int64). Kept as one
# constant so retrieval and clustering score the SAME hash.
_DHASH_CTES = f"""bl AS (
      SELECT doc_id, {_UTF8_BYTES} AS b FROM documents
    ),
    bytes AS (
      SELECT doc_id, unnest(b) AS v, generate_subscripts(b, 1) AS p FROM bl
    ),
    blk AS (
      SELECT doc_id, (p - 1) // 8 AS blk, SUM(v) AS bs
      FROM bytes WHERE p <= 520 GROUP BY 1, 2
    ),
    grid AS (
      SELECT d.doc_id, g.b
      FROM (SELECT DISTINCT doc_id FROM blk) d,
           (SELECT unnest(range(65)) AS b) g
    ),
    bsums AS (
      SELECT grid.doc_id, grid.b, COALESCE(blk.bs, 0) AS s
      FROM grid LEFT JOIN blk
        ON blk.doc_id = grid.doc_id AND blk.blk = grid.b
    ),
    bits AS (
      SELECT doc_id, b AS i,
             CASE WHEN s > LEAD(s) OVER (PARTITION BY doc_id ORDER BY b)
                  THEN 1 ELSE 0 END AS bit
      FROM bsums
    ),
    hashes AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN bit = 0 THEN 0
                           WHEN i = 63 THEN -9223372036854775808
                           ELSE (CAST(1 AS BIGINT) << i) END)
                  AS BIGINT) AS phash
      FROM bits WHERE i < 64 GROUP BY doc_id
    )"""


@query(
    "m10_image_neardup_clusters",
    f"""
    WITH RECURSIVE {_DHASH_CTES},
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM hashes a JOIN hashes b
        ON a.doc_id < b.doc_id AND bit_count(xor(a.phash, b.phash)) <= 3
    ),
    {components_sql("pairs")}
    SELECT CAST(lab.component AS BIGINT) AS component,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           CAST(MIN(lab.node) AS BIGINT) AS canonical_doc,
           CAST(COUNT(DISTINCT h.phash) AS BIGINT) AS n_hashes
    FROM lab JOIN hashes h ON h.doc_id = lab.node
    GROUP BY lab.component
    """,
    tags=("multimodal", "dedup", "graph"),
    tier="diagnostic",
    production_twin="m18_image_neardup_verified",
)
def m10_image_neardup_clusters(t):
    """Image near-duplicate CLUSTERS — the full modality dedup
    pipeline m07 only starts: 64-bit difference hash (dHash) →
    16-bit-banded candidate pairs → exact Hamming ≤ 3 verification →
    connected components → one canonical image per cluster.

    Recall is EXACT by pigeonhole: a pair within Hamming radius 3 has
    its ≤3 differing bits spread over at most 3 of the 4 bands, so at
    least one band matches — 4 bands of 16 bits cannot miss a
    radius-3 pair. The oracle exploits that: it verifies against the
    PLAIN all-pairs Hamming join, so a banding scheme that dropped
    any qualifying pair would hash-mismatch, not just slow down.
    (Radius r needs r+1 bands — same machinery, SimHash-style,
    operators/dedup.py.)

    64 bits (vs the original 16-bit block-mean hash) is the
    north-star requirement: a 16-bit hash has 65,536 distinct values,
    so at large corpora every byte-band bucket collapses and
    within-bucket candidate pairs go quadratic; 2^64 hash values with
    2^16-domain band keys keep bucket occupancy — and thus candidate
    volume — corpus-linear. The dHash form (fixed-width blocks,
    adjacent-block comparisons, operators/multimodal.difference_hash)
    keeps the wider hash NEAR-DUP-SENSITIVE: tail edits perturb only
    the last block pair, where the old length-normalized block-mean
    boundaries shifted under any length change and pushed true
    near-dups past every usable radius. Bit 63 rides the int64 sign
    bit (two's complement, exact on both engines); band extraction is
    arithmetic-shift-then-mask, whose masked low 16 bits equal the
    logical-shift value for every band.

    Scale shape: candidate generation is an equi-join on (band_idx,
    band_value) — never all-pairs over images (the oracle's O(N²)
    join is affordable only because DuckDB sees sf0.01); Hamming
    verification is two codegen'd integer ops on the candidate set;
    clustering is operators/graph.py min-label propagation WITH
    pointer jumping — Hamming-radius chains make these graphs
    long-diameter, which plain one-hop propagation cannot finish
    inside its round budget; jumping converges in O(log diameter)
    rounds."""
    from data_engineer_project_spark.operators.graph import connected_components
    from data_engineer_project_spark.operators.multimodal import difference_hash

    # EXACT-DUP COLLAPSE TIER (round 8): group identical hashes to one
    # representative (min doc) + a member count BEFORE banding. Docs
    # sharing a hash are Hamming-0 — always one cluster — so pairing
    # over distinct hashes loses nothing, while pair volume becomes
    # independent of duplicate MULTIPLICITY: a corpus with every image
    # replicated 100x previously emitted ~100^2/2 verified pairs per
    # clique (the 100x stress sweep stalled exactly there — one fused
    # pair-listing straggler); now those replicas are one node. This
    # is the d15/d56 tiering (exact dedup before near-dup) applied to
    # the image family.
    h = difference_hash(_media(t)).select("doc_id", "phash")
    hg = tracked_persist(
        h.groupBy("phash").agg(
            F.min("doc_id").alias("rep"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )
    pairs = (
        dhash_band_pairs(hg, "rep", (), "m10_dhash_bands")
        .select("doc_a", "doc_b")
        .distinct()
    )
    comps = connected_components(pairs, pairs_unique=True)
    labeled = (
        hg.join(comps, hg.rep == comps.node, "left")
        .withColumn("component", F.coalesce("component", "rep"))
        .withColumn("in_graph", F.col("node").isNotNull())
    )
    # a doc appeared in the old doc-level graph iff its hash had >= 2
    # members (intra-hash Hamming-0 pairs) or a neighboring hash
    return (
        labeled.filter((F.col("n_docs") >= 2) | F.col("in_graph"))
        .groupBy("component")
        .agg(
            F.sum("n_docs").alias("cluster_size"),
            F.min("rep").alias("canonical_doc"),
            F.count(F.lit(1)).alias("n_hashes"),
        )
    )


@query(
    "m11_video_neardup_pairs",
    f"""
    WITH bl AS (
      SELECT doc_id, {_UTF8_BYTES} AS b FROM documents
    ),
    bytes AS (
      SELECT doc_id, unnest(b) AS v, generate_subscripts(b, 1) AS p FROM bl
    ),
    fr AS (
      SELECT doc_id, (p - 1) // 64 AS fno,
             SUM(v * ((p - 1) % 64 + 1)) AS ws, COUNT(*) AS flen
      FROM bytes GROUP BY 1, 2
    ),
    fp AS (SELECT DISTINCT doc_id, ws * 65 + flen AS fp FROM fr),
    {set_jaccard_sql("fp", "fp", "frames")}
    SELECT * FROM sj ORDER BY doc_a, doc_b
    """,
    tags=("multimodal", "dedup", "video"),
)
def m11_video_neardup_pairs(t):
    """Video near-duplicate pairs by FRAME-SET overlap: each payload's
    64-byte frames fold to position-weighted integer fingerprints
    (operators/multimodal.frame_fingerprints), and two videos are
    near-dups when the Jaccard of their distinct-fingerprint sets is
    ≥ 0.5 — catching trims, re-cuts, and re-stitched copies that
    whole-file hashing (m07/m10 operate on the full payload) misses,
    because frame sets ignore frame ORDER. The threshold test is
    integer cross-multiplied (2·|∩| ≥ |∪|), the reported jaccard one
    integer-derived division.

    Scale shape: candidate pairs come from the blocked equi-join on
    the fingerprint value — only videos SHARING a frame ever meet,
    never all-pairs (d12's shingle-Jaccard shape on the video
    modality); per-fingerprint multiplicity is bounded by how many
    videos share a frame. Fingerprinting itself is one narrow
    mapInPandas, already distinct per doc."""
    from data_engineer_project_spark.operators.multimodal import (
        frame_fingerprints,
    )

    # skew-guarded frame-fingerprint self-join: one ubiquitous frame
    # (a black/blank frame shared by thousands of videos) is a hot key
    # at crawl scale — grid it, pair set unchanged
    return set_jaccard_pairs(
        frame_fingerprints(_media(t), frame_bytes=64), "fp", "frames", "video_frames"
    )


@query(
    "m12_crossmodal_dup_consensus",
    f"""
    WITH bl AS (
      SELECT doc_id, lang, {_UTF8_BYTES} AS b FROM documents
    ),
    bytes AS (
      SELECT doc_id, unnest(b) AS v, generate_subscripts(b, 1) AS p FROM bl
    ),
    s AS (SELECT doc_id, COUNT(*) AS n, SUM(v) AS total FROM bytes GROUP BY doc_id),
    blk AS (
      SELECT bytes.doc_id, ((bytes.p - 1) * 8) // s.n AS blk,
             SUM(bytes.v) AS bs, COUNT(*) AS bn
      FROM bytes JOIN s USING (doc_id) GROUP BY 1, 2
    ),
    hashes AS (
      SELECT blk.doc_id,
             SUM(CASE WHEN blk.bs * s.n > s.total * blk.bn
                      THEN (CAST(1 AS BIGINT) << blk.blk) ELSE 0 END) AS phash
      FROM blk JOIN s USING (doc_id) GROUP BY blk.doc_id
    ),
    idup AS (
      SELECT doc_id,
             COUNT(*) OVER (PARTITION BY phash) >= 2 AS image_dup
      FROM hashes
    ),
    tdup AS (
      SELECT doc_id, lang,
             COUNT(*) OVER (PARTITION BY md5(text)) >= 2 AS text_dup
      FROM documents
    )
    SELECT t.lang, t.text_dup, i.image_dup,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(t.doc_id) AS BIGINT) AS sample_doc
    FROM tdup t JOIN idup i ON t.doc_id = i.doc_id
    GROUP BY t.lang, t.text_dup, i.image_dup
    ORDER BY t.lang, t.text_dup, i.image_dup
    """,
    tags=("multimodal", "dedup", "quality"),
)
def m12_crossmodal_dup_consensus(t):
    """Cross-modal duplicate CONSENSUS audit: classify every document
    by both modalities' duplicate verdicts — text-exact (md5(text)
    shared by ≥2 docs, d05's rule) × image-perceptual (m07's 8-bit
    block-mean phash shared by ≥2 docs) — and tabulate the per-lang
    contingency. The cell that matters for curation is
    (text_dup=false, image_dup=true): perceptually-identical payloads
    with DIFFERENT text — the near-dup/template mass exact text dedup
    cannot see, and exactly what a multimodal pipeline must route to
    the verifier tier instead of trusting either modality alone.
    (text_dup=true ⊂ image_dup=true here by construction — the payload
    derives from the text — so that containment doubles as a pipeline
    self-check: a nonzero (true, false) cell means the phash stage
    broke.)

    Scale shape: both duplicate verdicts are groupBy-count shapes on
    derived keys (md5 / phash) — the windows in the oracle SQL are
    notation; the engine computes group sizes with partial-aggregatable
    groupBys and broadcasts nothing unbounded. The phash pass is the
    audited m07 Arrow stage; the contingency rollup collapses to ≤
    langs × 4 rows map-side."""
    from data_engineer_project_spark.operators.multimodal import perceptual_hash

    hashes = perceptual_hash(_media(t), n_blocks=8)
    isz = hashes.groupBy("phash").agg(F.count(F.lit(1)).alias("i_n"))
    idup = hashes.join(isz, "phash").select(
        "doc_id", (F.col("i_n") >= 2).alias("image_dup")
    )
    docs = t.documents.select("doc_id", "lang", F.md5("text").alias("fp"))
    tsz = docs.groupBy("fp").agg(F.count(F.lit(1)).alias("t_n"))
    tdup = docs.join(tsz, "fp").select(
        "doc_id", "lang", (F.col("t_n") >= 2).alias("text_dup")
    )
    return (
        tdup.join(idup, "doc_id")
        .groupBy("lang", "text_dup", "image_dup")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("sample_doc"),
        )
        .orderBy("lang", "text_dup", "image_dup")
    )


@query(
    "m13_payload_integrity_quarantine",
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
    tags=("multimodal", "quality"),
)
def m13_payload_integrity_quarantine(t):
    """Payload-integrity quarantine — the validation gate a multimodal
    intake pipeline runs before any decode: a payload whose ACTUAL
    byte length disagrees with its declared metadata (n_bytes, and
    therefore the height = ceil(bytes/width) contract) is quarantined,
    not decoded — truncated uploads crash or, worse, silently produce
    garbage features. The corpus has no real corruption, so — the
    d39/s11 planted-case convention — docs with doc_id % 37 == 0 are
    deterministically TRUNCATED to half their bytes on the Spark side
    (a real binary substring of the payload), and the engine measures
    octet_length of the damaged blob against the intact metadata; the
    oracle models the same lengths arithmetically. Per (lang, format):
    doc counts, corrupt counts, and quarantined byte mass.

    Scale shape: the check is a row-local integer comparison inside
    whole-stage codegen (no Python, no decode); the rollup collapses
    to langs × formats keys map-side."""
    from data_engineer_project_spark.operators.multimodal import attach_media

    media = attach_media(t.documents)
    damaged = media.withColumn(
        "payload",
        F.when(
            F.col("doc_id") % 37 == 0,
            F.expr("substring(media, 1, cast(n_bytes div 2 as int))"),
        ).otherwise(F.col("media")),
    )
    ok = F.octet_length("payload") == F.col("n_bytes")
    return (
        damaged.groupBy("lang", "media_format")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((~ok).cast("long")).alias("n_corrupt"),
            F.sum(F.when(~ok, F.col("n_bytes")).otherwise(0)).alias(
                "bytes_quarantined"
            ),
        )
        .orderBy("lang", "media_format")
    )


def _envelope_grams(media):
    """Distinct (doc_id, gram) envelope 4-grams of ``media`` (doc_id,
    media): each 64-byte window's integer energy folds to its
    mean-amplitude class (energy div 64), and four consecutive classes
    join with '|' (m14, m20)."""
    fs = frame_byte_sums(
        sample_frames(media, frame_bytes=_VAD_WINDOW_BYTES, every=1)
    )
    cls = F.expr("cast(frame_sum as bigint) div 64")
    cl = fs.select("doc_id", "frame_no", cls.alias("c"))
    w = Window.partitionBy("doc_id").orderBy("frame_no")
    gram = F.concat_ws(
        "|",
        F.col("c").cast("string"),
        F.lead("c", 1).over(w).cast("string"),
        F.lead("c", 2).over(w).cast("string"),
        F.lead("c", 3).over(w).cast("string"),
    )
    return (
        cl.select("doc_id", gram.alias("gram"), F.lead("c", 3).over(w).alias("l3"))
        .filter(F.col("l3").isNotNull())
        .select("doc_id", "gram")
        .distinct()
    )


@query(
    "m14_audio_neardup_pairs",
    f"""
    WITH bl AS (
      SELECT doc_id, {_UTF8_BYTES} AS b FROM documents
    ),
    k AS (
      SELECT doc_id,
             unnest(generate_series(
               0, CAST(ceil(len(b) / {_VAD_WINDOW_BYTES}.0) AS BIGINT) - 1)) AS k,
             b
      FROM bl
    ),
    fs AS (
      SELECT doc_id, k,
             CAST(list_sum(
               b[k * {_VAD_WINDOW_BYTES} + 1 : (k + 1) * {_VAD_WINDOW_BYTES}])
               AS BIGINT) AS s
      FROM k
    ),
    cl AS (SELECT doc_id, k, s // 64 AS c FROM fs),
    gr AS (
      SELECT doc_id,
             CAST(c AS VARCHAR) || '|' ||
             CAST(lead(c, 1) OVER win AS VARCHAR) || '|' ||
             CAST(lead(c, 2) OVER win AS VARCHAR) || '|' ||
             CAST(lead(c, 3) OVER win AS VARCHAR) AS gram
      FROM cl WINDOW win AS (PARTITION BY doc_id ORDER BY k)
      QUALIFY lead(c, 3) OVER win IS NOT NULL
    ),
    gd AS (SELECT DISTINCT doc_id, gram FROM gr),
    {set_jaccard_sql("gd", "gram", "grams")}
    SELECT * FROM sj ORDER BY doc_a, doc_b
    """,
    tags=("multimodal", "audio", "dedup"),
)
def m14_audio_neardup_pairs(t):
    """Audio NEAR-DUPLICATE pairs by energy-ENVELOPE shingles — the
    audio sibling of m11's frame-set matching, but ORDER-SENSITIVE:
    each 64-sample window's exact integer energy folds to its mean-
    amplitude class (energy div 64 — one class per average byte
    value, tolerant of sub-class amplitude drift yet discriminative:
    ~97 classes on the fixture where log2 buckets gave 7 and
    near-all-pairs),
    consecutive classes shingle into envelope 4-grams, and two audio
    payloads are near-dups when their distinct-gram Jaccard clears
    0.5 (integer cross-multiplied). Envelope n-grams catch re-encoded
    or trimmed copies whose sample bytes differ but whose loudness
    CONTOUR survives — the standard cheap audio fingerprint shape
    (Shazam-style constellations are this plus frequency).

    Scale shape: candidates come from the blocked equi-join on the
    gram value — only payloads SHARING an envelope 4-gram ever meet,
    never all-pairs (d12's shape on the audio modality); windowing is
    one narrow mapInPandas; the class/gram derivation is row-local;
    the verify is one (doc_a, doc_b)-keyed integer aggregate."""
    # skew-guarded gram self-join (the m11 rationale: a ubiquitous
    # audio gram — silence — is the hot key at crawl scale)
    return set_jaccard_pairs(
        _envelope_grams(_media(t)), "gram", "grams", "audio_grams"
    )


@query(
    "m15_real_container_decode",
    f"""
    WITH bl AS (
      SELECT doc_id, lang, {_UTF8_BYTES} AS b FROM documents
    ),
    m AS (
      SELECT doc_id, lang, len(b) AS n,
             CAST(16 + doc_id % 48 AS BIGINT) AS w,
             CAST(COALESCE(list_sum(b), 0) AS BIGINT) AS sum_b,
             list_min(b) AS min_b, list_max(b) AS max_b
      FROM bl
    )
    SELECT doc_id, lang,
           CASE doc_id % 6 WHEN 0 THEN 'pgm' WHEN 1 THEN 'bmp'
                WHEN 2 THEN 'png' WHEN 3 THEN 'jpg' WHEN 4 THEN 'gif'
                ELSE 'tif'
           END AS container,
           w * CAST(ceil(n / w) AS BIGINT) AS n_px,
           sum_b AS sum_px,
           CAST(sum_b AS DOUBLE) / (w * CAST(ceil(n / w) AS BIGINT)) AS mean_px,
           CAST(CASE WHEN w * CAST(ceil(n / w) AS BIGINT) > n
                     THEN 0 ELSE min_b END AS INT) AS min_px,
           CAST(max_b AS INT) AS max_px
    FROM m WHERE n > 0
    """,
    tags=("multimodal", "decode"),
)
def m15_real_container_decode(t):
    """REAL container decode — the non-vacuous twin of m04's stub:
    every payload is a genuine image container (doc_id % 6 rotates
    P5 PNM with an ASCII header; 8-bit BMP with little-endian struct
    headers, a 256-entry palette, 4-byte row stride, bottom-up rows;
    8-bit grayscale PNG with CRC'd chunks and a zlib IDAT — round 9;
    LOSSLESS JPEG, T.81 SOF3 predictor-1 with Huffman-coded
    differences — round 10, bit-exact by construction; GIF89a with a
    gray color table and LZW-coded indices; and a single-strip TIFF —
    round 10 third wave, both bit-exact), and
    ``decode_media(use_real_codec=True)``
    must PARSE the container — magic sniff, header fields,
    stride/row-order/inflate-unfilter/LZW undo — to recover the
    pixels. The oracle knows nothing about any container: it
    recomputes the stats from the raw UTF-8 bytes plus the final-row
    zero padding, so a parity hash proves the parsers extracted
    exactly the true pixel matrix from six different on-disk layouts
    (a BMP stride bug, a PNG filter bug, a JPEG predictor/EXTEND bug,
    a GIF code-width bug, or a TIFF strip bug shifts sum/min/max and
    turns the row red).

    Scale shape: encode and decode are both narrow Arrow mapInPandas
    stages (no shuffle); the only exchange is none at all — the result
    stays per-doc. Payload columns prune away for metadata-only
    readers as in m01."""
    return _real_container_decode(t, engine="python")


def _real_container_decode(t, engine: str):
    """Shared body of m15 (engine=python) and m21 (engine=native): the
    arm rotation and output shape are ONE definition so the two
    driver gates can never silently diverge."""
    media = attach_real_media(t.documents)
    dec = decode_media(media, use_real_codec=True, engine=engine)
    return dec.select(
        "doc_id",
        "lang",
        F.when(F.col("doc_id") % 6 == 0, F.lit("pgm"))
        .when(F.col("doc_id") % 6 == 1, F.lit("bmp"))
        .when(F.col("doc_id") % 6 == 2, F.lit("png"))
        .when(F.col("doc_id") % 6 == 3, F.lit("jpg"))
        .when(F.col("doc_id") % 6 == 4, F.lit("gif"))
        .otherwise(F.lit("tif"))
        .alias("container"),
        "n_px",
        "sum_px",
        "mean_px",
        "min_px",
        "max_px",
    )


@query(
    "m16_container_integrity_gate",
    f"""
    WITH bl AS (
      SELECT doc_id, {_UTF8_BYTES} AS b FROM documents
    ),
    m AS (
      SELECT doc_id, len(b) AS n,
             CAST(16 + doc_id % 48 AS BIGINT) AS w
      FROM bl
    ),
    sized AS (
      SELECT doc_id, n, w,
             CAST(ceil(n / w) AS BIGINT) AS h,
             CASE doc_id % 6 WHEN 0 THEN 'pgm' WHEN 1 THEN 'bmp'
                  WHEN 2 THEN 'png' WHEN 3 THEN 'jpg' WHEN 4 THEN 'gif'
                  ELSE 'tif'
             END AS fmt
      FROM m WHERE n > 0
    ),
    payload AS (
      SELECT doc_id, fmt, w, h,
             CASE fmt
                  WHEN 'pgm'
                  THEN 9 + length(CAST(w AS VARCHAR))
                         + length(CAST(h AS VARCHAR)) + w * h
                  WHEN 'bmp'
                  THEN 1078 + ((w + 3) // 4) * 4 * h
                  -- png: sig 8 + IHDR 25 + IDAT (12 + zlib of
                  -- h*(w+1) raw bytes in fixed 32768 stored blocks)
                  -- + IEND 12  =  63 + 5*ceil(raw/32768) + raw
                  WHEN 'png'
                  THEN 63 + 5 * CAST(ceil(h * (w + 1) / 32768.0) AS BIGINT)
                         + h * (w + 1)
                  -- jpg: COM filler segments pad the container to
                  -- EXACTLY 81 + 3*w*h (encode_jpeg_lossless)
                  WHEN 'jpg' THEN 81 + 3 * w * h
                  -- gif: 794 fixed bytes + the 9-bit LZW stream
                  -- (npx literals + initial clear + a clear every
                  -- 254 literals + EOI) + 1 length byte per 255-byte
                  -- sub-block (encode_gif)
                  WHEN 'gif'
                  THEN 794
                       + (9 * (w * h + 2 + (w * h) // 254) + 7) // 8
                       + CAST(ceil(((9 * (w * h + 2 + (w * h) // 254) + 7) // 8)
                                   / 255.0) AS BIGINT)
                  -- tif: header 8 + single strip (w*h, word-padded)
                  -- + IFD (2 + 9 entries x 12 + next ptr 4 = 114)
                  ELSE 8 + w * h + (w * h) % 2 + 114
             END AS container_bytes
      FROM sized
    ),
    verdict AS (
      SELECT fmt AS media_format,
             CASE WHEN doc_id % 13 = 0 THEN 'corrupt' ELSE 'ok' END AS status,
             CASE WHEN doc_id % 13 = 0 THEN 0 ELSE w * h END AS n_px,
             CASE WHEN doc_id % 13 = 0 THEN container_bytes // 2
                  ELSE container_bytes END AS n_bytes
      FROM payload
    )
    SELECT media_format, status,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_px) AS BIGINT) AS decoded_px,
           CAST(SUM(CASE WHEN status <> 'ok' THEN n_bytes ELSE 0 END)
                AS BIGINT) AS quarantined_bytes
    FROM verdict
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("multimodal", "quarantine", "decode"),
)
def m16_container_integrity_gate(t):
    """Decode-level integrity gate over REAL containers — m13 checks
    blob length against declared metadata; this gate goes a tier
    deeper and actually PARSES every payload (the m15 PNM/BMP/PNG
    decoders), verifying the pixel matrix matches the declared
    (width, height). Fault injection is deterministic: every 13th
    doc's container is truncated to half its bytes JVM-side (binary
    substring) before the gate — for ALL THREE formats a
    half-truncation provably leaves the parser short of pixel data
    (each header is always under half the container; the PNG chunk
    walk hits a cut IDAT and raises), so the oracle can assert the
    exact verdict split, per-format doc counts, surviving decoded
    pixel mass, and the quarantined byte mass (container sizes
    recomputed arithmetically: PNM header = 9 + digits(w) +
    digits(h); BMP = 1078 + stride·h; PNG = 63 + 5·ceil(raw/32768)
    + raw with raw = h·(w+1), exact because encode_png frames its
    own zlib stored blocks).

    Scale shape: encode, corrupt, and gate are narrow stages (the
    corrupt step is one JVM substring, no Python); only the final
    formats x statuses rollup shuffles."""
    from data_engineer_project_spark.operators.multimodal import (
        container_integrity,
    )

    media = attach_real_media(t.documents)
    faulty = media.withColumn(
        "media",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.expr(
                "substring(media, 1, CAST(octet_length(media) / 2 AS INT))"
            ),
        ).otherwise(F.col("media")),
    )
    gate = container_integrity(faulty).filter(F.col("status") != "empty")
    return (
        gate.groupBy("media_format", "status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_px").cast("long").alias("decoded_px"),
            F.sum(
                F.when(F.col("status") != "ok", F.col("n_bytes")).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("quarantined_bytes"),
        )
        .orderBy("media_format", "status")
    )


# --------------------- m17: bounded-radius query-by-image retrieval
# (scores the module-level _DHASH_CTES defined above m10 — one
# constant so retrieval and clustering derive the SAME hash)

_M17_RADIUS = 3  # pigeonhole-exact with m10's 4x16-bit bands


@query(
    "m17_image_query_retrieval",
    f"""
    WITH {_DHASH_CTES}
    SELECT query_doc, neighbor_doc, hamming,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY query_doc
             ORDER BY hamming, neighbor_doc) AS BIGINT) AS rank
    FROM (
      SELECT q.doc_id AS query_doc, c.doc_id AS neighbor_doc,
             CAST(bit_count(xor(q.phash, c.phash)) AS BIGINT) AS hamming
      FROM hashes q JOIN hashes c ON c.doc_id <> q.doc_id
      WHERE q.doc_id < 10
        AND bit_count(xor(q.phash, c.phash)) <= {_M17_RADIUS}
    )
    ORDER BY query_doc, rank
    """,
    tags=("multimodal", "similarity", "retrieval"),
)
def m17_image_query_retrieval(t):
    """Query-by-image SERVING path — the d09/d77 contract for the
    image modality: given a bounded query panel (doc_id < 10, the
    module's query-set convention), return every corpus image within
    Hamming radius {_M17_RADIUS} of the query's 64-bit dHash, ranked
    by distance (ties by neighbor id). This is bounded-RADIUS
    retrieval, not top-k: m10's 4x16-bit banding is pigeonhole-EXACT
    at radius <= 3, so recall is 100% by construction — a top-k
    contract would silently depend on candidates beyond the banding's
    guarantee. (The oracle verifies against the plain all-pairs
    Hamming join, so a banding that dropped any in-radius pair
    hash-mismatches rather than merely degrading.)

    Scale shape: the corpus side fans out to 4 band keys per DISTINCT
    image hash and meets the BROADCAST query panel's band keys in an
    equi-join — candidates are bucket-local (2^16-domain band keys
    keep occupancy corpus-linear, the m10 argument), the corpus is
    never all-paired, and the final Hamming check is two codegen'd
    integer ops per candidate. At 100 TB this is the interactive
    'find my image's variants' endpoint next to m10's offline
    clustering — same hash, same bands, same radius guarantee."""
    from data_engineer_project_spark.operators.multimodal import (
        difference_hash,
    )

    h = tracked_persist(
        difference_hash(_media(t)).select("doc_id", "phash")
    )

    def banded(df, id_alias, hash_alias):
        return df.select(
            F.col("doc_id").alias(id_alias),
            F.col("phash").alias(hash_alias),
            dhash_bands().alias("band"),
        ).select(id_alias, hash_alias, "band.bi", "band.bk")

    qp = banded(h.filter(F.col("doc_id") < 10), "query_doc", "q_phash")
    cp = banded(h, "neighbor_doc", "c_phash")
    cand = (
        cp.join(
            F.broadcast(qp),
            (cp["bi"] == qp["bi"])
            & (cp["bk"] == qp["bk"])
            & (F.col("neighbor_doc") != F.col("query_doc")),
        )
        .select("query_doc", "neighbor_doc", "q_phash", "c_phash")
        .distinct()
    )
    scored = cand.select(
        "query_doc",
        "neighbor_doc",
        F.bit_count(F.col("q_phash").bitwiseXOR(F.col("c_phash")))
        .cast("long")
        .alias("hamming"),
    ).filter(F.col("hamming") <= _M17_RADIUS)
    w = Window.partitionBy("query_doc").orderBy("hamming", "neighbor_doc")
    return (
        scored.withColumn(
            "rank", F.row_number().over(w).cast("long")
        ).orderBy("query_doc", "rank")
    )


# ------------- m18: content-VERIFIED image near-dup clusters (r10)

# rep-level dHash chain: the m10 CTE constant re-pointed at the
# exact-content reps (md5 collapse) instead of raw documents, so both
# engines hash the SAME node set.
_M18_DHASH_CTES = _DHASH_CTES.replace("FROM documents", "FROM reps")

@query(
    "m18_image_neardup_verified",
    f"""
    WITH RECURSIVE {reps_sql()},
    {_M18_DHASH_CTES},
    hist AS (
      SELECT doc_id, v >> 4 AS bin, CAST(COUNT(*) AS BIGINT) AS c
      FROM bytes GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, CAST(len(b) AS BIGINT) AS n FROM bl),
    hgrid AS (
      SELECT d.doc_id, g.bin
      FROM (SELECT DISTINCT doc_id FROM bytes) d,
           (SELECT unnest(range(16)) AS bin) g
    ),
    hd AS (
      SELECT hgrid.doc_id, hgrid.bin, COALESCE(hist.c, 0) AS c
      FROM hgrid LEFT JOIN hist
        ON hist.doc_id = hgrid.doc_id AND hist.bin = hgrid.bin
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM hashes a JOIN hashes b
        ON a.doc_id < b.doc_id AND bit_count(xor(a.phash, b.phash)) <= 3
    ),
    l1 AS (
      SELECT p.doc_a, p.doc_b, SUM(ABS(ha.c - hb.c)) AS d
      FROM cand p
      JOIN hd ha ON ha.doc_id = p.doc_a
      JOIN hd hb ON hb.doc_id = p.doc_b AND hb.bin = ha.bin
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT l1.doc_a, l1.doc_b
      FROM l1
      JOIN sz sa ON sa.doc_id = l1.doc_a
      JOIN sz sb ON sb.doc_id = l1.doc_b
      WHERE 4 * l1.d <= sa.n + sb.n
    ),
    {components_sql("pairs")},
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
           CAST(SUM(r.wt) AS BIGINT) AS cluster_size,
           CAST(MIN(c.node) AS BIGINT) AS canonical_doc
    FROM allc c JOIN reps r ON r.doc_id = c.node
    GROUP BY c.component ORDER BY component
    """,
    tags=("multimodal", "dedup", "graph", "verified"),
)
def m18_image_neardup_verified(t):
    """m10 with a CONTENT verify stage — the production answer to the
    scale finding SCALING.md's breadth decade recorded: a 64-bit
    dHash's accidental collisions grow ~quadratically in corpus size
    for fixed hash entropy, so at crawl scale the Hamming gate alone
    over-merges (at the tiny sf0.001 x3 smoke the collision mass
    DOMINATED: 116 clusters where ~75 are real). Tiering:

    1. exact-content collapse (md5 of the payload text — the d99
       tier): identical images are one rep with a member count;
    2. banded dHash candidates over reps (the skew-guarded m10 path)
       + exact Hamming <= 3;
    3. NEW: a cheap pixel-content verify per surviving pair — 16-bin
       byte histograms, normalized L1 <= 0.25 checked as the integer
       cross-multiplication 4*|ha-hb|_1 <= n_a + n_b (exact on both
       engines). Accidental hash collisions between unrelated images
       fail this; true near-dups (small edits) pass;
    4. connected components over VERIFIED pairs; exact-dup groups
       (n_docs > 1) surface as singleton components.

    Output mirrors m10 in uncollapsed units (cluster_size sums member
    counts). m10 remains the hash-contract diagnostic twin; this is
    what an image dedup pass should run at 100 TB.

    Scale shape: collapse is one map-side groupBy; candidates are the
    guarded band equi-join (consumer m18_dhash_bands); the verify is
    a JVM zip_with/aggregate over two 16-long arrays carried through
    the pair join — no Python in the pair path (histograms come from
    one narrow Arrow stage per rep, corpus-linear); CC is the
    pointer-jumped operator."""
    from data_engineer_project_spark.operators.graph import connected_components
    from data_engineer_project_spark.operators.multimodal import (
        dhash_with_histogram,
    )

    reps = tracked_persist(
        collapse_exact(t.documents, rep="doc_id", weight="n_docs").select(
            "doc_id", "text", "n_docs"
        )
    )
    media = reps.select(
        "doc_id", F.encode("text", "UTF-8").alias("media")
    )
    # one fused Arrow pass: hash + histogram + byte count per rep
    # (the hash is difference_hash's, without a second media scan and
    # a zip-back join)
    hh = tracked_persist(
        dhash_with_histogram(media).select(
            "doc_id", "phash", "hist", "n_bytes"
        )
    )
    l1 = F.aggregate(
        F.zip_with("hist_a", "hist_b", lambda a, b: F.abs(a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    pairs = (
        dhash_band_pairs(hh, "doc_id", ("hist", "n_bytes"), "m18_dhash_bands")
        .filter(l1 * 4 <= F.col("n_bytes_a") + F.col("n_bytes_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    comps = connected_components(pairs, pairs_unique=True)
    singles = (
        reps.filter(F.col("n_docs") > 1)
        .join(comps.select("node"), reps.doc_id == F.col("node"), "left_anti")
        .select(
            F.col("doc_id").alias("node"), F.col("doc_id").alias("component")
        )
    )
    allc = comps.select("node", "component").union(singles)
    return (
        allc.join(reps.withColumnRenamed("doc_id", "node"), "node")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_reps"),
            F.sum("n_docs").cast("long").alias("cluster_size"),
            F.min("node").alias("canonical_doc"),
        )
        .orderBy("component")
    )


# ------------- m19: animated-GIF frame-set near-dup (r10 third wave)


@query(
    "m19_gif_animation_neardup",
    f"""
    WITH bl AS (
      SELECT doc_id, {_UTF8_BYTES} AS b FROM documents
    ),
    bytes AS (
      SELECT doc_id, unnest(b) AS v, generate_subscripts(b, 1) AS p FROM bl
    ),
    fr AS (
      SELECT doc_id, (p - 1) // 64 AS fno,
             SUM(v * ((p - 1) % 64 + 1)) AS ws
      FROM bytes GROUP BY 1, 2
    ),
    -- frames are zero-PADDED to 64 bytes inside the container, so the
    -- position-weighted sum is unchanged (zeros add nothing) and every
    -- frame folds with npx = 64: fp = ws*65 + 64
    fp AS (SELECT DISTINCT doc_id, ws * 65 + 64 AS fp FROM fr),
    {set_jaccard_sql("fp", "fp", "frames")}
    SELECT * FROM sj ORDER BY doc_a, doc_b
    """,
    tags=("multimodal", "dedup", "video", "gif"),
)
def m19_gif_animation_neardup(t):
    """m11's frame-set video dedup driven through a REAL multi-frame
    container: each document's bytes travel as an ANIMATED GIF (one
    full-canvas 8x8 image block per 64-byte frame, gray palette,
    LZW-coded — operators/multimodal.attach_animated_gif), the
    engine-side fingerprints come from DECODING every frame of the
    animation (gif_frame_fingerprints: running-canvas composite,
    palette expansion, then the m11 position-weighted fold), and two
    animations are near-dups when their distinct-frame-fingerprint
    Jaccard is >= 0.5. The oracle recomputes the fold from raw text
    bytes with the container's zero-padding convention (padding is
    additive-identity under the position-weighted sum), so a hash
    match proves the GIF walk recovered every frame of every
    animation exactly — a multi-frame LZW bug, a lost frame, or a
    mis-composited canvas changes fingerprint sets and turns the row
    red.

    Scale shape: identical to m11 — candidates come from the skew-
    guarded equi-join on the fingerprint value (only animations
    SHARING a frame ever meet); decode + fold is one narrow Arrow
    stage; per-fingerprint multiplicity is the guard's problem at
    crawl scale (a ubiquitous black frame is a hot key)."""
    from data_engineer_project_spark.operators.multimodal import (
        attach_animated_gif,
        gif_frame_fingerprints,
    )

    return set_jaccard_pairs(
        gif_frame_fingerprints(attach_animated_gif(t.documents)),
        "fp",
        "frames",
        "m19_gif_frames",
    )


# ------------- m20: WAV audio near-dup through a real container


from data_engineer_project_spark.queries.catalog import (  # noqa: E402
    QUERIES as _REGISTRY_M20,
)

# m20's contract IS m14's: 8-bit PCM samples are the text bytes
# bit-exact, so the envelope-gram oracle applies verbatim.
_M20_ORACLE = _REGISTRY_M20["m14_audio_neardup_pairs"].oracle


@query(
    "m20_wav_audio_neardup",
    _M20_ORACLE,
    tags=("multimodal", "audio", "dedup", "wav"),
)
def m20_wav_audio_neardup(t):
    """m14's envelope-gram audio dedup driven through a REAL
    container: each document's bytes travel as an 8-bit PCM WAV
    (operators/multimodal.attach_wav), decode_wav_samples PARSES the
    RIFF chunks back into the raw sample stream, and the identical
    m14 machinery (64-sample window energies → amplitude classes →
    envelope 4-grams → skew-guarded gram join → Jaccard ≥ 0.5) runs
    over the DECODED samples. The oracle is m14's verbatim — 8-bit
    PCM is bit-exact — so a hash match proves the WAV walk recovered
    every sample of every payload; a chunk-alignment or fmt-parse bug
    shifts window energies and turns the row red.

    Scale shape: identical to m14 plus one narrow Arrow decode
    stage."""
    from data_engineer_project_spark.operators.multimodal import (
        attach_wav,
        decode_wav_samples,
    )

    samples = decode_wav_samples(attach_wav(t.documents))
    return set_jaccard_pairs(
        _envelope_grams(samples), "gram", "grams", "m20_wav_grams"
    )


# m21's contract IS m15's: the native tier must recover the identical
# pixel matrix from every container arm (bit-exact on the lossless
# arms it serves; Python fallback on pgm/jpg-SOF3/tif), so the
# container-blind oracle applies verbatim.
_M21_ORACLE = _REGISTRY_M20["m15_real_container_decode"].oracle


@query(
    "m21_native_container_decode",
    _M21_ORACLE,
    tags=("multimodal", "decode", "native"),
)
def m21_native_container_decode(t):
    """m15's real-container decode driven through the NATIVE data
    plane (round 12 — the 100 TB ingest tier): decode_media with
    ``engine="native"`` routes each payload through the per-worker
    JVM sidecar (operators/native_codec.py — ImageIO behind the
    Python codecs' exact output conventions) for the arms its proven
    coverage includes (bmp, png, gif here), and falls back to the
    pure-Python parsers for the rest (pgm header-walk, SOF3 lossless
    JPEG — ImageIO has no reader for it — and tif by design). The
    oracle is m15's verbatim: it recomputes the stats from the raw
    UTF-8 bytes, so a hash match proves the native tier recovered
    exactly the true pixel matrix — a band-order bug, a palette
    expansion bug, or a gray-collapse mismatch in the sidecar
    conventions turns the row red. If no JVM is reachable the whole
    run degrades to the Python engine and still matches (pinned).

    Scale shape: identical to m15 — two narrow Arrow mapInPandas
    stages, no shuffle; the decode inner loop is ImageIO-native
    (see SCALING.md codec table's native column). Body shared with
    m15 (_real_container_decode) so the two gates cannot diverge."""
    return _real_container_decode(t, engine="native")


# ------------- m22: lossless webp (VP8L) through a real container


@query(
    "m22_webp_lossless_decode",
    f"""
    WITH bl AS (
      SELECT doc_id, lang, {_UTF8_BYTES} AS b FROM documents
    ),
    m AS (
      SELECT doc_id, lang, len(b) AS n,
             CAST(16 + doc_id % 48 AS BIGINT) AS w,
             CAST(COALESCE(list_sum(b), 0) AS BIGINT) AS sum_b,
             list_min(b) AS min_b, list_max(b) AS max_b
      FROM bl
    )
    SELECT doc_id, lang, 'webp' AS container,
           w * CAST(ceil(n / w) AS BIGINT) AS n_px,
           sum_b AS sum_px,
           CAST(sum_b AS DOUBLE) / (w * CAST(ceil(n / w) AS BIGINT)) AS mean_px,
           CAST(CASE WHEN w * CAST(ceil(n / w) AS BIGINT) > n
                     THEN 0 ELSE min_b END AS INT) AS min_px,
           CAST(max_b AS INT) AS max_px
    FROM m WHERE n > 0
    """,
    tags=("multimodal", "decode", "webp"),
)
def m22_webp_lossless_decode(t):
    """REAL lossless-webp decode — the round-13 landing of WEBP.md's
    decision: every payload is a genuine RIFF/WEBP container with a
    VP8L chunk (COLOR_INDEXING gray palette + prefix-coded indices —
    operators/vp8l.py, written to the public lossless bitstream spec,
    RFC 9649), and ``decode_media(use_real_codec=True)`` must PARSE it
    — RIFF walk, VP8L header, canonical prefix codes, palette
    delta-undo, index unbundling — to recover the pixels. The oracle
    is the m15 math verbatim (it recomputes the stats from the raw
    UTF-8 bytes plus final-row zero padding, knowing nothing about any
    container), so a parity hash proves the VP8L entropy decoder and
    the palette inverse extracted exactly the true pixel matrix; a
    canonical-code assignment bug, a code-length RLE bug, or a palette
    cumulative-sum bug shifts sum/min/max and turns the row red.

    webp is the highest-volume crawl format the engine previously
    stubbed (WEBP.md cites the public share estimates); lossy VP8
    remains the documented non-goal with the sidecar-plugin
    deployment path. The JDK has no webp reader, so the native tier
    never serves these payloads (native_decode declines; Python
    decides) and there is deliberately no engine="native" twin.

    Scale shape: identical to m15 — encode and decode are narrow
    Arrow mapInPandas stages, no shuffle, result stays per-doc."""
    from data_engineer_project_spark.operators.multimodal import (
        attach_webp_media,
    )

    media = attach_webp_media(t.documents)
    dec = decode_media(media, use_real_codec=True)
    return dec.select(
        "doc_id",
        "lang",
        F.lit("webp").alias("container"),
        "n_px",
        "sum_px",
        "mean_px",
        "min_px",
        "max_px",
    )
