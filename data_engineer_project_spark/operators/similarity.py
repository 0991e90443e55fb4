"""Similarity search over embedding columns (array<float>).

Two paths:
- brute-force cosine top-k — the exact baseline; a broadcast of the
  (small) query set against the corpus, ranked per query. Correct at
  any corpus size: the operator never shuffles the corpus (callers
  may pass it through ``fanout.fanout_small`` first), scores reduce
  via a per-query top-k window.
- sign-LSH bucketed ANN — the scale path: R deterministic ±1
  hyperplanes → R sign bits → bucket key; candidates equi-join on the
  bucket (hash shuffle), so cost is corpus-linear + per-bucket work.

Scale model (the part a fixed plane count gets wrong): with B = 2^R
buckets CONSTANT, the within-bucket join costs ~N²/B — quadratic in
corpus size. The ANN operators therefore derive R from the corpus
count so buckets stay ~TARGET_BUCKET_ROWS-sized: R = clamp(ceil(log2(
ceil(N / TARGET_BUCKET_ROWS))), MIN_PLANES, MAX_PLANES), computed with
pure integer comparisons (``N > TARGET << p``) so Spark and the DuckDB
oracle twin agree exactly at any N. More planes cost recall, so
candidates come from multiple independent plane families OR-ed
together (the same banded OR-of-AND construction the MinHash dedup
path uses): a pair is a candidate if it collides in ANY band. The
band count itself co-scales with the plane count
(``adaptive_bands``: one extra band per BAND_PLANES planes) so recall
stays ≥ ~0.94 for 0.99-cosine pairs at ANY corpus size — a constant
band count would decay to ~55% recall at the 24-plane operating point
even though per-candidate cost stayed linear.

Dot products use F.aggregate's strict left-fold in DOUBLE: the result
is bit-identical regardless of partitioning (per-row scalar math), and
matches DuckDB's unnest-in-order SUM — which is why the oracle queries
can hash-compare scores exactly. (DuckDB's list_dot_product accumulates
in FLOAT and does NOT match — deliberately avoided.)

DuckDB twins (CTE builders for the oracle SQL, each beside its Spark
kernel; they emit ``name AS (...)`` fragments with no ``WITH``):
- ``cosine_sql`` — the exact-cosine fold of ``cosine`` over a pairs
  CTE (keys…, qv, cv), giving (keys…, score);
- ``banded_lsh_sigs_sql`` — the signatures of ``banded_lsh_sigs``;
- ``nearest_cells_sql`` — the nearest-cell probe of ``ivf_assign_n``;
- ``kmeans_chain`` — ``kmeans_centroids`` plus the final assignment,
  unrolled per iteration.
The product-quantization layer built on them is ``operators/pq.py``.
"""

from __future__ import annotations

import pathlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType, StructField, StructType

from data_engineer_project_spark.functions.text import hyperplane
from data_engineer_project_spark.operators.multimodal import kept_fields
from data_engineer_project_spark.operators.topk import grouped_topk


def dot(a: Column, b: Column) -> Column:
    """Exact-order double-precision dot product of two float arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_sql(name: str, pairs: str, keys: tuple[str, ...]) -> str:
    """DuckDB twin of ``cosine``: CTEs ``{name}x`` (one row per
    component, unnested in array order) and ``{name}`` (keys…, score)
    over the CTE ``pairs`` (keys…, qv, cv). The three folds SUM in
    DOUBLE and the score is dot / (sqrt(qq) · sqrt(cc)), the op order
    of ``cosine`` and of the norm-hoisted Spark forms, so scores
    hash-compare exactly. A zero-norm vector scores NULL here where
    Spark raises DIVIDE_BY_ZERO (tests/test_properties.py pins both)."""
    k = ", ".join(keys)
    return f"""{name}x AS (SELECT {k}, unnest(qv) AS qx, unnest(cv) AS cx
             FROM {pairs}),
    {name} AS (SELECT {k},
                  SUM(CAST(qx AS DOUBLE) * CAST(cx AS DOUBLE))
                  / (sqrt(SUM(CAST(qx AS DOUBLE) * CAST(qx AS DOUBLE)))
                     * sqrt(SUM(CAST(cx AS DOUBLE) * CAST(cx AS DOUBLE))))
                    AS score
           FROM {name}x GROUP BY {k})"""


def panel(
    queries: DataFrame, corpus: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """The broadcast query panel against the corpus, norms hoisted:
    every (corpus row, query) pair as (neighbor_id, cvec, c<carry>,
    cnrm, query_id, qvec, q<carry>, qnrm), scored by ``panel_score``.
    |q| folds once per query (on the broadcast side), |c| once per
    corpus row instead of once per pair (the ivf_assign_n move);
    dot/(sqrt(aa)·sqrt(bb)) in the same op order keeps scores
    bit-identical. The corpus is the probe side, so its partitioning
    sets the scoring parallelism and it never shuffles. Callers filter
    the pairs (self-matches, label predicates) themselves."""
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        *[F.col(k).alias(f"q{k}") for k in carry],
        norm(F.col("embedding")).alias("qnrm"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cvec"),
        *[F.col(k).alias(f"c{k}") for k in carry],
        norm(F.col("embedding")).alias("cnrm"),
    )
    return c.crossJoin(F.broadcast(q))


def panel_score() -> Column:
    """The exact cosine of a (qvec, qnrm) × (cvec, cnrm) pair from its
    hoisted norms: a ``panel`` pair or an ``lsh_topk`` candidate."""
    return dot(F.col("qvec"), F.col("cvec")) / (F.col("qnrm") * F.col("cnrm"))


def brute_force_topk(queries: DataFrame, corpus: DataFrame, k: int = 5) -> DataFrame:
    """Exact cosine top-k: broadcast the query set over the corpus
    (``panel``).

    Returns (query_id, neighbor_id, score). Self-matches excluded.
    Deterministic: ties broken by neighbor id."""
    scored = (
        panel(queries, corpus)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", panel_score().alias("score"))
    )
    return grouped_topk(
        scored,
        ["query_id"],
        [F.desc("score"), F.asc("neighbor_id")],
        k,
    )


# Adaptive sign-LSH parameters, shared verbatim with the oracle SQL
# generator (banded_lsh_sigs_sql).
TARGET_BUCKET_ROWS = 64  # aim: ~this many corpus rows per bucket
MIN_PLANES = 4           # floor keeps small/test corpora at today's 16 buckets
MAX_PLANES = 24          # 16M buckets; bucket ≈ max(64, N/2^24) rows at cap
NUM_BANDS = 2            # MINIMUM independent plane families OR-ed for recall
BAND_PLANES = 3          # grow one extra band per 3 planes (see adaptive_bands)


def adaptive_planes(n: int) -> int:
    """Plane count for an ``n``-row corpus: clamp(ceil(log2(ceil(n /
    TARGET_BUCKET_ROWS))), MIN, MAX). Uses only integer comparisons
    (``ceil(n/T) > 2^p  ⟺  n > T·2^p``) — the Python twin of the
    in-plan/in-SQL formula, for tests and sizing docs."""
    return MIN_PLANES + sum(
        1 for p in range(MIN_PLANES, MAX_PLANES) if n > (TARGET_BUCKET_ROWS << p)
    )


def adaptive_bands(planes: int) -> int:
    """Band count for a given plane count: max(NUM_BANDS,
    ceil(planes / BAND_PLANES)) — pure integer arithmetic, mirrored in
    the oracle SQL as ``GREATEST(2, (planes + 2) // 3)``.

    Why bands must co-scale with planes: a band fires only if ALL its
    ``planes`` sign bits agree, so per-band recall is p^planes (p =
    per-plane agreement probability, 1 − θ/π); total recall is
    1 − (1 − p^planes)^bands. With bands CONSTANT, recall decays
    geometrically as planes grow with the corpus — at 24 planes a
    0.99-cosine pair (p ≈ 0.955) would be caught with only ~55%
    probability under 2 fixed bands. Growing one band per BAND_PLANES
    planes keeps analytic recall ≥ ~0.94 across the whole 4..24 plane
    range (MinHash-style b×r banding: more, shorter-effective chances
    OR-ed together). Cost stays corpus-linear: candidate volume per
    corpus row is ~bands · TARGET_BUCKET_ROWS, i.e. grows only
    logarithmically with N via the band count.
    ``tests/test_properties.py`` pins the recall curve."""
    return max(NUM_BANDS, -(-planes // BAND_PLANES))


def _banded_sigs_arrow(
    df: DataFrame,
    num_bands: int,
    planes: int,
    dim: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The signature build of ``banded_lsh_sigs`` (r15, guide §4.2):
    one ``mapInPandas`` stage computes, per input row, the norm and
    ALL ``num_bands`` bucket ids with vectorized numpy; the per-band
    explode stays in the JVM. BIT-IDENTICAL to the interpreted-HOF
    form (sign-dot ``F.aggregate`` folds, kept as the reference fold
    in tests/test_round15_opt.py) by construction:

    - products: Spark's ``dot`` computes x.cast(double) * plane_i with
      plane_i ∈ {±1.0} — exact in IEEE double; numpy's float64
      elementwise multiply performs the same exact operation.
    - fold order: ``F.aggregate``'s strict left fold (((0+t0)+t1)+…)
      equals the last element of ``np.cumsum`` — cumsum is defined by
      sequential prefix accumulation, unlike np.sum's pairwise
      blocking, so every intermediate rounding step matches.
    - the sign test (> 0), the bit weights (1 << r), and
      sqrt-of-self-fold for the norm are single IEEE ops, identical in
      both forms. Parity is pinned by
      tests/test_round15_opt.py::test_banded_sigs_arrow_matches_hof
      and by the DuckDB oracle hashes of every consumer (d10/d16/…).

    Why: the HOF lambdas evaluate INTERPRETED, per element, per plane
    — at the 24-plane cap that is ~3,000 interpreted lambda steps per
    corpus row (r14 measured two in-plan rewrites slower: literal
    chains fall out of codegen, layout changes don't touch the fold).
    This moves the fold to vectorized native code at a cost of one
    narrow (id, vec) Arrow round trip — §4.2's prescription. Heavy
    setup (the plane matrix) is built once per task before the batch
    loop (§4.5).

    Precondition: every vector is non-null, finite and ``dim`` long.
    A null or non-finite (NaN, ±inf, null element) vector raises
    ValueError naming the first offending ids, as a ragged one does;
    a sign bit of NaN has no meaning, so no bucket is made up for it.
    ``vid`` and ``vec`` keep their input types (``kept_fields``), so
    an ``int`` id stays ``int`` and ``array<double>`` stays double."""
    rows = [
        [float(v) for v in hyperplane(bnd * MAX_PLANES + r, dim)]
        for bnd in range(num_bands)
        for r in range(planes)
    ]

    def fn(it):
        import numpy as np

        pm = np.asarray(rows, dtype=np.float64)  # (num_bands*planes, dim)
        weights = (1 << np.arange(planes, dtype=np.int64))
        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            null = pdf["vec"].isna().to_numpy()
            if null.any():
                raise ValueError(
                    f"banded_lsh_sigs needs non-null vectors; first null "
                    f"ids: {pdf['vid'][null].tolist()[:5]}"
                )
            v = np.asarray(
                [np.asarray(x, dtype=np.float64) for x in pdf["vec"]],
                dtype=np.float64,
            )
            if v.ndim != 2 or v.shape[1] != pm.shape[1]:
                raise ValueError(
                    f"banded_lsh_sigs needs fixed-dim "
                    f"{pm.shape[1]} vectors, got shape {v.shape}"
                )
            bad = ~np.isfinite(v).all(axis=1)
            if bad.any():
                raise ValueError(
                    f"banded_lsh_sigs needs finite vectors; first ids with "
                    f"NaN, inf or null elements: {pdf['vid'][bad].tolist()[:5]}"
                )
            # strict left-fold per plane: cumsum's last element
            s = np.empty((n, pm.shape[0]), dtype=np.float64)
            for j in range(pm.shape[0]):
                s[:, j] = np.cumsum(v * pm[j], axis=1)[:, -1]
            bits = (s > 0).astype(np.int64).reshape(n, len(rows) // planes, planes)
            buckets = (bits * weights).sum(axis=2).astype(np.int32)
            nrm = np.sqrt(np.cumsum(v * v, axis=1)[:, -1])
            out = pdf[["vid", "vec"]].copy()
            out["nrm"] = nrm
            out["buckets"] = list(buckets)
            yield out

    sel = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    base = sel.mapInPandas(
        fn,
        StructType(
            kept_fields(sel, ["vid", "vec"])
            + [
                StructField("nrm", DoubleType()),
                StructField("buckets", ArrayType(IntegerType())),
            ]
        ),
    )
    return base.select(
        "vid", "vec", "nrm", F.posexplode("buckets").alias("band", "bucket")
    )


def banded_lsh_sigs(
    df: DataFrame,
    count_ref: DataFrame,
    num_bands: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int | None = None,
) -> DataFrame:
    """Banded adaptive sign-LSH signatures: one (vid, vec, band,
    bucket) row per input row per band.

    ``count_ref`` supplies the corpus whose row count sizes the plane
    count — pass the CORPUS even when ``df`` is a query subset, so both
    sides bucket identically. Callers invoking this twice per plan
    (query side + corpus side, e.g. ``lsh_topk``) should count once and
    pass ``planes`` explicitly so the eager count action runs once per
    invocation, not per call. The count is ONE eager driver-side action
    (a parquet metadata count — cheap at any scale) so the signature
    expression contains exactly the needed plane dots and nothing else:
    a lazy masked form (compute MAX_PLANES dots, gate on a broadcast
    count) pays the worst-case expression cost at every corpus size,
    and sign-dot folds evaluate as interpreted HOFs, so dead planes are
    NOT free — measured 4.8× slower end-to-end at sf0.1. The DuckDB
    twin derives the identical plane count from ``COUNT(*)`` with the
    same integer comparisons, so buckets still bit-match. Band b draws
    its planes from hyperplane(b·MAX_PLANES + r); band 0 reproduces the
    historical fixed-plane buckets whenever the count lands on
    MIN_PLANES. ``num_bands`` defaults to adaptive_bands(planes) so
    recall co-scales with the plane count (see adaptive_bands).

    The sign folds run in one vectorized Arrow stage
    (``_banded_sigs_arrow``): as interpreted HOFs they were the d10
    slot's dominant cost, ~3,000 interpreted lambda steps per corpus
    row at the 24-plane cap. ``nrm`` rides along so downstream verify
    joins score pairs with one dot fold (|v| computed once per input
    row, BEFORE the per-band explode fans it out)."""
    if planes is None:
        planes = adaptive_planes(count_ref.count())
    if num_bands is None:
        num_bands = adaptive_bands(planes)
    return _banded_sigs_arrow(df, num_bands, planes, dim, id_col, vec_col)


def banded_lsh_sigs_sql(dim: int = 64) -> str:
    """WITH-clause fragments (stats → pl → ex → dots → buck) computing
    the banded adaptive sign-LSH signatures over ``embeddings`` —
    the DuckDB twin of ``banded_lsh_sigs``.

    ``planes`` comes from the corpus count with the same pure-integer
    comparisons the Spark plan uses (``ceil(n/T) > 2^p ⟺ n > T·2^p``),
    and ``nbands`` from the planes with the same integer formula as
    ``adaptive_bands`` (``GREATEST(2, (planes + 2) // 3)``)
    so both engines derive identical plane AND band counts at ANY
    scale factor; band b's plane r is hyperplane(b·MAX_PLANES + r) on
    both sides. All adaptive_bands(MAX_PLANES) possible bands are
    emitted, each guarded by ``b < nbands`` — inactive bands produce no
    rows. ``buck`` has one (vec_id, band, bucket) row per active
    band."""
    maxb = adaptive_bands(MAX_PLANES)
    plane_lits = [
        "[" + ", ".join(f"{float(v)}" for v in hyperplane(j, dim)) + "]"
        for j in range(maxb * MAX_PLANES)
    ]
    dot_terms = ",\n                   ".join(
        f"SUM(CAST(x AS DOUBLE) * ({plane_lits[j]})[i]) AS d{j}"
        for j in range(maxb * MAX_PLANES)
    )
    planes_expr = f"{MIN_PLANES} + " + " + ".join(
        f"(CASE WHEN n_vec > {TARGET_BUCKET_ROWS << p} THEN 1 ELSE 0 END)"
        for p in range(MIN_PLANES, MAX_PLANES)
    )
    band_selects = []
    for b in range(maxb):
        bucket_expr = " + ".join(
            f"(CASE WHEN {r} < planes AND d{b * MAX_PLANES + r} > 0 THEN {1 << r} ELSE 0 END)"
            for r in range(MAX_PLANES)
        )
        band_selects.append(
            f"SELECT vec_id, {b} AS band, CAST({bucket_expr} AS INT) AS bucket"
            f" FROM dots, pl WHERE {b} < nbands"
        )
    buck = "\n      UNION ALL\n      ".join(band_selects)
    return f"""stats AS (SELECT COUNT(*) AS n_vec FROM embeddings),
    pl AS (SELECT planes, GREATEST({NUM_BANDS}, (planes + {BAND_PLANES - 1}) // {BAND_PLANES}) AS nbands
           FROM (SELECT {planes_expr} AS planes FROM stats)),
    ex AS (SELECT vec_id, unnest(embedding) AS x,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings),
    dots AS (SELECT vec_id, {dot_terms} FROM ex GROUP BY vec_id),
    buck AS ({buck})"""


def cosine_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.99,
    num_bands: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, banded-LSH-blocked.

    Near-identical vectors share every sign bit with high probability,
    so candidates are pairs colliding in ANY band's adaptive bucket
    (equi-join on (band, bucket) — corpus-linear shuffle, bucket count
    grows with N), deduped across bands, then verified with exact
    cosine ≥ ``threshold``. Returns (vec_a, vec_b, score), a < b.
    The cross-band dedup aggregates MAX(score) over identical values,
    so only scalars shuffle (never the vectors)."""
    from data_engineer_project_spark.operators.dedup import (
        skew_guarded_self_pairs,
    )

    sigs = banded_lsh_sigs(corpus, corpus, num_bands, dim, id_col, vec_col)
    # skew-guarded bucket self-join: a degenerate embedding mass (many
    # near-identical vectors sharing every sign bit) concentrates one
    # (band, bucket) key; the guard grids it with the pair set
    # unchanged (hot buckets replicate their vectors S ways — hot-only)
    pairs = skew_guarded_self_pairs(
        sigs, ["band", "bucket"], "vid", carry=("vec", "nrm"),
        consumer="sign_lsh_pairs",
    )
    scored = pairs.select(
        "doc_a",
        "doc_b",
        (
            dot(F.col("vec_a"), F.col("vec_b"))
            / (F.col("nrm_a") * F.col("nrm_b"))
        ).alias("score"),
    )
    return (
        scored.select(
            F.col("doc_a").alias("vec_a"),
            F.col("doc_b").alias("vec_b"),
            "score",
        )
        .groupBy("vec_a", "vec_b")
        .agg(F.max("score").alias("score"))
        .filter(F.col("score") >= threshold)
    )


def ivf_assign_n(
    vectors: DataFrame,
    centroids: DataFrame,
    n_nearest: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_rank: bool = False,
) -> DataFrame:
    """Attach each vector's ``n_nearest`` centroids by cosine (ties →
    lowest centroid id); one output row per (vector, probed cell).
    Centroids broadcast; corpus never shuffles until the final
    per-vector rank window on its own id. ``keep_rank`` adds the
    1-based ``probe_rank`` column so an nprobe SWEEP (d82) can derive
    every narrower probe from one widest assignment."""
    # Hoist the norms out of the pair loop: cosine(a, b) recomputes
    # sqrt(dot(a,a)) and sqrt(dot(b,b)) per PAIR, i.e. 3 array folds ×
    # n_centroids per vector. Computing |q| once per vector (before the
    # join fans it out) and |c| once per centroid (on the broadcast
    # side) leaves one fold per pair — ~3× less fold work, and
    # BIT-IDENTICAL: the final expression is still
    # dot/(sqrt(aa)·sqrt(bb)), the exact op sequence the oracle runs.
    c = centroids.select(
        F.col("cid"), F.col("cvec"), norm(F.col("cvec")).alias("cnrm")
    )
    scored = vectors.select(
        F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("qnrm")
    ).crossJoin(F.broadcast(c)).select(
        id_col,
        vec_col,
        "cid",
        (
            dot(F.col(vec_col), F.col("cvec"))
            / (F.col("qnrm") * F.col("cnrm"))
        ).alias("csim"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("csim"), F.asc("cid"))
    ranked = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= n_nearest
    )
    if keep_rank:
        return ranked.select(
            id_col, vec_col, "cid", F.col("rn").alias("probe_rank")
        )
    return ranked.select(id_col, vec_col, "cid")


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its single nearest centroid (the corpus
    partitioning; queries probe wider via ``ivf_assign_n``)."""
    return ivf_assign_n(vectors, centroids, 1, id_col, vec_col)


def nearest_cells_sql(name: str, scores: str, n: int) -> str:
    """DuckDB twin of ``ivf_assign_n``: CTE ``{name}`` (vec_id, cid,
    rn) holding each vector's ``n`` nearest cells, by ``score`` desc
    with ties to the lowest cid; ``rn`` is the 1-based probe rank.
    ``scores`` is a ``cosine_sql`` CTE keyed (vec_id, cid), e.g. the
    final assignment step ``apd{iters}`` of ``kmeans_chain``."""
    return f"""{name} AS (SELECT vec_id, cid, rn FROM (
              SELECT vec_id, cid,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY score DESC, cid) AS rn
              FROM {scores}) WHERE rn <= {n})"""


# Centroid-update quantization: floor(x · 2^20) is exact in double
# (power-of-two scaling) and identical in the DuckDB twin, so the
# per-coordinate sums are exact integers — order-independent under any
# partitioning, unlike a double/float mean.
KMEANS_QUANT = 1 << 20

# IVF sizing: the classical IVF operating point is ~sqrt(N) cells —
# per-query cost is then nprobe·N/cells ≈ nprobe·sqrt(N) candidate
# scans plus a cells-sized centroid broadcast. Powers of two keep the
# formula in pure integer comparisons (2^k in [sqrt(N), 2·sqrt(N)) ⟺
# 4^(k-1) < N ≤ 4^k ⟺ count the j with N > 4^j), so the DuckDB twin
# derives the identical count from COUNT(*).
MIN_CENTROID_BITS = 3   # 8-cell floor keeps tiny/test corpora sane
MAX_CENTROID_BITS = 15  # 32768-cell cap: centroid broadcast stays small


def adaptive_centroids(n: int) -> int:
    """Centroid count for an ``n``-row corpus: 2^k with k = clamp(
    ceil(log4(n)), MIN_CENTROID_BITS, MAX_CENTROID_BITS) — the ~sqrt(N)
    IVF cell count, from integer comparisons only (``n > 4^j``)."""
    return 1 << (
        MIN_CENTROID_BITS
        + sum(
            1
            for j in range(MIN_CENTROID_BITS, MAX_CENTROID_BITS)
            if n > (1 << (2 * j))
        )
    )


def kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int | None = None,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Spherical k-means centroids, DataFrame ops only — (cid, cvec).

    Seeds are the lowest-id rows (deterministic). Each iteration
    assigns every vector to its nearest centroid by cosine (ties →
    lowest cid) and replaces each centroid with the integer-quantized
    coordinate SUM of its members: cosine is scale-invariant, so the
    un-normalized sum IS the spherical-k-means mean direction, and
    quantized integer sums are exact and engine-portable where a
    floating mean would drift with aggregation order. A centroid that
    loses all members drops out (its cell is empty — nothing to probe).

    Scale shape: assignment is a broadcast of ≤n_centroids rows against
    a linear corpus scan; the update shuffles (cid, pos) pairs into
    n_centroids × dim groups — both corpus-linear, no all-pairs stage.
    ``n_centroids`` defaults to adaptive_centroids(corpus count) —
    ~sqrt(N) cells, the standard IVF operating point — via one eager
    metadata count (the adaptive_planes pattern; the oracle twin
    derives the identical count from COUNT(*)).
    """
    if n_centroids is None:
        n_centroids = adaptive_centroids(corpus.count())
    cents = corpus.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
    )
    for _ in range(iters):
        assigned = ivf_assign(corpus, cents, id_col, vec_col)
        ex = assigned.select(
            "cid", F.posexplode(F.col(vec_col)).alias("pos", "x")
        )
        sums = ex.groupBy("cid", "pos").agg(
            F.sum(
                F.floor(F.col("x").cast("double") * F.lit(float(KMEANS_QUANT))).cast(
                    "long"
                )
            ).alias("s")
        )
        cents = sums.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s"))),
                lambda st: st["s"].cast("double"),
            ).alias("cvec")
        )
        # Materialize the centroid table between iterations — the MLlib
        # k-means shape: centroids are (bounded) driver state, the
        # corpus never leaves the executors. Without this, iteration
        # i+1's plan nests every prior assign/update stage (the
        # unrolled-CTE plan compiles and re-executes per consumer);
        # with it, the final assignment is corpus × a literal centroid
        # list. Bounded by design: ≤ 2^MAX_CENTROID_BITS rows × dim
        # doubles (a few MB at 32768 cells × 64 dims). Bit-exact: the
        # quantized integer sums round-trip through doubles losslessly.
        cents = corpus.sparkSession.createDataFrame(
            [(r["cid"], list(r["cvec"])) for r in cents.collect()],
            "cid bigint, cvec array<double>",
        )
    return cents


def kmeans_chain(
    iters: int = 2,
    src: str = "embeddings",
    prefix: str = "",
    n_centroids: int | None = None,
) -> str:
    """CTE chain (no ``WITH`` keyword) for the DuckDB twin of
    ``kmeans_centroids`` + final assignment: seed → assign →
    integer-quantized-sum update, unrolled (c0, apd0, asg0, c1, …),
    ending in ``{prefix}asg(vec_id, cid)``. Each assign step scores
    every (vector, centroid) pair with ``cosine_sql`` into
    ``{prefix}apd{i}`` (vec_id, cid, score) and keeps the nearest cell
    with ``nearest_cells_sql``; a query-side probe over the final
    ``apd{iters}`` reuses those scores. floor(x·2^20) sums make the
    centroid update exact integers on both engines, so assignments
    bit-match. The centroid count is derived from COUNT(*) with the
    same pure-integer doubling factors as ``adaptive_centroids``
    (~sqrt(N) cells), so both engines seed identical cells at ANY
    scale factor — unless a fixed ``n_centroids`` is passed (the
    PQ-codebook case, where the code count is the format, not a
    function of corpus size). ``src`` is any CTE shaped (vec_id,
    embedding); ``src``/``prefix`` give the per-subspace PQ chains
    (operators/pq.py)."""
    quant = KMEANS_QUANT
    p = prefix

    def assign_ctes(i: int, cents: str) -> str:
        return f"""{p}ap{i} AS (SELECT e.vec_id, c.cid, e.embedding AS qv, c.cvec AS cv
             FROM {src} e, {cents} c),
    {cosine_sql(f"{p}apd{i}", f"{p}ap{i}", ("vec_id", "cid"))},
    {nearest_cells_sql(f"{p}asg{i}", f"{p}apd{i}", 1)}"""

    if n_centroids is None:
        n_cent_sql = f"{1 << MIN_CENTROID_BITS} " + " ".join(
            f"* (CASE WHEN n_vec > {1 << (2 * j)} THEN 2 ELSE 1 END)"
            for j in range(MIN_CENTROID_BITS, MAX_CENTROID_BITS)
        )
        ctes = [
            f"""{p}cn AS (SELECT {n_cent_sql} AS n_cent
              FROM (SELECT COUNT(*) AS n_vec FROM {src})),
    {p}c0 AS (SELECT vec_id AS cid, embedding AS cvec FROM {src}, {p}cn
              WHERE vec_id < n_cent)"""
        ]
    else:
        ctes = [
            f"""{p}c0 AS (SELECT vec_id AS cid, embedding AS cvec FROM {src}
              WHERE vec_id < {n_centroids})"""
        ]
    for i in range(iters):
        ctes.append(assign_ctes(i, f"{p}c{i}"))
        ctes.append(
            f"""{p}cs{i + 1} AS (SELECT a.cid, ex.pos,
                   SUM(CAST(floor(CAST(ex.x AS DOUBLE) * {quant}) AS BIGINT)) AS s
             FROM (SELECT vec_id, unnest(embedding) AS x,
                          generate_subscripts(embedding, 1) AS pos
                   FROM {src}) ex
             JOIN {p}asg{i} a ON a.vec_id = ex.vec_id
             GROUP BY a.cid, ex.pos),
    {p}c{i + 1} AS (SELECT cid, list(CAST(s AS DOUBLE) ORDER BY pos) AS cvec
             FROM {p}cs{i + 1} GROUP BY cid)"""
        )
    ctes.append(assign_ctes(iters, f"{p}c{iters}"))
    ctes.append(f"{p}asg AS (SELECT vec_id, cid FROM {p}asg{iters})")
    return ",\n    ".join(ctes)


# Version constant folded into every artifact-store key: bump whenever
# kmeans_centroids / KMEANS_QUANT / the PQ trainer change semantics, so
# a code change can never silently reuse an artifact trained by the
# previous algorithm under the same corpus fingerprint.
STORE_VERSION = 2

# Root of every trained-artifact and state store (the repo's
# ``spark-warehouse/``, beside the package).
WAREHOUSE = pathlib.Path(__file__).resolve().parents[2] / "spark-warehouse"


def corpus_fingerprint(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> tuple[int, int, int]:
    """(row count, id checksum, full-vector value checksum) for keying
    trained artifacts. The value checksum covers EVERY component,
    position-weighted — each component quantized to an integer and
    multiplied by its 1-based position, summed per row and across rows.
    Integer addition commutes, so the sum is partition-invariant; the
    position weight distinguishes permuted vectors. Corpora differing
    in any coordinate (not just the first) now get different keys.
    Magnitude bound: |comp| ≲ 2^21 after quantization, ×64 positions,
    ×~10^7 rows ≈ 2^48 — safely inside int64."""
    fp = corpus.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(id_col)).alias("s"),
        F.sum(
            F.expr(
                f"aggregate(zip_with({vec_col}, sequence(1, size({vec_col})),"
                f" (x, i) -> CAST(floor(CAST(x AS DOUBLE)"
                f" * {float(KMEANS_QUANT)}) AS BIGINT) * CAST(i AS BIGINT)),"
                " CAST(0 AS BIGINT), (a, e) -> a + e)"
            )
        ).alias("v"),
    ).collect()[0]
    return int(fp["n"]), int(fp["s"]), int(fp["v"])


def plan_identity(df: DataFrame) -> str | None:
    """Cross-session-stable identity of a frame's DERIVATION: md5 over
    the analyzed plan's CANONICALIZED string (expression ids
    normalized to positional ``none#N``, so the same filter/projection
    structure prints identically in every session) plus the schema
    JSON (full column names + types — canonicalized ``toString``
    truncates long field lists under ``spark.debug.maxToStringFields``,
    and the schema term keeps two wide projections differing only in
    the truncated tail from colliding).

    Round 12 replaces ``semanticHash()`` here: that hash is NOT stable
    across JVMs (measured: the same plan hashed 215146996 in one
    process and -1484412745 in the next), so a store keyed by it was
    silently session-local — every new session retrained the standing
    artifact. The canonicalized string is measured byte-identical
    across processes. Driver-side only, zero Spark jobs.

    The plan string is rendered via ``treeString`` with ``maxFields``
    passed EXPLICITLY (round 13): at the 25-field default Spark
    truncates long expression lists to "... N more fields", so two
    derivations differing only past the 25th element of an ``isin``
    list would share a key — for a trained-artifact store that is a
    correctness bug (round-12 review finding; pinned by test). Round
    12 raised ``spark.sql.debug.maxToStringFields`` around a plain
    ``toString()``; measured round 13, that conf NEVER reaches a
    render issued from a secondary Python thread (each Python thread
    rides its own py4j JVM thread, whose ``SQLConf.get`` does not see
    the session conf — the worker-thread render came back truncated,
    553 vs 816 chars, a silent key collision risk), and it also raced
    concurrent renders on the session-global conf (r12 advice). The
    explicit-argument call ``treeString(verbose=true, addSuffix=false,
    maxFields, printOperatorId=false, printOutputColumns=false)`` is
    measured byte-identical to the conf-raised ``toString()`` from the
    main AND worker threads, so existing store keys are unchanged; it
    mutates nothing, so no lock is needed. A JVM without that
    signature gets None (callers then key by content fingerprint):
    the conf-raised render it replaced truncates on worker threads."""
    import hashlib

    try:
        canon = (
            df._jdf.queryExecution()
            .analyzed()
            .canonicalized()
            .treeString(True, False, 1000000, False, False)
        )
        return hashlib.md5(
            canon.encode() + b"\x00" + df.schema.json().encode()
        ).hexdigest()[:20]
    except Exception:
        return None


def source_manifest_key(df: DataFrame) -> str | None:
    """Identity of a file-backed frame WITHOUT scanning its data: an
    md5 over (a) the backing files' sorted (uri, size, mtime_ns)
    manifest and (b) the plan identity (``plan_identity`` — the
    canonicalized-plan hash) — (b) keeps two DIFFERENT derivations
    over the same files (another filter, another projection) from
    colliding, which a files-only key would allow and which, for a
    trained-artifact store, would be a correctness bug rather than a
    perf one. Costs one driver-side listing, zero Spark jobs. Returns
    None for frames with no backing files (callers fall back to their
    content fingerprint). A rewritten file (new size or mtime) changes
    the key and forces a clean retrain — the standard manifest-cache
    contract."""
    import hashlib
    import os
    from urllib.parse import unquote, urlparse

    try:
        files = sorted(df.inputFiles())
        if not files:
            return None
        h = hashlib.md5()
        for uri in files:
            parsed = urlparse(uri)
            path = unquote(parsed.path) if parsed.scheme else uri
            try:
                st = os.stat(path)
                h.update(f"{uri}|{st.st_size}|{st.st_mtime_ns}\n".encode())
            except OSError:
                h.update(f"{uri}|?\n".encode())
        pid = plan_identity(df)
        if pid is None:
            return None
        h.update(pid.encode())
        return "f" + h.hexdigest()[:20]
    except Exception:
        return None


def write_store_atomic(df: DataFrame, store, partition_by=None) -> None:
    """Write ``df`` as the artifact at directory ``store`` atomically:
    write to a sibling temp dir, then rename into place. Two
    concurrent first callers race only on the rename — the loser's
    os.rename fails (target exists) and its temp dir is discarded, so
    readers never observe a half-written store. ``partition_by``
    (column list) writes a hive-partitioned layout — the rename is
    equally atomic because the whole directory tree moves at once."""
    import os
    import shutil
    import uuid

    store = str(store)
    tmp = f"{store}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    # Pin static overwrite for the temp write: the session may carry
    # partitionOverwriteMode=dynamic (streaming sinks set it), and a
    # dynamic partitioned overwrite commits through a staging dir
    # WITHOUT the _SUCCESS marker every store reader keys on. The
    # per-write option overrides the session conf; tmp is fresh, so
    # static semantics are identical here.
    writer = df.write.mode("overwrite").option("partitionOverwriteMode", "static")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    # Belt and braces: the marker IS the store machinery's commit
    # record — if a committer variant skipped it, install it now,
    # before the publish rename.
    marker = os.path.join(tmp, "_SUCCESS")
    if not os.path.exists(marker):
        with open(marker, "w"):
            pass
    try:
        os.rename(tmp, store)
        return
    except OSError:
        pass
    # Lost the race (or a stale store dir exists): if a complete
    # artifact is in place, keep it.
    if os.path.exists(os.path.join(store, "_SUCCESS")):
        shutil.rmtree(tmp, ignore_errors=True)
        return
    # Stale half-written store. Sweep it aside with an ATOMIC rename —
    # among concurrent repairers exactly one wins this rename, so no
    # repairer can rmtree another's just-installed good store (the
    # failure mode of rmtree(store)-then-rename).
    trash = f"{store}.stale-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    try:
        os.rename(store, trash)
    except OSError:
        pass  # another repairer already swept it
    else:
        shutil.rmtree(trash, ignore_errors=True)
    try:
        os.rename(tmp, store)
    except OSError:
        # a concurrent repairer installed first; defer to a complete
        # artifact, otherwise surface the inconsistency loudly
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(os.path.join(store, "_SUCCESS")):
            raise


# Entries younger than this are never swept: a reader that just
# _SUCCESS-checked a store reads it lazily at a later action, so
# recently-touched artifacts are presumed in flight. Shared by
# prune_store and sweep_stores so every artifact family ages on the
# same clock.
PRUNE_MIN_AGE_S = 3600.0

# Managed shingle tables (operators/dedup.py shingle_table) must be
# named with this prefix to be covered by sweep_stores' keep-latest
# contract.
SHINGLE_TABLE_PREFIX = "shingle"


def sweep_stores(spark=None, warehouse=None, keep: int = 8) -> None:
    """THE warehouse lifecycle contract (round-9 verdict item): one
    keep-latest-``keep`` sweep covering every on-disk artifact family
    a long-lived session accretes —

    1. ``*_store`` directories (centroid_store, pq_codebook_store,
       roundtrip_store, and any future family following the naming
       convention): each holds one subdirectory per (corpus, config)
       fingerprint; each is pruned to the ``keep`` newest
       (prune_store's rules, including the in-flight min-age guard).
    2. ``shingle*`` managed tables (dedup.py shingle_table): whole
       tables keep-latest-``keep`` by directory mtime. When ``spark``
       is provided they are dropped through the catalog (metastore and
       disk stay consistent); otherwise the directories are removed
       and the catalog lazily notices on next overwrite.

    Writers still prune their own root at write time (ivf trainers,
    d95) — this sweep is the harness-level backstop bench.py runs at
    session start so artifact growth is bounded per FAMILY, not per
    process lifetime. At cluster scale the same contract is a
    catalog-managed retention policy, not a directory walk."""
    import shutil
    import time

    root = pathlib.Path(warehouse) if warehouse else WAREHOUSE
    if not root.is_dir():
        return
    shingle_dirs = []
    for child in sorted(root.iterdir()):
        if not child.is_dir():
            continue
        if child.name.endswith("_store"):
            prune_store(child, keep)
        elif child.name.startswith(SHINGLE_TABLE_PREFIX):
            shingle_dirs.append(child)
    shingle_dirs.sort(key=lambda p: p.stat().st_mtime)
    now = time.time()
    for p in shingle_dirs[: max(0, len(shingle_dirs) - keep)]:
        if now - p.stat().st_mtime < PRUNE_MIN_AGE_S:
            continue
        if spark is not None:
            # backtick-escape the identifier: a directory name carrying
            # a backtick must not break (or inject into) the statement.
            ident = p.name.replace("`", "``")
            spark.sql(f"DROP TABLE IF EXISTS `{ident}`")
        if p.exists():
            shutil.rmtree(p, ignore_errors=True)
    if spark is not None and warehouse is None:
        # reconcile dangling catalog entries (round-10 advice): a
        # PREVIOUS no-spark sweep removes directories but cannot touch
        # the metastore, leaving entries whose reads fail confusingly
        # until the next overwrite. With a session in hand, drop any
        # shingle-prefixed catalog entry whose directory is gone. Only
        # on the DEFAULT root — a caller-supplied warehouse (tests)
        # need not be the session's, and absence there proves nothing.
        try:
            for tbl in spark.catalog.listTables():
                name = tbl.name
                if name.startswith(SHINGLE_TABLE_PREFIX) and not (
                    root / name
                ).exists():
                    ident = name.replace("`", "``")
                    spark.sql(f"DROP TABLE IF EXISTS `{ident}`")
        except Exception:
            pass  # reconciliation is best-effort session hygiene


def prune_store(root, keep: int = 8) -> None:
    """Keep-latest-N sweep for an artifact store directory: each
    (corpus, config) fingerprint is one subdirectory; long-lived
    sessions (bench loops over many synthetic corpora) would otherwise
    accrete unboundedly. Oldest-mtime entries beyond ``keep`` are
    removed — but never entries younger than ``min_age_s``: a reader
    that just _SUCCESS-checked a store reads it lazily at a later
    action, so recently-touched artifacts are presumed in flight
    (concurrent writers' temp dirs are likewise younger than anything
    they could evict). Ancient stores being read concurrently with a
    9th new corpus's training remain a documented single-session
    assumption — the production form is a catalog-managed table with
    retention, not a directory sweep."""
    import shutil
    import time

    min_age_s = PRUNE_MIN_AGE_S
    root = pathlib.Path(root)
    if not root.is_dir():
        return
    now = time.time()
    entries = sorted(
        (p for p in root.iterdir() if p.is_dir()),
        key=lambda p: p.stat().st_mtime,
    )
    for p in entries[: max(0, len(entries) - keep)]:
        if now - p.stat().st_mtime < min_age_s:
            continue
        shutil.rmtree(p, ignore_errors=True)


def materialized_centroids(
    corpus: DataFrame,
    n_centroids: int | None = None,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The coarse quantizer as a MATERIALIZED warehouse table.

    Training an IVF quantizer is an OFFLINE job; queries that need its
    centroids (cell assignment — s17's stream intake, d58's ADC coarse
    stage, ivf_topk's probe) should read the trained artifact, not
    re-run k-means per invocation. First call per (corpus fingerprint,
    config) trains via ``kmeans_centroids`` and writes the ≤ 2^15-row
    (cid, cvec) table to the warehouse; every later call — bench
    loops, repeated streaming-query starts, the serving path — is a
    plain parquet FileScan of a few-MB table. The fingerprint (row
    count + id checksum, one column-pruned scan) retrains exactly when
    the corpus or training config changes, so results stay bit-equal
    to inline training: the k-means is deterministic and the quantized
    integer-sum centroids round-trip through parquet doubles
    losslessly. At cluster scale this is the centroid TABLE the index
    pipeline maintains (refreshed by the nightly training job); this
    helper is that contract in miniature.
    """
    spark = corpus.sparkSession
    # Store identity (round 11, the d101 store-keying fix applied to
    # the centroid store): prefer the METADATA-ONLY manifest + plan
    # key (source_manifest_key — no corpus scan at all; at 100 TB the
    # old full-vector checksum scan dominated the FileScan this helper
    # exists to enable). Frames with no file lineage keep the content
    # fingerprint: row count + id checksum + a position-weighted value
    # checksum over EVERY component, so corpora differing in any
    # coordinate — or an algorithm change — get a fresh key instead of
    # silently sharing a stale quantizer.
    mk = source_manifest_key(corpus)
    if mk is not None:
        n = corpus.count()  # parquet-footer metadata, not a data scan
        ident = f"{mk}_n{n}"
    else:
        n, s, v = corpus_fingerprint(corpus, id_col, vec_col)
        ident = f"n{n}_s{s}_v{v}"
    if n_centroids is None:
        n_centroids = adaptive_centroids(n)
    key = f"a{STORE_VERSION}_{ident}_c{n_centroids}_i{iters}"
    root = WAREHOUSE / "centroid_store"
    store = root / key
    if not (store / "_SUCCESS").exists():
        write_store_atomic(
            kmeans_centroids(corpus, n_centroids, iters, id_col, vec_col),
            store,
        )
        prune_store(root)
    return spark.read.parquet(str(store))


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    n_centroids: int | None = None,
    iters: int = 2,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize the corpus into
    ``n_centroids`` k-means cells (default: adaptive_centroids — the
    ~sqrt(N) cell count, so per-query cost is ~nprobe·sqrt(N)); each
    query searches its ``nprobe`` nearest cells (the recall/cost knob —
    the corpus stays in one cell, so a (query, neighbor) candidate
    arises at most once and no dedup is needed). Cells shuffle once on
    cid; per-query search cost is nprobe × corpus_size/n_centroids,
    not corpus_size.
    """
    if n_centroids is None:
        n_centroids = adaptive_centroids(corpus.count())
    cents = materialized_centroids(corpus, n_centroids, iters, id_col, vec_col)
    c_assigned = ivf_assign(corpus, cents, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec2"),
        norm(F.col(vec_col)).alias("cnrm2"),
        "cid",
    )
    q_assigned = ivf_assign_n(queries, cents, nprobe, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("qnrm2"),
        "cid",
    )
    scored = (
        c_assigned.join(F.broadcast(q_assigned), "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.col("cid"),
            (
                dot(F.col("qvec"), F.col("cvec2"))
                / (F.col("qnrm2") * F.col("cnrm2"))
            ).alias("score"),
        )
    )
    return grouped_topk(
        scored.select("query_id", "neighbor_id", "cid", "score"),
        ["query_id"],
        [F.desc("score"), F.asc("neighbor_id")],
        k,
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    num_bands: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN via banded adaptive sign-LSH: candidates share the query's
    bucket in ANY band; exact cosine + cross-band dedup + top-k.
    Returns (query_id, neighbor_id, score). Plane count scales with
    the corpus and the band count with the planes (see module
    docstring), so per-query candidate work stays
    ~TARGET_BUCKET_ROWS·bands at any corpus size while recall holds.
    The corpus count — the one eager action — runs ONCE here and the
    resulting plane count is passed to both signature builds."""
    planes = adaptive_planes(corpus.count())
    q = banded_lsh_sigs(
        queries, corpus, num_bands, dim, id_col, vec_col, planes=planes
    ).select(
        F.col("vid").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qnrm"),
        "band",
        "bucket",
    )
    # NOT fanned out (A/B-measured r14): fanout_small(corpus) here
    # read 2.40/2.51 s vs 2.17 s without, in matched in-group runs —
    # the sig fold + probe work this would parallelize is small at
    # bench scale, and the slot's real cost is interpreted-HOF
    # evaluation (solo-alone d10 runs 7.4 s vs 2.5 s after sibling
    # queries JIT-warm the HOF machinery). At 100 TB the guard would
    # be a no-op anyway (thousands of splits).
    c = banded_lsh_sigs(
        corpus, corpus, num_bands, dim, id_col, vec_col, planes=planes
    ).select(
        F.col("vid").alias("neighbor_id"),
        F.col("vec").alias("cvec"),
        F.col("nrm").alias("cnrm"),
        "band",
        "bucket",
    )
    scored = (
        c.join(F.broadcast(q), ["band", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", panel_score().alias("score"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("score").alias("score"))
    )
    return grouped_topk(
        scored.select("query_id", "neighbor_id", "score"),
        ["query_id"],
        [F.desc("score"), F.asc("neighbor_id")],
        k,
    )
