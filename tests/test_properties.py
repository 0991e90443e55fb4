"""Property-based invariants (hypothesis) on generated corpora — the
guarantees the oracle gate can't state: dedup keeps exactly one doc per
distinct text, salted plans are row-identical to unsalted ones, MinHash
candidate recall covers what exact Jaccard finds at high thresholds,
and IVF assignment is total.

Corpora are generated as plain Python rows (deadline disabled; each
example pays Spark job latency, so max_examples stays small)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F

from data_engineer_project_spark.operators import dedup as DD
from data_engineer_project_spark.operators.skew import salted_agg, salted_join

WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]


@st.composite
def corpora(draw):
    n = draw(st.integers(min_value=2, max_value=12))
    docs = []
    for i in range(n):
        n_words = draw(st.integers(min_value=3, max_value=12))
        text = " ".join(
            WORDS[draw(st.integers(min_value=0, max_value=len(WORDS) - 1))]
            for _ in range(n_words)
        )
        docs.append((i, text))
    # force some exact duplicates
    if draw(st.booleans()) and len(docs) >= 2:
        docs[-1] = (docs[-1][0], docs[0][1])
    return docs


_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(docs=corpora())
@_SETTINGS
def test_exact_dedup_keeps_one_per_text(spark, docs):
    df = spark.createDataFrame(docs, "doc_id INT, text STRING")
    kept = DD.exact_dedup_keep_first(df).collect()
    texts = [r.text for r in kept]
    assert len(texts) == len(set(texts))  # one survivor per distinct text
    assert set(texts) == {t for _, t in docs}  # nothing lost
    # survivor is the lowest id of its group
    first = {}
    for i, t in docs:
        first.setdefault(t, i)
    assert {r.doc_id for r in kept} == set(first.values())


@given(docs=corpora())
@_SETTINGS
def test_minhash_finds_exact_duplicates(spark, docs):
    """Identical texts have identical signatures in every band → any
    exact-dup pair with ≥1 shingle MUST surface with jaccard 1.0."""
    df = spark.createDataFrame(docs, "doc_id INT, text STRING")
    dup_pairs = {
        (a, b)
        for i, (a, ta) in enumerate(docs)
        for b, tb in docs[i + 1 :]
        if ta == tb and len(ta.split()) >= 3
    }
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in DD.minhash_lsh_pairs(df, jaccard_threshold=0.99).collect()
    }
    for pair in dup_pairs:
        assert pair in got and got[pair] == pytest.approx(1.0)


@given(
    salts=st.integers(min_value=1, max_value=5),
    seed=st.integers(min_value=0, max_value=10_000),
)
@_SETTINGS
def test_salted_join_row_identical(spark, salts, seed):
    left = spark.range(40).select(
        (F.col("id") % 7).alias("k"), (F.col("id") * seed).alias("v")
    )
    right = spark.range(7).select(F.col("id").alias("k"), (F.col("id") + 100).alias("w"))
    plain = left.join(right, "k").select("k", "v", "w")
    salted = salted_join(left, right, on="k", salts=salts).select("k", "v", "w")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_join_left_identical_and_outer_rejected(spark):
    """how='left' keeps each unmatched large row exactly once (large
    side is not replicated); right/full would duplicate unmatched small
    rows salts× and must raise."""
    left = spark.range(10).select((F.col("id") % 5).alias("k"), F.col("id").alias("v"))
    right = spark.createDataFrame([(0, 100), (1, 101)], "k long, w long")
    plain = left.join(right, "k", "left").select("k", "v", "w")
    salted = salted_join(left, right, on="k", salts=4, how="left").select("k", "v", "w")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
    for bad in ("right", "full", "outer"):
        with pytest.raises(ValueError):
            salted_join(left, right, on="k", how=bad)


@given(salts=st.integers(min_value=1, max_value=6))
@_SETTINGS
def test_salted_agg_equals_direct(spark, salts):
    df = spark.range(100).select((F.col("id") % 3).alias("g"), F.col("id").alias("v"))
    direct = {
        (r.g): (r.n, r.total)
        for r in df.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"))
        .collect()
    }
    salted = {
        (r.g): (r.n, r.total)
        for r in salted_agg(
            df, ["g"], [(F.count(F.lit(1)), F.sum, "n"), (F.sum("v"), F.sum, "total")],
            salts=salts,
        ).collect()
    }
    assert salted == direct


def test_d17_approx_bounds_hold(spark, sf_dir):
    """d17's driver contract pins the bound booleans to TRUE in the
    oracle; this is the same assertion up close, with the bound values
    themselves checked so a loosened constant can't fake a pass."""
    from data_engineer_project_spark.queries import QUERIES

    row = QUERIES["d17_approx_aggregates"].fn(spark, sf_dir).collect()[0]
    assert row.hll_within_bound, "HLL estimate exceeded its error bound"
    assert row.median_within_bound, "approx median off by more than its bound"
    assert row.hll_error_bound == 0.06 and row.median_error_bound == 0.01
    assert row.exact_orders > 0


def test_d25_finds_planted_contamination(spark, monkeypatch, tmp_path):
    """Semantic check for d25 (the oracle only proves engine parity):
    a test-split doc (id 1, md5 bucket 97) sharing its text with a
    train-split doc (id 2, bucket 60) must be reported, and an
    unrelated doc must not. Shingle df stays within the informative
    band (2 <= df <= 50) by keeping the corpus tiny."""
    import pyspark.sql.functions as F

    from data_engineer_project_spark.queries import QUERIES

    contaminated = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, contaminated),          # bucket 97 -> test split
        (2, contaminated),          # bucket 60 -> train split
        (3, "one two three four five six seven eight nine ten"),  # bucket 17
    ]
    docs = spark.createDataFrame(rows, "doc_id INT, text STRING")
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    # d25 only reads documents; reuse the real entry point on the tiny dir
    out = {
        r.test_doc: (r.n_train_matches, r.max_overlap)
        for r in QUERIES["d25_decontamination"].fn(spark, str(tmp_path)).collect()
    }
    assert 1 in out, f"planted contamination not found: {out}"
    n_matches, max_overlap = out[1]
    assert n_matches == 1
    assert max_overlap == 8  # 10 words -> 8 three-gram shingles, all shared
    assert 3 not in out and 2 not in out


def test_connected_components_rejects_string_ids(spark):
    """String node ids would NULL out the decimal convergence checksum
    and silently stop label propagation after one round — the operator
    must refuse them instead."""
    from data_engineer_project_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "doc_a STRING, doc_b STRING"
    )
    with pytest.raises(ValueError, match="integral node ids"):
        connected_components(edges)

    # A mismatched-schema edge list (integral src, string dst) reaches
    # the same checksum NULL-out — both endpoints must be validated.
    mixed = spark.createDataFrame(
        [(1, "b"), (2, "c")], "doc_a BIGINT, doc_b STRING"
    )
    with pytest.raises(ValueError, match="doc_b"):
        connected_components(mixed)


@given(
    n=st.integers(min_value=1, max_value=60),
    k=st.integers(min_value=1, max_value=5),
    parts=st.integers(min_value=1, max_value=7),
)
@_SETTINGS
def test_grouped_topk_equals_window_topk(spark, n, k, parts):
    """Two-phase top-k must be row-identical to the naive per-group
    window form at ANY partitioning (total order: score desc, id asc).
    Scores collide on purpose (id % 9) to exercise tie-breaking."""
    from pyspark.sql import Window
    from data_engineer_project_spark.operators.topk import grouped_topk

    df = (
        spark.range(n)
        .repartition(parts)
        .selectExpr("id % 3 AS g", "CAST(id % 9 AS DOUBLE) AS score", "id")
    )
    order = [F.desc("score"), F.asc("id")]
    w = Window.partitionBy("g").orderBy(*order)
    naive = (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("g", "score", "id")
    )
    fast = grouped_topk(df.select("g", "score", "id"), ["g"], order, k)
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, naive.collect()))


def test_bm25_matches_python_reference_and_plans_topk(spark):
    """BM25 (rational-idf) against a direct Python reference on a tiny
    corpus, and the plan must be TakeOrderedAndProject (no global
    sort) with zero Python stages."""
    from data_engineer_project_spark.operators.retrieval import bm25_topk

    corpus = [
        (1, "join scan join window"),
        (2, "scan scan scan"),
        (3, "window join"),
        (4, "other words entirely here"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id BIGINT, text STRING")
    got = bm25_topk(docs, ["join", "window", "scan"], k=4)

    k1, b = 1.2, 0.75
    toks = {d: t.split(" ") for d, t in corpus}
    n = float(len(corpus))
    avgdl = sum(len(t) for t in toks.values()) / n
    dfs = {
        term: float(sum(1 for t in toks.values() if term in t))
        for term in ["join", "window", "scan"]
    }

    def score(d):
        s = 0.0
        dl = float(len(toks[d]))
        norm = k1 * (1.0 - b + (b * dl) / avgdl)
        for term in ["join", "window", "scan"]:
            tf = float(toks[d].count(term))
            idf = (n - dfs[term] + 0.5) / (dfs[term] + 0.5)
            s = s + idf * ((tf * (k1 + 1.0)) / (tf + norm))
        return s

    want = sorted(((score(d), d) for d, _ in corpus), key=lambda x: (-x[0], x[1]))
    rows = got.collect()
    assert [(r["doc_id"]) for r in rows] == [d for _, d in want]
    for r, (s, _) in zip(rows, want):
        assert r["score"] == s  # bit-exact: same parenthesization

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan

    # partition-invariant bit-exact: all aggregates feeding the score
    # are exact-integer sums, so any partitioning yields the same bits
    repart = bm25_topk(
        spark.createDataFrame(corpus, "doc_id BIGINT, text STRING").repartition(7),
        ["join", "window", "scan"],
        k=4,
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in repart] == [
        (r["doc_id"], r["score"]) for r in rows
    ]


def test_bm25_oracle_sql_escapes_quoted_terms():
    """A term containing a single quote must yield valid DuckDB SQL
    (escaped as '' in the literal), not a syntax error."""
    import duckdb

    from data_engineer_project_spark.operators.retrieval import bm25_oracle_sql

    sql = bm25_oracle_sql(["it's", "o'clock"], k=3)
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM (VALUES "
            "(1, 'when it''s late o''clock strikes'), (2, 'nothing here')"
            ") t(doc_id, text)"
        )
        rows = con.execute(sql).fetchall()
    finally:
        con.close()
    assert rows and rows[0][0] == 1  # the quoted-term doc scores highest


def test_adaptive_planes_tracks_corpus_size():
    """planes = clamp(ceil(log2(ceil(n/target))), 4, 24): constant-16-
    bucket blocking was the one 100x-scale-killer — the plane count
    must grow with the corpus so buckets stay ~target-sized."""
    import math

    from data_engineer_project_spark.operators.similarity import (
        MAX_PLANES,
        MIN_PLANES,
        TARGET_BUCKET_ROWS,
        adaptive_planes,
    )

    assert adaptive_planes(0) == MIN_PLANES
    assert adaptive_planes(500) == MIN_PLANES          # sf0.001/0.01 corpora
    assert adaptive_planes(2000) == 5                  # sf0.1 corpus
    assert adaptive_planes(10**9) == MAX_PLANES        # 100 TB territory
    for n in (1, 63, 64, 65, 1024, 1025, 4097, 10**6, 10**7, 10**12):
        expected = min(
            MAX_PLANES,
            max(MIN_PLANES, math.ceil(math.log2(max(1, math.ceil(n / TARGET_BUCKET_ROWS))))),
        )
        assert adaptive_planes(n) == expected, n


def test_adaptive_centroids_tracks_sqrt_n():
    """IVF cell count = 2^clamp(ceil(log4 n), 3, 15) — the ~sqrt(N)
    operating point, from integer comparisons only, so d14/d37 stop
    being fixture-shaped: per-query cost stays ~nprobe*sqrt(N)."""
    import math

    from data_engineer_project_spark.operators.similarity import (
        MAX_CENTROID_BITS,
        MIN_CENTROID_BITS,
        adaptive_centroids,
    )

    assert adaptive_centroids(0) == 1 << MIN_CENTROID_BITS
    assert adaptive_centroids(500) == 32    # sf0.001/0.01 corpora
    assert adaptive_centroids(2000) == 64   # sf0.1 corpus
    assert adaptive_centroids(10**9) == 1 << MAX_CENTROID_BITS
    for n in (1, 64, 65, 4096, 4097, 10**6, 10**12):
        k = min(
            MAX_CENTROID_BITS,
            max(MIN_CENTROID_BITS, math.ceil(math.log(max(2, n), 4))),
        )
        assert adaptive_centroids(n) == 1 << k, n
        # and 2^k brackets sqrt(n) when unclamped
        if MIN_CENTROID_BITS < k < MAX_CENTROID_BITS:
            assert (1 << k) >= math.sqrt(n) and (1 << k) < 2 * math.sqrt(n)


def test_lsh_candidate_pairs_grow_linearly_not_quadratically(spark):
    """The within-bucket candidate join must be ~corpus-linear: for an
    8x larger random corpus, candidate pairs (sum over band-buckets of
    c*(c-1)/2) must grow far less than the 64x a fixed-bucket scheme
    would produce."""
    import numpy as np

    from data_engineer_project_spark.operators.similarity import (
        TARGET_BUCKET_ROWS,
        adaptive_bands,
        adaptive_planes,
        banded_lsh_sigs,
    )
    from pyspark.sql import functions as F

    def pairs_for(n):
        rng = np.random.default_rng(7)
        vecs = rng.standard_normal((n, 64)).astype("float32")
        df = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(n)],
            "vec_id BIGINT, embedding ARRAY<FLOAT>",
        )
        sigs = banded_lsh_sigs(df, df)
        per_bucket = sigs.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("c"))
        row = per_bucket.agg(
            F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("pairs")
        ).collect()[0]
        return float(row["pairs"])

    n1, n2 = 1024, 8192
    assert adaptive_planes(n2) > adaptive_planes(n1)  # planes actually grew
    p1, p2 = pairs_for(n1), pairs_for(n2)
    growth = p2 / p1
    assert growth < 4 * (n2 / n1), f"candidate growth {growth:.1f}x is super-linear"
    # and the absolute budget holds: pairs per corpus row stays bounded
    # by a small multiple of the target bucket size x bands
    assert p2 / n2 < 4 * TARGET_BUCKET_ROWS * adaptive_bands(adaptive_planes(n2))


def test_lsh_recall_co_scales_with_planes():
    """Recall for 0.99-cosine pairs must stay high as the plane count
    grows with the corpus — the mirror property of linear candidate
    growth. A pair survives iff some band's signs ALL agree; per-band
    recall is p^planes, so with a CONSTANT band count total recall
    decays geometrically in planes (~0.55 at 24 planes for the old
    2-band policy). adaptive_bands adds one band per BAND_PLANES
    planes, which holds analytic recall ≥ ~0.94 across the whole 4..24
    range. Monte-Carlo over the REAL deterministic hyperplanes (no
    Spark needed — the bucket math is pure sign-of-dot)."""
    import numpy as np

    from data_engineer_project_spark.functions.text import hyperplane
    from data_engineer_project_spark.operators.similarity import (
        MAX_PLANES,
        adaptive_bands,
    )

    dim, n_pairs, target_cos = 64, 500, 0.99
    rng = np.random.default_rng(42)
    a = rng.standard_normal((n_pairs, dim))
    a /= np.linalg.norm(a, axis=1, keepdims=True)
    # perturb each vector to EXACTLY target_cos cosine with its twin
    p = rng.standard_normal((n_pairs, dim))
    p -= (p * a).sum(axis=1, keepdims=True) * a
    p /= np.linalg.norm(p, axis=1, keepdims=True)
    b = target_cos * a + np.sqrt(1.0 - target_cos**2) * p

    def recall(planes: int, bands: int) -> float:
        caught = np.zeros(n_pairs, dtype=bool)
        for bnd in range(bands):
            h = np.array(
                [hyperplane(bnd * MAX_PLANES + r, dim) for r in range(planes)]
            ).T  # dim x planes
            collide = ((a @ h > 0) == (b @ h > 0)).all(axis=1)
            caught |= collide
        return float(caught.mean())

    for planes in (4, 6, 8, 12, 16, 20, 24):
        r_adaptive = recall(planes, adaptive_bands(planes))
        assert r_adaptive >= 0.9, (planes, r_adaptive)
    # and the motivating counterfactual: the old constant-2-band policy
    # really does lose recall at the 100 TB plane count
    assert recall(24, 2) < 0.8


def test_kmeans_centroids_exact_under_repartitioning(spark):
    """The centroid update sums integer-quantized coordinates, so the
    learned centroids must be BIT-identical under any partitioning —
    the property that keeps d14 hash-green (a floating mean would
    drift with aggregation order and flip argmax assignments)."""
    from data_engineer_project_spark.operators.similarity import kmeans_centroids
    from data_engineer_project_spark.sources.registry import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.001").embeddings
    base = {
        r["cid"]: r["cvec"]
        for r in kmeans_centroids(emb, n_centroids=8, iters=2).collect()
    }
    shuffled = {
        r["cid"]: r["cvec"]
        for r in kmeans_centroids(
            emb.repartition(7), n_centroids=8, iters=2
        ).collect()
    }
    assert base.keys() == shuffled.keys()
    for cid in base:
        assert base[cid] == shuffled[cid], f"centroid {cid} drifted"


def test_d33_budget_apportionment_sums_exactly(spark):
    """Largest-remainder quotas must sum EXACTLY to the budget (the
    property naive per-source rounding loses) and track shares."""
    from data_engineer_project_spark.queries import QUERIES

    rows = QUERIES["d33_source_token_budget"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert sum(r["token_budget"] for r in rows) == 100_000
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-12
    for r in rows:  # quota within 1 of the exact proportional share
        assert abs(r["token_budget"] - 100_000 * r["share"]) <= 1.0


def test_ivf_nprobe_recall_is_monotone(spark):
    """Widening the probe set can only help: for every query, the
    nprobe=2 result's agreement with brute-force ground truth must be
    >= the nprobe=1 agreement (the knob d37 exists to expose)."""
    from data_engineer_project_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )
    from data_engineer_project_spark.sources.registry import load_tables
    from pyspark.sql import functions as F

    emb = load_tables(spark, "/root/testdata/sf0.001").embeddings
    queries = emb.filter(F.col("vec_id") < 10)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(queries, emb, k=3).collect()
    }

    def hits(nprobe):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(queries, emb, k=3, n_centroids=8, nprobe=nprobe).collect()
        }
        return len(got & truth)

    h1, h2 = hits(1), hits(2)
    assert h2 >= h1, f"nprobe=2 recall ({h2}) below nprobe=1 ({h1})"


@given(
    st.lists(st.integers(min_value=1, max_value=10**12), min_size=2, max_size=40)
)
@settings(max_examples=300, deadline=None)
def test_s14_integer_cutoff_equals_quadratic_two_sigma(counts):
    """s14's driver-side cutoff c* (isqrt form) flags exactly the
    counts e11's quadratic form flags — for ANY hourly-count history,
    including counts far past int32 and the exact boundary values
    c*-1 / c*. Pure Python (unbounded ints), no Spark job."""
    from math import isqrt

    n = len(counts)
    tot = sum(counts)
    sumsq = sum(c * c for c in counts)
    k4 = 4 * (n * sumsq - tot * tot)
    d_min = isqrt(k4) + 1
    c_star = -(-(tot + d_min) // n)
    probes = set(counts) | {c_star - 1, c_star, c_star + 1, max(counts) + 1, 1}
    for c in probes:
        if c < 0:
            continue
        dev = c * n - tot
        quadratic = dev > 0 and dev * dev > k4
        assert (c >= c_star) == quadratic, (c, c_star, counts)


def _cosine_both_engines(spark, vecs):
    """Every ordered pair (a, b) of ``vecs`` scored by DuckDB through
    ``similarity.cosine_sql`` and by Spark through ``similarity.cosine``,
    both over float32 arrays; returns (duckdb scores, Spark frame)."""
    import duckdb

    from data_engineer_project_spark.operators.similarity import cosine, cosine_sql

    pairs = [
        (a, b, vecs[a], vecs[b]) for a in range(len(vecs)) for b in range(len(vecs))
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE pairs (a INT, b INT, qv FLOAT[], cv FLOAT[])")
    con.executemany("INSERT INTO pairs VALUES (?, ?, ?, ?)", pairs)
    duck = {
        (a, b): s
        for a, b, s in con.execute(
            f"WITH {cosine_sql('cs', 'pairs', ('a', 'b'))} SELECT a, b, score FROM cs"
        ).fetchall()
    }
    con.close()
    df = spark.createDataFrame(pairs, "a int, b int, qv array<float>, cv array<float>")
    return duck, df.select(
        "a", "b", cosine(F.col("qv"), F.col("cv")).alias("score")
    )


def test_cosine_sql_matches_spark_cosine_bit_for_bit(spark):
    """The DuckDB twin ``cosine_sql`` and Spark's ``cosine`` give the
    same double, bit for bit, on generated float32 vectors with
    negative components, unequal norms (scales 1e-3 to 50) and one
    repeated vector (scored against itself and its copy)."""
    import numpy as np

    rng = np.random.default_rng(12)
    vecs = [
        [float(x) for x in (rng.standard_normal(24) * scale).astype(np.float32)]
        for scale in (1.0, 1e-3, 50.0, 7.5)
    ]
    vecs.append(list(vecs[0]))
    assert any(x < 0 for v in vecs for x in v)
    duck, df = _cosine_both_engines(spark, vecs)
    got = {(r["a"], r["b"]): r["score"] for r in df.collect()}
    assert len(got) == len(duck) == len(vecs) ** 2
    assert {k: v.hex() for k, v in got.items()} == {
        k: v.hex() for k, v in duck.items()
    }
    assert got[(0, 4)] == got[(0, 0)]


def test_cosine_zero_norm_is_null_in_duckdb_and_raises_in_spark(spark):
    """A zero-norm vector is where the engines part: DuckDB scores
    0.0 / 0.0 as NULL, while Spark (ANSI mode, the default) raises
    DIVIDE_BY_ZERO. So a zero-norm embedding fails a Spark retrieval
    query instead of silently returning rows that the oracle drops."""
    duck, df = _cosine_both_engines(spark, [[0.0, 0.0], [1.0, -2.0]])
    assert duck[(0, 1)] is None and duck[(0, 0)] is None
    assert duck[(1, 1)] is not None and duck[(1, 0)] is None
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        df.collect()


def test_plan_lsh_bands_properties():
    """S-curve planner: b·r always equals the signature size; the
    operating split for the pipeline default (8 hashes @ 0.5) is the
    4×2 the dedup tier ships with; raising the target threshold never
    DECREASES rows-per-band (more AND-ing = more selective); and the
    chosen split's collision curve really separates the target — a
    pair well above threshold collides with higher probability than
    one well below."""
    import math

    import pytest

    from data_engineer_project_spark.operators.dedup import plan_lsh_bands

    assert plan_lsh_bands(8, 0.5) == (4, 2)
    for h in (4, 8, 16, 64, 128):
        prev_r = 0
        for t in (0.1, 0.3, 0.5, 0.7, 0.9):
            b, r = plan_lsh_bands(h, t)
            assert b * r == h and b >= 1 and r >= 1
            assert r >= prev_r
            prev_r = r
            p = lambda j: 1 - (1 - j**r) ** b  # noqa: E731
            hi, lo = min(0.99, t + 0.2), max(0.01, t - 0.2)
            assert p(hi) > p(t) > p(lo)
    with pytest.raises(ValueError):
        plan_lsh_bands(0, 0.5)
    with pytest.raises(ValueError):
        plan_lsh_bands(8, 1.0)


def test_minhash_default_bands_follow_planner(spark, sf_dir):
    """With bands unspecified, the LSH pipeline adopts the planner's
    split — at the 8-hash/0.5 knee that is exactly the historical 4×2,
    so the default-planned pairs equal the explicit-bands pairs."""
    from data_engineer_project_spark.operators import dedup as DD

    from data_engineer_project_spark.sources.registry import load_tables

    docs = load_tables(spark, sf_dir).documents
    planned = sorted(
        map(tuple, DD.minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect())
    )
    explicit = sorted(
        map(tuple, DD.minhash_lsh_pairs(docs, bands=4, jaccard_threshold=0.5).collect())
    )
    assert planned == explicit and planned


@given(
    toks=st.lists(st.integers(min_value=1, max_value=10_000), min_size=1, max_size=40)
)
@settings(max_examples=200, deadline=None)
def test_waterfill_formula_matches_bruteforce(toks):
    """d67's closed-form waterfill (threshold index k via the sorted
    prefix condition, cap C and remainder by integer division) must
    agree with a brute-force reference on random token distributions:
    allocations sum exactly to the budget, respect per-source mass,
    and are max-min fair (no capped source could gain without a
    same-or-larger source losing)."""
    srcs = sorted((tv, i) for i, tv in enumerate(toks))
    n = len(srcs)
    budget = sum(toks) // 2
    if budget == 0:
        return
    # formula (as in the d67 query/oracle)
    pref = 0
    k = pk = 0
    for idx, (tv, _) in enumerate(srcs, 1):
        pref += tv
        if pref + (n - idx) * tv <= budget:
            k, pk = idx, pref
    cap, rem = divmod(budget - pk, n - k) if k < n else (0, 0)
    alloc = []
    for idx, (tv, _) in enumerate(srcs, 1):
        if idx <= k:
            alloc.append(tv)
        elif idx - k <= rem:
            alloc.append(cap + 1)
        else:
            alloc.append(cap)
    assert sum(alloc) == budget
    for (tv, _), a in zip(srcs, alloc):
        assert 0 <= a <= tv
    # max-min fairness: every source is either fully kept or within 1
    # of the common cap, and no fully-kept source exceeds cap + 1
    capped = [a for idx, a in enumerate(alloc, 1) if idx > k]
    if capped:
        assert max(capped) - min(capped) <= 1
        for idx, (tv, _) in enumerate(srcs, 1):
            if idx <= k:
                assert tv <= min(capped) + 1
    # brute-force reference: the scalar threshold search
    lo = sum(min(tv, cap) for tv, _ in srcs)
    hi = sum(min(tv, cap + 1) for tv, _ in srcs)
    assert lo <= budget <= hi


def test_hll_rho_register_sql_matches_python_reference():
    """The d72/s20 register+rho derivation is pure md5/TRIM/CASE string
    arithmetic — verify the DuckDB evaluation of those SQL fragments
    against an independent Python big-int reference over random
    strings (hypothesis would shrink here, but exhaustive-random is
    clearer for a stateless hash property)."""
    import hashlib
    import random

    import duckdb

    from data_engineer_project_spark.queries.llm_pipeline import (
        hll_fields_sql,
    )

    reg_sql, rho_sql = hll_fields_sql("s", "varchar")
    con = duckdb.connect()
    rng = random.Random(42)
    alphabet = "abc xyz079_-:/é中"
    vals = ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 30)))
            for _ in range(300)]
    con.execute("CREATE TABLE t (s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    got = con.execute(
        f"SELECT s, ({reg_sql}) AS reg, ({rho_sql}) AS rho FROM t"
    ).fetchall()
    for s, reg, rho in got:
        h = hashlib.md5(("hl|" + s).encode()).hexdigest()
        want_reg = int(h[:2], 16)
        bits = bin(int(h[2:12], 16))[2:].zfill(40)
        pos = bits.find("1")
        want_rho = 41 if pos == -1 else pos + 1
        assert reg == want_reg, (s, reg, want_reg)
        assert rho == want_rho, (s, rho, want_rho)


# ------------------------- round-9 operators: property invariants


@st.composite
def keyed_rows(draw):
    """(id, key) multiset with a tunable hot key and a cap that can
    force the salted-grid branch or leave the plain branch."""
    n_hot = draw(st.integers(min_value=0, max_value=30))
    n_cold_keys = draw(st.integers(min_value=0, max_value=4))
    rows = [(i, "hot") for i in range(n_hot)]
    nid = 1000
    for k in range(n_cold_keys):
        sz = draw(st.integers(min_value=1, max_value=6))
        rows += [(nid + i, f"cold{k}") for i in range(sz)]
        nid += 100
    cap = draw(st.integers(min_value=2, max_value=40))
    return rows, cap


@given(data=keyed_rows())
@_SETTINGS
def test_skew_guard_pair_set_invariant(spark, data):
    """For ANY (id, key) multiset and ANY cap, the skew-guarded
    self-join's pair set equals the naive intra-key pairing — both
    the plain branch (no hot keys) and the salted grid hit here."""
    rows, cap = data
    if not rows:
        return
    df = spark.createDataFrame(rows, "id long, key string")
    got = sorted(
        (r.doc_a, r.doc_b)
        for r in DD.skew_guarded_self_pairs(df, ["key"], "id", cap=cap).collect()
    )
    by_key: dict[str, list[int]] = {}
    for i, k in rows:
        by_key.setdefault(k, []).append(i)
    want = sorted(
        (a, b)
        for ids in by_key.values()
        for x, a in enumerate(ids)
        for b in ids[x + 1 :]
    )
    assert got == want


@st.composite
def cell_tables(draw):
    n_strata = draw(st.integers(min_value=1, max_value=3))
    k = draw(st.integers(min_value=2, max_value=12))
    cells = []
    for s in range(n_strata):
        n_cells = draw(st.integers(min_value=1, max_value=5))
        for c in range(n_cells):
            n = draw(st.integers(min_value=0, max_value=20))
            cells.append((f"s{s}", f"c{c}", n, n * 10))
    return cells, k


@given(data=cell_tables())
# one primary cell, per stratum and overall, so both forms complement
@example(
    data=(
        [("s0", "c0", 3, 30), ("s0", "c1", 15, 150), ("s0", "c2", 12, 120),
         ("s0", "c3", 20, 200), ("s1", "c0", 14, 140), ("s1", "c1", 11, 110)],
        11,
    )
)
@_SETTINGS
def test_small_cell_suppress_rule_invariants(spark, data):
    """For ANY cell table and k: (1) every n<k cell is suppressed as
    'primary'; (2) a stratum gets a complementary suppression iff it
    has EXACTLY ONE primary and >= 1 non-primary cell, and then it is
    the smallest (n, cell) non-primary; (3) released rows carry their
    exact count and masked value; suppressed rows carry NULLs; (4) at
    the default k (``MIN_CELL``) the DuckDB twin
    ``small_cell_suppress_sql`` releases the same rows as Spark, per
    stratum and with one global stratum."""
    import duckdb

    from data_engineer_project_spark.operators.governance import (
        small_cell_suppress,
        small_cell_suppress_sql,
    )

    cells, k = data
    df = spark.createDataFrame(
        cells, "stratum string, cell string, n long, cents long"
    )
    out = small_cell_suppress(
        df, k=k, stratum_cols=("stratum",), cell_cols=("cell",),
        mask_cols=("cents",),
    ).collect()
    byrow = {(r.stratum, r.cell): r for r in out}
    assert len(byrow) == len(cells)
    strata: dict[str, list] = {}
    for s, c, n, cents in cells:
        strata.setdefault(s, []).append((c, n, cents))
    for s, members in strata.items():
        prim = [(c, n) for c, n, _ in members if n < k]
        nonprim = sorted(
            (n, c) for c, n, _ in members if n >= k
        )
        comp_expected = (
            {(nonprim[0][1])} if len(prim) == 1 and nonprim else set()
        )
        for c, n, cents in members:
            r = byrow[(s, c)]
            if n < k:
                assert (r.suppressed, r.suppression) == (True, "primary")
                assert r.released_n is None and r.released_cents is None
            elif c in comp_expected:
                assert (r.suppressed, r.suppression) == (True, "complementary")
                assert r.released_n is None and r.released_cents is None
            else:
                assert (r.suppressed, r.suppression) == (False, None)
                assert (r.released_n, r.released_cents) == (n, cents)

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE cells (stratum VARCHAR, cell VARCHAR, n BIGINT, cents BIGINT)"
    )
    con.executemany("INSERT INTO cells VALUES (?, ?, ?, ?)", cells)
    for by, keys in ((("stratum",), ("cell",)), ((), ("stratum", "cell"))):
        duck = con.execute(
            "WITH " + small_cell_suppress_sql("cells", by, keys, ("cents",))
        ).fetchall()
        twin = small_cell_suppress(
            df, stratum_cols=by, cell_cols=keys, mask_cols=("cents",)
        ).collect()
        assert sorted(duck) == sorted(tuple(r) for r in twin)
    con.close()


@st.composite
def grouped_values(draw):
    """(grp, id, v) rows: 1-3 groups of 1-9 rows each (odd and even
    sizes), values drawn from a narrow range so ties are common."""
    rows, rid = [], 0
    for g in range(draw(st.integers(min_value=1, max_value=3))):
        for _ in range(draw(st.integers(min_value=1, max_value=9))):
            rows.append((f"g{g}", rid, draw(st.integers(min_value=-5, max_value=40))))
            rid += 1
    return rows


def _ceil_rank_median(xs):
    """The value at 1-based rank ceil(n/2) of the sorted ``xs``."""
    return sorted(xs)[(len(xs) + 1) // 2 - 1]


@given(rows=grouped_values())
# ties, an even and an odd group, and outliers in both
@example(
    rows=[("g0", 0, 5), ("g0", 1, 5), ("g0", 2, 7), ("g0", 3, 100),
          ("g1", 4, 1), ("g1", 5, 2), ("g1", 6, 2), ("g1", 7, 3), ("g1", 8, 50)]
)
@_SETTINGS
def test_median_mad_kernel_matches_reference(spark, rows):
    """For ANY grouped values, per group and over all rows (``by=()``),
    Spark's ``robust.mad_frame`` and its DuckDB twin ``mad_sql`` give
    the Python ceil-rank median, the MAD (the same median of |v - med|)
    and the count of rows with ad * 10000 > 3 * 14826 * mad."""
    import duckdb

    from data_engineer_project_spark.operators import robust as ROB

    df = spark.createDataFrame(rows, "grp string, id long, v long")
    con = duckdb.connect()
    con.execute("CREATE TABLE vals (grp VARCHAR, id BIGINT, v BIGINT)")
    con.executemany("INSERT INTO vals VALUES (?, ?, ?)", rows)
    for by in ((), ("grp",)):
        groups: dict[tuple, list[int]] = {}
        for g, _, v in rows:
            groups.setdefault((g,) if by else (), []).append(v)
        want = {}
        for key, vs in groups.items():
            med = _ceil_rank_median(vs)
            mad = _ceil_rank_median([abs(v - med) for v in vs])
            n_out = sum(abs(v - med) * 10000 > 3 * 14826 * mad for v in vs)
            want[key] = (med, mad, n_out)
        got = {
            tuple(r[c] for c in by): (r.med, r.mad, r.n_out)
            for r in ROB.mad_frame(df, "v", "id", by)
            .groupBy(*by)
            .agg(
                F.max("med").alias("med"),
                F.max("mad").alias("mad"),
                F.sum(ROB.outlier().cast("long")).alias("n_out"),
            )
            .collect()
        }
        keys = ", ".join(f"d.{c}" for c in by)
        on = " AND ".join(f"{t}.{c} = d.{c}" for t in ("med", "mad") for c in by)
        duck = con.execute(
            f"""WITH {ROB.mad_sql("vals", "v", "id", by)}
            SELECT {keys + ", " if by else ""}MAX(med.med), MAX(mad.mad),
                   SUM(CASE WHEN {ROB.outlier_sql("d.ad", "mad.mad")}
                       THEN 1 ELSE 0 END)
            FROM dev d, med, mad
            {f"WHERE {on} GROUP BY {keys}" if by else ""}"""
        ).fetchall()
        assert got == want
        assert {tuple(r[: len(by)]): tuple(r[len(by):]) for r in duck} == want
    con.close()


@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=20),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=25, deadline=None)
def test_png_roundtrip_any_geometry(w, h, seed):
    """encode_png → decode_png is the identity for ANY geometry and
    pixel content (pure Python property, no Spark)."""
    import numpy as np

    from data_engineer_project_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    px = np.random.RandomState(seed).randint(0, 256, w * h).astype(
        np.uint8
    ).tobytes()
    assert decode_png(encode_png(px, w)).tobytes() == px


@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    fts=st.lists(
        st.integers(min_value=0, max_value=4), min_size=1, max_size=8
    ),
)
@settings(max_examples=25, deadline=None)
def test_png_unfilter_matches_reference_for_random_filters(seed, fts):
    """decode_png must reverse ANY per-row filter-type sequence —
    checked against an independent naive filterer (pure Python)."""
    import struct
    import zlib

    import numpy as np

    from data_engineer_project_spark.operators.multimodal import (
        _PNG_SIG,
        _png_chunk,
        decode_png,
    )

    w, h = 11, len(fts)
    img = np.random.RandomState(seed).randint(0, 256, (h, w)).astype(np.uint8)
    out, prev = b"", np.zeros(w, np.int32)
    for r, ft in enumerate(fts):
        line = img[r].astype(np.int32)
        f = np.zeros(w, np.int32)
        for i in range(w):
            a = int(line[i - 1]) if i >= 1 else 0
            b = int(prev[i])
            c = int(prev[i - 1]) if i >= 1 else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            f[i] = (line[i] - pred) % 256
        out += bytes([ft]) + bytes(f.astype(np.uint8))
        prev = line
    payload = (
        _PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(out))
        + _png_chunk(b"IEND", b"")
    )
    assert decode_png(payload).tobytes() == img.tobytes()


@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=20),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=25, deadline=None)
def test_jpeg_lossless_roundtrip_any_geometry(w, h, seed):
    """encode_jpeg_lossless → decode_jpeg is the identity for ANY
    geometry and pixel content, and the container size is exactly
    _JPG_SIZE_BASE + 3*w*h (pure Python property, no Spark)."""
    import numpy as np

    from data_engineer_project_spark.operators.multimodal import (
        _JPG_SIZE_BASE,
        decode_jpeg,
        encode_jpeg_lossless,
    )

    px = np.random.RandomState(seed).randint(0, 256, w * h).astype(
        np.uint8
    ).tobytes()
    payload = encode_jpeg_lossless(px, w)
    assert len(payload) == _JPG_SIZE_BASE + 3 * w * h
    assert decode_jpeg(payload).tobytes() == px


@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    pos=st.integers(min_value=2, max_value=10_000),
    val=st.integers(min_value=0, max_value=255),
)
@settings(max_examples=60, deadline=None)
def test_jpeg_decoder_controlled_failure_under_byte_corruption(seed, pos, val):
    """ANY single-byte corruption of a valid JPEG payload must either
    still decode (possibly to different pixels) or raise the
    QUARANTINE exceptions (ValueError / NotImplementedError) — never
    an uncontrolled numpy/struct/index error. This is the executor
    contract: hostile bytes become verdicts, not crashes."""
    import numpy as np

    from data_engineer_project_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_lossless,
    )

    px = np.random.RandomState(seed).randint(0, 256, 30 * 10).astype(
        np.uint8
    ).tobytes()
    payload = bytearray(encode_jpeg_lossless(px, 30))
    payload[pos % len(payload)] = val
    try:
        out = decode_jpeg(bytes(payload))
        assert out.dtype == np.uint8  # decoded (same or altered pixels)
    except (ValueError, NotImplementedError):
        pass  # quarantine verdict — the allowed failure mode


@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=20),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=25, deadline=None)
def test_jpeg_progressive_equals_baseline_any_geometry(w, h, seed):
    """Progressive (SOF2) and baseline (SOF0) streams built from the
    SAME all-ones-quant DCT coefficients must decode to IDENTICAL
    pixels for any geometry and content — any divergence is a bug in
    the multi-scan machinery (spectral bands, successive-approximation
    shifts, EOB runs, refinement correction bits)."""
    import numpy as np

    from data_engineer_project_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )

    px = np.random.RandomState(seed).randint(0, 256, w * h).astype(
        np.uint8
    ).tobytes()
    base = decode_jpeg(encode_jpeg_baseline(px, w))
    prog = decode_jpeg(encode_jpeg_progressive(px, w))
    assert np.array_equal(base, prog)


@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    pos=st.integers(min_value=2, max_value=10_000),
    val=st.integers(min_value=0, max_value=255),
)
@settings(max_examples=60, deadline=None)
def test_jpeg_progressive_controlled_failure_under_byte_corruption(
    seed, pos, val
):
    """The quarantine contract holds for multi-scan payloads too: ANY
    single-byte corruption of a progressive JPEG either decodes or
    raises ValueError/NotImplementedError — never an uncontrolled
    error, hang, or unbounded allocation."""
    import numpy as np

    from data_engineer_project_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_progressive,
    )

    px = np.random.RandomState(seed).randint(0, 256, 30 * 10).astype(
        np.uint8
    ).tobytes()
    payload = bytearray(encode_jpeg_progressive(px, 30))
    payload[pos % len(payload)] = val
    try:
        out = decode_jpeg(bytes(payload))
        assert out.dtype == np.uint8
    except (ValueError, NotImplementedError):
        pass


@given(
    w=st.integers(min_value=1, max_value=64),
    h=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    interlace=st.booleans(),
)
@settings(max_examples=25, deadline=None)
def test_gif_roundtrip_any_geometry(w, h, seed, interlace):
    """encode_gif → decode_gif is the identity (gray palette collapses
    to one sample per pixel) for ANY geometry, plain or 4-pass
    interlaced — interlace pass boundaries are where off-by-ones
    live."""
    import numpy as np

    from data_engineer_project_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
    )

    px = np.random.RandomState(seed).randint(0, 256, w * h).astype(
        np.uint8
    ).tobytes()
    assert decode_gif(encode_gif(px, w, interlace=interlace)).tobytes() == px


@given(
    w=st.integers(min_value=1, max_value=64),
    h=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    packbits=st.booleans(),
    runs=st.booleans(),
)
@settings(max_examples=25, deadline=None)
def test_tiff_roundtrip_any_geometry(w, h, seed, packbits, runs):
    """encode_tiff_gray → decode_tiff is the identity for ANY geometry
    and content, uncompressed or PackBits — ``runs`` biases the pixels
    toward long repeats so the run-folding encoder branch is hit."""
    import numpy as np

    from data_engineer_project_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff_gray,
    )

    rng = np.random.RandomState(seed)
    if runs:
        vals = rng.randint(0, 4, max(1, w * h // 7)).astype(np.uint8)
        px = np.repeat(vals, 7)[: w * h]
        px = np.pad(px, (0, w * h - len(px)), constant_values=3).tobytes()
    else:
        px = rng.randint(0, 256, w * h).astype(np.uint8).tobytes()
    assert decode_tiff(encode_tiff_gray(px, w, packbits=packbits)).tobytes() == px


@given(
    n=st.integers(min_value=1, max_value=4096),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=25, deadline=None)
def test_wav_roundtrip_any_length(n, seed):
    """encode_wav_pcm8 → decode_wav is the identity for any sample
    count, and the container size is exactly 44 + n + (n % 2)."""
    import numpy as np

    from data_engineer_project_spark.operators.multimodal import (
        decode_wav,
        encode_wav_pcm8,
    )

    s = np.random.RandomState(seed).randint(0, 256, n).astype(np.uint8).tobytes()
    p = encode_wav_pcm8(s)
    assert len(p) == 44 + n + (n % 2)
    assert decode_wav(p).tobytes() == s


@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    pos=st.integers(min_value=0, max_value=10_000),
    val=st.integers(min_value=0, max_value=255),
    arm=st.sampled_from(["gif", "tif", "wav"]),
)
@settings(max_examples=60, deadline=None)
def test_new_codecs_controlled_failure_under_byte_corruption(seed, pos, val, arm):
    """The quarantine contract for the round-10 third-wave codecs: ANY
    single-byte corruption of a valid GIF/TIFF/WAV either decodes
    (same or altered samples) or raises ValueError /
    NotImplementedError — never an uncontrolled error."""
    import numpy as np

    from data_engineer_project_spark.operators.multimodal import (
        decode_gif,
        decode_tiff,
        decode_wav,
        encode_gif,
        encode_tiff_gray,
        encode_wav_pcm8,
    )

    px = np.random.RandomState(seed).randint(0, 256, 30 * 10).astype(
        np.uint8
    ).tobytes()
    enc = {
        "gif": lambda: encode_gif(px, 30),
        "tif": lambda: encode_tiff_gray(px, 30, packbits=True),
        "wav": lambda: encode_wav_pcm8(px),
    }[arm]
    dec = {"gif": decode_gif, "tif": decode_tiff, "wav": decode_wav}[arm]
    payload = bytearray(enc())
    payload[pos % len(payload)] = val
    try:
        out = dec(bytes(payload))
        assert out.dtype == np.uint8
    except (ValueError, NotImplementedError):
        pass
