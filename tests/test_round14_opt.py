"""Round-14 optimization-round invariants: every structural rewrite
for speed must keep results bit-identical. Each test here pins one
r14 plan change against the pre-change implementation or a from-first-
principles recomputation."""

import math
import random

import pytest
from pyspark.sql import functions as F

from data_engineer_project_spark.operators import linalg as LA


def test_exact_jaccard_scores_are_exact(spark):
    """exact_jaccard's verify joins must score every candidate pair
    exactly against the distinct shingle sets — including docs that
    appear only as doc_a, only as doc_b, or on both sides, with
    non-candidate docs present in the shingle set. (Pinned while r14
    A/B'd — and rejected as bench-slower — a semi-join pre-filter of
    the verify sides; any future retry must keep this invariant.)"""
    from data_engineer_project_spark.operators import dedup as DD

    sh = spark.createDataFrame(
        [
            (1, "a b c"), (1, "b c d"), (1, "c d e"),
            (2, "a b c"), (2, "b c d"), (2, "x y z"),
            (3, "a b c"), (3, "p q r"),
            (4, "only doc4"), (4, "never candidate"),
            (5, "a b c"), (5, "b c d"), (5, "c d e"), (5, "q r s"),
        ],
        "doc_id long, shingle string",
    )
    cand = spark.createDataFrame(
        [(1, 2), (1, 5), (3, 5), (2, 3)], "doc_a long, doc_b long"
    )
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in DD.exact_jaccard(cand, sh).collect()
    }
    # reference: brute-force python over the same distinct sets
    rows = sh.collect()
    sets = {}
    for r in rows:
        sets.setdefault(r.doc_id, set()).add(r.shingle)
    for a, b in [(1, 2), (1, 5), (3, 5), (2, 3)]:
        inter = len(sets[a] & sets[b])
        ref = inter / (len(sets[a]) + len(sets[b]) - inter)
        assert got[(a, b)] == ref, (a, b, got.get((a, b)), ref)
    assert set(got) == {(1, 2), (1, 5), (3, 5), (2, 3)}


def test_power_iteration_dense_matches_exploded_bitwise(spark):
    """The r14 dense (array-form, shuffle-free) power-iteration path
    must return the BIT-IDENTICAL direction and Rayleigh ingredients
    as the exploded two-pass form — exact int64 sums are associative,
    so the only way they could diverge is an implementation bug."""
    rng = random.Random(14)
    d, n = 16, 300
    rows = [
        (i, [rng.gauss(0.0, 1.0) * (1.0 + 0.2 * (j % 5)) for j in range(d)])
        for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = LA.quantize_embeddings(emb, 1024.0)
    v_ref, stats_ref = LA.power_iteration(q, rounds=3, vscale=128.0)
    qa = LA.quantized_vectors(emb, 1024.0)
    v_new, stats_new = LA.power_iteration_dense(qa, rounds=3, vscale=128.0)
    assert v_new == v_ref
    assert stats_new == stats_ref


def test_power_iteration_dense_guards(spark):
    """The dense path keeps the exploded form's loud-failure contract:
    a-priori int64 headroom refusal and the ragged-dimension check."""
    big = spark.createDataFrame(
        [(0, [2.0 ** 30] * 4), (1, [2.0 ** 30] * 4)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="headroom"):
        LA.power_iteration_dense(LA.quantized_vectors(big), rounds=1)
    ragged = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [1.0, 2.0, 3.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="ragged"):
        LA.power_iteration_dense(LA.quantized_vectors(ragged), rounds=1)


def test_power_iteration_dense_recovers_planted_spike(spark):
    """Same planted-spike recovery bar the exploded operator is held
    to (test_pipeline_round7): |cosine| > 0.99 within 3 rounds."""
    rng = random.Random(7)
    d, n = 16, 400
    spike = [math.sin(0.5 + 0.37 * j) for j in range(d)]
    nrm = math.sqrt(sum(x * x for x in spike))
    spike = [x / nrm for x in spike]
    rows = []
    for i in range(n):
        a = rng.gauss(0.0, 1.0) * 20.0
        vec = [a * spike[j] + rng.gauss(0.0, 1.0) for j in range(d)]
        rows.append((i, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qa = LA.quantized_vectors(emb, 1024.0)
    v, stats = LA.power_iteration_dense(qa, rounds=3, vscale=128.0)
    got = [v[p] for p in sorted(v)]
    dot = sum(g * sp for g, sp in zip(got, spike))
    cos = abs(dot) / math.sqrt(sum(g * g for g in got))
    assert cos > 0.99, cos
    seq = [num / vv for num, vv in stats]
    assert seq[0] <= seq[1] <= seq[2]


def _skip_unless_parallel(spark):
    """The fan-out guard is a deliberate no-op on a single-core runner
    (local[1]: nparts 1 is never < defaultParallelism 1), so the
    single-split precondition and the RoundRobin plan-shape asserts
    would fail spuriously there (r14 advice)."""
    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("fan-out guard is a no-op at defaultParallelism < 2")


def test_shingle_fanout_optin_identical_rows_and_plan_shape(spark, tmp_path):
    """The opt-in scan fan-out must change ONLY the physical layout:
    exploded_shingles(fanout_small(scan)) over a single-split scan returns
    exactly the rows of the unfanned form, and its plan carries the
    guarded RoundRobin exchange while the unfanned plan does not.
    On an input that already has >= defaultParallelism partitions the
    guard must be a plan no-op (the 100 TB contract)."""
    from data_engineer_project_spark.operators.dedup import exploded_shingles
    from data_engineer_project_spark.operators.fanout import fanout_small

    _skip_unless_parallel(spark)
    p = str(tmp_path / "docs.parquet")
    rows = [(i, f"w{i} w{i+1} w{i+2} w{i+3} common tail") for i in range(40)]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    assert docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism

    plain = exploded_shingles(docs)
    fanned = exploded_shingles(fanout_small(docs))
    assert "roundrobinpartitioning" not in plain._jdf.queryExecution(
    ).executedPlan().toString().lower()
    assert "roundrobinpartitioning" in fanned._jdf.queryExecution(
    ).executedPlan().toString().lower()
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, fanned.collect())
    )

    wide = docs.repartition(spark.sparkContext.defaultParallelism)
    noop = exploded_shingles(fanout_small(wide))
    # the guard fires on partition COUNT, so the only RoundRobin in the
    # plan is the caller's own repartition — same count as unfanned
    assert noop._jdf.queryExecution().executedPlan().toString().lower().count(
        "roundrobinpartitioning"
    ) == exploded_shingles(wide)._jdf.queryExecution(
    ).executedPlan().toString().lower().count("roundrobinpartitioning")


def test_range_join_fans_single_split_interval_side(spark, tmp_path):
    """range_join's interval-side fan-out is OPT-IN (r15, aligned with
    the shingle family's contract): the default plan carries NO
    RoundRobin exchange even over a single-split interval scan;
    wrapping it in ``fanout_small`` adds the guarded exchange; and the
    join result is identical across default, fanned, and prefanned
    inputs."""
    import datetime as dt

    from data_engineer_project_spark.operators.fanout import fanout_small
    from data_engineer_project_spark.operators.interval import range_join

    _skip_unless_parallel(spark)
    base = dt.datetime(2031, 3, 1)
    ivs = [
        (i, base + dt.timedelta(minutes=90 * i),
         base + dt.timedelta(minutes=90 * i + 60))
        for i in range(8)
    ]
    pts = [
        (j, base + dt.timedelta(minutes=7 * j), float(j))
        for j in range(200)
    ]
    ip = str(tmp_path / "iv.parquet")
    spark.createDataFrame(
        ivs, "iv_id long, s timestamp, e timestamp"
    ).coalesce(1).write.parquet(ip)
    intervals = spark.read.parquet(ip)
    points = spark.createDataFrame(pts, "pt_id long, ts timestamp, v double")

    plain = range_join(intervals, points, "s", "e", "ts", bucket_width="1 hour")
    assert "roundrobinpartitioning" not in plain._jdf.queryExecution(
    ).executedPlan().toString().lower()

    j = range_join(
        fanout_small(intervals), points, "s", "e", "ts", bucket_width="1 hour"
    )
    assert "roundrobinpartitioning" in j._jdf.queryExecution(
    ).executedPlan().toString().lower()

    prefanned = intervals.repartition(
        spark.sparkContext.defaultParallelism
    )
    j2 = range_join(
        fanout_small(prefanned), points, "s", "e", "ts", bucket_width="1 hour"
    )
    ref = sorted(map(tuple, plain.collect()))
    assert sorted(map(tuple, j.collect())) == ref
    assert sorted(map(tuple, j2.collect())) == ref


