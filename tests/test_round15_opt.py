"""Round-15 optimization-round invariants: every structural rewrite
for speed must keep results bit-identical. Each test here pins one
r15 change — the size-gated exact_jaccard prefilter (guide §3.2), the
size-gated shingle cache layout (§2.4 vs map-side combine), the
Arrow signature engine (§4.2), and the opt-in fan-out alignment."""

import pytest
from pyspark.sql import functions as F

from tests.test_round14_opt import _skip_unless_parallel


def test_exact_jaccard_prefilter_same_scores_and_semijoin_plan(
    spark, tmp_path, monkeypatch
):
    """r15's size-gated candidate-id semi-join prefilter (guide §3.2)
    must leave every score bit-identical — all shingle rows of every
    candidate doc survive, non-candidate docs never reached the output
    anyway — and, when the gate fires, the plan must carry the LeftSemi
    prune of the shingle side. Below the gate (default threshold, tiny
    file) the plan must be byte-identical to prefilter=False."""
    from data_engineer_project_spark.operators import dedup as DD
    from data_engineer_project_spark.operators import fanout

    sh_rows = [
        (1, "a b c"), (1, "b c d"), (1, "c d e"),
        (2, "a b c"), (2, "b c d"), (2, "x y z"),
        (3, "a b c"), (3, "p q r"),
        (4, "only doc4"), (4, "never candidate"),
        (5, "a b c"), (5, "b c d"), (5, "c d e"), (5, "q r s"),
    ]
    p = str(tmp_path / "sh.parquet")
    spark.createDataFrame(sh_rows, "doc_id long, shingle string").write.parquet(p)
    sh = spark.read.parquet(p)
    cand = spark.createDataFrame(
        [(1, 2), (1, 5), (3, 5), (2, 3)], "doc_a long, doc_b long"
    )
    base = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in DD.exact_jaccard(cand, sh).collect()
    }

    # below the gate: prefilter=True is a plan no-op
    ungated = DD.exact_jaccard(cand, sh, prefilter=True)
    assert "LeftSemi" not in ungated._jdf.queryExecution().executedPlan().toString()

    # force the gate: the semi-join prune appears, scores unchanged
    monkeypatch.setattr(fanout, "LARGE_SOURCE_BYTES", 0)
    pref = DD.exact_jaccard(cand, sh, prefilter=True)
    assert "LeftSemi" in pref._jdf.queryExecution().executedPlan().toString()
    got = {(r.doc_a, r.doc_b): r.jaccard for r in pref.collect()}
    assert got == base


def test_shingle_cache_layout_size_gate(spark, tmp_path, monkeypatch):
    """r15's size gate on the inverted-index shingle cache: a small
    file-backed corpus takes the ``distinct()`` layout (no shingle
    repartition — the map-side combine the r14 driver measured as 25%
    faster at bench scale), forcing the gate to 0 takes the
    shingle-partitioned layout (the §2.4 exchange-reuse shape), and
    the cached ROWS are identical either way."""
    from data_engineer_project_spark.operators import dedup as DD
    from data_engineer_project_spark.operators import fanout
    from data_engineer_project_spark.operators.cache import release_all

    rows = [(i, f"w{i} w{i+1} w{i+2} w{i+3} w{i+4}") for i in range(30)]
    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(p)
    docs = spark.read.parquet(p)

    small = DD._shingle_set_partitioned_by_shingle(docs, "doc_id", "text")
    small_plan = small._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(shingle" not in small_plan
    small_rows = sorted(map(tuple, small.collect()))
    release_all()

    monkeypatch.setattr(fanout, "LARGE_SOURCE_BYTES", 0)
    big = DD._shingle_set_partitioned_by_shingle(docs, "doc_id", "text")
    big_plan = big._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(shingle" in big_plan
    assert sorted(map(tuple, big.collect())) == small_rows
    release_all()


def _banded_sigs_hof(df, num_bands=None, planes=None, dim=64):
    """The pure-relational reference fold for ``banded_lsh_sigs``: per
    band, sum the sign bits of ``planes`` interpreted-HOF dot folds
    (``F.aggregate``'s strict left fold) — the JVM form the Arrow
    engine replaced, kept here as its exactness anchor."""
    from data_engineer_project_spark.functions.text import hyperplane
    from data_engineer_project_spark.operators.similarity import (
        MAX_PLANES,
        adaptive_bands,
        adaptive_planes,
        dot,
        norm,
    )

    if planes is None:
        planes = adaptive_planes(df.count())
    if num_bands is None:
        num_bands = adaptive_bands(planes)
    buckets = []
    for bnd in range(num_bands):
        bucket = F.lit(0)
        for r in range(planes):
            plane = F.array(
                *[F.lit(float(v)) for v in hyperplane(bnd * MAX_PLANES + r, dim)]
            )
            bucket = bucket + F.when(
                dot(F.col("vec"), plane) > 0, F.lit(1 << r)
            ).otherwise(F.lit(0))
        buckets.append(bucket.cast("int"))
    return df.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").alias("vec"),
        norm(F.col("embedding")).alias("nrm"),
    ).select(
        "vid",
        "vec",
        "nrm",
        F.posexplode(F.array(*buckets)).alias("band", "bucket"),
    )


def test_banded_sigs_arrow_matches_hof(spark):
    """r15's Arrow signature engine must produce BIT-IDENTICAL
    (vid, nrm, band, bucket) rows to the interpreted-HOF form across
    plane counts — the strict-left-fold contract (np.cumsum's last
    element vs F.aggregate's fold) is the whole correctness story, so
    exercise both the adaptive default and a forced multi-band point,
    including negative coordinates and denormal-ish magnitudes."""
    import random

    from data_engineer_project_spark.operators.similarity import (
        banded_lsh_sigs,
    )

    rng = random.Random(99)
    rows = []
    for i in range(300):
        scale = 10.0 ** rng.randint(-6, 3)
        rows.append(
            (i, [rng.gauss(0.0, 1.0) * scale for _ in range(64)])
        )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for kwargs in ({}, {"num_bands": 4, "planes": 9}):
        hof = _banded_sigs_hof(emb, **kwargs).select(
            "vid", "nrm", "band", "bucket"
        )
        arrow = banded_lsh_sigs(emb, emb, **kwargs).select(
            "vid", "nrm", "band", "bucket"
        )
        a = sorted(map(tuple, hof.collect()))
        b = sorted(map(tuple, arrow.collect()))
        assert a == b, kwargs


def test_banded_sigs_arrow_keeps_input_types_and_rejects_bad_vectors(spark):
    """``vid`` and ``vec`` come back in their input types: an ``int`` id
    stays ``int`` and ``array<double>`` keeps values float32 cannot
    hold, with rows equal to the HOF reference fold. A null vector and
    a NaN vector each raise, naming the offending id."""
    import random
    import struct

    from pyspark.sql.types import ArrayType, DoubleType, IntegerType

    from data_engineer_project_spark.operators.similarity import (
        banded_lsh_sigs,
    )

    rng = random.Random(15)
    rows = [(i, [rng.gauss(0.0, 1.0) for _ in range(64)]) for i in range(40)]
    assert any(
        struct.unpack("f", struct.pack("f", x))[0] != x for x in rows[0][1]
    )
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    arrow = banded_lsh_sigs(emb, emb, num_bands=3, planes=5)
    assert arrow.schema["vid"].dataType == IntegerType()
    assert arrow.schema["vec"].dataType == ArrayType(DoubleType())
    got = sorted(map(tuple, arrow.collect()))
    hof = _banded_sigs_hof(emb, num_bands=3, planes=5)
    assert got == sorted(map(tuple, hof.collect()))
    assert {r[0]: r[1] for r in got} == dict(rows)

    ok = [1.0] * 64
    for bad, why in ((None, "non-null"), ([float("nan")] + ok[1:], "finite")):
        df = spark.createDataFrame(
            [(1, ok), (2, bad)], "vec_id int, embedding array<double>"
        )
        with pytest.raises(Exception, match=why) as ei:
            banded_lsh_sigs(df, df, num_bands=2, planes=4).collect()
        assert "[2]" in str(ei.value)


def test_brute_force_topk_fanout_optin_identical_rows_and_plan_shape(
    spark, tmp_path
):
    """brute_force_topk's corpus fan-out is OPT-IN (r15): the default
    plan never shuffles the corpus (no RoundRobin), a ``fanout_small``
    single-split corpus scan adds the guarded exchange, and the
    (query_id, neighbor_id, score) rows are bit-identical either way."""
    import random

    from data_engineer_project_spark.operators.fanout import fanout_small
    from data_engineer_project_spark.operators.similarity import (
        brute_force_topk,
    )

    _skip_unless_parallel(spark)
    rng = random.Random(15)
    rows = [
        (i, [rng.gauss(0.0, 1.0) for _ in range(8)]) for i in range(60)
    ]
    p = str(tmp_path / "emb.parquet")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).coalesce(1).write.parquet(p)
    emb = spark.read.parquet(p)
    queries = emb.filter(F.col("vec_id") < 3)

    plain = brute_force_topk(queries, emb, k=3)
    fanned = brute_force_topk(queries, fanout_small(emb), k=3)
    assert "roundrobinpartitioning" not in plain._jdf.queryExecution(
    ).executedPlan().toString().lower()
    assert "roundrobinpartitioning" in fanned._jdf.queryExecution(
    ).executedPlan().toString().lower()
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, fanned.collect())
    )
