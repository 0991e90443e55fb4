"""Round-10 additions: advice-item hardening (PNG zero-height bomb,
encode_png empty buffer, sweep_stores identifier escaping, bounded
soft-cache accretion) and the new round-10 operators."""

import struct
import zlib

import pytest


def test_png_zero_height_header_is_rejected_before_inflate():
    """A zero-height IHDR makes expected=0 and zlib's max_length=0 means
    UNBOUNDED — a crafted 0-height PNG carrying a DEFLATE bomb must be
    rejected at the header, before any inflate happens."""
    from data_engineer_project_spark.operators.multimodal import (
        _PNG_SIG,
        _png_chunk,
        decode_png,
    )

    def png(w, h, payload):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        return (
            _PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(payload))
            + _png_chunk(b"IEND", b"")
        )

    # 64 MiB of zeros compresses to ~64 KiB: with the old h==0 hole
    # this inflated fully before the length check.
    bomb = b"\x00" * (64 * 1024 * 1024)
    with pytest.raises(ValueError, match="zero dimension"):
        decode_png(png(16, 0, bomb))
    with pytest.raises(ValueError, match="zero dimension"):
        decode_png(png(0, 16, b"\x00" * 17))


def test_encode_png_rejects_empty_pixel_buffer():
    """The advertised container-size formula (5*ceil(raw/32768)) gives 0
    for raw=0 while _zlib_stored would emit one block; the encoder now
    refuses the input instead of contradicting its own arithmetic."""
    from data_engineer_project_spark.operators.multimodal import encode_png

    with pytest.raises(ValueError, match="non-empty"):
        encode_png(b"", 4)


def test_sweep_stores_escapes_backtick_table_names(tmp_path, spark):
    """A shingle directory name containing a backtick must not break or
    inject into the DROP statement — the sweep either drops it cleanly
    or (no catalog entry) just removes the directory."""
    import os
    import time

    from data_engineer_project_spark.operators.similarity import (
        PRUNE_MIN_AGE_S,
        sweep_stores,
    )

    wh = tmp_path / "wh"
    wh.mkdir()
    old = time.time() - PRUNE_MIN_AGE_S - 60
    names = [f"shingle_x{i}" for i in range(3)] + ["shingle_evil`--"]
    for n in names:
        d = wh / n
        d.mkdir()
        os.utime(d, (old, old))
    # newest 1 kept → the 3 oldest-mtime dirs (incl. the backtick one,
    # same mtime, sorted stable) are candidates; must not raise.
    sweep_stores(spark=spark, warehouse=wh, keep=1)
    assert len([p for p in wh.iterdir()]) == 1


def test_small_cell_suppress_global_stratum(spark):
    """hq48's binding uses an EMPTY stratum (one global complementary
    round): with exactly one primary cell, the smallest unsuppressed
    cell must also suppress, and mask columns must NULL out with it."""
    from data_engineer_project_spark.operators.governance import (
        small_cell_suppress,
    )

    cells = spark.createDataFrame(
        [("a", 5, 100), ("b", 20, 200), ("c", 30, 300)],
        "plan string, n long, cents long",
    )
    out = {
        r["plan"]: r
        for r in small_cell_suppress(
            cells,
            k=11,
            stratum_cols=(),
            cell_cols=("plan",),
            mask_cols=("cents",),
        ).collect()
    }
    assert out["a"]["suppression"] == "primary"
    assert out["a"]["released_n"] is None and out["a"]["released_cents"] is None
    assert out["b"]["suppression"] == "complementary"
    assert out["b"]["released_n"] is None and out["b"]["released_cents"] is None
    assert out["c"]["suppression"] is None
    assert out["c"]["released_n"] == 30 and out["c"]["released_cents"] == 300


def test_skew_guard_records_probe_stats(spark):
    """Guard observability: every probe appends a record naming the
    consumer, the chosen path, and (grid path) hot-bucket count + worst
    split factor — so bench deltas on guard consumers are attributable
    without re-deriving band populations."""
    from pyspark.sql import functions as F

    import data_engineer_project_spark.operators.dedup as DD

    df = spark.range(600).select(
        F.col("id").alias("id"),
        F.when(F.col("id") < 500, F.lit("hot")).otherwise(
            (F.col("id") % 7).cast("string")
        ).alias("key"),
    )
    start = len(DD.GUARD_STATS_LOG)
    DD.skew_guarded_self_pairs(df, ["key"], "id", cap=100, consumer="t10")
    rec = DD.GUARD_STATS_LOG[start]
    assert rec["consumer"] == "t10"
    assert rec["path"] == "grid"
    assert rec["hot_buckets"] == 1
    assert rec["max_nsplit"] == 5  # ceil(500/100)
    assert DD.LAST_GUARD_STATS == rec

    DD.skew_guarded_self_pairs(df, ["key"], "id", cap=2048, consumer="t10b")
    rec2 = DD.GUARD_STATS_LOG[start + 1]
    assert rec2["path"] == "plain" and rec2["hot_buckets"] == 0


def test_diagnostic_tier_queries_name_production_twins():
    """The registry itself distinguishes output-quadratic audit
    contracts from scale-safe defaults: every tier='diagnostic' query
    must name a REGISTERED production twin, and the adjudicated trio
    (d08/d65/d74) must carry the tag."""
    from data_engineer_project_spark.queries import QUERIES

    diag = {n: s for n, s in QUERIES.items() if s.tier == "diagnostic"}
    assert set(diag) == {
        "d08_dedup_simhash",
        "d65_neardup_doc_clusters",
        "d74_pagerank_canonical_doc",
        # round 10: the breadth decade showed the hash-only image
        # contract over-merges via accidental dHash collisions; the
        # content-verified m18 is the scale default
        "m10_image_neardup_clusters",
    }
    for name, spec in diag.items():
        assert spec.production_twin in QUERIES, (name, spec.production_twin)
        assert QUERIES[spec.production_twin].tier == "production"
    assert all(
        s.tier == "production" for n, s in QUERIES.items() if n not in diag
    )


def test_tracked_persist_bounds_accretion():
    """Long sessions constructing many guarded plans must not accrete
    persist handles without bound: the registry unpersists the oldest
    beyond MAX_TRACKED."""
    import data_engineer_project_spark.operators.cache as cache

    class FakeDF:
        def __init__(self):
            self.persisted = False

        def persist(self):
            self.persisted = True
            return self

        def unpersist(self):
            self.persisted = False
            return self

    before = list(cache._TRACKED)
    cache._TRACKED.clear()
    try:
        dfs = [FakeDF() for _ in range(cache.MAX_TRACKED + 5)]
        for d in dfs:
            cache.tracked_persist(d)
        assert len(cache._TRACKED) == cache.MAX_TRACKED
        assert all(not d.persisted for d in dfs[:5])
        assert all(d.persisted for d in dfs[5:])
    finally:
        cache._TRACKED.clear()
        cache._TRACKED.extend(before)


def test_d101_hash_equals_d99_from_scratch(spark):
    """The incremental merge's whole contract: d101 (standing corpus
    clusters + delta merge) must equal d99 run from scratch over ALL
    documents — same rows, same values, bit-for-bit."""
    from data_engineer_project_spark.operators.cache import release_all
    from data_engineer_project_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    a = [tuple(r) for r in QUERIES["d99_weighted_neardup_clusters"].fn(spark, sf).collect()]
    release_all()
    b = [tuple(r) for r in QUERIES["d101_incremental_cluster_merge"].fn(spark, sf).collect()]
    release_all()
    assert sorted(a) == sorted(b)
    assert len(a) > 0


def test_d101_merge_bridges_and_relabels(spark):
    """Planted scenario for the two hard incremental cases:
    (1) BRIDGE — a delta doc near two standing components must merge
    them (requires ALL verified pairs, not a best-match); (2) RELABEL
    — a delta exact-dup with a smaller doc_id becomes the rep and the
    component label, exactly as from-scratch min-id would."""
    from pyspark.sql import functions as F

    from data_engineer_project_spark.operators import dedup as DD
    from data_engineer_project_spark.operators import graph as GR
    from data_engineer_project_spark.operators.cache import release_all
    from data_engineer_project_spark.functions import text as T
    from data_engineer_project_spark.operators.neardup import (
        collapse_exact as _collapse_reps,
    )
    from data_engineer_project_spark.queries.llm_pipeline import (
        _merge_delta_into_clusters,
    )

    w = [f"w{i}" for i in range(1, 46)]
    A1 = " ".join(w[0:30])                      # w1..w30
    A2 = " ".join(w[0:29] + ["zz"])             # near-dup of A1
    B1 = " ".join(w[15:45])                     # w16..w45 (J(A,B) < 0.5)
    B2 = " ".join(w[15:44] + ["qq"])            # near-dup of B1
    D = " ".join(w[7:37])                       # w8..w37 bridges A and B
    corpus = spark.createDataFrame(
        [(100, A1), (200, A2), (300, B1), (400, B2)], "doc_id long, text string"
    )
    delta = spark.createDataFrame(
        [(500, D), (50, A2)], "doc_id long, text string"
    )
    reps = _collapse_reps(corpus)
    pairs = DD.minhash_lsh_pairs(
        reps.select(F.col("node").alias("doc_id"), "text"),
        num_hashes=8, bands=4, jaccard_threshold=0.5,
    ).select("doc_a", "doc_b")
    comps = GR.connected_components(pairs)
    # precondition: two standing components {100,200} and {300,400}
    standing = {r["node"]: r["component"] for r in comps.collect()}
    assert standing == {100: 100, 200: 100, 300: 300, 400: 300}
    stored_reps = reps.select(
        "fp", "node", "wt", T.token_count("text").alias("n_tok")
    )
    shc = DD.exploded_shingles(
        reps.select("node", "text"), id_col="node"
    ).distinct()
    bc = DD.band_key_rows(
        DD.minhash_signatures(shc, id_col="node", num_hashes=8),
        id_col="node",
        num_hashes=8,
        bands=4,
    )
    out = _merge_delta_into_clusters(
        delta, stored_reps, comps.select("node", "component"), shc, bc
    ).collect()
    release_all()
    assert len(out) == 1  # bridged into ONE cluster
    row = out[0]
    assert row["component"] == 50      # relabeled by the smaller exact dup
    assert row["canonical_doc"] == 50
    assert row["n_reps"] == 5          # 50(=A2 text), 100, 300, 400, 500
    assert row["total_docs"] == 6      # incl. wt-2 rep for the A2 text
    assert row["total_tokens"] == 6 * 30
    assert row["dup_tokens"] == 6 * 30 - 30


def test_jpeg_lossless_roundtrip_and_size_formula():
    """encode_jpeg_lossless -> decode_jpeg is the identity for
    arbitrary byte content at any geometry, and the container is
    EXACTLY _JPG_SIZE_BASE + 3*w*h bytes (the m16 oracle arithmetic)."""
    import random

    from data_engineer_project_spark.operators.multimodal import (
        _JPG_SIZE_BASE,
        decode_jpeg,
        encode_jpeg_lossless,
    )

    rng = random.Random(11)
    for w, h in ((16, 1), (17, 9), (63, 20), (1, 300)):
        px = bytes(rng.randrange(256) for _ in range(w * h))
        p = encode_jpeg_lossless(px, w)
        assert len(p) == _JPG_SIZE_BASE + 3 * w * h
        assert decode_jpeg(p).tobytes() == px
    # extreme content: all-0xFF pixels maximize byte stuffing; the
    # COM budget must still absorb the entropy stream
    px = b"\xff" * (40 * 12)
    p = encode_jpeg_lossless(px, 40)
    assert len(p) == _JPG_SIZE_BASE + 3 * 40 * 12
    assert decode_jpeg(p).tobytes() == px
    with pytest.raises(ValueError, match="non-empty"):
        encode_jpeg_lossless(b"", 8)


def test_jpeg_baseline_dct_roundtrip():
    """The SOF0 path: decode(encode_baseline(px)) approximates px
    within the quant=1 coefficient-rounding bound (a few levels), and
    block geometry / DC prediction / AC run-length all exercise."""
    import random

    import numpy as np

    from data_engineer_project_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_baseline,
    )

    rng = random.Random(13)
    for w, h in ((40, 24), (17, 5), (8, 8)):
        px = bytes(rng.randrange(256) for _ in range(w * h))
        out = decode_jpeg(encode_jpeg_baseline(px, w))
        assert out.shape == (w * h,)
        err = np.abs(
            out.astype(int) - np.frombuffer(px, dtype=np.uint8).astype(int)
        )
        assert err.max() <= 3, err.max()
    # a constant image is DC-only: EXACT through quantized DCT
    px = bytes([77]) * (32 * 16)
    assert decode_jpeg(encode_jpeg_baseline(px, 32)).tobytes() == px


def test_jpeg_decoder_quarantines_hostile_input():
    """Untrusted JPEG input must raise ValueError (quarantine), never
    OOM or crash: truncation at every prefix, bad Huffman tables,
    dimension bombs, progressive frames, junk markers."""
    import struct as st

    from data_engineer_project_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_lossless,
    )

    good = encode_jpeg_lossless(bytes(range(200)) * 2, 20)
    # every truncation point quarantines (ValueError), never crashes
    for cut in range(2, len(good), 7):
        with pytest.raises(ValueError):
            decode_jpeg(good[:cut])
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x00" * 32)

    def seg(marker, body):
        return bytes([0xFF, marker]) + st.pack(">H", 2 + len(body)) + body

    sof3 = seg(0xC3, st.pack(">BHHB", 8, 4, 4, 1) + b"\x01\x11\x00")
    sos = seg(0xDA, b"\x01\x01\x00" + bytes([1, 0, 0]))
    # Huffman table oversubscribed: 3 codes of length 1 overflow Kraft
    bad_dht = seg(0xC4, b"\x00" + bytes([3] + [0] * 15) + bytes(range(3)))
    with pytest.raises(ValueError, match="Huffman"):
        decode_jpeg(b"\xff\xd8" + bad_dht + sof3 + sos + b"\x00\xff\xd9")
    # dimension bomb: header declares 30000x30000 with 10 data bytes -
    # rejected BEFORE allocation
    bomb_sof = seg(0xC3, st.pack(">BHHB", 8, 30000, 30000, 1) + b"\x01\x11\x00")
    dht = seg(0xC4, b"\x00" + bytes([0, 0, 0, 9] + [0] * 12) + bytes(range(9)))
    with pytest.raises(ValueError, match="decode bound"):
        decode_jpeg(b"\xff\xd8" + dht + bomb_sof + sos + b"\x00" * 10 + b"\xff\xd9")
    # zero dimension
    zero_sof = seg(0xC3, st.pack(">BHHB", 8, 0, 4, 1) + b"\x01\x11\x00")
    with pytest.raises(ValueError, match="zero dimension"):
        decode_jpeg(b"\xff\xd8" + dht + zero_sof + sos + b"\x00" * 4 + b"\xff\xd9")
    # progressive with a hostile band spec (Ss=1 > Se=0 from the
    # lossless-style SOS) quarantines, not a crash; arithmetic-coded
    # frames stay a documented stub
    prog_sof = seg(0xC2, st.pack(">BHHB", 8, 4, 4, 1) + b"\x01\x11\x00")
    with pytest.raises(ValueError, match="spectral band"):
        decode_jpeg(b"\xff\xd8" + dht + prog_sof + sos + b"\x00" * 4 + b"\xff\xd9")
    arith_sof = seg(0xC9, st.pack(">BHHB", 8, 4, 4, 1) + b"\x01\x11\x00")
    with pytest.raises(NotImplementedError, match="SOF"):
        decode_jpeg(b"\xff\xd8" + dht + arith_sof + sos + b"\x00" * 4 + b"\xff\xd9")
    # entropy stream that exhausts before the pixel count is met
    short = seg(0xC3, st.pack(">BHHB", 8, 64, 64, 1) + b"\x01\x11\x00")
    with pytest.raises(ValueError, match="truncated"):
        decode_jpeg(b"\xff\xd8" + dht + short + sos + b"\x11" * 8 + b"\xff\xd9")


def test_m18_verify_restores_breadth_linearity(spark):
    """The SCALING.md breadth finding, pinned: on a 3x-breadth corpus
    (affine char bijections — distinct content, preserved within-
    replica structure) m10's hash-only gate over-merges via accidental
    dHash collisions while m18's histogram verify restores EXACT
    cluster linearity; on the base corpus (no collisions) the two
    contracts agree."""
    import shutil
    import sys
    import tempfile

    sys.path.insert(0, "/root/repo/tools")
    from breadth_stress import synth_breadth

    from data_engineer_project_spark.operators.cache import release_all
    from data_engineer_project_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    base_m10 = len(QUERIES["m10_image_neardup_clusters"].fn(spark, sf).collect())
    release_all()
    base_m18 = len(QUERIES["m18_image_neardup_verified"].fn(spark, sf).collect())
    release_all()
    assert base_m18 == base_m10  # no collision mass at base size
    tmp = tempfile.mkdtemp(prefix="m18t_")
    try:
        synth_breadth(sf, tmp, 3)
        b_m10 = len(QUERIES["m10_image_neardup_clusters"].fn(spark, tmp).collect())
        release_all()
        b_m18 = len(QUERIES["m18_image_neardup_verified"].fn(spark, tmp).collect())
        release_all()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert b_m18 == 3 * base_m18  # verified contract is exactly linear
    assert b_m10 > b_m18  # the hash-only contract over-merges here


def test_no_defaulted_multiparam_hof_lambdas():
    """Source-level guard for the Spark HOF arity pitfall found in
    round 10: `F.transform(arr, lambda s, k=k: ...)` silently receives
    (element, array_index) — the defaulted closure binding is SHADOWED
    by the index column and the expression computes garbage (s24's
    salts hashed a Column repr until this was caught). Any lambda
    passed to an array HOF with >= 2 params AND defaults is banned;
    bind per-iteration values with a closure helper instead."""
    import ast
    import pathlib

    hof = {
        "transform", "filter", "exists", "forall", "aggregate",
        "zip_with", "reduce", "map_filter", "transform_keys",
        "transform_values",
    }
    root = pathlib.Path(__file__).resolve().parents[1] / (
        "data_engineer_project_spark"
    )
    offenders = []
    for p in root.rglob("*.py"):
        for node in ast.walk(ast.parse(p.read_text())):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", "")
            if name not in hof:
                continue
            for arg in list(node.args) + [k.value for k in node.keywords]:
                if (
                    isinstance(arg, ast.Lambda)
                    and arg.args.defaults
                    and len(arg.args.args) >= 2
                ):
                    offenders.append((str(p), node.lineno))
    assert not offenders, (
        "defaulted multi-param lambdas passed to Spark HOFs (the second "
        f"param is the ARRAY INDEX, not your binding): {offenders}"
    )


def test_sweep_reconciles_dangling_shingle_catalog_entries(spark):
    """A no-spark sweep removes shingle directories but can't touch the
    metastore; the next session-backed sweep (default root) must drop
    catalog entries whose directories are gone — and leave entries
    with live directories alone."""
    import pathlib

    from data_engineer_project_spark.operators.similarity import sweep_stores

    root = pathlib.Path(
        "data_engineer_project_spark"
    ).resolve().parents[0] / "spark-warehouse"
    spark.sql("DROP TABLE IF EXISTS shingle_t10_live")
    spark.sql("DROP TABLE IF EXISTS shingle_t10_dangling")
    spark.range(3).write.saveAsTable("shingle_t10_live")
    spark.range(3).write.saveAsTable("shingle_t10_dangling")
    import shutil

    shutil.rmtree(root / "shingle_t10_dangling", ignore_errors=True)
    try:
        sweep_stores(spark)  # default root -> reconciliation runs
        names = {t.name for t in spark.catalog.listTables()}
        assert "shingle_t10_dangling" not in names
        assert "shingle_t10_live" in names
    finally:
        spark.sql("DROP TABLE IF EXISTS shingle_t10_live")
        spark.sql("DROP TABLE IF EXISTS shingle_t10_dangling")


# ---------------- round-10 third wave: progressive JPEG (SOF2) -----


_PROG_SCRIPTS = [
    None,  # default script: DC + AC bands, 2-level successive approx
    ((0, 0, 0, 0), (1, 63, 0, 0)),  # spectral selection only
    (  # deep successive approximation (3 refinement levels)
        (0, 0, 0, 3), (0, 0, 3, 2), (0, 0, 2, 1), (0, 0, 1, 0),
        (1, 63, 0, 3), (1, 63, 3, 2), (1, 63, 2, 1), (1, 63, 1, 0),
    ),
    # 63 one-coefficient bands (maximal EOB-run traffic)
    tuple([(0, 0, 0, 0)] + [(k, k, 0, 0) for k in range(1, 64)]),
]


def test_jpeg_progressive_equals_baseline_all_scripts():
    """decode(progressive) must equal decode(baseline) BIT-FOR-BIT on
    the same pixels: both encoders emit the same all-ones-quant DCT
    coefficients, so any divergence is a scan-machinery bug (EOB runs,
    refinement correction bits, point-transform shifts). Covers every
    script shape the decoder implements."""
    import numpy as np

    from data_engineer_project_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(42)
    pats = [
        (rng.randint(0, 256, 40 * 25).astype(np.uint8).tobytes(), 40),
        (bytes([128]) * 1600, 40),  # constant: all-EOB AC scans
        ((bytes([0] * 100 + [255] * 100)) * 8, 40),  # hard edges
        (bytes(range(200)) * 8, 40),  # ramp
        (rng.randint(0, 256, 7 * 3).astype(np.uint8).tobytes(), 7),
        (rng.randint(0, 256, 1).astype(np.uint8).tobytes(), 1),
    ]
    for px, w in pats:
        base = decode_jpeg(encode_jpeg_baseline(px, w))
        for script in _PROG_SCRIPTS:
            p = (
                encode_jpeg_progressive(px, w)
                if script is None
                else encode_jpeg_progressive(px, w, script=script)
            )
            assert np.array_equal(base, decode_jpeg(p)), (w, script)


def test_jpeg_progressive_three_component_subsampled():
    """Interleaved-DC + per-component-AC progressive color frames
    (including 4:2:0/4:2:2 subsampling and non-MCU-aligned edges)
    must match the independent baseline MCU decoder on the same
    coefficients — the two paths share only the assemble tail."""
    import struct as st

    import numpy as np

    import data_engineer_project_spark.operators.multimodal as mm

    def seg(marker, body):
        return bytes([0xFF, marker]) + st.pack(">H", 2 + len(body)) + body

    def build_pair(w, h, sub, seed):
        rng = np.random.default_rng(seed)
        hY, vY = sub
        cw, ch = -(-w // hY), -(-h // vY)
        bufs = [
            (rng.integers(0, 256, size=h * w, dtype=np.uint8).tobytes(), w),
            (rng.integers(0, 256, size=ch * cw, dtype=np.uint8).tobytes(), cw),
            (rng.integers(0, 256, size=ch * cw, dtype=np.uint8).tobytes(), cw),
        ]
        comps = []
        for i, (buf, bw_) in enumerate(bufs):
            blks = mm._dct_zigzag_blocks(buf, bw_)
            comps.append((i + 1, (hY, vY) if i == 0 else (1, 1), blks, -(-bw_ // 8)))
        mcux, mcuy = -(-w // (8 * hY)), -(-h // (8 * vY))
        ac_vals = bytes(r << 4 | s for r in range(16) for s in range(11))
        ac_code = {v: i for i, v in enumerate(ac_vals)}
        dqt = seg(0xDB, b"\x00" + b"\x01" * 64)
        dht_dc = seg(0xC4, b"\x00" + bytes([0, 0, 0, 12] + [0] * 12) + bytes(range(12)))
        dht_ac = seg(0xC4, b"\x10" + bytes([0] * 7 + [len(ac_vals)] + [0] * 8) + ac_vals)
        sof_body = st.pack(">BHHB", 8, h, w, 3) + bytes(
            [1, hY << 4 | vY, 0, 2, 0x11, 0, 3, 0x11, 0]
        )
        head = lambda m: b"\xff\xd8" + dqt + dht_dc + dht_ac + seg(m, sof_body)

        def mcu_block(ci, my, mx, by, bx):
            _, (hh, vv), blks, nbx = comps[ci]
            row, col = my * vv + by, mx * hh + bx
            if row >= len(blks) // nbx or col >= nbx:
                return [0] * 64  # MCU padding beyond the comp raster
            return blks[row * nbx + col]

        def emit_dc(bw, zz0, pred):
            d = zz0 - pred
            s = abs(d).bit_length()
            bw.write(s, 4)
            if s:
                bw.write(d if d >= 0 else d + (1 << s) - 1, s)
            return zz0

        # baseline: fully interleaved sequential MCUs
        bw = mm._BitWriter()
        preds = [0, 0, 0]
        for my in range(mcuy):
            for mx in range(mcux):
                for ci, (_, (hh, vv), _b, _n) in enumerate(comps):
                    for by in range(vv):
                        for bx in range(hh):
                            zz = mcu_block(ci, my, mx, by, bx)
                            preds[ci] = emit_dc(bw, zz[0], preds[ci])
                            k = 1
                            while k < 64:
                                if zz[k] == 0:
                                    nxt = [j for j in range(k, 64) if zz[j]]
                                    if not nxt:
                                        bw.write(ac_code[0], 8)
                                        break
                                    run, k = nxt[0] - k, nxt[0]
                                else:
                                    run = 0
                                while run > 15:
                                    bw.write(ac_code[0xF0], 8)
                                    run -= 16
                                v = zz[k]
                                s = abs(v).bit_length()
                                bw.write(ac_code[run << 4 | s], 8)
                                bw.write(v if v >= 0 else v + (1 << s) - 1, s)
                                k += 1
        sos_b = seg(0xDA, b"\x03" + b"\x01\x00\x02\x00\x03\x00" + bytes([0, 63, 0]))
        baseline = head(0xC0) + sos_b + bw.flush() + b"\xff\xd9"

        # progressive: one interleaved DC scan + one AC scan per comp
        bw = mm._BitWriter()
        preds = [0, 0, 0]
        for my in range(mcuy):
            for mx in range(mcux):
                for ci, (_, (hh, vv), _b, _n) in enumerate(comps):
                    for by in range(vv):
                        for bx in range(hh):
                            preds[ci] = emit_dc(
                                bw, mcu_block(ci, my, mx, by, bx)[0], preds[ci]
                            )
        prog = head(0xC2)
        prog += seg(
            0xDA, b"\x03" + b"\x01\x00\x02\x00\x03\x00" + bytes([0, 0, 0])
        ) + bw.flush()
        for cid, _sub, blks, _nbx in comps:
            bw = mm._BitWriter()
            mm._emit_ac_first(bw, blks, 1, 63, 0, ac_code)
            prog += seg(0xDA, b"\x01" + bytes([cid, 0]) + bytes([1, 63, 0]))
            prog += bw.flush()
        prog += b"\xff\xd9"
        return baseline, prog

    for w, h, sub, seed in [
        (16, 16, (1, 1), 0),
        (16, 16, (2, 2), 1),
        (24, 18, (2, 2), 2),
        (20, 12, (2, 1), 3),
    ]:
        b, p = build_pair(w, h, sub, seed)
        assert np.array_equal(mm.decode_jpeg(b), mm.decode_jpeg(p)), (w, h, sub)


def test_jpeg_progressive_hostile_quarantine():
    """Progressive-specific hostile shapes quarantine as ValueError
    before unbounded work: dimension bombs (checked at SOS, before
    the sparse state allocates), invalid spectral bands, interleaved
    AC scans, scan-count bombs, and truncation at every prefix of a
    real progressive payload."""
    import struct as st

    import numpy as np

    from data_engineer_project_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_progressive,
    )

    def seg(marker, body):
        return bytes([0xFF, marker]) + st.pack(">H", 2 + len(body)) + body

    dqt = seg(0xDB, b"\x00" + b"\x01" * 64)
    dht_dc = seg(0xC4, b"\x00" + bytes([0, 0, 0, 12] + [0] * 12) + bytes(range(12)))
    sof2 = seg(0xC2, st.pack(">BHHB", 8, 16, 16, 1) + b"\x01\x11\x00")
    sos_dc = seg(0xDA, b"\x01\x01\x00" + bytes([0, 0, 0]))

    bomb = seg(0xC2, st.pack(">BHHB", 8, 30000, 30000, 1) + b"\x01\x11\x00")
    with pytest.raises(ValueError, match="decode bound"):
        decode_jpeg(b"\xff\xd8" + dqt + dht_dc + bomb + sos_dc + b"\x00" * 8 + b"\xff\xd9")

    bad_dc = seg(0xDA, b"\x01\x01\x00" + bytes([0, 5, 0]))  # DC with Se=5
    with pytest.raises(ValueError, match="Se=0"):
        decode_jpeg(b"\xff\xd8" + dqt + dht_dc + sof2 + bad_dc + b"\x00" * 4 + b"\xff\xd9")

    sof2c = seg(
        0xC2,
        st.pack(">BHHB", 8, 16, 16, 3) + b"\x01\x11\x00\x02\x11\x00\x03\x11\x00",
    )
    multi_ac = seg(
        0xDA, b"\x03" + b"\x01\x00\x02\x00\x03\x00" + bytes([1, 63, 0])
    )
    with pytest.raises(ValueError, match="single-component"):
        decode_jpeg(
            b"\xff\xd8" + dqt + dht_dc + sof2c + multi_ac + b"\x00" * 4 + b"\xff\xd9"
        )

    # scan-count bomb: hundreds of 1-byte DC refinement scans
    body = b"\xff\xd8" + dqt + dht_dc + sof2
    body += seg(0xDA, b"\x01\x01\x00" + bytes([0, 0, 1])) + b"\x00\x00"
    body += (seg(0xDA, b"\x01\x01\x00" + bytes([0, 0, 1 << 4 | 0])) + b"\x00") * 200
    with pytest.raises(ValueError, match="too many progressive scans"):
        decode_jpeg(body + b"\xff\xd9")

    px = np.random.RandomState(9).randint(0, 256, 30 * 20).astype(np.uint8).tobytes()
    payload = encode_jpeg_progressive(px, 30)
    for cut in range(2, len(payload), 5):
        with pytest.raises(ValueError):
            decode_jpeg(payload[:cut])


def test_write_store_atomic_immune_to_dynamic_overwrite_mode(spark, tmp_path):
    """Regression (round-10 d95 flake): with the session carrying
    partitionOverwriteMode=dynamic (streaming sinks and
    write_partitioned_parquet set it and it leaks session-wide), a
    dynamic partitioned overwrite commits WITHOUT the _SUCCESS marker
    that every store reader keys on. write_store_atomic must publish
    a marker-complete store regardless of session conf."""
    from data_engineer_project_spark.operators.similarity import write_store_atomic

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df = spark.createDataFrame([(1, "en"), (2, "de")], "id int, lang string")
        store = tmp_path / "probe_store" / "k1"
        store.parent.mkdir()
        write_store_atomic(df, store, partition_by=["lang"])
        assert (store / "_SUCCESS").exists()
        parts = {p.name for p in store.iterdir() if p.name.startswith("lang=")}
        assert parts == {"lang=en", "lang=de"}
        # unpartitioned path too
        store2 = tmp_path / "probe_store" / "k2"
        write_store_atomic(df, store2)
        assert (store2 / "_SUCCESS").exists()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


@pytest.mark.slow
def test_s25_streamed_merge_is_multi_batch_and_equals_d99(spark):
    """The streamed cluster maintenance must (a) actually process
    multiple micro-batches (state chaining is the point — one batch
    would degenerate to d101) and (b) produce the same table as d99
    run from scratch on the full corpus."""
    from data_engineer_project_spark.operators.cache import release_all
    from data_engineer_project_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    out = QUERIES["s25_stream_cluster_maintenance"].fn(spark, sf)
    rows_s = [tuple(r) for r in out.collect()]
    assert out._s25_batches >= 2, "spill did not split into micro-batches"
    release_all()
    rows_d = [
        tuple(r)
        for r in QUERIES["d99_weighted_neardup_clusters"].fn(spark, sf).collect()
    ]
    release_all()
    assert rows_s == rows_d


def test_png_adam7_interlaced_decode():
    """Adam7 deinterlacing: a PNG whose seven passes are filtered
    independently (filters 0/1/2 chain prev-row WITHIN a pass — the
    new machinery; all five filters are covered by the shared
    unfilter's property test) must decode to the original pixels for
    gray and RGB, including geometries with EMPTY passes (w or h <= 4
    skips some of the seven)."""
    import struct
    import zlib

    import numpy as np

    import data_engineer_project_spark.operators.multimodal as mm

    def interlace_png(img, bpp):
        h, w = img.shape[:2]
        raw = bytearray()
        rng = np.random.default_rng(1)
        for x0, dx, y0, dy in mm._ADAM7:
            sub = img[y0::dy, x0::dx, :]
            ph, pw = sub.shape[:2]
            if ph == 0 or pw == 0:
                continue
            prev = np.zeros(pw * bpp, np.int32)
            for r in range(ph):
                row = sub[r].reshape(-1).astype(np.int32)
                ft = int(rng.integers(0, 3))
                if ft == 0:
                    enc = row.copy()
                elif ft == 1:
                    enc = (
                        row
                        - np.concatenate(
                            [np.zeros(bpp, np.int32), row[:-bpp]]
                        )[: len(row)]
                    ) & 0xFF
                else:
                    enc = (row - prev) & 0xFF
                raw.append(ft)
                raw.extend(int(v) & 0xFF for v in enc)
                prev = row
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0 if bpp == 1 else 2, 0, 0, 1)
        return (
            mm._PNG_SIG
            + mm._png_chunk(b"IHDR", ihdr)
            + mm._png_chunk(b"IDAT", zlib.compress(bytes(raw)))
            + mm._png_chunk(b"IEND", b"")
        )

    rng = np.random.default_rng(0)
    for w, h, bpp in [(16, 16, 1), (7, 5, 1), (1, 1, 1), (2, 3, 3), (13, 9, 3), (8, 1, 1), (1, 9, 3), (33, 17, 1)]:
        img = rng.integers(0, 256, size=(h, w, bpp), dtype=np.uint8)
        out = mm.decode_png(interlace_png(img, bpp))
        assert np.array_equal(out, img.reshape(-1)), (w, h, bpp)
    # truncated interlaced payload still quarantines
    good = interlace_png(rng.integers(0, 256, size=(9, 9, 1), dtype=np.uint8), 1)
    with pytest.raises(ValueError):
        mm.decode_png(good[:-13])  # cut IEND/IDAT tail


def test_pnm_16bit_and_core_bmp_decode():
    """16-bit PNM samples (big-endian u16, scaled round-half-up into
    the 8-bit sample space) and BITMAPCOREHEADER BMPs (u16 dims,
    3-byte palette, bottom-up) decode instead of raising — the two
    remaining cheap container stubs."""
    import struct

    import numpy as np

    import data_engineer_project_spark.operators.multimodal as mm

    rng = np.random.default_rng(3)
    w, h = 10, 4
    v16 = rng.integers(0, 65536, size=w * h, dtype=np.uint16)
    payload = b"P5\n%d %d\n65535\n" % (w, h) + v16.astype(">u2").tobytes()
    want = ((v16.astype(np.uint32) * 255 + 32767) // 65535).astype(np.uint8)
    assert np.array_equal(mm.decode_pnm(payload), want)
    v = np.array([0, 500, 1000], dtype=np.uint16)
    assert list(
        mm.decode_pnm(b"P5\n3 1\n1000\n" + v.astype(">u2").tobytes())
    ) == [0, 128, 255]
    with pytest.raises(ValueError, match="truncated"):
        mm.decode_pnm(payload[:-3])
    with pytest.raises(ValueError, match="maxval"):
        mm.decode_pnm(b"P5\n2 1\n70000\n\x00\x00\x00\x00")

    px = rng.integers(0, 256, size=20 * 6, dtype=np.uint8).tobytes()
    width, height = 20, 6
    stride = (width + 3) & ~3
    palette = b"".join(bytes((i, i, i)) for i in range(256))
    offset = 14 + 12 + len(palette)
    rows = [
        px[r * width : (r + 1) * width] + b"\x00" * (stride - width)
        for r in range(height)
    ]
    data = b"".join(reversed(rows))
    fh = b"BM" + struct.pack("<IHHI", offset + len(data), 0, 0, offset)
    core = struct.pack("<IHHHH", 12, width, height, 1, 8)
    assert mm.decode_bmp(fh + core + palette + data).tobytes() == px
    with pytest.raises(ValueError, match="DIB"):
        mm.decode_bmp(fh + struct.pack("<IHHHH", 16, width, height, 1, 8) + palette + data)


def test_jpeg_progressive_restart_intervals():
    """DRI/RSTn in progressive scans: byte-aligned restart markers
    between MCUs with DC-predictor and EOB-run resets — including
    intervals that force an EOB run to flush at every boundary — must
    not change the decoded pixels."""
    import numpy as np

    from data_engineer_project_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(17)
    for w, h in [(40, 25), (7, 3), (16, 16)]:
        px = rng.randint(0, 256, w * h).astype(np.uint8).tobytes()
        base = decode_jpeg(encode_jpeg_baseline(px, w))
        for ri in (1, 2, 7):
            prog = decode_jpeg(
                encode_jpeg_progressive(px, w, restart_interval=ri)
            )
            assert np.array_equal(base, prog), (w, h, ri)
    # all-EOB scans with runs crossing every restart boundary
    px = bytes([128]) * 1600
    base = decode_jpeg(encode_jpeg_baseline(px, 40))
    for ri in (1, 2, 5):
        assert np.array_equal(
            base,
            decode_jpeg(encode_jpeg_progressive(px, 40, restart_interval=ri)),
        )
    # a missing restart marker is hostile input
    payload = bytearray(encode_jpeg_progressive(px, 40, restart_interval=2))
    import re

    m = re.search(rb"\xff[\xd0-\xd7]", bytes(payload))
    assert m is not None
    payload[m.start() + 1] = 0x3F  # clobber the marker id
    with pytest.raises(ValueError):
        decode_jpeg(bytes(payload))


@pytest.mark.slow
def test_jpeg_decode_agrees_with_jvm_imageio_on_real_files(spark):
    """Spec conformance against an INDEPENDENT decoder: the JVM's
    javax.imageio, fed real-world files shipped in the environment —
    including a genuine progressive (SOF2) 4:2:2 photo. Luma must
    agree within IDCT rounding (the spec's tolerance); full-RGB
    agreement is only pinned on the 4:4:4 file because chroma
    UPSAMPLING method (our box replication vs ImageIO's) is a
    legitimate decoder choice on subsampled files. Skips when the
    sample files aren't present."""
    import glob
    import os

    import numpy as np

    from data_engineer_project_spark.operators.multimodal import decode_jpeg

    candidates = {
        "progressive_422": glob.glob(
            "/root/.rustup/toolchains/*/share/doc/rust/html/embedded-book/assets/f3.jpg"
        ),
        "baseline_444": glob.glob(
            "/root/.rustup/toolchains/*/share/doc/rust/html/embedded-book/assets/verify.jpeg"
        ),
    }
    if not all(candidates.values()):
        pytest.skip("reference sample files not present in this environment")

    jvm = spark._jvm

    def imageio_rgb(path):
        img = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(path))
        w, h = img.getWidth(), img.getHeight()
        out = np.zeros((h, w, 3), np.uint8)
        for y in range(h):
            a = np.array(img.getRGB(0, y, w, 1, None, 0, w), dtype=np.int64)
            out[y, :, 0] = (a >> 16) & 0xFF
            out[y, :, 1] = (a >> 8) & 0xFF
            out[y, :, 2] = a & 0xFF
        return out

    def luma(x):
        return 0.299 * x[..., 0] + 0.587 * x[..., 1] + 0.114 * x[..., 2]

    # the progressive sample must exercise BOTH successive-
    # approximation refinement kinds (DC Ah>0 and AC Ah>0), not just
    # spectral selection — otherwise this test would silently validate
    # only part of the multi-scan machinery
    import data_engineer_project_spark.operators.multimodal as mm

    d = open(sorted(candidates["progressive_422"])[0], "rb").read()
    pos, dc_refine, ac_refine = 2, False, False
    while True:
        marker, seg, pos = mm._next_jpeg_segment(d, pos)
        if marker == 0xD9:
            break
        if marker == 0xDA:
            ns = seg[0]
            ss, _se, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
            if ahal >> 4:
                if ss == 0:
                    dc_refine = True
                else:
                    ac_refine = True
            pos = mm._skip_jpeg_entropy(d, pos)
    assert dc_refine and ac_refine

    for kind, paths in candidates.items():
        path = sorted(paths)[0]
        if not os.path.exists(path):
            continue
        ref = imageio_rgb(path)
        h, w = ref.shape[:2]
        mine = decode_jpeg(open(path, "rb").read()).reshape(h, w, 3)
        dl = np.abs(luma(ref.astype(float)) - luma(mine.astype(float)))
        assert dl.mean() < 1.0, (kind, dl.mean())
        assert dl.max() <= 4.0, (kind, dl.max())
        if kind == "baseline_444":  # no chroma upsampling in play
            dd = np.abs(ref.astype(int) - mine.astype(int))
            assert dd.max() <= 4, (kind, dd.max())


def test_png_palette_alpha_and_subbyte_depths():
    """PNG color types 3 (palette, depths 1/2/4/8), 4 (gray+alpha),
    6 (RGBA) and sub-byte grayscale decode: palette expands to RGB,
    alpha drops (downstream feature extractors consume 1- or
    3-channel pixels), sub-byte samples unpack MSB-first and gray
    scales into the 8-bit space. Covers interlaced palette too (pass
    rows pack independently). Hostile shapes (missing PLTE,
    out-of-range index, bad PLTE length) quarantine."""
    import struct
    import zlib

    import numpy as np

    import data_engineer_project_spark.operators.multimodal as mm

    def chunked(w, h, depth, color, rows, palette=None, interlace=0):
        ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
        out = mm._PNG_SIG + mm._png_chunk(b"IHDR", ihdr)
        if palette is not None:
            out += mm._png_chunk(b"PLTE", palette)
        out += mm._png_chunk(b"IDAT", zlib.compress(rows))
        return out + mm._png_chunk(b"IEND", b"")

    # palette depth 8: indices map through PLTE to RGB
    pal = bytes(range(30))  # 10 entries
    rows = b"\x00" + bytes([0, 3, 9, 2]) + b"\x00" + bytes([1, 1, 0, 5])
    out = mm.decode_png(chunked(4, 2, 8, 3, rows, pal)).reshape(2, 4, 3)
    assert list(out[0, 1]) == [9, 10, 11]  # entry 3
    assert list(out[1, 3]) == [15, 16, 17]  # entry 5

    # palette depth 2: packed 4 px/byte, MSB-first
    rows = b"\x00" + bytes([0b00011011])  # indices 0,1,2,3
    out = mm.decode_png(chunked(4, 1, 2, 3, rows, pal)).reshape(4, 3)
    assert [list(r) for r in out] == [[0, 1, 2], [3, 4, 5], [6, 7, 8], [9, 10, 11]]

    # depth-1 grayscale scales to 0/255
    rows = b"\x00" + bytes([0b10100000])
    assert list(mm.decode_png(chunked(3, 1, 1, 0, rows))) == [255, 0, 255]

    # RGBA and gray+alpha drop alpha
    rows = b"\x00" + bytes([10, 20, 30, 99, 40, 50, 60, 7])
    assert list(mm.decode_png(chunked(2, 1, 8, 6, rows))) == [10, 20, 30, 40, 50, 60]
    rows = b"\x00" + bytes([77, 200, 88, 0])
    assert list(mm.decode_png(chunked(2, 1, 8, 4, rows))) == [77, 88]

    # interlaced palette (Adam7, sub-byte rows pack per pass)
    img = np.arange(16, dtype=np.uint8).reshape(4, 4) % 10
    raw = bytearray()
    for x0, dx, y0, dy in mm._ADAM7:
        sub = img[y0::dy, x0::dx]
        ph, pw = sub.shape
        if ph == 0 or pw == 0:
            continue
        for r in range(ph):
            raw.append(0)
            raw.extend(int(v) for v in sub[r])
    out = mm.decode_png(chunked(4, 4, 8, 3, bytes(raw), pal, interlace=1))
    want = np.array([list(pal[3 * i : 3 * i + 3]) for i in img.reshape(-1)])
    assert np.array_equal(out.reshape(-1, 3), want)

    # hostile: missing PLTE / OOB index / bad PLTE length
    rows = b"\x00" + bytes([0, 3, 9, 2]) + b"\x00" + bytes([1, 1, 0, 5])
    with pytest.raises(ValueError, match="PLTE"):
        mm.decode_png(chunked(4, 2, 8, 3, rows))
    with pytest.raises(ValueError, match="palette index"):
        mm.decode_png(chunked(4, 2, 8, 3, b"\x00" + bytes([200, 0, 0, 0]) + b"\x00" + bytes(4), pal))
    with pytest.raises(ValueError, match="PLTE"):
        mm.decode_png(chunked(4, 2, 8, 3, rows, palette=b"\x01\x02"))


def test_png_decode_agrees_with_jvm_imageio_on_real_files(spark):
    """PNG is lossless, so against the JVM's independent ImageIO
    decoder the agreement bar is BIT-EXACT — covering real palette
    (depths 8 and 2) and RGBA files shipped in the environment.
    Skips when the sample files aren't present."""
    import os

    import numpy as np

    from data_engineer_project_spark.operators.multimodal import decode_png

    files = [
        "/usr/share/gitweb/static/git-logo.png",
        "/usr/share/gitweb/static/git-favicon.png",
        "/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/multi-channel/BGRA.png",
    ]
    files = [f for f in files if os.path.exists(f)]
    if not files:
        pytest.skip("reference sample files not present in this environment")
    jvm = spark._jvm
    for f in files:
        img = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(f))
        w, h = img.getWidth(), img.getHeight()
        ref = np.zeros((h, w, 3), np.uint8)
        for y in range(h):
            a = np.array(img.getRGB(0, y, w, 1, None, 0, w), dtype=np.int64)
            ref[y, :, 0] = (a >> 16) & 0xFF
            ref[y, :, 1] = (a >> 8) & 0xFF
            ref[y, :, 2] = a & 0xFF
        mine = decode_png(open(f, "rb").read()).reshape(h, w, -1)
        if mine.shape[2] == 1:
            mine = np.repeat(mine, 3, axis=2)
        assert np.array_equal(ref, mine), f


def test_encoders_readable_by_jvm_imageio(spark):
    """Interoperability of the ENCODERS: containers this engine writes
    must be readable by an independent decoder (the JVM's ImageIO),
    not just by our own. PNG and BMP round through bit-exact; the
    all-ones-quant JPEG variants (baseline, progressive, progressive
    with restart markers) decode within ±1 — pure IDCT rounding.
    Raster samples are compared directly (getRGB would route gray
    through Java's gray->sRGB gamma transform). SOF3 lossless is the
    one arm ImageIO cannot read — a documented trade for bit-exact
    pixel parity in the fixture rotation."""
    import os
    import tempfile

    import numpy as np

    import data_engineer_project_spark.operators.multimodal as mm

    jvm = spark._jvm
    gw = spark.sparkContext._gateway

    def imageio_gray(payload, suffix):
        with tempfile.NamedTemporaryFile(suffix=suffix, delete=False) as f:
            f.write(payload)
            path = f.name
        try:
            img = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(path))
            assert img is not None
            w, h = img.getWidth(), img.getHeight()
            raster = img.getRaster()
            out = np.zeros((h, w), np.int32)
            buf = gw.new_array(gw.jvm.int, w)
            for y in range(h):
                out[y] = list(raster.getSamples(0, y, w, 1, 0, buf))
            return out
        finally:
            os.unlink(path)

    rng = np.random.RandomState(2)
    w = 40
    px = rng.randint(0, 256, w * 25).astype(np.uint8).tobytes()
    gray = np.frombuffer(px, np.uint8).reshape(25, w).astype(np.int32)
    assert (imageio_gray(mm.encode_png(px, w), ".png") == gray).all()
    assert (imageio_gray(mm.encode_bmp8(px, w), ".bmp") == gray).all()
    for payload in (
        mm.encode_jpeg_baseline(px, w),
        mm.encode_jpeg_progressive(px, w),
        mm.encode_jpeg_progressive(px, w, restart_interval=3),
    ):
        d = np.abs(imageio_gray(payload, ".jpg") - gray)
        assert d.max() <= 1, d.max()


def test_gif_roundtrip_interlace_and_hostile():
    """GIF decode: encode_gif -> decode_gif is the identity (gray
    palette: index == value) for plain AND 4-pass interlaced frames;
    truncation at every prefix and single-byte corruption quarantine
    as ValueError; dimension bombs, canvas-escaping frames, and
    palette-range violations are rejected before unbounded work."""
    import struct

    import numpy as np

    from data_engineer_project_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
    )

    rng = np.random.RandomState(4)
    for w, h in [(40, 25), (1, 1), (7, 3), (255, 2), (256, 1)]:
        px = rng.randint(0, 256, w * h).astype(np.uint8).tobytes()
        # gray palettes collapse to one sample per pixel
        want = np.frombuffer(px, np.uint8)
        for il in (False, True):
            assert np.array_equal(decode_gif(encode_gif(px, w, interlace=il)), want)

    px30 = rng.randint(0, 256, 30 * 20).astype(np.uint8).tobytes()
    payload = bytearray(encode_gif(px30, 30))
    want30 = np.frombuffer(px30, np.uint8)
    for cut in range(1, len(payload), 7):
        # a prefix either still contains the complete first frame
        # (decode_gif stops there — trailer bytes are not required)
        # and must decode IDENTICALLY, or it must quarantine
        try:
            out = decode_gif(bytes(payload[:cut]))
        except ValueError:
            continue
        assert np.array_equal(out, want30), cut
    for pos in range(0, len(payload), 11):
        for val in (0x00, 0xFF, payload[pos] ^ 0x55):
            orig = payload[pos]
            payload[pos] = val
            try:
                decode_gif(bytes(payload))
            except ValueError:
                pass
            payload[pos] = orig

    # dimension bomb rejected at the header
    bomb = bytearray(encode_gif(b"\x00\x01\x02\x03", 2))
    struct.pack_into("<HH", bomb, 6, 30000, 30000)
    with pytest.raises(ValueError, match="decode bound"):
        decode_gif(bytes(bomb))
    # frame rectangle escaping the canvas (descriptor sits at a fixed
    # offset: 13-byte header + 768-byte gray global color table)
    esc = bytearray(encode_gif(b"\x00\x01\x02\x03", 2))
    assert esc[781] == 0x2C
    struct.pack_into("<HH", esc, 782, 1, 0)  # left=1 -> 1+2 > 2
    with pytest.raises(ValueError, match="outside the canvas"):
        decode_gif(bytes(esc))


def test_gif_cross_validated_against_jvm_imageio(spark):
    """Two-directional conformance through the JVM's independent GIF
    codec: (a) encode_gif output (plain and interlaced) reads back
    bit-exact through ImageIO's reader; (b) a GIF written by ImageIO's
    OWN writer — true variable-width LZW with growing code sizes, not
    our fixed-width stream — decodes bit-exact through decode_gif."""
    import os
    import tempfile

    import numpy as np

    from data_engineer_project_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
    )

    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    rng = np.random.RandomState(5)
    w, h = 40, 25
    gray = rng.randint(0, 256, (h, w)).astype(np.uint8)

    for il in (False, True):
        with tempfile.NamedTemporaryFile(suffix=".gif", delete=False) as f:
            f.write(encode_gif(gray.tobytes(), w, interlace=il))
            path = f.name
        try:
            img = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(path))
            assert img is not None
            raster = img.getRaster()
            buf = gw.new_array(gw.jvm.int, w)
            out = np.zeros((h, w), np.int32)
            for y in range(h):
                out[y] = list(raster.getSamples(0, y, w, 1, 0, buf))
            assert (out == gray).all(), f"interlace={il}"
        finally:
            os.unlink(path)

    bi = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_INT_RGB
    )
    for y in range(h):
        for x in range(w):
            v = int(gray[y, x])
            bi.setRGB(x, y, (v << 16) | (v << 8) | v)
    with tempfile.NamedTemporaryFile(suffix=".gif", delete=False) as f:
        path = f.name
    try:
        jvm.javax.imageio.ImageIO.write(bi, "gif", jvm.java.io.File(path))
        payload = open(path, "rb").read()
        mine = decode_gif(payload)
        img2 = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(path))
        ref = np.zeros((h, w, 3), np.uint8)
        for y in range(h):
            a = np.array(img2.getRGB(0, y, w, 1, None, 0, w), dtype=np.int64)
            ref[y, :, 0] = (a >> 16) & 0xFF
            ref[y, :, 1] = (a >> 8) & 0xFF
            ref[y, :, 2] = a & 0xFF
        if mine.size == h * w:  # gray palette collapsed to one channel
            assert np.array_equal(ref[:, :, 0], ref[:, :, 1])
            assert np.array_equal(ref[:, :, 0], mine.reshape(h, w))
        else:
            assert np.array_equal(ref, mine.reshape(h, w, 3))
    finally:
        os.unlink(path)


def test_m19_animated_gif_equals_m11_pair_semantics(spark):
    """The animated-GIF arm must reproduce m11's pair decisions where
    their conventions coincide: every (doc_a, doc_b) m19 reports comes
    from genuinely decoding multi-frame containers, and on this corpus
    the pair set matches m11's (zero-padding the tail frame is
    additive-identity under the position-weighted fold; only the
    length term differs, which cannot split frames that agree)."""
    from data_engineer_project_spark.operators.cache import release_all
    from data_engineer_project_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    m19 = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["m19_gif_animation_neardup"].fn(spark, sf).collect()
    }
    release_all()
    m11 = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["m11_video_neardup_pairs"].fn(spark, sf).collect()
    }
    release_all()
    assert m19 == m11 and len(m19) > 0


def test_animated_gif_walk_and_fingerprints():
    """Multi-frame machinery specifics: the walk yields every frame of
    an animation (running-canvas composite), partial-canvas frames
    composite onto the previous state, and gif_frame_fingerprints
    dedups identical frames within one animation."""
    import numpy as np

    import data_engineer_project_spark.operators.multimodal as mm

    rng = np.random.RandomState(6)
    frames = [rng.randint(0, 256, 64).astype(np.uint8).tobytes() for _ in range(4)]
    frames.append(frames[1])  # duplicate frame inside the animation
    p = mm.encode_gif_animated(frames, 8)
    got = [mm._gif_expand(c, g).tobytes() for c, g in mm._gif_walk(p)]
    assert got == frames
    assert mm.decode_gif(p).tobytes() == frames[0]

    # distinct-fingerprint fold: 5 frames, 4 distinct
    folds = set()
    for f in frames:
        a = np.frombuffer(f, np.uint8).astype(np.int64)
        ws = int((a * (np.arange(64) + 1)).sum())
        folds.add(ws * 65 + 64)
    assert len(folds) == 4

    # partial-canvas second frame composites onto the first
    import struct

    base = bytes(range(64))
    p2 = bytearray(mm.encode_gif_animated([base], 8))
    # append a 2x2 patch at (left=1, top=1) with LCT-free descriptor
    patch = bytes([255, 254, 253, 252])
    blk = b"\x2c" + struct.pack("<HHHH", 1, 1, 2, 2) + bytes([0x00, 8])
    blk += mm._gif_lzw_pack(patch)
    p2 = p2[:-1] + blk + b"\x3b"
    outs = [mm._gif_expand(c, g) for c, g in mm._gif_walk(bytes(p2))]
    assert len(outs) == 2
    want = np.frombuffer(base, np.uint8).reshape(8, 8).copy()
    want[1, 1:3] = [255, 254]
    want[2, 1:3] = [253, 252]
    assert np.array_equal(outs[1].reshape(8, 8), want)
    assert np.array_equal(outs[0], np.frombuffer(base, np.uint8))


def test_tiff_roundtrip_packbits_and_hostile():
    """Baseline TIFF decode: encode_tiff_gray -> decode_tiff is the
    identity for uncompressed AND PackBits strips (runs folded,
    literals chunked); truncation and single-byte corruption
    quarantine as ValueError/NotImplementedError; dimension bombs and
    strip lies are rejected before unbounded work."""
    import struct

    import numpy as np

    from data_engineer_project_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff_gray,
    )

    rng = np.random.RandomState(8)
    for w, h in [(40, 25), (1, 1), (7, 3), (128, 2)]:
        px = rng.randint(0, 256, w * h).astype(np.uint8).tobytes()
        for pb in (False, True):
            assert decode_tiff(encode_tiff_gray(px, w, packbits=pb)).tobytes() == px
    runs = (bytes([7]) * 300 + bytes(range(100)) + bytes([0]) * 200) * 4
    assert decode_tiff(encode_tiff_gray(runs, 40, packbits=True)).tobytes() == runs

    px30 = rng.randint(0, 256, 30 * 20).astype(np.uint8).tobytes()
    payload = bytearray(encode_tiff_gray(px30, 30, packbits=True))
    for cut in range(1, len(payload), 5):
        # a prefix either still contains the whole strip + IFD entry
        # table (the trailing next-IFD pointer is not required) and
        # must decode IDENTICALLY, or it must quarantine
        try:
            out = decode_tiff(bytes(payload[:cut]))
        except (ValueError, NotImplementedError):
            continue
        assert out.tobytes() == px30, cut
    for pos in range(0, len(payload), 7):
        for val in (0x00, 0xFF, payload[pos] ^ 0x55):
            orig = payload[pos]
            payload[pos] = val
            try:
                decode_tiff(bytes(payload))
            except (ValueError, NotImplementedError):
                pass
            payload[pos] = orig

    # dimension bomb: rewrite ImageWidth/ImageLength to 30000 each
    bomb = bytearray(encode_tiff_gray(b"\x01\x02\x03\x04", 2))
    ifd = struct.unpack_from("<I", bomb, 4)[0]
    for k in range(struct.unpack_from("<H", bomb, ifd)[0]):
        tag = struct.unpack_from("<H", bomb, ifd + 2 + 12 * k)[0]
        if tag in (256, 257):
            struct.pack_into("<I", bomb, ifd + 2 + 12 * k + 8, 30000)
    with pytest.raises(ValueError, match="decode bound"):
        decode_tiff(bytes(bomb))


def test_tiff_cross_validated_against_jvm_imageio(spark):
    """Two-directional TIFF conformance through the JVM: our
    uncompressed and PackBits containers read back bit-exact through
    ImageIO, and a TIFF written by ImageIO's OWN writer (big-endian
    MM, its choice of strip layout) decodes bit-exact through
    decode_tiff — covering the byte-order and strip-assembly paths our
    encoder never emits."""
    import os
    import tempfile

    import numpy as np

    from data_engineer_project_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff_gray,
    )

    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    rng = np.random.RandomState(9)
    w, h = 40, 25
    gray = rng.randint(0, 256, (h, w)).astype(np.uint8)

    def imageio_gray(payload):
        with tempfile.NamedTemporaryFile(suffix=".tiff", delete=False) as f:
            f.write(payload)
            path = f.name
        try:
            img = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(path))
            assert img is not None
            raster = img.getRaster()
            buf = gw.new_array(gw.jvm.int, w)
            out = np.zeros((h, w), np.int32)
            for y in range(h):
                out[y] = list(raster.getSamples(0, y, w, 1, 0, buf))
            return out
        finally:
            os.unlink(path)

    for pb in (False, True):
        assert (imageio_gray(encode_tiff_gray(gray.tobytes(), w, packbits=pb)) == gray).all()

    bi = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_BYTE_GRAY
    )
    wr = bi.getRaster()
    buf = gw.new_array(gw.jvm.int, w)
    for y in range(h):
        for x in range(w):
            buf[x] = int(gray[y, x])
        wr.setSamples(0, y, w, 1, 0, buf)
    with tempfile.NamedTemporaryFile(suffix=".tiff", delete=False) as f:
        path = f.name
    try:
        assert jvm.javax.imageio.ImageIO.write(bi, "tiff", jvm.java.io.File(path))
        payload = open(path, "rb").read()
        assert payload[:4] == b"MM\x00\x2a"  # the byte order we never emit
        assert (decode_tiff(payload).reshape(h, w) == gray).all()
    finally:
        os.unlink(path)


@pytest.mark.slow
def test_merge_state_chain_is_partition_invariant(spark):
    """The s25 exactness argument, stressed directly: folding
    _merge_delta_state over ANY partition of the delta, in ANY batch
    order, must produce the same rollup as d99 run from scratch on
    corpus+delta — exact-dup weight bumps, rename chains across
    batches, novel-vs-novel near-dup bridges, and band-table growth
    all have to commute for this to hold."""
    import numpy as np
    from pyspark.sql import functions as F

    import data_engineer_project_spark.operators.dedup as DD
    import data_engineer_project_spark.operators.graph as GR
    from data_engineer_project_spark.functions import text as T
    from data_engineer_project_spark.operators.cache import release_all, tracked_persist
    from data_engineer_project_spark.queries import QUERIES
    from data_engineer_project_spark.operators.neardup import (
        collapse_exact as _collapse_reps,
        weighted_rollup as _cluster_rollup,
    )
    from data_engineer_project_spark.queries.llm_pipeline import (
        _D100_NB,
        _D100_NH,
        _merge_delta_state,
        _SPARK_BUCKET,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    bucket = F.expr(_SPARK_BUCKET)
    corpus = docs.filter(bucket < 90)
    delta = docs.filter(bucket >= 90).collect()

    reps = tracked_persist(_collapse_reps(corpus))
    shc = tracked_persist(
        DD.exploded_shingles(reps.select("node", "text"), id_col="node").distinct()
    )
    pairs = DD.minhash_lsh_pairs_from_shingles(
        shc, id_col="node", num_hashes=_D100_NH, bands=_D100_NB,
        jaccard_threshold=0.5,
    ).select("doc_a", "doc_b")
    sigc = DD.minhash_signatures(shc, id_col="node", num_hashes=_D100_NH)
    base_state = {
        "reps": reps.select("fp", "node", "wt", T.token_count("text").alias("n_tok")),
        "comps": GR.connected_components(pairs).select("node", "component"),
        "sh": shc,
        "bands": DD.band_key_rows(sigc, id_col="node", num_hashes=_D100_NH, bands=_D100_NB),
    }
    base_state = {k: v.localCheckpoint(eager=True) for k, v in base_state.items()}

    want = [
        tuple(r)
        for r in QUERIES["d99_weighted_neardup_clusters"].fn(spark, sf).collect()
    ]
    release_all()

    schema = "doc_id long, text string"
    for seed, ngroups in [(0, 2), (1, 4)]:
        rng = np.random.RandomState(seed)
        assign = rng.randint(0, ngroups, len(delta))
        st = base_state
        for g in rng.permutation(ngroups):
            rows = [r for r, a in zip(delta, assign) if a == g]
            if not rows:
                continue
            batch = spark.createDataFrame(rows, schema)
            st = {
                k: v.localCheckpoint(eager=True)
                for k, v in _merge_delta_state(batch, st).items()
            }
        got = [tuple(r) for r in _cluster_rollup(st["reps"], st["comps"]).collect()]
        release_all()
        assert got == want, (seed, ngroups)


def test_wav_roundtrip_hostile_and_16bit():
    """WAV codec: 8-bit PCM roundtrips bit-exact with an exact
    44 + n + pad container size; 16-bit signed LE scales into the
    unsigned-8 sample space; truncation/corruption quarantine; the
    data-chunk bound rejects declared-size bombs."""
    import struct

    import numpy as np

    from data_engineer_project_spark.operators.multimodal import (
        decode_wav,
        encode_wav_pcm8,
    )

    rng = np.random.RandomState(10)
    for n in (1, 2, 255, 1024, 333):
        s = rng.randint(0, 256, n).astype(np.uint8).tobytes()
        p = encode_wav_pcm8(s)
        assert len(p) == 44 + n + (n % 2)
        assert decode_wav(p).tobytes() == s

    payload = bytearray(encode_wav_pcm8(rng.randint(0, 256, 600).astype(np.uint8).tobytes()))
    for cut in range(1, len(payload), 5):
        with pytest.raises((ValueError, NotImplementedError)):
            decode_wav(bytes(payload[:cut]))
    for pos in range(0, len(payload), 3):
        for val in (0x00, 0xFF, payload[pos] ^ 0x55):
            orig = payload[pos]
            payload[pos] = val
            try:
                decode_wav(bytes(payload))
            except (ValueError, NotImplementedError):
                pass
            payload[pos] = orig

    v = np.array([-32768, -1, 0, 255, 32767], dtype="<i2")
    p16 = (
        b"RIFF" + struct.pack("<I", 46) + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", 10) + v.tobytes()
    )
    assert list(decode_wav(p16)) == [0, 127, 128, 128, 255]


def test_m20_wav_equals_m14_pair_semantics(spark):
    """Every pair m20 reports comes from PARSING real WAV containers;
    8-bit PCM is bit-exact so the pair set must equal m14's."""
    from data_engineer_project_spark.operators.cache import release_all
    from data_engineer_project_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    m20 = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["m20_wav_audio_neardup"].fn(spark, sf).collect()
    }
    release_all()
    m14 = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["m14_audio_neardup_pairs"].fn(spark, sf).collect()
    }
    release_all()
    assert m20 == m14 and len(m20) > 0


def test_wav_cross_validated_against_jvm_javax_sound(spark):
    """Two-directional WAV conformance through the JVM's independent
    audio stack: our 8-bit PCM containers stream back bit-exact
    through javax.sound.sampled, and a WAV written by the JVM's OWN
    writer decodes bit-exact through decode_wav."""
    import os
    import tempfile

    import numpy as np

    from data_engineer_project_spark.operators.multimodal import (
        decode_wav,
        encode_wav_pcm8,
    )

    jvm = spark._jvm
    rng = np.random.RandomState(11)
    samples = rng.randint(0, 256, 600).astype(np.uint8).tobytes()

    # direction 1: our encode -> javax.sound read
    with tempfile.NamedTemporaryFile(suffix=".wav", delete=False) as f:
        f.write(encode_wav_pcm8(samples))
        path = f.name
    try:
        ais = jvm.javax.sound.sampled.AudioSystem.getAudioInputStream(
            jvm.java.io.File(path)
        )
        fmt = ais.getFormat()
        assert fmt.getSampleSizeInBits() == 8 and fmt.getChannels() == 1
        # py4j passes arrays by value, so read(buf) mutations never
        # come back — readAllBytes returns the data directly
        out = bytes(ais.readAllBytes())
        assert out == samples
    finally:
        os.unlink(path)

    # direction 2: JVM-written WAV -> our decode (py4j converts a
    # Python bytearray to byte[] directly)
    afmt = jvm.javax.sound.sampled.AudioFormat(
        jvm.javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED,
        8000.0, 8, 1, 1, 8000.0, False,
    )
    bais = jvm.java.io.ByteArrayInputStream(bytearray(samples))
    ais = jvm.javax.sound.sampled.AudioInputStream(bais, afmt, len(samples))
    with tempfile.NamedTemporaryFile(suffix=".wav", delete=False) as f:
        path = f.name
    try:
        jvm.javax.sound.sampled.AudioSystem.write(
            ais,
            jvm.javax.sound.sampled.AudioFileFormat.Type.WAVE,
            jvm.java.io.File(path),
        )
        payload = open(path, "rb").read()
        assert decode_wav(payload).tobytes() == samples
    finally:
        os.unlink(path)
