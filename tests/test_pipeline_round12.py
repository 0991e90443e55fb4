"""Round-12 pins: store/cache keying by derivation (manifest + plan
identity), the cross-session-stable plan hash, and the skew-guard
verdict cache's hardened key.

Context (r11 verdict item 4 + advice): `source_manifest_key` keyed
trained-artifact stores by file manifest + `semanticHash()`, but that
hash is NOT stable across JVMs — the standing stores were silently
session-local. Round 12 replaces it with `plan_identity` (md5 of the
canonicalized-plan string + schema JSON, measured byte-identical
across processes) and extends the same keying standard to
`neardup.corpus_key` (d101/s25 cluster store) and the skew-guard
PLAIN-verdict cache.
"""

from __future__ import annotations

import pandas as pd
import pytest


def test_plan_identity_by_derivation_not_exprids(spark, tmp_path):
    """Two constructions of the SAME derivation agree (even though
    their analyzed plans carry different expression ids); a different
    filter or projection over the same files differs; schema-only
    differences (wide projections) are distinguished via the schema
    term."""
    import data_engineer_project_spark.operators.similarity as SIM

    p = str(tmp_path / "t.parquet")
    pd.DataFrame(
        {"a": [1, 2, 3], "b": ["x", "y", "z"], "c": [1.0, 2.0, 3.0]}
    ).to_parquet(p)

    d1 = spark.read.parquet(p).filter("a > 1").select("a", "b")
    d2 = spark.read.parquet(p).filter("a > 1").select("a", "b")
    assert SIM.plan_identity(d1) == SIM.plan_identity(d2)

    d3 = spark.read.parquet(p).filter("a > 2").select("a", "b")
    assert SIM.plan_identity(d3) != SIM.plan_identity(d1)

    d4 = spark.read.parquet(p).filter("a > 1").select("a", "c")
    assert SIM.plan_identity(d4) != SIM.plan_identity(d1)


def test_source_manifest_key_distinguishes_derivations(spark, tmp_path):
    """The r11 correctness property, now pinned directly: two
    different derivations over the SAME files never share a store
    key — and the key is reproducible for the same derivation."""
    import data_engineer_project_spark.operators.similarity as SIM

    p = str(tmp_path / "v.parquet")
    pd.DataFrame(
        {"vec_id": list(range(10)), "x": [float(i) for i in range(10)]}
    ).to_parquet(p)

    base = spark.read.parquet(p)
    k_all = SIM.source_manifest_key(base)
    k_all2 = SIM.source_manifest_key(spark.read.parquet(p))
    k_filtered = SIM.source_manifest_key(base.filter("vec_id < 5"))
    assert k_all is not None and k_filtered is not None
    assert k_all == k_all2
    assert k_filtered != k_all


def test_corpus_manifest_key_distinguishes_derivations(spark, tmp_path):
    """The d101/s25 cluster-store key meets the same standard as the
    trained-artifact stores (r11 verdict item 4): a differently-
    filtered frame over the same files gets a DIFFERENT standing-store
    key, so it can never silently reuse cluster state built for
    another derivation."""
    import data_engineer_project_spark.operators.neardup as ND

    p = str(tmp_path / "docs.parquet")
    pd.DataFrame(
        {"doc_id": [1, 2, 3, 4], "text": ["aa", "bb", "cc", "dd"]}
    ).to_parquet(p)

    full = spark.read.parquet(p).select("doc_id", "text")
    half = spark.read.parquet(p).filter("doc_id <= 2").select("doc_id", "text")
    k_full = ND.corpus_key(full)
    k_half = ND.corpus_key(half)
    assert k_full.startswith("f") and k_half.startswith("f")
    assert k_full != k_half
    # reproducible for the same derivation (fresh plan objects)
    assert k_full == ND.corpus_key(
        spark.read.parquet(p).select("doc_id", "text")
    )


def test_probe_verdict_cache_keys_on_derivation_and_rewrite(spark, tmp_path):
    """The skew-guard PLAIN-verdict cache (r11 advice, medium): a
    different derivation over the same files must MISS (a cached plain
    verdict for another band geometry would skip the probe whose sole
    purpose is bounding quadratic tasks), and an in-place data rewrite
    (same path, new size/mtime) must MISS too."""
    import time as _time

    import data_engineer_project_spark.operators.dedup as DD
    from data_engineer_project_spark.operators.cache import release_all

    p = str(tmp_path / "rows.parquet")
    pd.DataFrame(
        {"id": list(range(200)), "key": [str(i % 40) for i in range(200)]}
    ).to_parquet(p)

    def rows():
        release_all()
        return spark.read.parquet(p)

    before = dict(DD._PROBE_VERDICT_CACHE)
    try:
        DD.skew_guarded_self_pairs(
            rows(), ["key"], "id", cap=100, consumer="r12cache"
        ).collect()
        assert DD.LAST_GUARD_STATS["path"] == "plain"
        assert "cached" not in DD.LAST_GUARD_STATS

        # same derivation, same files -> HIT
        DD.skew_guarded_self_pairs(
            rows(), ["key"], "id", cap=100, consumer="r12cache"
        ).collect()
        assert DD.LAST_GUARD_STATS.get("cached") is True

        # different derivation over the SAME files -> MISS
        DD.skew_guarded_self_pairs(
            rows().filter("id < 150"), ["key"], "id", cap=100, consumer="r12cache"
        ).collect()
        assert "cached" not in DD.LAST_GUARD_STATS

        # in-place rewrite (new size/mtime) -> MISS even for the
        # original derivation
        _time.sleep(0.01)  # ensure mtime_ns moves even on coarse clocks
        pd.DataFrame(
            {"id": list(range(220)), "key": [str(i % 40) for i in range(220)]}
        ).to_parquet(p)
        DD.skew_guarded_self_pairs(
            rows(), ["key"], "id", cap=100, consumer="r12cache"
        ).collect()
        assert "cached" not in DD.LAST_GUARD_STATS
    finally:
        DD._PROBE_VERDICT_CACHE.clear()
        DD._PROBE_VERDICT_CACHE.update(before)


def _build_straddling_sof2() -> bytes:
    """Minimal progressive JPEG (1 component, one 8x8 block, a single
    AC scan Ss=1..Se=63) whose FINAL Huffman unit straddles the end of
    the entropy segment: three 2-bit literal units ('0' code + 1
    magnitude bit) fill bits 0..5, then the 3-bit EOB code '100'
    starts at bit 6 of the only entropy byte — its last bit comes from
    window zero-padding, so the decode consumes 9 of 8 available bits.
    Round 11's windowed progressive reader completed this scan
    silently (p > tb discarded at scan end); round 12 raises."""
    import struct

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
    out += (
        b"\xff\xc2"
        + struct.pack(">H", 11)
        + bytes([8])
        + struct.pack(">HH", 8, 8)
        + bytes([1, 1, 0x11, 0])
    )
    # AC table (class 1, id 0): len-1 code '0' -> 0x01, len-3 '100' -> EOB
    counts = [0] * 16
    counts[0] = 1
    counts[2] = 1
    out += b"\xff\xc4" + struct.pack(">H", 21) + bytes([0x10] + counts + [0x01, 0x00])
    out += b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 1, 63, 0x00])
    out += bytes([0b01010110])  # 01 01 01 1(00 from padding)
    out += b"\xff\xd9"
    return bytes(out)


def test_progressive_jpeg_straddling_final_unit_raises():
    """r11 advice: a stream truncated INSIDE the last Huffman unit of
    a progressive scan must raise, not decode zero-padding bits into
    wrong coefficients silently (byte-granularity truncations were
    already caught by the per-unit p >= tb checks; the straddle is the
    seam only the end-of-scan check covers)."""
    import data_engineer_project_spark.operators.multimodal as mm

    with pytest.raises(ValueError, match="entropy stream exhausted"):
        mm.decode_jpeg(_build_straddling_sof2())


def test_truncated_jpeg_never_decodes_silently():
    """Byte-granularity truncation sweep over all three JPEG modes
    (with and without restart intervals): every cut either raises
    ValueError or — when the removed bytes were never consumed (pad
    bits / trailing restart marker) — decodes EQUAL to the full
    payload. A silent DIFFERENT decode is the failure mode."""
    import numpy as np

    import data_engineer_project_spark.operators.multimodal as mm

    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, 24 * 16).astype(np.uint8).tobytes()
    payloads = [
        mm.encode_jpeg_baseline(px, 24),
        mm.encode_jpeg_lossless(px, 24),
        mm.encode_jpeg_progressive(px, 24),
        mm.encode_jpeg_progressive(px, 24, restart_interval=2),
    ]
    for p in payloads:
        ref = np.asarray(mm.decode_jpeg(p))
        eoi = p.rfind(b"\xff\xd9")
        for cut in range(1, 8):
            t = p[: eoi - cut] + p[eoi:]
            try:
                out = np.asarray(mm.decode_jpeg(t))
            except ValueError:
                continue
            assert np.array_equal(out, ref), "silent wrong decode"


def test_gif_color_palette_with_gray_pixels_stays_rgb():
    """r11 advice: grayscale collapse is keyed on the DECLARED
    palettes, not the used pixel values — a color-palette GIF whose
    referenced entries happen to be gray keeps its 3-sample/px RGB
    shape (stable decode shape per container, the round-10 contract),
    while a gray-palette GIF still collapses to 1 sample/px."""
    import struct

    import numpy as np

    import data_engineer_project_spark.operators.multimodal as mm

    # color GCT (one non-gray entry), but the frame references only
    # the gray entries 0/1
    gct = [(10, 10, 10), (200, 200, 200), (255, 0, 0), (0, 0, 255)]
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", 4, 4)
    out += bytes([0x81, 0, 0])  # GCT present, 4 entries; bg 0
    out += bytes(v for rgb in gct for v in rgb)
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, 4, 4) + bytes([0x00, 8])
    out += mm._gif_lzw_pack(bytes([0, 1] * 8))
    out += b"\x3b"
    got = mm.decode_gif(bytes(out))
    assert got.size == 4 * 4 * 3  # stays RGB
    assert tuple(got.reshape(4, 4, 3)[0, 0]) == (10, 10, 10)

    # gray-palette GIF still collapses to one sample per pixel
    px = bytes(range(16))
    assert mm.decode_gif(mm.encode_gif(px, 4)).tobytes() == px

    # an ANIMATION where any composited frame's palette is color
    # stays RGB for every later canvas
    frames = list(mm._gif_walk(bytes(out)))
    assert frames[0][1] is False


def test_rank_names_staleness_breaks_count_ties():
    """r11 verdict item 7: among rows with EQUAL effective green
    counts, the one whose latest effective green is OLDEST ranks
    first — a p-row green only in round 1 must outrank an e-row
    re-greened in round 11, regardless of family rank."""
    from data_engineer_project_spark.queries import rank_names

    names = ["e01_x", "p01_x", "d01_x", "p02_x"]
    greens = {"e01_x": 1, "p01_x": 1, "d01_x": 0, "p02_x": 1}
    hist = dict(greens)
    last = {"e01_x": 11, "p01_x": 1, "p02_x": 4}
    order = rank_names(names, greens, hist, last)
    assert order[0] == "d01_x"  # zero-effective still first
    assert order[1:] == ["p01_x", "p02_x", "e01_x"]  # stalest first


def test_registry_gate_prefix_contains_stale_practice_rows(past_gate_prefix):
    """The driver's ~50-slot sample (a prefix of queries()) must
    surface the stalest families: with 34 p-rows whose only driver
    green is round 1, the first 50 names include p-rows (the r11
    sample drew only recently-regated families).

    Pinned to the view the round-12 gate ranked: the r1-r11 evidence
    files, the names they record, and the contract/regate cutoffs as
    of round 11. Ranking the live registry broke once r12 re-greened
    the p-rows and moved the first one past slot 170."""
    first50 = past_gate_prefix(evidence_round=11, cutoff_round=11)
    assert any(n.startswith("p") for n in first50), first50


def test_streaming_plancap_captures_microbatch_plan(spark):
    """r11 verdict item 6: the streaming bench slots carry DIRECT
    micro-batch plan evidence — grab_stream records the finished
    query's lastExecution plan, which must show the stateful-operator
    machinery (StateStoreRestore/Save) the batch twin never has."""
    from data_engineer_project_spark.operators import plancap
    from data_engineer_project_spark.queries import QUERIES

    plancap.enable()
    try:
        QUERIES["s01_stream_tumbling_hour"].fn(
            spark, "/root/testdata/sf0.001"
        ).count()
        caps = dict(plancap.CAPTURES)
    finally:
        plancap.disable()
    (label, plan), = [
        (lbl, p) for lbl, p in caps.items() if "micro-batch" in lbl
    ]
    assert "StateStoreSave" in plan and "StateStoreRestore" in plan
    assert "REQUIRED_BY_STATEFUL_OPERATOR" in plan


# ---------------------------------------------------------------- native tier


def _native_or_skip():
    import data_engineer_project_spark.operators.native_codec as nc

    if not nc.native_available():
        pytest.skip("no JVM available for the native decode tier")
    return nc


def test_native_codec_bit_exact_on_lossless_arms():
    """The native tier's proven coverage is BIT-EXACT with the Python
    codecs on the lossless arms — the property that makes m21 safe to
    driver-gate with m15's oracle. Random payloads over several
    shapes, all conventions (gray collapse, palette expansion, alpha
    drop, interlace, 16-bit WAV sample map)."""
    import struct

    import numpy as np

    import data_engineer_project_spark.operators.multimodal as mm

    nc = _native_or_skip()
    rng = np.random.RandomState(42)
    for w, h in ((8, 8), (64, 24), (51, 37), (256, 128)):
        px = rng.randint(0, 256, w * h).astype(np.uint8).tobytes()
        for enc, dec in (
            (lambda p: mm.encode_png(p, w), mm.decode_png),
            (lambda p: mm.encode_gif(p, w), mm.decode_gif),
            (lambda p: mm.encode_gif(p, w, interlace=True), mm.decode_gif),
            (lambda p: mm.encode_bmp8(p, w), mm.decode_bmp),
            (lambda p: mm.encode_wav_pcm8(p), mm.decode_wav),
        ):
            payload = enc(px)
            a, b = dec(payload), nc.native_decode(payload)
            assert b is not None and np.array_equal(a, b), (w, h, dec.__name__)
    # 16-bit WAV: the (v + 32768) >> 8 sample map must match
    samp = rng.randint(-32768, 32768, 999).astype("<i2").tobytes()
    wav = (
        b"RIFF"
        + struct.pack("<I", 36 + len(samp) + 1)
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data"
        + struct.pack("<I", len(samp))
        + samp
        + b"\x00"
    )
    assert np.array_equal(mm.decode_wav(wav), nc.native_decode(wav))


def test_native_codec_jpeg_tolerance_and_fallbacks():
    """JPEG SOF0/SOF2 native decode agrees within IDCT rounding (±2 at
    all-ones quant) — the ingest tier's documented tolerance, NEVER
    serving an oracle; SOF3 / PNM / TIFF return None (Python-only by
    design); a partial-canvas first GIF frame returns None (Python
    must composite onto the background-filled canvas)."""
    import struct

    import numpy as np

    import data_engineer_project_spark.operators.multimodal as mm

    nc = _native_or_skip()
    rng = np.random.RandomState(9)
    px = rng.randint(0, 256, 48 * 32).astype(np.uint8).tobytes()
    for enc in (mm.encode_jpeg_baseline, mm.encode_jpeg_progressive):
        p = enc(px, 48)
        a, b = mm.decode_jpeg(p), nc.native_decode(p)
        assert b is not None and len(a) == len(b)
        assert int(np.abs(a.astype(int) - b.astype(int)).max()) <= 2
    assert nc.native_decode(mm.encode_jpeg_lossless(px, 48)) is None
    assert nc.native_decode(mm.encode_pnm(px, 48)) is None
    assert nc.native_decode(mm.encode_tiff_gray(px, 48)) is None
    # partial-canvas first frame: peek rejects, Python composites
    g = bytearray(mm.encode_gif(px, 48))
    # the image descriptor sits right after header (13) + GCT (768)
    desc = 13 + 768
    assert g[desc] == 0x2C
    g[desc + 1 : desc + 9] = struct.pack("<HHHH", 1, 1, 2, 2)
    assert nc.native_decode(bytes(g)) is None


def test_native_gif_color_palette_matches_python():
    """A color-palette full-canvas GIF decodes identically through
    both engines: native expands through the exact color map and the
    peek's palette-gray verdict matches _gif_walk's (round-12 palette
    keying) — including the gray-used-pixels-in-color-palette case."""
    import struct

    import numpy as np

    import data_engineer_project_spark.operators.multimodal as mm

    nc = _native_or_skip()
    gct = [(10, 10, 10), (200, 200, 200), (255, 0, 0), (0, 0, 255)]
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", 4, 4)
    out += bytes([0x81, 0, 0])
    out += bytes(v for rgb in gct for v in rgb)
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, 4, 4) + bytes([0x00, 8])
    out += mm._gif_lzw_pack(bytes([0, 1, 2, 3] * 4))
    out += b"\x3b"
    a, b = mm.decode_gif(bytes(out)), nc.native_decode(bytes(out))
    assert b is not None and np.array_equal(a, b) and a.size == 4 * 4 * 3


def test_decode_media_native_matches_python(spark):
    """The full Spark surface: decode_media over the real-container
    corpus is row-identical between engines (native serves bmp/png/
    gif; pgm/jpg-SOF3/tif fall back) — the exact equality m21's
    driver gate relies on."""
    from data_engineer_project_spark.operators.multimodal import (
        attach_real_media,
        decode_media,
    )
    from data_engineer_project_spark.queries.catalog import load_tables

    _native_or_skip()
    t = load_tables(spark, "/root/testdata/sf0.001")
    media = attach_real_media(t.documents)
    a = sorted(
        decode_media(media, use_real_codec=True).collect(),
        key=lambda r: r.doc_id,
    )
    b = sorted(
        decode_media(media, use_real_codec=True, engine="native").collect(),
        key=lambda r: r.doc_id,
    )
    assert a == b and len(a) > 0


def test_native_engine_degrades_to_python_without_jvm(monkeypatch):
    """No JVM (or a dead sidecar) must never change results: the
    native engine falls back to the Python codecs payload-by-payload."""
    import numpy as np

    import data_engineer_project_spark.operators.multimodal as mm
    import data_engineer_project_spark.operators.native_codec as nc

    monkeypatch.setattr(nc, "_ensure_compiled", lambda: None)
    monkeypatch.setattr(nc, "_SIDECAR", nc._Sidecar())
    rng = np.random.RandomState(3)
    px = rng.randint(0, 256, 64 * 24).astype(np.uint8).tobytes()
    p = mm.encode_png(px, 64)
    assert np.array_equal(
        mm._real_decode(p, "png", engine="native"), mm.decode_png(p)
    )


# ------------------------------------------------- round-12 review findings


def test_native_bmp_only_identity_palette():
    """decode_bmp returns raw palette INDICES (never expands), so the
    native tier may serve a BMP only when the palette is the identity
    gray ramp — an inverted gray ramp or color palette must route to
    Python (review finding: anything else silently diverges)."""
    import struct

    import numpy as np

    import data_engineer_project_spark.operators.multimodal as mm

    nc = _native_or_skip()
    rng = np.random.RandomState(4)
    px = rng.randint(0, 256, 16 * 8).astype(np.uint8).tobytes()
    good = bytearray(mm.encode_bmp8(px, 16))
    assert nc.native_decode(bytes(good)) is not None

    # find the palette via the header (14 + dib_size), invert the ramp
    dib = struct.unpack_from("<I", good, 14)[0]
    pal_off = 14 + dib
    inv = bytearray(good)
    for i in range(256):
        inv[pal_off + 4 * i : pal_off + 4 * i + 3] = bytes([255 - i] * 3)
    assert nc.native_decode(bytes(inv)) is None
    # Python still decodes indices identically for both payloads
    assert np.array_equal(mm.decode_bmp(bytes(inv)), mm.decode_bmp(bytes(good)))


def test_native_gif_nongray_background_stays_rgb():
    """_gif_walk ANDs the BACKGROUND fill color's grayness into the
    collapse flag even when the first frame covers the canvas; the
    native peek must mirror that (review finding), so a non-gray bg
    entry keeps both engines RGB and equal."""
    import struct

    import numpy as np

    import data_engineer_project_spark.operators.multimodal as mm

    nc = _native_or_skip()
    # GCT: entry 0 NON-gray (the background), entries 1-3 gray
    gct = [(255, 0, 0), (10, 10, 10), (20, 20, 20), (30, 30, 30)]
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", 4, 4)
    out += bytes([0x81, 0, 0])  # GCT present, 4 entries, bg index 0
    out += bytes(v for rgb in gct for v in rgb)
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, 4, 4) + bytes([0x00, 8])
    out += mm._gif_lzw_pack(bytes([1, 2, 3, 1] * 4))  # only GRAY entries used
    out += b"\x3b"
    a = mm.decode_gif(bytes(out))
    assert a.size == 4 * 4 * 3  # python stays RGB: bg entry is non-gray
    b = nc.native_decode(bytes(out))
    assert b is not None and np.array_equal(a, b)


def test_probe_verdict_cache_never_caches_inmemory_frames(spark):
    """A LocalRelation-rooted frame (createDataFrame) prints only its
    output attributes in the canonicalized plan — two different
    datasets with the same shape would collide — so the verdict cache
    must never cache such frames (review finding)."""
    import data_engineer_project_spark.operators.dedup as DD

    rows = spark.createDataFrame(
        [(i, str(i % 10)) for i in range(100)], "id long, key string"
    )
    before = dict(DD._PROBE_VERDICT_CACHE)
    try:
        for _ in range(2):
            DD.skew_guarded_self_pairs(
                rows, ["key"], "id", cap=100, consumer="r12localrel"
            ).collect()
            assert "cached" not in DD.LAST_GUARD_STATS
        assert not any(k[0] == "r12localrel" for k in DD._PROBE_VERDICT_CACHE)
    finally:
        DD._PROBE_VERDICT_CACHE.clear()
        DD._PROBE_VERDICT_CACHE.update(before)


def test_plan_identity_not_truncated_by_tostring_limit(spark, tmp_path):
    """Two isin-filters sharing the first 25 literals and differing
    only in the tail must get DIFFERENT keys: the 25-field
    maxToStringFields default truncates the canonicalized string, and
    a truncation collision on a trained-store key is a correctness
    bug (review finding)."""
    import pandas as pd

    import data_engineer_project_spark.operators.similarity as SIM

    p = str(tmp_path / "w.parquet")
    pd.DataFrame({"doc_id": list(range(2000))}).to_parquet(p)
    base = spark.read.parquet(p)
    ids1 = list(range(26))
    ids2 = list(range(25)) + [999]
    k1 = SIM.source_manifest_key(base.filter(base.doc_id.isin(ids1)))
    k2 = SIM.source_manifest_key(base.filter(base.doc_id.isin(ids2)))
    assert k1 is not None and k2 is not None and k1 != k2
    # and the conf is restored, not leaked
    assert (
        spark.conf.get("spark.sql.debug.maxToStringFields", "25") != "1000000"
    )


def test_sidecar_goes_dead_after_three_zero_service_strikes(monkeypatch):
    """A JVM that launches but dies before serving anything (e.g. an
    argv the local runtime can't execute) must not be respawned per
    payload: three zero-service pipe losses mark the sidecar dead and
    the engine degrades to Python once (review finding)."""
    import data_engineer_project_spark.operators.native_codec as nc

    monkeypatch.setattr(nc, "_ensure_compiled", lambda: ["/bin/cat", "/dev/null"])
    sc = nc._Sidecar()
    for i in range(3):
        with pytest.raises(RuntimeError):
            sc.decode(b"I", b"xx")
    assert sc._dead is True
    # fourth attempt: no spawn, immediate unavailable
    with pytest.raises(RuntimeError):
        sc.decode(b"I", b"xx")


def test_plan_identity_none_for_broken_frame(spark):
    """plan_identity/source_manifest_key degrade to None (never raise)
    so callers fall back to content fingerprints."""
    import data_engineer_project_spark.operators.similarity as SIM

    class _Fake:
        @property
        def _jdf(self):
            raise RuntimeError("no jvm")

        @property
        def schema(self):
            raise RuntimeError("no schema")

        def inputFiles(self):
            raise RuntimeError("no files")

    fake = _Fake()
    assert SIM.plan_identity(fake) is None
    assert SIM.source_manifest_key(fake) is None
