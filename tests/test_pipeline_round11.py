"""Round-11 regressions: hostile-input cost bounds for the container
codecs (TIFF IFD value tables, progressive-JPEG EOB refinement walks)
and mixed-palette GIF animation support.

Each test pins a failure mode found by round-10 review:
- decode_tiff used to materialize EVERY IFD entry's value array
  (per-value int.from_bytes), so a ~1 MB crafted payload declaring
  many large LONG arrays stalled decode for minutes.
- the progressive AC-refinement path walked EOB runs block-by-block
  even over absent blocks, so a near-bound SOF2 with dozens of
  refinement scans cost tens of millions of no-op Python iterations.
- _gif_walk validated the whole running canvas against the CURRENT
  frame's palette, rejecting valid animations whose later frames
  carry a smaller local color table than earlier composited indices.
"""

import struct
import time

import numpy as np
import pytest


def _tiff_entry(tag, typ, cnt, val_or_off, bo="little"):
    return (
        tag.to_bytes(2, bo)
        + typ.to_bytes(2, bo)
        + cnt.to_bytes(4, bo)
        + val_or_off.to_bytes(4, bo)
    )


def test_tiff_hostile_ifd_value_tables_rejected_fast():
    """A crafted TIFF stuffing the IFD with large value arrays must be
    rejected in bounded time: unconsumed tags are skipped without
    materializing values, and consumed tags trip a cumulative per-IFD
    byte budget before any O(cnt) work."""
    from data_engineer_project_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff_gray,
    )

    # 65k entries, every one an UNCONSUMED tag declaring a ~760 KB
    # LONG array overlapping the payload body (the round-10 shape that
    # stalled >120 s): now skipped entirely, failing fast on the
    # missing width tag.
    nent = 65_000
    body = bytearray(b"II\x2a\x00" + (8).to_bytes(4, "little"))
    body += nent.to_bytes(2, "little")
    body += _tiff_entry(0xBEEF, 4, 190_000, 0) * nent
    body += b"\x00" * 4
    t0 = time.monotonic()
    with pytest.raises(ValueError, match="missing required tag"):
        decode_tiff(bytes(body))
    assert time.monotonic() - t0 < 2.0

    # CONSUMED tags (strip offsets) declaring 1 MB arrays each: the
    # cumulative budget trips on the second entry, before the decoder
    # does count-proportional work on the rest.
    body2 = bytearray(b"II\x2a\x00" + (8).to_bytes(4, "little"))
    body2 += (100).to_bytes(2, "little")
    body2 += _tiff_entry(273, 4, 250_000, 0) * 100
    body2 += b"\x00" * 1_000_000
    t0 = time.monotonic()
    with pytest.raises(ValueError, match="over the decode budget"):
        decode_tiff(bytes(body2))
    assert time.monotonic() - t0 < 2.0

    # The budget admits every legitimate shape we emit: many-strip
    # images (4 bytes/strip) and palette ColorMaps (1536 bytes) stay
    # orders of magnitude under 1 MB of value bytes.
    px = bytes(range(250)) * 4
    assert decode_tiff(encode_tiff_gray(px, 50)).tobytes() == px
    assert decode_tiff(encode_tiff_gray(px, 50, packbits=True)).tobytes() == px


def _canonical_ac_table():
    """The progressive test encoder's AC table: all 176 (r<<4|s,
    s<=10) symbols at 8 bits, code == index."""
    vals = bytes(r << 4 | s for r in range(16) for s in range(11))
    return vals, {v: i for i, v in enumerate(vals)}


@pytest.mark.slow
def test_jpeg_progressive_eob_refinement_bulk_skip():
    """An AC-refinement scan whose EOB runs span absent blocks must
    bulk-advance, not walk block-by-block: a 8192x4096 SOF2 (512k
    blocks) with 60 refinement scans of pure EOB runs decodes in
    seconds (it previously cost ~31M no-op Python iterations —
    tens of seconds at best; the bound leaves load headroom)."""
    import data_engineer_project_spark.operators.multimodal as mm

    w, h = 8192, 4096
    nblocks = (w // 8) * (h // 8)
    ac_vals, ac_code = _canonical_ac_table()
    out = bytearray(b"\xff\xd8" + mm._jfif_app0())
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0) + b"\x01" * 64
    out += mm._dht_segment(1, 0, [0] * 7 + [len(ac_vals)] + [0] * 8, ac_vals)
    out += b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, h, w, 1) + b"\x01\x11\x00"

    # one scan's entropy: EOBn(r=14, extra=all-ones) covers 32767
    # blocks each; EOBn(r=4) covers the 16-block tail. 16*32767+16 ==
    # nblocks exactly.
    bw = mm._BitWriter()
    for _ in range(16):
        bw.write(ac_code[14 << 4], 8)
        bw.write(0x3FFF, 14)
    bw.write(ac_code[4 << 4], 8)
    bw.write(0, 4)
    entropy = bw.flush()
    assert 16 * 32767 + 16 == nblocks

    for _ in range(60):
        out += b"\xff\xda" + struct.pack(">HB", 8, 1) + b"\x01\x00"
        out += bytes([1, 63, (2 << 4) | 1])  # Ss=1 Se=63 Ah=2 Al=1
        out += entropy
    out += b"\xff\xd9"

    t0 = time.process_time()  # CPU time: immune to QUEUING delay
    got = mm.decode_jpeg(bytes(out))
    elapsed = time.process_time() - t0
    # no DC scan and no AC coefficients: the frame is flat mid-gray
    assert got.shape == (w * h,)
    assert int(got.min()) == int(got.max()) == 128
    # The guard discriminates "bulk-skip broken" (a per-block Python
    # walk: minutes) from "bulk-skip working" (seconds) — it is NOT a
    # tight perf pin. CPU time is immune to run-queue delay but NOT to
    # frequency scaling: round 13 measured the warm path at 3.7-5.3 s
    # and a cold first-run on a thermally-loaded box at 17-25 s CPU —
    # the same binary seconds apart — so a 10 s bound flaked on box
    # state while a broken bulk-skip still overshoots 30 s by 4x+.
    assert elapsed < 30.0, f"refinement EOB walk took {elapsed:.1f}s CPU"


def test_jpeg_progressive_refinement_still_bit_exact():
    """The bulk-skip must not change WHAT is decoded: a content-rich
    progressive payload with AC refinement scans and restart markers
    still equals its baseline twin bit-for-bit."""
    from data_engineer_project_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(11)
    # sparse content: most blocks zero-AC so refinement scans carry
    # real EOB runs over a mix of materialized and absent blocks
    img = np.full((40, 48), 96, np.uint8)
    img[5:8, 9:14] = rng.randint(0, 256, (3, 5))
    img[30:34, 40:44] = rng.randint(0, 256, (4, 4))
    px = img.tobytes()
    script = [(0, 0, 0, 1), (1, 5, 0, 2), (6, 63, 0, 2), (1, 63, 2, 1), (1, 63, 1, 0), (0, 0, 1, 0)]
    base = decode_jpeg(encode_jpeg_baseline(px, 48))
    for ri in (0, 3):
        prog = decode_jpeg(encode_jpeg_progressive(px, 48, script=script, restart_interval=ri))
        assert np.array_equal(prog, base)


def _gif_image_block(left, top, fw, fh, indices, lct=None):
    """One GIF image block; ``lct`` is an optional local color table
    (n,3) list whose size must be a power of two."""
    import data_engineer_project_spark.operators.multimodal as mm

    packed = 0
    out = bytearray(b"\x2c" + struct.pack("<HHHH", left, top, fw, fh))
    if lct is not None:
        n = len(lct)
        assert n & (n - 1) == 0 and n >= 2
        packed = 0x80 | (n.bit_length() - 2)
        out += bytes([packed])
        out += bytes(v for rgb in lct for v in rgb)
    else:
        out += bytes([0x00])
    out += bytes([8])  # LZW minimum code size (after the LCT)
    out += mm._gif_lzw_pack(bytes(indices))
    return bytes(out)


def test_gif_mixed_palette_animation_decodes():
    """A later frame with a SMALLER local color table than indices
    already composited from earlier frames is a VALID animation:
    each frame is range-checked against ITS OWN palette, and earlier
    regions keep the palette active when they were written."""
    import data_engineer_project_spark.operators.multimodal as mm

    # frame 1: full canvas through the 256-gray GCT, high indices
    base = bytes(range(192, 256)) * 1  # 8x8, indices 192..255
    p = bytearray(mm.encode_gif_animated([base], 8))
    # frame 2: 2x2 patch through a 4-entry LOCAL table (indices 0..3)
    lct = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]
    p = p[:-1] + _gif_image_block(1, 1, 2, 2, [0, 1, 2, 3], lct) + b"\x3b"

    frames = list(mm._gif_walk(bytes(p)))
    assert len(frames) == 2
    # frame 1 survives: gray canvas of the original indices
    f1 = mm._gif_expand(*frames[0])
    assert np.array_equal(f1, np.frombuffer(base, np.uint8))
    # frame 2 composites the color patch; untouched pixels keep the
    # GRAY values written under the global table (index 193 etc.),
    # which the 4-entry local table could never express
    f2 = frames[1][0]
    assert tuple(f2[1, 1]) == (255, 0, 0)
    assert tuple(f2[1, 2]) == (0, 255, 0)
    assert tuple(f2[2, 1]) == (0, 0, 255)
    assert tuple(f2[2, 2]) == (9, 9, 9)
    assert tuple(f2[0, 0]) == (192, 192, 192)
    assert tuple(f2[7, 7]) == (255, 255, 255)
    # decode_gif (first frame) is unaffected by the later frame
    assert np.array_equal(mm.decode_gif(bytes(p)), np.frombuffer(base, np.uint8))

    # a frame whose indices exceed ITS OWN table still fails
    bad = bytearray(mm.encode_gif_animated([base], 8))
    bad = bad[:-1] + _gif_image_block(0, 0, 2, 2, [0, 1, 2, 3], lct[:2]) + b"\x3b"
    with pytest.raises(ValueError, match="palette index out of range"):
        list(mm._gif_walk(bytes(bad)))


def test_d101_warm_path_never_scans_corpus_text(spark, monkeypatch):
    """The standing cluster store is keyed by a METADATA-ONLY file
    manifest: once the store exists, a warm d101 run must not compute
    the content fingerprint (a full corpus-text checksum scan — the
    round-10 warm path paid it every run just to FIND its store).
    Pinned by poisoning _docs_fingerprint after a priming run."""
    import data_engineer_project_spark.operators.neardup as ND
    from data_engineer_project_spark.operators.cache import release_all
    from data_engineer_project_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    fn = QUERIES["d101_incremental_cluster_merge"].fn
    a = [tuple(r) for r in fn(spark, sf).collect()]  # primes the store
    release_all()

    def _poisoned(docs):
        raise AssertionError("warm d101 path computed the content fingerprint")

    monkeypatch.setattr(ND, "_docs_fingerprint", _poisoned)
    b = [tuple(r) for r in fn(spark, sf).collect()]
    release_all()
    assert sorted(a) == sorted(b) and len(a) > 0

    # the key itself is manifest-based (file-backed corpus -> "f" +
    # md5 prefix), and computing it launches no corpus scan at all
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    key = ND.corpus_key(docs.select("doc_id", "text"))
    assert key.startswith("f") and len(key) == 21


def test_corpus_manifest_key_tracks_file_changes(spark, tmp_path):
    """Manifest-cache contract: same files -> same key; a rewritten
    file (content/size change) -> different key; a frame with no
    backing files falls back to the content fingerprint."""
    import pandas as pd

    import data_engineer_project_spark.operators.neardup as ND

    p = str(tmp_path / "docs.parquet")
    pd.DataFrame({"doc_id": [1, 2], "text": ["aa", "bb"]}).to_parquet(p)
    k1 = ND.corpus_key(spark.read.parquet(p))
    k2 = ND.corpus_key(spark.read.parquet(p))
    assert k1 == k2 and k1.startswith("f")

    pd.DataFrame({"doc_id": [1, 2, 3], "text": ["aa", "bb", "cc"]}).to_parquet(p)
    k3 = ND.corpus_key(spark.read.parquet(p))
    assert k3 != k1

    mem = spark.createDataFrame(
        [(1, "aa"), (2, "bb")], "doc_id long, text string"
    )
    kf = ND.corpus_key(mem)
    assert kf.startswith("n") and "_s" in kf  # content-fingerprint form


@pytest.mark.slow
def test_durable_cluster_merge_survives_midstream_crash(spark, tmp_path):
    """s25's 100 TB form (the round-10 scale note's open item): the
    per-batch cluster state goes through write_store_atomic into a
    batch-versioned durable store instead of a localCheckpoint chain.
    Crash AFTER batch 0's publish but BEFORE its stream-checkpoint
    commit, restart, and the final rollup must still tuple-equal d99
    run from scratch over all documents — the replayed batch detects
    its already-complete state directory and skips (the foreachBatch
    idempotent-write recipe)."""
    from pyspark.sql import functions as F

    from data_engineer_project_spark.operators.cache import release_all
    from data_engineer_project_spark.queries import QUERIES
    from data_engineer_project_spark.operators.neardup import (
        cluster_state,
        durable_cluster_merge_sink,
        latest_batch,
        publish_state,
        read_state,
        weighted_rollup as _cluster_rollup,
    )
    from data_engineer_project_spark.operators.curation import SPARK_BUCKET

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    bucket = F.expr(SPARK_BUCKET)
    corpus = docs.filter(bucket < 90)
    delta = docs.filter(bucket >= 90)

    # corpus state (d101's cold path), published as batch -1
    store = str(tmp_path / "cluster_store")
    publish_state(cluster_state(corpus), f"{store}/batch=-1")
    assert latest_batch(store) == -1

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    delta.repartition(3).write.parquet(landing)

    sink = durable_cluster_merge_sink(store)
    crashed = {"flag": False}

    def crashing_sink(batch_df, batch_id):
        sink(batch_df, batch_id)
        # publish landed; die before Spark commits the batch to the
        # stream checkpoint — the worst-timed crash
        crashed["flag"] = True
        raise RuntimeError("simulated crash after publish")

    q = (
        spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
        .writeStream.foreachBatch(crashing_sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception):
        q.awaitTermination()
    assert crashed["flag"] and latest_batch(store) == 0

    # restart from the same checkpoint: batch 0 replays (and is
    # skipped — its state dir is complete), batches 1..2 merge fresh
    q2 = (
        spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    last = latest_batch(store)
    assert last == 2  # three landing files -> batches 0, 1, 2

    st = read_state(spark, f"{store}/batch={last}")
    got = sorted(
        tuple(r) for r in _cluster_rollup(st["reps"], st["comps"]).collect()
    )
    release_all()
    want = sorted(
        tuple(r)
        for r in QUERIES["d99_weighted_neardup_clusters"].fn(spark, sf).collect()
    )
    release_all()
    assert got == want and len(got) > 0


def test_gif_frame_fingerprints_mixed_palette(spark):
    """gif_frame_fingerprints keeps every frame of a mixed-palette
    animation (the round-10 walk rejected the whole doc)."""
    import pandas as pd

    import data_engineer_project_spark.operators.multimodal as mm

    base = bytes(range(192, 256))
    p = bytearray(mm.encode_gif_animated([base], 8))
    lct = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]
    p = bytes(p[:-1] + _gif_image_block(1, 1, 2, 2, [0, 1, 2, 3], lct) + b"\x3b")

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "media": [bytearray(p)]})
    )
    rows = mm.gif_frame_fingerprints(df).collect()
    assert len(rows) == 2  # both frames fingerprinted, distinct
    assert len({r.fp for r in rows}) == 2


def test_skew_guard_plain_verdict_cache(spark, tmp_path):
    """Round-11 d07 triage fix: PLAIN probe verdicts cache per
    (consumer, input identity), so a repeated run skips the probe job
    and its eager persist; GRID verdicts never cache (the hot table
    must be recomputed); distinct consumers never share a verdict.
    The pair set is bit-identical on probed and cached paths."""
    import pandas as pd
    from pyspark.sql import functions as F

    import data_engineer_project_spark.operators.dedup as DD
    from data_engineer_project_spark.operators.cache import release_all

    p = str(tmp_path / "rows.parquet")
    pd.DataFrame(
        {"id": list(range(300)), "key": [str(i % 50) for i in range(300)]}
    ).to_parquet(p)

    def rows():
        # release first: while the prior call's persist is live, the
        # cache manager substitutes InMemoryRelation into the new plan
        # and the file-based identity is not visible — the verdict
        # cache targets the bench/run-loop shape, which releases
        # between reps
        release_all()
        return spark.read.parquet(p)

    before = dict(DD._PROBE_VERDICT_CACHE)
    try:
        a = sorted(
            tuple(r)
            for r in DD.skew_guarded_self_pairs(
                rows(), ["key"], "id", cap=100, consumer="r11cache"
            ).collect()
        )
        assert DD.LAST_GUARD_STATS["path"] == "plain"
        assert "cached" not in DD.LAST_GUARD_STATS
        b = sorted(
            tuple(r)
            for r in DD.skew_guarded_self_pairs(
                rows(), ["key"], "id", cap=100, consumer="r11cache"
            ).collect()
        )
        assert DD.LAST_GUARD_STATS.get("cached") is True
        assert a == b and len(a) > 0

        # a different consumer on the same input probes fresh
        DD.skew_guarded_self_pairs(
            rows(), ["key"], "id", cap=100, consumer="r11other"
        )
        assert "cached" not in DD.LAST_GUARD_STATS

        # grid verdicts (hot bucket) are never cached
        hot = rows().withColumn(
            "key", F.when(F.col("id") < 250, F.lit("hot")).otherwise("c")
        )
        for _ in range(2):
            DD.skew_guarded_self_pairs(
                hot, ["key"], "id", cap=100, consumer="r11grid"
            )
            assert DD.LAST_GUARD_STATS["path"] == "grid"
            assert "cached" not in DD.LAST_GUARD_STATS
    finally:
        DD._PROBE_VERDICT_CACHE.clear()
        DD._PROBE_VERDICT_CACHE.update(before)


def test_centroid_store_keying_never_scans_vectors(spark, monkeypatch):
    """The d101 store-keying fix applied to the trained-artifact
    stores: for a file-backed embeddings corpus, finding the centroid
    store (and the PQ codebook store) must not compute the full-vector
    content fingerprint — the key is the metadata-only manifest + plan
    identity. Pinned by poisoning corpus_fingerprint after a priming
    run."""
    import data_engineer_project_spark.operators.similarity as SIM
    from data_engineer_project_spark.operators.cache import release_all
    from data_engineer_project_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    for name in ("d14_ann_ivf", "d57_pq_codebook"):
        a = [tuple(r) for r in QUERIES[name].fn(spark, sf).collect()]
        release_all()

        def _poisoned(*args, **kwargs):
            raise AssertionError(
                "store keying computed the full-vector content fingerprint"
            )

        monkeypatch.setattr(SIM, "corpus_fingerprint", _poisoned)
        try:
            b = [tuple(r) for r in QUERIES[name].fn(spark, sf).collect()]
        finally:
            monkeypatch.undo()
        release_all()
        assert sorted(a) == sorted(b) and len(a) > 0

    # in-memory frames (no file lineage) still fall back cleanly
    mem = spark.createDataFrame(
        [(i, [float(i), 1.0, 2.0, 3.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    assert SIM.source_manifest_key(mem) is None
