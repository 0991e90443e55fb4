"""Multimodal plumbing checks beyond the oracle gate: the physical
plan must prune the binary column for metadata-only queries, the real
codec path must be a clearly-gated stub, and frame/resize stages must
produce the exact payload bytes (not just matching counts)."""

from __future__ import annotations

import pytest

from data_engineer_project_spark.operators.multimodal import (
    attach_media,
    decode_media,
    dhash_with_histogram,
    frame_fingerprints,
    payload_stage,
    resize_media,
    sample_frames,
)
from data_engineer_project_spark.sources.registry import load_tables

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_tables(spark, SF).documents


def test_metadata_query_prunes_binary_column(spark, docs):
    """Selecting only metadata must not read `text` payload bytes in
    vain — ReadSchema shows which columns reach the parquet scan."""
    plan = (
        attach_media(docs)
        .select("doc_id", "media_format")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "text" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_real_codec_path_is_gated(docs):
    with pytest.raises(Exception) as ei:
        decode_media(attach_media(docs), use_real_codec=True).limit(1).collect()
    # NotImplementedError surfaces wrapped in Spark's Python exception
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


def test_frames_are_exact_payload_slices(docs):
    media = attach_media(docs).limit(5)
    rows = {r["doc_id"]: bytes(r["media"]) for r in media.collect()}
    frames = sample_frames(media, frame_bytes=64, every=2).collect()
    assert frames
    for f in frames:
        payload = rows[f["doc_id"]]
        lo = f["frame_no"] * 64
        assert bytes(f["frame"]) == payload[lo : lo + 64]
        assert f["frame_no"] % 2 == 0


def test_resize_keeps_every_kth_byte(docs):
    media = attach_media(docs).limit(5)
    orig = {r["doc_id"]: bytes(r["media"]) for r in media.collect()}
    for r in resize_media(media, keep_every=3).collect():
        assert bytes(r["media"]) == orig[r["doc_id"]][::3]
        assert r["n_bytes"] == len(bytes(r["media"]))


def _null_text_media(spark):
    """attach_media over one NULL-text doc: a NULL payload."""
    return attach_media(
        spark.createDataFrame(
            [(7, "en", None)], "doc_id BIGINT, lang STRING, text STRING"
        )
    )


def test_sample_frames_emits_no_frame_for_null_payload(spark):
    """A NULL payload has no frames, like the decode and audio stages
    skip it (m03's oracle has no frame row for a NULL-text doc)."""
    frames = sample_frames(_null_text_media(spark), frame_bytes=256, every=4)
    assert frames.collect() == []


def test_resize_passes_null_payload_through(spark):
    """A NULL payload stays NULL with NULL height and n_bytes, and the
    width is still resized — m05's oracle row for a NULL-text doc."""
    (r,) = resize_media(_null_text_media(spark), keep_every=2).collect()
    assert r["doc_id"] == 7 and r["lang"] == "en"
    assert r["media"] is None and r["height"] is None and r["n_bytes"] is None
    assert r["width"] == max((16 + 7 % 48) // 2, 1)


def test_audio_energy_skips_empty_and_null_payloads(spark):
    """Zero-length / NULL media must produce NO row — the SQL oracle's
    per-character unnest emits nothing for a charless doc, and
    np.frombuffer would raise on None. Defined semantics: skip."""
    from data_engineer_project_spark.operators.multimodal import (
        audio_window_energy,
    )

    media = spark.createDataFrame(
        [(1, bytearray(b"abcd")), (2, bytearray(b"")), (3, None)],
        "doc_id BIGINT, media BINARY",
    )
    rows = {r["doc_id"]: r for r in audio_window_energy(media, window=2).collect()}
    assert set(rows) == {1}
    assert rows[1]["n_windows"] == 2


def test_byte_oracles_survive_non_ascii_and_empty_text(spark, tmp_path):
    """Drift-proofing for m02/m04/m06: the driver regenerates testdata
    between rounds with no ASCII-only promise. Both engines must
    histogram UTF-8 BYTES, so parity must hold on multibyte (2/3/4-byte
    codepoints), empty, and NULL text — the exact inputs that broke the
    old codepoint-based oracles."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tools.check_correctness import TABLES, result_fingerprint
    from data_engineer_project_spark.queries import QUERIES

    texts = [
        "plain ascii only",
        "café crème — naïve façade",          # 2-byte + em dash (3-byte)
        "€uro and 日本語テキスト",               # 3-byte heavy
        "emoji 🎼𝄞 mix 🚀",                    # 4-byte astral
        "",                                    # zero bytes
        None,                                  # NULL text
        "mixed: aé€𝄞!",
    ]
    docs = pa.table(
        {
            "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en", "fr", "ja", "en", "zz", "zz", "fr"]),
            "source": pa.array(["t"] * len(texts)),
            "n_chars": pa.array([len(t) if t else 0 for t in texts], pa.int64()),
        }
    )
    sf = tmp_path / "sf_mb"
    sf.mkdir()
    pq.write_table(docs, sf / "documents.parquet")
    for t in TABLES:  # satisfy load_tables for the non-documents tables
        if t != "documents":
            (sf / f"{t}.parquet").symlink_to(f"/root/testdata/sf0.001/{t}.parquet")

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    try:
        for name in ("m02_byte_histogram_by_lang", "m04_decoded_pixel_stats", "m06_audio_window_rms", "m07_phash_dup_groups"):
            spec = QUERIES[name]
            df = spec.fn(spark, str(sf))
            sfp = result_fingerprint(df.columns, [tuple(r) for r in df.collect()])
            cur = con.execute(spec.oracle)
            dfp = result_fingerprint([d[0] for d in cur.description], cur.fetchall())
            assert sfp["cols"] == dfp["cols"], f"{name}: column mismatch"
            assert sfp["rows"] == dfp["rows"], f"{name}: row count mismatch"
            assert sfp["hash"] == dfp["hash"], (
                f"{name}: hash mismatch on multibyte fixture\n"
                f"spark: {sfp['sample']}\nduck: {dfp['sample']}"
            )
    finally:
        con.close()


def test_phash_identical_payloads_collide_and_bits_bounded(spark, docs):
    """Identical payloads must produce identical hashes (the property
    the dup-grouping relies on); every hash fits in n_blocks bits; and
    an empty payload emits no row."""
    from pyspark.sql import functions as F

    from data_engineer_project_spark.operators.multimodal import perceptual_hash

    media = attach_media(docs).limit(20)
    twin = media.withColumn("doc_id", F.col("doc_id") + 100000)
    both = media.unionByName(twin)
    rows = perceptual_hash(both, n_blocks=8).collect()
    by_id = {r["doc_id"]: r["phash"] for r in rows}
    for r in rows:
        assert 0 <= r["phash"] < 256
        if r["doc_id"] >= 100000:
            assert r["phash"] == by_id[r["doc_id"] - 100000]

    empty = spark.createDataFrame(
        [(1, "en", bytearray(b""), "png", 1, 0, 0)],
        "doc_id long, lang string, media binary, media_format string,"
        " width int, height int, n_bytes long",
    )
    assert perceptual_hash(empty).count() == 0


def test_m09_islands_match_python_rle(spark, sf_dir):
    """Segment counts and longest runs re-derived per doc by a pure
    Python run-length pass over the raw UTF-8 bytes."""
    from data_engineer_project_spark.queries import QUERIES
    from data_engineer_project_spark.sources.registry import load_tables

    out = {
        r["doc_id"]: r
        for r in QUERIES["m09_audio_activity_segments"].fn(spark, sf_dir).collect()
    }
    docs = load_tables(spark, sf_dir).documents.select("doc_id", "text").collect()
    checked = 0
    for row in docs[:60]:
        b = (row["text"] or "").encode("utf-8")
        nw = (len(b) + 63) // 64
        if nw == 0:
            assert row["doc_id"] not in out
            continue
        active = [sum(b[k * 64 : (k + 1) * 64]) > 6048 for k in range(nw)]
        runs = []
        cur = 0
        for a in active:
            if a:
                cur += 1
            elif cur:
                runs.append(cur)
                cur = 0
        if cur:
            runs.append(cur)
        r = out[row["doc_id"]]
        assert r["n_windows"] == nw
        assert r["n_active"] == sum(active)
        assert r["n_segments"] == len(runs)
        assert r["longest_run"] == (max(runs) if runs else 0)
        checked += 1
    assert checked > 0


def test_dhash_tail_edit_flips_at_most_two_bits(spark, docs):
    """The property m10's radius-3 clustering rests on: appending a
    short suffix (the fixture's planted near-dup edit) perturbs only
    the final block pair of the difference hash, so Hamming distance
    is <= 2 — where the old length-normalized block-MEAN hash shifted
    every boundary and pushed the same pairs to distance ~10."""
    from pyspark.sql import functions as F

    from data_engineer_project_spark.operators.multimodal import difference_hash

    media = attach_media(docs).limit(20)
    edited = media.withColumn("doc_id", F.col("doc_id") + 100000).withColumn(
        "media", F.concat(F.col("media"), F.encode(F.lit(" dup"), "UTF-8"))
    )
    rows = difference_hash(media.unionByName(edited)).collect()
    by_id = {r["doc_id"]: r["phash"] for r in rows}
    checked = 0
    for did, h in by_id.items():
        if did < 100000:
            d = bin((h ^ by_id[did + 100000]) & ((1 << 64) - 1)).count("1")
            assert d <= 2, f"doc {did}: tail edit flipped {d} bits"
            checked += 1
    assert checked == 20


def test_dhash_banding_pigeonhole_recall_is_exact(spark, docs):
    """Any pair within Hamming radius 3 shares at least one of the 4
    16-bit bands (pigeonhole) — brute-force check over the corpus
    hashes that the banded candidate set contains EVERY radius-3
    pair, the exactness claim m10's oracle verifies end-to-end."""
    from data_engineer_project_spark.operators.multimodal import difference_hash

    hs = [
        (r["doc_id"], r["phash"] & ((1 << 64) - 1))
        for r in difference_hash(attach_media(docs)).collect()
    ]
    near = banded = 0
    for i in range(len(hs)):
        for j in range(i + 1, len(hs)):
            if bin(hs[i][1] ^ hs[j][1]).count("1") <= 3:
                near += 1
                if any(
                    (hs[i][1] >> (16 * b)) & 0xFFFF
                    == (hs[j][1] >> (16 * b)) & 0xFFFF
                    for b in range(4)
                ):
                    banded += 1
    assert near == banded
    assert near > 0  # fixture plants near-dups: the check is non-vacuous


# ------------------------------------------------ real container codecs


def test_pnm_bmp_roundtrip_every_stride_case():
    """encode→decode is the identity for BOTH containers across widths
    that hit every 4-byte-stride padding remainder (BMP) and multi-row
    shapes (bottom-up order undo)."""
    import os

    from data_engineer_project_spark.operators.multimodal import (
        decode_bmp,
        decode_pnm,
        encode_bmp8,
        encode_pnm,
    )

    for w in (1, 2, 3, 4, 5, 16, 63):
        for rows in (1, 2, 7):
            px = os.urandom(w * rows)
            assert bytes(decode_pnm(encode_pnm(px, w))) == px
            assert bytes(decode_bmp(encode_bmp8(px, w))) == px


def test_pnm_parser_handles_comments_and_p6():
    from data_engineer_project_spark.operators.multimodal import decode_pnm

    p5 = b"P5\n# comment line\n3 2\n255\n" + bytes(range(6))
    assert list(decode_pnm(p5)) == list(range(6))
    p6 = b"P6\n2 1\n255\n" + bytes([1, 2, 3, 4, 5, 6])
    assert list(decode_pnm(p6)) == [1, 2, 3, 4, 5, 6]


def test_bmp_parser_topdown_and_rejections():
    import struct

    from data_engineer_project_spark.operators.multimodal import decode_bmp

    w, h = 3, 2
    stride = (w + 3) & ~3
    pal = b"".join(bytes((i, i, i, 0)) for i in range(256))
    off = 14 + 40 + len(pal)
    hdr = b"BM" + struct.pack("<IHHI", off + stride * h, 0, 0, off)
    # negative height = top-down row order (no reversal)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, -h, 1, 8, 0, stride * h, 0, 0, 256, 0
    )
    body = bytes([1, 2, 3, 0, 4, 5, 6, 0])
    assert list(decode_bmp(hdr + info + pal + body)) == [1, 2, 3, 4, 5, 6]

    import pytest

    bad = b"BM" + struct.pack("<IHHI", 100, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, 1, 1, 1, 24, 0, 4, 0, 0, 0, 0
    )
    with pytest.raises(NotImplementedError):
        decode_bmp(bad)
    with pytest.raises(NotImplementedError):
        # png/jpeg/webp (no container magic) stay a documented stub
        from data_engineer_project_spark.operators.multimodal import (
            _real_decode,
        )

        _real_decode(b"\x89PNG....", "png")


def test_real_decode_agrees_with_stub_on_padded_pixels(spark, sf_dir):
    """Container-roundtrip invariance on real corpus data: decoding
    the PNM/BMP payloads must yield exactly the stats fake_decode
    computes on the bare padded pixel buffers — the containers add
    headers/stride/row-order, never pixels."""
    from pyspark.sql import functions as F

    from data_engineer_project_spark.operators.multimodal import (
        attach_real_media,
        decode_media,
    )
    from data_engineer_project_spark.sources.registry import load_tables

    docs = load_tables(spark, sf_dir).documents.limit(60)
    real = {
        r.doc_id: r
        for r in decode_media(
            attach_real_media(docs), use_real_codec=True
        ).collect()
    }
    # bare padded pixels: text bytes + zeros to width*height
    import numpy as np

    for row in docs.select("doc_id", "text").collect():
        raw = (row.text or "").encode("utf-8")
        if not raw:
            assert row.doc_id not in real
            continue
        w = 16 + row.doc_id % 48
        h = -(-len(raw) // w)
        px = np.frombuffer(raw + b"\x00" * (w * h - len(raw)), np.uint8)
        r = real[row.doc_id]
        assert r.n_px == len(px)
        assert r.sum_px == int(px.astype(np.int64).sum())
        assert r.min_px == int(px.min()) and r.max_px == int(px.max())


def test_m10_pair_volume_is_multiplicity_invariant(spark, tmp_path):
    """The round-8 exact-dup collapse tier: replicating every document
    k times must multiply each cluster_size by k while n_hashes and
    the candidate-pair graph stay FLAT (pairing runs over distinct
    hashes — the property that un-stalled the 100x stress sweep).
    Canonical doc stays the min replica id (= the original doc id
    here, since replicas get offset ids)."""
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from data_engineer_project_spark.queries import QUERIES

    src = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    base_dir, rep_dir = tmp_path / "base", tmp_path / "rep3"
    base_dir.mkdir(), rep_dir.mkdir()
    pq.write_table(src, str(base_dir / "documents.parquet"))
    stride = pc.max(src["doc_id"]).as_py() + 1
    i_doc = src.schema.get_field_index("doc_id")
    pq.write_table(
        pa.concat_tables(
            src.set_column(i_doc, "doc_id", pc.add(src["doc_id"], k * stride))
            for k in range(3)
        ),
        str(rep_dir / "documents.parquet"),
    )
    for t_name in ("region", "nation", "customer", "supplier", "part",
                   "orders", "lineitem", "events", "embeddings"):
        for d in (base_dir, rep_dir):
            shutil.copy(f"/root/testdata/sf0.001/{t_name}.parquet",
                        str(d / f"{t_name}.parquet"))

    fn = QUERIES["m10_image_neardup_clusters"].fn
    base = {r.component: r for r in fn(spark, str(base_dir)).collect()}
    rep = {r.component: r for r in fn(spark, str(rep_dir)).collect()}
    # every base cluster reappears under the same canonical doc with
    # 3x the members and the SAME hash count
    for comp, r0 in base.items():
        r3 = rep[comp]
        assert r3.cluster_size == 3 * r0.cluster_size
        assert r3.n_hashes == r0.n_hashes
        assert r3.canonical_doc == r0.canonical_doc
    # replication can only ADD clusters whose base form was a
    # singleton hash (n_docs 1, no neighbors -> invisible at 1x,
    # a 3-member Hamming-0 clique at 3x)
    extra = set(rep) - set(base)
    assert all(rep[c].n_hashes == 1 for c in extra)


def test_m17_dhash_ctes_stay_in_sync_with_m10_oracle():
    """m17's _DHASH_CTES constant is documented as byte-identical to
    m10's oracle prefix (same hash, same bands, same radius guarantee
    for retrieval and clustering). Pin the sync so an edit to either
    derivation cannot silently fork the hash semantics."""
    from data_engineer_project_spark.queries import QUERIES
    from data_engineer_project_spark.queries.multimodal_queries import (
        _DHASH_CTES,
    )

    m10 = QUERIES["m10_image_neardup_clusters"].oracle
    start = m10.index("bl AS (")
    end = m10.index("pairs AS")
    prefix = m10[start:end].rstrip().rstrip(",").rstrip()
    assert prefix == _DHASH_CTES.strip()


def test_payload_stage_keeps_input_types(spark):
    """Pass-through columns keep their input type: an ``int`` doc id
    comes back ``int``, not widened to ``long``."""
    from pyspark.sql.types import IntegerType

    media = spark.createDataFrame(
        [(7, b"abcdefgh" * 20), (8, None)], "doc_id int, media binary"
    )
    out = frame_fingerprints(media, frame_bytes=64)
    assert out.schema["doc_id"].dataType == IntegerType()
    # frames 0 and 1 hold the same 64 bytes; frame 2 is a 32-byte tail
    assert sorted(r.doc_id for r in out.collect()) == [7, 7]


def test_payload_stage_aligns_kept_columns_with_emitted_rows(spark):
    """A row function that yields 0, 1 or several rows per input row:
    every emitted row carries its own input row's ``keep`` values. The
    row function reads columns by parameter name, in any order."""
    from pyspark.sql.types import LongType, StringType

    docs = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 1), (3, "c", 3), (4, "d", 0), (5, "e", 2)],
        "doc_id long, tag string, n int",
    ).coalesce(1)

    def row(n, tag):
        for i in range(n):
            yield tag * (i + 1), i

    out = payload_stage(docs, ["doc_id", "tag"], {"rep": StringType(), "i": LongType()}, row)
    assert out.columns == ["doc_id", "tag", "rep", "i"]
    assert sorted(map(tuple, out.collect())) == [
        (2, "b", "b", 0),
        (3, "c", "c", 0),
        (3, "c", "cc", 1),
        (3, "c", "ccc", 2),
        (5, "e", "e", 0),
        (5, "e", "ee", 1),
    ]


def test_payload_stage_handles_partitions_that_emit_nothing(spark):
    """Partitions with no rows, and a batch whose rows all emit nothing,
    give an empty result, also for an ``array`` output column (Arrow
    cannot convert an empty float64 column to ``array<bigint>``)."""
    one = spark.createDataFrame([(1, b"abcdef")], "doc_id long, media binary")
    assert dhash_with_histogram(one.repartition(4)).count() == 1
    blank = spark.createDataFrame(
        [(1, b""), (2, None)], "doc_id long, media binary"
    ).coalesce(1)
    assert dhash_with_histogram(blank).collect() == []
