"""Round-13 pins: the native tier's strictness acceptance envelope,
the code-enforced engine-tier boundary, the hq-family regate surfacing
through the staleness gate, and the concurrency/robustness fixes from
the round-12 advice (plan_identity render lock, ExternalRDD leaf
guard, sidecar desync cleanup).

Context (r12 verdict item 6): the native (ImageIO/AudioSystem) decode
tier is LENIENT where the Python codecs — the strictness authority —
quarantine: measured round 13, ImageIO accepted a CRC-lying PNG and
AudioSystem a truncated WAV data chunk. Round 13 closes both gaps
client-side (chunk-CRC walk in _peek_png, structural chunk walk in the
WAV branch) so every payload Python rejects now routes BACK to Python
(native_decode returns None) instead of silently passing the native
tier; the fuzz test here pins that envelope.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

import data_engineer_project_spark.operators.multimodal as mm
import data_engineer_project_spark.operators.native_codec as nc


# ---------------------------------------------------------------- gate


def test_registry_gate_prefix_draws_stale_q_and_regated_hq_rows(
    past_gate_prefix,
):
    """r12 verdict items 3+5: given the evidence state the round-13
    gate ran against (rounds 1-12 only), the 50-slot prefix must
    surface (a) the 13 TPC-H q-rows whose only driver green was round
    1 and (b) >= 10 of the hq rows regated at round 13 (their last
    green was round 4, eight rounds of shared-machinery churn ago).

    EVERY ranking input is frozen as of the r13 gate: the evidence
    files (an r1-r12 snapshot in a tmp dir — committed, immutable),
    the name universe (the queries those files record — the live
    registry grows every round), and the contract/regate cutoffs
    (entries <= 13 only — later rounds add regates that would
    otherwise rotate new zero-effective rows ahead of the q block).
    The original version ranked the LIVE repo root and broke the
    moment CORRECTNESS_r13.json landed; the first fix froze only the
    evidence files and would have broken on ordinary catalog growth
    (r14 review: the 13th q-row sat at slot 47 of 50)."""
    first50 = past_gate_prefix(evidence_round=12, cutoff_round=13)
    q_rows = [n for n in first50 if n[0] == "q"]
    hq_rows = [n for n in first50 if n.startswith("hq")]
    assert len(q_rows) == 13, q_rows
    assert len(hq_rows) >= 10, hq_rows
    # the round-1 p-rows the verdict names must be in the prefix too
    for p in ("p33_", "p34_", "p42_", "p43_", "p44_"):
        assert any(n.startswith(p) for n in first50), p


# ------------------------------------------------- engine-tier boundary


def test_container_integrity_rejects_native_engine(spark):
    """The integrity gate is the STRICTNESS consumer: the native tier
    (lenient ImageIO) must be rejected in code, not by docstring
    convention. The gate has no engine parameter, so any engine is a
    call error."""
    docs = spark.createDataFrame(
        [(1, "png", b"x", 1, 1)],
        "doc_id long, media_format string, media binary, "
        "width int, height int",
    )
    with pytest.raises(TypeError, match="engine"):
        mm.container_integrity(docs, engine="native")


def test_real_decode_rejects_unknown_engine():
    with pytest.raises(ValueError, match="unknown decode engine"):
        mm._real_decode(b"P5 1 1 255 x", "pgm", engine="turbo")


# ------------------------------------------- strictness envelope (fuzz)


def _py_verdict(payload: bytes, fmt: str) -> str:
    try:
        mm._real_decode(bytes(payload), fmt)
        return "accept"
    except Exception:
        return "reject"


def _native_verdict(payload: bytes):
    """'accept' (with the array), 'fallback' (None — Python decides),
    or 'reject' (native decoder raised)."""
    try:
        a = nc.native_decode(bytes(payload))
    except Exception:
        return "reject", None
    return ("accept", a) if a is not None else ("fallback", None)


def _flip_png_chunk_crc(p: bytes, chunk: bytes) -> bytes:
    i = p.find(chunk)
    assert i > 0
    ln = struct.unpack(">I", p[i - 4 : i])[0]
    b = bytearray(p)
    b[i + 4 + ln] ^= 0xFF
    return bytes(b)


def _gif_lzw_section(gif: bytes) -> tuple[int, int]:
    """[start, end) byte extent of the image-data section (the
    min-code-size byte through the last data sub-block, before the
    block terminator) — the entropy-coded bytes of a single-frame
    GIF."""
    pos = 13
    packed = gif[10]
    if packed & 0x80:
        pos += 3 * (2 << (packed & 7))
    while gif[pos] == 0x21:
        pos += 2
        while gif[pos] != 0:
            pos += 1 + gif[pos]
        pos += 1
    assert gif[pos] == 0x2C
    pos += 10
    if gif[pos - 1] & 0x80:
        pos += 3 * (2 << (gif[pos - 1] & 7))
    start = pos
    end = pos + 1
    while gif[end] != 0:
        end += 1 + gif[end]
    return start, end


@pytest.mark.skipif(not nc.native_available(), reason="no JVM sidecar")
def test_native_strictness_envelope_fuzz():
    """r12 verdict item 6: on the bit-exact arms (png/gif/bmp/wav) a
    corrupted payload the strict Python parser quarantines must NEVER
    silently pass the native tier — it must fall back (None) or raise.
    Deterministic corruption sweep: truncation at every 16th offset,
    single-byte flips at every 7th offset, plus the two measured r13
    leak shapes (CRC-lying PNG, tail-cut WAV). When BOTH engines
    accept a fuzzed payload, the decoded values must stay bit-equal
    (these arms are the bit-exact tier).

    ONE documented per-arm exception (measured round 13: exactly 35/870
    flip offsets, all inside the LZW data section, zero structural):
    GIF corruption INSIDE the entropy-coded LZW stream (a code pointing
    at an undefined dictionary entry, output overrunning the declared
    frame) is detectable only by running the LZW decode itself — which
    is the exact work the native tier exists to avoid — so ImageIO may
    leniently accept what decode_gif quarantines THERE. Everything
    structural (headers, palettes, descriptors, sub-block framing,
    truncation, trailers) has full verdict parity, enforced by the
    client-side peeks. The integrity gate (m16) is pinned to
    engine="python" in code, so the lenient window never reaches a
    strictness consumer."""
    px = bytes(range(64))
    arms = {
        "png": mm.encode_png(px, 8),
        "bmp": mm.encode_bmp8(px, 8),
        "gif": mm.encode_gif(px, 8),
        "wav": mm.encode_wav_pcm8(px),
    }
    lzw_lo, lzw_hi = _gif_lzw_section(arms["gif"])
    leaks: list[str] = []
    for fmt, clean in arms.items():
        variants: list[tuple[str, int | None, bytes]] = []
        for cut in range(4, len(clean), 16):
            variants.append((f"trunc@{cut}", None, clean[:cut]))
        for off in range(0, len(clean), 7):
            b = bytearray(clean)
            b[off] ^= 0xA5
            variants.append((f"flip@{off}", off, bytes(b)))
        if fmt == "png":
            for chunk in (b"IHDR", b"IDAT", b"IEND"):
                variants.append(
                    (f"crc_lie:{chunk.decode()}", None,
                     _flip_png_chunk_crc(clean, chunk))
                )
        if fmt == "wav":
            variants.append(("tail_cut", None, clean[:-3]))
        for label, flip_off, payload in variants:
            py = _py_verdict(payload, fmt)
            nat, arr = _native_verdict(payload)
            if py == "reject" and nat == "accept":
                if (
                    fmt == "gif"
                    and flip_off is not None
                    and lzw_lo <= flip_off < lzw_hi
                ):
                    continue  # the documented LZW-stream exception
                leaks.append(f"{fmt}:{label}")
            elif py == "accept" and nat == "accept":
                ref = mm._real_decode(bytes(payload), fmt)
                if not np.array_equal(ref, arr):
                    leaks.append(f"{fmt}:{label} (value mismatch)")
    assert not leaks, f"native tier leniency leaks: {leaks}"


@pytest.mark.skipif(not nc.native_available(), reason="no JVM sidecar")
def test_native_wav_structural_strictness():
    """Hand-built structural lies decode_wav quarantines must route to
    Python: data-before-fmt, odd 16-bit data length, chunk-length lie."""
    # data chunk before any fmt chunk
    body = b"data" + struct.pack("<I", 4) + b"abcd"
    p = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    assert _py_verdict(p, "wav") == "reject"
    assert _native_verdict(p)[0] in ("fallback", "reject")
    # 16-bit PCM with an odd data length
    fmt16 = b"fmt " + struct.pack("<I", 16) + struct.pack(
        "<HHIIHH", 1, 1, 8000, 16000, 2, 16
    )
    data = b"data" + struct.pack("<I", 5) + b"abcde"
    p = b"RIFF" + struct.pack("<I", 4 + len(fmt16) + len(data)) + b"WAVE" + fmt16 + data
    assert _py_verdict(p, "wav") == "reject"
    assert _native_verdict(p)[0] in ("fallback", "reject")
    # declared data length overruns the payload
    good = mm.encode_wav_pcm8(bytes(range(16)))
    i = good.find(b"data")
    lied = bytearray(good)
    lied[i + 4 : i + 8] = struct.pack("<I", 1 << 20)
    assert _py_verdict(bytes(lied), "wav") == "reject"
    assert _native_verdict(bytes(lied))[0] in ("fallback", "reject")


@pytest.mark.skipif(not nc.native_available(), reason="no JVM sidecar")
def test_native_clean_payloads_still_served_natively():
    """The strictness checks must not push CLEAN payloads off the
    native tier: all four bit-exact arms still decode natively and
    bit-equal to Python."""
    px = bytes(range(64))
    for fmt, payload in (
        ("png", mm.encode_png(px, 8)),
        ("bmp", mm.encode_bmp8(px, 8)),
        ("gif", mm.encode_gif(px, 8)),
        ("wav", mm.encode_wav_pcm8(px)),
    ):
        nat, arr = _native_verdict(payload)
        assert nat == "accept", fmt
        assert np.array_equal(arr, mm._real_decode(payload, fmt)), fmt


# ------------------------------------------------------ leaf guard


def test_identityless_leaf_guard_word_boundaries():
    """r12 advice: ExternalRDD (Scala/Java-interop leaf) must count as
    identity-less; a plan merely CONTAINING one of the names inside a
    longer token must not."""
    from data_engineer_project_spark.operators.dedup import (
        _has_identityless_leaf,
    )

    assert _has_identityless_leaf("+- ExternalRDD [obj#12]")
    assert _has_identityless_leaf("+- LocalRelation [id#1, key#2]")
    assert _has_identityless_leaf("+- LogicalRDD [id#1]")
    assert _has_identityless_leaf("+- ExistingRDD [id#1]")
    assert not _has_identityless_leaf(
        "+- Relation [id#1] parquet MyLocalRelationLikeTable"
    )
    assert not _has_identityless_leaf(
        "+- Project [NotAnExternalRDDColumn#3]"
    )
    assert not _has_identityless_leaf("+- Relation [id#1] parquet")


# --------------------------------------------- plan_identity render lock


def test_plan_identity_concurrent_renders_stable(spark, tmp_path):
    """r12 advice (and the worse bug found fixing it): the r12 render
    raised the session-global maxToStringFields around toString(),
    which (a) raced concurrent renders and (b) — measured round 13 —
    NEVER took effect on a secondary Python thread at all (each Python
    thread rides its own py4j JVM thread whose SQLConf.get doesn't see
    the session conf), so any plan_identity issued off the main thread
    silently rendered truncated. The explicit-maxFields treeString
    render must produce the MAIN thread's key from worker threads,
    concurrently, over frames whose isin tails differ past the
    25-field default."""
    import threading

    import pandas as pd

    import data_engineer_project_spark.operators.similarity as SIM

    p = str(tmp_path / "w.parquet")
    pd.DataFrame({"doc_id": list(range(500))}).to_parquet(p)
    base = spark.read.parquet(p)
    f1 = base.filter(base.doc_id.isin(list(range(40))))
    f2 = base.filter(base.doc_id.isin(list(range(39)) + [444]))
    k1, k2 = SIM.plan_identity(f1), SIM.plan_identity(f2)
    assert k1 is not None and k2 is not None and k1 != k2

    errors: list[str] = []

    def hammer(frame, expected):
        for _ in range(30):
            got = SIM.plan_identity(frame)
            if got != expected:
                errors.append(f"{got} != {expected}")

    threads = [
        threading.Thread(target=hammer, args=(f1, k1)),
        threading.Thread(target=hammer, args=(f2, k2)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors[:3]
    # and the conf is restored, not leaked
    assert (
        spark.conf.get("spark.sql.debug.maxToStringFields", "25")
        != "1000000"
    )


# ----------------------------------------------------- sidecar desync


def test_sidecar_kills_jvm_on_unexpected_exception(monkeypatch):
    """r12 advice: an exception OUTSIDE the pipe-error set (e.g.
    MemoryError between request write and response read) leaves the
    pipe desynced; the protocol has no resync framing, so the sidecar
    must kill the JVM (next call respawns) instead of letting the next
    request misparse stale response bytes."""
    sc = nc._Sidecar()

    class _Boom:
        def write(self, *_a):
            return None

        def flush(self):
            raise MemoryError("mid-protocol")

    class _P:
        stdin = _Boom()
        stdout = None
        killed = False

        def poll(self):
            return None

        def kill(self):
            _P.killed = True

    monkeypatch.setattr(sc, "_start", lambda: True)
    sc._proc = _P()
    with pytest.raises(MemoryError):
        sc.decode(b"I", b"xx")
    assert _P.killed is True
    assert sc._proc is None


def test_sidecar_server_rejection_keeps_jvm(monkeypatch):
    """A ValueError (server-reported decode failure) means the full
    error response WAS consumed — the pipe is in sync and the JVM must
    survive for the next payload."""
    import io

    sc = nc._Sidecar()
    resp = struct.pack(">i", 1) + struct.pack(">i", 3) + b"bad"

    class _In:
        @staticmethod
        def write(*_a):
            return None

        @staticmethod
        def flush():
            return None

    class _P:
        stdin = _In()
        stdout = io.BytesIO(resp)
        killed = False

        def poll(self):
            return None

        def kill(self):
            _P.killed = True

    monkeypatch.setattr(sc, "_start", lambda: True)
    sc._proc = _P()
    with pytest.raises(ValueError, match="native decode failed: bad"):
        sc.decode(b"I", b"xx")
    assert _P.killed is False
    assert sc._proc is not None


# ------------------------------------------------- small-scan fan-out


def test_fanout_small_scan_guard(spark, tmp_path):
    """The closing-run discovery: a sub-128MB parquet arrives as one
    input split, so a per-payload codec Arrow stage after it runs on
    ONE core regardless of cluster size. fanout_small must
    repartition such a scan up to the default parallelism — and must
    NOT touch a frame that already has at least that many partitions
    (at 100 TB split counts the fan-out is a plan no-op; no shuffle
    may be added there)."""
    import pandas as pd

    from data_engineer_project_spark.operators.fanout import fanout_small

    p = str(tmp_path / "small.parquet")
    pd.DataFrame({"doc_id": range(100), "text": ["x"] * 100}).to_parquet(p)
    small = spark.read.parquet(p)
    target = spark.sparkContext.defaultParallelism
    assert small.rdd.getNumPartitions() < target
    fanned = fanout_small(small)
    assert fanned.rdd.getNumPartitions() == target
    assert fanned.count() == 100

    wide = spark.range(1000).repartition(target + 4)
    same = fanout_small(wide)
    # no repartition added: the plan object is returned unchanged
    assert same is wide
