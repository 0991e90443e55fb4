"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata, processed by Arrow-batched ``mapInPandas`` stages.

The decode path has two tiers. REAL: dependency-free PNM (P5/P6),
8-bit BMP, and 8-bit PNG parsers (``decode_pnm`` / ``decode_bmp`` /
``decode_png`` — the PNG path is stdlib zlib + the five scanline
filters), dispatched on the payload's magic bytes — genuine
struct/byte parsing, gated by m15/m16. Round 13 adds lossless webp
(VP8L — operators/vp8l.py, gated by m22); lossy VP8 and the exotic
JPEG processes raise a documented NotImplementedError (WEBP.md / the
SOF-marker note below); ``fake_decode``
(bytes are the pixels) stands in for those. Everything Spark-side —
schemas, binary columns, UDF signatures, Arrow batch shapes,
partitioning — is real and oracle-tested in both tiers.

Scale notes (100 TB):
- Payloads ride in parquet binary columns; scans prune them unless the
  stage touches ``media`` (column pruning keeps metadata-only queries
  cheap — verified in tests via ReadSchema).
- Every per-row stage is one ``payload_stage`` (a narrow mapInPandas,
  no shuffle): it owns the batch loop and the output schema, and each
  operator supplies only a row function and the types of the columns
  it adds; pass-through columns keep their input types. Only
  ``byte_histogram``'s per-batch map-side combine writes its own loop.
  Media pipelines scale linearly with partitions; only the final
  scalar aggregations shuffle.
- ``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds batch memory
  when payloads are large; stages iterate per-batch, never materialize
  a whole partition.
"""

from __future__ import annotations

import inspect
import struct
from bisect import bisect_left
from typing import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DataType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from data_engineer_project_spark.operators.fanout import fanout_small

FORMATS = ("png", "jpeg", "webp")


def attach_media(documents: DataFrame) -> DataFrame:
    """Derive an opaque media payload + typed metadata per document.

    Stands in for reading real blobs: payload bytes are the UTF-8 text
    ("pixels"), dimensions derive deterministically from doc_id. All
    JVM-side expressions — no Python in this hot path.

    Deliberately NOT behind fanout_small (A/B-measured round 14,
    BASELINE.md): unlike the real-codec attach paths, the downstream
    fake-decode Arrow stages are microseconds per payload, so the
    guarded exchange costs more than the parallelism buys (m02
    idle min-of-6: 0.573 s without vs 0.809 s with; m10 a wash).
    The fan-out guard stays where per-payload work is multi-ms
    (attach_real_media / attach_webp_media).
    """
    n_bytes = F.octet_length(F.col("text"))
    width = (F.lit(16) + F.col("doc_id") % 48).cast("int")
    return documents.select(
        "doc_id",
        "lang",
        F.encode("text", "UTF-8").alias("media"),
        F.element_at(F.array(*[F.lit(f) for f in FORMATS]), (F.col("doc_id") % 3 + 1).cast("int")).alias("media_format"),
        width.alias("width"),
        F.ceil(n_bytes / width).cast("int").alias("height"),
        n_bytes.cast("long").alias("n_bytes"),
    )


def kept_fields(df: DataFrame, cols: list[str]) -> list[StructField]:
    """Output fields for columns an Arrow stage copies through: each
    keeps its type in ``df``, so an ``int`` id stays ``int`` and an
    ``array<double>`` stays double. Nullable, like every declared
    output field, so downstream null handling is unchanged."""
    return [StructField(c, df.schema[c].dataType) for c in cols]


def payload_stage(
    df: DataFrame,
    keep: list[str],
    adds: dict[str, DataType],
    row: Callable[..., Iterable[tuple]],
) -> DataFrame:
    """One narrow ``mapInPandas`` stage that calls ``row`` per input row.

    ``row``'s parameter names are the input columns it reads. For each
    input row it yields zero or more tuples of the ``adds`` values;
    every emitted row starts with that input row's ``keep`` values. The
    output schema is ``keep`` typed from ``df.schema`` (``kept_fields``)
    then ``adds`` as declared. What a NULL or empty payload means (no
    row, zeros, a status) is each ``row``'s own rule. ``df`` is mapped
    as given, so the plan is ``df``'s plus one MapInPandas."""
    reads = list(inspect.signature(row).parameters)
    names = keep + list(adds)
    schema = StructType(
        kept_fields(df, keep) + [StructField(c, t) for c, t in adds.items()]
    )
    nk = len(keep)

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [
                vals[:nk] + add
                for vals in zip(*(pdf[c] for c in keep + reads))
                for add in row(*vals[nk:])
            ]
            yield pd.DataFrame.from_records(out, columns=names)

    return df.mapInPandas(stage, schema)


# --------------------------------------------------------------------
# Real, dependency-free container codecs. Two genuinely different
# on-disk layouts that decode to the SAME logical grayscale image:
#
# - PNM (P5 grayscale / P6 RGB): ASCII "P5\n<w> <h>\n<maxval>\n"
#   header with comment lines, then raw samples row-major top-down.
# - BMP (8-bit uncompressed, BITMAPINFOHEADER): little-endian binary
#   headers, a 256-entry grayscale palette, rows padded to a 4-byte
#   stride, stored BOTTOM-UP (or top-down when height is negative).
#
# decode_* are real struct/byte parsers — no Pillow, no fakes. PNG,
# JPEG (baseline/progressive/lossless), GIF, TIFF, WAV, and lossless
# webp (operators/vp8l.py) all have real entropy codecs; lossy VP8
# and the exotic JPEG processes (arithmetic-coded, hierarchical)
# remain documented non-goals (WEBP.md; the module docstring above).
# --------------------------------------------------------------------


def encode_pnm(pixels: bytes, width: int) -> bytes:
    """P5 (grayscale PNM) container for ``pixels`` (len must be a
    multiple of ``width``)."""
    if width <= 0 or len(pixels) % width:
        raise ValueError("pixel buffer must be height*width bytes")
    height = len(pixels) // width
    return b"P5\n%d %d\n255\n" % (width, height) + pixels


def decode_pnm(payload: bytes) -> np.ndarray:
    """Parse a binary PNM (P5 grayscale or P6 RGB) payload into its
    flat sample array (row-major, top-down — P6 interleaves RGB)."""
    if payload[:2] not in (b"P5", b"P6"):
        raise ValueError("not a binary PNM payload")
    per_px = 1 if payload[:2] == b"P5" else 3
    # header tokens: width, height, maxval — whitespace separated,
    # '#' comment lines allowed; ONE whitespace byte ends the header.
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(payload[start:pos]))
    pos += 1  # the single whitespace byte after maxval
    width, height, maxval = tokens
    if maxval <= 0 or maxval > 65535:
        raise ValueError(f"invalid PNM maxval {maxval}")
    n = width * height * per_px
    if maxval > 255:
        # 16-bit samples: big-endian u16 per the format, scaled to the
        # 8-bit sample space every downstream stat/fingerprint uses
        # (round-half-up of v*255/maxval; 65535 -> 255, 0 -> 0)
        data = payload[pos : pos + 2 * n]
        if len(data) != 2 * n:
            raise ValueError(
                f"truncated PNM: want {n} 16-bit samples, have {len(data) // 2}"
            )
        v = np.frombuffer(data, dtype=">u2").astype(np.uint32)
        return ((v * 255 + maxval // 2) // maxval).astype(np.uint8)
    data = payload[pos : pos + n]
    if len(data) != n:
        raise ValueError(f"truncated PNM: want {n} samples, have {len(data)}")
    return np.frombuffer(data, dtype=np.uint8)


def encode_bmp8(pixels: bytes, width: int) -> bytes:
    """8-bit uncompressed BMP (grayscale palette: index i → (i,i,i))
    for ``pixels`` (len must be a multiple of ``width``): rows padded
    to a 4-byte stride and written bottom-up, per the format."""
    import struct

    if width <= 0 or len(pixels) % width:
        raise ValueError("pixel buffer must be height*width bytes")
    height = len(pixels) // width
    stride = (width + 3) & ~3
    palette = b"".join(bytes((i, i, i, 0)) for i in range(256))
    offset = 14 + 40 + len(palette)
    file_size = offset + stride * height
    file_hdr = b"BM" + struct.pack("<IHHI", file_size, 0, 0, offset)
    info_hdr = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 8, 0, stride * height,
        2835, 2835, 256, 0,
    )
    pad = b"\x00" * (stride - width)
    rows = [
        pixels[r * width : (r + 1) * width] + pad for r in range(height)
    ]
    return file_hdr + info_hdr + palette + b"".join(reversed(rows))


def decode_bmp(payload: bytes) -> np.ndarray:
    """Parse an 8-bit uncompressed BMP into its flat pixel-index array
    in row-major TOP-DOWN order (undoing the stride padding and the
    bottom-up row layout). With the grayscale palette encode_bmp8
    writes, index == gray value, so this is the decoded image."""
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    if len(payload) < 34:
        raise ValueError("BMP payload truncated inside the header")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    dib_size = struct.unpack_from("<I", payload, 14)[0]
    if dib_size == 12:
        # BITMAPCOREHEADER (OS/2 1.x): u16 dims, no compression field,
        # always bottom-up, 3-byte palette entries (data_offset already
        # accounts for the palette, so rows read identically)
        width, height, _planes, bpp = struct.unpack_from("<HHHH", payload, 18)
        compression, top_down = 0, False
        width, height = int(width), int(height)
    elif dib_size >= 40:
        width, height = struct.unpack_from("<ii", payload, 18)
        bpp = struct.unpack_from("<H", payload, 28)[0]
        compression = struct.unpack_from("<I", payload, 30)[0]
        top_down = height < 0
        height = abs(height)
    else:
        raise ValueError(f"invalid BMP DIB header size {dib_size}")
    if bpp != 8 or compression != 0:
        raise NotImplementedError(
            f"only 8-bit uncompressed BMP supported (bpp={bpp}, "
            f"compression={compression})"
        )
    # header fields are UNTRUSTED: a corrupt width/height must become a
    # ValueError (-> quarantine verdict), never a whole-buffer
    # frombuffer read (numpy count<0) or an unbounded row loop
    if width <= 0:
        raise ValueError(f"BMP header declares non-positive width {width}")
    stride = (width + 3) & ~3
    if data_offset + stride * height > len(payload):
        raise ValueError(
            "BMP pixel data extends past the payload "
            f"(offset {data_offset} + {stride}x{height} > {len(payload)})"
        )
    rows = [
        np.frombuffer(payload, dtype=np.uint8, count=width,
                      offset=data_offset + r * stride)
        for r in range(height)
    ]
    if not top_down:
        rows.reverse()
    return np.concatenate(rows) if rows else np.empty(0, dtype=np.uint8)


# --------------------------------------------------------------------
# PNG (8-bit grayscale / RGB, non-interlaced + Adam7) — stdlib zlib +
# the five scanline filter types, no Pillow. Reachable dependency-free
# because its only entropy codec is DEFLATE, which the stdlib ships
# (JPEG and lossless webp have their own codecs; see WEBP.md).
# --------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# Stored-block size we frame OURSELVES (zlib.compress(level=0)'s
# internal segmentation is zlib-version-dependent; fixed framing keeps
# the container size arithmetically predictable for oracle SQL:
# idat = 2 + 5*ceil(raw/32768) + raw + 4).
_PNG_STORE_BLOCK = 32768


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _zlib_stored(data: bytes) -> bytes:
    """A valid zlib stream of uncompressed DEFLATE stored blocks with
    fixed ``_PNG_STORE_BLOCK`` framing — byte-deterministic across
    zlib versions (zlib.decompress reads it; we never rely on
    zlib.compress's internal block segmentation)."""
    import zlib

    out = [b"\x78\x01"]
    n = len(data)
    nb = max(1, -(-n // _PNG_STORE_BLOCK))
    for k in range(nb):
        chunk = data[k * _PNG_STORE_BLOCK : (k + 1) * _PNG_STORE_BLOCK]
        final = b"\x01" if k == nb - 1 else b"\x00"
        ln = len(chunk)
        out.append(final + struct.pack("<HH", ln, ln ^ 0xFFFF) + chunk)
    out.append(struct.pack(">I", zlib.adler32(data) & 0xFFFFFFFF))
    return b"".join(out)


def encode_png(pixels: bytes, width: int) -> bytes:
    """8-bit grayscale PNG (color type 0, filter 0 scanlines,
    stored-block zlib) for ``pixels`` (len must be a multiple of
    ``width``). Container size is exactly
    ``8 + 25 + (12 + 2 + 5*ceil(raw/32768) + raw + 4) + 12`` with
    ``raw = height*(width+1)`` — the m16 oracle recomputes it."""
    if width <= 0 or not pixels or len(pixels) % width:
        # empty buffers are rejected: _zlib_stored would emit one stored
        # block for raw=0 while the advertised 5*ceil(raw/32768) formula
        # gives 0, and decode_png rejects zero-dimension headers anyway.
        raise ValueError("pixel buffer must be non-empty height*width bytes")
    height = len(pixels) // width
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(
        b"\x00" + pixels[r * width : (r + 1) * width] for r in range(height)
    )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _zlib_stored(raw))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> np.ndarray:
    """Parse an 8-bit PNG (grayscale or RGB, non-interlaced OR Adam7
    interlaced) into its flat sample array (row-major, top-down; RGB
    interleaves). Real decode: chunk walk with CRC verification, zlib
    inflate, all five scanline filters (None/Sub/Up/Average/Paeth)
    reversed — per Adam7 pass when interlaced, then scattered onto the
    full grid. Untrusted input raises ValueError (truncation anywhere
    — chunk table, IDAT stream, pixel mass — or CRC/length lies),
    never a numpy/zlib internal error."""
    import zlib

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, w = 8, None
    color = interlace = depth = None
    palette = None
    idat: list[bytes] = []
    seen_iend = False
    while pos + 8 <= len(payload):
        ln = int.from_bytes(payload[pos : pos + 4], "big")
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        crc = payload[pos + 8 + ln : pos + 12 + ln]
        if len(data) != ln or len(crc) != 4:
            raise ValueError("truncated PNG: chunk cut mid-stream")
        if zlib.crc32(typ + data) & 0xFFFFFFFF != int.from_bytes(crc, "big"):
            raise ValueError(f"PNG chunk {typ!r} CRC mismatch")
        if typ == b"IHDR":
            if ln != 13:
                raise ValueError("PNG IHDR must be 13 bytes")
            w, h, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if color not in (0, 2, 3, 4, 6):
                raise ValueError(f"invalid PNG color type {color}")
            if depth not in ((1, 2, 4, 8) if color in (0, 3) else (8,)):
                raise NotImplementedError(
                    f"unsupported PNG depth/color (depth={depth}, "
                    f"color={color}) — 16-bit channels not supported"
                )
            if comp != 0 or filt != 0:
                raise ValueError("invalid PNG compression/filter method")
            if interlace not in (0, 1):
                raise ValueError(f"invalid PNG interlace method {interlace}")
            if w == 0 or h == 0:
                # h == 0 matters as much as w == 0: expected becomes 0
                # and zlib treats max_length=0 as UNBOUNDED, so a
                # zero-height header would let a DEFLATE bomb inflate
                # fully before the length check.
                raise ValueError("PNG header declares zero dimension")
        elif typ == b"PLTE":
            if ln % 3 or ln == 0 or ln > 768:
                raise ValueError("invalid PNG PLTE length")
            palette = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            seen_iend = True
            break
        pos += 12 + ln
    if w is None:
        raise ValueError("truncated PNG: no IHDR")
    if not seen_iend:
        raise ValueError("truncated PNG: missing IEND")
    if color == 3 and palette is None:
        raise ValueError("palette PNG without a PLTE chunk")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
    bits_px = depth * channels
    bpp = max(1, bits_px // 8)  # filter byte-unit per the spec

    def row_bytes(npx):
        return (npx * bits_px + 7) // 8

    stride = row_bytes(w)
    if interlace:
        # Adam7: seven sub-images, each with its own filter bytes
        passes = []
        expected = 0
        for x0, dx, y0, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            passes.append((x0, dx, y0, dy, pw, ph))
            expected += ph * (row_bytes(pw) + 1)
    else:
        expected = h * (stride + 1)
    # header fields are UNTRUSTED: bound the allocation BEFORE
    # inflating — a header declaring a giant geometry, or a tiny IDAT
    # inflating 1000x (a zip bomb), must become a quarantine verdict,
    # never an executor OOM. 2^28 filtered bytes ≈ a 16k x 16k gray
    # image — far above any fixture, far below executor memory.
    if expected > (1 << 28):
        raise ValueError(
            f"PNG header declares {w}x{h}x{bpp} "
            f"({expected} filtered bytes) — over the decode bound"
        )
    try:
        do = zlib.decompressobj()
        raw = do.decompress(b"".join(idat), expected)
        # feed back the unconsumed input asking for ONE more byte: a
        # conforming stream of exactly `expected` bytes yields nothing
        # (only the adler trailer remains); any surplus output is a bomb
        bomb = (
            do.decompress(do.unconsumed_tail, 1) != b""
            if not do.eof
            else False
        )
    except zlib.error as e:
        raise ValueError(f"corrupt PNG IDAT stream: {e}") from e
    if bomb or len(raw) != expected:
        raise ValueError(
            f"PNG pixel data length mismatch: want {expected}, "
            f"have {len(raw)}{' plus surplus (inflate bomb)' if bomb else ''}"
        )
    if not interlace:
        rec = _png_unfilter(raw, 0, h, stride, bpp)
        return _png_samples(rec, h, w, depth, color, palette).reshape(-1)
    # Adam7: unfilter each pass as its own sub-image (its scanlines
    # chain within the pass only), then scatter onto the full grid
    out_ch = 3 if color in (2, 3, 6) else 1
    img = np.zeros((h, w, out_ch), dtype=np.uint8)
    off = 0
    for x0, dx, y0, dy, pw, ph in passes:
        pstride = row_bytes(pw)
        rec = _png_unfilter(raw, off, ph, pstride, bpp)
        off += ph * (pstride + 1)
        img[y0::dy, x0::dx, :] = _png_samples(rec, ph, pw, depth, color, palette)
    return img.reshape(-1)


def _png_samples(rec, h, w, depth, color, palette) -> np.ndarray:
    """Unfiltered scanline bytes -> (h, w, out_ch) uint8 samples:
    unpack sub-byte depths (MSB-first), scale gray to the 8-bit
    space, expand palette indices to RGB, drop alpha (the dedup
    feature extractors downstream consume 1- or 3-channel pixels)."""
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
    stride = (w * depth * channels + 7) // 8
    a = np.frombuffer(bytes(rec), dtype=np.uint8).reshape(h, stride)
    if depth < 8:
        bits = np.unpackbits(a, axis=1)[:, : w * depth]
        vals = np.zeros((h, w), dtype=np.uint8)
        for b in range(depth):
            vals = (vals << 1) | bits[:, b::depth]
    else:
        vals = a.reshape(h, w, channels) if channels > 1 else a[:, :w]
    if color == 0:
        if depth < 8:
            vals = (vals.astype(np.uint16) * 255 // ((1 << depth) - 1)).astype(
                np.uint8
            )
        return vals.reshape(h, w, 1)
    if color == 3:
        idx = vals.reshape(h, w)
        if int(idx.max(initial=0)) >= len(palette):
            raise ValueError("PNG palette index out of range")
        return palette[idx]
    if color == 2:
        return vals
    if color == 4:  # gray + alpha: drop alpha
        return vals[:, :, :1]
    return vals[:, :, :3]  # RGBA: drop alpha


# Adam7 pass grid: (x_start, x_step, y_start, y_step) per pass.
_ADAM7 = (
    (0, 8, 0, 8),
    (4, 8, 0, 8),
    (0, 4, 4, 8),
    (2, 4, 0, 4),
    (0, 2, 2, 4),
    (1, 2, 0, 2),
    (0, 1, 1, 2),
)


def _png_unfilter(raw, offset: int, h: int, stride: int, bpp: int) -> bytearray:
    """Reverse the five PNG scanline filters over ``h`` rows of
    ``stride`` bytes starting at ``offset`` in the inflated stream
    (each row is prefixed by its filter byte); rows chain within this
    span only — an Adam7 pass unfilters independently."""
    out = bytearray(h * stride)
    prev = bytes(stride)
    for r in range(h):
        base = offset + r * (stride + 1)
        ft = raw[base]
        line = raw[base + 1 : base + 1 + stride]
        rec = bytearray(stride)
        if ft == 0:
            rec[:] = line
        elif ft == 1:  # Sub
            for i in range(stride):
                left = rec[i - bpp] if i >= bpp else 0
                rec[i] = (line[i] + left) & 0xFF
        elif ft == 2:  # Up
            for i in range(stride):
                rec[i] = (line[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(stride):
                left = rec[i - bpp] if i >= bpp else 0
                rec[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = rec[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = b
                else:
                    pred = c
                rec[i] = (line[i] + pred) & 0xFF
        else:
            raise ValueError(f"invalid PNG scanline filter {ft}")
        out[r * stride : (r + 1) * stride] = rec
        prev = bytes(rec)
    return out


# --------------------------------------------------------------------
# JPEG (ITU T.81), dependency-free. Two processes:
#
# - decode_jpeg: marker walk + DHT Huffman build + entropy bit reader
#   (0xFF00 unstuffing) covering baseline sequential DCT (SOF0:
#   dequant -> dezigzag -> exact float64 IDCT -> level shift -> clamp,
#   with H/V chroma replication upsample and JFIF YCbCr->RGB for
#   3-component scans), PROGRESSIVE DCT (SOF2: multi-scan spectral
#   selection + successive approximation per T.81 G.2 — interleaved or
#   single-component DC scans, per-component AC scans with EOB runs
#   and refinement correction bits, accumulated in a SPARSE per-block
#   coefficient state so hostile dimension headers cost entropy-
#   bounded memory), AND lossless sequential (SOF3: T.81 Annex H
#   predictors 1-7, point transform Al). Arithmetic coding and
#   hierarchical remain NotImplementedError; hostile input (truncation
#   anywhere, oversubscribed or overflowing Huffman tables, dimension
#   bombs, >128 scans) raises ValueError BEFORE any unbounded work —
#   the decode_png contract (quarantine verdict, never an executor
#   OOM).
#
# - encode_jpeg_lossless: the fixture arm. SOF3 grayscale, predictor 1,
#   a canonical 4-bit/9-symbol DC table — BIT-EXACT lossless (unlike
#   any quantized DCT path), which is what lets m15/m04's container-
#   ignorant oracles keep verifying true pixel recovery. COM filler
#   segments pad every container to EXACTLY 81 + 3*w*h bytes (worst-
#   case stuffed entropy is 2*(1.5*w*h + 1) = 3wh+2 <= the budget), so
#   m16's container-size arithmetic stays SQL-computable even though
#   Huffman output length is content-dependent.
#
# - encode_jpeg_baseline: SOF0 test encoder (all-ones quant, canonical
#   fixed-length tables) so the DCT decode path has a pytest roundtrip
#   partner; quantized DCT is lossy by nature, so it never joins the
#   parity fixture rotation.
# --------------------------------------------------------------------

_JPG_SIZE_BASE = 81  # fixed segments 75 + minimum COM filler slack


def _zigzag_order() -> list[int]:
    """The 64-entry zigzag scan as (row*8+col) indices, generated by
    the diagonal walk instead of a typo-prone literal table."""
    order = []
    for d in range(15):
        rng = range(max(0, d - 7), min(d, 7) + 1)
        for i in (rng if d % 2 else reversed(rng)):
            order.append(i * 8 + (d - i))
    return order


_ZIGZAG = _zigzag_order()

# Orthonormal 8x8 DCT basis: A[x, u]; block = A @ coef @ A.T inverts
# coef = A.T @ block @ A exactly (float64 matmul, deterministic).
_DCT_A = np.array(
    [
        [
            (np.sqrt(1.0 / 8) if u == 0 else np.sqrt(2.0 / 8))
            * np.cos((2 * x + 1) * u * np.pi / 16)
            for u in range(8)
        ]
        for x in range(8)
    ]
)


class _BitWriter:
    """MSB-first bit accumulator with JPEG 0xFF byte stuffing.
    Shift-based (whole values, not per-bit loops): the fixture encode
    runs per payload inside Arrow stages, so constant factors here are
    a measured bench cost (m16)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        n = self.nbits + nbits
        out = self.out
        while n >= 8:
            n -= 8
            b = (self.acc >> n) & 0xFF
            out.append(b)
            if b == 0xFF:
                out.append(0x00)
        self.acc &= (1 << n) - 1
        self.nbits = n

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill per T.81 F.1.2.3
        return bytes(self.out)

    def block_boundary(self, flush=None) -> bool:
        """Restart hook (no-op here; _RestartWriter overrides)."""
        return False


class _BitReader:
    """Entropy-stream cursor handed to the JPEG scan decoders: the
    payload plus a byte position. Since round 11 every decode path
    (lossless, baseline, progressive) does its own unstuffing through
    the pre-computed 64-bit-window machinery (_unstuff_entropy /
    _win64_list), so this carries only WHERE the scan starts; the
    progressive path advances ``pos`` past each scan's final segment
    so the marker walk resumes correctly."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos


class _Huff:
    """Canonical Huffman decoder per T.81 F.2.2.3 (MINCODE/MAXCODE/
    VALPTR); construction validates the table (Kraft overflow or a
    count/value mismatch is hostile input -> ValueError)."""

    def __init__(self, counts: list[int], values: bytes):
        if sum(counts) != len(values) or sum(counts) > 256:
            raise ValueError("bad JPEG Huffman table: count/value mismatch")
        # content key for the module-level fast-path LUT cache (tables
        # repeat across payloads; _Huff itself is rebuilt per parse)
        self.key = (bytes(counts), bytes(values))
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        self.values = values
        code = 0
        k = 0
        for ln in range(1, 17):
            self.valptr[ln] = k
            self.mincode[ln] = code
            code += counts[ln - 1]
            k += counts[ln - 1]
            self.maxcode[ln] = code - 1 if counts[ln - 1] else -1
            if code > (1 << ln):
                raise ValueError("bad JPEG Huffman table: code overflow")
            code <<= 1
        # 8-bit lookahead for the window-based readers: lut_packed[p]
        # = (codelen << 8 | symbol) for every 8-bit prefix whose
        # leading bits form a code of length <= 8 (0 = no hit — the
        # scalar canonical walk resolves longer codes)
        self.lut_packed: list = [0] * 256
        for ln in range(1, 9):
            lo, hi = self.mincode[ln], self.maxcode[ln]
            if hi < 0:
                continue
            for c in range(lo, hi + 1):
                sym = self.values[self.valptr[ln] + c - lo]
                base = c << (8 - ln)
                for tail in range(1 << (8 - ln)):
                    self.lut_packed[base | tail] = (ln << 8) | sym


def _unstuff_entropy(data: bytes, pos: int):
    """Pre-unstuff ONE entropy-coded segment starting at ``pos`` for
    the window-based fast decoders: the segment runs to the first real
    marker (0xFF followed by anything but the 0x00 stuff byte — RSTn
    included — or a lone trailing 0xFF), with each 0xFF's stuff byte
    dropped. Returns (clean, seg_end): the unstuffed bytes as a numpy
    uint8 array, and the payload offset of the terminating marker (or
    end of data)."""
    arr = np.frombuffer(data, np.uint8)[pos:]
    if arr.size:
        nxt = np.empty_like(arr)
        nxt[:-1] = arr[1:]
        nxt[-1] = 0xFF  # a lone trailing 0xFF ends the segment too
        midx = np.nonzero((arr == 0xFF) & (nxt != 0x00))[0]
        end = int(midx[0]) if midx.size else int(arr.size)
    else:
        end = 0
    seg = arr[:end]
    keep = np.ones(end, bool)
    drop = np.nonzero(seg == 0xFF)[0] + 1
    keep[drop[drop < end]] = False
    return seg[keep], pos + end


def _win64_list(clean: np.ndarray) -> list:
    """Python list of 64-bit big-endian bit windows, one per byte
    offset of ``clean`` and zero-padded well past the end: a scalar
    decoder reads any <= 26 bits at bit position p as
    ``(v[p >> 3] >> (64 - (p & 7) - n)) & ((1 << n) - 1)``. Reads
    straying into the padding are caught by the caller's
    ``pos > total_bits`` check."""
    n = int(clean.size)
    pad = np.zeros(n + 16, np.uint64)
    pad[:n] = clean
    v = np.zeros(n + 8, np.uint64)
    for k in range(8):
        v |= pad[k : k + n + 8] << np.uint64(56 - 8 * k)
    return v.tolist()


# _Huff instances are immutable after construction and tables repeat
# across payloads (every fixture shares one pair), so construction —
# including the 256-entry lookahead build — is cached by content.
_HUFF_CACHE: dict = {}


def _huff_cached(counts: list[int], values: bytes) -> "_Huff":
    key = (bytes(counts), bytes(values))
    hit = _HUFF_CACHE.get(key)
    if hit is None:
        if len(_HUFF_CACHE) >= 512:  # hostile many-table churn bound
            _HUFF_CACHE.clear()
        hit = _HUFF_CACHE[key] = _Huff(counts, values)
    return hit


def _next_jpeg_segment(payload: bytes, pos: int):
    """Parse ONE marker segment at ``pos``: returns (marker, segment
    bytes, position AFTER the segment), skipping bare TEM/RSTn
    markers. Truncation anywhere raises ValueError."""
    while True:
        if pos + 2 > len(payload):
            raise ValueError("truncated JPEG: no EOI/SOS reached")
        if payload[pos] != 0xFF:
            raise ValueError("corrupt JPEG: expected a marker")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            return marker, b"", pos
        if marker in (0x01, *range(0xD0, 0xD8)):  # TEM / RSTn: bare
            continue
        if pos + 2 > len(payload):
            raise ValueError("truncated JPEG: marker length cut")
        ln = int.from_bytes(payload[pos : pos + 2], "big")
        if ln < 2 or pos + ln > len(payload):
            raise ValueError("truncated JPEG: segment exceeds payload")
        return marker, payload[pos + 2 : pos + ln], pos + ln


def _skip_jpeg_entropy(payload: bytes, pos: int) -> int:
    """Advance past entropy-coded data: returns the position of the
    next real marker (0xFF followed by anything but a stuff byte or
    RSTn). The scan decoder has already consumed the meaningful bits;
    whatever sits between its final byte and the marker is padding."""
    n = len(payload)
    while pos < n:
        if payload[pos] == 0xFF and pos + 1 < n:
            nxt = payload[pos + 1]
            if nxt != 0x00 and not 0xD0 <= nxt <= 0xD7:
                return pos
            pos += 2
        else:
            pos += 1
    raise ValueError("truncated JPEG: no marker after scan data")


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Parse a JPEG into its flat sample array (row-major top-down;
    RGB interleaved for 3-component frames) — baseline sequential DCT
    (SOF0), progressive DCT (SOF2: spectral selection + successive
    approximation, multi-scan), and lossless sequential (SOF3, 8-bit)
    all supported. See the section comment for the hostile-input
    contract."""
    qt: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], _Huff] = {}
    frame = None
    mode = None
    restart_interval = 0
    coef = None  # progressive coefficient state: per-comp sparse block dict
    nscans = 0
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    pos = 2
    while True:
        marker, seg, pos = _next_jpeg_segment(payload, pos)
        if marker in (0xC0, 0xC1, 0xC2, 0xC3):
            mode = (
                "dct"
                if marker in (0xC0, 0xC1)
                else ("progressive" if marker == 0xC2 else "lossless")
            )
            if len(seg) < 6:
                raise ValueError("truncated JPEG: SOF too short")
            prec, h, w, nf = seg[0], int.from_bytes(seg[1:3], "big"), int.from_bytes(seg[3:5], "big"), seg[5]
            if prec != 8:
                raise NotImplementedError(f"only 8-bit JPEG supported (P={prec})")
            if len(seg) < 6 + 3 * nf:
                raise ValueError("truncated JPEG: SOF component table cut")
            comps = []
            for i in range(nf):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq})
            if any(c["h"] not in (1, 2, 4) or c["v"] not in (1, 2, 4) for c in comps):
                raise ValueError("invalid JPEG sampling factors")
            frame = {"w": w, "h": h, "comps": comps}
        elif marker in (0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            # Deliberate non-goals, not TODOs (round 12): the
            # arithmetic-coded processes (0xC9-0xCB/0xCD-0xCF) need
            # T.81's exact 113-row Qe state table — implementing them
            # against a from-memory table would decode garbage, a
            # self-consistent made-up table would be a fake codec, and
            # no independent cross-validator exists in this
            # environment (ImageIO has no arithmetic reader either).
            # The hierarchical processes (0xC5-0xC7) have no known
            # producer in any ingest corpus we target.
            raise NotImplementedError(
                f"unsupported JPEG process (SOF marker 0xFF{marker:02X}): "
                "only baseline sequential, progressive, and lossless sequential"
            )
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                if i + 17 > len(seg):
                    raise ValueError("truncated JPEG: DHT cut")
                tc, th = seg[i] >> 4, seg[i] & 15
                counts = list(seg[i + 1 : i + 17])
                n = sum(counts)
                if i + 17 + n > len(seg):
                    raise ValueError("truncated JPEG: DHT values cut")
                huff[(tc, th)] = _huff_cached(
                    counts, seg[i + 17 : i + 17 + n]
                )
                i += 17 + n
        elif marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 15
                step = 128 if pq else 64
                if i + 1 + step > len(seg):
                    raise ValueError("truncated JPEG: DQT cut")
                raw = seg[i + 1 : i + 1 + step]
                qt[tq] = (
                    [int.from_bytes(raw[j : j + 2], "big") for j in range(0, 128, 2)]
                    if pq
                    else list(raw)
                )
                i += 1 + step
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(seg[:2], "big")
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            if len(seg) < 1 + 2 * ns + 3:
                raise ValueError("truncated JPEG: SOS too short")
            sel = []
            for i in range(ns):
                cs, tt = seg[1 + 2 * i], seg[2 + 2 * i]
                sel.append({"cs": cs, "td": tt >> 4, "ta": tt & 15})
            ss, se, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
            scan = {"sel": sel, "ss": ss, "se": se, "ah": ahal >> 4, "al": ahal & 15}
            if frame is None:
                raise ValueError("JPEG scan before any frame header")
            w, h, comps = frame["w"], frame["h"], frame["comps"]
            if w == 0 or h == 0:
                raise ValueError("JPEG header declares zero dimension")
            if w * h * len(comps) > (1 << 28):
                raise ValueError(
                    f"JPEG header declares {w}x{h}x{len(comps)} — over the decode bound"
                )
            br = _BitReader(payload, pos)
            if mode == "lossless":
                return _decode_jpeg_lossless(br, frame, scan, huff)
            if mode == "dct":
                return _decode_jpeg_baseline(br, frame, scan, huff, qt, restart_interval)
            # progressive: accumulate this scan's coefficients, then
            # resume the marker walk after its entropy data
            nscans += 1
            if nscans > 128:
                raise ValueError("JPEG declares too many progressive scans")
            if coef is None:
                coef = [{} for _ in comps]
            _decode_progressive_scan(br, frame, scan, huff, coef, restart_interval)
            pos = _skip_jpeg_entropy(payload, br.pos)
        elif marker == 0xD9:  # EOI
            if coef is not None:
                return _finish_progressive(frame, coef, qt)
            raise ValueError("JPEG reached EOI without a scan")


# (table content, mode) -> (cons16, diff16, sym16): for every 16-bit
# window, the bits one whole Huffman UNIT consumes (code + appended
# value bits; 0 = not resolvable in 16 bits -> scalar fallback), the
# EXTENDed signed value, and the raw symbol. Unit modes:
#   False  — `category + category bits` (DC / lossless)
#   True   — `run/size + size bits` (baseline AC)
#   "prog" — progressive AC-first: coefficient units as in True, but
#            an EOBn symbol (size 0, run < 15) appends ``run`` RAW
#            bits whose value is the eobrun extension (NOT extended)
# Built once per distinct table with vectorized numpy and cached for
# the life of the process.
_FAST16_CACHE: dict = {}


def _huff_fast16(table, ac):
    key = (table.key, ac)
    hit = _FAST16_CACHE.get(key)
    if hit is not None:
        return hit
    w = np.arange(65536, dtype=np.int64)
    lutp = np.array(table.lut_packed, dtype=np.int64)[w >> 8]
    ln = lutp >> 8
    sym = lutp & 0xFF
    if ac is False:
        s = sym
        raw_eob = np.zeros_like(sym, dtype=bool)
    else:
        s = sym & 15
        if ac == "prog":
            r = sym >> 4
            raw_eob = (s == 0) & (r < 15)
            s = np.where(raw_eob, r, s)
        else:
            raw_eob = np.zeros_like(sym, dtype=bool)
    ok = (ln > 0) & (ln + s <= 16)
    s = np.minimum(s, 16)  # arithmetic clamp for the excluded rows
    shift = np.maximum(16 - ln - s, 0)
    val = (w >> shift) & ((1 << s) - 1)
    half = 1 << np.maximum(s - 1, 0)
    diff = np.where(
        s == 0, 0, np.where(val >= half, val, val - (1 << s) + 1)
    )
    diff = np.where(raw_eob, val, diff)  # EOBn extension bits are raw
    out = (
        np.where(ok, ln + s, 0).astype(np.int64),
        np.where(ok, diff, 0).astype(np.int64),
        np.where(ok, sym, 0).astype(np.int64),
    )
    if len(_FAST16_CACHE) >= 64:  # ~0.5 MB/entry: bound hostile churn
        _FAST16_CACHE.clear()
    _FAST16_CACHE[key] = out
    return out


def _huff_fastpacked(table, ac) -> list:
    """The 16-bit unit LUT as ONE Python list of packed ints for the
    hot decode loops: entry w resolves the whole unit whose bits lead
    the 16-bit window w as
    ``(consumed << 27) | (symbol << 18) | (value + 65536)``
    (0 = unresolvable in 16 bits -> scalar fallback). Cached per
    table content for the life of the process."""
    key = (table.key, ac, "packed")
    hit = _FAST16_CACHE.get(key)
    if hit is None:
        cons, diff, sym = _huff_fast16(table, ac)
        hit = np.where(
            cons > 0, (cons << 27) | (sym << 18) | (diff + 65536), 0
        ).tolist()
        _FAST16_CACHE[key] = hit
    return hit


def _unit_scalar(v, p: int, table, ac: bool, cap=16, cap_msg="bad JPEG category"):
    """Scalar decode of one Huffman unit at bit position ``p`` from
    the 64-bit window list ``v`` — the fallback for units the 16-bit
    chain cannot resolve (codes over 8 bits, or code + value bits
    over 16). Returns (symbol, EXTENDed value, next position)."""
    win = (v[p >> 3] >> (48 - (p & 7))) & 0xFFFF
    e = table.lut_packed[win >> 8]
    if e:
        sym = e & 0xFF
        p += e >> 8
    else:
        maxcode, mincode = table.maxcode, table.mincode
        code = win >> 15
        ln = 1
        while not (maxcode[ln] >= 0 and code <= maxcode[ln]):
            ln += 1
            if ln > 16:
                raise ValueError("bad JPEG Huffman stream: no code matched")
            code = (win >> (16 - ln)) & ((1 << ln) - 1)
        sym = table.values[table.valptr[ln] + code - mincode[ln]]
        p += ln
    s = sym & 15 if ac else sym
    if s == 0:
        if ac == "prog" and (sym >> 4) < 15:
            # progressive EOBn: the run length appends RAW extension bits
            r = sym >> 4
            if r == 0:
                return sym, 0, p
            val = (v[p >> 3] >> (64 - (p & 7) - r)) & ((1 << r) - 1)
            return sym, val, p + r
        return sym, 0, p
    if s > cap:
        raise ValueError(f"{cap_msg} {s}")
    val = (v[p >> 3] >> (64 - (p & 7) - s)) & ((1 << s) - 1)
    p += s
    return (
        sym,
        val if val >= (1 << (s - 1)) else val - (1 << s) + 1,
        p,
    )


def _decode_jpeg_lossless(br, frame, scan, huff) -> np.ndarray:
    w, h, comps = frame["w"], frame["h"], frame["comps"]
    if len(comps) != 1 or len(scan["sel"]) != 1:
        raise NotImplementedError("lossless JPEG: single component only")
    pred_sel, al = scan["ss"], scan["al"]
    if pred_sel not in range(1, 8):
        raise ValueError(f"invalid lossless predictor {pred_sel}")
    table = huff.get((0, scan["sel"][0]["td"]))
    if table is None:
        raise ValueError("JPEG scan references a missing Huffman table")
    default = 1 << (7 - al)
    # fast symbol pass (jump-chain when the segment is small enough to
    # precompute per-bit-position tables, scalar windows otherwise),
    # then a row-vectorized predictor reconstruction: predictors 1-5
    # are LINEAR in the current row's left neighbor, so each row is
    # one cumsum/add over int64 with a single final mod-256 (mod and
    # the linear predictor algebra commute); predictors 6/7 shift the
    # left neighbor (nonlinear) and keep a per-pixel fallback row.
    clean, _ = _unstuff_entropy(br.data, br.pos)
    total_bits = 8 * int(clean.size)
    npix = h * w
    v = _win64_list(clean)
    lutF = _huff_fastpacked(table, ac=False)
    diffs = [0] * npix
    p = 0
    for i in range(npix):
        if p >= total_bits:
            raise ValueError("truncated JPEG: entropy stream exhausted")
        e = lutF[(v[p >> 3] >> (48 - (p & 7))) & 0xFFFF]
        if e:
            diffs[i] = (e & 0x3FFFF) - 65536
            p += e >> 27
        else:
            _, diffs[i], p = _unit_scalar(
                v, p, table, False, 16, "bad lossless JPEG: category"
            )
    if p > total_bits:
        raise ValueError("truncated JPEG: entropy stream exhausted")
    d = np.array(diffs, dtype=np.int64).reshape(h, w)
    out = np.empty((h, w), dtype=np.int64)
    # first row: default-predicted start, then left-neighbor chain
    out[0] = (default + np.cumsum(d[0])) % 256
    for y in range(1, h):
        prev = out[y - 1]
        dy = d[y]
        if pred_sel == 1:
            out[y] = (prev[0] + np.cumsum(dy)) % 256
        elif pred_sel == 2:
            row = prev + dy
            row[0] = prev[0] + dy[0]
            out[y] = row % 256
        elif pred_sel == 3:
            rc = np.empty(w, np.int64)
            rc[0] = prev[0]
            rc[1:] = prev[:-1]
            out[y] = (rc + dy) % 256
        elif pred_sel in (4, 5):
            e = np.empty(w, np.int64)
            e[0] = prev[0] + dy[0]
            if pred_sel == 4:  # ra + rb - rc
                e[1:] = prev[1:] - prev[:-1] + dy[1:]
            else:  # ra + ((rb - rc) >> 1)
                e[1:] = ((prev[1:] - prev[:-1]) >> 1) + dy[1:]
            out[y] = np.cumsum(e) % 256
        else:  # 6/7: nonlinear in the left neighbor — scalar row
            pl = prev.tolist()
            dl = dy.tolist()
            row = [0] * w
            row[0] = (pl[0] + dl[0]) % 256
            for x in range(1, w):
                ra, rb, rc = row[x - 1], pl[x], pl[x - 1]
                pred = (
                    rb + ((ra - rc) >> 1)
                    if pred_sel == 6
                    else (ra + rb) >> 1
                )
                row[x] = (pred + dl[x]) % 256
            out[y] = row
    return out.astype(np.uint8).reshape(-1)


def _decode_jpeg_baseline(br, frame, scan, huff, qt, restart_interval) -> np.ndarray:
    """Sequential baseline scan decode with the round-11 fast reader:
    one packed-LUT lookup per Huffman unit over pre-unstuffed 64-bit
    windows (restart intervals re-segment the window list at each RSTn
    marker), coefficients accumulated into flat per-component lists,
    then ONE batched dequantize/de-zigzag/IDCT einsum per component
    and a reshape-transpose block assembly — no per-block numpy."""
    w, h, comps = frame["w"], frame["h"], frame["comps"]
    if len(scan["sel"]) != len(comps):
        raise NotImplementedError("baseline JPEG: interleaved scan only")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    sel_by_id = {s["cs"]: s for s in scan["sel"]}
    for c in comps:
        if c["tq"] not in qt:
            raise ValueError("JPEG frame references a missing quant table")
        if c["id"] not in sel_by_id:
            raise ValueError("JPEG scan/frame component mismatch")
    luts = []
    tables = []
    for c in comps:
        s = sel_by_id[c["id"]]
        dc, ac = huff.get((0, s["td"])), huff.get((1, s["ta"]))
        if dc is None or ac is None:
            raise ValueError("JPEG scan references a missing Huffman table")
        tables.append((dc, ac))
        luts.append((_huff_fastpacked(dc, False), _huff_fastpacked(ac, True)))
    # flat zigzag coefficient store per component, filled sparsely
    zzs = [
        [0] * (mcux * mcuy * c["h"] * c["v"] * 64) for c in comps
    ]
    bidx = [0] * len(comps)
    data = br.data
    clean, seg_end = _unstuff_entropy(data, br.pos)
    v = _win64_list(clean)
    tb = 8 * int(clean.size)
    p = 0
    preds = [0] * len(comps)
    nmcu = 0
    exhausted = "truncated JPEG: entropy stream exhausted"
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and nmcu and nmcu % restart_interval == 0:
                # RSTn sits on a byte boundary between MCU groups:
                # this segment's windows end at the marker, so verify
                # it and open the next segment. First check the last
                # unit didn't overrun this segment (a truncated final
                # Huffman unit decodes zero-padding bits and leaves
                # p past tb — silently wrong coefficients otherwise)
                if p > tb:
                    raise ValueError(exhausted)
                if (
                    seg_end + 2 > len(data)
                    or data[seg_end] != 0xFF
                    or not 0xD0 <= data[seg_end + 1] <= 0xD7
                ):
                    raise ValueError("truncated JPEG: missing restart marker")
                clean, seg_end = _unstuff_entropy(data, seg_end + 2)
                v = _win64_list(clean)
                tb = 8 * int(clean.size)
                p = 0
                preds = [0] * len(comps)
            nmcu += 1
            for ci, c in enumerate(comps):
                lutdc, lutac = luts[ci]
                dc_t, ac_t = tables[ci]
                pred = preds[ci]
                for _ in range(c["v"] * c["h"]):
                    base = bidx[ci] * 64
                    bidx[ci] += 1
                    zz = zzs[ci]
                    if p >= tb:
                        raise ValueError(exhausted)
                    e = lutdc[(v[p >> 3] >> (48 - (p & 7))) & 0xFFFF]
                    if e:
                        pred += (e & 0x3FFFF) - 65536
                        p += e >> 27
                    else:
                        _, dv, p = _unit_scalar(
                            v, p, dc_t, False, 15, "bad JPEG DC category"
                        )
                        pred += dv
                    zz[base] = pred
                    k = 1
                    while k < 64:
                        if p >= tb:
                            raise ValueError(exhausted)
                        e = lutac[(v[p >> 3] >> (48 - (p & 7))) & 0xFFFF]
                        if e:
                            sym = (e >> 18) & 0xFF
                            p += e >> 27
                        else:
                            sym, dv, p = _unit_scalar(v, p, ac_t, True)
                        sz = sym & 15
                        if sz == 0:
                            if sym == 0xF0:  # ZRL
                                k += 16
                                continue
                            break  # EOB
                        k += sym >> 4
                        if k > 63:
                            raise ValueError("bad JPEG AC run past block end")
                        if e:
                            zz[base + k] = (e & 0x3FFFF) - 65536
                        else:
                            zz[base + k] = dv
                        k += 1
                preds[ci] = pred
    if p > tb:
        raise ValueError(exhausted)
    # batched dequantize + de-zigzag + IDCT + block assembly
    planes = []
    for ci, c in enumerate(comps):
        nbx, nby = mcux * c["h"], mcuy * c["v"]
        qv = np.array(qt[c["tq"]], dtype=np.float64)
        zq = np.array(zzs[ci], dtype=np.float64).reshape(-1, 64) * qv
        nat = np.zeros_like(zq)
        nat[:, _ZIGZAG] = zq
        spatial = np.einsum(
            "xu,nuv,yv->nxy", _DCT_A, nat.reshape(-1, 8, 8), _DCT_A
        )
        plane = (
            spatial.reshape(mcuy, mcux, c["v"], c["h"], 8, 8)
            .transpose(0, 2, 4, 1, 3, 5)
            .reshape(nby * 8, nbx * 8)
        )
        planes.append(plane + 128.0)
    return _jpeg_assemble(planes, frame)


def _jpeg_assemble(planes, frame) -> np.ndarray:
    """Shared DCT-frame tail: replication-upsample subsampled chroma
    planes, crop to the declared dimensions, and (for 3-component
    frames) apply the JFIF YCbCr->RGB transform."""
    w, h, comps = frame["w"], frame["h"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    full = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        if c["h"] != hmax or c["v"] != vmax:
            p = np.repeat(np.repeat(p, vmax // c["v"], 0), hmax // c["h"], 1)
        full.append(p[:h, :w])
    if len(comps) == 1:
        return np.clip(np.rint(full[0]), 0, 255).astype(np.uint8).reshape(-1)
    if len(comps) != 3:
        raise NotImplementedError("JPEG DCT frame: 1 or 3 components only")
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=-1,
    )
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8).reshape(-1)


def _prog_geometry(frame):
    """Per-component block geometry for a progressive frame: returns
    (mcux, mcuy, dims) where dims[ci] = (nbx, nby, pbx) — the
    component's NON-interleaved block counts (T.81 A.2.2: over
    ceil(w*h_i/hmax) x ceil(h*v_i/vmax) samples) plus its MCU-padded
    row stride in blocks (interleaved DC scans address the padded
    grid; both index the same sparse dict through ``pbx``)."""
    w, h, comps = frame["w"], frame["h"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    dims = []
    for c in comps:
        nbx = -(-(-(-w * c["h"] // hmax)) // 8)
        nby = -(-(-(-h * c["v"] // vmax)) // 8)
        dims.append((nbx, nby, mcux * c["h"]))
    return mcux, mcuy, dims


def _decode_progressive_scan(br, frame, scan, huff, coef, ri) -> None:
    """Decode ONE progressive scan (T.81 G.2) into the per-component
    sparse coefficient state ``coef`` (dict block-index -> 64-entry
    list in ZIGZAG order; absent block == all-zero). DC scans may be
    interleaved; AC scans are single-component per the standard.
    ``Ah == 0`` scans establish coefficients at precision ``Al``;
    ``Ah > 0`` scans refine one bit. Blocks are only materialized when
    a nonzero value lands in them, so hostile dimension headers cost
    entropy-bounded memory, not declared-size memory."""
    comps = frame["comps"]
    ss, se, ah, al = scan["ss"], scan["se"], scan["ah"], scan["al"]
    sel = scan["sel"]
    if se > 63 or ss > se or al > 13:
        raise ValueError("invalid JPEG progressive spectral band")
    by_id = {c["id"]: ci for ci, c in enumerate(comps)}
    for s in sel:
        if s["cs"] not in by_id:
            raise ValueError("JPEG scan/frame component mismatch")
    mcux, mcuy, dims = _prog_geometry(frame)
    sr = _SegReader(br.data, br.pos)
    if ss == 0:
        if se != 0:
            raise ValueError("progressive JPEG: DC scan must have Se=0")
        _prog_dc_scan(sr, comps, sel, by_id, ah, al, huff, coef, ri, mcux, mcuy, dims)
    else:
        if len(sel) != 1:
            raise ValueError("progressive JPEG: AC scan must be single-component")
        _prog_ac_scan(sr, sel[0], by_id, ss, se, ah, al, huff, coef, ri, dims)
    # resume the marker walk at the final segment's end (any residual
    # padding/RST tails are _skip_jpeg_entropy's job)
    br.pos = sr.seg_end


class _SegReader:
    """Window-backed entropy-segment reader for the progressive scans
    (round 11: the same pre-unstuffed 64-bit-window machinery the
    lossless/baseline paths use). Holds the current restart segment's
    windows and bit position; ``restart()`` verifies the RSTn marker
    and opens the next segment; after the scan, ``seg_end`` is where
    the marker walk resumes. Hot loops pull (v, tb, p) into locals and
    write ``p`` back at segment boundaries."""

    __slots__ = ("data", "v", "tb", "p", "seg_end")

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self._open(pos)

    def _open(self, pos: int) -> None:
        clean, self.seg_end = _unstuff_entropy(self.data, pos)
        self.v = _win64_list(clean)
        self.tb = 8 * int(clean.size)
        self.p = 0

    def restart(self) -> None:
        d, e = self.data, self.seg_end
        if e + 2 > len(d) or d[e] != 0xFF or not 0xD0 <= d[e + 1] <= 0xD7:
            raise ValueError("truncated JPEG: missing restart marker")
        self._open(e + 2)


def _prog_dc_scan(sr, comps, sel, by_id, ah, al, huff, coef, ri, mcux, mcuy, dims):
    tabs = []
    luts = []
    for s in sel:
        if ah == 0:
            t = huff.get((0, s["td"]))
            if t is None:
                raise ValueError("JPEG scan references a missing Huffman table")
            tabs.append(t)
            luts.append(_huff_fastpacked(t, False))
        else:
            tabs.append(None)  # refinement reads raw bits, no table
            luts.append(None)
    preds = [0] * len(sel)
    refine_bit = 1 << al
    v, tb, p = sr.v, sr.tb, sr.p
    exhausted = "truncated JPEG: entropy stream exhausted"

    def dc_block(ci, bi, si, p):
        blk = coef[ci].get(bi)
        if p >= tb:
            raise ValueError(exhausted)
        if ah == 0:
            e = luts[si][(v[p >> 3] >> (48 - (p & 7))) & 0xFFFF]
            if e:
                preds[si] += (e & 0x3FFFF) - 65536
                p += e >> 27
            else:
                _, dv, p = _unit_scalar(
                    v, p, tabs[si], False, 15, "bad JPEG DC category"
                )
                preds[si] += dv
            vv = preds[si] << al
            if blk is None:
                if vv == 0:
                    return p
                blk = coef[ci][bi] = [0] * 64
            blk[0] = vv
        else:
            b = (v[p >> 3] >> (63 - (p & 7))) & 1
            p += 1
            if b:
                if blk is None:
                    blk = coef[ci][bi] = [0] * 64
                blk[0] |= refine_bit
        return p

    if len(sel) == 1:
        # non-interleaved: raster over the component's own block grid
        ci = by_id[sel[0]["cs"]]
        nbx, nby, pbx = dims[ci]
        n = 0
        for by in range(nby):
            base = by * pbx
            for bx in range(nbx):
                if ri and n and n % ri == 0:
                    if p > tb:
                        raise ValueError(exhausted)
                    sr.restart()
                    v, tb, p = sr.v, sr.tb, sr.p
                    preds = [0]
                n += 1
                p = dc_block(ci, base + bx, 0, p)
        if p > tb:
            raise ValueError(exhausted)
        sr.p = p
        return
    nmcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if ri and nmcu and nmcu % ri == 0:
                if p > tb:
                    raise ValueError(exhausted)
                sr.restart()
                v, tb, p = sr.v, sr.tb, sr.p
                preds = [0] * len(sel)
            nmcu += 1
            for si, s in enumerate(sel):
                ci = by_id[s["cs"]]
                c = comps[ci]
                pbx = dims[ci][2]
                for by in range(c["v"]):
                    base = (my * c["v"] + by) * pbx + mx * c["h"]
                    for bx in range(c["h"]):
                        p = dc_block(ci, base + bx, si, p)
    if p > tb:
        raise ValueError(exhausted)
    sr.p = p


def _prog_ac_scan(sr, s, by_id, ss, se, ah, al, huff, coef, ri, dims):
    tab = huff.get((1, s["ta"]))
    if tab is None:
        raise ValueError("JPEG scan references a missing Huffman table")
    ci = by_id[s["cs"]]
    nbx, nby, pbx = dims[ci]
    blocks = coef[ci]
    # window-reader locals (round 11): first scans consume whole
    # (symbol + value/extension bits) units via the packed "prog" LUT;
    # refinement scans resolve the SYMBOL via the 8-bit lookahead and
    # read their interleaved sign/correction bits inline
    lutF = _huff_fastpacked(tab, "prog")
    lut8 = tab.lut_packed
    maxcode, mincode = tab.maxcode, tab.mincode
    valptr, values = tab.valptr, tab.values
    v, tb, p = sr.v, sr.tb, sr.p
    exhausted = "truncated JPEG: entropy stream exhausted"
    p1, m1 = 1 << al, -1 << al
    eobrun = 0
    n = nbx * nby
    bi = 0  # raster index over the scan's block grid

    def sym_at(p):
        # Huffman SYMBOL only (refinement path): 8-bit lookahead with
        # the canonical walk fallback; returns (symbol, new position)
        win = (v[p >> 3] >> (48 - (p & 7))) & 0xFFFF
        e8 = lut8[win >> 8]
        if e8:
            return e8 & 0xFF, p + (e8 >> 8)
        code = win >> 15
        ln = 1
        while not (maxcode[ln] >= 0 and code <= maxcode[ln]):
            ln += 1
            if ln > 16:
                raise ValueError("bad JPEG Huffman stream: no code matched")
            code = (win >> (16 - ln)) & ((1 << ln) - 1)
        return values[valptr[ln] + code - mincode[ln]], p + ln

    # Refinement EOB runs read correction bits only for blocks with
    # nonzero history; absent blocks consume an eobrun unit for free.
    # A sorted key view lets us bulk-advance over absent spans instead
    # of walking them block-by-block (a crafted near-bound SOF2 would
    # otherwise cost hundreds of millions of no-op iterations). Keys
    # created DURING this scan land at the current bi, always behind
    # the forward bisect, so the snapshot stays valid.
    skeys = None
    if ah != 0:
        skeys = sorted(
            k for k in blocks if k % pbx < nbx and k // pbx < nby
        )
    while bi < n:
        if ri and bi and bi % ri == 0:
            if p > tb:
                raise ValueError(exhausted)
            sr.restart()
            v, tb, p = sr.v, sr.tb, sr.p
            eobrun = 0
        key = (bi // nbx) * pbx + (bi % nbx)
        if ah == 0:
            if eobrun:
                # bulk-skip: a run of all-zero blocks reads no bits
                take = min(eobrun, n - bi)
                if ri:
                    take = min(take, ri - bi % ri)
                eobrun -= take
                bi += take
                continue
            blk = blocks.get(key)
            k = ss
            while k <= se:
                if p >= tb:
                    raise ValueError(exhausted)
                e = lutF[(v[p >> 3] >> (48 - (p & 7))) & 0xFFFF]
                if e:
                    rs = (e >> 18) & 0xFF
                    val = (e & 0x3FFFF) - 65536
                    p += e >> 27
                else:
                    rs, val, p = _unit_scalar(v, p, tab, "prog")
                r, sz = rs >> 4, rs & 15
                if sz == 0:
                    if r != 15:
                        # val carries the RAW eobrun extension bits
                        eobrun = (1 << r) - 1 + val
                        break
                    k += 16
                else:
                    k += r
                    if k > se:
                        raise ValueError("bad JPEG AC run past band end")
                    if blk is None:
                        blk = blocks[key] = [0] * 64
                    blk[k] = val << al
                    k += 1
        else:
            blk = blocks.get(key)
            k = ss
            if eobrun == 0:
                while k <= se:
                    if p >= tb:
                        raise ValueError(exhausted)
                    rs, p = sym_at(p)
                    r, sz = rs >> 4, rs & 15
                    newval = 0
                    if sz == 0:
                        if r != 15:
                            if p + r > tb:
                                raise ValueError(exhausted)
                            eobrun = 1 << r
                            if r:
                                eobrun += (
                                    v[p >> 3] >> (64 - (p & 7) - r)
                                ) & ((1 << r) - 1)
                                p += r
                            break
                        # r == 15: pass 16 zero-history coefficients
                    else:
                        if sz != 1:
                            raise ValueError("bad JPEG AC refinement magnitude")
                        if p >= tb:
                            raise ValueError(exhausted)
                        newval = (
                            p1 if (v[p >> 3] >> (63 - (p & 7))) & 1 else m1
                        )
                        p += 1
                    while k <= se:
                        c = blk[k] if blk is not None else 0
                        if c != 0:
                            if p >= tb:
                                raise ValueError(exhausted)
                            b = (v[p >> 3] >> (63 - (p & 7))) & 1
                            p += 1
                            if b and (c & p1) == 0:
                                blk[k] = c + (p1 if c >= 0 else m1)
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if newval and k <= se:
                        if blk is None:
                            blk = blocks[key] = [0] * 64
                        blk[k] = newval
                    k += 1
            if eobrun > 0:
                if blk is not None:
                    while k <= se:
                        c = blk[k]
                        if c != 0:
                            if p >= tb:
                                raise ValueError(exhausted)
                            b = (v[p >> 3] >> (63 - (p & 7))) & 1
                            p += 1
                            if b and (c & p1) == 0:
                                blk[k] = c + (p1 if c >= 0 else m1)
                        k += 1
                    eobrun -= 1
                else:
                    # absent blocks consume an eobrun unit each with NO
                    # bits read: bulk-advance to the next materialized
                    # block (or restart boundary) instead of walking
                    # the span block-by-block — a crafted near-bound
                    # SOF2 would otherwise cost hundreds of millions
                    # of no-op iterations
                    j = bisect_left(skeys, key + 1)
                    if j == len(skeys):
                        nxt = n
                    else:
                        nk = skeys[j]
                        nxt = (nk // pbx) * nbx + nk % pbx
                    take = min(eobrun, max(nxt - bi, 1))
                    if ri:
                        take = min(take, ri - bi % ri)
                    eobrun -= take
                    bi += take
                    continue
        bi += 1
    if p > tb:
        raise ValueError(exhausted)
    sr.p = p


def _finish_progressive(frame, coef, qt) -> np.ndarray:
    """Dequantize, de-zigzag, and IDCT the accumulated progressive
    coefficient state into pixel planes (vectorized einsum over the
    materialized blocks only), then run the shared DCT tail."""
    comps = frame["comps"]
    mcux, mcuy, dims = _prog_geometry(frame)
    planes = []
    for ci, c in enumerate(comps):
        if c["tq"] not in qt:
            raise ValueError("JPEG frame references a missing quant table")
        qv = np.array(qt[c["tq"]], dtype=np.float64)
        pbx, pby = mcux * c["h"], mcuy * c["v"]
        plane = np.full((pby * 8, pbx * 8), 128.0)
        blocks = coef[ci]
        if blocks:
            keys = sorted(blocks)
            zz = np.array([blocks[k] for k in keys], dtype=np.float64) * qv
            nat = np.zeros_like(zz)
            nat[:, _ZIGZAG] = zz
            spatial = np.einsum(
                "xu,nuv,yv->nxy", _DCT_A, nat.reshape(-1, 8, 8), _DCT_A
            )
            for i, key in enumerate(keys):
                by, bx = key // pbx, key % pbx
                if by >= pby:
                    continue  # hostile scan geometry beyond the frame
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] += spatial[i]
        planes.append(plane)
    return _jpeg_assemble(planes, frame)


def _jfif_app0() -> bytes:
    return b"\xff\xe0" + struct.pack(
        ">H5sBBBHHBB", 16, b"JFIF\x00", 1, 1, 0, 1, 1, 0, 0
    )


def _dht_segment(tc: int, th: int, counts: list[int], values: bytes) -> bytes:
    body = bytes([tc << 4 | th]) + bytes(counts) + values
    return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body


def _com_fillers(total: int) -> bytes:
    """COM segments summing to EXACTLY ``total`` bytes (each segment
    is marker 2 + length 2 + payload, so >= 4; the caller guarantees
    total >= 4)."""
    out = bytearray()
    while total > 60004:
        out += b"\xff\xfe" + struct.pack(">H", 59998) + b"\x00" * 59996
        total -= 60000
    out += b"\xff\xfe" + struct.pack(">H", total - 2) + b"\x00" * (total - 4)
    return bytes(out)


def encode_jpeg_lossless(pixels: bytes, width: int) -> bytes:
    """BIT-EXACT lossless JPEG (T.81 SOF3, predictor 1, 8-bit
    grayscale) for ``pixels`` (len a non-empty multiple of ``width``).
    Container size is EXACTLY ``_JPG_SIZE_BASE + 3*width*height`` —
    COM filler segments absorb the content-dependence of the Huffman
    stream (see the section comment) so the m16 oracle can recompute
    the size arithmetically."""
    if width <= 0 or not pixels or len(pixels) % width:
        raise ValueError("pixel buffer must be non-empty height*width bytes")
    height = len(pixels) // width
    bw = _BitWriter()
    prev_row = None
    for yy in range(height):
        row = pixels[yy * width : (yy + 1) * width]
        for xx in range(width):
            if yy == 0 and xx == 0:
                pred = 128
            elif yy == 0:
                pred = row[xx - 1]
            elif xx == 0:
                pred = prev_row[0]
            else:
                pred = row[xx - 1]
            diff = row[xx] - pred
            # T.81 H.1.2.1: differences are modulo 2^16; for 8-bit
            # samples mapping into [-128, 127] keeps every category
            # <= 8 while the decoder's mod-256 reconstruction agrees
            if diff < -128:
                diff += 256
            elif diff > 127:
                diff -= 256
            s = abs(diff).bit_length()
            bw.write(s, 4)  # canonical 4-bit codes: category == code
            if s:
                bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
        prev_row = row
    entropy = bw.flush()
    dht = _dht_segment(0, 0, [0, 0, 0, 9] + [0] * 12, bytes(range(9)))
    sof = b"\xff\xc3" + struct.pack(">HBHHB", 11, 8, height, width, 1) + b"\x01\x11\x00"
    sos = b"\xff\xda" + struct.pack(">HB", 8, 1) + b"\x01\x00" + bytes([1, 0, 0])
    fixed = 2 + 18 + len(dht) + len(sof) + len(sos) + 2
    target = _JPG_SIZE_BASE + 3 * width * height
    filler = target - fixed - len(entropy)
    if filler < 4:
        raise ValueError(
            f"jpeg entropy stream exceeded the size budget ({filler})"
        )
    return (
        b"\xff\xd8"
        + _jfif_app0()
        + _com_fillers(filler)
        + dht
        + sof
        + sos
        + entropy
        + b"\xff\xd9"
    )


def encode_jpeg_baseline(pixels: bytes, width: int) -> bytes:
    """Baseline sequential DCT (SOF0) grayscale encoder with all-ones
    quant and canonical fixed-length tables — the pytest roundtrip
    partner for the DCT decode path. Quantized DCT rounds
    coefficients, so decode(encode(px)) approximates px (|err| <= a
    few levels); it therefore never joins the lossless parity
    rotation."""
    if width <= 0 or not pixels or len(pixels) % width:
        raise ValueError("pixel buffer must be non-empty height*width bytes")
    height = len(pixels) // width
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    bw8, bh8 = -(-width // 8) * 8, -(-height // 8) * 8
    padded = np.zeros((bh8, bw8), dtype=np.float64)
    padded[:height, :width] = img
    # replicate edges into the pad so block DCTs stay tame
    if bh8 > height:
        padded[height:, :width] = img[-1:, :]
    if bw8 > width:
        padded[:, width:] = padded[:, width - 1 : width]
    ac_vals = bytes(
        r << 4 | sz
        for r in range(16)
        for sz in range(11)
        if not (sz == 0 and r not in (0, 15))
    )
    # canonical codes: every AC symbol is length 8, so symbol ->
    # code is just its index in the DHT value order (DC tables list
    # values 0..N in order, so there code == symbol)
    ac_code = {v: i for i, v in enumerate(ac_vals)}
    bw = _BitWriter()
    pred = 0
    for by in range(0, bh8, 8):
        for bx in range(0, bw8, 8):
            block = padded[by : by + 8, bx : bx + 8] - 128.0
            coef = np.rint(_DCT_A.T @ block @ _DCT_A).astype(np.int64)
            zz = coef.reshape(-1)[_ZIGZAG]
            diff = int(zz[0]) - pred
            pred = int(zz[0])
            s = abs(diff).bit_length()
            bw.write(s, 4)
            if s:
                bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
            k = 1
            while k < 64:
                if zz[k] == 0:
                    nz = np.nonzero(zz[k:])[0]
                    if len(nz) == 0:
                        bw.write(ac_code[0x00], 8)  # EOB
                        break
                    run = int(nz[0])
                    k += run
                else:
                    run = 0
                while run > 15:
                    bw.write(ac_code[0xF0], 8)  # ZRL
                    run -= 16
                v = int(zz[k])
                s = abs(v).bit_length()
                bw.write(ac_code[run << 4 | s], 8)
                bw.write(v if v >= 0 else v + (1 << s) - 1, s)
                k += 1
    entropy = bw.flush()
    dqt = b"\xff\xdb" + struct.pack(">HB", 67, 0) + b"\x01" * 64
    dht_dc = _dht_segment(0, 0, [0, 0, 0, 12] + [0] * 12, bytes(range(12)))
    dht_ac = _dht_segment(1, 0, [0, 0, 0, 0, 0, 0, 0, len(ac_vals)] + [0] * 8, ac_vals)
    sof = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, height, width, 1) + b"\x01\x11\x00"
    sos = b"\xff\xda" + struct.pack(">HB", 8, 1) + b"\x01\x00" + bytes([0, 63, 0])
    return (
        b"\xff\xd8" + _jfif_app0() + dqt + dht_dc + dht_ac + sof + sos + entropy + b"\xff\xd9"
    )


# Default progressive script: DC first/refine, two AC bands first at
# different Al, then the refinement chain down to full precision —
# exercises every scan shape the decoder implements (EOB runs,
# correction bits, newly-nonzero placement, ZRL-in-refinement).
_PROG_DEFAULT_SCRIPT = (
    (0, 0, 0, 1),
    (0, 0, 1, 0),
    (1, 5, 0, 2),
    (6, 63, 0, 1),
    (1, 5, 2, 1),
    (1, 5, 1, 0),
    (6, 63, 1, 0),
)


def _dct_zigzag_blocks(pixels: bytes, width: int) -> list[list[int]]:
    """All-ones-quant DCT coefficients for every 8x8 block (edge-
    replicated padding, raster order) as int lists in ZIGZAG order —
    the same transform encode_jpeg_baseline applies, so a progressive
    stream built from these blocks must decode to the identical
    pixels."""
    if width <= 0 or not pixels or len(pixels) % width:
        raise ValueError("pixel buffer must be non-empty height*width bytes")
    height = len(pixels) // width
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    bw8, bh8 = -(-width // 8) * 8, -(-height // 8) * 8
    padded = np.zeros((bh8, bw8), dtype=np.float64)
    padded[:height, :width] = img
    if bh8 > height:
        padded[height:, :width] = img[-1:, :]
    if bw8 > width:
        padded[:, width:] = padded[:, width - 1 : width]
    blocks = []
    for by in range(0, bh8, 8):
        for bx in range(0, bw8, 8):
            block = padded[by : by + 8, bx : bx + 8] - 128.0
            coefn = np.rint(_DCT_A.T @ block @ _DCT_A).astype(np.int64)
            zz = coefn.reshape(-1)[_ZIGZAG]
            blocks.append([int(v) for v in zz])
    return blocks


class _RestartWriter(_BitWriter):
    """_BitWriter that injects RSTn markers every ``interval`` blocks:
    byte-align (1-fill), emit the cycling marker, and signal the
    caller to reset its DC/EOB state. interval=0 disables."""

    def __init__(self, interval: int):
        super().__init__()
        self.interval = interval
        self.nblocks = 0
        self.marker = 0

    def block_boundary(self, flush=None) -> bool:
        """Call AFTER each block; returns True when the caller must
        reset predictors/EOB state (a restart was just emitted).
        ``flush`` (e.g. the pending-EOB-run emitter) runs BEFORE the
        byte-align + marker, matching the decoder's reset order."""
        self.nblocks += 1
        if not self.interval or self.nblocks % self.interval:
            return False
        if flush is not None:
            flush()
        pad = (8 - self.nbits % 8) % 8
        if pad:
            self.write((1 << pad) - 1, pad)
        self.out += bytes([0xFF, 0xD0 + self.marker])
        self.marker = (self.marker + 1) % 8
        return True


def encode_jpeg_progressive(
    pixels: bytes,
    width: int,
    script=_PROG_DEFAULT_SCRIPT,
    restart_interval: int = 0,
) -> bytes:
    """Progressive DCT (SOF2) grayscale test encoder with all-ones
    quant — the pytest roundtrip partner for the progressive decode
    path. Encodes the SAME coefficients as encode_jpeg_baseline split
    across a spectral-selection + successive-approximation scan
    ``script`` of (Ss, Se, Ah, Al) rows (T.81 G.1.2: DC point
    transform is an arithmetic shift, AC a magnitude shift; AC
    refinement buffers correction bits across EOB runs exactly as the
    decoder consumes them). decode_jpeg(progressive) must therefore
    equal decode_jpeg(baseline) bit-for-bit on any input."""
    blocks = _dct_zigzag_blocks(pixels, width)
    height = len(pixels) // width
    for ss, se, ah, al in script:
        if not (0 <= ss <= se <= 63) or (ss == 0) != (se == 0):
            raise ValueError(f"invalid progressive scan band ({ss},{se})")
        if ah != 0 and ah != al + 1:
            raise ValueError(f"invalid successive approximation ({ah},{al})")
    # canonical tables: DC 12 values at 4 bits (code == symbol); AC
    # all 176 (r<<4|s, s<=10) symbols at 8 bits (code == index) —
    # unlike the baseline table this includes every EOBn symbol
    ac_vals = bytes(r << 4 | s for r in range(16) for s in range(11))
    ac_code = {v: i for i, v in enumerate(ac_vals)}
    out = bytearray(b"\xff\xd8" + _jfif_app0())
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0) + b"\x01" * 64
    out += _dht_segment(0, 0, [0, 0, 0, 12] + [0] * 12, bytes(range(12)))
    out += _dht_segment(1, 0, [0] * 7 + [len(ac_vals)] + [0] * 8, ac_vals)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, height, width, 1) + b"\x01\x11\x00"
    for ss, se, ah, al in script:
        bw = _RestartWriter(restart_interval)
        if ss == 0:
            if ah == 0:
                _emit_dc_first(bw, blocks, al)
            else:
                for blk in blocks:
                    bw.write((blk[0] >> al) & 1, 1)
                    bw.block_boundary()
        elif ah == 0:
            _emit_ac_first(bw, blocks, ss, se, al, ac_code)
        else:
            _emit_ac_refine(bw, blocks, ss, se, al, ac_code)
        out += b"\xff\xda" + struct.pack(">HB", 8, 1) + b"\x01\x00"
        out += bytes([ss, se, ah << 4 | al])
        out += bw.flush()
    out += b"\xff\xd9"
    return bytes(out)


def _emit_dc_first(bw, blocks, al):
    pred = 0
    for blk in blocks:
        t = blk[0] >> al  # arithmetic shift per T.81 G.1.2.1
        diff = t - pred
        pred = t
        s = abs(diff).bit_length()
        bw.write(s, 4)
        if s:
            bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
        if bw.block_boundary():
            pred = 0


def _emit_eobn(bw, eobrun, ac_code):
    r = eobrun.bit_length() - 1
    bw.write(ac_code[r << 4], 8)
    if r:
        bw.write(eobrun - (1 << r), r)


def _emit_ac_first(bw, blocks, ss, se, al, ac_code):
    eobrun = 0

    def flush():
        nonlocal eobrun
        if eobrun:
            _emit_eobn(bw, eobrun, ac_code)
            eobrun = 0

    for blk in blocks:
        band = [
            (abs(v) >> al) * (1 if v >= 0 else -1)  # magnitude shift
            for v in blk[ss : se + 1]
        ]
        if not any(band):
            eobrun += 1
            if eobrun == 0x7FFF:
                flush()
            bw.block_boundary(flush)
            continue
        flush()
        r = 0
        for v in band:
            if v == 0:
                r += 1
                continue
            while r > 15:
                bw.write(ac_code[0xF0], 8)  # ZRL
                r -= 16
            s = abs(v).bit_length()
            bw.write(ac_code[r << 4 | s], 8)
            bw.write(v if v >= 0 else v + (1 << s) - 1, s)
            r = 0
        if r:
            eobrun += 1
        bw.block_boundary(flush)
    flush()


def _emit_ac_refine(bw, blocks, ss, se, al, ac_code):
    eobrun = 0
    pend: list[int] = []  # correction bits buffered with the EOB run

    def flush_eob():
        nonlocal eobrun, pend
        if eobrun:
            _emit_eobn(bw, eobrun, ac_code)
            eobrun = 0
        for b in pend:
            bw.write(b, 1)
        pend = []

    for blk in blocks:
        absv = [abs(v) >> al for v in blk[ss : se + 1]]
        eobpos = -1
        for i, t in enumerate(absv):
            if t == 1:
                eobpos = i  # last newly-nonzero coefficient
        r = 0
        cur: list[int] = []  # this block's correction bits
        for i, t in enumerate(absv):
            if t == 0:
                r += 1
                continue
            while r > 15 and i <= eobpos:
                flush_eob()
                bw.write(ac_code[0xF0], 8)
                r -= 16
                for b in cur:
                    bw.write(b, 1)
                cur = []
            if t > 1:
                cur.append(t & 1)
                continue
            flush_eob()
            bw.write(ac_code[r << 4 | 1], 8)
            bw.write(1 if blk[ss + i] >= 0 else 0, 1)
            for b in cur:
                bw.write(b, 1)
            cur = []
            r = 0
        if r > 0 or cur:
            eobrun += 1
            pend.extend(cur)
            if eobrun == 0x7FFF or len(pend) > 900:
                flush_eob()
        bw.block_boundary(flush_eob)
    flush_eob()


# --------------------------------------------------------------------
# GIF (87a/89a): logical screen + color tables + LZW-compressed index
# streams (LSB-first variable-width codes, clear/EOI, deferred-clear
# tolerated), 4-pass interlace, first-frame composite onto the
# background canvas. encode_gif is the test/fixture partner: an
# UNCOMPRESSED-style LZW stream (a clear code every 254 literals keeps
# every code 9 bits) over a grayscale global color table, so
# decode(encode(px)) is the identity and any conforming decoder —
# the JVM's ImageIO in tests — reads the container.
# --------------------------------------------------------------------


def _gif_subblocks(payload: bytes, pos: int):
    """Concatenate a GIF sub-block chain starting at ``pos``; returns
    (data, position after the 0 terminator)."""
    out = bytearray()
    while True:
        if pos >= len(payload):
            raise ValueError("truncated GIF: sub-block chain cut")
        ln = payload[pos]
        pos += 1
        if ln == 0:
            return bytes(out), pos
        if pos + ln > len(payload):
            raise ValueError("truncated GIF: sub-block cut")
        out += payload[pos : pos + ln]
        pos += ln


# per-width LSB-first bit weights for the batched code extraction
_GIF_LZW_W = {w: (1 << np.arange(w, dtype=np.int64)) for w in range(3, 13)}


def _gif_lzw_decode(data: bytes, min_code: int, max_px: int) -> bytes:
    """GIF-flavor LZW: LSB-first variable-width codes, initial width
    min_code+1, table reset on CLEAR, stop on EOI; output is bounded
    by ``max_px`` BEFORE any append so a hostile stream cannot inflate
    past the declared frame size.

    BATCHED decode (round 11, the SCALING.md codec-table uplift): the
    code width only changes at known table sizes, so codes bulk-
    extract with one numpy reshape-matmul per constant-width run; the
    table holds (offset, length, first-char) references into the
    output instead of materialized byte strings (every entry's bytes
    are a contiguous slice of prior output — the LZ77 view of LZW);
    an all-literal run emits in ONE vectorized append (our fixture
    encoder's uncompressed-style streams are entirely such runs), and
    mixed runs fall back to a per-code loop whose emission is a bulk
    slice copy, never a per-byte walk."""
    clear = 1 << min_code
    eoi = clear + 1
    bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8), bitorder="little")
    total_bits = len(bits)

    # Whole-stream fast path: a stream of ONLY literals and specials
    # whose inter-CLEAR runs never reach the width-bump boundary keeps
    # one constant code width end to end, the table is never
    # referenced, and decode collapses to one masked gather — our
    # fixture encoder's streams (254 literals per CLEAR at width 9)
    # are exactly this shape.
    width0 = min_code + 1
    k0 = total_bits // width0
    if k0:
        codes0 = bits[: k0 * width0].reshape(k0, width0) @ _GIF_LZW_W[width0]
        e_idx = np.nonzero(codes0 == eoi)[0]
        end = int(e_idx[0]) if e_idx.size else k0
        head = codes0[:end]
        if bool((head <= eoi).all()):
            cl = np.nonzero(head == clear)[0]
            runs = np.diff(np.concatenate(([-1], cl, [end]))) - 1
            if bool((runs <= clear - 2).all()):
                lits = head[head < clear]
                if len(lits) > max_px:
                    raise ValueError(
                        "GIF LZW output exceeds the declared frame size"
                    )
                if e_idx.size == 0 and len(lits) < max_px:
                    raise ValueError("truncated GIF: LZW stream exhausted")
                return lits.astype(np.uint8).tobytes()

    out = bytearray()

    def fresh_table():
        # parallel lists indexed by code: literals are length-1 with
        # first char = themselves; the clear/eoi slots are placeholders
        return (
            [0] * (clear + 2),
            [1] * clear + [0, 0],
            list(range(clear)) + [0, 0],
        )

    offs, lns, fcs = fresh_table()
    width = min_code + 1
    pos = 0
    # state of the previous emission: (start offset, length, first
    # char); length -1 means no previous code (start / after CLEAR)
    prev_off = prev_fc = 0
    prev_len = -1
    BATCH_CAP = 4096
    while True:
        if pos + width > total_bits:
            if len(out) >= max_px:
                return bytes(out)  # missing EOI but frame complete
            raise ValueError("truncated GIF: LZW stream exhausted")
        if prev_len < 0:
            # first code after start/CLEAR adds no table entry: scalar
            code = int(bits[pos : pos + width] @ _GIF_LZW_W[width])
            pos += width
            if code == clear:
                offs, lns, fcs = fresh_table()
                width = min_code + 1
                continue
            if code == eoi:
                return bytes(out)
            if code >= clear:
                raise ValueError("bad GIF LZW stream: first code not a literal")
            if len(out) + 1 > max_px:
                raise ValueError("GIF LZW output exceeds the declared frame size")
            prev_off = len(out)
            out.append(code)
            prev_len, prev_fc = 1, code
            continue
        # batch size: stop exactly at the width-bump boundary (below
        # the 4096 cap every code adds one table entry)
        ntab = len(lns)
        room = (1 << width) - ntab if ntab < (1 << width) else BATCH_CAP
        k = min(room, BATCH_CAP, (total_bits - pos) // width)
        codes = bits[pos : pos + k * width].reshape(k, width) @ _GIF_LZW_W[width]
        special = np.nonzero((codes == clear) | (codes == eoi))[0]
        stop = int(special[0]) if special.size else k
        if stop:
            batch = codes[:stop]
            # at step j the table holds ntab+j entries; a code may be
            # at most that index (the KwKwK self-reference)
            if bool(
                (batch > ntab + np.arange(stop, dtype=np.int64)).any()
            ):
                raise ValueError("bad GIF LZW code")
            if bool((batch < clear).all()):
                # all-literal run: one vectorized emit + bulk entries
                if len(out) + stop > max_px:
                    raise ValueError(
                        "GIF LZW output exceeds the declared frame size"
                    )
                base_off = len(out)
                out += batch.astype(np.uint8).tobytes()
                add = min(stop, 4096 - ntab) if ntab < 4096 else 0
                if add:
                    # entry j is string(prev at step j) + 1 char: for
                    # j=0 that extends the pre-batch emission; for j>=1
                    # prev is the literal emitted at base_off + j - 1
                    offs.append(prev_off)
                    lns.append(prev_len + 1)
                    fcs.append(prev_fc)
                    if add > 1:
                        offs.extend(range(base_off, base_off + add - 1))
                        lns.extend([2] * (add - 1))
                        fcs.extend(batch[: add - 1].tolist())
                prev_off = base_off + stop - 1
                prev_len, prev_fc = 1, int(batch[-1])
            else:
                # mixed run: per-code loop, emissions are slice copies
                out_len = len(out)
                for c in batch.tolist():
                    ntab2 = len(lns)
                    kwk = False
                    if c < ntab2:
                        if c < clear:
                            src, L, f = -1, 1, c
                        else:
                            src, L, f = offs[c], lns[c], fcs[c]
                    else:  # c == ntab2 (validated above): KwKwK
                        if ntab2 >= 4096:
                            raise ValueError("bad GIF LZW code")
                        src, L, f = prev_off, prev_len + 1, prev_fc
                        kwk = True
                    if out_len + L > max_px:
                        raise ValueError(
                            "GIF LZW output exceeds the declared frame size"
                        )
                    if ntab2 < 4096:
                        offs.append(prev_off)
                        lns.append(prev_len + 1)
                        fcs.append(prev_fc)
                    emit_off = out_len
                    if src < 0:
                        out.append(c)
                    elif kwk:
                        out += out[src : src + prev_len]
                        out.append(f)
                    else:
                        out += out[src : src + L]
                    out_len += L
                    prev_off, prev_len, prev_fc = emit_off, L, f
            pos += stop * width
            if len(lns) >= (1 << width) and width < 12:
                width += 1
        if stop < k:
            code = int(codes[stop])
            pos += width
            if code == eoi:
                return bytes(out)
            offs, lns, fcs = fresh_table()
            width = min_code + 1
            prev_len = -1


def _gif_walk(payload: bytes):
    """Block walk over a GIF: yields ``(canvas, gray)`` after each
    image block — the RGB canvas (h, w, 3 uint8), compositing frames
    onto the RUNNING canvas (disposal methods and transparency are
    ignored — the "do-not-dispose" common case; our fixture animations
    are full-canvas frames where disposal is moot), and a PALETTE-gray
    flag: True iff the background fill color and EVERY composited
    frame's color table so far are gray. Grayness is a property of the
    declared palettes, not the used pixel values (round 12, restoring
    the round-10 contract): a color-palette GIF whose referenced
    entries happen to be gray stays RGB. Each frame's indices are
    range-checked against ITS OWN color table and palette-expanded at
    composite time, so an animation whose later frame carries a
    smaller local color table than indices composited earlier is
    valid — earlier regions keep the palette that was active when they
    were written. The walk is bounded by the payload length: every
    yielded frame consumed bytes."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    if len(payload) < 13:
        raise ValueError("truncated GIF: header cut")
    w, h = struct.unpack_from("<HH", payload, 6)
    packed, bg = payload[10], payload[11]
    if w == 0 or h == 0:
        raise ValueError("GIF header declares zero dimension")
    if w * h * 3 > (1 << 28):
        raise ValueError(f"GIF header declares {w}x{h} — over the decode bound")
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        raw = payload[pos : pos + 3 * n]
        if len(raw) != 3 * n:
            raise ValueError("truncated GIF: global color table cut")
        gct = np.frombuffer(raw, dtype=np.uint8).reshape(n, 3)
        pos += 3 * n
    if gct is not None and bg < len(gct):
        bg_rgb = gct[bg]
    else:
        bg_rgb = np.zeros(3, np.uint8)
    canvas = np.broadcast_to(bg_rgb, (h, w, 3)).copy()
    gray = bool(bg_rgb[0] == bg_rgb[1] == bg_rgb[2])
    yielded = False
    while True:
        if pos >= len(payload):
            if yielded:
                return  # missing trailer but frames complete
            raise ValueError("truncated GIF: no image block before end")
        blk = payload[pos]
        pos += 1
        if blk == 0x3B:
            if yielded:
                return
            raise ValueError("GIF reached trailer without an image block")
        if blk == 0x21:  # extension: label + sub-block chain
            if pos >= len(payload):
                raise ValueError("truncated GIF: extension label cut")
            pos += 1
            _, pos = _gif_subblocks(payload, pos)
            continue
        if blk != 0x2C:
            raise ValueError(f"corrupt GIF: unknown block 0x{blk:02X}")
        if pos + 9 > len(payload):
            raise ValueError("truncated GIF: image descriptor cut")
        left, top, fw, fh = struct.unpack_from("<HHHH", payload, pos)
        fpacked = payload[pos + 8]
        pos += 9
        if fw == 0 or fh == 0:
            raise ValueError("GIF frame declares zero dimension")
        if left + fw > w or top + fh > h:
            raise ValueError("GIF frame extends outside the canvas")
        pal = gct
        if fpacked & 0x80:
            n = 2 << (fpacked & 7)
            raw = payload[pos : pos + 3 * n]
            if len(raw) != 3 * n:
                raise ValueError("truncated GIF: local color table cut")
            pal = np.frombuffer(raw, dtype=np.uint8).reshape(n, 3)
            pos += 3 * n
        if pal is None:
            raise ValueError("GIF frame without any color table")
        if pos >= len(payload):
            raise ValueError("truncated GIF: LZW minimum code size cut")
        min_code = payload[pos]
        pos += 1
        if not 2 <= min_code <= 11:
            raise ValueError(f"invalid GIF LZW minimum code size {min_code}")
        data, pos = _gif_subblocks(payload, pos)
        idx = _gif_lzw_decode(data, min_code, fw * fh)
        if len(idx) < fw * fh:
            raise ValueError(
                f"GIF frame pixel shortfall: want {fw * fh}, have {len(idx)}"
            )
        frame = np.frombuffer(idx[: fw * fh], dtype=np.uint8).reshape(fh, fw)
        if fpacked & 0x40:  # 4-pass interlace
            order = (
                list(range(0, fh, 8))
                + list(range(4, fh, 8))
                + list(range(2, fh, 4))
                + list(range(1, fh, 2))
            )
            de = np.empty_like(frame)
            de[order] = frame
            frame = de
        if int(frame.max(initial=0)) >= len(pal):
            raise ValueError("GIF palette index out of range")
        canvas[top : top + fh, left : left + fw] = pal[frame]
        gray = gray and bool(
            (pal[:, 0] == pal[:, 1]).all() and (pal[:, 1] == pal[:, 2]).all()
        )
        yielded = True
        yield canvas.copy(), gray


def _gif_expand(canvas: np.ndarray, gray: bool) -> np.ndarray:
    """Flatten one composited RGB canvas: when the walk's accumulated
    palette-gray flag holds, collapse to one sample per pixel (the
    grayscale convention every other gray container shares); anything
    else stays RGB. Keyed on the DECLARED palettes, not the used pixel
    values, so a color GIF whose referenced entries happen to be gray
    keeps its RGB shape (stable decode shape per container, round-10
    contract)."""
    if gray:
        return np.ascontiguousarray(canvas[..., 0]).reshape(-1)
    return canvas.reshape(-1)


def decode_gif(payload: bytes) -> np.ndarray:
    """Parse a GIF into the FIRST frame's flat sample array over the
    full logical-screen canvas (background-filled where the frame
    rectangle doesn't cover; interlaced frames de-interlaced; local
    color table preferred over global; gray palettes collapse to one
    sample per pixel). Later frames of an animation are ignored here —
    the video family consumes them via gif_frame_fingerprints.
    Hostile input (truncation anywhere, LZW overflow, palette index
    out of range, frame outside the canvas, dimension bombs) raises
    ValueError before unbounded work."""
    for canvas, gray in _gif_walk(payload):
        return _gif_expand(canvas, gray)
    raise ValueError("GIF reached trailer without an image block")


def encode_gif(pixels: bytes, width: int, interlace: bool = False) -> bytes:
    """Grayscale GIF89a (256-entry gray global color table: index i ->
    (i,i,i)) with an uncompressed-style LZW stream — a CLEAR code
    every 254 literals keeps every code 9 bits wide, so
    decode(encode(px)) is the identity and the container stays
    arithmetically sized. ``interlace`` writes the 4-pass row order
    (the decoder's de-interlace partner)."""
    if width <= 0 or not pixels or len(pixels) % width:
        raise ValueError("pixel buffer must be non-empty height*width bytes")
    height = len(pixels) // width
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out += bytes([0xF7, 0, 0])  # GCT present, 256 entries; bg 0
    out += bytes(v for i in range(256) for v in (i, i, i))
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height)
    out += bytes([0x40 if interlace else 0x00, 8])  # packed, min code size
    rows = range(height)
    if interlace:
        rows = (
            list(range(0, height, 8))
            + list(range(4, height, 8))
            + list(range(2, height, 4))
            + list(range(1, height, 2))
        )
    seq = b"".join(pixels[r * width : (r + 1) * width] for r in rows)
    out += _gif_lzw_pack(seq)
    out += b"\x3b"
    return bytes(out)


def _gif_lzw_pack(seq: bytes) -> bytes:
    """Uncompressed-style 9-bit LZW stream for an index sequence,
    framed into GIF sub-blocks with the chain terminator: initial
    CLEAR, a CLEAR every 254 literals (the decoder's table never
    reaches 512, so codes stay 9 bits), EOI."""
    acc = nbits = 0
    data = bytearray()

    def put(code):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += 9
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    put(256)  # initial CLEAR
    lit = 0
    for v in seq:
        put(v)
        lit += 1
        if lit == 254:
            put(256)
            lit = 0
    put(257)  # EOI
    if nbits:
        data.append(acc & 0xFF)
    out = bytearray()
    for k in range(0, len(data), 255):
        chunk = data[k : k + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00"
    return bytes(out)


def encode_gif_animated(frames: list, width: int) -> bytes:
    """ANIMATED grayscale GIF89a: one full-canvas image block per
    frame (each ``frames[i]`` is exactly width*height bytes, all the
    same geometry), gray global color table, the same
    uncompressed-style LZW as encode_gif. Full-canvas frames make
    disposal semantics moot, so gif_frame_fingerprints' running-
    canvas composite recovers each frame exactly."""
    if not frames:
        raise ValueError("animated GIF needs at least one frame")
    if width <= 0 or len(frames[0]) == 0 or len(frames[0]) % width:
        raise ValueError("frames must be non-empty height*width bytes")
    height = len(frames[0]) // width
    if any(len(f) != width * height for f in frames):
        raise ValueError("all frames must share the same geometry")
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out += bytes([0xF7, 0, 0])
    out += bytes(v for i in range(256) for v in (i, i, i))
    for f in frames:
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height)
        out += bytes([0x00, 8])
        out += _gif_lzw_pack(bytes(f))
    out += b"\x3b"
    return bytes(out)


# --------------------------------------------------------------------
# WAV (RIFF PCM): the audio container. decode_wav walks RIFF chunks
# and returns the sample stream in the engine's unsigned-8-bit sample
# space (8-bit PCM is already unsigned — bit-exact; 16-bit signed LE
# scales via (v + 32768) >> 8; channels stay interleaved).
# encode_wav_pcm8 is the fixture arm: 8-bit mono, samples == payload
# bytes, 44-byte header + data (+ RIFF pad), exact closed-form size.
# --------------------------------------------------------------------


def decode_wav(payload: bytes) -> np.ndarray:
    """Parse a RIFF/WAVE PCM payload into its flat sample array
    (uint8 sample space; multi-channel stays interleaved). Hostile
    input (truncation, chunk lies, dimension bombs, non-PCM or odd
    bit depths) raises ValueError/NotImplementedError before
    unbounded work."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos = 12
    fmt = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        ln = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + ln]
        if len(body) != ln:
            raise ValueError("truncated WAV: chunk cut")
        if cid == b"fmt ":
            if ln < 16:
                raise ValueError("truncated WAV: fmt chunk too short")
            tag, _ch, _rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if tag != 1:
                raise NotImplementedError(
                    f"only PCM WAV supported (format tag {tag})"
                )
            if bits not in (8, 16):
                raise NotImplementedError(
                    f"only 8/16-bit PCM WAV supported (bits={bits})"
                )
            fmt = bits
        elif cid == b"data":
            if fmt is None:
                raise ValueError("WAV data chunk before fmt")
            if ln > (1 << 28):
                raise ValueError("WAV data over the decode bound")
            if fmt == 8:
                return np.frombuffer(body, dtype=np.uint8)
            if ln % 2:
                raise ValueError("WAV 16-bit data length is odd")
            v = np.frombuffer(body, dtype="<i2").astype(np.int32)
            return ((v + 32768) >> 8).astype(np.uint8)
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
    raise ValueError("truncated WAV: no data chunk")


def encode_wav_pcm8(samples: bytes, rate: int = 8000) -> bytes:
    """8-bit unsigned mono PCM WAV for ``samples`` — bit-exact
    (decode returns exactly these bytes). Container size is exactly
    44 + n + (n % 2) (the RIFF pad byte)."""
    if not samples:
        raise ValueError("sample buffer must be non-empty")
    n = len(samples)
    pad = n & 1
    return (
        b"RIFF"
        + struct.pack("<I", 36 + n + pad)
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate, 1, 8)
        + b"data"
        + struct.pack("<I", n)
        + samples
        + b"\x00" * pad
    )


def decode_wav_samples(media: DataFrame) -> DataFrame:
    """Container -> raw sample stream as a ``media`` column, so the
    existing frame operators (sample_frames, frame_byte_sums) consume
    DECODED audio exactly as they consume raw byte payloads.
    Undecodable payloads emit no row (quarantine is the integrity
    gate's job); one narrow Arrow stage."""

    def row(media):
        if media is None or len(media) == 0:
            return
        try:
            s = decode_wav(bytes(media))
        except (ValueError, NotImplementedError):
            return
        yield (s.tobytes(),)

    return payload_stage(media, ["doc_id"], {"media": BinaryType()}, row)


def attach_wav(documents: DataFrame) -> DataFrame:
    """Wrap each document's UTF-8 bytes in a REAL 8-bit PCM WAV (the
    audio twin of attach_real_media; samples == text bytes, so audio
    oracles stay container-ignorant). Empty/NULL docs carry a NULL
    payload. One narrow Arrow stage."""

    def row(text):
        raw = (text or "").encode("utf-8")
        yield (encode_wav_pcm8(raw) if raw else None,)

    return payload_stage(
        documents.select("doc_id", "text"), ["doc_id"], {"media": BinaryType()}, row
    )


# --------------------------------------------------------------------
# TIFF (baseline 6.0): II/MM byte order, IFD tag walk, strip assembly,
# uncompressed or PackBits, gray (both photometric polarities) / RGB /
# palette (16-bit ColorMap scaled >>8). The scanned-document corpus
# format; encode_tiff_gray is the roundtrip/interop test partner.
# --------------------------------------------------------------------

_TIFF_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}
_TIFF_TYPE_DTYPE = {1: "u1", 3: "u2", 4: "u4"}

# The only tags decode_tiff consumes; every other entry is skipped
# WITHOUT materializing its values, so a hostile IFD stuffed with
# large unrelated arrays costs 12 bytes of header read per entry.
_TIFF_WANTED_TAGS = frozenset(
    {256, 257, 258, 259, 262, 273, 277, 278, 279, 320}
)

# Cumulative value budget per IFD (bytes across the consumed tags).
# Legit baseline files stay far under this — the dominant arrays are
# the strip offset/count tables (4 bytes/strip) and the 16-bit
# ColorMap (1536 bytes) — while a crafted payload declaring huge
# LONG/RATIONAL arrays on every entry trips it before any O(cnt) work.
_TIFF_IFD_VALUE_BUDGET = 1 << 20


def _tiff_read_values(payload, ent_off, bo):
    """One 12-byte IFD entry -> (tag, int values as a list). RATIONALs
    come back as floor(num/den); ASCII and unknown types yield [].
    Value parsing is a single np.frombuffer per entry — no per-value
    Python loop — so cost is O(bytes consumed), bounded by the caller's
    cumulative budget."""
    tag = int.from_bytes(payload[ent_off : ent_off + 2], bo)
    typ = int.from_bytes(payload[ent_off + 2 : ent_off + 4], bo)
    cnt = int.from_bytes(payload[ent_off + 4 : ent_off + 8], bo)
    size = _TIFF_TYPE_SIZE.get(typ)
    if size is None or typ == 2:
        return tag, [], 0
    total = size * cnt
    if cnt > (1 << 20):
        raise ValueError("TIFF entry count over the decode bound")
    if total <= 4:
        raw = payload[ent_off + 8 : ent_off + 8 + total]
    else:
        off = int.from_bytes(payload[ent_off + 8 : ent_off + 12], bo)
        raw = payload[off : off + total]
    if len(raw) != total:
        raise ValueError("truncated TIFF: entry values cut")
    endian = "<" if bo == "little" else ">"
    if typ == 5:  # RATIONAL: (num, den) u4 pairs, floored
        pairs = np.frombuffer(raw, dtype=endian + "u4").reshape(cnt, 2)
        num = pairs[:, 0].astype(np.uint64)
        den = pairs[:, 1].astype(np.uint64)
        vals = np.where(den != 0, num // np.maximum(den, 1), 0)
        return tag, vals.tolist(), total
    vals = np.frombuffer(raw, dtype=endian + _TIFF_TYPE_DTYPE[typ])
    return tag, vals.tolist(), total


def _packbits_decode(data: bytes, want: int) -> bytes:
    """PackBits (TIFF 6.0 §9): n in 0..127 copies n+1 literals, n in
    -127..-1 repeats the next byte 1-n times, -128 is a no-op. Output
    is bounded by ``want`` before any append."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n and len(out) < want:
        c = data[i]
        i += 1
        if c == 128:
            continue
        if c < 128:
            if i + c + 1 > n:
                raise ValueError("truncated TIFF: PackBits literal cut")
            out += data[i : i + c + 1]
            i += c + 1
        else:
            if i >= n:
                raise ValueError("truncated TIFF: PackBits repeat cut")
            out += bytes([data[i]]) * (257 - c)
            i += 1
        if len(out) > want:
            raise ValueError("TIFF PackBits output exceeds the strip size")
    if len(out) < want:
        raise ValueError("truncated TIFF: PackBits strip shortfall")
    return bytes(out)


def decode_tiff(payload: bytes) -> np.ndarray:
    """Parse a baseline TIFF (first IFD) into its flat sample array:
    8-bit grayscale (both WhiteIsZero and BlackIsZero polarities),
    8-bit RGB, and palette images (ColorMap 16-bit entries scaled to
    8), strips assembled in order, uncompressed or PackBits. Hostile
    input (truncation, strip overflow, dimension bombs, palette range
    lies) raises ValueError before unbounded work."""
    if payload[:4] == b"II\x2a\x00":
        bo = "little"
    elif payload[:4] == b"MM\x00\x2a":
        bo = "big"
    else:
        raise ValueError("not a TIFF payload")
    if len(payload) < 8:
        raise ValueError("truncated TIFF: header cut")
    ifd = int.from_bytes(payload[4:8], bo)
    if ifd + 2 > len(payload):
        raise ValueError("truncated TIFF: IFD offset out of range")
    nent = int.from_bytes(payload[ifd : ifd + 2], bo)
    if ifd + 2 + 12 * nent > len(payload):
        raise ValueError("truncated TIFF: IFD entries cut")
    tags: dict[int, list[int]] = {}
    spent = 0
    for k in range(nent):
        ent_off = ifd + 2 + 12 * k
        tag_peek = int.from_bytes(payload[ent_off : ent_off + 2], bo)
        if tag_peek not in _TIFF_WANTED_TAGS:
            continue  # unconsumed entry: never materialize its values
        tag, vals, nbytes = _tiff_read_values(payload, ent_off, bo)
        spent += nbytes
        if spent > _TIFF_IFD_VALUE_BUDGET:
            raise ValueError("TIFF IFD value tables over the decode budget")
        tags[tag] = vals
    def first(tag, default=None):
        vals = tags.get(tag)
        if not vals:  # absent OR present with a corrupt/empty type
            if default is None:
                raise ValueError(f"TIFF missing required tag {tag}")
            return default
        return vals[0]

    w = first(256)
    h = first(257)
    offsets = tags.get(273) or []
    counts = tags.get(279) or []
    if w == 0 or h == 0:
        raise ValueError("TIFF header declares zero dimension")
    spp = first(277, 1)
    bps = tags.get(258) or [8]
    comp = first(259, 1)
    photo = first(262, 1)
    rps = first(278, h) or h
    if spp not in (1, 3) or any(b != 8 for b in bps):
        raise NotImplementedError(
            f"only 8-bit gray/RGB/palette TIFF supported (spp={spp}, bps={bps})"
        )
    if comp not in (1, 32773):
        raise NotImplementedError(
            f"unsupported TIFF compression {comp}: only none and PackBits"
        )
    if photo not in (0, 1, 2, 3):
        raise NotImplementedError(f"unsupported TIFF photometric {photo}")
    if (photo == 2) != (spp == 3):
        raise ValueError("TIFF photometric/samples mismatch")
    if w * h * spp > (1 << 28):
        raise ValueError(f"TIFF declares {w}x{h}x{spp} — over the decode bound")
    if len(offsets) != len(counts) or not offsets:
        raise ValueError("TIFF strip offset/count tables disagree")
    stride = w * spp
    out = bytearray()
    total = stride * h
    for si, (off, cnt) in enumerate(zip(offsets, counts)):
        raw = payload[off : off + cnt]
        if len(raw) != cnt:
            raise ValueError("truncated TIFF: strip data cut")
        rows_here = min(rps, h - si * rps)
        if rows_here <= 0:
            raise ValueError("TIFF declares more strips than rows")
        want = rows_here * stride
        out += raw[:want] if comp == 1 else _packbits_decode(raw, want)
        if comp == 1 and len(raw) < want:
            raise ValueError("truncated TIFF: strip shorter than its rows")
    if len(out) != total:
        raise ValueError(f"TIFF pixel shortfall: want {total}, have {len(out)}")
    a = np.frombuffer(bytes(out), dtype=np.uint8)
    if photo == 0:  # WhiteIsZero: invert into the BlackIsZero space
        return (255 - a.astype(np.int16)).astype(np.uint8)
    if photo == 3:  # palette: ColorMap is 3 contiguous 16-bit planes
        cmap = tags.get(320, [])
        n = len(cmap) // 3
        if n == 0 or int(a.max(initial=0)) >= n:
            raise ValueError("TIFF palette missing or index out of range")
        pal = (np.array(cmap, dtype=np.uint32).reshape(3, n).T >> 8).astype(
            np.uint8
        )
        return pal[a].reshape(-1)
    return a


def encode_tiff_gray(pixels: bytes, width: int, packbits: bool = False) -> bytes:
    """Minimal 8-bit grayscale TIFF (II, single strip, BlackIsZero)
    for ``pixels`` — the decode_tiff test partner; ``packbits`` runs
    the strip through a simple PackBits compressor (repeat runs >= 3
    folded, literals chunked at 128)."""
    if width <= 0 or not pixels or len(pixels) % width:
        raise ValueError("pixel buffer must be non-empty height*width bytes")
    height = len(pixels) // width
    if packbits:
        data = bytearray()
        i, n = 0, len(pixels)
        while i < n:
            run = 1
            while i + run < n and run < 128 and pixels[i + run] == pixels[i]:
                run += 1
            if run >= 3:
                data += bytes([257 - run, pixels[i]])
                i += run
                continue
            j = i
            while (
                j < n
                and j - i < 128
                and not (
                    j + 2 < n and pixels[j] == pixels[j + 1] == pixels[j + 2]
                )
            ):
                j += 1
            data += bytes([j - i - 1]) + pixels[i:j]
            i = j
        strip = bytes(data)
    else:
        strip = pixels
    # layout: header 8 | strip | IFD
    strip_off = 8
    strip_len = len(strip)
    ifd_off = strip_off + strip_len
    if ifd_off % 2:  # IFD must sit on a word boundary
        strip = strip + b"\x00"
        ifd_off += 1
    entries = [
        (256, 4, 1, width),
        (257, 4, 1, height),
        (258, 3, 1, 8),
        (259, 3, 1, 32773 if packbits else 1),
        (262, 3, 1, 1),
        (273, 4, 1, strip_off),
        (277, 3, 1, 1),
        (278, 4, 1, height),
        (279, 4, 1, strip_len),
    ]
    ifd = struct.pack("<H", len(entries))
    for tag, typ, cnt, val in entries:
        ifd += struct.pack("<HHII", tag, typ, cnt, val)
    ifd += struct.pack("<I", 0)
    return b"II\x2a\x00" + struct.pack("<I", ifd_off) + strip + ifd


def _real_decode(payload: bytes, fmt: str, engine: str = "python") -> np.ndarray:
    """Real codec path: dispatch on the payload's MAGIC bytes to the
    dependency-free PNM/BMP/PNG/JPEG/GIF parsers above. webp (VP8)
    remains a documented stub — its entropy codec is out of scope.

    ``engine="native"`` (round 12) routes the decode DATA PLANE
    through the JVM sidecar (operators/native_codec.py — ImageIO /
    AudioSystem behind the same conventions) for the payloads its
    proven coverage includes, falling back to the Python codecs for
    everything else (SOF3/PNM/TIFF by design; any payload the native
    tier rejects or can't reproduce conventions for). The Python
    codecs remain the conformance oracle (pytest roundtrips) and the
    STRICTNESS authority — integrity gates always use engine="python"
    because ImageIO is lenient where these parsers raise (truncated
    JPEG, CRC-lying PNG). That tier rule is ENFORCED in code, not just
    documented: ``container_integrity`` has no engine parameter, so
    the gate always decodes with the Python codecs."""
    if engine not in ("python", "native"):
        raise ValueError(f"unknown decode engine {engine!r}")
    if engine == "native":
        from data_engineer_project_spark.operators import native_codec

        try:
            a = native_codec.native_decode(payload)
            if a is not None:
                return a
        except (RuntimeError, ValueError):
            pass  # no sidecar / native rejection: Python decides
    if payload[:2] in (b"P5", b"P6"):
        return decode_pnm(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[: len(_PNG_SIG)] == _PNG_SIG:
        return decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        return decode_jpeg(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(payload)
    if payload[:4] in (b"II\x2a\x00", b"MM\x00\x2a"):
        return decode_tiff(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return decode_wav(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        # round 13 (WEBP.md): VP8L lossless is a real codec now; lossy
        # VP8 raises the documented NotImplementedError inside.
        from data_engineer_project_spark.operators import vp8l

        return vp8l.decode_webp(payload)
    raise NotImplementedError(
        f"no dependency-free decoder for format={fmt!r} (payload lacks "
        "PNM/BMP/PNG/JPEG/GIF/TIFF/WAV/WEBP magic)"
    )


def fake_decode(payload: bytes) -> np.ndarray:
    """Deterministic stub decode: payload bytes ARE the pixel values."""
    return np.frombuffer(payload, dtype=np.uint8)


def decode_media(
    media: DataFrame, use_real_codec: bool = False, engine: str = "python"
) -> DataFrame:
    """Per-payload pixel stats via mapInPandas (Arrow batches in/out).

    ``engine="native"`` decodes through the per-worker JVM sidecar
    where coverage is proven bit-exact (see _real_decode) — the
    100 TB ingest tier; results over the lossless fixture arms are
    pinned identical to the Python engine."""

    def row(media, media_format):
        if media is None or len(media) == 0:
            # NULL/empty payload decodes to no pixels: emit no row,
            # matching the oracle's per-byte unnest.
            return
        if use_real_codec:
            a = _real_decode(media, media_format, engine)
        else:
            a = fake_decode(media)
        s = int(a.astype(np.int64).sum())
        # exact-int sum / exact-int count in one double division
        # — bit-matches the oracle's CAST(SUM(v) AS DOUBLE)/n
        yield len(a), s, s / len(a), int(a.min()), int(a.max())

    return payload_stage(
        media,
        ["doc_id", "lang"],
        {
            "n_px": LongType(),
            "sum_px": LongType(),
            "mean_px": DoubleType(),
            "min_px": IntegerType(),
            "max_px": IntegerType(),
        },
        row,
    )


_CONTAINER_ARMS = ("pgm", "bmp", "png", "jpg", "gif", "tif")
_ENCODERS = {
    "pgm": encode_pnm,
    "bmp": encode_bmp8,
    "png": encode_png,
    "jpg": encode_jpeg_lossless,
    "gif": encode_gif,
    "tif": encode_tiff_gray,
}


def _attach_container(documents: DataFrame, arm: Callable[[int], tuple]) -> DataFrame:
    """The image corpus prep of attach_real_media and attach_webp_media:
    each document's UTF-8 bytes as one logical gray image (width = 16 +
    doc_id % 48, the text bytes row-major, the final row zero-padded to
    the width) in the container ``arm(doc_id)`` names, a
    ``(media_format, encoder)`` pair. Empty/NULL docs carry a NULL
    payload (no pixels → no decode row, the m04 convention). One Arrow
    stage behind the guarded small-scan fan-out (fanout_small)."""

    def row(doc_id, text):
        w = int(16 + doc_id % 48)
        fmt, encode = arm(doc_id)
        raw = (text or "").encode("utf-8")
        if not raw:
            yield None, fmt, w, 0, 0
            return
        h = -(-len(raw) // w)
        payload = encode(raw + b"\x00" * (w * h - len(raw)), w)
        yield payload, fmt, w, h, len(payload)

    return payload_stage(
        fanout_small(documents.select("doc_id", "lang", "text")),
        ["doc_id", "lang"],
        {
            "media": BinaryType(),
            "media_format": StringType(),
            "width": IntegerType(),
            "height": IntegerType(),
            "n_bytes": LongType(),
        },
        row,
    )


def attach_real_media(documents: DataFrame) -> DataFrame:
    """Wrap each document's UTF-8 bytes in a REAL image container —
    doc_id % 6 rotates through a P5 PNM (ASCII header), an 8-bit BMP
    (bottom-up rows, 4-byte stride), an 8-bit grayscale PNG (chunked,
    CRC'd, zlib stored-block IDAT), a LOSSLESS JPEG (T.81 SOF3,
    predictor 1, Huffman-coded differences — round 10, the dominant
    crawl format made real and bit-exact), a GIF89a (gray global
    color table, uncompressed-style LZW), and a single-strip TIFF —
    every arm bit-exact, every arm's container size in closed form.
    The logical image is identical in all six arms (_attach_container),
    so one container-ignorant oracle covers every arm, and parity
    proves the PARSERS recover exactly the true pixels from six
    different on-disk layouts.

    This is corpus prep (the stand-in for reading real blobs), not the
    operator under test."""

    def arm(doc_id):
        fmt = _CONTAINER_ARMS[int(doc_id) % len(_CONTAINER_ARMS)]
        return fmt, _ENCODERS[fmt]

    return _attach_container(documents, arm)


def attach_webp_media(documents: DataFrame) -> DataFrame:
    """Wrap each document's UTF-8 bytes in a REAL lossless-webp (VP8L)
    container — the round-13 sibling of attach_real_media for the
    format WEBP.md brings into scope. Same logical image as the m15
    arms, so the same container-ignorant oracle math applies; the
    encoder rides a COLOR_INDEXING gray palette, which is also how
    real lossless gray webp is built. Corpus prep, not the operator
    under test."""
    from data_engineer_project_spark.operators.vp8l import (
        encode_webp_lossless,
        webp_dims,
    )

    def encode(px: bytes, w: int) -> bytes:
        payload = encode_webp_lossless(px, w)
        if webp_dims(payload) != (w, len(px) // w):
            # emit-time self-check: a header-geometry bug must fail
            # corpus prep loudly, not surface as a decode-stage hash
            # mismatch three stages later
            raise ValueError(
                f"webp container declares {webp_dims(payload)}"
                f" for a {w}x{len(px) // w} image"
            )
        return payload

    return _attach_container(documents, lambda doc_id: ("webp", encode))


_HIST_SCHEMA = StructType(
    [StructField("lang", StringType())]
    + [StructField(f"b{i}", LongType()) for i in range(4)]
)


def byte_histogram(media: DataFrame) -> DataFrame:
    """4-bin byte-value histogram per payload, partially aggregated
    per Arrow batch in Python (map-side combine), then summed per lang
    JVM-side — the same partial-agg shape a 100 TB run needs."""

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            acc: dict[str, np.ndarray] = {}
            for lang, m in zip(pdf["lang"], pdf["media"]):
                acc.setdefault(lang, np.zeros(4, dtype=np.int64))
                if m is None or len(m) == 0:
                    continue  # lang still appears, contributing zeros
                a = np.frombuffer(m, dtype=np.uint8) >> 6  # 0..3
                acc[lang] += np.bincount(a, minlength=4)
            yield pd.DataFrame(
                [{"lang": k, **{f"b{i}": int(v[i]) for i in range(4)}} for k, v in acc.items()]
            )

    partial = media.mapInPandas(stage, _HIST_SCHEMA)
    return partial.groupBy("lang").agg(
        *[F.sum(f"b{i}").alias(f"b{i}") for i in range(4)]
    )


def sample_frames(media: DataFrame, frame_bytes: int = 256, every: int = 4) -> DataFrame:
    """Treat the payload as a fixed-stride "video": split into
    ``frame_bytes`` frames, keep every ``every``-th (frame sampling).
    Explodes rows inside mapInPandas — output batches are bounded by
    input batch size × frames-per-doc. A NULL or empty payload has no
    frames."""

    def row(media):
        if media is None:
            return
        for fno in range(0, (len(media) + frame_bytes - 1) // frame_bytes, every):
            yield fno, bytes(media[fno * frame_bytes : (fno + 1) * frame_bytes])

    return payload_stage(
        media, ["doc_id"], {"frame_no": IntegerType(), "frame": BinaryType()}, row
    )


def frame_byte_sums(frames: DataFrame) -> DataFrame:
    """Per-frame integer byte sum + length — the feature-extraction
    stage a scene-cut detector runs on (a real detector extracts
    per-frame luma means; the stub sums payload bytes — same Arrow
    batch shape, numpy-vectorized). The sum is exact int64
    (≤ frame_bytes·255), so every downstream comparison is
    engine- and partitioning-independent. Empty/NULL frames emit
    zeros."""

    def row(frame):
        if frame is None or len(frame) == 0:
            yield 0, 0
            return
        a = np.frombuffer(frame, dtype=np.uint8)
        yield len(a), int(a.astype(np.int64).sum())

    return payload_stage(
        frames,
        ["doc_id", "frame_no"],
        {"frame_len": IntegerType(), "frame_sum": LongType()},
        row,
    )


def resize_media(media: DataFrame, keep_every: int = 2) -> DataFrame:
    """Stub resize: keep every k-th byte (deterministic downsample);
    metadata recomputed to match. Same signature a real resampler has:
    binary in, binary out, meta updated. A NULL payload stays NULL,
    with NULL height and n_bytes; its width is still resized."""

    def row(media, media_format, width):
        w = max(int(width) // keep_every, 1)
        if media is None:
            yield None, media_format, w, None, None
            return
        resized = bytes(media[::keep_every])
        yield resized, media_format, w, -(-len(resized) // w), len(resized)

    return payload_stage(
        media,
        ["doc_id", "lang"],
        {
            "media": BinaryType(),
            "media_format": media.schema["media_format"].dataType,
            "width": IntegerType(),
            "height": IntegerType(),
            "n_bytes": LongType(),
        },
        row,
    )


def audio_window_energy(media: DataFrame, window: int = 64) -> DataFrame:
    """Audio-style windowed energy: treat the payload as 8-bit unsigned
    PCM, frame it into ``window``-sample windows (last window partial),
    and report per-doc window count + peak window RMS.

    RMS per window = sqrt(sum(v^2)/n) with the inner sum in exact int64
    (max 64*255^2 ≈ 4.2e6, far inside double's exact range), so the
    result is bit-identical at any partitioning and matches the SQL
    oracle. Same mapInPandas shape a real resampler/VAD stage has."""

    def row(media):
        if media is None or len(media) == 0:
            # NULL/empty payload: emit nothing, matching the SQL
            # oracle (its per-character unnest produces no row
            # for a charless doc).
            return
        a = np.frombuffer(media, dtype=np.uint8).astype(np.int64)
        peak = 0.0
        for w0 in range(0, len(a), window):
            seg = a[w0 : w0 + window]
            peak = max(peak, float(np.sqrt(float((seg * seg).sum()) / len(seg))))
        yield (len(a) + window - 1) // window, peak

    return payload_stage(
        media, ["doc_id"], {"n_windows": LongType(), "peak_rms": DoubleType()}, row
    )


_BIT_W = 1 << np.arange(64, dtype=np.uint64)  # bit i weight


def _pack_bits(flags: np.ndarray) -> int:
    """Bit i = ``flags[i]`` (at most 64 flags), folded into the signed
    two's-complement int64 — bit 63 rides the sign bit, which is what
    Spark LongType and the SQL twins' BIGINT hold."""
    bits = int(flags.astype(np.uint64) @ _BIT_W[: len(flags)])
    return bits - (1 << 64) if bits >= 1 << 63 else bits


def _dhash(v: np.ndarray, block_bytes: int, n_bits: int) -> int:
    """The dHash of byte array ``v``: its leading ``(n_bits+1) *
    block_bytes`` bytes in fixed-width blocks (absent tail blocks sum
    to 0), bit i set iff sum(block i) > sum(block i+1)."""
    padded = np.zeros((n_bits + 1) * block_bytes, dtype=np.int64)
    head = v[: len(padded)]
    padded[: len(head)] = head
    sums = padded.reshape(n_bits + 1, block_bytes).sum(axis=1)
    return _pack_bits(sums[:-1] > sums[1:])


def perceptual_hash(media: DataFrame, n_blocks: int = 32) -> DataFrame:
    """Block-mean perceptual hash per payload (the aHash family): split
    the decoded pixel stream into ``n_blocks`` equal spans; bit i is
    set iff span i's mean exceeds the whole-payload mean. Comparison is
    by integer cross-multiplication (block_sum · n > total · block_n),
    so the bits — and the hash — are exact on any engine, no float
    means. Empty/NULL payloads emit no row (nothing to hash).

    ``n_blocks`` up to 64 is supported: bit 63 is the int64 sign bit,
    so the packed hash is emitted as the SIGNED two's-complement value
    (what both Spark LongType and the SQL twin's BIGINT hold); band
    extraction via arithmetic-shift-then-mask and Hamming via
    bit_count(xor) are representation-exact either way.

    Scale shape: one narrow mapInPandas (no shuffle); downstream dedup
    groups on the hash value — candidate generation is an equi-shuffle
    on a 2^n_blocks-domain key, never an all-pairs comparison. For
    Hamming-near (not identical) matching, band the bits like SimHash
    (operators/dedup.py) — same machinery, hash split into band keys.
    """
    if n_blocks > 64:
        raise ValueError("perceptual_hash packs into int64: n_blocks <= 64")

    def row(media):
        if media is None or len(media) == 0:
            return
        a = np.frombuffer(media, dtype=np.uint8).astype(np.int64)
        n = len(a)
        total = int(a.sum())
        # byte x belongs to block x·n_blocks // n — the same
        # assignment rule as the SQL twin's ((p-1)·m) // n, so
        # both engines partition identically (floor-BOUNDARY
        # spans are a *different* partition; don't mix them)
        blk = (np.arange(n, dtype=np.int64) * n_blocks) // n
        bs = np.bincount(blk, weights=a, minlength=n_blocks).astype(np.int64)
        bn = np.bincount(blk, minlength=n_blocks).astype(np.int64)
        yield n, _pack_bits((bn > 0) & (bs * n > total * bn))

    return payload_stage(
        media, ["doc_id"], {"n_px": LongType(), "phash": LongType()}, row
    )


def difference_hash(
    media: DataFrame, block_bytes: int = 8, n_bits: int = 64
) -> DataFrame:
    """64-bit difference hash (dHash family) per payload: the leading
    ``(n_bits+1) * block_bytes`` bytes split into fixed-width blocks
    (absent tail blocks sum to 0), and bit i is set iff
    sum(block i) > sum(block i+1). Pure integer comparisons — exact on
    any engine — and NO global-mean threshold, so the hash is robust
    to the edits near-dup corpora actually contain: a suffix append or
    tail edit perturbs only the last block pair (≤ 2 bits), where a
    length-normalized block-MEAN hash shifts every block boundary and
    flips ~10+ bits on the same pair. Fixed-width blocks are the
    "top-left crop" analogy of real dHash's resize-to-grid: identical
    leading content → near-identical hash, regardless of total length.

    Bit 63 rides the int64 sign bit; the packed hash is emitted as the
    signed two's-complement value (what Spark LongType and the SQL
    twin's BIGINT both hold). Empty/NULL payloads emit no row.

    Scale shape: one narrow mapInPandas; downstream near-dup matching
    bands the 64 bits into r+1 bands (pigeonhole-exact at Hamming
    radius r) — with 2^16-domain band keys, bucket occupancy and thus
    candidate volume stay corpus-linear where a 16-bit hash's buckets
    collapse quadratically."""
    if n_bits > 64:
        raise ValueError("difference_hash packs into int64: n_bits <= 64")

    def row(media):
        if media is None or len(media) == 0:
            return
        v = np.frombuffer(media, dtype=np.uint8)
        yield len(v), _dhash(v, block_bytes, n_bits)

    return payload_stage(
        media, ["doc_id"], {"n_px": LongType(), "phash": LongType()}, row
    )


def gif_frame_fingerprints(media: DataFrame) -> DataFrame:
    """DISTINCT per-frame fingerprints of ANIMATED GIF payloads: every
    frame of the animation is decoded (running-canvas composite,
    palette-expanded to gray) and folds to the same position-weighted
    checksum frame_fingerprints uses — (Σ byteᵥ·(pos+1))·(npx+1)+npx —
    so the video near-dup machinery (m11's Jaccard over fingerprint
    SETS) consumes real multi-frame containers identically to raw
    byte-frame payloads. Undecodable payloads emit no row (quarantine
    is m16's job); empty/NULL payloads emit nothing.

    Scale shape: one narrow mapInPandas; output bounded by distinct
    frames per doc."""

    def row(media):
        if media is None or len(media) == 0:
            return
        seen = set()
        try:
            for canvas, gray in _gif_walk(bytes(media)):
                a = _gif_expand(canvas, gray).astype(np.int64)
                npx = len(a)
                pos = np.arange(npx, dtype=np.int64)
                seen.add(int((a * (pos + 1)).sum()) * (npx + 1) + npx)
        except ValueError:
            return  # hostile/corrupt payload: no frames
        yield from ((fp,) for fp in sorted(seen))

    return payload_stage(media, ["doc_id"], {"fp": LongType()}, row)


def attach_animated_gif(
    documents: DataFrame, width: int = 8, frame_px: int = 64
) -> DataFrame:
    """Wrap each document's UTF-8 bytes in an ANIMATED GIF: the text
    splits into ``frame_px``-byte frames (the tail zero-padded), each
    a full-canvas width x (frame_px/width) image block. The m11
    byte-frame fixture made real: the same logical frame content now
    travels through an actual multi-frame container, so frame-set
    dedup exercises the GIF walk end-to-end. Empty/NULL docs carry a
    NULL payload. One narrow Arrow stage (corpus prep, like
    attach_real_media)."""
    if frame_px % width:
        raise ValueError("frame_px must be a multiple of width")

    def row(text):
        raw = (text or "").encode("utf-8")
        if not raw:
            yield (None,)
            return
        frames = [
            raw[k : k + frame_px].ljust(frame_px, b"\x00")
            for k in range(0, len(raw), frame_px)
        ]
        yield (encode_gif_animated(frames, width),)

    return payload_stage(
        documents.select("doc_id", "text"), ["doc_id"], {"media": BinaryType()}, row
    )


def dhash_with_histogram(
    media: DataFrame, block_bytes: int = 8, n_bits: int = 64
) -> DataFrame:
    """difference_hash plus a 16-bin byte histogram (bin = value >> 4)
    and the byte count, in one Arrow pass: the verified image near-dup
    path (m18) compares the histograms after the dHash Hamming gate,
    because a 64-bit hash's accidental collisions grow ~quadratically
    in corpus size (SCALING.md's breadth decade). One pass avoids a
    second scan of the media column and a join to zip the results
    back together. The hash is difference_hash's bit for bit (the same
    ``_dhash``); empty/NULL payloads emit no row."""
    if n_bits > 64:
        raise ValueError("difference_hash packs into int64: n_bits <= 64")

    def row(media):
        if media is None or len(media) == 0:
            return
        v = np.frombuffer(media, dtype=np.uint8)
        hist = np.bincount(v >> 4, minlength=16).astype(np.int64)
        yield _dhash(v, block_bytes, n_bits), hist, len(v)

    return payload_stage(
        media,
        ["doc_id"],
        {"phash": LongType(), "hist": ArrayType(LongType()), "n_bytes": LongType()},
        row,
    )


def frame_fingerprints(media: DataFrame, frame_bytes: int = 64) -> DataFrame:
    """DISTINCT per-video frame fingerprints: the payload splits into
    ``frame_bytes`` frames and each frame folds to one integer —
    (Σ byteᵥ·(pos_in_frame+1)) · (frame_bytes+1) + frame_len, a
    position-weighted checksum that distinguishes reordered bytes
    where a plain sum cannot, packed with the length so partial tail
    frames never collide with full ones. Exact integer arithmetic, so
    any engine computes the identical fingerprint set.

    This is the video-dedup feature extractor: downstream Jaccard over
    the distinct-fingerprint SETS (m11) finds videos sharing most of
    their frames regardless of frame ORDER — trims, re-cuts,
    re-stitches. One narrow mapInPandas, no shuffle; output is bounded
    by frames-per-doc and already deduplicated per doc. Production
    swaps the checksum for a per-frame perceptual hash (the m07
    block-mean machinery applied per frame) — a data change to this
    column, not a plan change. Empty/NULL payloads emit nothing.
    """

    def row(media):
        if media is None or len(media) == 0:
            return
        a = np.frombuffer(media, dtype=np.uint8).astype(np.int64)
        pos = np.arange(len(a), dtype=np.int64)
        ws = np.bincount(
            pos // frame_bytes, weights=a * (pos % frame_bytes + 1)
        ).astype(np.int64)
        fl = np.bincount(pos // frame_bytes).astype(np.int64)
        yield from ((int(x),) for x in np.unique(ws * (frame_bytes + 1) + fl))

    return payload_stage(media, ["doc_id"], {"fp": LongType()}, row)


def container_integrity(media: DataFrame) -> DataFrame:
    """Decode-level integrity gate over REAL containers (the m13
    metadata gate's deeper sibling): actually PARSE each payload with
    the strict Python decoders and verify the pixel matrix matches the
    declared (width, height) metadata. Verdicts: 'ok' (parsed, dims
    agree), 'dim_mismatch' (parsed but wrong size), 'corrupt' (parser
    raised — truncated data, botched header), 'empty' (NULL payload).
    One narrow Arrow stage; quarantine decisions never shuffle.

    There is no engine choice: the Python codecs are the strictness
    authority, and the native (ImageIO) tier is lenient — it accepts
    truncated JPEG and CRC-lying PNG these parsers quarantine — so a
    native-tier integrity gate would silently pass corrupt payloads.
    The native tier is for the INGEST data plane (decode_media) only."""

    def row(media, media_format, width, height):
        if media is None or len(media) == 0:
            yield "empty", 0, 0
            return
        try:
            n_px = len(_real_decode(bytes(media), media_format))
            status = "ok" if n_px == int(width) * int(height) else "dim_mismatch"
        except (ValueError, NotImplementedError, struct.error):
            # struct.error: header unpacks on payloads cut inside the
            # fixed header region (it is NOT a ValueError subclass)
            status, n_px = "corrupt", 0
        yield status, n_px, len(media)

    return payload_stage(
        media,
        ["doc_id", "media_format"],
        {"status": StringType(), "n_px": LongType(), "n_bytes": LongType()},
        row,
    )
