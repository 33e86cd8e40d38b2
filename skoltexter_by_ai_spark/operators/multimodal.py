"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The reference is text-only; this is the SURVEY §2.4 multimodal
extension for training-data pipelines. Design:

- media is an opaque ``BinaryType`` column plus a typed metadata
  struct — Spark never interprets the bytes except inside explicitly
  vectorized ``mapInPandas`` stages (Arrow batch transfer, no
  row-at-a-time Python);
- ingestion uses the built-in ``binaryFile`` source (pushdown on path
  glob + file pruning; at 100 TB the listing is partitioned by the
  directory layout);
- decode is pluggable behind :func:`decode_media`: WAV, netpbm
  PGM/PPM, uncompressed 24-bit BMP, 8-bit PNG — non-interlaced and
  Adam7-interlaced, incl. indexed palette (DEFLATE via stdlib
  ``zlib`` + the five scanline filters + PLTE/tRNS handling) — and
  JPEG — baseline/extended sequential (SOF0/SOF1) AND progressive
  (SOF2, spectral selection + successive approximation) Huffman,
  numpy IDCT, any Hi/Vi subsampling, restart intervals — decode FOR
  REAL with no PIL needed, the deterministic pure-numpy "FAKM"
  container exercises the plumbing in tests, and formats that
  genuinely need an external codec (MP4 — libav is absent from this
  container, plus arithmetic-coded JPEG and sub-8-bit
  PNG) raise ``NotImplementedError`` with a clear message — the
  Spark-side dataflow is identical either way.

Every operator is DataFrame-in / DataFrame-out and keeps the binary
payload out of shuffles where possible (metadata-only projections).
"""

from __future__ import annotations

import math
import struct
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

MEDIA_META_SCHEMA = StructType(
    [
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("sample_rate", IntegerType()),
    ]
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("data", BinaryType()),
        StructField("meta", MEDIA_META_SCHEMA),
    ]
)

# --- deterministic FAKM container (test/dev codec) ----------------------------
# Layout: b"FAKM" | kind:1B (i/a/v) | width:u16 | height:u16 | n_frames:u16
#         | sample_rate:u32 | payload bytes.
# image: width*height grayscale u8, row-major. video: n_frames such
# planes. audio: n_frames mono u8 samples at sample_rate.

_MAGIC = b"FAKM"
_HDR = ">c H H H I"
_HDR_LEN = 4 + struct.calcsize(_HDR)


def fakm_encode(
    kind: str, payload: bytes, width: int = 0, height: int = 0, n_frames: int = 0, sample_rate: int = 0
) -> bytes:
    return _MAGIC + struct.pack(_HDR, kind[:1].encode(), width, height, n_frames, sample_rate) + payload


def fakm_decode(data: bytes) -> tuple[str, int, int, int, int, bytes]:
    """-> (kind, width, height, n_frames, sample_rate, payload).

    Raises ``NotImplementedError`` for non-FAKM bytes when no real
    codec is installed — the documented stub boundary.

    >>> fakm_decode(fakm_encode("image", b"px", width=2, height=1))
    ('image', 2, 1, 0, 0, b'px')
    >>> fakm_decode(b"JPEGnotreally")
    Traceback (most recent call last):
        ...
    NotImplementedError: real image/audio codecs (PIL/libav) are not installed in this environment; only the deterministic FAKM container is decodable
    """
    if data[:4] != _MAGIC:
        raise NotImplementedError(
            "real image/audio codecs (PIL/libav) are not installed in this "
            "environment; only the deterministic FAKM container is decodable"
        )
    kind_b, width, height, n_frames, sample_rate = struct.unpack_from(_HDR, data, 4)
    kind = {b"i": "image", b"a": "audio", b"v": "video"}[kind_b]
    return kind, width, height, n_frames, sample_rate, data[_HDR_LEN:]


# --- real stdlib codecs --------------------------------------------------------
# WAV (the `wave` stdlib module), netpbm PGM/PPM (binary P5/P6),
# uncompressed 24-bit BMP, 8-bit PNG (stdlib zlib) and JPEG — both
# sequential and progressive Huffman (pure-Python Huffman + numpy
# IDCT) — need no external library, so those decode FOR REAL; MP4
# video and the arithmetic-coded JPEG variants genuinely require
# libav/PIL (absent from this container) and keep the honest
# NotImplementedError. Images normalize
# to a grayscale u8 plane (integer BT.601 luma for RGB inputs), audio
# to its raw PCM bytes — the same payload contract FAKM uses, so every
# downstream stage (resize, features, frames) is codec-agnostic.


def _decode_wav(data: bytes) -> tuple[str, int, int, int, int, bytes]:
    import io
    import wave

    with wave.open(io.BytesIO(data)) as w:
        n = w.getnframes()
        return "audio", 0, 0, n, w.getframerate(), w.readframes(n)


def _decode_pnm(data: bytes) -> tuple[str, int, int, int, int, bytes]:
    """Binary netpbm: P5 (grayscale) / P6 (RGB, converted to luma)."""
    import re

    import numpy as np

    # Header: magic, then 3 decimal tokens (w, h, maxval) separated by
    # whitespace/comments, then ONE whitespace byte before the raster.
    m = re.match(rb"(P[56])\s(?:\s*(?:#[^\n]*\n)?)*", data)
    toks, pos = [], m.end(1)
    while len(toks) < 3:
        t = re.compile(rb"\s*(?:#[^\n]*\n\s*)*(\d+)").match(data, pos)
        toks.append(int(t.group(1)))
        pos = t.end()
    w, h, maxval = toks
    if maxval > 255:
        raise NotImplementedError("16-bit netpbm rasters are not supported")
    raster = np.frombuffer(data, dtype=np.uint8, offset=pos + 1)
    if m.group(1) == b"P5":
        plane = raster[: w * h]
    else:
        rgb = raster[: w * h * 3].reshape(h, w, 3).astype(np.uint32)
        plane = ((299 * rgb[..., 0] + 587 * rgb[..., 1] + 114 * rgb[..., 2]) // 1000).astype(np.uint8)
    return "image", w, h, 0, 0, plane.tobytes()


def _decode_bmp(data: bytes) -> tuple[str, int, int, int, int, bytes]:
    """Uncompressed 24-bit BMP (BGR rows, 4-byte padded, bottom-up)."""
    import numpy as np

    off = struct.unpack_from("<I", data, 10)[0]
    w, h = struct.unpack_from("<ii", data, 18)
    bpp, comp = struct.unpack_from("<HI", data, 28)
    if bpp != 24 or comp != 0:
        raise NotImplementedError(f"only uncompressed 24-bit BMP is supported (bpp={bpp}, compression={comp})")
    flip = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(data, dtype=np.uint8, offset=off, count=stride * h)
    bgr = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3).astype(np.uint32)
    plane = ((299 * bgr[..., 2] + 587 * bgr[..., 1] + 114 * bgr[..., 0]) // 1000).astype(np.uint8)
    if flip:
        plane = plane[::-1]
    return "image", w, h, 0, 0, plane.tobytes()


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# Adam7 pass grid: (x offset, y offset, x stride, y stride) per pass,
# PNG spec §8.2 — a published constant, pinned by the interlaced-vs-
# plain decode-equality tests (wrong for any permutation drift).
_ADAM7_PASSES = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_unfilter(buf: bytes, h: int, w: int, channels: int):
    """Undo the five PNG scanline filters over one (sub-)image of
    ``h`` rows x ``w`` pixels: ``buf`` is exactly
    ``h * (w*channels + 1)`` bytes of (filter byte + filtered row).
    ``channels`` is the filter neighbour offset in BYTES per pixel —
    literal channels at bit depth 8, ``2*channels`` at 16 (spec §9
    defines filtering bytewise).
    Sub/None/Up vectorized (Sub is a per-channel cumsum mod 256);
    Average/Paeth carry a left-neighbour dependency and run a
    per-pixel loop — fine for contract-scale rasters."""
    import numpy as np

    stride = w * channels
    raw = np.frombuffer(buf, np.uint8).reshape(h, stride + 1)
    out = np.zeros((h, stride), np.uint8)
    for y in range(h):
        f, row = int(raw[y, 0]), raw[y, 1:]
        prior = out[y - 1] if y else np.zeros(stride, np.uint8)
        if f == 0:
            out[y] = row
        elif f == 1:  # Sub: per-channel prefix sum mod 256
            for c in range(channels):
                out[y, c::channels] = np.cumsum(
                    row[c::channels], dtype=np.uint64
                ).astype(np.uint8)
        elif f == 2:  # Up
            out[y] = row + prior  # uint8 wraps mod 256
        elif f == 3:  # Average — left dependency, sequential
            cur = out[y]
            for x in range(stride):
                left = int(cur[x - channels]) if x >= channels else 0
                cur[x] = (int(row[x]) + ((left + int(prior[x])) >> 1)) & 0xFF
        elif f == 4:  # Paeth — left dependency, sequential
            cur = out[y]
            for x in range(stride):
                a = int(cur[x - channels]) if x >= channels else 0
                b = int(prior[x])
                c = int(prior[x - channels]) if x >= channels else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (int(row[x]) + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {f}")
    return out


def _decode_png(data: bytes) -> tuple[str, int, int, int, int, bytes]:
    """8- and 16-bit PNG (gray / gray+alpha / RGB / RGBA /
    indexed-palette, non-interlaced AND Adam7-interlaced) via stdlib
    ``zlib`` —
    DEFLATE inflate + the five scanline filters
    (None/Sub/Up/Average/Paeth, PNG spec §9).
    Sub/None/Up unfilter vectorized (Sub is a per-channel cumsum mod
    256); Average/Paeth carry a left-neighbour dependency and run a
    per-pixel loop — fine for contract-scale rasters, install PIL for
    bulk production decode. Color type 3 unfilters one index channel,
    validates every index against the PLTE entry count, maps
    index→RGB through the palette (PNG spec §11.2.3) and takes the
    same BT.601 luma as truecolor; tRNS per-entry alpha is parsed and
    length-validated but ignored for luma, exactly like the RGBA
    alpha channel.

    16-bit samples decode via the same byte-level unfilter (the
    filter neighbour offset is BYTES per pixel, spec §9) and emit the
    high byte, the exact inverse of the spec's v*257 upscale.

    Error contract: ``NotImplementedError`` marks a genuinely
    unsupported VARIANT (sub-8-bit depth) — the
    documented missing-codec stub boundary; CORRUPT data (truncated
    stream, raster size mismatch, unknown filter byte, missing/
    malformed PLTE, palette index out of range, oversize tRNS, bad interlace method) raises
    ``ValueError``, so callers that catch ``NotImplementedError`` as
    "format we cannot decode" never swallow data errors.
    """
    import zlib

    import numpy as np

    pos, idat = 8, []
    w = h = bitd = ctype = interlace = None
    plte = trns = None
    while pos + 8 <= len(data):
        ln, typ = struct.unpack_from(">I4s", data, pos)
        chunk = data[pos + 8 : pos + 8 + ln]
        if typ == b"IHDR":
            w, h, bitd, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", chunk
            )
        elif typ == b"PLTE":
            plte = chunk
        elif typ == b"tRNS":
            trns = chunk
        elif typ == b"IDAT":
            idat.append(chunk)
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if w is None or not idat:
        raise ValueError("truncated PNG (no IHDR/IDAT)")
    if bitd not in (8, 16):
        raise NotImplementedError(
            f"only 8- and 16-bit PNG are supported (bit depth {bitd})"
        )
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if channels is None:
        raise NotImplementedError(f"PNG color type {ctype} is not supported")
    if ctype == 3 and bitd == 16:
        # spec §11.2.2: palette images allow bit depths 1/2/4/8 only
        raise ValueError("16-bit palette PNG is not a legal combination (corrupt)")
    if ctype == 3:
        # PLTE is mandatory for indexed color (spec §11.2.3): 1..256
        # RGB triples; tRNS, when present, holds at most one alpha
        # byte per palette entry.
        if plte is None:
            raise ValueError("palette PNG without a PLTE chunk (corrupt)")
        if len(plte) == 0 or len(plte) % 3 or len(plte) > 768:
            raise ValueError("malformed PLTE chunk length (corrupt)")
        if trns is not None and len(trns) > len(plte) // 3:
            raise ValueError("tRNS longer than the palette (corrupt)")
    bpp = channels * (bitd // 8)  # filter neighbour offset is BYTES per pixel
    stride = w * bpp
    raw_all = zlib.decompress(b"".join(idat))
    if interlace == 1:
        # Adam7 (PNG spec §8.2): seven reduced sub-images, each with
        # its OWN scanline filtering (the filter's left/up neighbours
        # are within the sub-image), concatenated in the one zlib
        # stream. Passes whose grid is empty at this size contribute
        # no bytes at all (not even filter bytes).
        px = np.zeros((h, w, bpp), np.uint8)
        pos = 0
        for x0, y0, dx, dy in _ADAM7_PASSES:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            need = ph * (pw * bpp + 1)
            sub = raw_all[pos : pos + need]
            if len(sub) != need:
                raise ValueError("PNG raster size mismatch (corrupt stream)")
            pos += need
            px[y0::dy, x0::dx] = _png_unfilter(sub, ph, pw, bpp).reshape(
                ph, pw, bpp
            )
        if pos != len(raw_all):
            raise ValueError("PNG raster size mismatch (corrupt stream)")
    elif interlace:
        raise ValueError(f"bad PNG interlace method {interlace} (corrupt)")
    else:
        if len(raw_all) != h * (stride + 1):
            raise ValueError("PNG raster size mismatch (corrupt stream)")
        px = _png_unfilter(raw_all, h, w, bpp).reshape(h, w, bpp)
    if bitd == 16:
        # 16-bit samples are big-endian; the 8-bit payload contract
        # takes the high byte (the standard 16->8 downsample: for the
        # spec's v*257 upscale of an 8-bit source it is exact).
        px = px.reshape(h, w, channels, 2)[..., 0]
    if ctype in (0, 4):  # gray / gray+alpha: keep the gray channel
        plane = px[..., 0]
    else:
        if ctype == 3:  # indexed: palette lookup, then the shared luma
            idx = px[..., 0]
            pal = np.frombuffer(plte, np.uint8).reshape(-1, 3)
            if int(idx.max()) >= pal.shape[0]:
                raise ValueError("PNG palette index out of range (corrupt)")
            rgb = pal[idx].astype(np.uint32)
        else:  # RGB / RGBA: alpha ignored
            rgb = px[..., :3].astype(np.uint32)
        plane = (  # integer BT.601 luma
            (299 * rgb[..., 0] + 587 * rgb[..., 1] + 114 * rgb[..., 2]) // 1000
        ).astype(np.uint8)
    return "image", w, h, 0, 0, plane.tobytes()


# JPEG zigzag scan: position k in the coded order -> index in the
# natural (raster) 8x8 order. ITU-T T.81 Figure A.6 — a published
# constant, pinned (like the BT.601 luma weights) by the lossless
# q=1 round-trip test whose output is wrong for ANY permutation drift.
_JPEG_ZZ = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)


def _jpeg_huff_table(counts: bytes, symbols: bytes) -> dict:
    """Canonical Huffman decode table (T.81 C.2): {(length, code): symbol}."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _jpeg_idct_matrix():
    import numpy as np

    m = np.zeros((8, 8))
    for u in range(8):
        cu = (1.0 / math.sqrt(2.0)) if u == 0 else 1.0
        for x in range(8):
            m[u, x] = 0.5 * cu * math.cos((2 * x + 1) * u * math.pi / 16.0)
    return m  # orthogonal: spatial = M.T @ coeffs @ M


class _JpegBits:
    """Entropy-stream bit reader with 0xFF00 destuffing (T.81 F.1.2.3).
    A bare marker inside coded data is corruption -> ValueError."""

    def __init__(self, data: bytes, pos: int):
        self.d = data
        self.i = pos
        self.b = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.i >= len(self.d):
                raise ValueError("truncated JPEG entropy stream")
            byte = self.d[self.i]
            self.i += 1
            if byte == 0xFF:
                nxt = self.d[self.i] if self.i < len(self.d) else None
                if nxt != 0x00:
                    raise ValueError("marker inside JPEG entropy stream (corrupt)")
                self.i += 1
            self.b = byte
            self.n = 8
        self.n -= 1
        return (self.b >> self.n) & 1

    def receive(self, s: int) -> int:
        v = 0
        for _ in range(s):
            v = (v << 1) | self.bit()
        return v

    def restart(self, m: int) -> None:
        """Byte-align and consume the expected RSTm marker (T.81 E.1.4)."""
        self.n = 0
        if self.d[self.i : self.i + 2] != bytes((0xFF, 0xD0 + (m & 7))):
            raise ValueError("missing JPEG restart marker (corrupt)")
        self.i += 2

    def huffdec(self, table: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code (corrupt)")


def _jpeg_extend(v: int, s: int) -> int:
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


def _jpeg_parse_dqt(seg: bytes, qt: dict) -> None:
    """DQT: one or more tables, zigzag order on the wire."""
    import numpy as np

    p = 0
    while p < len(seg):
        pq, tq = seg[p] >> 4, seg[p] & 15
        if pq:
            raise NotImplementedError("16-bit JPEG quant tables (12-bit precision) are not supported")
        if p + 65 > len(seg):
            raise ValueError("truncated JPEG DQT segment (corrupt)")
        tbl = np.zeros(64, np.int32)
        for k in range(64):
            tbl[_JPEG_ZZ[k]] = seg[p + 1 + k]
        qt[tq] = tbl.reshape(8, 8)
        p += 65


def _jpeg_parse_dht(seg: bytes, dc_tab: dict, ac_tab: dict) -> None:
    """DHT: one or more tables."""
    p = 0
    while p < len(seg):
        tc, th = seg[p] >> 4, seg[p] & 15
        if tc > 1:
            raise ValueError(f"bad JPEG Huffman table class {tc} (corrupt)")
        if p + 17 > len(seg):
            raise ValueError("truncated JPEG DHT segment (corrupt)")
        counts = seg[p + 1 : p + 17]
        nsym = sum(counts)
        if p + 17 + nsym > len(seg):
            raise ValueError("truncated JPEG DHT segment (corrupt)")
        tbl = _jpeg_huff_table(counts, seg[p + 17 : p + 17 + nsym])
        (dc_tab if tc == 0 else ac_tab)[th] = tbl
        p += 17 + nsym


def _jpeg_segment(data: bytes, i: int) -> tuple[bytes, int]:
    """Length-prefixed segment body at marker position ``i`` ->
    ``(seg, ln)``. Shared by the sequential and progressive marker
    loops so the truncation hardening can never drift between them:
    a stream ending inside the length field or the body raises the
    contract ValueError."""
    if i + 4 > len(data) or int.from_bytes(data[i + 2 : i + 4], "big") < 2:
        raise ValueError("truncated JPEG segment header (corrupt)")
    ln = int.from_bytes(data[i + 2 : i + 4], "big")
    seg = data[i + 4 : i + 2 + ln]
    if len(seg) != ln - 2:
        raise ValueError("truncated JPEG segment (corrupt)")
    return seg, ln


def _jpeg_next_marker(data: bytes, j: int) -> int:
    """Position of the next real marker at/after ``j``, skipping
    entropy bytes, 0xFF00 stuffing, 0xFF fill runs and RSTn markers —
    how a progressive decoder finds the scan boundary (T.81 E.2.2),
    and how scans for components we discard are skipped WITHOUT
    entropy-decoding them (markers are byte-aligned and cannot occur
    unescaped inside coded data, so the scan is a pure byte search)."""
    while j + 1 < len(data):
        if data[j] != 0xFF:
            j += 1
            continue
        m = data[j + 1]
        if m == 0x00:
            j += 2
        elif m == 0xFF:
            j += 1
        elif 0xD0 <= m <= 0xD7:
            j += 2
        else:
            return j
    raise ValueError("truncated JPEG (no marker after scan data)")


def _decode_jpeg(data: bytes) -> tuple[str, int, int, int, int, bytes]:
    """Baseline JPEG (SOF0/SOF1 sequential Huffman, 8-bit, grayscale or
    YCbCr at any Hi/Vi subsampling, DRI/RSTn restart intervals) decoded
    natively — numpy IDCT (orthogonal 8x8 basis), pure-Python canonical
    Huffman per T.81. A one-component scan decodes non-interleaved
    per T.81 A.2 (one data unit per MCU over the component's own
    block grid, whatever the declared sampling factors); 3-component
    images are treated as YCbCr (the JFIF guarantee; bare Adobe RGB
    JPEGs are rare enough that we do not honor APP14 transform for
    them). 4-component images decode as Adobe CMYK — all four planes
    are kept, upsampled and combined into the luma payload; the APP14
    transform flag selects plain inverted CMYK (0 / absent) vs YCCK
    (2, the YCbCr-transformed variant Adobe emits). 0xFF fill
    bytes between segments are skipped per B.1.1.2. The module's image payload contract is the LUMA
    plane, and for JPEG the Y component IS the luma — so chroma blocks
    are entropy-decoded only to advance the serial bitstream and their
    coefficients discarded, skipping 2/3 of the IDCT work in the 4:4:4
    case.

    Progressive JPEG (SOF2) is dispatched to
    :func:`_decode_jpeg_progressive` at the first SOS, once this
    header loop has collected the tables.

    Error contract (same boundary as :func:`_decode_png`):
    ``NotImplementedError`` marks unsupported VARIANTS (arithmetic
    coding, 12-bit precision, hierarchical, lossless) — install PIL
    for those; CORRUPT data (truncated stream, bad Huffman code,
    marker mid-stream, missing restart) raises ``ValueError``.

    Scale note: entropy decoding is serial PER IMAGE by format design;
    parallelism comes from many images per partition (mapInPandas
    batches), not from within one image. The per-bit Python loop is
    contract-scale honest work — swap in PIL for bulk production
    decode, same output contract.
    """
    import numpy as np

    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    qt: dict[int, "np.ndarray"] = {}
    dc_tab: dict[int, dict] = {}
    ac_tab: dict[int, dict] = {}
    w = h = None
    comps: list[tuple[int, int, int, int]] = []  # (id, Hi, Vi, Tq)
    scan: list[tuple[int, int, int]] = []  # (comp index, Td, Ta)
    restart = 0
    progressive = False
    adobe_transform = None  # APP14 color-transform flag (0/1/2)
    i = 2
    while i + 1 < len(data):
        if data[i] != 0xFF:
            raise ValueError("bad JPEG marker alignment (corrupt)")
        m = data[i + 1]
        if m == 0xFF:  # 0xFF fill byte before a marker (T.81 B.1.1.2)
            i += 1
            continue
        if m in (0x01,) or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        if m == 0xD9:  # EOI before SOS: standalone marker, not a
            # length-prefixed segment — parsing it as one would consume
            # arbitrary trailing bytes (ADVICE r8).
            raise ValueError("truncated JPEG (EOI before SOF/SOS)")
        seg, ln = _jpeg_segment(data, i)
        if m == 0xDB:
            _jpeg_parse_dqt(seg, qt)
        elif m in (0xC0, 0xC1, 0xC2):  # SOF0/SOF1 sequential, SOF2 progressive
            if seg[0] != 8:
                raise NotImplementedError(f"only 8-bit JPEG is supported (precision {seg[0]})")
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            if h == 0:
                # T.81 B.2.2: height 0 defers the row count to a DNL
                # marker after the first scan — a real variant, not
                # corruption; silently decoding an empty payload would
                # be a wrong answer (ADVICE r8).
                raise NotImplementedError(
                    "DNL-deferred JPEG height (SOF h=0) is not supported"
                )
            nc = seg[5]
            if len(seg) < 6 + 3 * nc:
                raise ValueError("truncated JPEG SOF segment (corrupt)")
            if nc not in (1, 3, 4):
                raise NotImplementedError(
                    f"{nc}-component JPEG is not supported; grayscale, "
                    "3-component YCbCr and 4-component CMYK/YCCK decode "
                    "natively"
                )
            comps = [
                (seg[6 + 3 * c], seg[7 + 3 * c] >> 4, seg[7 + 3 * c] & 15, seg[8 + 3 * c])
                for c in range(nc)
            ]
            progressive = m == 0xC2
        elif m in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "only Huffman sequential (SOF0/SOF1) and progressive (SOF2) JPEG "
                "decode natively; lossless/arithmetic/hierarchical need PIL"
            )
        elif m == 0xC4:
            _jpeg_parse_dht(seg, dc_tab, ac_tab)
        elif m == 0xDD:  # DRI
            restart = int.from_bytes(seg[0:2], "big")
        elif m == 0xEE and seg[:5] == b"Adobe" and len(seg) >= 12:
            # APP14 Adobe marker: byte 11 is the color-transform flag
            # (0 = none / CMYK stored directly, 1 = YCbCr, 2 = YCCK).
            adobe_transform = seg[11]
        elif m == 0xDA:  # SOS — entropy data follows the header
            if progressive:
                if len(comps) == 4:
                    raise NotImplementedError(
                        "progressive 4-component (CMYK/YCCK) JPEG is not "
                        "supported; sequential CMYK/YCCK and progressive "
                        "grayscale/YCbCr decode natively"
                    )
                return _decode_jpeg_progressive(data, i, qt, dc_tab, ac_tab, w, h, comps, restart)
            if not seg or len(seg) < 1 + 2 * seg[0] + 3:
                raise ValueError("truncated JPEG SOS segment (corrupt)")
            ns = seg[0]
            by_id = {cid: k for k, (cid, _, _, _) in enumerate(comps)}
            if any(seg[1 + 2 * s] not in by_id for s in range(ns)):
                raise ValueError("JPEG SOS references an undeclared component (corrupt)")
            scan = [
                (by_id[seg[1 + 2 * s]], seg[2 + 2 * s] >> 4, seg[2 + 2 * s] & 15)
                for s in range(ns)
            ]
            i = i + 2 + ln
            break
        i += 2 + ln
    if w is None or not scan:
        raise ValueError("truncated JPEG (no SOF/SOS)")
    if len(scan) != len(comps):
        # Per-component scans (T.81 A.2 non-interleaved ordering):
        # handled by the dedicated multi-scan loop, which continues
        # the marker stream from this first SOS.
        return _decode_jpeg_seq_multiscan(
            data, i, qt, dc_tab, ac_tab, w, h, comps, restart, scan, adobe_transform
        )

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    yc = scan[0][0]  # component 0 is Y (or the single component)
    # CMYK/YCCK needs ALL four planes for the luma (the K channel
    # scales every color); gray/YCbCr keeps only Y and discards chroma
    # coefficients after entropy-advancing past them.
    cmyk = len(comps) == 4
    keep = set(range(len(comps))) if cmyk else {yc}
    for ci in keep:
        if comps[ci][3] not in qt:
            raise ValueError("JPEG scan references a missing quant table (corrupt)")
    for _ci, _td, _ta in scan:
        if _td not in dc_tab or _ta not in ac_tab:
            raise ValueError("JPEG scan references a missing Huffman table (corrupt)")
    if len(scan) == 1:
        # T.81 A.2: a one-component scan is NON-interleaved — one data
        # unit per MCU over the component's OWN block grid, sampling
        # factors notwithstanding (a grayscale file declaring H=V=2
        # still stores ceil(w/8) x ceil(h/8) blocks in raster order).
        hmax = vmax = 1
        eff = {yc: (1, 1)}
        mcux = -(-w // 8)
        mcuy = -(-h // 8)
    else:
        eff = {ci: (comps[ci][1], comps[ci][2]) for ci in keep}
        for ci in keep:
            if hmax % eff[ci][0] or vmax % eff[ci][1]:
                # Legal per T.81 but the integer-repeat upsample below
                # cannot reconstruct a w x h plane from it.
                raise NotImplementedError(
                    f"non-integer sampling ratio (component {ci} "
                    f"{eff[ci][0]}x{eff[ci][1]} vs max {hmax}x{vmax}) "
                    "is not supported"
                )
        mcux = -(-w // (8 * hmax))
        mcuy = -(-h // (8 * vmax))
    yH, yV = eff[yc]
    idct = _jpeg_idct_matrix()
    planes = {
        ci: np.zeros((mcuy * eff[ci][1] * 8, mcux * eff[ci][0] * 8), np.uint8)
        for ci in keep
    }
    qs = {ci: qt[comps[ci][3]].astype(np.float64) for ci in keep}

    br = _JpegBits(data, i)
    preds = [0] * len(comps)
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            n_mcu = my * mcux + mx
            if restart and n_mcu and n_mcu % restart == 0:
                br.restart(rst)
                rst = (rst + 1) & 7
                preds = [0] * len(comps)
            for ci, td, ta in scan:
                if len(scan) == 1:
                    ch = cv = 1  # non-interleaved: one data unit per MCU
                else:
                    _, ch, cv, _tq = comps[ci]
                for by in range(cv):
                    for bx in range(ch):
                        t = br.huffdec(dc_tab[td])
                        preds[ci] += _jpeg_extend(br.receive(t), t)
                        coef = np.zeros(64) if ci in keep else None
                        if coef is not None:
                            coef[0] = preds[ci]
                        k = 1
                        while k < 64:
                            rs = br.huffdec(ac_tab[ta])
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    # ZRL writes 16 zeros at k-16..k-1;
                                    # filling exactly to the block end
                                    # (k == 64) is representable, but
                                    # beyond is a corrupt stream — same
                                    # contract as the progressive path
                                    # (ADVICE r10: this previously fell
                                    # out of the loop silently).
                                    if k > 64:
                                        raise ValueError(
                                            "JPEG AC run past block end (corrupt)"
                                        )
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC run past block end (corrupt)")
                            v = _jpeg_extend(br.receive(s), s)
                            if coef is not None:
                                coef[_JPEG_ZZ[k]] = v
                            k += 1
                        if coef is None:
                            continue
                        blk = idct.T @ (coef.reshape(8, 8) * qs[ci]) @ idct
                        px = np.clip(np.round(blk) + 128, 0, 255).astype(np.uint8)
                        planes[ci][
                            (my * cv + by) * 8 : (my * cv + by) * 8 + 8,
                            (mx * ch + bx) * 8 : (mx * ch + bx) * 8 + 8,
                        ] = px

    return _jpeg_assemble(planes, eff, hmax, vmax, w, h, yc, cmyk, adobe_transform)


def _jpeg_assemble(planes, eff, hmax, vmax, w, h, yc, cmyk, adobe_transform):
    """Shared final color assembly: integer-repeat upsample to full
    resolution, then luma extraction (gray/YCbCr) or the Adobe
    CMYK/YCCK inversion. Used by the interleaved sequential path and
    the per-component multi-scan path."""
    import numpy as np

    def upsampled(ci):
        p, (H, V) = planes[ci], eff[ci]
        if H != hmax or V != vmax:
            p = np.repeat(np.repeat(p, vmax // V, 0), hmax // H, 1)
        return p[:h, :w]

    if not cmyk:
        return "image", w, h, 0, 0, upsampled(yc).tobytes()
    # 4-component color: Adobe convention (the only one in the wild —
    # libjpeg's guess too). Values are stored INVERTED (stored =
    # 255 - ink), so R = stored_C * stored_K / 255, etc. APP14
    # transform 2 (YCCK) stores the inverted CMY channels YCbCr-
    # transformed; undo that first. No APP14 / transform 0 = plain
    # inverted CMYK.
    c0, c1, c2, kk = (upsampled(ci).astype(np.float64) for ci in range(4))
    if adobe_transform == 2:
        yv, cb, cr = c0, c1 - 128.0, c2 - 128.0
        c0 = np.clip(np.round(yv + 1.402 * cr), 0, 255)
        c1 = np.clip(np.round(yv - 0.344136 * cb - 0.714136 * cr), 0, 255)
        c2 = np.clip(np.round(yv + 1.772 * cb), 0, 255)
    elif adobe_transform not in (None, 0):
        raise ValueError(
            f"APP14 transform {adobe_transform} on a 4-component JPEG "
            "(corrupt: only 0=CMYK and 2=YCCK are defined)"
        )
    luma = (
        299 * (c0 * kk) + 587 * (c1 * kk) + 114 * (c2 * kk)
    ) / (1000.0 * 255.0)
    return "image", w, h, 0, 0, np.clip(np.round(luma), 0, 255).astype(np.uint8).tobytes()


def _decode_jpeg_seq_multiscan(
    data: bytes,
    i: int,
    qt: dict,
    dc_tab: dict,
    ac_tab: dict,
    w: int,
    h: int,
    comps: list[tuple[int, int, int, int]],
    restart: int,
    first_scan: list[tuple[int, int, int]],
    adobe_transform: int | None,
) -> tuple[str, int, int, int, int, bytes]:
    """Non-interleaved MULTI-SCAN sequential JPEG: each component in
    its own one-component scan (T.81 A.2 — some encoders emit this
    shape for 4:2:0). Runs its own marker loop because DHT/DRI
    segments legally appear between scans. Each scan decodes over the
    component's OWN block grid (``ceil(ceil(w·Hc/hmax)/8)`` wide) with
    a per-scan DC predictor and restart counter; scans for components
    the output does not keep are still entropy-decoded (the corrupt-
    stream contract matches the interleaved path, which entropy-
    advances past discarded chroma). Reference parity: the reference
    ingests documents as opaque bytes (src/program2_ai_processor.py);
    native decode is SURVEY §2.4 multimodal-extension scope.
    """
    import numpy as np

    nc = len(comps)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    cmyk = nc == 4
    # SOF orders luma first (the interleaved path's scan[0][0] resolves
    # to the same component on every in-the-wild stream).
    yc = 0
    keep = set(range(nc)) if cmyk else {yc}
    idct = _jpeg_idct_matrix()
    planes: dict[int, np.ndarray] = {}
    eff: dict[int, tuple[int, int]] = {}
    for ci in keep:
        if hmax % comps[ci][1] or vmax % comps[ci][2]:
            raise NotImplementedError(
                f"non-integer sampling ratio (component {ci} "
                f"{comps[ci][1]}x{comps[ci][2]} vs max {hmax}x{vmax}) "
                "is not supported"
            )

    def decode_scan(scan_comps, pos, restart_cur):
        if len(scan_comps) != 1:
            raise NotImplementedError(
                "partially-interleaved sequential JPEG scans (1 < ns < "
                "component count) are not supported; fully interleaved "
                "and one-component-per-scan streams decode natively"
            )
        ci, td, ta = scan_comps[0]
        if ci in planes or (ci not in keep and ci in eff):
            raise ValueError("JPEG component scanned twice in sequential mode (corrupt)")
        if td not in dc_tab or ta not in ac_tab:
            raise ValueError("JPEG scan references a missing Huffman table (corrupt)")
        hc, vc = comps[ci][1], comps[ci][2]
        cw = -(-w * hc // hmax)
        chh = -(-h * vc // vmax)
        nbx, nby = -(-cw // 8), -(-chh // 8)
        keepit = ci in keep
        if keepit:
            if comps[ci][3] not in qt:
                raise ValueError("JPEG scan references a missing quant table (corrupt)")
            plane = np.zeros((nby * 8, nbx * 8), np.uint8)
            q = qt[comps[ci][3]].astype(np.float64)
        eff[ci] = (hc, vc)
        br = _JpegBits(data, pos)
        pred, rst = 0, 0
        for u in range(nbx * nby):
            if restart_cur and u and u % restart_cur == 0:
                br.restart(rst)
                rst = (rst + 1) & 7
                pred = 0
            t = br.huffdec(dc_tab[td])
            pred += _jpeg_extend(br.receive(t), t)
            coef = np.zeros(64) if keepit else None
            if coef is not None:
                coef[0] = pred
            k = 1
            while k < 64:
                rs = br.huffdec(ac_tab[ta])
                r, s = rs >> 4, rs & 15
                if s == 0:
                    if r == 15:
                        k += 16
                        if k > 64:
                            raise ValueError("JPEG AC run past block end (corrupt)")
                        continue
                    break  # EOB
                k += r
                if k > 63:
                    raise ValueError("JPEG AC run past block end (corrupt)")
                v = _jpeg_extend(br.receive(s), s)
                if coef is not None:
                    coef[_JPEG_ZZ[k]] = v
                k += 1
            if not keepit:
                continue
            blk = idct.T @ (coef.reshape(8, 8) * q) @ idct
            by, bx = divmod(u, nbx)
            plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = np.clip(
                np.round(blk) + 128, 0, 255
            ).astype(np.uint8)
        if keepit:
            planes[ci] = plane
        return br.i

    pos = decode_scan(first_scan, i, restart)
    restart_cur = restart
    while keep - set(planes):
        # Find the next marker past the scan's entropy tail: skip to
        # 0xFF, collapse fill bytes (repeated 0xFF), step over stray
        # RSTs defensively.
        p = pos
        while p < len(data) - 1 and data[p] != 0xFF:
            p += 1
        while p < len(data) - 1 and data[p + 1] == 0xFF:
            p += 1
        if p >= len(data) - 1:
            raise ValueError("truncated JPEG (missing component scans)")
        m = data[p + 1]
        if m == 0x00 or 0xD0 <= m <= 0xD7:
            pos = p + 2
            continue
        if m == 0xD9:  # EOI with keep components still missing
            raise ValueError("truncated JPEG (missing component scans)")
        if p + 4 > len(data):
            raise ValueError("truncated JPEG segment (corrupt)")
        ln = int.from_bytes(data[p + 2 : p + 4], "big")
        seg = data[p + 4 : p + 2 + ln]
        if m == 0xC4:
            _jpeg_parse_dht(seg, dc_tab, ac_tab)
        elif m == 0xDB:
            _jpeg_parse_dqt(seg, qt)
        elif m == 0xDD:
            restart_cur = int.from_bytes(seg[0:2], "big")
        elif m == 0xDA:
            if not seg or len(seg) < 1 + 2 * seg[0] + 3:
                raise ValueError("truncated JPEG SOS segment (corrupt)")
            ns = seg[0]
            by_id = {cid: k for k, (cid, _, _, _) in enumerate(comps)}
            if any(seg[1 + 2 * s] not in by_id for s in range(ns)):
                raise ValueError(
                    "JPEG SOS references an undeclared component (corrupt)"
                )
            sc = [
                (by_id[seg[1 + 2 * s]], seg[2 + 2 * s] >> 4, seg[2 + 2 * s] & 15)
                for s in range(ns)
            ]
            pos = decode_scan(sc, p + 2 + ln, restart_cur)
            continue
        # other segments (APPn, COM, DNL) are skipped
        pos = p + 2 + ln
    return _jpeg_assemble(planes, eff, hmax, vmax, w, h, yc, cmyk, adobe_transform)


def _decode_jpeg_progressive(
    data: bytes,
    i: int,
    qt: dict,
    dc_tab: dict,
    ac_tab: dict,
    w: int,
    h: int,
    comps: list[tuple[int, int, int, int]],
    restart: int,
) -> tuple[str, int, int, int, int, bytes]:
    """Progressive JPEG (SOF2): spectral-selection + successive-
    approximation scans per T.81 Annexes B.2.3 and G. Called from
    :func:`_decode_jpeg` with the header already parsed and ``i`` at
    the first SOS marker; runs its own marker loop because DHT/DQT/DRI
    segments may legally appear BETWEEN scans.

    Each scan delivers one (band, bit-plane) slice of the quantized
    DCT coefficients; they accumulate in an int32 coefficient grid and
    a single vectorized dequant + IDCT (einsum over all blocks at
    once) runs at the end. The payload contract is the luma plane, so:

    - scans that do not include Y are SKIPPED as a pure byte search
      for the next marker (:func:`_jpeg_next_marker`) — no entropy
      decode at all, since each progressive scan is its own
      byte-aligned entropy segment (unlike baseline, where chroma
      blocks interleave into one serial bitstream);
    - interleaved DC scans (the only multi-component scans the spec
      allows in progressive) entropy-decode chroma DC to stay
      synchronized but store only Y.

    Refinement follows the public libjpeg/stb conventions, which are
    what T.81 G.1.2.3 specifies: newly-nonzero AC coefficients arrive
    as ±1<<Al with a 1=positive sign bit; history-nonzero
    coefficients consume one correction bit each, applied only when
    bit Al is still clear; DC refinement ORs 1<<Al into the (two's
    complement) DC term; an EOB run of N blocks is coded as symbol
    r<<4 plus r literal bits with N = (1<<r) + bits.

    Error contract matches :func:`_decode_jpeg`: structural damage
    raises ``ValueError``; the remaining variant boundaries
    (arithmetic coding, 12-bit, hierarchical) raise
    ``NotImplementedError`` in the header loop before this runs.
    """
    import numpy as np

    ncomp = len(comps)
    yc = 0  # JFIF component order: Y first
    if ncomp == 1:
        hmax = vmax = 1
        samp = [(1, 1)]
    else:
        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)
        samp = [(c[1], c[2]) for c in comps]
        if hmax % samp[yc][0] or vmax % samp[yc][1]:
            raise NotImplementedError(
                f"non-integer luma sampling ratio (Y {samp[yc][0]}x{samp[yc][1]} "
                f"vs max {hmax}x{vmax}) is not supported"
            )
    yH, yV = samp[yc]
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    # Non-interleaved block grid per component (T.81 A.2.2: the
    # component's own ceil(cw/8) x ceil(ch/8) raster, which for Y is a
    # sub-grid of the MCU-padded storage below).
    nb = []
    for _cid, H, V, _tq in (comps if ncomp > 1 else [(0, 1, 1, 0)]):
        cw = -(-(w * H) // hmax)
        ch = -(-(h * V) // vmax)
        nb.append((-(-cw // 8), -(-ch // 8)))
    ycoef = np.zeros((mcuy * yV, mcux * yH, 64), np.int64)

    n_scans = 0
    while i + 1 < len(data):
        if data[i] != 0xFF:
            raise ValueError("bad JPEG marker alignment (corrupt)")
        m = data[i + 1]
        if m == 0xFF:
            i += 1
            continue
        if m == 0x01 or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        if m == 0xD9:  # EOI
            break
        seg, ln = _jpeg_segment(data, i)
        if m == 0xDB:
            _jpeg_parse_dqt(seg, qt)
        elif m == 0xC4:
            _jpeg_parse_dht(seg, dc_tab, ac_tab)
        elif m == 0xDD:
            restart = int.from_bytes(seg[0:2], "big")
        elif 0xC0 <= m <= 0xCF and m != 0xC8:
            raise ValueError("second SOF inside a progressive JPEG (corrupt)")
        elif m == 0xDA:
            if not seg or len(seg) < 1 + 2 * seg[0] + 3:
                raise ValueError("truncated JPEG SOS segment (corrupt)")
            ns = seg[0]
            by_id = {cid: k for k, (cid, _, _, _) in enumerate(comps)}
            sel = []
            for s_ in range(ns):
                if seg[1 + 2 * s_] not in by_id:
                    raise ValueError("JPEG SOS references an undeclared component (corrupt)")
                sel.append(
                    (by_id[seg[1 + 2 * s_]], seg[2 + 2 * s_] >> 4, seg[2 + 2 * s_] & 15)
                )
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 15
            pos = i + 2 + ln
            n_scans += 1
            if ss == 0 and se != 0:
                raise ValueError("progressive JPEG DC scan with Se != 0 (corrupt)")
            if ss > 0 and (ns != 1 or ss > se or se > 63):
                raise ValueError("bad progressive JPEG AC scan header (corrupt)")
            if not any(ci == yc for ci, _, _ in sel):
                i = _jpeg_next_marker(data, pos)  # chroma-only scan: skip
                continue
            if ss == 0:
                i = _jpeg_next_marker(
                    data,
                    _prog_dc_scan(
                        data, pos, sel, samp, nb, dc_tab, ycoef, yc,
                        mcux, mcuy, ah, al, restart,
                    ),
                )
            else:
                ci, _td, ta = sel[0]
                if ta not in ac_tab:
                    raise ValueError("JPEG scan references a missing Huffman table (corrupt)")
                i = _jpeg_next_marker(
                    data,
                    _prog_ac_scan(
                        data, pos, ycoef, nb[yc], ac_tab[ta], ss, se, ah, al, restart
                    ),
                )
            continue
        i += 2 + ln
    else:
        # Data ended on a scan boundary without EOI: later scans (more
        # refinement, or chroma/luma passes) are missing, and decoding
        # what arrived would be a silent partial answer.
        raise ValueError("truncated JPEG (no EOI marker)")
    if not n_scans:
        raise ValueError("truncated JPEG (no scan data)")
    if comps[yc][3] not in qt:
        raise ValueError("JPEG scan references a missing quant table (corrupt)")

    idct = _jpeg_idct_matrix()
    yq = qt[comps[yc][3]].astype(np.float64)
    nby_s, nbx_s = ycoef.shape[0], ycoef.shape[1]
    # Coefficients are stored in natural (raster) order within each
    # block, so [..., u, v] after the reshape; one einsum IDCTs every
    # block at once: out = M.T @ (C * Q) @ M per block.
    coefs = ycoef.reshape(nby_s, nbx_s, 8, 8).astype(np.float64) * yq
    spatial = np.einsum("ab,yxbc,cd->yxad", idct.T, coefs, idct)
    plane = (
        np.clip(np.round(spatial) + 128, 0, 255)
        .astype(np.uint8)
        .transpose(0, 2, 1, 3)
        .reshape(nby_s * 8, nbx_s * 8)
    )
    if yH != hmax or yV != vmax:
        plane = np.repeat(np.repeat(plane, vmax // yV, 0), hmax // yH, 1)
    return "image", w, h, 0, 0, plane[:h, :w].tobytes()


def _prog_dc_scan(
    data, pos, sel, samp, nb, dc_tab, ycoef, yc, mcux, mcuy, ah, al, restart
) -> int:
    """One progressive DC scan (Ss=Se=0). Ah=0: Huffman DC-difference
    decode, stored << Al; Ah>0: one raw refinement bit per block, OR'd
    into bit Al (two's complement makes OR correct for negative DC —
    the encoder emits bit Al of the arithmetic-shifted value).
    Returns the byte position after the consumed entropy data."""
    interleaved = len(sel) > 1
    if ah == 0:
        for _ci, td, _ta in sel:
            if td not in dc_tab:
                raise ValueError("JPEG scan references a missing Huffman table (corrupt)")
    br = _JpegBits(data, pos)
    preds = [0] * len(samp)
    rst = 0
    if interleaved:
        units = mcux * mcuy
    else:
        nbx_c, nby_c = nb[sel[0][0]]
        units = nbx_c * nby_c
    for u in range(units):
        if restart and u and u % restart == 0:
            br.restart(rst)
            rst = (rst + 1) & 7
            preds = [0] * len(samp)
        for ci, td, _ta in sel:
            if interleaved:
                ch_, cv_ = samp[ci]
                my, mx = divmod(u, mcux)
                blocks = [
                    (my * cv_ + by, mx * ch_ + bx)
                    for by in range(cv_)
                    for bx in range(ch_)
                ]
            else:
                by_, bx_ = divmod(u, nb[ci][0])
                blocks = [(by_, bx_)]
            for ry, rx in blocks:
                if ah == 0:
                    t = br.huffdec(dc_tab[td])
                    preds[ci] += _jpeg_extend(br.receive(t), t)
                    if ci == yc:
                        ycoef[ry, rx, 0] = preds[ci] << al
                else:
                    bit = br.bit()
                    if ci == yc and bit:
                        ycoef[ry, rx, 0] = int(ycoef[ry, rx, 0]) | (1 << al)
    return br.i


def _prog_ac_scan(data, pos, ycoef, grid, ac, ss, se, ah, al, restart) -> int:
    """One progressive AC scan (Ss>0, single component = Y, raster
    order over the component's non-interleaved block grid). First pass
    (Ah=0) places coefficients << Al with EOB-run skipping; refinement
    (Ah>0) walks the band applying one correction bit per
    history-nonzero coefficient and inserting ±1<<Al newly-nonzero
    terms — the T.81 G.1.2.3 algorithm as implemented by libjpeg/stb.
    Returns the byte position after the consumed entropy data."""
    nbx_c, nby_c = grid
    br = _JpegBits(data, pos)
    eob_run = 0
    rst = 0
    bit = 1 << al
    zz = _JPEG_ZZ

    def refine(blk, idx):
        if br.bit():
            cur = int(blk[idx])
            if not (cur & bit):
                blk[idx] = cur + bit if cur >= 0 else cur - bit

    for u in range(nbx_c * nby_c):
        if restart and u and u % restart == 0:
            br.restart(rst)
            rst = (rst + 1) & 7
            eob_run = 0
        byy, bxx = divmod(u, nbx_c)
        blk = ycoef[byy, bxx]
        if ah == 0:
            if eob_run:
                eob_run -= 1
                continue
            k = ss
            while True:
                rs = br.huffdec(ac)
                r, s = rs >> 4, rs & 15
                if s == 0:
                    if r < 15:
                        eob_run = (1 << r) - 1
                        if r:
                            eob_run += br.receive(r)
                        break
                    k += 16
                    # ZRL writes 16 zeros at k-16..k-1; all must land in
                    # the band, so k may reach se+1 (ZRL filling exactly
                    # to the band end is representable, if wasteful) but
                    # never beyond — same corrupt-stream contract as the
                    # coefficient-run check below (ADVICE r9: this
                    # overrun previously exited the block loop silently).
                    if k > se + 1:
                        raise ValueError("JPEG AC run past band end (corrupt)")
                else:
                    k += r
                    if k > se:
                        raise ValueError("JPEG AC run past band end (corrupt)")
                    blk[zz[k]] = _jpeg_extend(br.receive(s), s) << al
                    k += 1
                if k > se:
                    break
        else:
            if eob_run:
                eob_run -= 1
                for k in range(ss, se + 1):
                    if blk[zz[k]]:
                        refine(blk, zz[k])
                continue
            k = ss
            while k <= se:
                rs = br.huffdec(ac)
                r, s = rs >> 4, rs & 15
                val = 0
                if s == 0:
                    if r < 15:
                        eob_run = (1 << r) - 1
                        if r:
                            eob_run += br.receive(r)
                        r = 64  # refine-to-band-end mode, no placement
                    # else ZRL: skip 16 zero-history coefficients
                else:
                    if s != 1:
                        raise ValueError("bad JPEG AC refinement symbol (corrupt)")
                    val = bit if br.bit() else -bit
                while k <= se:
                    idx = zz[k]
                    if blk[idx]:
                        refine(blk, idx)
                    else:
                        if r == 0:
                            if val:
                                blk[idx] = val
                            k += 1
                            break
                        r -= 1
                    k += 1
    return br.i


def decode_media(data: bytes) -> tuple[str, int, int, int, int, bytes]:
    """Unified decode: (kind, width, height, n_frames, sample_rate,
    payload). FAKM, WAV, PGM/PPM, 24-bit BMP, 8-bit PNG (incl.
    indexed palette and Adam7 interlacing) and Huffman JPEG (sequential
    SOF0/SOF1 and progressive SOF2) decode for real; anything else
    raises ``NotImplementedError`` naming the missing dependency —
    the honest stub boundary for MP4 (and arithmetic JPEG /
    sub-8-bit PNG)."""
    data = bytes(data)
    if data[:4] == _MAGIC:
        return fakm_decode(data)
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return _decode_wav(data)
    if data[:2] in (b"P5", b"P6"):
        return _decode_pnm(data)
    if data[:2] == b"BM":
        return _decode_bmp(data)
    if data[:8] == _PNG_MAGIC:
        return _decode_png(data)
    if data[:2] == b"\xff\xd8":
        return _decode_jpeg(data)
    raise NotImplementedError(
        "this format needs a real codec library (libav for video), "
        "which is not installed; WAV, PGM/PPM, 24-bit BMP, 8-bit "
        "PNG (incl. Adam7), sequential + progressive JPEG and the "
        "FAKM container decode natively"
    )


def _format_of(data: bytes) -> str:
    data = bytes(data)
    if data[:4] == _MAGIC:
        return "fakm"
    if data[:4] == b"RIFF":
        return "wav"
    if data[:2] in (b"P5", b"P6"):
        return "pnm"
    if data[:8] == _PNG_MAGIC:
        return "png"
    if data[:2] == b"\xff\xd8":
        return "jpeg"
    return "bmp"


def read_media_dir(spark: SparkSession, path: str, glob: str = "*") -> DataFrame:
    """Ingest a directory of media files via the ``binaryFile`` source.

    media_id = file stem. The source prunes on ``pathGlobFilter``
    before reading bytes, and never shuffles the payload.
    """
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )
    return raw.select(
        F.regexp_extract(F.col("path"), r"([^/]+?)(\.[^./]*)?$", 1).alias("media_id"),
        F.col("content").alias("data"),
        F.col("length"),
    )


def decode_meta(df: DataFrame, data_col: str = "data") -> DataFrame:
    """Populate ``kind`` + ``meta`` by decoding headers (mapInPandas).

    Real codecs, no external library: WAV, PGM/PPM, 24-bit BMP,
    8-bit PNG, baseline JPEG, and the FAKM dev container.

    Only headers are parsed — payload bytes pass through untouched, so
    the stage is CPU-light and keeps its input partitioning.
    """
    out_schema = StructType(
        [f for f in df.schema.fields]
        + [StructField("kind", StringType()), StructField("meta", MEDIA_META_SCHEMA)]
    )

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            kinds, metas = [], []
            for data in pdf[data_col]:
                kind, w, h, n, sr, _ = decode_media(data)
                kinds.append(kind)
                metas.append({"format": _format_of(data), "width": w, "height": h, "n_frames": n, "sample_rate": sr})
            pdf = pdf.copy()
            pdf["kind"] = kinds
            pdf["meta"] = metas
            yield pdf

    return df.mapInPandas(gen, out_schema)


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("data", BinaryType()),
    ]
)


def resize_images(df: DataFrame, width: int, height: int) -> DataFrame:
    """Nearest-neighbor resize of FAKM images to ``width`` x ``height``.

    Real per-pixel work, vectorized in numpy per Arrow batch — the
    template for any decode-transform-reencode stage. Non-image rows
    are dropped (filter early, before the expensive stage).
    """

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, datas = [], []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                kind, w, h, n, sr, payload = decode_media(data)
                if kind != "image":
                    continue
                img = np.frombuffer(payload, dtype=np.uint8).reshape(h, w)
                ys = (np.arange(height) * h) // height
                xs = (np.arange(width) * w) // width
                resized = img[np.ix_(ys, xs)]
                ids.append(mid)
                datas.append(fakm_encode("i", resized.tobytes(), width, height))
            yield pd.DataFrame(
                {"media_id": ids, "width": width, "height": height, "data": datas}
            )

    return df.mapInPandas(gen, RESIZED_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame", BinaryType()),
    ]
)


def sample_frames(df: DataFrame, every_n: int = 2) -> DataFrame:
    """Explode FAKM videos into every ``every_n``-th frame.

    One input row fans out to n_frames/every_n rows — mapInPandas
    yields the expanded frame rows per batch; downstream per-frame
    stages then repartition by frame count, not by video count.
    """

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                kind, w, h, n, sr, payload = decode_media(data)
                if kind != "video":
                    continue
                plane = w * h
                for i in range(0, n, every_n):
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(payload[i * plane : (i + 1) * plane])
            yield pd.DataFrame({"media_id": ids, "frame_idx": idxs, "frame": frames})

    return df.mapInPandas(gen, FRAME_SCHEMA)


FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)


def extract_features(df: DataFrame, n_bins: int = 8) -> DataFrame:
    """Per-media feature vector: [mean, std, histogram(n_bins)...] of
    the payload — the stand-in for a real embedding model stage; the
    Spark shape (binary in, fixed-width array<double> out, Arrow
    batches) is exactly what a model-backed encoder uses.
    """

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                kind, w, h, n, sr, payload = decode_media(data)
                arr = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
                hist = np.histogram(arr, bins=n_bins, range=(0, 256))[0] if arr.size else np.zeros(n_bins)
                feats = [float(arr.mean()) if arr.size else 0.0, float(arr.std()) if arr.size else 0.0]
                feats += [float(x) for x in hist]
                rows.append((mid, kind, len(payload), feats))
            yield pd.DataFrame(rows, columns=["media_id", "kind", "n_bytes", "features"])

    return df.mapInPandas(gen, FEATURE_SCHEMA)
