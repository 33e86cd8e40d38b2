"""Multimodal plumbing tests: binaryFile ingest -> decode -> transform.

The FAKM codec is deterministic, so every assertion is exact."""

from __future__ import annotations

import pytest

from skoltexter_by_ai_spark.operators import multimodal as mm


@pytest.fixture()
def media_dir(tmp_path):
    d = tmp_path / "media"
    d.mkdir()
    # 4x2 grayscale image with known pixels.
    img = bytes([0, 32, 64, 96, 128, 160, 192, 255])
    (d / "img_a.fakm").write_bytes(mm.fakm_encode("i", img, width=4, height=2))
    # 3-frame 2x2 video; frame i filled with value 10*i.
    frames = b"".join(bytes([10 * i] * 4) for i in range(3))
    (d / "vid_b.fakm").write_bytes(mm.fakm_encode("v", frames, width=2, height=2, n_frames=3))
    # 8-sample audio at 16 kHz.
    (d / "aud_c.fakm").write_bytes(
        mm.fakm_encode("a", bytes(range(8)), n_frames=8, sample_rate=16000)
    )
    (d / "README.txt").write_text("not media")
    return str(d)


def test_read_media_dir_globs_and_ids(spark, media_dir):
    df = mm.read_media_dir(spark, media_dir, glob="*.fakm")
    ids = sorted(r.media_id for r in df.select("media_id").collect())
    assert ids == ["aud_c", "img_a", "vid_b"]


def test_decode_meta_per_kind(spark, media_dir):
    df = mm.decode_meta(mm.read_media_dir(spark, media_dir, glob="*.fakm"))
    by_id = {r.media_id: r for r in df.collect()}
    assert by_id["img_a"].kind == "image"
    assert by_id["img_a"].meta.width == 4 and by_id["img_a"].meta.height == 2
    assert by_id["vid_b"].kind == "video"
    assert by_id["vid_b"].meta.n_frames == 3
    assert by_id["aud_c"].kind == "audio"
    assert by_id["aud_c"].meta.sample_rate == 16000


def test_unknown_format_raises_stub_error(spark, media_dir):
    df = mm.read_media_dir(spark, media_dir, glob="*.txt")
    with pytest.raises(Exception, match="FAKM|NotImplemented"):
        mm.decode_meta(df).collect()


def test_resize_nearest_neighbor_exact(spark, media_dir):
    df = mm.read_media_dir(spark, media_dir, glob="*.fakm")
    out = {r.media_id: r for r in mm.resize_images(df, width=2, height=2).collect()}
    assert set(out) == {"img_a"}  # non-images dropped
    kind, w, h, n, sr, payload = mm.fakm_decode(bytes(out["img_a"].data))
    assert (w, h) == (2, 2)
    # nearest-neighbor from 4x2 -> 2x2 picks columns 0,2 of rows 0,1.
    assert list(payload) == [0, 64, 128, 192]


def test_sample_frames_every_other(spark, media_dir):
    df = mm.read_media_dir(spark, media_dir, glob="*.fakm")
    rows = mm.sample_frames(df, every_n=2).orderBy("frame_idx").collect()
    assert [(r.media_id, r.frame_idx) for r in rows] == [("vid_b", 0), ("vid_b", 2)]
    assert list(bytes(rows[1].frame)) == [20, 20, 20, 20]


def test_extract_features_exact(spark, media_dir):
    df = mm.read_media_dir(spark, media_dir, glob="img_*.fakm")
    feats = mm.extract_features(df, n_bins=4).collect()[0]
    img = [0, 32, 64, 96, 128, 160, 192, 255]
    assert feats.kind == "image"
    assert feats.n_bytes == 8
    assert feats.features[0] == pytest.approx(sum(img) / 8)
    # histogram bins [0,64),[64,128),[128,192),[192,256]
    assert feats.features[2:] == [2, 2, 2, 2]


@pytest.fixture()
def real_media_dir(tmp_path):
    """REAL formats, produced without any codec library: a stdlib WAV,
    a binary PGM (with a header comment), and a bottom-up 24-bit BMP."""
    import struct
    import wave

    d = tmp_path / "real"
    d.mkdir()
    # WAV: 8 mono 16-bit frames at 8 kHz.
    with wave.open(str(d / "tone.wav"), "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<8h", *range(0, 800, 100)))
    # PGM: 3x2 grayscale, pixels 10..60.
    (d / "gray.pgm").write_bytes(b"P5\n# a comment\n3 2\n255\n" + bytes([10, 20, 30, 40, 50, 60]))
    # BMP: 2x2 24-bit, bottom-up, stride padded to 8. Rows written
    # bottom row first: bottom=(blue, green), top=(red, white).
    px_bottom = bytes([255, 0, 0]) + bytes([0, 255, 0]) + b"\x00\x00"  # B,G + pad
    px_top = bytes([0, 0, 255]) + bytes([255, 255, 255]) + b"\x00\x00"
    pixels = px_bottom + px_top
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(pixels), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(pixels), 2835, 2835, 0, 0)
    )
    (d / "tiny.bmp").write_bytes(header + pixels)
    return str(d)


def test_real_wav_decodes_via_stdlib(spark, real_media_dir):
    df = mm.decode_meta(mm.read_media_dir(spark, real_media_dir, glob="*.wav"))
    r = df.collect()[0]
    assert r.kind == "audio"
    assert r.meta.format == "wav"
    assert r.meta.sample_rate == 8000 and r.meta.n_frames == 8


def test_real_pgm_decodes_and_resizes(spark, real_media_dir):
    df = mm.read_media_dir(spark, real_media_dir, glob="*.pgm")
    meta = mm.decode_meta(df).collect()[0]
    assert (meta.kind, meta.meta.format) == ("image", "pnm")
    assert (meta.meta.width, meta.meta.height) == (3, 2)
    out = mm.resize_images(df, width=1, height=1).collect()[0]
    kind, w, h, n, sr, payload = mm.decode_media(out.data)
    assert (w, h, payload) == (1, 1, bytes([10]))  # nearest = top-left


def test_real_bmp_decodes_luma_and_flips(spark, real_media_dir):
    df = mm.read_media_dir(spark, real_media_dir, glob="*.bmp")
    meta = mm.decode_meta(df).collect()[0]
    assert (meta.kind, meta.meta.format) == ("image", "bmp")
    assert (meta.meta.width, meta.meta.height) == (2, 2)
    # Direct decode: top row first after the bottom-up flip.
    kind, w, h, n, sr, payload = mm.decode_media((df.collect()[0]).data)
    # BT.601 luma: red=76 (299*255//1000... integer), white=255, blue=76? no:
    # blue -> 114*255//... computed below from the formula directly.
    top = [(299 * 255) // 1000, (299 * 255 + 587 * 255 + 114 * 255) // 1000]
    bottom = [(114 * 255) // 1000, (587 * 255) // 1000]
    assert list(payload) == top + bottom


def test_real_features_on_wav(spark, real_media_dir):
    df = mm.read_media_dir(spark, real_media_dir, glob="*.wav")
    r = mm.extract_features(df).collect()[0]
    assert r.kind == "audio" and r.n_bytes == 16  # 8 frames x 2 bytes


def test_corrupt_jpeg_raises_value_error(spark, tmp_path):
    # Corrupt JPEG is a DATA error (ValueError via the decode contract),
    # never the missing-codec NotImplementedError: this stream's bogus
    # APP0 length runs past the buffer, i.e. truncated.
    d = tmp_path / "jpg"
    d.mkdir()
    (d / "x.jpg").write_bytes(b"\xff\xd8\xff\xe0notreallyjpeg")
    df = mm.read_media_dir(spark, str(d), glob="*.jpg")
    with pytest.raises(Exception, match="truncated JPEG"):
        mm.decode_meta(df).collect()


def _png_bytes(w, h, channels, pixels, filters, palette=None, trns=None,
               interlace=False, bitdepth=8):
    """Minimal PNG encoder for the contract tests: one IDAT, caller
    picks each row's filter type (exercising the decoder's unfilter
    paths). `pixels` is a bytes raster of h*w*channels. With
    `palette` (bytes of RGB triples), channels must be 1 and the
    raster holds palette indices (color type 3); `trns` adds a tRNS
    chunk of per-entry alpha bytes. With `interlace`, the raster is
    emitted as the seven Adam7 sub-images (spec pass order), the
    filter list cycling over every emitted sub-row. With bitdepth=16,
    `pixels` is the big-endian u16 raster (h*w*channels*2 bytes) and
    filtering runs bytewise at the 2*channels neighbour offset, per
    spec §9."""
    import struct
    import zlib

    if palette is not None:
        assert channels == 1
        ctype = 3
    else:
        ctype = {1: 0, 2: 4, 3: 2, 4: 6}[channels]

    def chunk(typ, body):
        return (
            struct.pack(">I", len(body))
            + typ
            + body
            + struct.pack(">I", zlib.crc32(typ + body))
        )

    bpp = channels * (bitdepth // 8)

    def filter_image(rows_, width_, fseq):
        stride_ = width_ * bpp
        buf = bytearray()
        prev = bytes(stride_)
        for row, f in zip(rows_, fseq):
            enc = bytearray()
            for x in range(stride_):
                a = row[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                if f == 0:
                    pred = 0
                elif f == 1:
                    pred = a
                elif f == 2:
                    pred = b
                elif f == 3:
                    pred = (a + b) >> 1
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc.append((row[x] - pred) & 0xFF)
            buf.append(f)
            buf.extend(enc)
            prev = bytes(row)
        return buf

    stride = w * bpp
    rows = [pixels[y * stride : (y + 1) * stride] for y in range(h)]
    if interlace:
        fiter = __import__("itertools").cycle(filters)
        out = bytearray()
        for x0, y0, dx, dy in ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8),
                               (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2),
                               (0, 1, 1, 2)):
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            sub = []
            for y in range(y0, h, dy):
                r = bytearray()
                for x in range(x0, w, dx):
                    r.extend(rows[y][x * bpp : (x + 1) * bpp])
                sub.append(bytes(r))
            out.extend(filter_image(sub, pw, (next(fiter) for _ in range(ph))))
    else:
        out = filter_image(rows, w, filters)
    ihdr = struct.pack(">IIBBBBB", w, h, bitdepth, ctype, 0, 0, 1 if interlace else 0)
    mid = b""
    if palette is not None:
        mid += chunk(b"PLTE", palette)
    if trns is not None:
        mid += chunk(b"tRNS", trns)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + mid
        + chunk(b"IDAT", zlib.compress(bytes(out)))
        + chunk(b"IEND", b"")
    )


def test_real_png_all_filter_types_roundtrip():
    # 4x5 grayscale with varied values; one row per filter type 0-4.
    import random

    rng = random.Random(7)
    raster = bytes(rng.randrange(256) for _ in range(4 * 5))
    data = _png_bytes(4, 5, 1, raster, filters=[0, 1, 2, 3, 4])
    kind, w, h, n, sr, payload = mm.decode_media(data)
    assert (kind, w, h) == ("image", 4, 5)
    assert payload == raster


def test_real_png_rgb_and_rgba_luma():
    # 2x2 RGB: red, green / blue, white -> BT.601 integer luma.
    rgb = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255])
    data = _png_bytes(2, 2, 3, rgb, filters=[4, 3])
    kind, w, h, n, sr, payload = mm.decode_media(data)
    assert payload == bytes([299 * 255 // 1000, 587 * 255 // 1000,
                             114 * 255 // 1000, 255])
    # RGBA: alpha ignored; same luma.
    rgba = bytes([255, 0, 0, 9, 0, 255, 0, 9, 0, 0, 255, 9, 255, 255, 255, 9])
    data = _png_bytes(2, 2, 4, rgba, filters=[1, 2])
    assert mm.decode_media(data)[5] == payload


def test_real_png_unsupported_variants_raise():
    import struct
    import zlib

    import pytest

    def chunk(typ, body):
        return (
            struct.pack(">I", len(body)) + typ + body
            + struct.pack(">I", zlib.crc32(typ + body))
        )

    # Interlace METHOD 2 is undefined by the spec: corrupt data now
    # that Adam7 (method 1) decodes for real.
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 2)
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
           + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="interlace"):
        mm.decode_media(png)
    # sub-8-bit depth (16-bit now decodes; see the 16-bit tests below).
    ihdr = struct.pack(">IIBBBBB", 2, 2, 4, 0, 0, 0, 0)
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(b"\x00" * 10))
           + chunk(b"IEND", b""))
    with pytest.raises(NotImplementedError, match="bit depth"):
        mm.decode_media(png)
    # Palette color type now DECODES (see the palette tests below) —
    # but a palette stream with NO PLTE chunk is corrupt data, not a
    # variant boundary.
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
           + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="PLTE"):
        mm.decode_media(png)


def test_real_png_palette_matches_truecolor_decode():
    """Indexed-color decode contract: mapping indices through PLTE
    must give byte-identical luma to the truecolor encode of the
    palette-expanded raster — all five unfilter paths run over the
    one-channel index plane."""
    import random

    rng = random.Random(31)
    pal = bytes(rng.randrange(256) for _ in range(16 * 3))  # 16 entries
    idx = bytes(rng.randrange(16) for _ in range(4 * 5))
    indexed = _png_bytes(4, 5, 1, idx, filters=[0, 1, 2, 3, 4], palette=pal)
    expanded = bytes(b for i in idx for b in pal[3 * i : 3 * i + 3])
    truecolor = _png_bytes(4, 5, 3, expanded, filters=[0, 0, 0, 0, 0])
    assert mm.decode_media(indexed) == mm.decode_media(truecolor)
    assert mm.decode_media(indexed)[1:3] == (4, 5)


def test_real_png_palette_trns_alpha_ignored_like_rgba():
    """tRNS per-entry alpha is parsed and validated but ignored for
    luma — the same contract as the RGBA alpha channel. A tRNS chunk
    longer than the palette is corrupt."""
    import pytest

    pal = bytes([255, 0, 0, 0, 255, 0])  # red, green
    idx = bytes([0, 1, 1, 0])
    plain = _png_bytes(2, 2, 1, idx, filters=[0, 1], palette=pal)
    with_trns = _png_bytes(
        2, 2, 1, idx, filters=[0, 1], palette=pal, trns=bytes([0, 128])
    )
    assert mm.decode_media(with_trns) == mm.decode_media(plain)
    # partial tRNS (fewer entries than the palette) is legal
    partial = _png_bytes(2, 2, 1, idx, filters=[0, 1], palette=pal, trns=b"\x00")
    assert mm.decode_media(partial) == mm.decode_media(plain)
    oversize = _png_bytes(
        2, 2, 1, idx, filters=[0, 1], palette=pal, trns=bytes([0, 1, 2])
    )
    with pytest.raises(ValueError, match="tRNS"):
        mm.decode_media(oversize)


def test_real_png_palette_corrupt_streams_raise_value_error():
    import pytest

    pal = bytes([10, 20, 30, 40, 50, 60])  # 2 entries
    # index 5 >= 2 palette entries -> corrupt
    bad_idx = _png_bytes(2, 1, 1, bytes([0, 5]), filters=[0], palette=pal)
    with pytest.raises(ValueError, match="index out of range"):
        mm.decode_media(bad_idx)
    # PLTE length not a multiple of 3 -> corrupt
    bad_plte = _png_bytes(2, 1, 1, bytes([0, 1]), filters=[0], palette=pal + b"\x07")
    with pytest.raises(ValueError, match="PLTE"):
        mm.decode_media(bad_plte)


def test_real_png_through_spark_pipeline(spark, tmp_path):
    d = tmp_path / "pngs"
    d.mkdir()
    raster = bytes(range(12))  # 4x3 gradient
    (d / "grad.png").write_bytes(_png_bytes(4, 3, 1, raster, [0, 1, 2]))
    df = mm.read_media_dir(spark, str(d), glob="*.png")
    meta = mm.decode_meta(df).collect()[0]
    assert (meta.kind, meta.meta.format) == ("image", "png")
    assert (meta.meta.width, meta.meta.height) == (4, 3)
    out = mm.resize_images(df, width=2, height=1).collect()[0]
    _, w, h, _, _, payload = mm.decode_media(out.data)
    assert (w, h) == (2, 1)


def test_png_corrupt_data_raises_value_error_not_stub_boundary():
    """Corrupt PNG input is a DATA error (ValueError), never the
    NotImplementedError missing-codec stub boundary (ADVICE r5):
    callers that catch NotImplementedError as 'format we cannot
    decode here' must not misclassify corrupt streams."""
    import struct
    import zlib

    import pytest

    def chunk(typ, body):
        return (
            struct.pack(">I", len(body)) + typ + body
            + struct.pack(">I", zlib.crc32(typ + body))
        )

    magic = b"\x89PNG\r\n\x1a\n"
    # Truncated: IHDR but no IDAT at all.
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    with pytest.raises(ValueError, match="truncated"):
        mm.decode_media(magic + chunk(b"IHDR", ihdr) + chunk(b"IEND", b""))
    # Raster size mismatch: IDAT holds one scanline for a 2-row image.
    png = (magic + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
           + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="size mismatch"):
        mm.decode_media(png)
    # Unknown filter byte (9) on an otherwise well-sized raster.
    raw = b"\x09\x00\x00" + b"\x00\x00\x00"
    png = (magic + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="filter"):
        mm.decode_media(png)


# --- round-8 mutation-gate killers ---------------------------------------------
# Luma contract: the existing tests used channel value 255, where a
# +-1 drift in any BT.601 coefficient floors to the SAME byte
# (114*255//1000 == 115*255//1000 == 29). These pixels are chosen so
# each coefficient's unit drift crosses a floor boundary: red 200
# (299 vs 300 -> 59/60), green 250 (587 vs 588 -> 146/147), blue 200
# (114 vs 115 -> 22/23) — and channel-index drift zeroes a component.


def test_png_luma_coefficients_discriminating_pixels():
    rgb = bytes([200, 0, 0, 0, 250, 0, 0, 0, 200, 0, 0, 0])
    data = _png_bytes(2, 2, 3, rgb, filters=[0, 0])
    payload = mm.decode_media(data)[5]
    assert payload == bytes([299 * 200 // 1000, 587 * 250 // 1000, 114 * 200 // 1000, 0])


def test_ppm_luma_coefficients_discriminating_pixels(tmp_path):
    px = bytes([200, 0, 0, 0, 250, 0, 0, 0, 200, 0, 0, 0])
    data = b"P6\n2 2\n255\n" + px
    payload = mm.decode_media(data)[5]
    assert payload == bytes([299 * 200 // 1000, 587 * 250 // 1000, 114 * 200 // 1000, 0])


def test_bmp_luma_coefficients_discriminating_pixels():
    import struct

    # 1x3 top-down BMP (negative height -> no flip), BGR order:
    # blue 200, green 250, red 200; rows pad to 4 bytes (9 -> 12).
    px = bytes([200, 0, 0]) + bytes([0, 250, 0]) + bytes([0, 0, 200]) + b"\x00\x00\x00"
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(px), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 3, -1, 1, 24, 0, len(px), 2835, 2835, 0, 0)
    )
    payload = mm.decode_media(header + px)[5]
    assert payload == bytes([114 * 200 // 1000, 587 * 250 // 1000, 299 * 200 // 1000])


def test_bmp_rejects_non_24bpp_and_compressed():
    import struct

    px = b"\x00" * 4
    for bpp, comp in ((32, 0), (24, 1), (32, 1)):
        header = (
            b"BM"
            + struct.pack("<IHHI", 54 + len(px), 0, 0, 54)
            + struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, bpp, comp, len(px), 2835, 2835, 0, 0)
        )
        with pytest.raises(NotImplementedError, match="24-bit"):
            mm.decode_media(header + px)


def test_ppm_image_meta_fields_are_zero():
    """Image decode returns (kind, w, h, 0, 0, payload): the n_frames
    and sample_rate slots are contractually zero for stills."""
    data = b"P6\n1 1\n255\n" + bytes([10, 20, 30])
    kind, w, h, n, sr, payload = mm.decode_media(data)
    assert (kind, w, h, n, sr) == ("image", 1, 1, 0, 0)


# --- baseline JPEG: real decode ------------------------------------------------
# The reference encoder lives in tests/jpeg_ref.py — built independently
# from the T.81 spec (only the published zigzag constant is shared, as a
# literal copy), so a drift on either side breaks the round-trip instead
# of cancelling out.


def _jpeg_roundtrip(img, **kw):
    import numpy as np

    from jpeg_ref import encode

    kind, w, h, nf, sr, pl = mm.decode_media(encode(img, **kw))
    assert (kind, nf, sr) == ("image", 0, 0)
    assert (h, w) == img.shape and len(pl) == w * h
    return np.frombuffer(pl, np.uint8).reshape(h, w)


def test_jpeg_flat_block_decodes_exactly():
    # DC-only block: quantization is exact, so every pixel must equal
    # the input value — any IDCT scale/level-shift drift fails here.
    import numpy as np

    img = np.full((8, 8), 200, np.uint8)
    assert (_jpeg_roundtrip(img) == 200).all()


def test_jpeg_gray_q1_roundtrip_near_lossless():
    # All-ones quant table: the only loss is DCT float rounding, so the
    # full chain (zigzag, canonical Huffman, DC prediction, dequant,
    # IDCT) must reproduce a random raster within |err| <= 2 — wrong
    # for ANY permutation/sign/order drift anywhere in the chain.
    import numpy as np

    img = np.random.default_rng(7).integers(0, 256, (17, 24), np.uint8)
    out = _jpeg_roundtrip(img)
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 2


def test_jpeg_restart_intervals_do_not_change_output():
    import numpy as np

    from jpeg_ref import encode

    img = np.random.default_rng(8).integers(0, 256, (17, 24), np.uint8)
    plain = encode(img)
    rst = encode(img, restart=2)
    assert b"\xff\xdd" in rst and rst != plain
    assert mm.decode_media(rst)[5] == mm.decode_media(plain)[5]


def test_jpeg_420_color_interleave_recovers_luma():
    # 4:2:0 MCUs interleave 4 Y blocks + Cb + Cr: the decoder must
    # entropy-decode the chroma blocks to stay synchronized even though
    # it only outputs Y. A mis-advance corrupts every later MCU's luma.
    import numpy as np

    from jpeg_ref import encode

    y = np.random.default_rng(9).integers(0, 256, (14, 20), np.uint8)
    cb = np.full((8, 16), 128, np.uint8)
    cr = np.full((8, 16), 90, np.uint8)
    kind, w, h, _, _, pl = mm.decode_media(encode(y, cb, cr))
    out = np.frombuffer(pl, np.uint8).reshape(h, w)
    assert (h, w) == y.shape
    assert np.abs(out.astype(int) - y.astype(int)).max() <= 2


def test_jpeg_real_world_files_decode():
    # Tiny public fixtures (CPython's own test assets, PSF-licensed):
    # a 2x2 single-component gray and a 16x16 4:2:0 color JPEG.
    import os

    import numpy as np

    here = os.path.join(os.path.dirname(__file__), "data")
    for name, exp_w, exp_h in [("2x2.jpg", 2, 2), ("python.jpg", 16, 16)]:
        data = open(os.path.join(here, name), "rb").read()
        kind, w, h, nf, sr, pl = mm.decode_media(data)
        assert (kind, w, h) == ("image", exp_w, exp_h), name
        assert len(pl) == w * h
        # deterministic decode
        assert mm.decode_media(data)[5] == pl


# T.81 Annex K.1 luminance quantization table — published spec data,
# the standard non-identity table every real encoder ships.
ANNEX_K_LUMA = [
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
]


def test_jpeg_nonidentity_quant_table_dequantizes_correctly():
    # The q=1 round-trip is invariant to dequant/zigzag-permutation
    # bugs in the DQT path (ADVICE r8): with all-ones tables, skipping
    # dequantization entirely would still pass. Pin the lossy path
    # against an INDEPENDENT test-side reconstruction
    # IDCT(round(DCT/Q) * Q) computed with jpeg_ref's own DCT matrix —
    # a mis-permuted, transposed, or skipped dequant diverges wildly.
    import numpy as np

    from jpeg_ref import _M, encode

    q = np.array(ANNEX_K_LUMA, np.int32)
    img = np.random.default_rng(11).integers(0, 256, (24, 16), np.uint8)
    out = _jpeg_roundtrip(img, q_luma=q)

    expected = np.zeros_like(img)
    for by in range(3):
        for bx in range(2):
            blk = img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8].astype(float)
            coef = np.round((_M @ (blk - 128.0) @ _M.T) / q)
            rec = _M.T @ (coef * q) @ _M + 128.0
            expected[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = np.clip(
                np.round(rec), 0, 255
            )
    # Both sides apply the identical float pipeline; only rounding
    # order differs.
    assert np.abs(out.astype(int) - expected.astype(int)).max() <= 1


def test_jpeg_eoi_before_sos_is_corrupt_not_segment():
    # A standalone EOI must not be parsed as a length-prefixed segment
    # (it would consume two arbitrary trailing bytes as a "length").
    with pytest.raises(ValueError, match="EOI|truncated"):
        mm.decode_media(b"\xff\xd8\xff\xd9")


def test_jpeg_dnl_deferred_height_is_explicit_variant():
    # SOF h=0 defers the row count to a DNL marker (T.81 B.2.2) —
    # must raise, not silently decode an empty payload.
    import numpy as np

    from jpeg_ref import encode

    data = bytearray(encode(np.full((8, 8), 50, np.uint8)))
    i = data.index(b"\xff\xc0")
    data[i + 5 : i + 7] = b"\x00\x00"  # SOF height := 0
    with pytest.raises(NotImplementedError, match="DNL"):
        mm.decode_media(bytes(data))


# --- progressive JPEG (SOF2): real decode ---------------------------------------
# The test-side encoder (jpeg_ref.encode_progressive) reconstructs
# every coefficient bit across its scan script, so the progressive
# decode must BYTE-EQUAL the baseline decode of the same image — a
# drift anywhere in the EOB-run / refinement / sign conventions on
# either side breaks the equality instead of cancelling out.


def test_jpeg_progressive_gray_matches_baseline_decode():
    import numpy as np

    from jpeg_ref import encode, encode_progressive

    img = np.random.default_rng(7).integers(0, 256, (17, 24), np.uint8)
    assert mm.decode_media(encode_progressive(img)) == mm.decode_media(encode(img))


def test_jpeg_progressive_color_420_matches_baseline_decode():
    # Interleaved DC scan (Y+Cb+Cr) + per-component AC scans; the
    # decoder must entropy-decode chroma DC to stay synchronized and
    # byte-skip the chroma AC scans entirely.
    import numpy as np

    from jpeg_ref import encode, encode_progressive

    rng = np.random.default_rng(9)
    y = rng.integers(0, 256, (14, 20), np.uint8)
    cb = rng.integers(0, 256, (8, 16), np.uint8)
    cr = rng.integers(0, 256, (8, 16), np.uint8)
    assert mm.decode_media(encode_progressive(y, cb, cr)) == mm.decode_media(
        encode(y, cb, cr)
    )


def test_jpeg_progressive_restart_intervals():
    # RSTn markers inside progressive scans reset the DC predictor AND
    # the EOB run; a missed reset corrupts every later block.
    import numpy as np

    from jpeg_ref import encode, encode_progressive

    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, (33, 41), np.uint8)
    prog = encode_progressive(img, restart=3)
    assert b"\xff\xdd" in prog
    assert mm.decode_media(prog) == mm.decode_media(encode(img))
    y = rng.integers(0, 256, (14, 20), np.uint8)
    cb = rng.integers(0, 256, (8, 16), np.uint8)
    cr = rng.integers(0, 256, (8, 16), np.uint8)
    assert mm.decode_media(encode_progressive(y, cb, cr, restart=2)) == mm.decode_media(
        encode(y, cb, cr)
    )


def test_jpeg_progressive_eob_runs_on_sparse_image():
    # A mostly-flat image makes whole bands zero -> multi-block EOB
    # runs with buffered refinement correction bits: the Annex G path
    # a dense random raster never exercises.
    import numpy as np

    from jpeg_ref import encode, encode_progressive

    img = np.full((64, 64), 128, np.uint8)
    img[5, 5] = 250
    img[40, 33] = 3
    assert mm.decode_media(encode_progressive(img)) == mm.decode_media(encode(img))


def test_jpeg_progressive_nonidentity_quant_table():
    import numpy as np

    from jpeg_ref import encode, encode_progressive

    q = np.array(ANNEX_K_LUMA, np.int32)
    img = np.random.default_rng(11).integers(0, 256, (24, 16), np.uint8)
    assert mm.decode_media(encode_progressive(img, q_luma=q)) == mm.decode_media(
        encode(img, q_luma=q)
    )


def test_jpeg_progressive_random_scan_scripts():
    # Random spectral splits and successive-approximation depths (the
    # scan script is the encoder's free choice; any legal script must
    # reconstruct the identical coefficients).
    import numpy as np

    from jpeg_ref import encode, encode_progressive

    for trial in range(8):
        r = np.random.default_rng(100 + trial)
        hh, ww = int(r.integers(1, 40)), int(r.integers(1, 40))
        img = r.integers(0, 256, (hh, ww), np.uint8)
        cut = int(r.integers(1, 63))
        al1 = int(r.integers(0, 3))
        scans = [([0], 0, 0, 0, al1), ([0], 1, cut, 0, al1), ([0], cut + 1, 63, 0, al1)]
        for a in range(al1, 0, -1):
            scans += [([0], 1, 63, a, a - 1), ([0], 0, 0, a, a - 1)]
        prog = encode_progressive(img, scans=scans, restart=int(r.integers(0, 4)))
        assert mm.decode_media(prog) == mm.decode_media(encode(img)), (trial, hh, ww)


def test_jpeg_sequential_stream_with_sof2_marker_is_corrupt():
    # A baseline entropy stream relabeled SOF2 parses as a progressive
    # "DC" scan with Se=63 — structurally invalid, so ValueError
    # (corrupt), no longer the variant stub.
    import numpy as np

    from jpeg_ref import encode

    data = bytearray(encode(np.full((8, 8), 99, np.uint8)))
    i = data.index(b"\xff\xc0")
    data[i + 1] = 0xC2
    with pytest.raises(ValueError, match="Se|corrupt"):
        mm.decode_media(bytes(data))


def test_jpeg_arithmetic_still_raises_honest_stub():
    import numpy as np

    from jpeg_ref import encode

    data = bytearray(encode(np.full((8, 8), 99, np.uint8)))
    i = data.index(b"\xff\xc0")
    data[i + 1] = 0xC9  # SOF9: arithmetic-coded sequential
    with pytest.raises(NotImplementedError, match="arithmetic"):
        mm.decode_media(bytes(data))


def test_jpeg_through_spark_decode_meta(spark, tmp_path):
    import numpy as np

    from jpeg_ref import encode

    d = tmp_path / "jpgs"
    d.mkdir()
    rng = np.random.default_rng(10)
    imgs = {f"img{i}.jpg": rng.integers(0, 256, (8 + i, 9 + i), np.uint8) for i in range(3)}
    for name, img in imgs.items():
        (d / name).write_bytes(encode(img))
    rows = mm.decode_meta(mm.read_media_dir(spark, str(d), glob="*.jpg")).collect()
    assert len(rows) == 3
    for r in rows:
        img = imgs[r.media_id + ".jpg"]
        assert (r.kind, r.meta.format) == ("image", "jpeg")
        assert (r.meta.width, r.meta.height) == (img.shape[1], img.shape[0])


def test_jpeg_idct_matches_textbook_definition():
    # T.81 A.3.3: f(x,y) = 1/4 ΣuΣv C(u)C(v) F(u,v) cos((2x+1)uπ/16)
    # cos((2y+1)vπ/16) — the matrix form used by the decoder must equal
    # the quadruple loop on random coefficients (kills any basis-matrix
    # scale/transpose drift the round-trip could mask symmetrically).
    import math

    import numpy as np

    from skoltexter_by_ai_spark.operators.multimodal import _jpeg_idct_matrix

    rng = np.random.default_rng(11)
    coefs = rng.integers(-200, 200, (8, 8)).astype(np.float64)
    m = _jpeg_idct_matrix()
    fast = m.T @ coefs @ m
    slow = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / math.sqrt(2) if u == 0 else 1.0
                    cv = 1 / math.sqrt(2) if v == 0 else 1.0
                    s += (
                        cu * cv * coefs[u, v]
                        * math.cos((2 * x + 1) * u * math.pi / 16)
                        * math.cos((2 * y + 1) * v * math.pi / 16)
                    )
            slow[x, y] = s / 4.0
    assert np.abs(fast - slow).max() < 1e-9


def test_jpeg_single_component_scan_ignores_sampling_factors():
    # T.81 A.2: Ns=1 scans are NON-interleaved — a grayscale file whose
    # SOF declares H=V=2 (libjpeg keeps factors when dropping chroma)
    # still stores ceil(w/8) x ceil(h/8) blocks in raster order. The
    # bitstream is identical, so the decode must be too.
    import numpy as np

    from jpeg_ref import encode

    img = np.random.default_rng(12).integers(0, 256, (24, 24), np.uint8)
    plain = encode(img)
    i = plain.index(b"\xff\xc0")
    # SOF0 layout: FF C0 len prec h h w w nc id HiVi Tq -> HiVi at +11
    assert plain[i + 11] == 0x11
    patched = plain[: i + 11] + bytes((0x22,)) + plain[i + 12 :]
    assert mm.decode_media(patched)[5] == mm.decode_media(plain)[5]


def test_sample_frames_default_stride(spark, media_dir):
    """The DEFAULT every_n=2 is part of the API contract (mutation
    sweep r10: the default-value mutant survived because every caller
    passed every_n explicitly)."""
    df = mm.read_media_dir(spark, media_dir, glob="*.fakm")
    rows = mm.sample_frames(df).orderBy("frame_idx").collect()
    assert [(r.media_id, r.frame_idx) for r in rows] == [("vid_b", 0), ("vid_b", 2)]


def test_jpeg_sos_before_sof_raises_the_contract_error():
    """A scan header before any frame header is corrupt data and must
    raise the decoder's own diagnostic (the SOS component check), not
    an incidental exception from downstream empty-state code (mutation
    sweep r10: flipping the initial `progressive` flag routed this
    stream into the progressive decoder, which died on max() of an
    empty component list — same exception type, wrong contract)."""
    dht_dc = b"\xff\xc4" + (20).to_bytes(2, "big") + bytes([0x00, 1] + [0] * 15 + [0x00])
    dht_ac = b"\xff\xc4" + (20).to_bytes(2, "big") + bytes([0x10, 1] + [0] * 15 + [0x00])
    sos = b"\xff\xda" + (8).to_bytes(2, "big") + bytes([1, 1, 0x00, 0, 63, 0])
    data = b"\xff\xd8" + dht_dc + dht_ac + sos + b"\x7f\xff\xd9"
    with pytest.raises(ValueError, match="undeclared component"):
        mm.decode_media(data)


def test_jpeg_five_component_raises_honest_stub():
    # CMYK/YCCK (4 components) now decodes; a 5-component SOF is the
    # remaining variant boundary, not a data error.
    sof = bytes((8, 0, 8, 0, 8, 5)) + bytes(
        b for c in range(5) for b in (c + 1, 0x11, 0)
    )
    data = b"\xff\xd8\xff\xc0" + (len(sof) + 2).to_bytes(2, "big") + sof
    with pytest.raises(NotImplementedError, match="5-component"):
        mm.decode_media(data)


def test_jpeg_fill_bytes_before_marker_are_skipped():
    import numpy as np

    from jpeg_ref import encode

    img = np.random.default_rng(13).integers(0, 256, (8, 8), np.uint8)
    plain = encode(img)
    i = plain.index(b"\xff\xc0")
    padded = plain[:i] + b"\xff\xff\xff" + plain[i:]  # fills, then SOF
    assert mm.decode_media(padded)[5] == mm.decode_media(plain)[5]


def test_jpeg_corrupt_headers_raise_value_error_not_keyerror():
    import numpy as np

    from jpeg_ref import encode

    img = np.random.default_rng(14).integers(0, 256, (8, 8), np.uint8)
    plain = bytearray(encode(img))
    # SOS layout: FF DA len Ns id TdTa ...: component id at +5
    i = plain.index(b"\xff\xda")
    bad_comp = bytes(plain[: i + 5]) + bytes((9,)) + bytes(plain[i + 6 :])
    with pytest.raises(ValueError, match="undeclared component"):
        mm.decode_media(bad_comp)
    # TdTa at +6 -> reference Huffman table id 3 (never declared)
    bad_tab = bytes(plain[: i + 6]) + bytes((0x33,)) + bytes(plain[i + 7 :])
    with pytest.raises(ValueError, match="missing Huffman table"):
        mm.decode_media(bad_tab)


def test_jpeg_progressive_noninterleaved_dc_script():
    # T.81 allows per-component (Ns=1) DC scans too; the decoder's
    # chroma-DC byte-skip and the non-interleaved Y grid must both
    # hold, with and without restart markers.
    import numpy as np

    from jpeg_ref import encode, encode_progressive

    rng = np.random.default_rng(21)
    y = rng.integers(0, 256, (14, 20), np.uint8)
    cb = rng.integers(0, 256, (8, 16), np.uint8)
    cr = rng.integers(0, 256, (8, 16), np.uint8)
    scans = [
        ([0], 0, 0, 0, 1), ([1], 0, 0, 0, 1), ([2], 0, 0, 0, 1),
        ([0], 1, 63, 0, 0), ([1], 1, 63, 0, 0), ([2], 1, 63, 0, 0),
        ([0], 0, 0, 1, 0), ([1], 0, 0, 1, 0), ([2], 0, 0, 1, 0),
    ]
    base = mm.decode_media(encode(y, cb, cr))
    assert mm.decode_media(encode_progressive(y, cb, cr, scans=scans)) == base
    assert (
        mm.decode_media(encode_progressive(y, cb, cr, scans=scans, restart=2)) == base
    )


# --- 4-component CMYK/YCCK JPEG (Adobe convention) -------------------------------


def _expected_cmyk_luma(stored, transform):
    """Reference restatement of the documented Adobe math (values
    stored inverted; YCCK = inverted CMY sent through YCbCr). Kept
    independent of the decoder; the hand anchors below pin the
    convention itself."""
    import numpy as np

    c0, c1, c2, kk = (p.astype(np.float64) for p in stored)
    if transform == 2:
        yv, cb, cr = c0, c1 - 128.0, c2 - 128.0
        c0 = np.clip(np.round(yv + 1.402 * cr), 0, 255)
        c1 = np.clip(np.round(yv - 0.344136 * cb - 0.714136 * cr), 0, 255)
        c2 = np.clip(np.round(yv + 1.772 * cb), 0, 255)
    luma = (299 * (c0 * kk) + 587 * (c1 * kk) + 114 * (c2 * kk)) / (1000.0 * 255.0)
    return np.clip(np.round(luma), 0, 255).astype(np.uint8)


def _recovered(plane):
    """What the decoder's own DCT path recovers for one plane — the
    FDCT(q=1)+IDCT round trip can differ from the input by ±1 on rare
    values, so plane-level references go through the same grayscale
    encode the existing JPEG tests rely on."""
    import numpy as np

    from jpeg_ref import encode

    h, w = plane.shape
    return np.frombuffer(mm.decode_media(encode(plane))[5], np.uint8).reshape(h, w)


def test_jpeg_cmyk_444_decode_matches_reference_math():
    import numpy as np

    from jpeg_ref import encode_cmyk

    rng = np.random.default_rng(41)
    planes = [rng.integers(0, 256, (13, 17), np.uint8) for _ in range(4)]
    kind, w, h, _, _, payload = mm.decode_media(
        encode_cmyk(planes, 13, 17, transform=0)
    )
    assert (kind, w, h) == ("image", 17, 13)
    assert payload == _expected_cmyk_luma([_recovered(p) for p in planes], 0).tobytes()
    # Hand anchors pin the inverted-storage convention: stored
    # 255/255/255/255 = no ink = white; stored K=0 = full black ink;
    # stored (255,0,0,255) = pure "red" -> BT.601 luma 76 (same value
    # the PNG red test pins).
    flat = lambda v: np.full((8, 8), v, np.uint8)
    white = [flat(255)] * 4
    assert mm.decode_media(encode_cmyk(white, 8, 8))[5] == bytes([255] * 64)
    black = [flat(255), flat(255), flat(255), flat(0)]
    assert mm.decode_media(encode_cmyk(black, 8, 8))[5] == bytes([0] * 64)
    red = [flat(255), flat(0), flat(0), flat(255)]
    assert mm.decode_media(encode_cmyk(red, 8, 8))[5] == bytes([76] * 64)


def test_jpeg_ycck_decode_matches_reference_math():
    import numpy as np

    from jpeg_ref import encode_cmyk

    rng = np.random.default_rng(43)
    planes = [rng.integers(0, 256, (16, 8), np.uint8) for _ in range(4)]
    out = mm.decode_media(encode_cmyk(planes, 16, 8, transform=2))[5]
    assert out == _expected_cmyk_luma([_recovered(p) for p in planes], 2).tobytes()
    # Neutral anchor: Cb=Cr=128 makes the YCbCr inverse the identity,
    # and K=255 makes luma EXACTLY the stored Y channel.
    yp = rng.integers(0, 256, (8, 8), np.uint8)
    neutral = [yp, np.full((8, 8), 128, np.uint8), np.full((8, 8), 128, np.uint8),
               np.full((8, 8), 255, np.uint8)]
    assert (
        mm.decode_media(encode_cmyk(neutral, 8, 8, transform=2))[5]
        == _recovered(yp).tobytes()
    )


def test_jpeg_cmyk_no_app14_assumes_plain_cmyk():
    import numpy as np

    from jpeg_ref import encode_cmyk

    rng = np.random.default_rng(47)
    planes = [rng.integers(0, 256, (8, 8), np.uint8) for _ in range(4)]
    assert (
        mm.decode_media(encode_cmyk(planes, 8, 8, transform=None))[5]
        == mm.decode_media(encode_cmyk(planes, 8, 8, transform=0))[5]
    )


def test_jpeg_cmyk_subsampled_and_restart():
    # Components 0/3 full-res random, 1/2 flat at half resolution so
    # the integer-repeat upsample is exact; restart markers every 2
    # MCUs exercise predictor resets across all four components.
    import numpy as np

    from jpeg_ref import encode_cmyk

    rng = np.random.default_rng(53)
    h, w = 18, 25  # 2 x 2 MCUs at 16px, with edge padding
    samp = [(2, 2), (1, 1), (1, 1), (2, 2)]
    half = (-(-h // 2), -(-w // 2))  # ceil(h*V/vmax) x ceil(w*H/hmax)
    planes = [
        rng.integers(0, 256, (h, w), np.uint8),
        np.full(half, 200, np.uint8),
        np.full(half, 40, np.uint8),
        rng.integers(0, 256, (h, w), np.uint8),
    ]
    expected_full = [
        _recovered(planes[0]),
        np.full((h, w), 200, np.uint8),
        np.full((h, w), 40, np.uint8),
        _recovered(planes[3]),
    ]
    for restart in (0, 2):
        out = mm.decode_media(encode_cmyk(planes, h, w, samp=samp, restart=restart))
        assert out[1:3] == (w, h)
        assert out[5] == _expected_cmyk_luma(expected_full, 0).tobytes()


def test_jpeg_cmyk_variant_and_corruption_edges():
    import numpy as np

    from jpeg_ref import encode_cmyk

    planes = [np.full((8, 8), 99, np.uint8)] * 4
    data = bytearray(encode_cmyk(planes, 8, 8, transform=0))
    # progressive 4-component: honest variant boundary
    i = data.index(b"\xff\xc0")
    prog = bytearray(data)
    prog[i + 1] = 0xC2
    with pytest.raises(NotImplementedError, match="progressive 4-component"):
        mm.decode_media(bytes(prog))
    # APP14 transform=1 (YCbCr) is undefined for 4 components: corrupt
    j = data.index(b"Adobe")
    bad = bytearray(data)
    bad[j + 11] = 1
    with pytest.raises(ValueError, match="APP14 transform"):
        mm.decode_media(bytes(bad))


def test_jpeg_multiscan_sequential_round_trip():
    """Per-component-scan sequential JPEG (T.81 A.2 non-interleaved —
    the shape some encoders emit for 4:2:0) must decode identically to
    the interleaved encoding of the same planes, including restart
    intervals and Huffman tables deferred to BETWEEN scans (legal per
    T.81, exercises inter-scan DHT handling). Closes the last
    nontrivial-frequency JPEG variant boundary (VERDICT r10 item 6)."""
    import numpy as np

    from jpeg_ref import encode, encode_multiscan

    rng = np.random.default_rng(42)
    y = rng.integers(0, 256, (17, 23), np.uint8)
    assert mm.decode_media(encode_multiscan(y)) == mm.decode_media(encode(y))
    for hh, ww in [(16, 16), (17, 23), (40, 56), (8, 8)]:
        y = rng.integers(0, 256, (hh, ww), np.uint8)
        cbs = (-(-hh // 16) * 8, -(-ww // 16) * 8)
        cb = rng.integers(0, 256, cbs, np.uint8)
        cr = rng.integers(0, 256, cbs, np.uint8)
        base = mm.decode_media(encode(y, cb, cr))
        assert mm.decode_media(encode_multiscan(y, cb, cr)) == base, (hh, ww)
        assert (
            mm.decode_media(
                encode_multiscan(y, cb, cr, restart=3, tables_between=True)
            )
            == base
        ), (hh, ww, "restart + deferred tables")


def test_jpeg_multiscan_error_contract():
    """Truncating a multi-scan stream before all kept components have
    scanned is corrupt data (ValueError), and a partially-interleaved
    subset scan (1 < ns < nc) stays an honest NotImplementedError."""
    import numpy as np

    from jpeg_ref import encode_multiscan

    rng = np.random.default_rng(7)
    y = rng.integers(0, 256, (16, 16), np.uint8)
    cb = rng.integers(0, 256, (8, 8), np.uint8)
    cr = rng.integers(0, 256, (8, 8), np.uint8)
    full = encode_multiscan(y, cb, cr)
    # cut before the luma scan completes -> missing kept component
    first_sos = full.find(b"\xff\xda")
    with pytest.raises(ValueError):
        mm.decode_media(full[: first_sos + 8] + b"\xff\xd9")
    # rewrite the first SOS to a 2-component subset scan: ns=2 header
    # referencing comps 1 and 2 (partially interleaved)
    ln = int.from_bytes(full[first_sos + 2 : first_sos + 4], "big")
    subset_sos = b"\xff\xda" + (2 + 1 + 4 + 3).to_bytes(2, "big") + bytes(
        (2, 1, 0x00, 2, 0x11, 0, 63, 0)
    )
    hacked = full[:first_sos] + subset_sos + full[first_sos + 2 + ln :]
    with pytest.raises(NotImplementedError, match="interleaved"):
        mm.decode_media(hacked)


def test_jpeg_sequential_zrl_past_block_end_is_corrupt():
    """Sequential-baseline twin of the progressive ZRL check (ADVICE
    r10): four ZRL symbols advance k from 1 past 64, which previously
    fell out of the block loop silently — must raise the corrupt-
    stream ValueError. Hand-built 8x8 single-component stream whose
    AC Huffman table holds ONLY the ZRL symbol (canonical code '0');
    entropy bits = DC '0' (diff 0) + four ZRL '0's, padded with 1s."""

    def seg(marker, body):
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    dqt = seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    sof = seg(0xC0, bytes([8, 0, 8, 0, 8, 1, 1, 0x11, 0]))
    dht_dc = seg(0xC4, bytes([0x00, 1] + [0] * 15 + [0x00]))
    dht_ac = seg(0xC4, bytes([0x10, 1] + [0] * 15 + [0xF0]))
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0x00])) + b"\x07"
    data = b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + sos + b"\xff\xd9"
    with pytest.raises(ValueError, match="block end"):
        mm.decode_media(data)
    # Guard is not over-eager: a normal encoder round-trip (which emits
    # in-band ZRLs on sparse blocks) still decodes.
    import numpy as np

    from jpeg_ref import encode

    img = np.zeros((16, 16), np.uint8)
    img[0, 15] = 255  # sparse high-frequency content -> ZRL emission
    assert mm.decode_media(encode(img))[0] == "image"


def test_jpeg_progressive_zrl_past_band_end_is_corrupt():
    """An AC-first ZRL that advances past Se+1 is the same corrupt-
    stream class as a coefficient run past the band end and must raise
    the SAME ValueError — it previously exited the block loop silently,
    half-accepting a spec-invalid stream (ADVICE r9). Hand-built
    stream: one 8x8 component, DC scan, then an AC-first scan whose
    entropy data is four ZRL symbols (64 zeros from k=1 -> k=65 > 64).
    The AC Huffman table holds ONLY the ZRL symbol (canonical code '0')
    so the bitstream is unambiguous."""

    def seg(marker, body):
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    dqt = seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    sof = seg(0xC2, bytes([8, 0, 8, 0, 8, 1, 1, 0x11, 0]))
    # one code of length 1 in each table: DC symbol 0x00, AC symbol 0xF0
    dht_dc = seg(0xC4, bytes([0x00, 1] + [0] * 15 + [0x00]))
    dht_ac = seg(0xC4, bytes([0x10, 1] + [0] * 15 + [0xF0]))
    sos_dc = seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x00])) + b"\x7f"  # diff=0, pad 1s
    sos_ac = seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x00])) + b"\x0f"  # ZRL x4
    data = b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + sos_dc + sos_ac + b"\xff\xd9"
    with pytest.raises(ValueError, match="band end"):
        mm.decode_media(data)
    # Control: the same stream with THREE ZRLs (k -> 49) then an EOB-
    # run symbol is spec-questionable but in-band; it must not trip the
    # band-end check (the guard fires only past Se+1). Three ZRL bits
    # 000 then... the only AC symbol is ZRL, so instead assert the
    # corrupt stream above is the raising case and a normal encoder
    # round-trip still decodes (guard is not over-eager).
    import numpy as np

    from jpeg_ref import encode, encode_progressive

    img = np.random.default_rng(77).integers(0, 256, (16, 16), np.uint8)
    assert mm.decode_media(encode_progressive(img)) == mm.decode_media(encode(img))


def test_jpeg_progressive_truncation_always_valueerror():
    # Chopping a progressive stream anywhere must raise ValueError —
    # never a silent partial answer, never a non-contract exception.
    import numpy as np

    from jpeg_ref import encode_progressive

    rng = np.random.default_rng(22)
    full = encode_progressive(rng.integers(0, 256, (14, 20), np.uint8))
    # Every cut: the scan boundaries (e.g. 153, 225, 587, 685 here)
    # are where a decoder that stops at end of data without EOI
    # returns the scans it has.
    for cut in range(20, len(full)):
        with pytest.raises(ValueError):
            mm.decode_media(full[:cut])


def test_real_png_adam7_matches_plain_decode():
    """Adam7-interlaced decode must equal the non-interlaced decode of
    the same raster — across sizes that exercise empty passes (1x1:
    six of seven passes empty; 3x3: several partial), channel counts,
    palette, and all five filters cycling over the sub-images."""
    import random

    rng = random.Random(97)
    for w, h, ch in [(1, 1, 1), (3, 3, 1), (8, 8, 3), (13, 5, 4), (5, 13, 2), (9, 10, 1)]:
        raster = bytes(rng.randrange(256) for _ in range(w * h * ch))
        plain = _png_bytes(w, h, ch, raster, filters=[0] * h)
        inter = _png_bytes(w, h, ch, raster, filters=[0, 1, 2, 3, 4], interlace=True)
        assert mm.decode_media(inter) == mm.decode_media(plain), (w, h, ch)
    # palette + Adam7 compose
    pal = bytes(rng.randrange(256) for _ in range(8 * 3))
    idx = bytes(rng.randrange(8) for _ in range(6 * 7))
    plain = _png_bytes(6, 7, 1, idx, filters=[0] * 7, palette=pal)
    inter = _png_bytes(6, 7, 1, idx, filters=[4, 3, 2, 1, 0], palette=pal, interlace=True)
    assert mm.decode_media(inter) == mm.decode_media(plain)


def test_real_png_adam7_truncation_is_corrupt():
    """Chopping the concatenated pass stream (or appending trailing
    bytes) must raise ValueError — the per-pass byte accounting is the
    corruption check."""
    import zlib as _z

    raster = bytes(range(8 * 8))
    good = _png_bytes(8, 8, 1, raster, filters=[0] * 8, interlace=True)
    # Rebuild with a truncated zlib payload: drop the last sub-image row.
    i = good.index(b"IDAT") - 4
    ln = int.from_bytes(good[i : i + 4], "big")
    body = good[i + 8 : i + 8 + ln]
    raw = _z.decompress(body)
    for bad_raw in (raw[:-9], raw + b"\x00" * 9):
        bad_body = _z.compress(bad_raw)
        rebuilt = (
            good[:i]
            + len(bad_body).to_bytes(4, "big")
            + b"IDAT"
            + bad_body
            + _z.crc32(b"IDAT" + bad_body).to_bytes(4, "big")
            + good[i + 12 + ln :]
        )
        with pytest.raises(ValueError, match="size mismatch"):
            mm.decode_media(rebuilt)


def test_real_png_16bit_gray_takes_high_byte():
    """16-bit decode contract: the payload is the high byte — exact
    for the spec's v*257 upscale of an 8-bit source. Filters run
    bytewise at the 2-byte neighbour offset, so a Sub-filtered 16-bit
    row discriminates any channel-offset confusion."""
    import random
    import struct

    rng = random.Random(113)
    vals8 = [rng.randrange(256) for _ in range(4 * 5)]
    raster16 = b"".join(struct.pack(">H", v * 257) for v in vals8)
    data = _png_bytes(4, 5, 1, raster16, filters=[0, 1, 2, 3, 4], bitdepth=16)
    kind, w, h, _, _, payload = mm.decode_media(data)
    assert (kind, w, h) == ("image", 4, 5)
    assert payload == bytes(vals8)


def test_real_png_16bit_rgb_and_adam7():
    import random
    import struct

    rng = random.Random(127)
    vals8 = [rng.randrange(256) for _ in range(3 * 3 * 3)]
    raster16 = b"".join(struct.pack(">H", v * 257) for v in vals8)
    raster8 = bytes(vals8)
    plain16 = _png_bytes(3, 3, 3, raster16, filters=[1, 4, 2], bitdepth=16)
    plain8 = _png_bytes(3, 3, 3, raster8, filters=[0, 0, 0])
    assert mm.decode_media(plain16) == mm.decode_media(plain8)
    inter16 = _png_bytes(3, 3, 3, raster16, filters=[0, 1, 2, 3, 4],
                         bitdepth=16, interlace=True)
    assert mm.decode_media(inter16) == mm.decode_media(plain8)


def test_real_png_16bit_palette_is_corrupt():
    import struct
    import zlib

    def chunk(typ, body):
        return (
            struct.pack(">I", len(body)) + typ + body
            + struct.pack(">I", zlib.crc32(typ + body))
        )

    ihdr = struct.pack(">IIBBBBB", 2, 1, 16, 3, 0, 0, 0)
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"PLTE", bytes(6))
           + chunk(b"IDAT", zlib.compress(b"\x00" * 5))
           + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="16-bit palette"):
        mm.decode_media(png)
