"""Real image codec tests: stdlib PPM/PGM/PNG round-trips (all five
PNG scanline filters, all three supported color types), magic-byte
dispatch, the honest NotImplementedError seam, and the distributed
render→decode path (operators/multimodal.py) against locally computed
ground truth."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from ctgov_ai_etl_spark.functions.imagecodec import (
    decode_image_bytes,
    decode_png,
    decode_ppm,
    encode_pgm,
    encode_png,
    encode_ppm,
)

CH = {0: 1, 2: 3, 6: 4}


def test_ppm_pgm_roundtrip():
    rng = random.Random(11)
    for _ in range(8):
        w, h = rng.randint(1, 25), rng.randint(1, 25)
        px = bytes(rng.randrange(256) for _ in range(w * h * 3))
        assert decode_ppm(encode_ppm(w, h, px)) == (w, h, sum(px), w * h * 3)
        g = bytes(rng.randrange(256) for _ in range(w * h))
        assert decode_ppm(encode_pgm(w, h, g)) == (w, h, sum(g), w * h)


def test_ppm_header_comment_and_truncation():
    px = bytes(range(12))
    blob = b"P6\n# a comment\n2 2\n255\n" + px
    assert decode_ppm(blob) == (2, 2, sum(px), 12)
    with pytest.raises(ValueError, match="truncated"):
        decode_ppm(b"P6\n2 2\n255\n" + px[:-1])
    with pytest.raises(ValueError, match="maxval"):
        decode_ppm(b"P6\n1 1\n65535\n" + bytes(6))


@pytest.mark.parametrize("color_type", [0, 2, 6])
@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_roundtrip_every_filter_and_colortype(color_type, ftype):
    rng = random.Random(100 * color_type + ftype)
    w, h = rng.randint(1, 19), rng.randint(2, 15)
    px = bytes(rng.randrange(256) for _ in range(w * h * CH[color_type]))
    blob = encode_png(w, h, px, color_type, lambda y: ftype)
    W, H, s, n = decode_png(blob)
    if color_type == 6:  # alpha excluded from luma
        exp_s = sum(b for i, b in enumerate(px) if i % 4 != 3)
        exp_n = w * h * 3
    else:
        exp_s, exp_n = sum(px), w * h * CH[color_type]
    assert (W, H, s, n) == (w, h, exp_s, exp_n)


def test_png_mixed_filters_per_row():
    rng = random.Random(42)
    w, h = 13, 10
    px = bytes(rng.randrange(256) for _ in range(w * h * 3))
    blob = encode_png(w, h, px, 2, lambda y: y % 5)
    assert decode_png(blob) == (w, h, sum(px), w * h * 3)


def test_dispatch_and_honest_seam():
    px = bytes(range(6))
    w, h, luma = decode_image_bytes(encode_ppm(1, 2, px))
    assert (w, h) == (1, 2)
    assert luma == round(sum(px) / 6 / 255.0, 6)
    png = encode_png(2, 1, bytes([10, 250]), 0)
    assert decode_image_bytes(png)[:2] == (2, 1)
    # JPEG magic now routes to the real baseline decoder (round 10):
    # a malformed payload raises the codec's own error, not the seam
    from ctgov_ai_etl_spark.functions.jpegcodec import JpegError

    with pytest.raises(JpegError):
        decode_image_bytes(b"\xff\xd8\xff\xe0JFIF-ish")
    # GIF and BMP magic route to their real decoders too (round 11):
    # malformed payloads raise the codecs' own errors, not the seam
    from ctgov_ai_etl_spark.functions.gifcodec import GifError

    with pytest.raises(GifError):
        decode_image_bytes(b"GIF89a\x00\x00")
    with pytest.raises(ValueError):
        decode_image_bytes(b"BMtiny")
    # the honest NotImplementedError seam remains for formats with no
    # pure-Python codec (e.g. WebP)
    with pytest.raises(NotImplementedError):
        decode_image_bytes(b"RIFF\x00\x00\x00\x00WEBPVP8 ")


def test_render_decode_distributed(spark):
    """The Spark path: synthesize real PPM/PNG blobs from text, decode
    with the real codecs, compare width/height/luma to a local replay
    of the md5-derived geometry."""
    import hashlib

    from ctgov_ai_etl_spark.operators.multimodal import (
        decode_image_real,
        render_test_images,
    )

    rows = [(i, f"document body {i} {'x' * (i % 7)}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in decode_image_real(
            render_test_images(df, "doc_id"), "doc_id"
        ).collect()
    }
    assert len(out) == 40
    for rid, text in rows:
        dig = hashlib.md5(text.encode()).digest()
        w, h, v = 1 + dig[0] % 16, 1 + dig[1] % 16, dig[2]
        n = w * h * (3 if rid % 2 == 0 else 1)
        exp_sum = sum((v + j) % 256 for j in range(n))
        r = out[rid]
        assert (r["width"], r["height"]) == (w, h), rid
        assert (r["luma_sum"], r["n_samples"]) == (exp_sum, n), rid
        assert r["fmt"] == ("ppm" if rid % 2 == 0 else "png")


def test_decode_real_unsupported_format_raises(spark):
    from ctgov_ai_etl_spark.operators.multimodal import decode_image_real

    # JPEG/GIF magic now reaches the real decoders (their own
    # malformed-input errors); the executor-side honest seam fires
    # for formats with no pure-Python codec at all (e.g. WebP)
    df = spark.createDataFrame(
        [(1, bytearray(b"RIFF\x00\x00\x00\x00WEBPVP8 "))],
        "doc_id long, blob binary",
    )
    with pytest.raises(Exception, match="no pure-Python codec"):
        decode_image_real(df, "doc_id").collect()
    dfg = spark.createDataFrame(
        [(1, bytearray(b"GIF89a-not-an-image"))],
        "doc_id long, blob binary",
    )
    with pytest.raises(Exception, match="unknown block|GifError"):
        decode_image_real(dfg, "doc_id").collect()
    df2 = spark.createDataFrame(
        [(1, bytearray(b"\xff\xd8\xffnot-an-image"))],
        "doc_id long, blob binary",
    )
    with pytest.raises(Exception, match="marker"):
        decode_image_real(df2, "doc_id").collect()


def test_png_malformed_inputs():
    import struct
    import zlib

    from ctgov_ai_etl_spark.functions.imagecodec import _chunk

    sig = b"\x89PNG\r\n\x1a\n"
    ihdr8 = struct.pack(">IIBBBBB", 2, 1, 8, 0, 0, 0, 0)

    with pytest.raises(ValueError, match="signature"):
        decode_png(b"not a png at all")
    with pytest.raises(ValueError, match="missing IHDR"):
        decode_png(sig + _chunk(b"IEND", b""))
    # illegal depth/type combination (16-bit palette is spec-illegal)
    ihdr16p = struct.pack(">IIBBBBB", 2, 1, 16, 3, 0, 0, 0)
    with pytest.raises(ValueError, match="illegal bit depth"):
        decode_png(sig + _chunk(b"IHDR", ihdr16p) + _chunk(b"IEND", b""))
    # palette image without a PLTE chunk
    ihdr_pal = struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0)
    with pytest.raises(ValueError, match="PLTE"):
        decode_png(sig + _chunk(b"IHDR", ihdr_pal) + _chunk(b"IEND", b""))
    # truncated IDAT -> decompressed size mismatch (or zlib error)
    good_raw = bytes([0, 10, 20])  # filter0 + 2 px
    idat = zlib.compress(good_raw[:-1])
    with pytest.raises(Exception):
        decode_png(sig + _chunk(b"IHDR", ihdr8) + _chunk(b"IDAT", idat)
                   + _chunk(b"IEND", b""))
    # bad filter byte
    bad = zlib.compress(bytes([7, 10, 20]))
    with pytest.raises(ValueError, match="filter"):
        decode_png(sig + _chunk(b"IHDR", ihdr8) + _chunk(b"IDAT", bad)
                   + _chunk(b"IEND", b""))
    # the happy path next to them, for contrast
    ok = zlib.compress(good_raw)
    assert decode_png(
        sig + _chunk(b"IHDR", ihdr8) + _chunk(b"IDAT", ok)
        + _chunk(b"IEND", b"")
    ) == (2, 1, 30, 2)


def test_png_multi_idat_chunks():
    import struct
    import zlib

    from ctgov_ai_etl_spark.functions.imagecodec import _chunk

    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    raw = bytes([0, 1, 2, 0, 3, 4])
    z = zlib.compress(raw)
    half = len(z) // 2
    blob = (
        sig + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", z[:half])
        + _chunk(b"IDAT", z[half:]) + _chunk(b"IEND", b"")
    )
    assert decode_png(blob) == (2, 2, 10, 4)


# --------------------------- hypothesis property tests (pure python)

try:
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        w=st.integers(1, 12),
        h=st.integers(1, 12),
        ct=st.sampled_from([0, 2, 6]),
        data=st.data(),
    )
    def test_png_roundtrip_property(w, h, ct, data):
        px = bytes(
            data.draw(
                st.lists(
                    st.integers(0, 255),
                    min_size=w * h * CH[ct],
                    max_size=w * h * CH[ct],
                )
            )
        )
        filters = data.draw(
            st.lists(st.integers(0, 4), min_size=h, max_size=h)
        )
        blob = encode_png(w, h, px, ct, lambda y: filters[y])
        W_, H_, s, n = decode_png(blob)
        if ct == 6:
            exp_s = sum(b for i, b in enumerate(px) if i % 4 != 3)
            exp_n = w * h * 3
        else:
            exp_s, exp_n = sum(px), w * h * CH[ct]
        assert (W_, H_, s, n) == (w, h, exp_s, exp_n)

    @settings(max_examples=40, deadline=None)
    @given(w=st.integers(1, 20), h=st.integers(1, 20), data=st.data())
    def test_ppm_roundtrip_property(w, h, data):
        px = bytes(
            data.draw(
                st.lists(
                    st.integers(0, 255), min_size=w * h * 3, max_size=w * h * 3
                )
            )
        )
        assert decode_ppm(encode_ppm(w, h, px)) == (w, h, sum(px), w * h * 3)

    @settings(max_examples=50, deadline=None)
    @given(
        w=st.integers(1, 16),
        h=st.integers(1, 16),
        ch=st.sampled_from([1, 3]),
        factor=st.integers(1, 4),
        data=st.data(),
    )
    def test_resize_nearest_property(w, h, ch, factor, data):
        from ctgov_ai_etl_spark.functions.imagecodec import resize_nearest

        px = bytes(
            data.draw(
                st.lists(
                    st.integers(0, 255),
                    min_size=w * h * ch,
                    max_size=w * h * ch,
                )
            )
        )
        wo, ho, out = resize_nearest(w, h, ch, px, factor)
        # ceil dims; every output pixel equals its stride-sampled source
        assert wo == (w + factor - 1) // factor
        assert ho == (h + factor - 1) // factor
        assert len(out) == wo * ho * ch
        for r in range(ho):
            for c in range(wo):
                src_base = (r * factor * w + c * factor) * ch
                dst_base = (r * wo + c) * ch
                assert (
                    out[dst_base : dst_base + ch]
                    == px[src_base : src_base + ch]
                )

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.sampled_from([2, 4, 8]),
        h=st.sampled_from([2, 4, 6]),
        nf=st.integers(1, 8),
        every_n=st.integers(1, 4),
        data=st.data(),
    )
    def test_y4m_frame_walk_property(w, h, nf, every_n, data):
        from ctgov_ai_etl_spark.functions.imagecodec import (
            decode_y4m_frames,
            encode_y4m,
        )

        frames = [
            bytes(
                data.draw(
                    st.lists(
                        st.integers(0, 255),
                        min_size=w * h,
                        max_size=w * h,
                    )
                )
            )
            for _ in range(nf)
        ]
        W_, H_, sums = decode_y4m_frames(encode_y4m(w, h, frames))
        assert (W_, H_) == (w, h)
        assert sums == [sum(f) for f in frames]
        # the decimated view any frame sampler derives
        assert sums[::every_n] == [
            sum(frames[i]) for i in range(0, nf, every_n)
        ]

    @settings(max_examples=40, deadline=None)
    @given(
        ch=st.sampled_from([1, 2]),
        nf=st.integers(1, 40),
        every_n=st.integers(1, 4),
        data=st.data(),
    )
    def test_wav_samples_decimation_property(ch, nf, every_n, data):
        import struct as _st

        from ctgov_ai_etl_spark.functions.imagecodec import (
            decode_wav_samples,
            encode_wav,
        )

        vals = data.draw(
            st.lists(
                st.integers(-32768, 32767),
                min_size=nf * ch,
                max_size=nf * ch,
            )
        )
        blob = encode_wav(8000, ch, _st.pack(f"<{nf * ch}h", *vals))
        ch_, rate, got = decode_wav_samples(blob)
        assert (ch_, rate) == (ch, 8000)
        assert list(got) == vals
        # frame-stride decimation over the raw samples
        kept = [
            abs(vals[f * ch + c])
            for f in range(0, nf, every_n)
            for c in range(ch)
        ]
        assert sum(kept) == sum(
            abs(v)
            for f in range(0, nf, every_n)
            for v in (vals[f * ch : f * ch + ch])
        )

    @settings(max_examples=50, deadline=None)
    @given(
        w=st.integers(1, 16),
        h=st.integers(1, 16),
        ch=st.sampled_from([1, 3]),
        data=st.data(),
    )
    def test_dhash_property(w, h, ch, data):
        from ctgov_ai_etl_spark.functions.imagecodec import (
            dhash_bits,
            resize_nearest_to,
        )

        px = bytes(
            data.draw(
                st.lists(
                    st.integers(0, 255),
                    min_size=w * h * ch,
                    max_size=w * h * ch,
                )
            )
        )
        hi, lo = dhash_bits(w, h, ch, px)
        assert 0 <= hi < 1 << 32 and 0 <= lo < 1 << 32
        # brute replay straight off the floor index map
        exp_hi = exp_lo = 0
        for r in range(8):
            for c in range(8):
                a = px[((r * h // 8) * w + (c * w // 9)) * ch]
                b = px[((r * h // 8) * w + ((c + 1) * w // 9)) * ch]
                if a > b:
                    k = r * 8 + c
                    if k < 32:
                        exp_hi |= 1 << k
                    else:
                        exp_lo |= 1 << (k - 32)
        assert (hi, lo) == (exp_hi, exp_lo)
        # hash is resize-stable: upscaling by 2 (exact pixel doubling)
        # keeps every grid sample on the same source pixel only when
        # the index map commutes — check the 9x8 grid directly instead
        g1 = resize_nearest_to(w, h, ch, px, 9, 8)
        assert len(g1) == 72 * ch

except ImportError:  # pragma: no cover - hypothesis is in the image
    pass


def test_wav_roundtrip_and_malformed():
    import struct
    import random

    from ctgov_ai_etl_spark.functions.imagecodec import decode_wav, encode_wav

    rng = random.Random(21)
    for ch in (1, 2):
        n = rng.randint(5, 200)
        vals = [rng.randint(-32768, 32767) for _ in range(n * ch)]
        pcm = struct.pack(f"<{len(vals)}h", *vals)
        assert decode_wav(encode_wav(44100, ch, pcm)) == (
            ch, 44100, n, sum(abs(v) for v in vals)
        )
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"not audio at all........")
    with pytest.raises(ValueError, match="missing fmt"):
        decode_wav(b"RIFF\x04\x00\x00\x00WAVE")
    # 8-bit PCM unsupported
    fmt8 = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    blob = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt8) + 8) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt8)) + fmt8
        + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(ValueError, match="PCM-16"):
        decode_wav(blob)


def test_wav_skips_unknown_chunks_and_pads_odd():
    import struct

    from ctgov_ai_etl_spark.functions.imagecodec import decode_wav

    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    pcm = struct.pack("<3h", 100, -200, 300)
    junk = b"junk" + struct.pack("<I", 3) + b"abc"  # odd size -> 1 pad byte
    body = (
        b"WAVE"
        + junk + b"\x00"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    blob = b"RIFF" + struct.pack("<I", len(body)) + body
    assert decode_wav(blob) == (1, 8000, 3, 600)


def test_y4m_roundtrip_and_malformed():
    import random

    from ctgov_ai_etl_spark.functions.imagecodec import decode_y4m, encode_y4m

    rng = random.Random(31)
    w, h = 6, 4
    frames = [
        bytes(rng.randrange(256) for _ in range(w * h)) for _ in range(3)
    ]
    assert decode_y4m(encode_y4m(w, h, frames)) == (
        w, h, 3, sum(sum(f) for f in frames)
    )
    with pytest.raises(ValueError, match="YUV4MPEG2"):
        decode_y4m(b"nope\nFRAME\n")
    with pytest.raises(ValueError, match="even"):
        encode_y4m(3, 4, [bytes(12)])
    # corrupt a FRAME marker -> desynchronization detected
    blob = bytearray(encode_y4m(w, h, frames))
    idx = blob.index(b"FRAME", 20)
    blob[idx] = ord("X")
    with pytest.raises(ValueError, match="FRAME"):
        decode_y4m(bytes(blob))
    # truncation anywhere is detected (as a short plane or a broken
    # FRAME marker, depending on where the cut lands)
    with pytest.raises(ValueError, match="truncated|FRAME"):
        decode_y4m(bytes(encode_y4m(w, h, frames))[:-40])
    with pytest.raises(ValueError, match="truncated|FRAME"):
        decode_y4m(bytes(encode_y4m(w, h, frames))[:-5])


def test_pixel_decoders_and_resize():
    from ctgov_ai_etl_spark.functions.imagecodec import (
        decode_image_pixels,
        decode_png_pixels,
        decode_ppm_pixels,
        resize_nearest,
    )

    # PPM pixels round-trip
    w, h = 5, 3
    raster = bytes((7 + j) % 256 for j in range(w * h * 3))
    assert decode_ppm_pixels(encode_ppm(w, h, raster)) == (w, h, 3, raster)

    # PNG pixels round-trip through every filter type
    w2, h2 = 7, 6
    ras2 = bytes((13 + j) % 256 for j in range(w2 * h2))
    png = encode_png(w2, h2, ras2, color_type=0, filter_per_row=lambda y: y % 5)
    assert decode_png_pixels(png) == (w2, h2, 1, ras2)
    assert decode_image_pixels(png) == (w2, h2, 1, ras2)

    # RGBA: alpha dropped from the pixel raster
    ras4 = bytes((j * 3) % 256 for j in range(4 * 2 * 4))
    png4 = encode_png(4, 2, ras4, color_type=6)
    w4, h4, ch4, out4 = decode_png_pixels(png4)
    assert (w4, h4, ch4) == (4, 2, 3)
    exp4 = bytes(
        b for i, b in enumerate(ras4) if i % 4 != 3
    )
    assert out4 == exp4

    # nearest-neighbor resize: stride-2 sampling, ceil dims
    wo, ho, out = resize_nearest(w, h, 3, raster, 2)
    assert (wo, ho) == (3, 2)
    exp = bytearray()
    for r in (0, 2):
        for c in (0, 2, 4):
            b0 = (r * w + c) * 3
            exp += raster[b0 : b0 + 3]
    assert out == bytes(exp)
    assert resize_nearest(1, 1, 1, b"\x05", 2) == (1, 1, b"\x05")
    assert resize_nearest(w, h, 3, raster, 1) == (w, h, raster)
    with pytest.raises(ValueError, match="factor"):
        resize_nearest(w, h, 3, raster, 0)


def test_y4m_per_frame_sums():
    from ctgov_ai_etl_spark.functions.imagecodec import (
        decode_y4m_frames,
        encode_y4m,
    )

    w, h = 4, 2
    frames = [bytes((i * 17 + j) % 256 for j in range(w * h)) for i in range(5)]
    blob = encode_y4m(w, h, frames)
    assert decode_y4m_frames(blob) == (w, h, [sum(f) for f in frames])
    # the per-frame walk detects the same desync as the stream walk
    bad = bytearray(blob)
    bad[bad.index(b"FRAME", 20)] = ord("X")
    with pytest.raises(ValueError, match="FRAME"):
        decode_y4m_frames(bytes(bad))


# ----------------------- full-spec PNG matrix (round 13)


def test_png_16bit_and_interlace_roundtrip():
    """16-bit samples decimate to the high byte; Adam7 passes place
    every pixel exactly once — round-trip through the encoder for
    grey/RGB/RGBA at depths 8/16, interlaced and not."""
    import random

    from ctgov_ai_etl_spark.functions.imagecodec import (
        decode_png_pixels,
        encode_png,
    )

    rng = random.Random(99)
    for ct, ch in ((0, 1), (2, 3), (6, 4), (4, 2)):
        cch = 1 if ct in (0, 4) else 3
        for depth in (8, 16):
            for interlace in (False, True):
                w = rng.randrange(1, 13)
                h = rng.randrange(1, 13)
                sb = depth // 8
                pix = bytes(
                    rng.randrange(256) for _ in range(w * h * ch * sb)
                )
                g = encode_png(
                    w, h, pix, ct,
                    filter_per_row=lambda y: y % 5,
                    interlace=interlace, bit_depth=depth,
                )
                W, H, CH, r = decode_png_pixels(g)
                assert (W, H, CH) == (w, h, cch)
                want = bytearray()
                for p in range(w * h):
                    base = p * ch * sb
                    for k in range(cch):
                        want.append(pix[base + k * sb])  # hi byte at 16
                assert r == bytes(want), (ct, depth, interlace, w, h)


def test_png_palette_roundtrip_and_subbyte_grey():
    """Palette images resolve indices through PLTE; sub-byte greys
    (1/2/4-bit, MSB-first bit packing, per-row byte padding) scale by
    255/(2^d - 1) — hand-built filtered streams, since the encoder
    writes depth 8/16 only."""
    import random
    import struct
    import zlib

    from ctgov_ai_etl_spark.functions.imagecodec import (
        _PNG_SIG,
        _chunk,
        decode_png_pixels,
        encode_png,
    )

    rng = random.Random(7)
    pal = [
        (rng.randrange(256), rng.randrange(256), rng.randrange(256))
        for _ in range(32)
    ]
    for interlace in (False, True):
        w, h = 11, 6
        idx = bytes(rng.randrange(32) for _ in range(w * h))
        g = encode_png(
            w, h, idx, palette=pal, interlace=interlace,
            filter_per_row=lambda y: (y + 1) % 5,
        )
        W, H, CH, r = decode_png_pixels(g)
        assert (W, H, CH) == (w, h, 3)
        assert r == b"".join(bytes(pal[i]) for i in idx)
    # sub-byte grey: depth-2, 5 px/row -> 10 bits -> 2 bytes + pad
    for depth, vals in ((1, [1, 0, 1, 1, 0]), (2, [0, 1, 2, 3, 2]),
                        (4, [0, 5, 10, 15, 7])):
        w, h = 5, 3
        per_byte = 8 // depth
        rows = bytearray()
        for y in range(h):
            rows.append(0)  # filter None
            acc, nb, line = 0, 0, bytearray()
            for x in range(w):
                v = vals[(x + y) % 5]
                acc = (acc << depth) | v
                nb += depth
                if nb == 8:
                    line.append(acc)
                    acc, nb = 0, 0
            if nb:
                line.append(acc << (8 - nb))
            rows += line
        ihdr = struct.pack(">IIBBBBB", w, h, depth, 0, 0, 0, 0)
        g = (_PNG_SIG + _chunk(b"IHDR", ihdr)
             + _chunk(b"IDAT", zlib.compress(bytes(rows)))
             + _chunk(b"IEND", b""))
        W, H, CH, r = decode_png_pixels(g)
        maxv = (1 << depth) - 1
        want = bytes(
            vals[(x + y) % 5] * 255 // maxv
            for y in range(h) for x in range(w)
        )
        assert (W, H, CH) == (w, h, 1) and r == want, depth


def test_png_subbyte_palette_with_sub_filter():
    """Depth-4 palette rows filter at byte distance 1 (bpp floor),
    exercising the Sub predictor across packed index pairs."""
    import struct
    import zlib

    from ctgov_ai_etl_spark.functions.imagecodec import (
        _PNG_SIG,
        _chunk,
        decode_png_pixels,
    )

    pal = [(i * 16, 255 - i * 16, i) for i in range(16)]
    w, h = 4, 2
    idx_rows = [[1, 2, 3, 4], [5, 6, 7, 8]]
    packed = [bytes([(r[0] << 4) | r[1], (r[2] << 4) | r[3]])
              for r in idx_rows]
    rows = bytearray()
    for pr in packed:
        rows.append(1)  # Sub filter
        rows.append(pr[0])
        rows.append((pr[1] - pr[0]) & 0xFF)
    ihdr = struct.pack(">IIBBBBB", w, h, 4, 3, 0, 0, 0)
    plte = b"".join(bytes(c) for c in pal)
    g = (_PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"PLTE", plte)
         + _chunk(b"IDAT", zlib.compress(bytes(rows)))
         + _chunk(b"IEND", b""))
    W, H, CH, r = decode_png_pixels(g)
    want = b"".join(bytes(pal[i]) for row in idx_rows for i in row)
    assert (W, H, CH) == (w, h, 3) and r == want


# --- every kernel's declared output schema --------------------------------
# (kernel, the kernel that feeds it or None for the text frame, the
# exact schema).  Exact types, not type families: the oracle harness
# treats int and long as one family, so a Python stage that widened a
# column would still pass every oracle.
KERNEL_SCHEMAS = [
    ("render_test_images", None, "struct<doc_id:bigint,fmt:string,blob:binary>"),
    ("render_png_matrix", None, "struct<doc_id:bigint,variant:int,blob:binary>"),
    ("render_test_jpegs", None, "struct<doc_id:bigint,rst:int,blob:binary>"),
    ("render_test_jpegs_progressive", None, "struct<doc_id:bigint,rst:int,blob:binary>"),
    ("render_test_audio", None, "struct<doc_id:bigint,blob:binary>"),
    ("render_test_video", None, "struct<doc_id:bigint,blob:binary>"),
    ("render_and_decode_test_gifs", None, "struct<doc_id:bigint,width:int,height:int,n_frames:int,luma0_sum:bigint,luma_last_sum:bigint,n_samples:bigint>"),
    ("render_test_bmps", None, "struct<doc_id:bigint,blob:binary>"),
    ("render_test_mp3", None, "struct<doc_id:bigint,blob:binary>"),
    ("render_test_warc", None, "struct<doc_id:bigint,blob:binary>"),
    ("render_test_h264", None, "struct<doc_id:bigint,blob:binary>"),
    ("render_test_mp4", None, "struct<doc_id:bigint,blob:binary>"),
    ("render_test_wav", None, "struct<doc_id:bigint,blob:binary>"),
    ("render_test_pdf", None, "struct<doc_id:bigint,blob:binary>"),
    ("render_test_tar", None, "struct<doc_id:bigint,blob:binary>"),
    ("render_test_warcgz", None, "struct<doc_id:bigint,blob:binary>"),
    ("render_test_zip", None, "struct<doc_id:bigint,blob:binary>"),
    ("decode_image_real", "render_test_images", "struct<doc_id:bigint,fmt:string,width:int,height:int,luma_sum:bigint,n_samples:bigint>"),
    ("decode_image_features", "attach_blob", "struct<doc_id:bigint,width:int,height:int,mean_luma:double>"),
    ("frame_sample", "attach_blob", "struct<doc_id:bigint,frame_idx:int,frame_sig:string>"),
    ("decode_audio_real", "render_test_audio", "struct<doc_id:bigint,channels:int,sample_rate:int,n_frames:int,abs_sum:bigint>"),
    ("audio_features_real", "render_test_audio", "struct<doc_id:bigint,channel:int,n_frames:int,zcr:bigint,sq_sum:bigint>"),
    ("decode_video_real", "render_test_video", "struct<doc_id:bigint,width:int,height:int,n_frames:int,luma_sum:bigint>"),
    ("resize_image_real", "render_png_matrix", "struct<doc_id:bigint,variant:int,width_out:int,height_out:int,luma_sum:bigint,n_samples:bigint>"),
    ("sample_video_frames_real", "render_test_video", "struct<doc_id:bigint,frame_idx:int,width:int,height:int,luma_sum:bigint>"),
    ("downsample_audio_real", "render_test_audio", "struct<doc_id:bigint,channels:int,sample_rate_out:int,n_frames_out:int,abs_sum:bigint>"),
    ("dhash_images_real", "render_test_images", "struct<doc_id:bigint,hash_hi:bigint,hash_lo:bigint>"),
    ("audio_dft8_real", "render_test_audio", "struct<doc_id:bigint,channel:int,bin:int,energy:bigint>"),
    ("mp3_meta_real", "render_test_mp3", "struct<doc_id:bigint,id3_bytes:int,n_frames:int,bitrate_kbps:int,sample_rate:int,total_bytes:int,n_padded:int,duration_us:bigint>"),
    ("warc_records_real", "render_test_warc", "struct<doc_id:bigint,rec_idx:int,offset:int,warc_type:string,target_uri:string,http_status:int,content_length:int>"),
    ("h264_meta_real", "render_test_h264", "struct<doc_id:bigint,profile_idc:int,level_idc:int,width:int,height:int,n_nals:int,n_idr:int,n_non_idr:int>"),
    ("mp4_meta_real", "render_test_mp4", "struct<doc_id:bigint,n_boxes:int,n_traks:int,box_version:int,movie_timescale:int,movie_duration_ms:bigint,width:int,height:int,media_lang:string,mdat_bytes:bigint,mdat_large:int,total_bytes:bigint>"),
    ("wav_meta_real", "render_test_wav", "struct<doc_id:bigint,n_chunks:int,channels:int,sample_rate:int,bits_per_sample:int,block_align:int,byte_rate:int,n_samples:bigint,data_bytes:bigint,duration_us:bigint,total_bytes:bigint>"),
    ("pdf_meta_real", "render_test_pdf", "struct<doc_id:bigint,pdf_version:string,n_objects:int,n_pages:int,media_w:int,media_h:int,total_content_bytes:bigint,xref_offset:bigint,total_bytes:bigint>"),
    ("warc_response_texts", "render_test_warc", "struct<doc_id:bigint,rec_idx:int,body:string>"),
    ("tar_members_real", "render_test_tar", "struct<doc_id:bigint,member_idx:int,name:string,size:int,offset:int>"),
    ("wds_samples_real", "render_test_tar", "struct<doc_id:bigint,sample_id:string,n_parts:int,payload_bytes:int,txt_len:int,label:int>"),
    ("warcgz_records_real", "render_test_warcgz", "struct<doc_id:bigint,member_idx:int,warc_type:string,target_uri:string,http_status:int,content_length:int,record_bytes:int>"),
    ("zip_entries_real", "render_test_zip", "struct<doc_id:bigint,entry_idx:int,name:string,n_bytes:int,local_offset:int>"),
]


@pytest.mark.parametrize(
    "kernel,source,schema", KERNEL_SCHEMAS, ids=[k for k, _, _ in KERNEL_SCHEMAS]
)
def test_kernel_output_schema(spark, kernel, source, schema):
    from ctgov_ai_etl_spark.operators import multimodal as mm

    d = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    if source == "attach_blob":
        d = mm.attach_blob(d, "text")
    elif source is not None:
        d = getattr(mm, source)(d, "doc_id")
    assert getattr(mm, kernel)(d, "doc_id").schema.simpleString() == schema


def test_kernel_schema_table_covers_every_kernel():
    import inspect

    from ctgov_ai_etl_spark.operators import multimodal as mm

    kernels = {
        n for n, f in vars(mm).items()
        if inspect.isfunction(f) and f.__module__ == mm.__name__
        and not n.startswith("_") and n != "attach_blob"
    }
    assert kernels == {k for k, _, _ in KERNEL_SCHEMAS}
    assert len(KERNEL_SCHEMAS) == 39
