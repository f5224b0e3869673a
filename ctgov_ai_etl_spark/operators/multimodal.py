"""Multimodal columns: binary payloads with typed metadata
(SURVEY.md §2.3 'multimodal columns'; NS mandate).

Design: media travels as an opaque ``binary`` column plus a typed
metadata struct; every per-modality op (render, decode,
feature-extract, resize, frame-sample, container walk) is one
Arrow-batched ``mapInPandas`` stage built by :func:`_python_stage`, so
each task amortizes codec init and the bytes never round-trip through
Python row objects.  A kernel is its per-row function plus its output
DDL: the row function maps one (id, payload) pair to its output
tuples — one for a per-row kernel, any number for an exploding walk
(frames, records, members), so a multi-GB stream never materializes
as one row.  The choice of Python boundary (``mapInPandas`` today,
``mapInArrow`` or SQL fusion per kernel profile) therefore sits in
one place.  "No keyed shuffle" throughout this module means: the
codec path never hash-partitions (codec work has no key); the ONLY
exchange is the renderers' opt-in ``spread`` (below).

Five REAL image codecs back the seam in pure Python — netpbm (P5/P6),
PNG with all five scanline filters and BMP (``functions/imagecodec.py``),
baseline AND progressive JPEG with canonical Huffman, restart markers,
successive approximation, and the 8x8 IDCT (``functions/jpegcodec.py``),
and animated GIF with real LZW and interlacing
(``functions/gifcodec.py``) — dispatched by magic bytes in
``decode_image_real``; formats with no pure-Python decoder (H.264
slice data, MP3 PCM, AVIF ...) still raise ``NotImplementedError``
from the dispatcher, keeping the seam honest — but their METADATA
layers are parsed for real: MP3 frame headers + ID3v2
(``functions/mp3meta.py``), H.264 Annex-B NAL walk + Exp-Golomb SPS
(``functions/h264meta.py``), and WARC/1.0 record framing
(``functions/warc.py``), each with a closed-form byte-layout oracle.
``decode_image_features`` remains the sha-derived deterministic fake
whose oracle needs no codec at all.

The renderers' ``spread`` flag applies
:func:`operators.limits.spread_to_parallelism` (a round-robin
repartition of a source scan narrower than the core count, a no-op
once the file layout provides the parallelism) at the SOURCE stage
of a chain; parse stages inherit the width.  It is opt-in because
the exchange and the extra Python-stage tasks cost ~0.5 s flat, so it
pays only for chains with more than ~1 s of single-threaded codec
work: on the one-row-group fixtures mm_decode_jpeg went 5.1 -> 2.0 s
and mm_audio_wav_meta 2.8 -> 1.2 s spread (32-core host), while
spreading every chain lost on 11 of the 15 light ones on a 4-core
host (zip_scan_entries 0.58 -> 0.82 s).  Call sites set the flag
from per-query A/B timings.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Callable, Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from ctgov_ai_etl_spark.operators.limits import spread_to_parallelism

RowFn = Callable[[Any, Any], Iterable[tuple]]


def _python_stage(
    df: DataFrame,
    id_col: str,
    in_col: str,
    out_ddl: str,
    row_fn: RowFn,
    spread: bool = False,
    carry: bool = False,
) -> DataFrame:
    """The module's one Python stage.  Selects ``id_col`` and
    ``in_col`` (``spread`` repartitions that source, see the module
    docstring) and runs one Arrow-batched ``mapInPandas`` stage in
    which ``row_fn(rid, value)`` returns the output tuples of one
    input row, laid out as ``out_ddl``.  The stage declares
    ``"{id_col} long, " + out_ddl``; with ``carry`` it instead passes
    every other column of ``df`` through, in ``df``'s order and with
    its source type, ahead of ``out_ddl``."""
    from ctgov_ai_etl_spark.session import ship_package

    ship_package(df.sparkSession)
    if carry:
        keys = [c for c in df.columns if c != in_col]
        src = df.select(*keys, in_col)
        key_ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in src.schema.fields[:-1]
        )
    else:
        keys = [id_col]
        src = df.select(id_col, in_col)
        key_ddl = f"{id_col} long"
    if spread:
        src = spread_to_parallelism(src)
    names = DataType.fromDDL(out_ddl).fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pos, rows = [], []
            for i, (rid, value) in enumerate(zip(pdf[id_col], pdf[in_col])):
                for r in row_fn(rid, value):
                    pos.append(i)
                    rows.append(r)
            cols = list(zip(*rows)) if rows else [()] * len(names)
            yield pdf[keys].iloc[pos].reset_index(drop=True).assign(
                **{n: list(c) for n, c in zip(names, cols)}
            )

    return src.mapInPandas(run, schema=f"{key_ddl}, {out_ddl}")


def _md5(text: Any) -> bytes:
    """md5 of the text's UTF-8 bytes: the engine-portable seed every
    fixture renderer derives its parameters from, so a SQL oracle
    replays them."""
    return hashlib.md5(str(text).encode("utf-8")).digest()


def _parsed_fields(parse: Callable[[bytes], dict], out_ddl: str) -> RowFn:
    """Row function for a parser that returns one dict per payload:
    the dict's values in ``out_ddl``'s column order."""
    fields = DataType.fromDDL(out_ddl).fieldNames()

    def row(rid: Any, data: Any) -> Iterator[tuple]:
        meta = parse(bytes(data))
        yield tuple(meta[k] for k in fields)

    return row


def attach_blob(df: DataFrame, src_col: str, blob_col: str = "blob") -> DataFrame:
    """Real plumbing: pack a column into binary + typed metadata
    (mime, byte size, checksum) — the storage shape for media at
    scale (blob inline for small payloads; at 100 TB the blob column
    holds object-store references and the same ops stream bytes)."""
    blob = F.encode(F.col(src_col), "UTF-8")
    meta = F.struct(
        F.lit("text/plain").alias("mime"),
        F.octet_length(blob).alias("n_bytes"),
        F.sha2(blob, 256).alias("sha256"),
    )
    return df.withColumn(blob_col, blob).withColumn("media_meta", meta)


def render_test_images(
    df: DataFrame, id_col: str, text_col: str = "text", spread: bool = False
) -> DataFrame:
    """Synthesize REAL image payloads deterministically from a text
    column — the fixture generator for the genuine decode path (no
    image files ship with the testdata).  Geometry and base luma
    derive from md5(text) (engine-portable, so a SQL oracle replays
    them); even ids render binary PPM, odd ids render 8-bit greyscale
    PNG whose scanline filters cycle through all five types — a wrong
    Sub/Up/Average/Paeth predictor in the decoder corrupts the raster
    and fails the oracle.  Raster byte j = (v + j) % 256."""
    from ctgov_ai_etl_spark.functions.imagecodec import encode_png, encode_ppm

    def row(rid: Any, text: Any) -> Iterator[tuple]:
        dig = _md5(text)
        w, h, v = 1 + dig[0] % 16, 1 + dig[1] % 16, dig[2]
        if int(rid) % 2 == 0:
            raster = bytes((v + j) % 256 for j in range(w * h * 3))
            yield "ppm", encode_ppm(w, h, raster)
        else:
            raster = bytes((v + j) % 256 for j in range(w * h))
            yield "png", encode_png(
                w, h, raster, color_type=0, filter_per_row=lambda y: y % 5
            )

    return _python_stage(
        df, id_col, text_col, "fmt string, blob binary", row, spread
    )


# Fixed 16-entry palette for the PNG-matrix fixture: arithmetic in
# i so a SQL oracle replays the RGB sums closed-form.
PNG_MATRIX_PALETTE = [
    ((i * 7) % 256, (i * 13) % 256, (i * 29) % 256) for i in range(16)
]


def render_png_matrix(
    df: DataFrame, id_col: str, text_col: str = "text", spread: bool = False
) -> DataFrame:
    """Synthesize the FULL-SPEC PNG matrix deterministically
    from a text column — the fixture generator for the generalized
    decoder: variant = id % 6 renders
    0: 8-bit palette, Adam7 interlaced;  1: 16-bit greyscale;
    2: 16-bit RGB, Adam7 interlaced;     3: 8-bit grey+alpha;
    4: 8-bit palette, non-interlaced;    5: 4-bit greyscale
    (hand-packed MSB-first nibbles with per-row byte padding — the
    encoder writes 8/16 only, so the sub-byte stream is built here
    chunk by chunk) — variants 0-4 with scanline filters cycling
    through all five types.
    Sample construction keeps the DECODED 8-bit raster closed-form:
    16-bit samples carry (v+j)%256 in the HIGH byte (decimation
    target) and a different series in the low byte so a decoder that
    read the wrong byte fails the oracle; alpha bytes likewise differ
    from the grey series so a decoder that averaged alpha in fails."""
    import struct as _st
    import zlib as _zl

    from ctgov_ai_etl_spark.functions.imagecodec import (
        _PNG_SIG,
        _chunk,
        encode_png,
    )

    pal = PNG_MATRIX_PALETTE

    def _grey4(w: int, h: int, v: int) -> bytes:
        rows = bytearray()
        for y in range(h):
            rows.append(0)  # filter None
            acc, nb = 0, 0
            for x in range(w):
                acc = (acc << 4) | ((v + y * w + x) % 16)
                nb += 4
                if nb == 8:
                    rows.append(acc)
                    acc, nb = 0, 0
            if nb:
                rows.append(acc << 4)
        ihdr = _st.pack(">IIBBBBB", w, h, 4, 0, 0, 0, 0)
        return (
            _PNG_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", _zl.compress(bytes(rows)))
            + _chunk(b"IEND", b"")
        )

    def row(rid: Any, text: Any) -> Iterator[tuple]:
        dig = _md5(text)
        w, h, v = 1 + dig[0] % 16, 1 + dig[1] % 16, dig[2]
        variant = int(rid) % 6
        cyc = lambda y: y % 5  # noqa: E731
        if variant in (0, 4):
            idx = bytes((v + j) % 16 for j in range(w * h))
            blob = encode_png(
                w, h, idx, palette=pal,
                interlace=(variant == 0), filter_per_row=cyc,
            )
        elif variant == 1:
            raw = b"".join(
                bytes(((v + j) % 256, (v + 5 * j) % 256))
                for j in range(w * h)
            )
            blob = encode_png(w, h, raw, 0, bit_depth=16, filter_per_row=cyc)
        elif variant == 2:
            raw = b"".join(
                bytes(((v + j) % 256, (v + 5 * j) % 256))
                for j in range(w * h * 3)
            )
            blob = encode_png(
                w, h, raw, 2, bit_depth=16, interlace=True,
                filter_per_row=cyc,
            )
        elif variant == 3:
            raw = b"".join(
                bytes(((v + j) % 256, (v + 3 * j + 1) % 256))
                for j in range(w * h)
            )
            blob = encode_png(w, h, raw, 4, filter_per_row=cyc)
        else:
            blob = _grey4(w, h, v)
        yield variant, blob

    return _python_stage(
        df, id_col, text_col, "variant int, blob binary", row, spread
    )


def _block_jpeg(
    encode: Callable[..., bytes], w8: int, h8: int, v: int, step: int,
    rst: int,
) -> bytes:
    """A w8 x h8 grid of constant 8x8 blocks, block b = (v + step*b)
    % 256, encoded grayscale with restart interval ``rst``."""
    import numpy as np

    arr = np.zeros((h8 * 8, w8 * 8), dtype=np.uint8)
    for b in range(w8 * h8):
        by, bx = divmod(b, w8)
        arr[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (v + step * b) % 256
    return encode(w8 * 8, h8 * 8, arr.tobytes(), restart_interval=rst)


def render_test_jpegs(
    df: DataFrame, id_col: str, text_col: str = "text", spread: bool = False
) -> DataFrame:
    """Synthesize REAL baseline-JPEG payloads deterministically from a
    text column (the JPEG sibling of :func:`render_test_images`).
    Geometry derives from md5(text): a grid of w8 x h8 constant-valued
    8x8 blocks (block b = (v + 17*b) % 256) encoded grayscale with a
    flat all-ones quantization table — constant blocks are DC-only,
    and with q=1 the quantized DC round-trips the block value EXACTLY
    (F(0,0) = 8*(g-128), IDCT of a DC-only block is F(0,0)/8 within
    sub-ulp float error), so a closed-form SQL oracle predicts the
    decoded raster sum without touching image bytes.  The entropy
    stream still exercises real DC-differential Huffman coding across
    blocks (values swing by 17 per block, hitting multiple magnitude
    categories), per-block EOB symbols, byte stuffing, and — for odd
    ids — a restart marker after every MCU (predictor resets make the
    differentials restart too; a decoder that missed the reset would
    corrupt every post-RST block)."""
    from ctgov_ai_etl_spark.functions.jpegcodec import encode_jpeg_baseline

    def row(rid: Any, text: Any) -> Iterator[tuple]:
        dig = _md5(text)
        # abs() so odd-ness matches the oracle's `doc_id % 2 <> 0`
        # under DuckDB's sign-following modulo: -3 % 2 is 1 in
        # Python, -1 in DuckDB — both sides must agree on negative ids
        rst = 1 if abs(int(rid)) % 2 else 0
        yield rst, _block_jpeg(
            encode_jpeg_baseline, 1 + dig[0] % 4, 1 + dig[1] % 4, dig[2],
            17, rst,
        )

    return _python_stage(
        df, id_col, text_col, "rst int, blob binary", row, spread
    )


def render_test_jpegs_progressive(
    df: DataFrame, id_col: str, text_col: str = "text", spread: bool = False
) -> DataFrame:
    """Synthesize REAL progressive (SOF2) JPEG payloads — the
    successive-approximation sibling of :func:`render_test_jpegs`,
    with geometry drawn from DIFFERENT md5 bytes (7-12) so the two
    fixtures diverge.  Constant 8x8 blocks under the flat quant table
    are DC-only, and the progressive DC path (first pass at Al=1,
    one refinement bit) reassembles the full DC exactly, so the same
    closed-form block-sum oracle applies; the AC band scans of an
    all-zero-AC image still exercise EOB-RUN coding across blocks
    (runs span the whole image), and ids with abs(id) % 3 == 1 add a
    restart marker per unit, resetting predictors and EOB runs
    inside every scan."""
    from ctgov_ai_etl_spark.functions.jpegcodec import (
        encode_jpeg_progressive,
    )

    def row(rid: Any, text: Any) -> Iterator[tuple]:
        dig = _md5(text)
        # abs() keeps the parity rule aligned with DuckDB's
        # sign-following modulo on negative ids
        rst = 1 if abs(int(rid)) % 3 == 1 else 0
        yield rst, _block_jpeg(
            encode_jpeg_progressive, 1 + dig[3] % 4, 1 + dig[4] % 4, dig[5],
            23, rst,
        )

    return _python_stage(
        df, id_col, text_col, "rst int, blob binary", row, spread
    )


def decode_image_real(
    df: DataFrame, id_col: str, blob_col: str = "blob"
) -> DataFrame:
    """REAL image decode over the blob column: magic-byte dispatch to
    the pure-Python codecs (netpbm / 8-bit PNG incl. all five filters
    — functions/imagecodec.py — and baseline JPEG incl. Huffman, DC
    prediction, restart markers, and the 8x8 IDCT —
    functions/jpegcodec.py); unsupported formats surface the honest
    ``NotImplementedError`` seam.  Emits exact integer (luma_sum,
    n_samples) so the caller makes the mean a single fixed-order
    division (exactness conventions) — and the whole decode is
    hash-checkable against a SQL oracle (mm_decode_real,
    mm_decode_jpeg)."""
    from ctgov_ai_etl_spark.functions.gifcodec import decode_gif
    from ctgov_ai_etl_spark.functions.imagecodec import (
        decode_bmp,
        decode_png,
        decode_ppm,
    )
    from ctgov_ai_etl_spark.functions.jpegcodec import decode_jpeg

    def row(rid: Any, data: Any) -> Iterator[tuple]:
        b = bytes(data)
        if b[:8] == b"\x89PNG\r\n\x1a\n":
            yield decode_png(b)
        elif b[:2] in (b"P5", b"P6"):
            yield decode_ppm(b)
        elif b[:3] == b"\xff\xd8\xff":
            yield decode_jpeg(b)
        elif b[:4] == b"GIF8":
            yield decode_gif(b)
        elif b[:2] == b"BM":
            yield decode_bmp(b)
        else:
            raise NotImplementedError(
                "no pure-Python codec for this payload — "
                "install an image library on the executors "
                "and extend the dispatch"
            )

    return _python_stage(
        df, id_col, blob_col,
        "width int, height int, luma_sum long, n_samples long",
        row, carry=True,
    )


def _fake_decode(data: bytes) -> tuple[int, int, float]:
    """Deterministic stand-in for an image decoder: derives (width,
    height, mean_luma) from the payload's sha256 — stable across runs,
    engines, and partitionings, and SQL-mirrorable (DuckDB ships
    sha256 but not sha1), which is what lets mm_decode_features be a
    full hash-checked oracle query instead of rows-only."""
    h = hashlib.sha256(data).digest()
    width = 64 + h[0] % 192
    height = 64 + h[1] % 192
    mean_luma = round(h[2] / 255.0, 6)
    return width, height, mean_luma


def decode_image_features(
    df: DataFrame, id_col: str, blob_col: str = "blob"
) -> DataFrame:
    """Batch 'decode' producing per-image features. The mapInPandas
    iterator form initializes the (stub) codec once per task and
    processes Arrow record batches — the exact layout a real decoder
    needs."""
    return _python_stage(
        df, id_col, blob_col, "width int, height int, mean_luma double",
        lambda rid, data: (_fake_decode(data),),
    )


def frame_sample(
    df: DataFrame, id_col: str, blob_col: str = "blob", every_n: int = 10
) -> DataFrame:
    """Video frame-sampling shape: one input blob → N frame rows
    (here: deterministic fake frames keyed by byte offsets). Output
    explodes inside mapInPandas so a 2-hour video never materializes
    as one row in memory."""

    def row(rid: Any, data: Any) -> Iterator[tuple]:
        for i in range(max(1, len(data) // every_n)):
            chunk = bytes(data[i * every_n : (i + 1) * every_n])
            yield i, hashlib.sha256(chunk).hexdigest()[:16]

    return _python_stage(
        df, id_col, blob_col, "frame_idx int, frame_sig string", row
    )


def render_test_audio(
    df: DataFrame, id_col: str, text_col: str = "text", spread: bool = False
) -> DataFrame:
    """Synthesize REAL RIFF/PCM-16 WAV payloads deterministically from
    a text column (the audio sibling of render_test_images): channel
    count, frame count, and the PCM pattern derive from md5(text), so
    a SQL oracle replays the expected loudness statistic without ever
    touching bytes.  Sample at flat index j:
    ((v·131 + j·7919) mod 65536) − 32768 — full int16 range,
    byte-order sensitive (a wrong endianness or chunk walk corrupts
    the decoded sum)."""
    import struct as _st

    from ctgov_ai_etl_spark.functions.imagecodec import encode_wav

    def row(rid: Any, text: Any) -> Iterator[tuple]:
        dig = _md5(text)
        ch = 1 + dig[0] % 2
        n = (50 + dig[1]) * ch
        v = dig[2]
        vals = [((v * 131 + j * 7919) % 65536) - 32768 for j in range(n)]
        yield (encode_wav(8000, ch, _st.pack(f"<{n}h", *vals)),)

    return _python_stage(df, id_col, text_col, "blob binary", row, spread)


def decode_audio_real(
    df: DataFrame, id_col: str, blob_col: str = "blob"
) -> DataFrame:
    """REAL audio decode: RIFF/WAVE chunk walk + PCM-16 unpack
    (functions/imagecodec.py:decode_wav), Arrow-batched.  Emits exact
    integer (abs_sum, n_samples) so the loudness mean is one
    fixed-order division downstream — hash-checkable end to end
    (mm_decode_audio)."""
    from ctgov_ai_etl_spark.functions.imagecodec import decode_wav

    return _python_stage(
        df, id_col, blob_col,
        "channels int, sample_rate int, n_frames int, abs_sum long",
        lambda rid, data: (decode_wav(bytes(data)),),
    )


def audio_features_real(
    df: DataFrame, id_col: str, blob_col: str = "blob"
) -> DataFrame:
    """REAL per-channel audio features: RIFF chunk walk + PCM-16
    unpack (functions/imagecodec.py:decode_wav_samples), then
    zero-crossing count (sign flips of s>=0 between consecutive
    frames of one channel) and the exact integer energy sum Σs² —
    both order-free integers, so the downstream ZCR-rate / RMS
    divisions are single fixed-order expressions a SQL oracle
    replays.  One Arrow-batched mapInPandas stage, one output row
    per (clip, channel), no keyed shuffle."""
    import numpy as np

    from ctgov_ai_etl_spark.functions.imagecodec import decode_wav_samples

    def row(rid: Any, data: Any) -> Iterator[tuple]:
        ch, _rate, samples = decode_wav_samples(bytes(data))
        arr = np.asarray(samples, dtype=np.int64)
        nf = len(arr) // ch
        for c in range(ch):
            sc = arr[c::ch]
            nonneg = sc >= 0
            yield (
                c, nf, int(np.sum(nonneg[1:] != nonneg[:-1])),
                int(np.sum(sc * sc)),
            )

    return _python_stage(
        df, id_col, blob_col,
        "channel int, n_frames int, zcr long, sq_sum long", row,
    )


def render_test_video(
    df: DataFrame, id_col: str, text_col: str = "text", spread: bool = False
) -> DataFrame:
    """Synthesize REAL YUV4MPEG2 (Y4M) video payloads deterministically
    from a text column (the video sibling of render_test_images):
    even dimensions, frame count, and luma pattern derive from
    md5(text).  Y byte at (frame f, index j) = (v + f·17 + j) % 256 —
    a closed form a SQL oracle replays without touching bytes."""
    from ctgov_ai_etl_spark.functions.imagecodec import encode_y4m

    def row(rid: Any, text: Any) -> Iterator[tuple]:
        dig = _md5(text)
        w = 2 * (1 + dig[0] % 8)
        h = 2 * (1 + dig[1] % 8)
        v = dig[2]
        frames = [
            bytes((v + f * 17 + j) % 256 for j in range(w * h))
            for f in range(1 + dig[3] % 6)
        ]
        yield (encode_y4m(w, h, frames),)

    return _python_stage(df, id_col, text_col, "blob binary", row, spread)


def decode_video_real(
    df: DataFrame, id_col: str, blob_col: str = "blob"
) -> DataFrame:
    """REAL video decode: YUV4MPEG2 header parse + structural FRAME
    walk with computed plane skips (functions/imagecodec.py:
    decode_y4m), Arrow-batched.  Emits exact integer (luma_sum,
    n_frames) — the per-stream loudness/brightness statistic a SQL
    oracle replays (mm_decode_video)."""
    from ctgov_ai_etl_spark.functions.imagecodec import decode_y4m

    return _python_stage(
        df, id_col, blob_col,
        "width int, height int, n_frames int, luma_sum long",
        lambda rid, data: (decode_y4m(bytes(data)),),
    )


def resize_image_real(
    df: DataFrame, id_col: str, blob_col: str = "blob", factor: int = 2
) -> DataFrame:
    """REAL image resize over the blob column: decode to raw pixels
    with the stdlib codecs (functions/imagecodec.py), nearest-neighbor
    downscale by ``factor``, and emit the resized geometry plus the
    exact integer luma sum of the RESIZED raster — so a SQL oracle
    replays the kernel as pure index arithmetic over the source
    pattern.  One Arrow-batched ``mapInPandas`` stage, no keyed shuffle:
    the thumbnail pass of a 100 TB media pipeline distributes
    embarrassingly."""
    from ctgov_ai_etl_spark.functions.imagecodec import (
        decode_image_pixels,
        resize_nearest,
    )

    def row(rid: Any, data: Any) -> Iterator[tuple]:
        w, h, ch, raster = decode_image_pixels(bytes(data))
        wo, ho, out = resize_nearest(w, h, ch, raster, factor)
        yield wo, ho, sum(out), len(out)

    return _python_stage(
        df, id_col, blob_col,
        "width_out int, height_out int, luma_sum long, n_samples long",
        row, carry=True,
    )


def sample_video_frames_real(
    df: DataFrame, id_col: str, blob_col: str = "blob", every_n: int = 2
) -> DataFrame:
    """REAL video frame sampling: walk the YUV4MPEG2 stream
    structurally (functions/imagecodec.py:decode_y4m_frames), keep
    every ``every_n``-th frame, and emit ONE ROW PER SAMPLED FRAME
    with its exact integer luma sum — the explode happens inside the
    task, so a multi-GB stream never materializes as a single row.
    One Arrow-batched ``mapInPandas`` stage, no keyed shuffle."""
    from ctgov_ai_etl_spark.functions.imagecodec import decode_y4m_frames

    def row(rid: Any, data: Any) -> Iterator[tuple]:
        w, h, frames = decode_y4m_frames(bytes(data))
        for i in range(0, len(frames), every_n):
            yield i, w, h, frames[i]

    return _python_stage(
        df, id_col, blob_col,
        "frame_idx int, width int, height int, luma_sum long", row,
    )


def downsample_audio_real(
    df: DataFrame, id_col: str, blob_col: str = "blob", every_n: int = 2
) -> DataFrame:
    """REAL audio decimation: decode the RIFF/PCM-16 stream to raw
    interleaved samples (functions/imagecodec.py:decode_wav_samples),
    keep every ``every_n``-th FRAME (all channels of it), and emit the
    decimated stream's exact loudness integers plus the reduced
    sample rate — the audio leg of the resize/frame-sample kernel
    family.  One Arrow-batched ``mapInPandas`` stage, no keyed shuffle."""
    from ctgov_ai_etl_spark.functions.imagecodec import decode_wav_samples

    def row(rid: Any, data: Any) -> Iterator[tuple]:
        ch, rate, vals = decode_wav_samples(bytes(data))
        abs_sum = 0
        kept = 0
        for f in range(0, len(vals) // ch, every_n):
            base = f * ch
            for c in range(ch):
                v = vals[base + c]
                abs_sum += v if v >= 0 else -v
            kept += 1
        yield ch, rate // every_n, kept, abs_sum

    return _python_stage(
        df, id_col, blob_col,
        "channels int, sample_rate_out int, n_frames_out int, abs_sum long",
        row,
    )


def dhash_images_real(
    df: DataFrame, id_col: str, blob_col: str = "blob"
) -> DataFrame:
    """REAL perceptual image fingerprinting: decode the blob to raw
    pixels, dHash it (functions/imagecodec.py:dhash_bits — 9x8
    nearest resample + row-adjacent comparisons, packed as two
    non-negative 32-bit halves).  One Arrow-batched ``mapInPandas``
    stage, no keyed shuffle — the fingerprint pass of an image-dedup
    pipeline; the bucket-join on the hash happens downstream exactly
    like every other dedup blocking key in this repo."""
    from ctgov_ai_etl_spark.functions.imagecodec import (
        decode_image_pixels,
        dhash_bits,
    )

    return _python_stage(
        df, id_col, blob_col, "hash_hi long, hash_lo long",
        lambda rid, data: (dhash_bits(*decode_image_pixels(bytes(data))),),
    )


def render_and_decode_test_gifs(
    df: DataFrame, id_col: str, text_col: str = "text", spread: bool = False
) -> DataFrame:
    """Synthesize REAL animated GIF payloads deterministically from a
    text column and decode them back — the GIF sibling of
    render_test_jpegs + decode_image_real, fused into one pass (the
    frame count needs the animation-aware decoder, not the generic
    feature contract): geometry/values derive from md5(text) bytes
    7-10 (hex chars 13-20), the 16-entry grayscale palette is
    g_c = (v + 13c) % 256, frame f's pixel j carries index
    (j + f) % 16, and ids with abs(id) % 2 == 1 encode INTERLACED
    (the four-pass row order — a decoder that skipped de-interlacing
    would scramble rows and shift nothing in the sum... so the luma
    check alone wouldn't catch it; the gifcodec round-trip tests pin
    interlacing on the raster, and this query pins the LZW + palette
    + frame-walk path end to end).  Emits exact integers so the
    closed-form SQL oracle replays the palette sums without touching
    bytes.  One Arrow-batched mapInPandas stage, no keyed shuffle."""
    from ctgov_ai_etl_spark.functions.gifcodec import (
        decode_gif_frames,
        encode_gif,
    )

    def row(rid: Any, text: Any) -> Iterator[tuple]:
        dig = _md5(text)
        w = 1 + dig[6] % 24
        h = 1 + dig[7] % 24
        v = dig[8]
        nf = 1 + dig[9] % 3
        pal = [((v + 13 * c) % 256,) * 3 for c in range(16)]
        frames = [bytes((j + f) % 16 for j in range(w * h)) for f in range(nf)]
        blob = encode_gif(
            w, h, frames, pal,
            interlace=bool(abs(int(rid)) % 2),
            delay_cs=5 if nf > 1 else None,
        )
        W, H, dec = decode_gif_frames(blob)
        yield W, H, len(dec), sum(dec[0]), sum(dec[-1]), W * H * 3

    return _python_stage(
        df, id_col, text_col,
        "width int, height int, n_frames int, "
        "luma0_sum long, luma_last_sum long, n_samples long",
        row, spread,
    )


def render_test_bmps(
    df: DataFrame, id_col: str, text_col: str = "text", spread: bool = False
) -> DataFrame:
    """Synthesize REAL 24-bit BMP payloads deterministically from a
    text column (md5 bytes 10-12 so the fixture diverges from the
    PNG/JPEG/GIF siblings): raster byte j = (v + 7j) % 256, encoded
    through the bottom-up/BGR/4-byte-padded writer — a decoder that
    ignored any of those header quirks would scramble the raster and
    (for the padding) shift the sum.  One Arrow-batched mapInPandas
    stage; decode flows through the magic-byte dispatcher like every
    other format."""
    from ctgov_ai_etl_spark.functions.imagecodec import encode_bmp

    def row(rid: Any, text: Any) -> Iterator[tuple]:
        dig = _md5(text)
        w, h, v = 1 + dig[10] % 16, 1 + dig[11] % 16, dig[12]
        yield (encode_bmp(w, h, bytes((v + 7 * j) % 256 for j in range(w * h * 3))),)

    return _python_stage(df, id_col, text_col, "blob binary", row, spread)


# 8-point DFT coefficient tables in MILLI units: round(cos/−sin of
# 2π·m·k/8 × 1000).  One source of truth — the Spark-side numpy dot
# AND the SQL oracle's literal lists both derive from these, so the
# two sides cannot drift.  Milli (not micro) keeps the bin energy
# re² + im² under int64 at full int16 amplitude (|re| ≤ 8·32768·1000).
DFT8_COS = [
    [round(math.cos(2 * math.pi * m * k / 8) * 1000) for k in range(8)]
    for m in range(5)
]
DFT8_SIN = [
    [round(-math.sin(2 * math.pi * m * k / 8) * 1000) for k in range(8)]
    for m in range(5)
]


def audio_dft8_real(
    df: DataFrame, id_col: str, blob_col: str = "blob"
) -> DataFrame:
    """REAL spectral features: decode the WAV (RIFF walk + PCM-16
    unpack), take the first 8 frames of each channel, and compute the
    5 unique bin energies of the 8-point DFT with the integer MILLI
    coefficient tables above — re/im are exact int64 dot products, so
    energy = re² + im² is an exact integer a SQL oracle replays
    closed-form.  (A production pipeline strides this window across
    the clip and averages per bin — same algebra, same exactness.)
    One Arrow-batched mapInPandas stage, no keyed shuffle."""
    import numpy as np

    from ctgov_ai_etl_spark.functions.imagecodec import decode_wav_samples

    cos = np.asarray(DFT8_COS, dtype=np.int64)
    sin = np.asarray(DFT8_SIN, dtype=np.int64)

    def row(rid: Any, data: Any) -> Iterator[tuple]:
        ch, _rate, samples = decode_wav_samples(bytes(data))
        arr = np.asarray(samples, dtype=np.int64)
        for c in range(ch):
            x = arr[c::ch][:8]
            if x.size < 8:
                # zero-pad short clips: the DFT of a zero-padded frame
                # is well-defined, and the fixed (5,8) table would
                # otherwise raise a shape mismatch in the executor
                x = np.pad(x, (0, 8 - x.size))
            re = cos @ x
            im = sin @ x
            e = re * re + im * im
            for m in range(5):
                yield c, m, int(e[m])

    return _python_stage(
        df, id_col, blob_col, "channel int, bin int, energy long", row
    )


def render_test_mp3(
    df: DataFrame, id_col: str, text_col: str = "text", spread: bool = False
) -> DataFrame:
    """Synthesize REAL MPEG-1 Layer III frame sequences (CBR, real
    4-byte headers, deterministic padding pattern, optional ID3v2.3
    envelope) from md5(text) — the MP3 sibling of render_test_audio.
    Parameters (all md5-derived so a SQL oracle replays them in closed
    form): bitrate index 1+d0%14, sample-rate index d1%3, frame count
    5+d2%20, padding seed d3 (frame j padded iff (d3+j)%2==1), ID3v2
    present iff d4%2==0 with a d5-byte opaque payload."""
    from ctgov_ai_etl_spark.functions.mp3meta import encode_mp3_cbr

    def row(rid: Any, text: Any) -> Iterator[tuple]:
        dig = _md5(text)
        id3 = (
            bytes((17 * i) % 256 for i in range(dig[5]))
            if dig[4] % 2 == 0
            else None
        )
        yield (
            encode_mp3_cbr(
                bitrate_index=1 + dig[0] % 14,
                sample_rate_index=dig[1] % 3,
                n_frames=5 + dig[2] % 20,
                pad_seed=dig[3],
                id3_payload=id3,
            ),
        )

    return _python_stage(df, id_col, text_col, "blob binary", row, spread)


_MP3_META_DDL = (
    "id3_bytes int, n_frames int, bitrate_kbps int, sample_rate int,"
    " total_bytes int, n_padded int, duration_us long"
)


def mp3_meta_real(
    df: DataFrame, id_col: str, blob_col: str = "blob"
) -> DataFrame:
    """REAL MP3 metadata extraction: ID3v2 syncsafe skip + length-
    driven frame-header walk (functions/mp3meta.py), Arrow-batched.
    Emits exact integers only (duration in integer microseconds) so
    the closed-form oracle hash-checks the whole walk — frame-length
    math, padding bits, envelope skip — end to end.  Zero shuffle."""
    from ctgov_ai_etl_spark.functions.mp3meta import parse_mp3_meta

    return _python_stage(
        df, id_col, blob_col, _MP3_META_DDL,
        _parsed_fields(parse_mp3_meta, _MP3_META_DDL),
    )


def _warc_records(rid: Any, text: Any) -> list[tuple[str, str, str, bytes]]:
    """The (warc_type, record_id, target_uri, content) records of one
    document, shared by the WARC and ``.warc.gz`` renderers: n =
    2+d0%4 records; record j is an HTTP 'response' iff (d1+j)%3>0
    (else a raw 'resource'), status [200,301,404,503][(d2+j)%4], and
    its body is the text slice [j*23, j*23 + 17+((d3+j)%11))."""
    from ctgov_ai_etl_spark.functions.warc import http_envelope

    t = str(text)
    d = _md5(t)
    recs = []
    for j in range(2 + d[0] % 4):
        body = t[j * 23 : j * 23 + 17 + ((d[3] + j) % 11)].encode()
        if (d[1] + j) % 3 > 0:
            wtype = "response"
            body = http_envelope((200, 301, 404, 503)[(d[2] + j) % 4]) + body
        else:
            wtype = "resource"
        recs.append((wtype, f"urn:doc{rid}-{j}", f"http://ex.com/{rid}/{j}", body))
    return recs


def render_test_warc(
    df: DataFrame, id_col: str, text_col: str = "text", spread: bool = False
) -> DataFrame:
    """Synthesize REAL WARC/1.0 container payloads deterministically
    from md5(text) (functions/warc.py:build_warc): n = 2+d0%4 records
    per document; record j is an HTTP 'response' iff (d1+j)%3>0 (else
    a raw 'resource'), status [200,301,404,503][(d2+j)%4], and its
    body is the text slice [j*23, j*23 + 17+((d3+j)%11)) — ASCII, so a
    SQL oracle computes every body length (including the truncated and
    empty overflow cases) closed-form."""
    from ctgov_ai_etl_spark.functions.warc import build_warc

    return _python_stage(
        df, id_col, text_col, "blob binary",
        lambda rid, text: ((build_warc(_warc_records(rid, text)),),),
        spread,
    )


def warc_records_real(
    df: DataFrame, id_col: str, blob_col: str = "blob"
) -> DataFrame:
    """REAL WARC record walk (functions/warc.py:parse_warc_records):
    Content-Length-driven framing, case-insensitive header parse,
    HTTP status-line triage for response records — exploded one row
    per record with the byte offset each record starts at, so the
    oracle's closed-form offset arithmetic hash-checks the entire
    byte layout.  Arrow-batched, no keyed shuffle: CDX-style index
    extraction distributes embarrassingly over a 100 TB crawl."""
    from ctgov_ai_etl_spark.functions.warc import parse_warc_records

    def row(rid: Any, data: Any) -> Iterator[tuple]:
        for j, r in enumerate(parse_warc_records(bytes(data))):
            yield (
                j, r["offset"], r["warc_type"], r["target_uri"],
                r["http_status"], r["content_length"],
            )

    return _python_stage(
        df, id_col, blob_col,
        "rec_idx int, offset int, warc_type string, target_uri string,"
        " http_status int, content_length int",
        row,
    )


def render_test_h264(
    df: DataFrame, id_col: str, text_col: str = "text", spread: bool = False
) -> DataFrame:
    """Synthesize REAL H.264 Annex-B streams deterministically from
    md5(text) (functions/h264meta.py): a baseline-profile SPS with
    md5-derived geometry/level/cropping, a PPS, then 1+d5%3 IDR and
    d6%4 non-IDR slice NALs with deterministic zero-free payload
    bytes (no start-code emulation inside slice data, so the walk's
    correctness is isolated to the framing logic the query checks).
    The SPS itself DOES exercise emulation prevention when its
    Exp-Golomb zeros pack into 00 00 0x runs."""
    from ctgov_ai_etl_spark.functions.h264meta import (
        NAL_IDR,
        NAL_NON_IDR,
        NAL_PPS,
        NAL_SPS,
        build_annexb,
        build_sps,
    )

    def row(rid: Any, text: Any) -> Iterator[tuple]:
        d = _md5(text)
        sps = build_sps(
            width_mbs=1 + d[0] % 16,
            height_mbs=1 + d[1] % 16,
            level_idc=(10, 20, 30, 40, 50)[d[2] % 5],
            crop_right=d[3] % 2,
            crop_bottom=d[4] % 2,
        )
        nals = [(NAL_SPS, sps), (NAL_PPS, b"\xc8\x42")]
        for j in range(1 + d[5] % 3):
            nals.append(
                (NAL_IDR,
                 bytes(17 + ((j * 29 + k * 11) % 200)
                       for k in range(6 + (d[7] + j) % 9)))
            )
        for j in range(d[6] % 4):
            nals.append(
                (NAL_NON_IDR,
                 bytes(17 + ((j * 31 + k * 13) % 200)
                       for k in range(6 + (d[7] + j) % 9)))
            )
        yield (build_annexb(nals),)

    return _python_stage(df, id_col, text_col, "blob binary", row, spread)


def h264_meta_real(
    df: DataFrame, id_col: str, blob_col: str = "blob"
) -> DataFrame:
    """REAL H.264 metadata extraction: Annex-B start-code walk + SPS
    Exp-Golomb decode with emulation-prevention stripping
    (functions/h264meta.py), Arrow-batched.  Per stream emits the
    triage row a video curation pass filters on — dimensions (crop
    rule §7.4.2.1.1 applied), profile/level, NAL/IDR/non-IDR counts —
    all exact integers.  Zero shuffle."""
    from ctgov_ai_etl_spark.functions.h264meta import (
        NAL_IDR,
        NAL_NON_IDR,
        parse_annexb,
    )

    def row(rid: Any, data: Any) -> Iterator[tuple]:
        recs = parse_annexb(bytes(data))
        sps = next(r for r in recs if "width" in r)
        yield (
            sps["profile_idc"], sps["level_idc"], sps["width"],
            sps["height"], len(recs),
            sum(1 for r in recs if r["nal_type"] == NAL_IDR),
            sum(1 for r in recs if r["nal_type"] == NAL_NON_IDR),
        )

    return _python_stage(
        df, id_col, blob_col,
        "profile_idc int, level_idc int, width int, height int,"
        " n_nals int, n_idr int, n_non_idr int",
        row,
    )


def render_test_mp4(
    df: DataFrame, id_col: str, text_col: str = "text", spread: bool = False
) -> DataFrame:
    """Synthesize REAL ISO-BMFF (MP4) files deterministically from
    md5(text) (functions/mp4meta.py): ftyp, moov{mvhd,
    trak{tkhd,mdia{mdhd,hdlr}} x 1-2}, free, mdat — with md5-derived
    timescale/duration/geometry/language, v0 or v1 full boxes, an
    optional second (audio) trak, and the 64-bit largesize mdat
    framing on half the corpus.  Real box framing, filler payload —
    exactly what a container walk is and isn't sensitive to."""
    from ctgov_ai_etl_spark.functions.mp4meta import (
        LANG_CHOICES,
        TIMESCALE_CHOICES,
        build_mp4,
    )

    def row(rid: Any, text: Any) -> Iterator[tuple]:
        d = _md5(text)
        yield (
            build_mp4(
                movie_timescale=TIMESCALE_CHOICES[d[0] % 4],
                duration=1 + ((d[1] << 8) | d[2]) % 100000,
                width=(1 + d[3] % 64) * 16,
                height=(1 + d[4] % 64) * 16,
                n_samples=1 + d[5] % 50,
                sample_size=100 + d[6] % 156,
                mdat_large=bool(d[7] % 2),
                free_pad=d[8] % 32,
                n_traks=1 + d[9] % 2,
                lang=LANG_CHOICES[d[10] % 5],
                version=1 if d[11] % 4 == 0 else 0,
            ),
        )

    return _python_stage(df, id_col, text_col, "blob binary", row, spread)


_MP4_META_DDL = (
    "n_boxes int, n_traks int, box_version int, movie_timescale int,"
    " movie_duration_ms long, width int, height int, media_lang string,"
    " mdat_bytes long, mdat_large int, total_bytes long"
)


def mp4_meta_real(
    df: DataFrame, id_col: str, blob_col: str = "blob"
) -> DataFrame:
    """REAL ISO-BMFF metadata extraction: recursive length-prefixed
    box walk (largesize / size==0 / unknown-box-skip per §4.2) plus
    mvhd/tkhd/mdhd full-box field decode
    (functions/mp4meta.py:parse_mp4_meta), Arrow-batched.  Per file
    emits the triage row video curation filters on — duration,
    geometry, language, payload size — all exact integers.  Zero
    shuffle."""
    from ctgov_ai_etl_spark.functions.mp4meta import parse_mp4_meta

    return _python_stage(
        df, id_col, blob_col, _MP4_META_DDL,
        _parsed_fields(parse_mp4_meta, _MP4_META_DDL),
    )


def render_test_wav(
    df: DataFrame, id_col: str, text_col: str = "text", spread: bool = False
) -> DataFrame:
    """Synthesize REAL RIFF/WAVE files deterministically from
    md5(text) (functions/wavmeta.py): PCM fmt chunk with md5-derived
    rate/channels/depth, an optional fact chunk, a nested LIST(INFO)
    with an odd-or-even INAM text (exercising the RIFF pad-byte
    rule), and a filler data payload.  Real chunk framing, fake
    samples — exactly what container triage is and isn't sensitive
    to."""
    from ctgov_ai_etl_spark.functions.wavmeta import (
        BITS_CHOICES,
        RATE_CHOICES,
        build_wav,
    )

    def row(rid: Any, text: Any) -> Iterator[tuple]:
        d = _md5(text)
        yield (
            build_wav(
                sample_rate=RATE_CHOICES[d[0] % 5],
                channels=1 + d[1] % 2,
                bits=BITS_CHOICES[d[2] % 4],
                n_samples=1 + ((d[3] << 8) | d[4]) % 20000,
                info_len=1 + d[5] % 40,
                with_fact=bool(d[6] % 2),
            ),
        )

    return _python_stage(df, id_col, text_col, "blob binary", row, spread)


_WAV_META_DDL = (
    "n_chunks int, channels int, sample_rate int, bits_per_sample int,"
    " block_align int, byte_rate int, n_samples long, data_bytes long,"
    " duration_us long, total_bytes long"
)


def wav_meta_real(
    df: DataFrame, id_col: str, blob_col: str = "blob"
) -> DataFrame:
    """REAL RIFF/WAVE metadata extraction: pad-aware chunk walk with
    LIST recursion plus PCM fmt decode with derived-field
    cross-checks (functions/wavmeta.py:parse_wav_meta),
    Arrow-batched.  Per file emits the audio triage row — channels /
    rate / depth / exact integer-microsecond duration — all before
    any sample is touched.  Zero shuffle."""
    from ctgov_ai_etl_spark.functions.wavmeta import parse_wav_meta

    return _python_stage(
        df, id_col, blob_col, _WAV_META_DDL,
        _parsed_fields(parse_wav_meta, _WAV_META_DDL),
    )


def render_test_pdf(
    df: DataFrame, id_col: str, text_col: str = "text", spread: bool = False
) -> DataFrame:
    """Synthesize REAL PDF skeletons deterministically from md5(text)
    (functions/pdfmeta.py): Catalog→Pages→Page tree with 1-3 pages,
    md5-derived MediaBox geometry and per-page content-stream
    lengths, a fixed-width xref table whose offsets are real, and a
    trailer.  Every parameter is fixed-width by construction so the
    whole byte layout is closed-form for the oracle."""
    from ctgov_ai_etl_spark.functions.pdfmeta import build_pdf

    def row(rid: Any, text: Any) -> Iterator[tuple]:
        d = _md5(text)
        k = 1 + d[0] % 3
        yield (
            build_pdf(
                n_pages=k,
                width=100 + ((d[1] << 8) | d[2]) % 900,
                height=100 + ((d[3] << 8) | d[4]) % 900,
                lengths=[
                    100 + ((d[5 + 2 * i] << 8) | d[6 + 2 * i]) % 900
                    for i in range(k)
                ],
            ),
        )

    return _python_stage(df, id_col, text_col, "blob binary", row, spread)


_PDF_META_DDL = (
    "pdf_version string, n_objects int, n_pages int, media_w int,"
    " media_h int, total_content_bytes long, xref_offset long,"
    " total_bytes long"
)


def pdf_meta_real(
    df: DataFrame, id_col: str, blob_col: str = "blob"
) -> DataFrame:
    """REAL PDF skeleton extraction: startxref resolution, fixed-
    width xref walk with per-entry offset verification, /Length vs
    stream-span re-verification, Catalog→Pages→Page traversal
    (functions/pdfmeta.py:parse_pdf_meta), Arrow-batched.  Per file
    emits the document triage row — pages / geometry / content
    volume / structural integrity.  Zero shuffle."""
    from ctgov_ai_etl_spark.functions.pdfmeta import parse_pdf_meta

    return _python_stage(
        df, id_col, blob_col, _PDF_META_DDL,
        _parsed_fields(parse_pdf_meta, _PDF_META_DDL),
    )


def warc_response_texts(
    df: DataFrame, id_col: str, blob_col: str = "blob"
) -> DataFrame:
    """Extract the HTTP-200 response BODIES from WARC payloads — the
    text-acquisition stage of crawl ingest (functions/warc.py with
    include_body; the envelope/body split is part of the parse, so a
    wrong separator scan truncates or pollutes the text and fails the
    composite oracle).  Emits (id, rec_idx, body) for status-200
    response records only; other records and statuses are triaged out
    here, before any curation cost.  Arrow-batched, no keyed shuffle."""
    from ctgov_ai_etl_spark.functions.warc import parse_warc_records

    def row(rid: Any, data: Any) -> Iterator[tuple]:
        recs = parse_warc_records(bytes(data), include_body=True)
        for j, rec in enumerate(recs):
            if rec["http_status"] == 200:
                # UTF-8, matching body.encode() in the WARC renderer.
                # NOTE the closed-form length oracles equate DuckDB
                # character length(text) with the Content-Length BYTE
                # count, which holds only for ASCII corpora (the
                # generated documents table is verified ASCII-only);
                # non-ASCII text would desync char-vs-byte lengths in
                # the oracle, not crash here.
                yield j, rec["body"].decode("utf-8")

    return _python_stage(
        df, id_col, blob_col, "rec_idx int, body string", row
    )


def render_test_tar(
    df: DataFrame, id_col: str, text_col: str = "text", spread: bool = False
) -> DataFrame:
    """Synthesize REAL ustar shard archives deterministically from
    md5(text) (functions/tarmeta.py) in WebDataset layout: 2+d0%3
    samples per document, each sample k contributing an adjacent
    ``{doc:05d}-{k}.txt`` member (body = text slice
    [k*31, k*31 + 13+((d1+k)%9)), including truncated/empty overflow
    cases) and a 1-byte ``.cls`` member carrying label (d2+k)%10.
    Every header field, data-block pad, and the end-of-archive marker
    are real — the SQL oracle replays the whole block layout."""
    from ctgov_ai_etl_spark.functions.tarmeta import build_tar

    def row(rid: Any, text: Any) -> Iterator[tuple]:
        t = str(text)
        d = _md5(t)
        members = []
        for k in range(2 + d[0] % 3):
            body = t[k * 31 : k * 31 + 13 + ((d[1] + k) % 9)]
            members.append((f"{int(rid):05d}-{k}.txt", body.encode()))
            members.append(
                (f"{int(rid):05d}-{k}.cls", str((d[2] + k) % 10).encode())
            )
        yield (build_tar(members),)

    return _python_stage(df, id_col, text_col, "blob binary", row, spread)


def tar_members_real(
    df: DataFrame, id_col: str, blob_col: str = "blob"
) -> DataFrame:
    """REAL ustar member walk (functions/tarmeta.py): checksum-
    verified headers, size-driven block arithmetic, end-of-archive
    marker — exploded one row per member with the exact header-block
    byte offset, so the oracle's closed-form running sum
    (512 + 512*ceil(size/512) per predecessor) hash-checks the whole
    shard layout.  Arrow-batched, no keyed shuffle."""
    from ctgov_ai_etl_spark.functions.tarmeta import parse_tar_members

    def row(rid: Any, data: Any) -> Iterator[tuple]:
        for j, r in enumerate(parse_tar_members(bytes(data))):
            yield j, r["name"], r["size"], r["offset"]

    return _python_stage(
        df, id_col, blob_col,
        "member_idx int, name string, size int, offset int", row,
    )


def wds_samples_real(
    df: DataFrame, id_col: str, blob_col: str = "blob"
) -> DataFrame:
    """WebDataset sample assembly: walk the shard WITH contents and
    group adjacent members by the first-dot key rule
    (functions/tarmeta.py:sample_key) — one output row per sample
    carrying part count, payload bytes, the .txt length, and the
    LABEL decoded from the .cls member's content, so the oracle
    checks content extraction through the container, not just
    framing.  Grouping happens inside the task (members of a sample
    are adjacent in a well-formed shard): no keyed shuffle, the same
    locality a real WebDataset loader exploits at 100 TB."""
    from ctgov_ai_etl_spark.functions.tarmeta import (
        parse_tar_members,
        sample_key,
    )

    def row(rid: Any, data: Any) -> Iterator[tuple]:
        # key -> [n_parts, payload_bytes, txt_len, label], in first-seen order
        samples: dict[str, list] = {}
        for rec in parse_tar_members(bytes(data), include_content=True):
            s = samples.setdefault(sample_key(rec["name"]), [0, 0, 0, None])
            s[0] += 1
            s[1] += rec["size"]
            if rec["name"].endswith(".txt"):
                s[2] = rec["size"]
            elif rec["name"].endswith(".cls"):
                s[3] = int(rec["content"].decode("ascii"))
        for key, s in samples.items():
            yield (key, *s)

    return _python_stage(
        df, id_col, blob_col,
        "sample_id string, n_parts int, payload_bytes int, txt_len int,"
        " label int",
        row,
    )


def render_test_warcgz(
    df: DataFrame, id_col: str, text_col: str = "text", spread: bool = False
) -> DataFrame:
    """Synthesize REAL ``.warc.gz`` payloads: the SAME record
    parameters as render_test_warc (md5-derived types/statuses/body
    slices), but each record compressed as its OWN gzip member and
    the members concatenated — the ISO 28500 annex framing actual web
    archives use so records are seekable without inflating the whole
    file.  functions/gzipmeta.py + functions/warc.py."""
    from ctgov_ai_etl_spark.functions.gzipmeta import build_gzip_members
    from ctgov_ai_etl_spark.functions.warc import build_record

    def row(rid: Any, text: Any) -> Iterator[tuple]:
        recs = _warc_records(rid, text)
        yield (build_gzip_members([build_record(*r) for r in recs]),)

    return _python_stage(df, id_col, text_col, "blob binary", row, spread)


def warcgz_records_real(
    df: DataFrame, id_col: str, blob_col: str = "blob"
) -> DataFrame:
    """REAL ``.warc.gz`` walk: split the concatenated gzip members
    (CRC-32/ISIZE re-verified per member — functions/gzipmeta.py),
    inflate each, and require it to hold EXACTLY ONE well-formed WARC
    record (the seekability contract archives rely on; a member
    holding zero or two records fails loudly).  Emits the CDX row per
    member plus ``record_bytes``, the inflated record length — which,
    unlike the compressed offsets, IS closed-form replayable, so the
    oracle still pins the byte layout of every record through the
    compression layer.  Arrow-batched, no keyed shuffle."""
    from ctgov_ai_etl_spark.functions.gzipmeta import parse_gzip_members
    from ctgov_ai_etl_spark.functions.warc import WarcError, parse_warc_records

    def row(rid: Any, data: Any) -> Iterator[tuple]:
        for j, m in enumerate(parse_gzip_members(bytes(data))):
            recs = parse_warc_records(m["body"])
            if len(recs) != 1:
                raise WarcError(
                    f"gzip member {j} holds {len(recs)} WARC "
                    "records; .warc.gz requires exactly one"
                )
            r = recs[0]
            yield (
                j, r["warc_type"], r["target_uri"], r["http_status"],
                r["content_length"], m["n_bytes"],
            )

    return _python_stage(
        df, id_col, blob_col,
        "member_idx int, warc_type string, target_uri string,"
        " http_status int, content_length int, record_bytes int",
        row,
    )


def render_test_zip(
    df: DataFrame, id_col: str, text_col: str = "text", spread: bool = False
) -> DataFrame:
    """Synthesize REAL STORED-method ZIP archives deterministically
    from md5(text) (functions/zipmeta.py): 2+d0%4 entries per
    document named ``{doc:05d}-{k}.txt``, bodies the text slices
    [k*27, k*27 + 14+((d1+k)%12)) including truncated/empty overflow
    cases — local headers, central directory, EOCD, and real CRC-32s
    all written byte-exactly so the SQL oracle replays the layout."""
    from ctgov_ai_etl_spark.functions.zipmeta import build_zip

    def row(rid: Any, text: Any) -> Iterator[tuple]:
        t = str(text)
        d = _md5(t)
        yield (
            build_zip([
                (
                    f"{int(rid):05d}-{k}.txt",
                    t[k * 27 : k * 27 + 14 + ((d[1] + k) % 12)].encode(),
                )
                for k in range(2 + d[0] % 4)
            ]),
        )

    return _python_stage(df, id_col, text_col, "blob binary", row, spread)


def zip_entries_real(
    df: DataFrame, id_col: str, blob_col: str = "blob"
) -> DataFrame:
    """REAL ZIP walk (functions/zipmeta.py): EOCD located from the
    end, central directory parsed, every entry cross-checked against
    its local header and CRC-32-verified — exploded one row per entry
    with the local-header byte offset the oracle recomputes as a
    running sum (STORED members make the layout closed-form).
    Arrow-batched, no keyed shuffle."""
    from ctgov_ai_etl_spark.functions.zipmeta import parse_zip_entries

    def row(rid: Any, data: Any) -> Iterator[tuple]:
        for j, r in enumerate(parse_zip_entries(bytes(data))):
            yield j, r["name"], r["n_bytes"], r["local_offset"]

    return _python_stage(
        df, id_col, blob_col,
        "entry_idx int, name string, n_bytes int, local_offset int", row,
    )
