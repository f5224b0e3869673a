"""Multimodal-column queries: binary plumbing (oracle-checked) and the
decode/frame-sample stubs (rows-only — deterministic fakes behind real
mapInPandas plumbing)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ctgov_ai_etl_spark.operators.multimodal import (
    attach_blob,
    decode_image_features,
    frame_sample,
)
from ctgov_ai_etl_spark.queries.registry import query
from ctgov_ai_etl_spark.tables import load_table


@query(
    "mm_binary_plumbing",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           sha256(text) AS sha_hex,
           'text/plain' AS mime
    FROM documents
    """,
)
def mm_binary_plumbing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary column + typed metadata struct: byte length and sha256
    computed on the blob (engine-independent hex) — the storage shape
    every media op builds on."""
    d = load_table(spark, sf_dir, "documents")
    packed = attach_blob(d, "text")
    return packed.select(
        "doc_id",
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.sha256").alias("sha_hex"),
        F.col("media_meta.mime").alias("mime"),
    )


@query(
    "mm_decode_features",
    oracle="""
    SELECT doc_id,
           CAST(64 + CAST(concat('0x', substr(sha256(text), 1, 2)) AS INT) % 192 AS INT) AS width,
           CAST(64 + CAST(concat('0x', substr(sha256(text), 3, 2)) AS INT) % 192 AS INT) AS height,
           round(CAST(concat('0x', substr(sha256(text), 5, 2)) AS INT) / 255.0, 6) AS mean_luma
    FROM documents
    """,
)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched 'image decode' over the blob column (deterministic
    fake kernel — the real codec drops into the same mapInPandas seam).
    The fake derives features from the payload's sha256, so the oracle
    replays it in SQL and the whole mapInPandas path — schema, Arrow
    batching, worker-side package import — is hash-checked."""
    d = load_table(spark, sf_dir, "documents")
    return decode_image_features(attach_blob(d, "text"), "doc_id")


@query(
    "mm_decode_real",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             1 + CAST(('0x' || substr(md5(text), 1, 2)) AS INT) % 16 AS w,
             1 + CAST(('0x' || substr(md5(text), 3, 2)) AS INT) % 16 AS h,
             CAST(('0x' || substr(md5(text), 5, 2)) AS INT) AS v,
             CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS ch
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'png' END AS fmt,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           round(CAST(list_aggregate(
                        list_transform(range(0, w * h * ch),
                                       j -> (v + j) % 256),
                        'sum') AS BIGINT)
                 / CAST(w * h * ch AS BIGINT) / 255.0, 6) AS mean_luma
    FROM base
    """,
)
def mm_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENUINE image decode, hash-checked end-to-end: synthesize real
    PPM (even doc_id) and 8-bit PNG payloads (odd doc_id, scanline
    filters cycling through all five types) from md5-derived geometry,
    then decode them back with the stdlib codecs
    (functions/imagecodec.py) — byte-level header parsing, zlib
    inflate, and Sub/Up/Average/Paeth unfiltering all sit between the
    encoder and the emitted features, so any codec defect breaks the
    oracle match.  The oracle never touches image bytes: it replays
    the md5-derived geometry and the closed-form raster sum
    ((v+j) % 256 over the raster) in SQL.  mean_luma is two
    fixed-order IEEE divisions over exact integers on both sides.
    Scale: two Arrow-batched mapInPandas stages, no keyed shuffle — codec
    work distributes embarrassingly at 100 TB."""
    from ctgov_ai_etl_spark.operators.multimodal import (
        decode_image_real,
        render_test_images,
    )

    d = load_table(spark, sf_dir, "documents")
    rendered = render_test_images(d, "doc_id")
    decoded = decode_image_real(rendered, "doc_id")
    return decoded.select(
        "doc_id",
        "fmt",
        "width",
        "height",
        F.round(
            F.col("luma_sum") / F.col("n_samples") / F.lit(255.0), 6
        ).alias("mean_luma"),
    )


@query(
    "mm_frame_sample",
    oracle="""
    SELECT doc_id,
           CAST(i AS INT) AS frame_idx,
           substr(sha256(substr(text, CAST(i * 40 + 1 AS INT), 40)), 1, 16) AS frame_sig
    FROM documents,
         unnest(range(greatest(1, CAST(octet_length(encode(text)) // 40 AS BIGINT)))) AS t(i)
    WHERE doc_id < 50
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling shape: one blob → N frame rows, exploded inside
    the task so large media never materializes as single rows.  Stub
    frames are sha256 slices of the byte chunks, so the SQL oracle
    replays them exactly (documents.text is ASCII: char positions ==
    byte positions). Sampled on a 50-doc slice."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return frame_sample(attach_blob(d, "text"), "doc_id", every_n=40)


@query(
    "mm_decode_audio",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             1 + CAST(('0x' || substr(md5(text), 1, 2)) AS INT) % 2 AS ch,
             50 + CAST(('0x' || substr(md5(text), 3, 2)) AS INT) AS n_frames,
             CAST(('0x' || substr(md5(text), 5, 2)) AS INT) AS v
      FROM documents
    )
    SELECT doc_id,
           CAST(ch AS INT) AS channels,
           8000 AS sample_rate,
           CAST(n_frames AS INT) AS n_frames,
           round(CAST(list_aggregate(
                   list_transform(range(0, n_frames * ch),
                     j -> abs(((v * 131 + j * 7919) % 65536) - 32768)),
                   'sum') AS BIGINT)
                 / CAST(n_frames * ch AS BIGINT) / 32768.0, 6) AS mean_abs
    FROM base
    """,
)
def mm_decode_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENUINE audio decode, hash-checked end-to-end (the audio leg of
    mm_decode_real): synthesize RIFF/PCM-16 WAV payloads from
    md5-derived parameters, decode them back with the stdlib chunk
    walker + int16 unpack — endianness, RIFF padding, and the
    fmt/data layout all sit between encoder and statistic, so any
    codec defect breaks the oracle match.  The oracle replays the
    closed-form PCM pattern in SQL, never touching bytes.  Two
    Arrow-batched mapInPandas stages, no keyed shuffle."""
    from ctgov_ai_etl_spark.operators.multimodal import (
        decode_audio_real,
        render_test_audio,
    )

    d = load_table(spark, sf_dir, "documents")
    decoded = decode_audio_real(render_test_audio(d, "doc_id"), "doc_id")
    return decoded.select(
        "doc_id",
        "channels",
        F.lit(8000).alias("sample_rate"),
        "n_frames",
        F.round(
            F.col("abs_sum")
            / (F.col("n_frames").cast("long") * F.col("channels"))
            / F.lit(32768.0),
            6,
        ).alias("mean_abs"),
    )


@query(
    "mm_decode_jpeg",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             8 * (1 + CAST(('0x' || substr(md5(text), 1, 2)) AS INT) % 4)
               AS w,
             8 * (1 + CAST(('0x' || substr(md5(text), 3, 2)) AS INT) % 4)
               AS h,
             CAST(('0x' || substr(md5(text), 5, 2)) AS INT) AS v
      FROM documents
    )
    SELECT doc_id,
           CAST(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END AS INT) AS rst,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           round(CAST(64 * list_aggregate(
                   list_transform(range(0, (w // 8) * (h // 8)),
                                  b -> (v + 17 * b) % 256),
                   'sum') AS BIGINT)
                 / CAST(w * h AS BIGINT) / 255.0, 6) AS mean_luma
    FROM base
    """,
)
def mm_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENUINE baseline-JPEG decode, hash-checked end-to-end — the
    last stdlib-feasible codec format, retiring the JPEG seam:
    synthesize real JFIF payloads (grids of constant 8x8 blocks from
    md5-derived geometry; odd ids add a restart marker per MCU),
    decode with the pure-Python baseline decoder
    (functions/jpegcodec.py: marker walk, canonical Huffman,
    DC-differential prediction, RST predictor resets, dequant,
    zigzag, 8x8 IDCT) and report geometry + mean luma.  With a flat
    quantization table, constant blocks are DC-only and round-trip
    EXACTLY (F(0,0)=8*(g-128); the IDCT reconstructs g-128 within
    sub-ulp error before the integer rounding), so the oracle
    replays the closed-form block-value sum (64 * sum over blocks of
    (v+17b) % 256) in SQL without touching bytes — any defect in the
    Huffman tables, bit reader, predictor resets, or IDCT scaling
    shifts luma_sum and fails the hash.  Two Arrow-batched
    mapInPandas stages, no keyed shuffle: codec work distributes
    embarrassingly at 100 TB."""
    from ctgov_ai_etl_spark.operators.multimodal import (
        decode_image_real,
        render_test_jpegs,
    )

    d = load_table(spark, sf_dir, "documents")
    decoded = decode_image_real(
        render_test_jpegs(d, "doc_id", spread=True), "doc_id"
    )
    return decoded.select(
        "doc_id",
        "rst",
        "width",
        "height",
        F.round(
            F.col("luma_sum") / F.col("n_samples") / F.lit(255.0), 6
        ).alias("mean_luma"),
    )


@query(
    "mm_decode_video",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             2 * (1 + CAST(('0x' || substr(md5(text), 1, 2)) AS INT) % 8) AS w,
             2 * (1 + CAST(('0x' || substr(md5(text), 3, 2)) AS INT) % 8) AS h,
             CAST(('0x' || substr(md5(text), 5, 2)) AS INT) AS v,
             1 + CAST(('0x' || substr(md5(text), 7, 2)) AS INT) % 6 AS nf
      FROM documents
    )
    SELECT doc_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(nf AS INT) AS n_frames,
           round(CAST(list_aggregate(
                   list_transform(range(0, nf * w * h),
                     k -> (v + (k // (w * h)) * 17 + (k % (w * h))) % 256),
                   'sum') AS BIGINT)
                 / CAST(nf * w * h AS BIGINT) / 255.0, 6) AS mean_luma
    FROM base
    """,
)
def mm_decode_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENUINE video decode, hash-checked end-to-end — the video leg
    completing the multimodal family (image: mm_decode_real, audio:
    mm_decode_audio): synthesize real YUV4MPEG2 streams from
    md5-derived parameters, decode with the stdlib header parse +
    structural FRAME walk (a mis-sized chroma skip desynchronizes
    every later frame marker — the walk is load-bearing), and report
    per-stream frame count + mean luma.  Oracle replays the
    closed-form Y-plane pattern in SQL.  Two Arrow-batched
    mapInPandas stages, no keyed shuffle."""
    from ctgov_ai_etl_spark.operators.multimodal import (
        decode_video_real,
        render_test_video,
    )

    d = load_table(spark, sf_dir, "documents")
    decoded = decode_video_real(render_test_video(d, "doc_id"), "doc_id")
    return decoded.select(
        "doc_id",
        "width",
        "height",
        "n_frames",
        F.round(
            F.col("luma_sum")
            / (
                F.col("n_frames").cast("long")
                * F.col("width")
                * F.col("height")
            )
            / F.lit(255.0),
            6,
        ).alias("mean_luma"),
    )


@query(
    "mm_resize_real",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             1 + CAST(('0x' || substr(md5(text), 1, 2)) AS INT) % 16 AS w,
             1 + CAST(('0x' || substr(md5(text), 3, 2)) AS INT) % 16 AS h,
             CAST(('0x' || substr(md5(text), 5, 2)) AS INT) AS v,
             CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS ch
      FROM documents
    ),
    dims AS (
      SELECT doc_id, w, h, v, ch,
             (w + 1) // 2 AS wo, (h + 1) // 2 AS ho
      FROM base
    )
    SELECT doc_id,
           CAST(wo AS INT) AS width_out,
           CAST(ho AS INT) AS height_out,
           round(CAST(list_aggregate(
                   list_transform(range(0, wo * ho * ch),
                     k -> (v + ((2 * (k // (wo * ch))) * w
                                + 2 * ((k % (wo * ch)) // ch)) * ch
                             + (k % ch)) % 256),
                   'sum') AS BIGINT)
                 / CAST(wo * ho * ch AS BIGINT) / 255.0, 6) AS mean_luma
    FROM dims
    """,
)
def mm_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENUINE image resize, hash-checked end-to-end: render real
    PPM/PNG payloads, decode them to raw pixels (full PNG unfilter
    walk included), nearest-neighbor downscale by 2, and report the
    resized geometry + mean luma.  The oracle replays the resize as
    pure index arithmetic over the closed-form source pattern
    ((v + j) % 256 at source index ((2r)·w + 2c)·ch + t) — any
    defect in the decoder, the unfilterer, or the sampling stride
    breaks the hash.  Output dims are ceil(dim/2) so 1-pixel images
    survive.  Two Arrow-batched mapInPandas stages, no keyed shuffle."""
    from ctgov_ai_etl_spark.operators.multimodal import (
        render_test_images,
        resize_image_real,
    )

    d = load_table(spark, sf_dir, "documents")
    resized = resize_image_real(render_test_images(d, "doc_id"), "doc_id")
    return resized.select(
        "doc_id",
        "width_out",
        "height_out",
        F.round(
            F.col("luma_sum") / F.col("n_samples") / F.lit(255.0), 6
        ).alias("mean_luma"),
    )


@query(
    "mm_frame_sample_real",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             2 * (1 + CAST(('0x' || substr(md5(text), 1, 2)) AS INT) % 8) AS w,
             2 * (1 + CAST(('0x' || substr(md5(text), 3, 2)) AS INT) % 8) AS h,
             CAST(('0x' || substr(md5(text), 5, 2)) AS INT) AS v,
             1 + CAST(('0x' || substr(md5(text), 7, 2)) AS INT) % 6 AS nf
      FROM documents
    )
    SELECT doc_id,
           CAST(i AS INT) AS frame_idx,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(list_aggregate(
                  list_transform(range(0, w * h),
                    j -> (v + i * 17 + j) % 256),
                  'sum') AS BIGINT) AS luma_sum
    FROM base, unnest(range(0, nf)) AS t(i)
    WHERE i % 2 = 0
    """,
)
def mm_frame_sample_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENUINE video frame sampling, hash-checked per frame: walk the
    real YUV4MPEG2 stream, keep every 2nd frame, emit one row per
    sampled frame with its exact Y-plane sum.  Upgrades
    mm_frame_sample's stub to the real container: the frame EXPLODE
    happens inside the Arrow task (a long stream never materializes
    as one row), and the structural chroma skips are load-bearing for
    every sampled frame's byte offsets.  The oracle replays the
    closed-form per-frame pattern (v + f·17 + j) % 256 for even f.
    Zero shuffle."""
    from ctgov_ai_etl_spark.operators.multimodal import (
        render_test_video,
        sample_video_frames_real,
    )

    d = load_table(spark, sf_dir, "documents")
    return sample_video_frames_real(
        render_test_video(d, "doc_id"), "doc_id", every_n=2
    )


@query(
    "mm_audio_downsample",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             1 + CAST(('0x' || substr(md5(text), 1, 2)) AS INT) % 2 AS ch,
             50 + CAST(('0x' || substr(md5(text), 3, 2)) AS INT) AS nf,
             CAST(('0x' || substr(md5(text), 5, 2)) AS INT) AS v
      FROM documents
    ),
    dims AS (SELECT doc_id, ch, nf, v, (nf + 1) // 2 AS nfo FROM base)
    SELECT doc_id,
           CAST(ch AS INT) AS channels,
           4000 AS sample_rate_out,
           CAST(nfo AS INT) AS n_frames_out,
           round(CAST(list_aggregate(
                   list_transform(range(0, nfo * ch),
                     k -> abs(((v * 131
                                + (2 * (k // ch) * ch + (k % ch)) * 7919)
                               % 65536) - 32768)),
                   'sum') AS BIGINT)
                 / CAST(nfo * ch AS BIGINT) / 32768.0, 6) AS mean_abs
    FROM dims
    """,
)
def mm_audio_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENUINE audio decimation, hash-checked end-to-end — the audio
    leg of the sample-level kernel family (image: mm_resize_real,
    video: mm_frame_sample_real): decode real RIFF/PCM-16 streams to
    raw int16 samples, keep every 2nd frame (both channels of it),
    and report the decimated loudness at the halved sample rate.
    The oracle replays the kept-frame index arithmetic over the
    closed-form PCM pattern — a wrong frame stride, channel
    interleave, or endianness breaks the hash.  Two Arrow-batched
    mapInPandas stages, no keyed shuffle."""
    from ctgov_ai_etl_spark.operators.multimodal import (
        downsample_audio_real,
        render_test_audio,
    )

    d = load_table(spark, sf_dir, "documents")
    dec = downsample_audio_real(
        render_test_audio(d, "doc_id"), "doc_id", every_n=2
    )
    return dec.select(
        "doc_id",
        "channels",
        "sample_rate_out",
        "n_frames_out",
        F.round(
            F.col("abs_sum")
            / (F.col("n_frames_out").cast("long") * F.col("channels"))
            / F.lit(32768.0),
            6,
        ).alias("mean_abs"),
    )


@query(
    "mm_dedup_phash",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             1 + CAST(('0x' || substr(md5(text), 1, 2)) AS INT) % 16 AS w,
             1 + CAST(('0x' || substr(md5(text), 3, 2)) AS INT) % 16 AS h,
             CAST(('0x' || substr(md5(text), 5, 2)) AS INT) AS v,
             CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS ch
      FROM documents
    ),
    hashed AS (
      SELECT doc_id,
             CAST(list_aggregate(list_transform(range(0, 32), k ->
               CASE WHEN
                 (v + (((k // 8) * h // 8) * w + ((k % 8) * w // 9)) * ch)
                   % 256
                 > (v + (((k // 8) * h // 8) * w + (((k % 8) + 1) * w // 9))
                      * ch) % 256
               THEN 1 << k ELSE 0 END), 'sum') AS BIGINT) AS hash_hi,
             CAST(list_aggregate(list_transform(range(32, 64), k ->
               CASE WHEN
                 (v + (((k // 8) * h // 8) * w + ((k % 8) * w // 9)) * ch)
                   % 256
                 > (v + (((k // 8) * h // 8) * w + (((k % 8) + 1) * w // 9))
                      * ch) % 256
               THEN 1 << (k - 32) ELSE 0 END), 'sum') AS BIGINT) AS hash_lo
      FROM base
    )
    SELECT doc_id, hash_hi, hash_lo,
           CAST(count(*) OVER (PARTITION BY hash_hi, hash_lo) AS INT)
             AS n_dupes
    FROM hashed
    """,
)
def mm_dedup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup on the REAL codec path — the multimodal
    twin of the text dedup family: render genuine PPM/PNG payloads,
    decode to raw pixels (PNG unfilter walk included), dHash each
    (9x8 nearest resample + adjacent-pixel comparisons, two 32-bit
    halves), and count collisions per fingerprint — the blocking key
    an image-dedup pipeline buckets on.

    The oracle replays the ENTIRE decode→resample→compare chain as
    closed-form integer index arithmetic over the md5-derived source
    pattern — any defect in the decoder, the floor index map, or the
    bit packing breaks the hash.  Scale story: fingerprinting is one
    Arrow-batched mapInPandas stage with no keyed shuffle; the only
    exchange is the collision window on the 64-bit key (at 100 TB:
    a hash-bucket join, same as dedup_exact_group)."""
    from pyspark.sql import Window as W

    from ctgov_ai_etl_spark.operators.multimodal import (
        dhash_images_real,
        render_test_images,
    )

    d = load_table(spark, sf_dir, "documents")
    hashed = dhash_images_real(
        render_test_images(d, "doc_id", spread=True), "doc_id"
    )
    return hashed.select(
        "doc_id",
        "hash_hi",
        "hash_lo",
        F.count(F.lit(1))
        .over(W.partitionBy("hash_hi", "hash_lo"))
        .cast("int")
        .alias("n_dupes"),
    )


@query(
    "mm_video_scene_cuts",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             2 * (1 + CAST(('0x' || substr(md5(text), 1, 2)) AS INT) % 8) AS w,
             2 * (1 + CAST(('0x' || substr(md5(text), 3, 2)) AS INT) % 8) AS h,
             CAST(('0x' || substr(md5(text), 5, 2)) AS INT) AS v,
             1 + CAST(('0x' || substr(md5(text), 7, 2)) AS INT) % 6 AS nf
      FROM documents
    ),
    sums AS (
      SELECT doc_id, w, h, i,
             CAST(list_aggregate(
               list_transform(range(0, w * h),
                 j -> (v + i * 17 + j) % 256), 'sum') AS BIGINT) AS fsum
      FROM base, unnest(range(0, nf)) AS t(i)
    ),
    deltas AS (
      SELECT doc_id, CAST(i AS INT) AS frame_idx,
             abs(fsum - lag(fsum) OVER (PARTITION BY doc_id ORDER BY i))
               AS delta,
             w * h AS px
      FROM sums
    )
    SELECT doc_id, frame_idx, CAST(delta AS BIGINT) AS delta
    FROM deltas
    WHERE delta IS NOT NULL AND delta * 10 > CAST(px AS BIGINT) * 170
    """,
)
def mm_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection on the REAL video path: walk each Y4M
    stream's frames (structural chroma skips load-bearing), take the
    per-frame luma sums, and flag frames whose absolute luma delta
    from the previous frame exceeds 17 per pixel — the cheap
    first-pass cut detector every video pipeline runs before
    expensive per-frame models.  The threshold compare is
    cross-multiplied integers (delta·10 > pixels·170 — no division).

    Scale story: frame sums come out of the zero-shuffle Arrow codec
    stage one row per frame; the adjacent-frame lag is a per-doc
    window over ≤ n_frames rows on one doc_id exchange.  Oracle:
    closed-form per-frame sums + the same lag/threshold in SQL."""
    from pyspark.sql import Window as W

    from ctgov_ai_etl_spark.operators.multimodal import (
        render_test_video,
        sample_video_frames_real,
    )

    d = load_table(spark, sf_dir, "documents")
    frames = sample_video_frames_real(
        render_test_video(d, "doc_id", spread=True), "doc_id", every_n=1
    )
    w = W.partitionBy("doc_id").orderBy("frame_idx")
    deltas = frames.select(
        "doc_id",
        "frame_idx",
        F.abs(
            F.col("luma_sum") - F.lag("luma_sum").over(w)
        ).alias("delta"),
        (F.col("width").cast("long") * F.col("height")).alias("px"),
    )
    return deltas.filter(
        F.col("delta").isNotNull()
        & (F.col("delta") * 10 > F.col("px") * 170)
    ).select("doc_id", "frame_idx", F.col("delta").cast("long").alias("delta"))


# ------------------------------------------ progressive JPEG decode


@query(
    "mm_decode_jpeg_progressive",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             8 * (1 + CAST(('0x' || substr(md5(text), 7, 2)) AS INT) % 4)
               AS w,
             8 * (1 + CAST(('0x' || substr(md5(text), 9, 2)) AS INT) % 4)
               AS h,
             CAST(('0x' || substr(md5(text), 11, 2)) AS INT) AS v
      FROM documents WHERE doc_id < 500
    )
    SELECT doc_id,
           CAST(CASE WHEN abs(doc_id) % 3 = 1 THEN 1 ELSE 0 END AS INT)
             AS rst,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           round(CAST(64 * list_aggregate(
                   list_transform(range(0, (w // 8) * (h // 8)),
                                  b -> (v + 23 * b) % 256),
                   'sum') AS BIGINT)
                 / CAST(w * h AS BIGINT) / 255.0, 6) AS mean_luma
    FROM base
    """,
)
def mm_decode_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENUINE progressive (SOF2) JPEG decode, hash-checked
    end-to-end — the most common web-crawl encoding, closing the last
    stdlib-feasible gap in the modality matrix: synthesize real SOF2
    payloads (spectral-selection bands + successive-approximation DC
    and AC passes with EOB-run coding; ids with abs(id)%3==1 add
    restart markers inside every scan), decode with the pure-Python
    coefficient-domain multi-scan decoder
    (functions/jpegcodec.py: per-band Huffman scans accumulate
    quantized coefficients, one dequant+IDCT pass at EOI) and report
    geometry + mean luma.  Constant blocks under the flat quant table
    are DC-only and the DC first+refinement passes reassemble the
    exact value, so the oracle replays the closed-form block-value
    sum in SQL; any defect in band walks, EOB runs, refinement bits,
    or predictor resets shifts luma_sum and fails the hash.  The
    random-AC path is pinned bit-for-bit against the baseline decoder
    in tests/test_jpegcodec.py.  Two Arrow-batched mapInPandas
    stages, no keyed shuffle: codec work distributes embarrassingly at
    100 TB."""
    from ctgov_ai_etl_spark.operators.multimodal import (
        decode_image_real,
        render_test_jpegs_progressive,
    )

    # bench-slice cap: documents carry 500 rows at sf0.001/sf0.01
    # (cap is a no-op there — correctness evidence unchanged) and
    # 5,000 at sf0.1, where the pure-Python progressive encoder
    # billed 7.8 s for identical evidence (r11 bench)
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 500
    )
    decoded = decode_image_real(
        render_test_jpegs_progressive(d, "doc_id", spread=True), "doc_id"
    )
    return decoded.select(
        "doc_id",
        "rst",
        "width",
        "height",
        F.round(
            F.col("luma_sum") / F.col("n_samples") / F.lit(255.0), 6
        ).alias("mean_luma"),
    )


# --------------------------------------------------- GIF decode


@query(
    "mm_decode_gif",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             1 + CAST(('0x' || substr(md5(text), 13, 2)) AS INT) % 24 AS w,
             1 + CAST(('0x' || substr(md5(text), 15, 2)) AS INT) % 24 AS h,
             CAST(('0x' || substr(md5(text), 17, 2)) AS INT) AS v,
             1 + CAST(('0x' || substr(md5(text), 19, 2)) AS INT) % 3 AS nf
      FROM documents WHERE doc_id < 500
    )
    SELECT doc_id,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(nf AS INT) AS n_frames,
           round(CAST(3 * list_aggregate(
                   list_transform(range(0, w * h),
                                  j -> (v + 13 * (j % 16)) % 256),
                   'sum') AS BIGINT)
                 / CAST(w * h * 3 AS BIGINT) / 255.0, 6) AS mean_luma0,
           round(CAST(3 * list_aggregate(
                   list_transform(range(0, w * h),
                                  j -> (v + 13 * ((j + nf - 1) % 16)) % 256),
                   'sum') AS BIGINT)
                 / CAST(w * h * 3 AS BIGINT) / 255.0, 6) AS mean_luma_last
    FROM base
    """,
)
def mm_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENUINE animated-GIF decode, hash-checked end-to-end:
    synthesize real GIF89a payloads (md5-derived geometry, 16-entry
    grayscale palette, 1-3 animation frames whose pixel indices shift
    per frame, odd ids INTERLACED) with the pure-Python encoder, run
    them back through the real LZW decoder
    (functions/gifcodec.py: LSB-first variable-width codes, KwKwK,
    dictionary resets, four-pass de-interlacing, frame compositing)
    and report geometry, frame count, and first/last-frame mean luma.
    The palette model makes decode EXACT, so the oracle replays the
    closed-form palette sums in SQL without touching bytes — a wrong
    LZW widening rule, interlace pass, or frame walk shifts a sum and
    fails the hash.  One Arrow-batched mapInPandas stage, zero
    shuffle: codec work distributes embarrassingly at 100 TB."""
    from ctgov_ai_etl_spark.operators.multimodal import (
        render_and_decode_test_gifs,
    )

    # bench-slice cap: no-op at sf0.001/sf0.01 (500 docs), 10x cut
    # for the pure-Python LZW bill at sf0.1
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 500
    )
    g = render_and_decode_test_gifs(d, "doc_id")
    return g.select(
        "doc_id",
        "width",
        "height",
        "n_frames",
        F.round(
            F.col("luma0_sum") / F.col("n_samples") / F.lit(255.0), 6
        ).alias("mean_luma0"),
        F.round(
            F.col("luma_last_sum") / F.col("n_samples") / F.lit(255.0), 6
        ).alias("mean_luma_last"),
    )


# ------------------------------------------------------ BMP decode


@query(
    "mm_decode_bmp",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             1 + CAST(('0x' || substr(md5(text), 21, 2)) AS INT) % 16 AS w,
             1 + CAST(('0x' || substr(md5(text), 23, 2)) AS INT) % 16 AS h,
             CAST(('0x' || substr(md5(text), 25, 2)) AS INT) AS v
      FROM documents
    )
    SELECT doc_id,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           round(CAST(list_aggregate(
                   list_transform(range(0, w * h * 3),
                                  j -> (v + 7 * j) % 256),
                   'sum') AS BIGINT)
                 / CAST(w * h * 3 AS BIGINT) / 255.0, 6) AS mean_luma
    FROM base
    """,
)
def mm_decode_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENUINE 24-bit BMP decode, hash-checked end-to-end: synthesize
    real BMP payloads (bottom-up rows, BGR sample order, 4-byte row
    padding — the header quirks that break naive readers), decode
    through the magic-byte dispatcher (functions/imagecodec.py:
    decode_bmp) and report geometry + mean luma; the closed-form
    oracle replays the raster sum in SQL.  With netpbm, PNG, baseline
    + progressive JPEG, animated GIF, WAV, and Y4M this completes
    every stdlib-decodable still-image container.  Two Arrow-batched
    mapInPandas stages, no keyed shuffle."""
    from ctgov_ai_etl_spark.operators.multimodal import (
        decode_image_real,
        render_test_bmps,
    )

    d = load_table(spark, sf_dir, "documents")
    decoded = decode_image_real(render_test_bmps(d, "doc_id"), "doc_id")
    return decoded.select(
        "doc_id",
        "width",
        "height",
        F.round(
            F.col("luma_sum") / F.col("n_samples") / F.lit(255.0), 6
        ).alias("mean_luma"),
    )


# --------------------------------------- audio feature extraction


@query(
    "mm_audio_features",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             1 + CAST(('0x' || substr(md5(text), 1, 2)) AS INT) % 2 AS ch,
             50 + CAST(('0x' || substr(md5(text), 3, 2)) AS INT) AS nf,
             CAST(('0x' || substr(md5(text), 5, 2)) AS INT) AS v
      FROM documents
    ),
    per_ch AS (
      SELECT doc_id, ch, nf, v, CAST(c AS INT) AS channel
      FROM base, unnest(range(ch)) AS t(c)
    ),
    feats AS (
      SELECT doc_id, channel, nf,
             CAST(list_aggregate(
               list_transform(range(1, nf), k ->
                 CASE WHEN (((v * 131 + (k * ch + channel) * 7919)
                             % 65536) - 32768 >= 0)
                      <> (((v * 131 + ((k - 1) * ch + channel) * 7919)
                           % 65536) - 32768 >= 0)
                      THEN 1 ELSE 0 END),
               'sum') AS BIGINT) AS zcr,
             CAST(list_aggregate(
               list_transform(range(0, nf), k ->
                 (((v * 131 + (k * ch + channel) * 7919) % 65536)
                  - 32768)
                 * (((v * 131 + (k * ch + channel) * 7919) % 65536)
                    - 32768)),
               'sum') AS BIGINT) AS sq_sum
      FROM per_ch
    )
    SELECT doc_id, channel, CAST(nf AS INT) AS n_frames, zcr, sq_sum,
           round(CAST(zcr AS DOUBLE) / (nf - 1), 6) AS zcr_rate,
           round(sqrt(CAST(sq_sum AS DOUBLE) / nf) / 32768.0, 6) AS rms
    FROM feats
    """,
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel audio features (zero-crossing rate + RMS energy —
    the first two columns of any speech/music feature table), decoded
    from REAL synthesized RIFF/PCM-16 WAVs end-to-end: the chunk walk,
    int16 unpack, and channel de-interleave all sit between the
    encoder and the statistic (operators/multimodal.py:
    audio_features_real).  ZCR and Σs² are exact order-free integers;
    the rate/RMS divisions are single fixed-order double expressions
    the oracle replays from the closed-form PCM pattern without
    touching bytes.  One Arrow-batched mapInPandas stage, zero
    shuffle — feature extraction distributes embarrassingly at
    100 TB."""
    from ctgov_ai_etl_spark.operators.multimodal import (
        audio_features_real,
        render_test_audio,
    )

    d = load_table(spark, sf_dir, "documents")
    f = audio_features_real(render_test_audio(d, "doc_id"), "doc_id")
    return f.select(
        "doc_id",
        "channel",
        "n_frames",
        "zcr",
        "sq_sum",
        F.round(
            F.col("zcr").cast("double") / (F.col("n_frames") - 1), 6
        ).alias("zcr_rate"),
        F.round(
            F.sqrt(F.col("sq_sum").cast("double") / F.col("n_frames"))
            / F.lit(32768.0),
            6,
        ).alias("rms"),
    )


# ------------------------------------------ 8-point DFT bin energies


def _dft8_oracle() -> str:
    from ctgov_ai_etl_spark.operators.multimodal import DFT8_COS, DFT8_SIN

    cos_lit = str(DFT8_COS)
    sin_lit = str(DFT8_SIN)
    x = (
        "(((v * 131 + ((k * ch) + channel) * 7919) % 65536) - 32768)"
    )
    return f"""
    WITH base AS (
      SELECT doc_id,
             1 + CAST(('0x' || substr(md5(text), 1, 2)) AS INT) % 2 AS ch,
             CAST(('0x' || substr(md5(text), 5, 2)) AS INT) AS v
      FROM documents
    ),
    per_ch AS (
      SELECT doc_id, ch, v, CAST(c AS INT) AS channel
      FROM base, unnest(range(ch)) AS t(c)
    ),
    bins AS (
      SELECT doc_id, channel, ch, v, CAST(m AS INT) AS bin
      FROM per_ch, unnest(range(5)) AS u(m)
    ),
    feats AS (
      SELECT doc_id, channel, bin,
             CAST(list_aggregate(list_transform(range(0, 8),
               k -> {x} * ({cos_lit})[bin + 1][k + 1]), 'sum')
               AS BIGINT) AS re,
             CAST(list_aggregate(list_transform(range(0, 8),
               k -> {x} * ({sin_lit})[bin + 1][k + 1]), 'sum')
               AS BIGINT) AS im
      FROM bins
    )
    SELECT doc_id, channel, bin,
           CAST(re * re + im * im AS BIGINT) AS energy
    FROM feats
    """


@query("mm_audio_dft8", oracle=_dft8_oracle())
def mm_audio_dft8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral bin energies of REAL decoded audio: the 8-point DFT
    over the first 8 PCM frames of each channel, with integer MILLI
    trig tables (operators/multimodal.py:DFT8_COS/SIN — one source
    for the numpy dot AND the oracle's literal lists).  re/im are
    exact int64 dot products of full-range int16 samples; energy =
    re² + im² stays under 2⁶³ by the milli (not micro) choice — the
    audio-fingerprinting primitive (Shazam-style constellations,
    VAD band energy) kept bit-replayable.

    Decode is the real RIFF chunk walk + int16 de-interleave; the
    oracle replays the synthesized PCM pattern closed-form without
    touching bytes (the mm_audio_features convention).  One
    Arrow-batched mapInPandas stage, no keyed shuffle."""
    from ctgov_ai_etl_spark.operators.multimodal import (
        audio_dft8_real,
        render_test_audio,
    )

    d = load_table(spark, sf_dir, "documents")
    return audio_dft8_real(render_test_audio(d, "doc_id"), "doc_id")


@query(
    "mm_decode_png_matrix",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             1 + CAST(('0x' || substr(md5(text), 1, 2)) AS INT) % 16 AS w,
             1 + CAST(('0x' || substr(md5(text), 3, 2)) AS INT) % 16 AS h,
             CAST(('0x' || substr(md5(text), 5, 2)) AS INT) AS v,
             CAST(doc_id % 6 AS INT) AS variant
      FROM documents
    )
    SELECT doc_id,
           variant,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CASE WHEN variant IN (0, 4) THEN
             CAST(list_aggregate(list_transform(range(0, w * h),
                    j -> (7 * ((v + j) % 16)) % 256
                       + (13 * ((v + j) % 16)) % 256
                       + (29 * ((v + j) % 16)) % 256), 'sum') AS BIGINT)
           WHEN variant = 2 THEN
             CAST(list_aggregate(list_transform(range(0, w * h * 3),
                    j -> (v + j) % 256), 'sum') AS BIGINT)
           WHEN variant = 5 THEN
             CAST(list_aggregate(list_transform(range(0, w * h),
                    j -> ((v + j) % 16) * 17), 'sum') AS BIGINT)
           ELSE
             CAST(list_aggregate(list_transform(range(0, w * h),
                    j -> (v + j) % 256), 'sum') AS BIGINT)
           END AS luma_sum,
           CAST(CASE WHEN variant IN (0, 2, 4) THEN w * h * 3
                     ELSE w * h END AS BIGINT) AS n_samples
    FROM base
    """,
)
def mm_decode_png_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-SPEC PNG decode, hash-checked end-to-end (covers the
    16-bit, interlaced and palette variants):
    synthesize six PNG variants per document — Adam7-interlaced
    palette, 16-bit greyscale, Adam7-interlaced 16-bit RGB, 8-bit
    grey+alpha, flat palette, 4-bit greyscale (hand-packed MSB-first
    nibbles; decoded samples scale by 255/15 = 17 exactly) — with
    scanline filters cycling through all five types on the byte-depth
    variants, then decode them back through the generalized stdlib
    codec (functions/imagecodec.py:decode_png_pixels: per-pass
    unfiltering at the spec's byte distance, MSB-first sub-byte
    unpacking, PLTE resolution, high-byte 16-bit decimation, alpha
    drop).  The low bytes of every 16-bit sample and every alpha byte
    deliberately carry a DIFFERENT series than the high/grey bytes, so
    a decoder that reads the wrong byte or averages alpha in fails the
    hash.  The oracle replays the md5-derived geometry and palette
    arithmetic closed-form in SQL, never touching image bytes.
    Scale: two Arrow-batched mapInPandas stages, no keyed shuffle — codec
    work distributes embarrassingly at 100 TB."""
    from ctgov_ai_etl_spark.operators.multimodal import (
        decode_image_real,
        render_png_matrix,
    )

    d = load_table(spark, sf_dir, "documents")
    decoded = decode_image_real(
        render_png_matrix(d, "doc_id", spread=True), "doc_id"
    )
    return decoded.select(
        "doc_id",
        "variant",
        "width",
        "height",
        F.col("luma_sum").cast("long").alias("luma_sum"),
        F.col("n_samples").cast("long").alias("n_samples"),
    )


@query(
    "mm_audio_mp3_meta",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             1 + CAST(('0x' || substr(md5(text), 1, 2)) AS INT) % 14 AS bidx,
             CAST(('0x' || substr(md5(text), 3, 2)) AS INT) % 3 AS sidx,
             5 + CAST(('0x' || substr(md5(text), 5, 2)) AS INT) % 20 AS nf,
             CAST(('0x' || substr(md5(text), 7, 2)) AS INT) AS pad_seed,
             CAST(('0x' || substr(md5(text), 9, 2)) AS INT) AS d4,
             CAST(('0x' || substr(md5(text), 11, 2)) AS INT) AS d5
      FROM documents
    ),
    p AS (
      SELECT doc_id, nf, pad_seed, d4, d5,
             list_extract([32,40,48,56,64,80,96,112,128,
                           160,192,224,256,320], bidx) AS br,
             list_extract([44100,48000,32000], sidx + 1) AS sr,
             CASE WHEN d4 % 2 = 0 THEN 10 + d5 ELSE 0 END AS id3,
             CASE WHEN pad_seed % 2 = 0 THEN nf // 2
                  ELSE (nf + 1) // 2 END AS padded
      FROM base
    )
    SELECT doc_id,
           CAST(id3 AS INT) AS id3_bytes,
           CAST(nf AS INT) AS n_frames,
           CAST(br AS INT) AS bitrate_kbps,
           CAST(sr AS INT) AS sample_rate,
           CAST(nf * (144000 * br // sr) + padded AS INT) AS total_bytes,
           CAST(padded AS INT) AS n_padded,
           CAST(nf AS BIGINT) * 1152 * 1000000 // sr AS duration_us
    FROM p
    """,
)
def mm_audio_mp3_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP3 metadata extraction, hash-checked end to end:
    synthesize MPEG-1 Layer III CBR frame sequences
    with real 4-byte headers, per-frame padding bits, and an optional
    ID3v2.3 envelope from md5-derived parameters
    (operators/multimodal.py:render_test_mp3), then re-extract
    duration / bitrate / sample rate / frame and padding counts by
    structurally walking the bytes — syncsafe ID3 skip + length-driven
    frame walk (functions/mp3meta.py).  The oracle replays every
    parameter closed-form in SQL (frame length
    144000*br//sr + padding; duration in exact integer microseconds),
    never touching bytes, so any defect in the frame-length
    recurrence, the padding arithmetic, or the envelope skip breaks
    the hash.  This is the metadata half of MP3 — full PCM decode
    stays behind the documented native-codec seam.  Two Arrow-batched
    mapInPandas stages, no keyed shuffle: audio-corpus triage (duration /
    bitrate filters before any expensive decode) distributes
    embarrassingly at 100 TB.  total_bytes excludes the ID3 envelope
    on both sides (frames only; id3_bytes reports the envelope)."""
    from ctgov_ai_etl_spark.operators.multimodal import (
        mp3_meta_real,
        render_test_mp3,
    )

    d = load_table(spark, sf_dir, "documents")
    meta = mp3_meta_real(render_test_mp3(d, "doc_id", spread=True), "doc_id")
    return meta.select(
        "doc_id",
        "id3_bytes",
        "n_frames",
        "bitrate_kbps",
        "sample_rate",
        (F.col("total_bytes") - F.col("id3_bytes"))
        .cast("int")
        .alias("total_bytes"),
        "n_padded",
        "duration_us",
    )


@query(
    "mm_video_h264_meta",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             1 + CAST(('0x' || substr(md5(text), 1, 2)) AS INT) % 16 AS wm,
             1 + CAST(('0x' || substr(md5(text), 3, 2)) AS INT) % 16 AS hm,
             list_extract([10, 20, 30, 40, 50],
               CAST(('0x' || substr(md5(text), 5, 2)) AS INT) % 5 + 1)
               AS lvl,
             CAST(('0x' || substr(md5(text), 7, 2)) AS INT) % 2 AS cr,
             CAST(('0x' || substr(md5(text), 9, 2)) AS INT) % 2 AS cb,
             1 + CAST(('0x' || substr(md5(text), 11, 2)) AS INT) % 3
               AS n_idr,
             CAST(('0x' || substr(md5(text), 13, 2)) AS INT) % 4
               AS n_non_idr
      FROM documents
    )
    SELECT doc_id,
           66 AS profile_idc,
           CAST(lvl AS INT) AS level_idc,
           CAST(wm * 16 - 2 * cr AS INT) AS width,
           CAST(hm * 16 - 2 * cb AS INT) AS height,
           CAST(2 + n_idr + n_non_idr AS INT) AS n_nals,
           CAST(n_idr AS INT) AS n_idr,
           CAST(n_non_idr AS INT) AS n_non_idr
    FROM base
    """,
)
def mm_video_h264_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL H.264 metadata extraction, hash-checked end to end (the
    video sibling of mm_audio_mp3_meta): synthesize Annex-B streams —
    baseline-profile SPS with Exp-Golomb-coded geometry, level and
    frame cropping, a PPS, and md5-derived IDR / non-IDR slice NALs —
    then re-extract dimensions (the §7.4.2.1.1 crop rule: each 4:2:0
    crop unit is 2 luma samples), profile/level, and NAL-type counts
    by walking real bytes: start-code scan, NAL headers, emulation-
    prevention strip, bit-level ue(v) decode.  The oracle replays the
    parameters closed-form, never touching bytes, so a defect in the
    Golomb reader, the 0x03 strip, or the crop arithmetic breaks the
    hash.  Full slice decode stays behind the documented native-codec
    seam.  Two Arrow-batched mapInPandas stages, no keyed shuffle —
    video-corpus triage (resolution/level/IDR-density filters before
    any decode) distributes embarrassingly at 100 TB."""
    from ctgov_ai_etl_spark.operators.multimodal import (
        h264_meta_real,
        render_test_h264,
    )

    d = load_table(spark, sf_dir, "documents")
    meta = h264_meta_real(render_test_h264(d, "doc_id"), "doc_id")
    return meta.select(
        "doc_id",
        F.lit(66).alias("profile_idc"),
        "level_idc",
        "width",
        "height",
        "n_nals",
        "n_idr",
        "n_non_idr",
    )


@query(
    "mm_video_mp4_boxes",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(text), 1, 2)) AS INT) AS d0,
             CAST(('0x' || substr(md5(text), 3, 2)) AS INT) AS d1,
             CAST(('0x' || substr(md5(text), 5, 2)) AS INT) AS d2,
             CAST(('0x' || substr(md5(text), 7, 2)) AS INT) AS d3,
             CAST(('0x' || substr(md5(text), 9, 2)) AS INT) AS d4,
             CAST(('0x' || substr(md5(text), 11, 2)) AS INT) AS d5,
             CAST(('0x' || substr(md5(text), 13, 2)) AS INT) AS d6,
             CAST(('0x' || substr(md5(text), 15, 2)) AS INT) AS d7,
             CAST(('0x' || substr(md5(text), 17, 2)) AS INT) AS d8,
             CAST(('0x' || substr(md5(text), 19, 2)) AS INT) AS d9,
             CAST(('0x' || substr(md5(text), 21, 2)) AS INT) AS d10,
             CAST(('0x' || substr(md5(text), 23, 2)) AS INT) AS d11
      FROM documents
    ), q AS (
      SELECT doc_id,
             list_extract([600, 1000, 90000, 48000], d0 % 4 + 1) AS ts,
             1 + (d1 * 256 + d2) % 100000 AS dur,
             (1 + d3 % 64) * 16 AS w,
             (1 + d4 % 64) * 16 AS h,
             (1 + d5 % 50) * (100 + d6 % 156) AS mdat_payload,
             d7 % 2 AS large,
             d8 % 32 AS pad,
             1 + d9 % 2 AS ntr,
             list_extract(['und', 'eng', 'fra', 'deu', 'jpn'],
                          d10 % 5 + 1) AS lang,
             CASE WHEN d11 % 4 = 0 THEN 1 ELSE 0 END AS v1
      FROM p
    )
    SELECT doc_id,
           CAST(5 + 5 * ntr AS INT) AS n_boxes,
           CAST(ntr AS INT) AS n_traks,
           CAST(v1 AS INT) AS box_version,
           CAST(ts AS INT) AS movie_timescale,
           CAST(dur AS BIGINT) * 1000 // ts AS movie_duration_ms,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           lang AS media_lang,
           CAST(mdat_payload AS BIGINT) AS mdat_bytes,
           CAST(large AS INT) AS mdat_large,
           -- ftyp(32) + moov(8 + mvhd + ntr*trak) + free(8+pad)
           -- + mdat header; full-box v1 widens each header by 12
           CAST(32
                + 8 + (108 + v1 * 12)
                + ntr * (8 + (92 + v1 * 12) + 8 + (32 + v1 * 12) + 45)
                + 8 + pad
                + mdat_payload + CASE WHEN large = 1 THEN 16 ELSE 8 END
             AS BIGINT) AS total_bytes
    FROM q
    """,
)
def mm_video_mp4_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ISO-BMFF (MP4) container walk, hash-checked end to end —
    the container completing the matrix (WARC, .warc.gz, ZIP,
    tar/WebDataset, now MP4), and the file format that CARRIES the
    H.264 streams mm_video_h264_meta reads: synthesize minimal-but-
    real MP4 files from md5-derived parameters (ftyp, nested
    moov/trak/mdia full-box tree, free, mdat; v0 AND v1 full boxes;
    32-bit and 64-bit largesize mdat framing; 1 or 2 traks), then
    re-extract movie timescale/duration, 16.16 track geometry, packed
    ISO-639 language, box/trak counts, and payload/total sizes by
    recursively walking real length-prefixed boxes
    (functions/mp4meta.py).  The oracle replays every parameter and
    the v0/v1 header-size arithmetic closed-form in SQL, never
    touching bytes — a wrong box stride, a missed largesize header,
    or a bad fixed-point shift breaks the hash.  Codec payload decode
    stays behind the documented native-codec seam.  Two Arrow-batched
    mapInPandas stages, no keyed shuffle: container triage distributes
    embarrassingly at 100 TB."""
    from ctgov_ai_etl_spark.operators.multimodal import (
        mp4_meta_real,
        render_test_mp4,
    )

    d = load_table(spark, sf_dir, "documents")
    return mp4_meta_real(
        render_test_mp4(d, "doc_id", spread=True), "doc_id"
    ).select(
        "doc_id",
        "n_boxes",
        "n_traks",
        "box_version",
        "movie_timescale",
        "movie_duration_ms",
        "width",
        "height",
        "media_lang",
        "mdat_bytes",
        "mdat_large",
        "total_bytes",
    )


@query(
    "mm_audio_wav_meta",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(text), 1, 2)) AS INT) AS d0,
             CAST(('0x' || substr(md5(text), 3, 2)) AS INT) AS d1,
             CAST(('0x' || substr(md5(text), 5, 2)) AS INT) AS d2,
             CAST(('0x' || substr(md5(text), 7, 2)) AS INT) AS d3,
             CAST(('0x' || substr(md5(text), 9, 2)) AS INT) AS d4,
             CAST(('0x' || substr(md5(text), 11, 2)) AS INT) AS d5,
             CAST(('0x' || substr(md5(text), 13, 2)) AS INT) AS d6
      FROM documents
    ), q AS (
      SELECT doc_id,
             list_extract([8000, 16000, 22050, 44100, 48000],
                          d0 % 5 + 1) AS rate,
             1 + d1 % 2 AS ch,
             list_extract([8, 16, 24, 32], d2 % 4 + 1) AS bits,
             1 + (d3 * 256 + d4) % 20000 AS n,
             1 + d5 % 40 AS info_len,
             d6 % 2 AS fact
      FROM p
    ), r AS (
      SELECT doc_id, rate, ch, bits, n, info_len, fact,
             ch * bits // 8 AS ba
      FROM q
    )
    SELECT doc_id,
           CAST(4 + fact AS INT) AS n_chunks,
           CAST(ch AS INT) AS channels,
           CAST(rate AS INT) AS sample_rate,
           CAST(bits AS INT) AS bits_per_sample,
           CAST(ba AS INT) AS block_align,
           CAST(rate * ba AS INT) AS byte_rate,
           CAST(n AS BIGINT) AS n_samples,
           CAST(n * ba AS BIGINT) AS data_bytes,
           CAST(n AS BIGINT) * 1000000 // rate AS duration_us,
           -- RIFF(12) + fmt(24) + fact(12?) + LIST hdr(8) + 'INFO'(4)
           -- + INAM hdr(8) + text + sub-pad, + data hdr(8) + payload
           -- + data-pad; pad bytes are NOT counted in chunk sizes
           CAST(12 + 24 + fact * 12
                + 20 + info_len + info_len % 2
                + 8 + n * ba + (n * ba) % 2
             AS BIGINT) AS total_bytes
    FROM r
    """,
)
def mm_audio_wav_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL RIFF/WAVE container walk, hash-checked end to end — the
    audio container sibling of mm_video_mp4_boxes (MP3's bare frame
    walk is mm_audio_mp3_meta; WAV is the uncompressed-PCM other
    half of crawl audio): synthesize minimal-but-real WAVE files
    from md5-derived parameters (PCM fmt, optional fact, nested
    LIST/INFO with odd-length INAM exercising the RIFF pad-byte
    rule, filler data payload), then re-extract channels / rate /
    depth / exact integer-microsecond duration / chunk and byte
    counts by walking real pad-aware little-endian chunks with
    derived-field cross-checks (functions/wavmeta.py).  The oracle
    replays every parameter and the pad arithmetic closed-form in
    SQL, never touching bytes — a missed pad byte, a wrong LIST
    recursion, or a block-align desync breaks the hash.  Two
    Arrow-batched mapInPandas stages, no keyed shuffle: audio-corpus
    triage distributes embarrassingly at 100 TB."""
    from ctgov_ai_etl_spark.operators.multimodal import (
        render_test_wav,
        wav_meta_real,
    )

    d = load_table(spark, sf_dir, "documents")
    return wav_meta_real(
        render_test_wav(d, "doc_id", spread=True), "doc_id"
    ).select(
        "doc_id",
        "n_chunks",
        "channels",
        "sample_rate",
        "bits_per_sample",
        "block_align",
        "byte_rate",
        "n_samples",
        "data_bytes",
        "duration_us",
        "total_bytes",
    )


@query(
    "doc_pdf_meta",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(text), 1, 2)) AS INT) AS d0,
             CAST(('0x' || substr(md5(text), 3, 2)) AS INT) AS d1,
             CAST(('0x' || substr(md5(text), 5, 2)) AS INT) AS d2,
             CAST(('0x' || substr(md5(text), 7, 2)) AS INT) AS d3,
             CAST(('0x' || substr(md5(text), 9, 2)) AS INT) AS d4,
             CAST(('0x' || substr(md5(text), 11, 2)) AS INT) AS d5,
             CAST(('0x' || substr(md5(text), 13, 2)) AS INT) AS d6,
             CAST(('0x' || substr(md5(text), 15, 2)) AS INT) AS d7,
             CAST(('0x' || substr(md5(text), 17, 2)) AS INT) AS d8,
             CAST(('0x' || substr(md5(text), 19, 2)) AS INT) AS d9,
             CAST(('0x' || substr(md5(text), 21, 2)) AS INT) AS d10
      FROM documents
    ), q AS (
      SELECT doc_id,
             1 + d0 % 3 AS k,
             100 + (d1 * 256 + d2) % 900 AS w,
             100 + (d3 * 256 + d4) % 900 AS h,
             (100 + (d5 * 256 + d6) % 900)
               + CASE WHEN 1 + d0 % 3 >= 2
                      THEN 100 + (d7 * 256 + d8) % 900 ELSE 0 END
               + CASE WHEN 1 + d0 % 3 >= 3
                      THEN 100 + (d9 * 256 + d10) % 900 ELSE 0 END
               AS content
      FROM p
    ), r AS (
      -- object region: header(9) + catalog(49) + pages(51 + 6k)
      -- + k pages(87 each) + k streams(51 each + payload)
      SELECT doc_id, k, w, h, content,
             109 + 144 * k + content AS xref_off
      FROM q
    )
    SELECT doc_id,
           '1.4' AS pdf_version,
           CAST(2 + 2 * k AS INT) AS n_objects,
           CAST(k AS INT) AS n_pages,
           CAST(w AS INT) AS media_w,
           CAST(h AS INT) AS media_h,
           CAST(content AS BIGINT) AS total_content_bytes,
           CAST(xref_off AS BIGINT) AS xref_offset,
           -- + xref header(9) + 20 per entry incl. the free entry
           -- + trailer fixed(50) + the startxref offset's own digits
           CAST(xref_off + 9 + 20 * (3 + 2 * k) + 50
                + length(CAST(xref_off AS VARCHAR))
             AS BIGINT) AS total_bytes
    FROM r
    """,
)
def doc_pdf_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PDF skeleton walk, hash-checked end to end — the
    document-container member of the walk family (WARC/.warc.gz,
    ZIP, tar/WebDataset, MP4, WAV): synthesize minimal-but-real PDFs
    from md5-derived parameters (Catalog→Pages→Page tree with 1-3
    pages, fixed-width xref whose offsets are REAL byte positions,
    /Length-annotated content streams, trailer), then re-extract
    page count / MediaBox geometry / content volume / xref offset by
    resolving startxref, walking the 20-byte xref entries, verifying
    every in-use offset lands on its `N 0 obj` header, and
    re-verifying each /Length against the actual stream span
    (functions/pdfmeta.py).  Every parameter is fixed-width by
    construction, so the oracle replays the ENTIRE byte layout —
    object sizes, xref offsets, even the startxref offset's own
    digit count — closed-form in SQL; a wrong object size or a
    misplaced xref breaks the hash.  Text/font/filter decode is out
    of scope by design (content streams are opaque payload, like
    mdat to the MP4 walk).  Two Arrow-batched mapInPandas stages,
    no keyed shuffle: PDF triage distributes embarrassingly at 100 TB."""
    from ctgov_ai_etl_spark.operators.multimodal import (
        pdf_meta_real,
        render_test_pdf,
    )

    d = load_table(spark, sf_dir, "documents")
    return pdf_meta_real(render_test_pdf(d, "doc_id"), "doc_id").select(
        "doc_id",
        "pdf_version",
        "n_objects",
        "n_pages",
        "media_w",
        "media_h",
        "total_content_bytes",
        "xref_offset",
        "total_bytes",
    )
