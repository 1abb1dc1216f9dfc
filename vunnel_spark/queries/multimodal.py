"""Multimodal-column queries (LLM-pipeline surface): binary payloads +
typed metadata through Arrow-batched mapInPandas stages.

Round 4: the PPM (P6) codec is REAL (operators/multimodal.py), and the
media tables are synthesized with closed-form pixel values, so m1/m2/m3
carry exact SQL value oracles — the hash match verifies encode -> decode
-> stats (and demux, for m3) end-to-end.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from vunnel_spark.queries._util import t
from vunnel_spark.registry import register


def _rounded_stats(feats):
    """The image-feature result shape most m-family queries return: ids,
    dims and the four channel statistics rounded to 4 places."""
    return feats.select(
        "media_id", "width", "height",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
        F.round("std_all", 4).alias("std_all"),
    )


@register(
    "m1_image_feature_extract",
    """
    WITH xs AS (SELECT x FROM generate_series(0, 23) AS t(x)),
    m AS (
      SELECT doc_id AS media_id, doc_id % 16 + 8 AS w, doc_id % 8 + 8 AS h
      FROM documents
    ), r AS (
      SELECT media_id, w, h,
             (SELECT avg((media_id + x) % 256) FROM xs WHERE x < w) AS mean_r,
             (SELECT avg(pow((media_id + x) % 256, 2))
              FROM xs WHERE x < w) AS mean_r2,
             CAST((7 * media_id) % 256 AS DOUBLE) AS g,
             CAST((13 * media_id) % 256 AS DOUBLE) AS b
      FROM m
    )
    SELECT media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           round(mean_r, 4) AS mean_r, round(g, 4) AS mean_g,
           round(b, 4) AS mean_b,
           round(sqrt((mean_r2 + g*g + b*b) / 3
                      - pow((mean_r + g + b) / 3, 2)), 4) AS std_all
    FROM r
    """,
    doc="Image feature extraction over a binary media column via "
        "mapInPandas (operators/multimodal.py image_features): REAL PPM "
        "decode of gradient images whose channel stats are closed-form in "
        "the id, so the oracle verifies the codec + stats end-to-end",
    tags=("multimodal", "udf"),
)
def m1(spark, sf_dir):
    from vunnel_spark.operators.multimodal import (
        image_features,
        synthesize_ppm_media_table,
    )

    media = synthesize_ppm_media_table(t(spark, sf_dir, "documents"))
    return _rounded_stats(image_features(media))


@register(
    "m2_resize_pipeline",
    """
    WITH m AS (
      SELECT doc_id AS media_id, doc_id % 16 + 8 AS w FROM documents
    ), r AS (
      SELECT media_id,
             (SELECT avg((media_id + (x.x * w) // 8) % 256)
              FROM generate_series(0, 7) AS x(x)) AS mean_r,
             (SELECT avg(pow((media_id + (x.x * w) // 8) % 256, 2))
              FROM generate_series(0, 7) AS x(x)) AS mean_r2,
             CAST((7 * media_id) % 256 AS DOUBLE) AS g,
             CAST((13 * media_id) % 256 AS DOUBLE) AS b
      FROM m
    )
    SELECT media_id, 8 AS width, 8 AS height, 203 AS n_bytes,
           round(mean_r, 4) AS mean_r,
           round(sqrt((mean_r2 + g*g + b*b) / 3
                      - pow((mean_r + g + b) / 3, 2)), 4) AS std_all
    FROM r
    """,
    doc="Resize stage composition (operators/multimodal.py resize_images): "
        "real PPM decode -> nearest-neighbor 8x8 -> PPM re-encode -> "
        "feature extract; the oracle restates the nearest-neighbor column "
        "selection ((x*w)//8) in SQL, and n_bytes pins the re-encoded "
        "payload (11-byte header + 192 raster bytes)",
    tags=("multimodal", "udf"),
)
def m2(spark, sf_dir):
    from vunnel_spark.operators.multimodal import (
        image_features,
        resize_images,
        synthesize_ppm_media_table,
    )

    media = synthesize_ppm_media_table(t(spark, sf_dir, "documents"))
    small = resize_images(media, out_w=8, out_h=8)
    sizes = small.select("media_id", F.col("meta.n_bytes").alias("n_bytes"))
    feats = image_features(small)
    return feats.join(sizes, "media_id").select(
        "media_id", "width", "height", "n_bytes",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("std_all", 4).alias("std_all"),
    )


@register(
    "m3_video_frame_sample",
    """
    WITH xs AS (SELECT x FROM generate_series(0, 7) AS t(x)),
    m AS (
      SELECT doc_id AS media_id, doc_id % 6 + 2 AS nf FROM documents
    )
    SELECT media_id, CAST(x AS INT) AS frame_idx,
           4 AS width, 4 AS height,
           round(CAST((media_id + 17 * x) % 256 AS DOUBLE), 4) AS mean_r
    FROM m JOIN xs ON x < nf
    WHERE x % 2 = 0
    """,
    doc="Video frame sampling (operators/multimodal.py sample_video_frames):"
        " explode-shaped mapInPandas demux of the length-prefixed frame "
        "container, every-2nd frame kept, real PPM decode of each kept "
        "frame; the oracle enumerates the expected (frame_idx, stats) rows",
    tags=("multimodal", "udf", "explode"),
)
def m3(spark, sf_dir):
    from vunnel_spark.operators.multimodal import (
        image_features,
        sample_video_frames,
        synthesize_video_table,
    )

    videos = synthesize_video_table(t(spark, sf_dir, "documents"))
    frames = sample_video_frames(videos)
    feats = image_features(frames, passthrough=("frame_idx",))
    return feats.select(
        "media_id", "frame_idx", "width", "height",
        F.round("mean_r", 4).alias("mean_r"),
    )


@register(
    "m7_png_feature_extract",
    """
    WITH xs AS (SELECT x FROM generate_series(0, 23) AS t(x)),
    m AS (
      SELECT doc_id AS media_id, doc_id % 16 + 8 AS w, doc_id % 8 + 8 AS h
      FROM documents
    ), r AS (
      SELECT media_id, w, h,
             (SELECT avg((media_id + x) % 256) FROM xs WHERE x < w) AS mean_r,
             (SELECT avg(pow((media_id + x) % 256, 2))
              FROM xs WHERE x < w) AS mean_r2,
             CAST((7 * media_id) % 256 AS DOUBLE) AS g,
             CAST((13 * media_id) % 256 AS DOUBLE) AS b
      FROM m
    )
    SELECT media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           round(mean_r, 4) AS mean_r, round(g, 4) AS mean_g,
           round(b, 4) AS mean_b,
           round(sqrt((mean_r2 + g*g + b*b) / 3
                      - pow((mean_r + g + b) / 3, 2)), 4) AS std_all
    FROM r
    """,
    doc="REAL compressed-codec image pipeline: PNG payloads (stdlib-zlib "
        "DEFLATE + all five spec scanline filters via y%5 row cycling, "
        "operators/multimodal.py encode_png/decode_png) decoded by the "
        "same mapInPandas feature stage as m1; the closed-form gradient "
        "oracle verifies CRC walk + inflate + every de-filter path "
        "end-to-end by value",
    tags=("multimodal", "udf"),
)
def m7(spark, sf_dir):
    from vunnel_spark.operators.multimodal import (
        image_features,
        synthesize_png_media_table,
    )

    media = synthesize_png_media_table(t(spark, sf_dir, "documents"))
    return _rounded_stats(image_features(media))


@register(
    "m19_palette_adam7_extract",
    """
    WITH xs AS (SELECT x FROM generate_series(0, 23) AS t(x)),
    m AS (
      SELECT doc_id AS media_id, doc_id % 16 + 8 AS w, doc_id % 8 + 8 AS h
      FROM documents
    ), r AS (
      SELECT media_id, w, h,
             (SELECT avg((media_id + x) % 256) FROM xs WHERE x < w) AS mean_r,
             (SELECT avg(pow((media_id + x) % 256, 2))
              FROM xs WHERE x < w) AS mean_r2,
             CAST((7 * media_id) % 256 AS DOUBLE) AS g,
             CAST((13 * media_id) % 256 AS DOUBLE) AS b
      FROM m
    )
    SELECT media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           round(mean_r, 4) AS mean_r, round(g, 4) AS mean_g,
           round(b, 4) AS mean_b,
           round(sqrt((mean_r2 + g*g + b*b) / 3
                      - pow((mean_r + g + b) / 3, 2)), 4) AS std_all
    FROM r
    """,
    doc="Palette (color type 3) + Adam7-interlaced PNG pipeline: the "
        "gradient corpus re-encoded through a PLTE index with 7 "
        "independently filtered interlace passes (operators/multimodal.py "
        "encode_png(palette=True, interlace=True)), decoded by the same "
        "mapInPandas feature stage as m7.  The oracle is m7's closed-form "
        "gradient arithmetic, so a value mismatch isolates PLTE "
        "resolution / pass scatter / per-pass de-filtering",
    tags=("multimodal", "udf"),
)
def m19(spark, sf_dir):
    from vunnel_spark.operators.multimodal import (
        image_features,
        synthesize_palette_png_media_table,
    )

    media = synthesize_palette_png_media_table(t(spark, sf_dir, "documents"))
    return _rounded_stats(image_features(media))


@register(
    "m20_png16_feature_extract",
    """
    WITH xs AS (SELECT x FROM generate_series(0, 23) AS t(x)),
    m AS (
      SELECT doc_id AS media_id, doc_id % 16 + 8 AS w, doc_id % 8 + 8 AS h
      FROM documents
    ), r AS (
      SELECT media_id, w, h,
             (SELECT avg(((media_id + x) % 256) * 257)
              FROM xs WHERE x < w) AS mean_r,
             (SELECT avg(pow(((media_id + x) % 256) * 257, 2))
              FROM xs WHERE x < w) AS mean_r2,
             CAST(((7 * media_id) % 256) * 257 AS DOUBLE) AS g,
             CAST(((13 * media_id) % 256) * 257 AS DOUBLE) AS b
      FROM m
    )
    SELECT media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           round(mean_r, 4) AS mean_r, round(g, 4) AS mean_g,
           round(b, 4) AS mean_b,
           round(sqrt((mean_r2 + g*g + b*b) / 3
                      - pow((mean_r + g + b) / 3, 2)), 4) AS std_all
    FROM r
    """,
    doc="16-bit-depth (PNG bit depth 16) Adam7-interlaced pipeline: the "
        "m7 gradient scaled by 257 to span 0..65535, encoded big-endian "
        "2-bytes-per-sample (operators/multimodal.py "
        "synthesize_png16_media_table), decoded by the same mapInPandas "
        "feature stage — the filters' bytes-per-pixel offset becomes 6, "
        "so a value mismatch isolates the 16-bit sample plumbing",
    tags=("multimodal", "udf"),
)
def m20(spark, sf_dir):
    from vunnel_spark.operators.multimodal import (
        image_features,
        synthesize_png16_media_table,
    )

    media = synthesize_png16_media_table(t(spark, sf_dir, "documents"))
    return _rounded_stats(image_features(media))


@register(
    "m21_rgba_png_feature_extract",
    """
    WITH xs AS (SELECT x FROM generate_series(0, 23) AS t(x)),
    m AS (
      SELECT doc_id AS media_id, doc_id % 16 + 8 AS w, doc_id % 8 + 8 AS h
      FROM documents
    ), r AS (
      SELECT media_id, w, h,
             (SELECT avg((media_id + x) % 256) FROM xs WHERE x < w) AS mean_r,
             (SELECT avg(pow((media_id + x) % 256, 2))
              FROM xs WHERE x < w) AS mean_r2,
             CAST((7 * media_id) % 256 AS DOUBLE) AS g,
             CAST((13 * media_id) % 256 AS DOUBLE) AS b
      FROM m
    )
    SELECT media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           round(mean_r, 4) AS mean_r, round(g, 4) AS mean_g,
           round(b, 4) AS mean_b,
           round(sqrt((mean_r2 + g*g + b*b) / 3
                      - pow((mean_r + g + b) / 3, 2)), 4) AS std_all
    FROM r
    """,
    doc="RGBA (color type 6) Adam7-interlaced PNG pipeline: the m7 "
        "gradient plus a per-pixel alpha gradient that participates in "
        "the 4-bytes-per-pixel scanline filters and is then dropped by "
        "the feature stage's RGB contract (operators/multimodal.py "
        "synthesize_rgba_png_media_table, decode_image).  The oracle is "
        "m7's closed-form arithmetic, so a value mismatch isolates the "
        "alpha plumbing (filter offsets / channel strip)",
    tags=("multimodal", "udf"),
)
def m21(spark, sf_dir):
    from vunnel_spark.operators.multimodal import (
        image_features,
        synthesize_rgba_png_media_table,
    )

    media = synthesize_rgba_png_media_table(t(spark, sf_dir, "documents"))
    return _rounded_stats(image_features(media))


@register(
    "m8_png_resize_pipeline",
    """
    WITH m AS (
      SELECT doc_id AS media_id, doc_id % 16 + 8 AS w FROM documents
    ), r AS (
      SELECT media_id,
             (SELECT avg((media_id + (x.x * w) // 8) % 256)
              FROM generate_series(0, 7) AS x(x)) AS mean_r,
             (SELECT avg(pow((media_id + (x.x * w) // 8) % 256, 2))
              FROM generate_series(0, 7) AS x(x)) AS mean_r2,
             CAST((7 * media_id) % 256 AS DOUBLE) AS g,
             CAST((13 * media_id) % 256 AS DOUBLE) AS b
      FROM m
    )
    SELECT media_id, 8 AS width, 8 AS height, 203 AS n_bytes,
           round(mean_r, 4) AS mean_r,
           round(sqrt((mean_r2 + g*g + b*b) / 3
                      - pow((mean_r + g + b) / 3, 2)), 4) AS std_all
    FROM r
    """,
    doc="Cross-codec resize composition: PNG decode -> nearest-neighbor "
        "8x8 -> PPM re-encode -> feature extract.  Identical oracle to "
        "m2 (including the 203-byte re-encoded-PPM pin), so a value "
        "mismatch isolates the PNG decode stage",
    tags=("multimodal", "udf"),
)
def m8(spark, sf_dir):
    from vunnel_spark.operators.multimodal import (
        image_features,
        resize_images,
        synthesize_png_media_table,
    )

    media = synthesize_png_media_table(t(spark, sf_dir, "documents"))
    small = resize_images(media, out_w=8, out_h=8)
    sizes = small.select("media_id", F.col("meta.n_bytes").alias("n_bytes"))
    feats = image_features(small)
    return feats.join(sizes, "media_id").select(
        "media_id", "width", "height", "n_bytes",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("std_all", 4).alias("std_all"),
    )


@register(
    "m9_jpeg_feature_extract",
    """
    WITH m AS (
      SELECT doc_id AS media_id, doc_id % 2 + 1 AS hb, doc_id % 3 + 1 AS wb
      FROM documents
    ),
    b AS (
      SELECT media_id, hb, wb,
             CAST(2 * ((media_id * 7 + r.r * 5 + c.c * 3) % 128) AS DOUBLE) AS v
      FROM m
      JOIN (SELECT unnest(generate_series(0, 1)) AS r) r ON r.r < hb
      JOIN (SELECT unnest(generate_series(0, 2)) AS c) c ON c.c < wb
    )
    SELECT media_id,
           CAST(max(wb) * 8 AS INT) AS width, CAST(max(hb) * 8 AS INT) AS height,
           round(avg(v), 4) AS mean_r, round(avg(v), 4) AS mean_g,
           round(avg(v), 4) AS mean_b,
           round(sqrt(avg(v*v) - avg(v)*avg(v)), 4) AS std_all
    FROM b GROUP BY media_id
    """,
    doc="REAL baseline-JPEG pipeline (operators/multimodal.py "
        "encode_jpeg_gray, decoded by image_features through "
        "decode_image -> decode_jpeg: numpy DCT, Annex-K Huffman "
        "tables, DC prediction, byte stuffing): even block-constant "
        "images survive the lossy codec bit-exactly (zero AC, DC quant "
        "step divides), so the SQL oracle verifies Huffman decode + "
        "dequantize + IDCT by exact value",
    tags=("multimodal", "udf"),
)
def m9(spark, sf_dir):
    from vunnel_spark.operators.multimodal import (
        image_features,
        synthesize_jpeg_media_table,
    )

    media = synthesize_jpeg_media_table(t(spark, sf_dir, "documents"))
    return _rounded_stats(image_features(media))


@register(
    "m10_avi_mjpeg_frame_sample",
    """
    WITH xs AS (SELECT x FROM generate_series(0, 7) AS t(x)),
    m AS (
      SELECT doc_id AS media_id, doc_id % 6 + 2 AS nf FROM documents
    )
    SELECT media_id, CAST(x AS INT) AS frame_idx, 8 AS width, 8 AS height,
           round(CAST(2 * ((media_id * 3 + 17 * x) % 128) AS DOUBLE), 4) AS mean_r
    FROM m JOIN xs ON x < nf
    WHERE x % 2 = 0
    """,
    doc="REAL video container end-to-end: AVI (RIFF) MJPEG demux "
        "(operators/multimodal.py encode_avi_mjpeg/iter_avi_frames — the "
        "public hdrl/movi/idx1 layout any MJPEG player reads) + baseline "
        "JPEG decode of every 2nd frame; even constant-value frames make "
        "the lossy codec exact, so the oracle enumerates the expected "
        "(frame_idx, mean) rows in closed form",
    tags=("multimodal", "udf", "explode"),
)
def m10(spark, sf_dir):
    from vunnel_spark.operators.multimodal import (
        image_features,
        sample_video_frames,
        synthesize_avi_mjpeg_table,
    )

    videos = synthesize_avi_mjpeg_table(t(spark, sf_dir, "documents"))
    frames = sample_video_frames(videos)
    feats = image_features(frames, passthrough=("frame_idx",))
    return feats.select(
        "media_id", "frame_idx", "width", "height",
        F.round("mean_r", 4).alias("mean_r"),
    )


@register(
    "m11_mp4_frame_sample",
    """
    WITH xs AS (SELECT x FROM generate_series(0, 7) AS t(x)),
    m AS (
      SELECT doc_id AS media_id, doc_id % 6 + 2 AS nf FROM documents
    )
    SELECT media_id, CAST(x AS INT) AS frame_idx, 8 AS width, 8 AS height,
           round(CAST(2 * ((media_id * 5 + 13 * x) % 128) AS DOUBLE), 4) AS mean_r
    FROM m JOIN xs ON x < nf
    WHERE x % 2 = 0
    """,
    doc="REAL ISO-BMFF (mp4) demux end-to-end: the standard "
        "moov/trak/mdia/minf/stbl sample-table walk (stsz sizes, stco "
        "chunk offsets, stsc run expansion — operators/multimodal.py "
        "encode_mp4_mjpeg/iter_mp4_frames) slices MJPEG samples out of "
        "mdat; every 2nd frame JPEG-decoded, exact via even "
        "constant-value frames, oracle enumerates the expected rows",
    tags=("multimodal", "udf", "explode"),
)
def m11(spark, sf_dir):
    from vunnel_spark.operators.multimodal import (
        image_features,
        sample_video_frames,
        synthesize_mp4_mjpeg_table,
    )

    videos = synthesize_mp4_mjpeg_table(t(spark, sf_dir, "documents"))
    frames = sample_video_frames(videos)
    feats = image_features(frames, passthrough=("frame_idx",))
    return feats.select(
        "media_id", "frame_idx", "width", "height",
        F.round("mean_r", 4).alias("mean_r"),
    )


@register(
    "m12_color_jpeg_feature_extract",
    """
    WITH m AS (
      SELECT doc_id AS media_id, doc_id % 2 + 1 AS hb, doc_id % 3 + 1 AS wb
      FROM documents
    ),
    b AS (
      SELECT media_id, hb, wb,
             CAST(2 * ((media_id * 11 + r.r * 3 + c.c * 7) % 128) AS DOUBLE) AS v
      FROM m
      JOIN (SELECT unnest(generate_series(0, 1)) AS r) r ON r.r < hb
      JOIN (SELECT unnest(generate_series(0, 2)) AS c) c ON c.c < wb
    )
    SELECT media_id,
           CAST(max(wb) * 8 AS INT) AS width, CAST(max(hb) * 8 AS INT) AS height,
           round(avg(v), 4) AS mean_r, round(avg(v), 4) AS mean_g,
           round(avg(v), 4) AS mean_b,
           round(sqrt(avg(v*v) - avg(v)*avg(v)), 4) AS std_all
    FROM b GROUP BY media_id
    """,
    doc="REAL color (3-component YCbCr 4:4:4) JPEG pipeline "
        "(operators/multimodal.py encode_jpeg_rgb/decode_jpeg: "
        "interleaved MCUs, per-component DC prediction and table "
        "selectors, BT.601 color conversion): grayscale-valued even "
        "blocks convert to Y=R, Cb=Cr=128 exactly, so the whole color "
        "path — entropy decode of 3x the blocks, chroma dequantize, "
        "color transform — verifies by exact value",
    tags=("multimodal", "udf"),
)
def m12(spark, sf_dir):
    from vunnel_spark.operators.multimodal import (
        image_features,
        synthesize_color_jpeg_media_table,
    )

    media = synthesize_color_jpeg_media_table(t(spark, sf_dir, "documents"))
    return _rounded_stats(image_features(media))


@register(
    "m13_jpeg420_feature_extract",
    """
    WITH m AS (
      SELECT doc_id AS media_id, doc_id % 2 + 1 AS hb, doc_id % 3 + 1 AS wb
      FROM documents
    ),
    b AS (
      SELECT media_id, hb, wb,
             CAST(2 * ((media_id * 13 + r.r * 7 + c.c * 5) % 128) AS DOUBLE) AS v
      FROM m
      JOIN (SELECT unnest(generate_series(0, 1)) AS r) r ON r.r < hb
      JOIN (SELECT unnest(generate_series(0, 2)) AS c) c ON c.c < wb
    )
    SELECT media_id,
           CAST(max(wb) * 16 AS INT) AS width, CAST(max(hb) * 16 AS INT) AS height,
           round(avg(v), 4) AS mean_r, round(avg(v), 4) AS mean_g,
           round(avg(v), 4) AS mean_b,
           round(sqrt(avg(v*v) - avg(v)*avg(v)), 4) AS std_all
    FROM b GROUP BY media_id
    """,
    doc="REAL 4:2:0 chroma-subsampled JPEG pipeline (operators/"
        "multimodal.py encode_jpeg_rgb420 + the decoder's MCU path: four "
        "Y blocks + Cb + Cr per 16x16 tile, box-downsampled/nearest-"
        "upsampled chroma): grayscale-valued even 16x16-constant tiles "
        "survive subsampling exactly, so the dominant real-world JPEG "
        "layout verifies by exact value",
    tags=("multimodal", "udf"),
)
def m13(spark, sf_dir):
    from vunnel_spark.operators.multimodal import (
        image_features,
        synthesize_jpeg420_media_table,
    )

    media = synthesize_jpeg420_media_table(t(spark, sf_dir, "documents"))
    return _rounded_stats(image_features(media))


@register(
    "m14_fmp4_frame_sample",
    """
    WITH xs AS (SELECT x FROM generate_series(0, 7) AS t(x)),
    m AS (
      SELECT doc_id AS media_id, doc_id % 6 + 2 AS nf FROM documents
    )
    SELECT media_id, CAST(x AS INT) AS frame_idx, 8 AS width, 8 AS height,
           round(CAST(2 * ((media_id * 9 + 11 * x) % 128) AS DOUBLE), 4) AS mean_r
    FROM m JOIN xs ON x < nf
    WHERE x % 2 = 0
    """,
    doc="REAL fragmented-mp4 (fMP4/DASH) demux end-to-end: the "
        "moof/traf/trun walk (operators/multimodal.py encode_mp4f_mjpeg/"
        "_iter_fragmented_mp4 — per-sample trun sizes, default-base-is-"
        "moof data offsets, tfhd flag parsing) slices MJPEG samples; "
        "every 2nd frame JPEG-decoded, exact via even constant frames",
    tags=("multimodal", "udf", "explode"),
)
def m14(spark, sf_dir):
    from vunnel_spark.operators.multimodal import (
        image_features,
        sample_video_frames,
        synthesize_fmp4_mjpeg_table,
    )

    videos = synthesize_fmp4_mjpeg_table(t(spark, sf_dir, "documents"))
    frames = sample_video_frames(videos)
    feats = image_features(frames, passthrough=("frame_idx",))
    return feats.select(
        "media_id", "frame_idx", "width", "height",
        F.round("mean_r", 4).alias("mean_r"),
    )


@register(
    "m15_progressive_jpeg_extract",
    """
    WITH m AS (
      SELECT doc_id AS media_id, doc_id % 3 + 1 AS hb, doc_id % 2 + 1 AS wb
      FROM documents
    ),
    b AS (
      SELECT media_id, hb, wb,
             CAST(2 * ((media_id * 11 + r.r * 3 + c.c * 7) % 128) AS DOUBLE) AS v
      FROM m
      JOIN (SELECT unnest(generate_series(0, 2)) AS r) r ON r.r < hb
      JOIN (SELECT unnest(generate_series(0, 1)) AS c) c ON c.c < wb
    )
    SELECT media_id,
           CAST(max(wb) * 8 AS INT) AS width, CAST(max(hb) * 8 AS INT) AS height,
           round(avg(v), 4) AS mean_r, round(avg(v), 4) AS mean_g,
           round(avg(v), 4) AS mean_b,
           round(sqrt(avg(v*v) - avg(v)*avg(v)), 4) AS std_all
    FROM b GROUP BY media_id
    """,
    doc="REAL progressive-JPEG pipeline (operators/multimodal.py "
        "encode_jpeg_gray_progressive/decode_jpeg: SOF2 "
        "six-scan script — DC+AC spectral selection, END-OF-BAND run "
        "coding, full successive-approximation refinement with "
        "interleaved correction bits).  The multi-scan entropy layer is "
        "lossless over the quantized coefficients (progressive == "
        "baseline decode, property-tested), so the same even "
        "block-constant corpus as m9 survives bit-exactly and the SQL "
        "oracle verifies the whole coefficient-accumulation decode by "
        "exact value",
    tags=("multimodal", "udf"),
)
def m15(spark, sf_dir):
    from vunnel_spark.operators.multimodal import (
        image_features,
        synthesize_progressive_jpeg_table,
    )

    media = synthesize_progressive_jpeg_table(t(spark, sf_dir, "documents"))
    return _rounded_stats(image_features(media))


@register(
    "m16_progressive420_extract",
    """
    WITH m AS (
      SELECT doc_id AS media_id, doc_id % 3 + 1 AS hb, doc_id % 2 + 1 AS wb
      FROM documents
    ),
    b AS (
      SELECT media_id, hb, wb,
             CAST(2 * ((media_id * 17 + r.r * 9 + c.c * 11) % 128) AS DOUBLE) AS v
      FROM m
      JOIN (SELECT unnest(generate_series(0, 2)) AS r) r ON r.r < hb
      JOIN (SELECT unnest(generate_series(0, 1)) AS c) c ON c.c < wb
    )
    SELECT media_id,
           CAST(max(wb) * 16 AS INT) AS width, CAST(max(hb) * 16 AS INT) AS height,
           round(avg(v), 4) AS mean_r, round(avg(v), 4) AS mean_g,
           round(avg(v), 4) AS mean_b,
           round(sqrt(avg(v*v) - avg(v)*avg(v)), 4) AS std_all
    FROM b GROUP BY media_id
    """,
    doc="REAL progressive 4:2:0 JPEG pipeline — the DOMINANT real-world "
        "web-JPEG layout (operators/multimodal.py "
        "encode_jpeg_rgb420_progressive + the multi-component SOF2 "
        "decoder: interleaved-MCU DC scans with per-component "
        "predictors, per-component AC band scans, successive-"
        "approximation refinement, chroma box-downsample/nearest-"
        "upsample).  Grayscale-valued even 16x16-constant tiles survive "
        "subsampling exactly and the multi-scan entropy layer is "
        "lossless over quantized coefficients (progressive-420 == "
        "baseline-420 decode, property-tested), so the SQL oracle "
        "verifies the whole path by exact value",
    tags=("multimodal", "udf"),
)
def m16(spark, sf_dir):
    from vunnel_spark.operators.multimodal import (
        image_features,
        synthesize_progressive420_media_table,
    )

    media = synthesize_progressive420_media_table(t(spark, sf_dir, "documents"))
    return _rounded_stats(image_features(media))


@register(
    "m22_gif_frame_extract",
    """
    WITH xs AS (SELECT x FROM generate_series(0, 11) AS t(x)),
    m AS (
      SELECT doc_id AS media_id, doc_id % 8 + 4 AS w, doc_id % 4 + 4 AS h,
             doc_id % 4 + 2 AS nf
      FROM documents
    ), fr AS (
      SELECT media_id, w, h, CAST(f AS INT) AS frame_idx
      FROM m, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS f) g
    )
    SELECT media_id, frame_idx,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           round((SELECT avg((media_id + 17 * frame_idx + x) % 256)
                  FROM xs WHERE x < w), 4) AS mean_r,
           round(CAST((7 * media_id + 5 * frame_idx) % 256 AS DOUBLE), 4)
               AS mean_g,
           round(CAST((13 * media_id) % 256 AS DOUBLE), 4) AS mean_b
    FROM fr
    """,
    doc="Animated-GIF demux + per-frame feature extraction: a REAL "
        "GIF89a codec (operators/multimodal.py encode_gif/decode_gif — "
        "variable-width LZW with 12-bit growth and clear-code resets, "
        "global + local color tables, 4-pass interlace on odd frames, "
        "extension-block skipping) over closed-form frame pixels, so the "
        "oracle verifies entropy decode, palette resolution, and the "
        "interlace scatter per frame.  Scale: decode is per-payload in "
        "mapInPandas (Arrow batches, binary never leaves the executor), "
        "embarrassingly parallel — no shuffle at all before the stats",
    tags=("multimodal", "udf"),
)
def m22(spark, sf_dir):
    from vunnel_spark.operators.multimodal import (
        gif_frame_features,
        synthesize_gif_media_table,
    )

    media = synthesize_gif_media_table(t(spark, sf_dir, "documents"))
    feats = gif_frame_features(media)
    return feats.select(
        "media_id", "frame_idx", "width", "height",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
    )


@register(
    "m23_bmp_feature_extract",
    """
    WITH xs AS (SELECT x FROM generate_series(0, 23) AS t(x)),
    m AS (
      SELECT doc_id AS media_id, doc_id % 16 + 8 AS w, doc_id % 8 + 8 AS h
      FROM documents
    ), r AS (
      SELECT media_id, w, h,
             (SELECT avg((media_id + x) % 256) FROM xs WHERE x < w) AS mean_r,
             (SELECT avg(pow((media_id + x) % 256, 2))
              FROM xs WHERE x < w) AS mean_r2,
             CAST((7 * media_id) % 256 AS DOUBLE) AS g,
             CAST((13 * media_id) % 256 AS DOUBLE) AS b
      FROM m
    )
    SELECT media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           round(mean_r, 4) AS mean_r, round(g, 4) AS mean_g,
           round(b, 4) AS mean_b,
           round(sqrt((mean_r2 + g*g + b*b) / 3
                      - pow((mean_r + g + b) / 3, 2)), 4) AS std_all
    FROM r
    """,
    doc="BMP decode pipeline: the m1 gradient corpus encoded as REAL "
        "Windows BMP (operators/multimodal.py encode_bmp/decode_bmp) — "
        "8-bit palette for even ids, 24-bit BGR for odd, top-down row "
        "order when id%3==0, bottom-up otherwise — decoded by the same "
        "mapInPandas feature stage as m1/m7.  The oracle is the m1 "
        "closed-form arithmetic, so a mismatch isolates palette lookup, "
        "BGR swizzle, row order, or 4-byte row-padding handling",
    tags=("multimodal", "udf"),
)
def m23(spark, sf_dir):
    from vunnel_spark.operators.multimodal import (
        image_features,
        synthesize_bmp_media_table,
    )

    media = synthesize_bmp_media_table(t(spark, sf_dir, "documents"))
    return _rounded_stats(image_features(media))


@register(
    "m24_tiff_feature_extract",
    """
    WITH xs AS (SELECT x FROM generate_series(0, 23) AS t(x)),
    m AS (
      SELECT doc_id AS media_id, doc_id % 16 + 8 AS w, doc_id % 8 + 8 AS h
      FROM documents
    ), r AS (
      SELECT media_id, w, h,
             (SELECT avg((media_id + x) % 256) FROM xs WHERE x < w) AS mean_r,
             (SELECT avg(pow((media_id + x) % 256, 2))
              FROM xs WHERE x < w) AS mean_r2,
             CAST((7 * media_id) % 256 AS DOUBLE) AS g,
             CAST((13 * media_id) % 256 AS DOUBLE) AS b
      FROM m
    )
    SELECT media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           round(mean_r, 4) AS mean_r, round(g, 4) AS mean_g,
           round(b, 4) AS mean_b,
           round(sqrt((mean_r2 + g*g + b*b) / 3
                      - pow((mean_r + g + b) / 3, 2)), 4) AS std_all
    FROM r
    """,
    doc="Baseline-TIFF decode pipeline: the m1 gradient corpus as REAL "
        "TIFF 6.0 (operators/multimodal.py encode_tiff/decode_tiff) — "
        "big-endian (MM) for odd ids, PackBits RLE when id%3==0, 4-row "
        "multi-strip layout everywhere — through the same mapInPandas "
        "feature stage as m1.  The oracle is the m1 closed-form "
        "arithmetic, so a mismatch isolates IFD parsing, byte-order "
        "handling, strip assembly, or PackBits decompression",
    tags=("multimodal", "udf"),
)
def m24(spark, sf_dir):
    from vunnel_spark.operators.multimodal import (
        image_features,
        synthesize_tiff_media_table,
    )

    media = synthesize_tiff_media_table(t(spark, sf_dir, "documents"))
    return _rounded_stats(image_features(media))


@register(
    "m25_ico_feature_extract",
    """
    WITH xs AS (SELECT x FROM generate_series(0, 23) AS t(x)),
    m AS (
      SELECT doc_id AS media_id, doc_id % 16 + 8 AS w, doc_id % 8 + 8 AS h
      FROM documents
    ), r AS (
      SELECT media_id, w, h,
             (SELECT avg((media_id + x) % 256) FROM xs WHERE x < w) AS mean_r,
             (SELECT avg(pow((media_id + x) % 256, 2))
              FROM xs WHERE x < w) AS mean_r2,
             CAST((7 * media_id) % 256 AS DOUBLE) AS g,
             CAST((13 * media_id) % 256 AS DOUBLE) AS b
      FROM m
    )
    SELECT media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           round(mean_r, 4) AS mean_r, round(g, 4) AS mean_g,
           round(b, 4) AS mean_b,
           round(sqrt((mean_r2 + g*g + b*b) / 3
                      - pow((mean_r + g + b) / 3, 2)), 4) AS std_all
    FROM r
    """,
    doc="ICO container decode pipeline: the m1 gradient corpus as REAL "
        "Windows icons (operators/multimodal.py encode_ico/decode_ico) "
        "— PNG-embedded entries for even ids, headerless doubled-height "
        "DIB entries (XOR raster + AND mask) for odd ids — through the "
        "same mapInPandas feature stage as m1.  The oracle is the m1 "
        "closed-form arithmetic, so a mismatch isolates directory "
        "parsing, the height-doubling DIB rebuild, or payload-style "
        "dispatch",
    tags=("multimodal", "udf"),
)
def m25(spark, sf_dir):
    from vunnel_spark.operators.multimodal import (
        image_features,
        synthesize_ico_media_table,
    )

    media = synthesize_ico_media_table(t(spark, sf_dir, "documents"))
    return _rounded_stats(image_features(media))


@register(
    "m26_webm_vp8_probe",
    """
    WITH xs AS (SELECT x FROM generate_series(0, 7) AS t(x)),
    m AS (
      SELECT doc_id AS media_id, doc_id % 6 + 2 AS nf,
             doc_id % 100 + 16 AS w, doc_id % 60 + 16 AS h
      FROM documents
    )
    SELECT media_id, CAST(x AS INT) AS frame_idx,
           CAST((x // 4) * 1000 + (x % 4) * 40 AS BIGINT) AS ts_ms,
           x % 3 = 0 AS is_keyframe,
           CASE WHEN x % 3 = 0 THEN CAST(w AS INT) END AS kf_width,
           CASE WHEN x % 3 = 0 THEN CAST(h AS INT) END AS kf_height,
           CAST((media_id * 7 + x * 11) % 200 + 10 AS INT) AS part_size
    FROM m JOIN xs ON x < nf
    """,
    doc="REAL WebM (Matroska) demux + VP8 frame-header probe end-to-end "
        "(operators/multimodal.py encode_webm_vp8/probe_webm_vp8/"
        "webm_frame_index): full EBML element walk (marker-bit IDs, "
        "masked sizes), DocType validation, Info/Tracks traversal "
        "(TimestampScale, V_VP8 CodecID, PixelWidth/Height), "
        "multi-Cluster SimpleBlock walk (track varint + relative int16 "
        "timestamp + keyframe flag), and the RFC 6386 §9.1 VP8 "
        "uncompressed frame header (3-byte LE tag, keyframe sync code, "
        "14-bit dimensions).  Entropy-coded pixels stay an honest "
        "NotImplementedError (default probability tables are not "
        "reproducible from memory); this probe IS the real pipeline "
        "operation for keyframe indexing and frame-sampling decisions.  "
        "Scale: one Arrow-batched explode, payloads never leave the "
        "executor, no shuffle",
    tags=("multimodal", "udf", "explode"),
)
def m26(spark, sf_dir):
    from vunnel_spark.operators.multimodal import (
        synthesize_webm_media_table,
        webm_frame_index,
    )

    videos = synthesize_webm_media_table(t(spark, sf_dir, "documents"))
    return webm_frame_index(videos)
