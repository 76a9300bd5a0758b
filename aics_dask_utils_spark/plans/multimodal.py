"""Multimodal plans (E3, E10): binary-column metadata, oracle-checked.

The decode/slice/sink pipeline itself is exercised in
``tests/test_multimodal.py`` over generated FAKEIMG binary files (the
driver tables carry no media bytes); here we verify the binary-cell
semantics DuckDB can also compute: byte length, sha256, magic bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.binding import let
from ..operators.multimodal import binary_meta
from ..sources import load_table
from . import register


def _csv(col) -> F.Column:
    """ARRAY-typed final columns are banned registry-wide (the driver's
    canonicalizer sort_values over list cells raises `unhashable type`),
    so plans serialize int arrays to CSV strings; the DuckDB oracle
    mirrors with array_to_string(list, ',')."""
    return F.concat_ws(",", F.transform(F.col(col), lambda x: x.cast("string")))


@register(
    "multimodal_binary_meta",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text))                 AS byte_len,
           sha256(text)                               AS sha256_hex,
           lower(hex(encode(substring(text, 1, 8))))  AS magic_hex
    FROM documents
    """,
    doc="binary-column metadata pass: size/sha256/magic over opaque bytes "
    "(E10); text cast to binary stands in for media bytes",
    tags=("multimodal",),
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("content")
    )
    return binary_meta(docs).select("doc_id", "byte_len", "sha256_hex", "magic_hex")


@register(
    "multimodal_decode_slice",
    oracle="""
    WITH img AS (
      SELECT doc_id, repeat(md5(text), 3) AS px  -- 96 ascii chars = 96 px
      FROM documents
    )
    SELECT CAST(doc_id AS VARCHAR) AS path,
           CAST(4 AS INT) AS height, CAST(4 AS INT) AS width,
           array_to_string(list_transform(generate_series(65, 80),
                          i -> ord(substr(px, CAST(i AS INT), 1))), ',') AS plane_csv
    FROM img
    """,
    doc="EXECUTED decode->slice pipeline (E3,E10,E11): each doc's md5 hex "
    "(x3, pure ASCII) becomes the pixel payload of a FAKEIMG STCZYX "
    "(1,1,2,3,4,4) tensor built as a binary column; mapInPandas decodes "
    "it (shape, channels, pixels) and select_plane slices (c='c1', "
    "z=middle) with column arithmetic — the oracle computes the same "
    "16-px plane from the hex chars. Real codecs slot into decode_image; "
    "the Spark-side plumbing (binary cells, Arrow batches, flat-tensor "
    "slicing) is what's under test. The plane ships as a CSV string "
    "(concat_ws <-> array_to_string): ARRAY-typed final columns are "
    "banned registry-wide — the driver's canonicalizer can't sort them",
    tags=("multimodal",),
)
def multimodal_decode_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    import struct

    from ..operators.multimodal import FAKE_MAGIC, decode_images, select_plane

    shape = (1, 1, 2, 3, 4, 4)  # 96 pixels
    names = b"c0,c1"
    header = FAKE_MAGIC + struct.pack(">6H", *shape) + struct.pack(">H", len(names)) + names
    docs = load_table(spark, sf_dir, "documents")
    binary_df = docs.select(
        F.col("doc_id").cast("string").alias("path"),
        F.concat(
            F.lit(header), F.encode(F.repeat(F.md5("text"), 3), "UTF-8")
        ).alias("content"),
    )
    planes = select_plane(decode_images(binary_df), channel_name="c1")
    return planes.select("path", "height", "width", _csv("plane").alias("plane_csv"))


def _fake_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STCZYX (1,6,1,1,4,4) 'video' per doc: 96 px from md5(text) x 3."""
    import struct

    from ..operators.multimodal import FAKE_MAGIC

    shape = (1, 6, 1, 1, 4, 4)
    names = b"c0"
    header = (
        FAKE_MAGIC + struct.pack(">6H", *shape) + struct.pack(">H", len(names)) + names
    )
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("string").alias("path"),
        F.concat(
            F.lit(header), F.encode(F.repeat(F.md5("text"), 3), "UTF-8")
        ).alias("content"),
    )


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH img AS (
      SELECT doc_id, repeat(md5(text), 3) AS px  -- 6 frames x 16 px
      FROM documents
    ),
    ts AS (SELECT unnest(generate_series(0, 5, 2)) AS t)
    SELECT CAST(doc_id AS VARCHAR) AS path,
           CAST(t AS INT) AS t,
           array_to_string(list_transform(generate_series(t * 16 + 1, t * 16 + 16),
                          i -> ord(substr(px, CAST(i AS INT), 1))), ',') AS frame_csv
    FROM img CROSS JOIN ts
    """,
    doc="EXECUTED video frame sampling (E10,E11): a 6-frame FAKEIMG "
    "'video' per doc (md5-hex pixels), decoded via mapInPandas, then "
    "every 2nd T-frame cut out by sequence+explode+slice column "
    "arithmetic — one row per sampled frame, no re-decode, no Python "
    "in the sampling path. The oracle recomputes the same 16-px frames "
    "from the hex chars",
    tags=("multimodal",),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import decode_images, sample_frames

    frames = sample_frames(decode_images(_fake_video(spark, sf_dir)), every_n=2)
    return frames.select("path", "t", _csv("frame").alias("frame_csv"))


@register(
    "multimodal_resize_plane",
    oracle="""
    WITH img AS (
      SELECT doc_id, repeat(md5(text), 3) AS px
      FROM documents
    )
    SELECT CAST(doc_id AS VARCHAR) AS path,
           CAST(2 AS INT) AS height, CAST(2 AS INT) AS width,
           array_to_string(list_transform(generate_series(0, 3),
                          i -> ord(substr(px,
                                CAST(64 + (i // 2) * 8 + (i % 2) * 2 + 1 AS INT),
                                1))), ',') AS plane_csv
    FROM img
    """,
    doc="decode -> plane-select -> nearest-neighbor 2x downsample "
    "(E10,E11): the resize step of the media pipeline as pure "
    "transform/element_at index arithmetic (out(r,c) = in(2r,2c)) on "
    "the 4x4 plane from multimodal_decode_slice — no UDF in the resize; "
    "the oracle picks the same 4 chars of the hex payload",
    tags=("multimodal",),
)
def multimodal_resize_plane(spark: SparkSession, sf_dir: str) -> DataFrame:
    import struct

    from ..operators.multimodal import (
        FAKE_MAGIC,
        decode_images,
        resize_plane_nn,
        select_plane,
    )

    shape = (1, 1, 2, 3, 4, 4)
    names = b"c0,c1"
    header = (
        FAKE_MAGIC + struct.pack(">6H", *shape) + struct.pack(">H", len(names)) + names
    )
    docs = load_table(spark, sf_dir, "documents")
    binary_df = docs.select(
        F.col("doc_id").cast("string").alias("path"),
        F.concat(
            F.lit(header), F.encode(F.repeat(F.md5("text"), 3), "UTF-8")
        ).alias("content"),
    )
    planes = select_plane(decode_images(binary_df), channel_name="c1")
    resized = resize_plane_nn(planes, factor=2)
    return resized.select(
        "path", "height", "width", _csv("plane").alias("plane_csv")
    )


@register(
    "multimodal_channel_features",
    oracle="""
    WITH img AS (
      SELECT doc_id, repeat(md5(text), 3) AS px  -- 2 channels x 48 px
      FROM documents
    ),
    ch AS (SELECT unnest(generate_series(0, 1)) AS c)
    SELECT CAST(doc_id AS VARCHAR) AS path,
           CASE c WHEN 0 THEN 'c0' ELSE 'c1' END AS channel,
           CAST(s.sum_px AS BIGINT) AS sum_px,
           s.sum_px / 48.0 AS mean_px
    FROM img CROSS JOIN ch,
    LATERAL (
      SELECT SUM(ord(substr(px, CAST(c * 48 + i AS INT), 1))) AS sum_px
      FROM unnest(generate_series(1, 48)) AS t(i)
    ) s
    """,
    doc="per-channel feature extraction (E10,E11, completing the "
    "decode/feature-extract/resize/frame-sample quartet): channel "
    "blocks sliced from the flat tensor and folded JVM-side into "
    "integer pixel sums + means — one row per (image, channel), no "
    "re-decode, no Python. The oracle folds the same 48 hex chars",
    tags=("multimodal",),
)
def multimodal_channel_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    import struct

    from ..operators.multimodal import FAKE_MAGIC, channel_features, decode_images

    shape = (1, 1, 2, 3, 4, 4)
    names = b"c0,c1"
    header = (
        FAKE_MAGIC + struct.pack(">6H", *shape) + struct.pack(">H", len(names)) + names
    )
    docs = load_table(spark, sf_dir, "documents")
    binary_df = docs.select(
        F.col("doc_id").cast("string").alias("path"),
        F.concat(
            F.lit(header), F.encode(F.repeat(F.md5("text"), 3), "UTF-8")
        ).alias("content"),
    )
    return channel_features(decode_images(binary_df))


@register(
    "multimodal_audio_frames",
    oracle="""
    WITH au AS (
      SELECT doc_id, repeat(md5(text), 3) AS px  -- 96 'samples'
      FROM documents
    ),
    fr AS (
      SELECT doc_id, UNNEST(range(0, 6)) AS frame_idx, px FROM au
    ),
    s AS (
      SELECT doc_id, frame_idx,
             list_transform(generate_series(frame_idx*16 + 1, frame_idx*16 + 16),
                            i -> ord(substr(px, CAST(i AS INT), 1)) - 100) AS frame
      FROM fr
    )
    SELECT CAST(doc_id AS VARCHAR) AS path,
           CAST(frame_idx AS INT) AS frame_idx,
           sqrt(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(frame, x -> CAST(x*x AS BIGINT))),
                  (acc, x) -> acc + x) AS DOUBLE) / 16.0) AS energy_rms,
           list_aggregate(frame, 'max') AS peak,
           CAST(len(list_filter(range(1, 16),
                  p -> frame[p] * frame[p+1] < 0)) AS BIGINT) AS zero_crossings
    FROM s
    """,
    doc="EXECUTED audio decode->frame->featurize pipeline (E3,E10,E60 "
    "audio axis): a 96-sample FAKEAUD signal per doc (md5-hex bytes, "
    "centered to signed PCM at decode), decoded via Arrow-batched "
    "mapInPandas on executors, framed into six 16-sample windows by "
    "sequence+explode+slice column arithmetic, then per-frame RMS "
    "energy / peak / zero-crossing count as JVM folds — the "
    "VAD/silence-trim triple every audio corpus pipeline runs. Real "
    "codecs (soundfile/librosa) plug into the same decoder injection "
    "point as images. The oracle recomputes every frame feature from "
    "the hex chars",
    tags=("multimodal",),
)
def multimodal_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    import struct

    from ..operators.multimodal import (
        FAKE_AUDIO_MAGIC,
        audio_frame_features,
        decode_audios,
        frame_audio,
    )

    header = FAKE_AUDIO_MAGIC + struct.pack(">I", 96)
    docs = load_table(spark, sf_dir, "documents")
    binary_df = docs.select(
        F.col("doc_id").cast("string").alias("path"),
        F.concat(
            F.lit(header), F.encode(F.repeat(F.md5("text"), 3), "UTF-8")
        ).alias("content"),
    )
    framed = frame_audio(decode_audios(binary_df), frame_len=16, hop=16)
    return audio_frame_features(framed, frame_len=16)


@register(
    "multimodal_image_dedup",
    oracle="""
    WITH img AS (
      SELECT doc_id, repeat(md5(lang || source), 3) AS px FROM documents
    ),
    pix AS (
      SELECT doc_id,
             list_transform(generate_series(1, 96),
                            i -> ord(substr(px, CAST(i AS INT), 1))) AS ps
      FROM img
    ),
    m AS (
      SELECT doc_id, ps,
             CAST(list_reduce(ps, (a, b) -> a + b) AS DOUBLE) / 96 AS mean
      FROM pix
    ),
    ah AS (
      SELECT doc_id,
             array_to_string(list_transform(ps,
               p -> CASE WHEN p >= mean THEN '1' ELSE '0' END), '') AS ahash
      FROM m
    )
    SELECT ahash, COUNT(*) AS n_dups, MIN(doc_id) AS keep_id
    FROM ah GROUP BY ahash ORDER BY keep_id
    """,
    doc="image dedup via decoded-pixel average hash (E10 x E30): "
    "FAKEIMG tensors (pixel payload keyed by lang+source, so real "
    "duplicate groups exist) are decoded on executors via mapInPandas, "
    "each image reduced to a 96-bit aHash (pixel >= image mean) with "
    "JVM fold/transform — no second Python pass — then exact-dedup "
    "grouped keep-min-id. The media-dedup recipe at 100 TB: decode "
    "once, hash to bytes, shuffle ONLY (hash, id) — pixels never "
    "leave the executor that decoded them. Oracle recomputes the "
    "identical hash from the hex chars",
    tags=("multimodal", "dedup"),
)
def multimodal_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import struct

    from ..operators.multimodal import FAKE_MAGIC, decode_images

    shape = (1, 1, 2, 3, 4, 4)  # 96 pixels
    names = b"c0,c1"
    header = (
        FAKE_MAGIC + struct.pack(">6H", *shape) + struct.pack(">H", len(names)) + names
    )
    docs = load_table(spark, sf_dir, "documents")
    binary_df = docs.select(
        F.col("doc_id").cast("string").alias("path"),
        F.concat(
            F.lit(header),
            F.encode(F.repeat(F.md5(F.concat("lang", "source")), 3), "UTF-8"),
        ).alias("content"),
    )
    decoded = decode_images(binary_df)
    px = F.col("pixels")
    mean = (
        F.aggregate(px, F.lit(0).cast("long"), lambda a, x: a + x).cast("double")
        / F.size(px)
    )
    ah = decoded.select(
        F.col("path").cast("long").alias("doc_id"),
        F.concat_ws(
            "",
            # the mean is bound once per image, not re-folded per pixel
            let(
                mean,
                lambda m: F.transform(
                    px, lambda p: F.when(p >= m, F.lit("1")).otherwise(F.lit("0"))
                ),
            ),
        ).alias("ahash"),
    )
    return (
        ah.groupBy("ahash")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keep_id"))
        .orderBy("keep_id")
    )


@register(
    "multimodal_scene_cuts",
    oracle="""
    WITH img AS (
      SELECT doc_id, repeat(md5(text), 3) AS px FROM documents
    ),
    fr AS (
      SELECT doc_id, f,
             list_transform(generate_series(1, 16),
               i -> ord(substr(px, CAST(f * 16 + i AS INT), 1))) AS frame
      FROM img CROSS JOIN unnest([0, 1, 2, 3, 4, 5]) AS t(f)
    ),
    m AS (
      SELECT doc_id, f,
             CAST(list_reduce(frame, (a, b) -> a + b) AS DOUBLE) / 16 AS fm
      FROM fr
    ),
    d AS (
      SELECT doc_id, fm,
             fm - LAG(fm) OVER (PARTITION BY doc_id ORDER BY f) AS diff
      FROM m
    )
    SELECT doc_id,
           COUNT(*) AS n_frames,
           CAST(SUM(CASE WHEN ABS(diff) > 5.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cuts,
           ROUND(MAX(ABS(diff)), 6) AS max_jump
    FROM d GROUP BY doc_id ORDER BY doc_id
    """,
    doc="video scene-cut detection (E60 x E26): decode -> per-frame "
    "explode (sample_frames) -> per-frame mean via JVM fold -> lag "
    "diff over the per-video time window -> cuts where the jump "
    "exceeds threshold. The shot-boundary primitive of every video "
    "curation pipeline, composed from the SAME executor-side decode "
    "path as the image ops (pixels never leave the decoding executor; "
    "only per-frame scalars shuffle to the per-video window). Oracle "
    "recomputes frames from the hex payload",
    tags=("multimodal", "window"),
)
def multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from ..operators.multimodal import decode_images, sample_frames

    frames = sample_frames(decode_images(_fake_video(spark, sf_dir)), every_n=1)
    m = frames.select(
        F.col("path").cast("long").alias("doc_id"),
        "t",
        (
            F.aggregate(
                F.col("frame"), F.lit(0).cast("long"), lambda a, x: a + x
            ).cast("double")
            / F.size("frame")
        ).alias("fm"),
    )
    d = m.withColumn(
        "diff",
        F.col("fm") - F.lag("fm").over(W.partitionBy("doc_id").orderBy("t")),
    )
    return (
        d.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.sum(F.when(F.abs(F.col("diff")) > 5.0, 1).otherwise(0))
            .cast("long")
            .alias("n_cuts"),
            F.round(F.max(F.abs(F.col("diff"))), 6).alias("max_jump"),
        )
        .orderBy("doc_id")
    )


@register(
    "sink_row_files_digest",
    oracle="""
    WITH img AS (
      SELECT doc_id, repeat(md5(text), 3) AS px FROM documents
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(16 AS BIGINT) AS byte_len,
           sha256(substr(px, 65, 16)) AS sha256_hex
    FROM img
    ORDER BY doc_id
    """,
    doc="EXECUTED per-row file sink read-back (E6, the reference's "
    "one-PNG-per-row write, scripts/test_aics_cluster.py:97-101): each "
    "doc's FAKEIMG tensor decodes on executors, the selected c1/mid-Z "
    "plane writes as one file per row via foreachPartition "
    "(write_planes), the directory re-scans through the binaryFile "
    "source, and each file's (byte_len, sha256) digests are "
    "hash-matched against an oracle recomputing them from the md5-hex "
    "pixel payload — proving the executor-side sink wrote exactly the "
    "sliced bytes. Files write locally per executor in this harness; "
    "at scale the same foreachPartition body targets object storage",
    tags=("multimodal", "sink"),
)
def sink_row_files_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import struct

    from ..operators.multimodal import (
        FAKE_MAGIC,
        decode_images,
        select_plane,
        write_planes,
    )
    from ..sources import read_binary_files

    shape = (1, 1, 2, 3, 4, 4)
    names = b"c0,c1"
    header = (
        FAKE_MAGIC + struct.pack(">6H", *shape) + struct.pack(">H", len(names)) + names
    )
    docs = load_table(spark, sf_dir, "documents")
    binary_df = docs.select(
        F.col("doc_id").cast("string").alias("path"),
        F.concat(
            F.lit(header), F.encode(F.repeat(F.md5("text"), 3), "UTF-8")
        ).alias("content"),
    )
    from .sources_plans import _tmp

    planes = select_plane(decode_images(binary_df), channel_name="c1")
    out_dir = _tmp(sf_dir, "planes")
    shutil.rmtree(out_dir, ignore_errors=True)
    write_planes(planes, out_dir)
    back = read_binary_files(spark, out_dir, glob="*.plane.bin")
    return (
        back.select(
            F.regexp_extract("path", r"(\d+)\.plane\.bin$", 1)
            .cast("long")
            .alias("doc_id"),
            F.length("content").cast("long").alias("byte_len"),
            F.sha2("content", 256).alias("sha256_hex"),
        )
        .orderBy("doc_id")
    )
