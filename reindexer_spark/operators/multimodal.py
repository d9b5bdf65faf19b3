"""Tier C12 — multimodal columns: vectors as array<float>, media as
opaque binary with typed metadata.

The vector side is fully real (norms, stats, element access).  The media
side treats payloads as binary columns; the Spark plumbing (schema,
batching, mapInPandas signature) is real and tested, while the actual
image/audio decode is stubbed behind ``reindexer_spark.multimodal``
(decode libs are not in this container — see that module's docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reindexer_spark.cache import track
from reindexer_spark.catalog import load_table
from reindexer_spark.h264 import GOPS, encode_h264_intra
from reindexer_spark.operators.banding import (
    banded_pairs,
    banded_pairs_sql,
    bstat_sql,
)
from reindexer_spark.registry import query


@query(
    "embed_vector_stats",
    oracle="""
    WITH n AS (
      SELECT label,
             len(embedding) AS dim,
             ROUND(SQRT(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 6) AS norm,
             embedding[1]::DOUBLE AS first_dim
      FROM embeddings
    )
    SELECT label,
           COUNT(*) AS n_vectors,
           MIN(dim) AS min_dim,
           MAX(dim) AS max_dim,
           CAST(SUM(CAST(norm AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_norm,
           CAST(MIN(CAST(norm AS DECIMAL(18,6))) AS DOUBLE) AS min_norm,
           CAST(MAX(CAST(first_dim AS DECIMAL(18,9))) AS DOUBLE) AS max_first_dim
    FROM n
    GROUP BY label
    """,
)
def embed_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column statistics by label: dimension checks, L2 norms,
    element access.  Norms are rounded once then aggregated as exact
    decimals so group averages are reduction-order-independent."""
    e = load_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    norm = F.round(
        F.sqrt(
            F.aggregate(
                emb,
                F.lit(0.0),
                lambda acc, v: acc + v.cast("double") * v.cast("double"),
            )
        ),
        6,
    )
    base = e.select(
        "label",
        F.size(emb).cast("bigint").alias("dim"),
        norm.cast("decimal(18,6)").alias("norm"),
        F.element_at(emb, 1).cast("double").cast("decimal(18,9)").alias("first_dim"),
    )
    return base.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.min("dim").alias("min_dim"),
        F.max("dim").alias("max_dim"),
        (F.sum("norm").cast("double") / F.count("*")).alias("avg_norm"),
        F.min("norm").cast("double").alias("min_norm"),
        F.max("first_dim").cast("double").alias("max_first_dim"),
    )


@query(
    "embed_normalize",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           ROUND(list_sum(list_transform(embedding::DOUBLE[], x -> x)), 6) AS sum_components,
           ROUND(SQRT(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 6) AS norm,
           ROUND(embedding[1]::DOUBLE
                 / SQRT(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 6)
             AS first_dim_normalized
    FROM embeddings
    WHERE vec_id < 100
    """,
)
def embed_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization of a vector column (shown via its first component
    and invariants) — per-row array math, zero shuffles, the preprocessing
    step ahead of any cosine-based dedup/ANN job."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    emb = F.col("embedding")
    dbl = lambda c: c.cast("double")  # noqa: E731
    ssum = F.aggregate(emb, F.lit(0.0), lambda acc, v: acc + dbl(v))
    norm = F.sqrt(F.aggregate(emb, F.lit(0.0), lambda acc, v: acc + dbl(v) * dbl(v)))
    return e.select(
        "vec_id",
        F.size(emb).cast("bigint").alias("dim"),
        F.round(ssum, 6).alias("sum_components"),
        F.round(norm, 6).alias("norm"),
        F.round(F.element_at(emb, 1).cast("double") / norm, 6).alias(
            "first_dim_normalized"
        ),
    )


@query(
    "multimodal_binary_meta",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS checksum,
           CASE WHEN octet_length(encode(text)) > 256 THEN 'large' ELSE 'small' END
             AS size_class
    FROM documents
    WHERE doc_id < 200
    """,
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary column plumbing: encode payloads to binary, compute
    byte length + checksum + typed metadata.  This is the metadata lane
    of the media pipeline; the decode lane (images/audio) is exercised in
    tests via reindexer_spark.multimodal (mapInPandas over binary)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    payload = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(payload).cast("bigint").alias("n_bytes"),
        F.md5(payload).alias("checksum"),
        F.when(F.octet_length(payload) > 256, "large")
        .otherwise("small")
        .alias("size_class"),
    )


def _synth_media(d: DataFrame) -> DataFrame:
    """documents → media rows with REAL payloads: a deterministic 24-bit
    BMP per document (pixels seeded from the text digest), most
    doc_id % 3 == 2 rows a real mono 16-bit WAV (every doc_id % 12 == 2
    row instead a real multi-frame animated GIF: LZW-packed palette
    indices, variable per-frame GCE delays; every doc_id % 12 == 8 row
    the same PCM compressed losslessly as FLAC), every doc_id % 3 == 1 row
    a real multi-frame video (uncompressed-DIB AVI, Motion-JPEG AVI,
    an ISO BMFF mp4 with Photo-JPEG samples behind real sample tables,
    or a Matroska file with V_MJPEG SimpleBlocks and a Cues index),
    every doc_id % 6 == 0 row a real JPEG (alternating baseline and
    PROGRESSIVE SOF2 encodings), and every doc_id % 12 == 3 row a real
    PNG (zlib-deflated through the dependency-free encoder) — the
    compressed formats real crawls are made of exercise the decode
    path end-to-end.
    Built in mapInPandas because container encoding is byte-level
    Python — this is the fixture lane; the decode lane downstream
    parses these bytes back for real."""
    schema = (
        "media_id bigint, kind string, payload binary, meta map<string,string>"
    )
    # spread the synthesis across tasks BEFORE payloads exist: the
    # single-file documents scan is one partition, which serialized
    # every encode-heavy media lane through one core (round 11); the
    # shuffle moves only (doc_id, text) rows, so the 'payloads never
    # shuffle' contract holds
    d = d.repartition(F.col("doc_id"))

    def build(batches):
        import hashlib

        import pandas as pd

        from reindexer_spark.codecs import (
            encode_avi,
            encode_bmp,
            encode_flac,
            encode_gif,
            encode_jpeg_baseline,
            encode_jpeg_progressive,
            encode_mkv,
            encode_mp4,
            encode_png,
            encode_wav,
        )

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                seed = hashlib.sha256(r.text.encode("utf-8")).digest()
                if r.doc_id % 12 == 2:
                    # animated GIF (carved from the audio lane): 16-color
                    # palette from the digest, nibble-indexed pixels,
                    # variable per-frame delays (LZW + GCE timing on the
                    # decode path)
                    w, h = 8 + seed[0] % 9, 8 + seed[1] % 9
                    pal = [
                        bytes(
                            (seed[i], seed[(i + 7) % 32], seed[(i + 13) % 32])
                        )
                        for i in range(16)
                    ]
                    gif_frames = []
                    for i in range(2 + seed[2] % 3):
                        fseed = hashlib.sha256(seed + bytes([i])).digest()
                        stream = (fseed * ((w * h) // 64 + 1))[: (w * h + 1) // 2]
                        px = bytearray()
                        for byte in stream:
                            px += pal[byte >> 4] + pal[byte & 0x0F]
                        gif_frames.append(bytes(px[: w * h * 3]))
                    payload, kind = (
                        encode_gif(
                            w, h, gif_frames,
                            delays_ms=[100 + 50 * (i % 3)
                                       for i in range(len(gif_frames))],
                        ),
                        "image-gif",
                    )
                elif r.doc_id % 3 == 2:
                    samples = [
                        int.from_bytes(
                            seed[(2 * i) % 31 : (2 * i) % 31 + 2],
                            "little",
                            signed=True,
                        )
                        for i in range(16000)
                    ]
                    # every doc_id % 12 == 8 row compresses the same PCM
                    # losslessly through the FLAC encoder instead — the
                    # compressed-audio decode path on real bytes
                    if r.doc_id % 12 == 8:
                        payload, kind = encode_flac(samples, 8000), "audio-flac"
                    else:
                        payload, kind = encode_wav(samples, 8000), "audio-wav"
                elif r.doc_id % 3 == 1:
                    w, h = 6 + seed[0] % 7, 6 + seed[1] % 7
                    frames = []
                    for i in range(3 + seed[2] % 4):  # 3-6 frames @ 4 fps
                        fseed = hashlib.sha256(seed + bytes([i])).digest()
                        frames.append(
                            (fseed * ((w * h * 3) // len(fseed) + 1))[
                                : w * h * 3
                            ]
                        )
                    # the video lane splits four ways: Motion-JPEG AVI
                    # (each frame a real baseline JPEG in a '00dc'
                    # chunk), ISO BMFF mp4 (Photo-JPEG samples behind
                    # real stts/stss/stsc/stco tables, sparse keyframes
                    # + multi-sample chunks so the table walk is
                    # non-trivial), Matroska (V_MJPEG SimpleBlocks in
                    # EBML clusters, sparse keyframes + Cues index),
                    # and uncompressed-DIB AVI
                    if r.doc_id % 12 == 1:
                        payload, kind = (
                            encode_avi(w, h, frames, 4, codec="mjpg"),
                            "video-mjpeg",
                        )
                    elif r.doc_id % 12 == 7:
                        payload, kind = (
                            encode_mp4(
                                w, h, frames, 4,
                                sync_every=2, samples_per_chunk=2,
                            ),
                            "video-mp4",
                        )
                    elif r.doc_id % 12 == 10:
                        payload, kind = (
                            encode_mkv(
                                w, h, frames, 4,
                                sync_every=2, frames_per_cluster=2,
                            ),
                            "video-mkv",
                        )
                    else:
                        payload, kind = encode_avi(w, h, frames, 4), "video-avi"
                elif r.doc_id % 6 == 0:
                    w, h = 8 + seed[0] % 9, 8 + seed[1] % 9
                    rgb = (seed * ((w * h * 3) // len(seed) + 1))[: w * h * 3]
                    # half the JPEG lane is PROGRESSIVE (SOF2 multi-scan)
                    if r.doc_id % 12 == 6:
                        payload, kind = (
                            encode_jpeg_progressive(w, h, bytes(rgb), 85),
                            "image-jpeg",
                        )
                    else:
                        payload, kind = (
                            encode_jpeg_baseline(w, h, bytes(rgb), 85),
                            "image-jpeg",
                        )
                elif r.doc_id % 12 == 3:
                    w, h = 8 + seed[0] % 9, 8 + seed[1] % 9
                    rgb = (seed * ((w * h * 3) // len(seed) + 1))[: w * h * 3]
                    payload, kind = encode_png(w, h, bytes(rgb)), "image-png"
                else:
                    w, h = 8 + seed[0] % 9, 8 + seed[1] % 9
                    rgb = (seed * ((w * h * 3) // len(seed) + 1))[: w * h * 3]
                    payload, kind = encode_bmp(w, h, bytes(rgb)), "image-bmp"
                rows.append(
                    {
                        "media_id": r.doc_id,
                        "kind": kind,
                        "payload": payload,
                        "meta": {"lang": r.lang},
                    }
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "payload", "meta"]
            )

    return d.select("doc_id", "text", "lang").mapInPandas(build, schema)


def _decode_features_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE decode pipeline shared by the rows-only feature lane and its
    hash-gated signature twin (same recipe as crawl's _harvest_core:
    sharing the body means the gate and the rows-only lane cannot
    diverge)."""
    from reindexer_spark.multimodal import LibraryCodec, extract_media_features

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return extract_media_features(_synth_media(d), codec=LibraryCodec())


@query("multimodal_decode_features")  # Python codec output → rows-only check
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The media-decode pipeline on REAL bytes end-to-end: deterministic
    BMP/JPEG/PNG/WAV/DIB-AVI payloads are synthesized per document
    (JPEG via the dependency-free baseline DCT encoder, PNG via the
    zlib encoder — the compressed-format lanes), then parsed back by
    the dependency-free stdlib codecs (reindexer_spark.codecs) through
    the Arrow-batched mapInPandas seam — decoded dimensions, channel
    means, amplitude stats are computed from actual pixel/sample data,
    not digest stubs.  The pixel/sample statistics keep THIS lane
    rows-only; dimensions/channels/frame-count are hash-gated by
    multimodal_decode_features_sig."""
    feats = _decode_features_core(spark, sf_dir)
    # serialize the feature vector: the external comparator canonicalizes
    # via pandas and cannot hash raw array cells (round-1 driver ERR class)
    return feats.withColumn(
        "features",
        F.array_join(
            F.transform("features", lambda x: F.format_string("%.6f", x)), ","
        ),
    )


# sha256(text) byte extraction + the _synth_media kind rotation,
# re-derived arithmetically — the shared head of the three signature
# oracles (the recipe proven by crawl_media_harvest_sig).
_MEDIA_SIG_SQL = """
    base AS (
      SELECT doc_id AS media_id, sha256(text) AS dg
      FROM documents
      WHERE doc_id < 100
    ),
    s AS (
      SELECT media_id,
             CAST(('0x' || substr(dg, 1, 2)) AS INT) AS s0,
             CAST(('0x' || substr(dg, 3, 2)) AS INT) AS s1,
             CAST(('0x' || substr(dg, 5, 2)) AS INT) AS s2,
             media_id % 12 = 2 AS gif,
             media_id % 12 <> 2 AND media_id % 3 = 2 AS audio,
             media_id % 12 <> 2 AND media_id % 3 = 1 AS video
      FROM base
    ),
    k AS (
      SELECT *,
        CASE
          WHEN gif THEN 'image-gif'
          WHEN audio AND media_id % 12 = 8 THEN 'audio-flac'
          WHEN audio THEN 'audio-wav'
          WHEN video AND media_id % 12 = 1 THEN 'video-mjpeg'
          WHEN video AND media_id % 12 = 7 THEN 'video-mp4'
          WHEN video AND media_id % 12 = 10 THEN 'video-mkv'
          WHEN video THEN 'video-avi'
          WHEN media_id % 6 = 0 THEN 'image-jpeg'
          WHEN media_id % 12 = 3 THEN 'image-png'
          ELSE 'image-bmp'
        END AS kind
      FROM s
    )
"""

_MOTION_KINDS = ("image-gif", "video-avi", "video-mjpeg", "video-mp4", "video-mkv")


@query(
    "multimodal_decode_features_sig",
    oracle=f"""
    WITH {_MEDIA_SIG_SQL}
    SELECT media_id, kind,
      CAST(CASE WHEN audio THEN 16000
                WHEN video THEN 6 + s0 % 7
                ELSE 8 + s0 % 9 END AS INT) AS width,
      CAST(CASE WHEN audio THEN 8000
                WHEN video THEN 6 + s1 % 7
                ELSE 8 + s1 % 9 END AS INT) AS height,
      CAST(CASE WHEN audio THEN 1 ELSE 3 END AS INT) AS n_channels,
      CAST(CASE WHEN gif THEN 2 + s2 % 3
                WHEN video THEN 3 + s2 % 4 END AS INT) AS n_frames,
      CAST(1 AS INT) AS decoded
    FROM k
    """,
)
def multimodal_decode_features_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HASH-GATED signature of multimodal_decode_features (round-8
    VERDICT next #6): the same synth → mapInPandas decode pipeline (one
    shared core), projected onto the columns an oracle CAN recompute —
    decoded dimensions (pixels for images/video, samples×rate for
    audio), channel count, motion frame count (the decoder's 8th
    feature slot), and the no-quarantine contract.  Payloads are
    synthesized from sha256(text) and DuckDB has sha256, so the oracle
    re-derives every expected value arithmetically from `documents` —
    equality proves each of the ten container codecs round-trips its
    dimensions and frame structure through REAL encode → decode.  Only
    the pixel/sample statistics stay rows-only (in the parent lane)."""
    feats = _decode_features_core(spark, sf_dir)
    motion = F.col("kind").isin(*_MOTION_KINDS)
    return feats.select(
        "media_id",
        "kind",
        "width",
        "height",
        "n_channels",
        # the codec writes the frame count into the last feature slot
        # for motion containers (PurePythonCodec.decode)
        F.when(motion, F.element_at("features", 8).cast("int")).alias(
            "n_frames"
        ),
        F.col("features").isNotNull().cast("int").alias("decoded"),
    )


THUMB_MAX_DIM = 8


def _thumbs_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE resize pipeline shared by the rows-only thumbnail lane and
    its hash-gated signature twin."""
    from reindexer_spark.multimodal import LibraryResizer, resize_thumbnails

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = _synth_media(d).filter(
        F.col("kind").isin("image-bmp", "image-jpeg", "image-png", "image-gif")
    )
    return resize_thumbnails(media, max_dim=THUMB_MAX_DIM, resizer=LibraryResizer())


@query("multimodal_thumbnail")  # Python resize output → rows-only check
def multimodal_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize on real pixels: BMP, baseline-JPEG, PNG, and GIF
    payloads downscale via the nearest-neighbor pure-Python resizer
    (JPEG decodes through the dependency-free DCT path first, PNG
    through zlib inflate + filter reconstruction, GIF through LZW to
    its first composited frame); output thumbnails are themselves
    decodable BMPs.  Emits (dims, checksum) — byte-stable, bounded by
    max_dim² per row.  The pixel checksum keeps THIS lane rows-only;
    dims and encoded byte size are hash-gated by
    multimodal_thumbnail_sig."""
    return _thumbs_core(spark, sf_dir).select(
        "media_id",
        "kind",
        "thumb_w",
        "thumb_h",
        F.octet_length("thumbnail").alias("thumb_bytes"),
        F.md5("thumbnail").alias("thumb_checksum"),
    )


@query(
    "multimodal_thumbnail_sig",
    oracle=f"""
    WITH {_MEDIA_SIG_SQL},
    dims AS (
      SELECT media_id, kind,
             8 + s0 % 9 AS w, 8 + s1 % 9 AS h
      FROM k
      WHERE kind IN ('image-bmp', 'image-jpeg', 'image-png', 'image-gif')
    ),
    t AS (
      -- replicate the resizer's float arithmetic op-for-op
      -- (PurePythonResizer: scale = min(1.0, max_dim/max(w,h));
      --  tw = max(1, trunc(w*scale))) — both engines use IEEE doubles,
      -- so identical op order gives identical truncation
      SELECT media_id, kind, w, h,
             GREATEST(1, CAST(TRUNC(w * LEAST(1.0, {THUMB_MAX_DIM}.0 / GREATEST(w, h))) AS INT)) AS tw,
             GREATEST(1, CAST(TRUNC(h * LEAST(1.0, {THUMB_MAX_DIM}.0 / GREATEST(w, h))) AS INT)) AS th
      FROM dims
    )
    SELECT media_id, kind,
           CAST(tw AS INT) AS thumb_w,
           CAST(th AS INT) AS thumb_h,
           CAST(54 + th * (((3 * tw + 3) // 4) * 4) AS BIGINT) AS thumb_bytes
    FROM t
    """,
)
def multimodal_thumbnail_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HASH-GATED signature of multimodal_thumbnail: same decode →
    nearest-neighbor-resize → BMP-re-encode pipeline (one shared core),
    projected onto the columns an oracle CAN recompute — thumbnail
    dimensions (the resizer's scale arithmetic replayed in SQL, exact
    because both engines run the same IEEE double ops) and the encoded
    BMP byte size (54-byte header + 4-byte-aligned rows).  Equality
    proves all four image codecs decode to the right geometry AND the
    thumbnail encoder emits a spec-shaped BMP for every row.  Only the
    pixel checksum stays rows-only (in the parent lane)."""
    return _thumbs_core(spark, sf_dir).select(
        "media_id",
        "kind",
        "thumb_w",
        "thumb_h",
        F.octet_length("thumbnail").alias("thumb_bytes"),
    )


@query("multimodal_frame_sample")  # Python sampler output → rows-only check
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamped frame sampling on REAL media, audio AND video: the
    synthesized WAV payloads (2 s of real 16-bit PCM) sample a 100 ms
    window at each 500 ms mark, and the synthesized multi-frame video
    payloads — uncompressed-DIB AVI, Motion-JPEG AVI, ISO BMFF mp4
    whose Photo-JPEG samples resolve through real stts/stss/stsc/stco
    tables with keyframe-aligned snapping, and animated GIFs whose
    VARIABLE per-frame GCE delays drive a non-uniform prefix-sum
    lookup — sample the decoded video
    frame covering each mark, re-encoded as a standalone BMP — actual
    timestamp→offset math on parsed containers in both modalities
    (inter-predicted video still needs pyav and quarantines via
    MediaFormatError).  Each input row fans out to
    a data-dependent number of frame rows via mapInPandas — the one
    shape a fixed-arity UDF cannot express.  Deterministic but
    Python-side → rows-only check; frames are emitted as (bytes,
    checksum), not raw binary, for the pandas canonicalizer."""
    return _frames_core(spark, sf_dir).select(
        "media_id",
        "frame_idx",
        "frame_ts_ms",
        F.octet_length("frame").alias("frame_bytes"),
        F.md5("frame").alias("frame_checksum"),
    )


def _frames_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE sampling pipeline shared by the rows-only frame lane and its
    hash-gated signature twin."""
    from reindexer_spark.multimodal import LibraryFrameSampler, sample_video_frames

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = _synth_media(d).filter(
        F.col("kind").isin(
            "audio-wav", "audio-flac", "video-avi", "video-mjpeg",
            "video-mp4", "video-mkv", "image-gif",
        )
    )
    return sample_video_frames(
        media, every_ms=500, max_frames=4, sampler=LibraryFrameSampler()
    )


@query(
    "multimodal_frame_sample_sig",
    oracle=f"""
    WITH {_MEDIA_SIG_SQL},
    m AS (
      -- per-media frame-mark count and emitted-frame byte size,
      -- re-derived from the synthesis rules: audio is 2 s of PCM
      -- (16000 samples @ 8 kHz) sampled as 100 ms WAV windows
      -- (44 + 2*800 bytes); video is (3 + s2 % 4) frames @ 4 fps,
      -- each emitted frame a BMP of the video dims; gif is
      -- (2 + s2 % 3) frames with 100/150/200 ms GCE delays, frames
      -- emitted as BMPs of the gif dims.  Marks land every 500 ms
      -- below the container duration, capped at 4.
      SELECT media_id,
        CASE
          WHEN audio THEN 4
          WHEN video THEN LEAST(4, ((3 + s2 % 4) * 250 + 499) // 500)
          WHEN gif THEN LEAST(4,
            ((CASE 2 + s2 % 3 WHEN 2 THEN 250 WHEN 3 THEN 450
              ELSE 550 END) + 499) // 500)
        END AS n_out,
        CASE
          WHEN audio THEN 44 + 2 * 800
          WHEN video THEN 54 + (6 + s1 % 7)
                            * (((3 * (6 + s0 % 7) + 3) // 4) * 4)
          WHEN gif THEN 54 + (8 + s1 % 9)
                          * (((3 * (8 + s0 % 9) + 3) // 4) * 4)
        END AS fbytes
      FROM k
      WHERE audio OR video OR gif
    )
    SELECT media_id,
           CAST(UNNEST(range(n_out)) AS INT) AS frame_idx,
           CAST(UNNEST(range(n_out)) * 500 AS BIGINT) AS frame_ts_ms,
           CAST(fbytes AS BIGINT) AS frame_bytes
    FROM m
    """,
)
def multimodal_frame_sample_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HASH-GATED signature of multimodal_frame_sample: same
    parse → timestamp-walk → frame-re-encode pipeline (one shared
    core), projected onto what an oracle CAN recompute — the per-media
    frame fan-out (one row per 500 ms mark under the real container
    duration: PCM length for audio, stts/SimpleBlock/GCE timing for
    mp4/mkv/gif, frame-count × rate for avi), each mark's index and
    timestamp, and the emitted frame's encoded byte size (WAV window
    for audio, dimension-exact BMP for video/gif).  Equality proves
    every container's duration math and the sampler's mark loop agree
    with the synthesis arithmetic.  Keyframe snapping changes WHICH
    pixels are emitted, never the byte size — the pixel checksum stays
    rows-only (in the parent lane)."""
    return _frames_core(spark, sf_dir).select(
        "media_id",
        "frame_idx",
        F.col("frame_ts_ms").cast("bigint").alias("frame_ts_ms"),
        F.octet_length("frame").cast("bigint").alias("frame_bytes"),
    )


AHASH_BANDS = 8  # 64-bit hash split into 8x8-bit bands for LSH
AHASH_BAND_BITS = 64 // AHASH_BANDS
AHASH_HAMMING_MAX = 6
# 8 bands of 8 bits: pigeonhole guarantees a shared band for every pair
# at hamming <= AHASH_BANDS - 1 = 7, so the <= 6 filter below can never
# lose a pair to banding — the filter's contract is now a guarantee,
# not best-effort (round-5 VERDICT item #2; 4x16 bands only guaranteed
# hamming <= 3).
assert AHASH_HAMMING_MAX < AHASH_BANDS


@query("multimodal_phash_dedup")  # Python decode output → rows-only check
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup on REAL pixels: decode each image
    (raw BMP or compressed baseline JPEG — the hash is format-blind by
    construction), average-hash it (8x8 nearest-neighbor downsample of
    the grayscale, threshold at the mean → 64-bit signature), then find
    near-duplicate pairs by hamming distance ≤ 6 — the image-modality
    twin of dedup_simhash, closing the loop between the multimodal
    decode lane and the dedup family.  The injected near-dup copies
    re-encode JPEGs through the lossy encoder, so the operator is
    tested against real re-encode noise, not just pixel nudges.

    Scale shape mirrors SimHash text dedup exactly: the signature is 8
    bytes per image regardless of resolution (the ONLY full-data pass
    is the decode), candidates come from equality on one of 8 8-bit
    hash bands — pigeonhole guarantees a shared band for every pair at
    hamming ≤ 7, so the ≤ 6 filter below NEVER loses a pair to banding
    (recall 1.0 by construction over its own contract) — and the exact
    hamming check via bit_count(xor) runs on candidates only.  The
    price of the guarantee is more candidates per band (an 8-bit band
    has 256 buckets vs 65536), which is the right trade: candidates
    are verified by a cheap xor, while a missed pair is unrecoverable.
    Decode is Arrow-batched
    mapInPandas; the band join shuffles 8-byte signatures, never pixels.
    The banding+hamming half of this pipeline is value-gated by
    ``multimodal_phash_pairs`` below; only the pixel-decode leg is
    rows-only."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    # tracked (optimization r16): media feeds BOTH the perturb branch
    # and the union below — uncached, the synth (pure-Python image
    # encodes, the lane's single heaviest stage) executed twice
    media = track(
        _synth_media(d).filter(F.col("kind").startswith("image-"))
    )

    # Near-duplicate lane: every 5th image re-enters slightly brightened
    # (a few pixels nudged, media_id offset by 1e6) — BMPs re-encode as
    # BMP, JPEGs re-encode through the LOSSY baseline encoder, so the
    # fixture carries both perturbed-raw and genuinely re-encoded
    # copies, the two duplicate classes a real crawl has that an exact
    # checksum cannot catch.  The corpus itself has no byte-identical
    # images (the generator seeds pixels from document text, which is
    # duplicate-free at this sf).
    def perturb(batches):
        import numpy as np
        import pandas as pd

        from reindexer_spark.codecs import (
            _decode_image,
            _sniff,
            encode_bmp,
            encode_jpeg_baseline,
            encode_png,
        )

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                if r.media_id % 15 != 0:
                    continue
                payload = bytes(r.payload)
                kind = _sniff(payload)
                w, h, rgb = _decode_image(kind, payload)
                px = np.frombuffer(rgb, dtype=np.uint8).copy()
                px[:: max(1, len(px) // 7)] = np.minimum(
                    px[:: max(1, len(px) // 7)].astype(np.int16) + 9, 255
                ).astype(np.uint8)
                if kind == "jpeg":
                    out = encode_jpeg_baseline(w, h, px.tobytes(), 85)
                elif kind == "png":
                    out = encode_png(w, h, px.tobytes())
                else:
                    out = encode_bmp(w, h, px.tobytes())
                rows.append(
                    {
                        "media_id": int(r.media_id) + 1_000_000,
                        "kind": r.kind,
                        "payload": out,
                        "meta": dict(r.meta) if r.meta else {},
                    }
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "payload", "meta"]
            )

    copies = media.mapInPandas(
        perturb,
        "media_id bigint, kind string, payload binary, meta map<string,string>",
    )
    media = media.unionByName(copies)

    def ahash(batches):
        import numpy as np
        import pandas as pd

        from reindexer_spark.codecs import _decode_image, _sniff

        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                payload = bytes(r.payload)
                w, h, rgb = _decode_image(_sniff(payload), payload)
                px = (
                    np.frombuffer(rgb, dtype=np.uint8)
                    .reshape(h, w, 3)
                    .mean(axis=2)
                )
                # nearest-neighbor 8x8: integer index grid, no float
                # resampling → engine/library-independent
                yi = (np.arange(8) * h) // 8
                xi = (np.arange(8) * w) // 8
                small = px[np.ix_(yi, xi)]
                bits = (small > small.mean()).flatten()
                sig = 0
                for b in bits:
                    sig = (sig << 1) | int(b)
                # store as signed int64 (Spark bigint)
                if sig >= 1 << 63:
                    sig -= 1 << 64
                out.append((int(r.media_id), sig))
            yield pd.DataFrame(out, columns=["media_id", "ahash"])

    sigs = media.mapInPandas(ahash, "media_id bigint, ahash bigint")
    sigs = track(sigs)
    # Band split as EXPLODED (band_id, band_val) rows → hot-bucket-
    # guarded equi-join (banding.banded_pairs).  The previous shape —
    # one row per signature, joined on an OR over 8 band equalities —
    # was an all-pairs nested-loop join in disguise (an OR of
    # equalities has no hash-join key), quadratic at scale.  Below
    # HOT_BUCKET_CAP the exploded equi-join produces the identical
    # candidate set; a band bucket that goes hot degrades to the
    # guard's signature-grouped star instead (banding.banded_pairs).
    bands = sigs.select(
        "media_id",
        "ahash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(
                        F.col("ahash"), AHASH_BAND_BITS * i
                    ).bitwiseAND(F.lit((1 << AHASH_BAND_BITS) - 1))
                    for i in range(AHASH_BANDS)
                ]
            )
        ).alias("band_id", "band_val"),
    )
    cand = (
        banded_pairs(
            bands, ("band_id", "band_val"), "media_id", out1="m1", out2="m2",
            sig_cols=("ahash",),
        )
        .join(
            sigs.select(
                F.col("media_id").alias("m1"), F.col("ahash").alias("h1")
            ),
            "m1",
        )
        .join(
            sigs.select(
                F.col("media_id").alias("m2"), F.col("ahash").alias("h2")
            ),
            "m2",
        )
    )
    hamming = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    return (
        cand.select("m1", "m2", hamming.alias("hamming"))
        .filter(F.col("hamming") <= AHASH_HAMMING_MAX)
    )


# Value gate for the phash dedup half (multimodal_phash_dedup above is
# rows-only because pixel decode is Python).  The signatures here are
# derived from md5(text) — deterministic and identical on both engines —
# and then flow through the SAME banding + bit_count-hamming pipeline as
# the production lane, so a wrong band split or hamming expression
# cannot ship silently.  Near-dup copies are injected by flipping <= 6
# md5-chosen bits (media_id offset 1e6), mirroring the production
# fixture's perturbed-copy lane; 6 positions (which may collide and
# XOR-cancel, spreading actual hamming across 1..6) cover the FULL
# <= 6 contract range, and the 8x8-bit banding pigeonhole guarantees a
# shared band for every such pair — the oracle match verifies recall
# across the whole contract, not just precision of the hamming filter.
PHASH_PAIRS_DOCS = 200
PHASH_PAIRS_COPY_MOD = 15
_PHASH_FLIP_POS = ["p1", "p2", "p3", "p4", "p5", "p6"]


def _xor_fold(terms: list[str]) -> str:
    """Balanced xor(...) nesting of SQL terms (DuckDB xor is 2-ary)."""
    while len(terms) > 1:
        terms = [
            f"xor({terms[i]}, {terms[i + 1]})"
            if i + 1 < len(terms)
            else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0]


_PHASH_P_COLS_SQL = ",\n             ".join(
    f"('0x' || substr(md5(text), {17 + 2 * i}, 2))::BIGINT % 64 AS p{i + 1}"
    for i in range(len(_PHASH_FLIP_POS))
)
_PHASH_LO_MASK_SQL = _xor_fold(
    [
        f"CASE WHEN {p} < 32 THEN (1::BIGINT << {p}) ELSE 0 END"
        for p in _PHASH_FLIP_POS
    ]
)
_PHASH_HI_MASK_SQL = _xor_fold(
    [
        f"CASE WHEN {p} >= 32 THEN (1::BIGINT << ({p} - 32)) ELSE 0 END"
        for p in _PHASH_FLIP_POS
    ]
)


@query(
    "multimodal_phash_pairs",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS media_id,
             ('0x' || substr(md5(text), 1, 8))::BIGINT AS lo,
             ('0x' || substr(md5(text), 9, 8))::BIGINT AS hi,
             {_PHASH_P_COLS_SQL}
      FROM documents WHERE doc_id < {PHASH_PAIRS_DOCS}
    ),
    copies AS (
      SELECT media_id + 1000000 AS media_id,
             xor(lo, {_PHASH_LO_MASK_SQL}) AS lo,
             xor(hi, {_PHASH_HI_MASK_SQL}) AS hi
      FROM base WHERE media_id % {PHASH_PAIRS_COPY_MOD} = 0
    ),
    sigs AS MATERIALIZED (
      SELECT media_id, lo, hi FROM base
      UNION ALL SELECT media_id, lo, hi FROM copies
    ),
    chunks AS (
      SELECT media_id, lo, hi, c AS chunk_id,
             CASE WHEN c < 4 THEN (lo >> (8 * c)) & 255
                  ELSE (hi >> (8 * (c - 4))) & 255 END AS chunk_val
      FROM sigs CROSS JOIN range(8) r(c)
    ),
    bstat AS MATERIALIZED (
      {bstat_sql("chunks", ("chunk_id", "chunk_val"), "media_id",
                 ("lo", "hi"))}
    ),
    cand AS (
      {banded_pairs_sql("bstat", ("chunk_id", "chunk_val"), "media_id")}
    )
    SELECT d1 AS m1, d2 AS m2,
           (bit_count(xor(s1.lo, s2.lo)) + bit_count(xor(s1.hi, s2.hi)))
             AS hamming
    FROM cand
    JOIN sigs s1 ON s1.media_id = d1
    JOIN sigs s2 ON s2.media_id = d2
    WHERE bit_count(xor(s1.lo, s2.lo)) + bit_count(xor(s1.hi, s2.hi))
          <= {AHASH_HAMMING_MAX}
    """,
)
def multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding + hamming verify over deterministic 64-bit signatures —
    the ORACLE-CHECKABLE half of multimodal_phash_dedup.  Signature
    extraction from pixels is necessarily Python (rows-only); everything
    downstream of the signature relation — the 8x8-bit band split, the
    band-equality candidate join, dedup of candidates, and the exact
    bit_count(xor) hamming filter — is pure column algebra, and this
    query runs that exact pipeline over md5-derived signatures both
    engines can compute.  Sketches travel as two non-negative 32-bit
    halves (same convention as dedup_simhash_md5) so hex parsing is
    portable.

    The injected near-dup copies flip up to 6 md5-chosen bits
    (colliding positions XOR-cancel, so actual hamming spreads over
    1..6 across the fixture set), covering the ENTIRE <= 6 filter
    contract; 8 bands of 8 bits force a shared band for any hamming
    <= 7, so every copy MUST surface as a candidate — the oracle match
    therefore verifies recall of the banding across the full contract
    range, not just precision of the hamming filter."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < PHASH_PAIRS_DOCS
    )
    base = d.select(
        F.col("doc_id").alias("media_id"),
        F.md5("text").alias("dg"),
    ).select(
        "media_id",
        F.conv(F.substring("dg", 1, 8), 16, 10).cast("bigint").alias("lo"),
        F.conv(F.substring("dg", 9, 8), 16, 10).cast("bigint").alias("hi"),
        *[
            (
                F.conv(F.substring("dg", 17 + 2 * i, 2), 16, 10).cast(
                    "bigint"
                )
                % 64
            ).alias(f"p{i + 1}")
            for i in range(len(_PHASH_FLIP_POS))
        ],
    )
    zero = F.lit(0).cast("long")

    def flip_mask(low_half: bool):
        # shiftleft's bit count must be an expression here (python
        # F.shiftleft only takes int literals), so go through F.expr.
        mask = zero
        for p in _PHASH_FLIP_POS:
            if low_half:
                bit = F.when(
                    F.col(p) < 32,
                    F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({p} AS INT))"),
                ).otherwise(zero)
            else:
                bit = F.when(
                    F.col(p) >= 32,
                    F.expr(
                        f"shiftleft(CAST(1 AS BIGINT), CAST({p} - 32 AS INT))"
                    ),
                ).otherwise(zero)
            mask = mask.bitwiseXOR(bit)
        return mask

    copies = base.filter(F.col("media_id") % PHASH_PAIRS_COPY_MOD == 0).select(
        (F.col("media_id") + 1_000_000).alias("media_id"),
        F.col("lo").bitwiseXOR(flip_mask(True)).alias("lo"),
        F.col("hi").bitwiseXOR(flip_mask(False)).alias("hi"),
    )
    sigs = base.select("media_id", "lo", "hi").unionByName(copies)
    chunks = sigs.select(
        "media_id",
        "lo",
        "hi",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("lo", 8 * i).bitwiseAND(F.lit(0xFF))
                    for i in range(4)
                ],
                *[
                    F.shiftright("hi", 8 * i).bitwiseAND(F.lit(0xFF))
                    for i in range(4)
                ],
            )
        ).alias("chunk_id", "chunk_val"),
    )
    sigs = track(sigs)
    cand = (
        banded_pairs(
            chunks.select("media_id", "lo", "hi", "chunk_id", "chunk_val"),
            ("chunk_id", "chunk_val"),
            "media_id",
            out1="m1",
            out2="m2",
            sig_cols=("lo", "hi"),
        )
        .join(
            sigs.select(
                F.col("media_id").alias("m1"),
                F.col("lo").alias("lo1"),
                F.col("hi").alias("hi1"),
            ),
            "m1",
        )
        .join(
            sigs.select(
                F.col("media_id").alias("m2"),
                F.col("lo").alias("lo2"),
                F.col("hi").alias("hi2"),
            ),
            "m2",
        )
    )
    hamming = F.bit_count(
        F.col("lo1").bitwiseXOR(F.col("lo2"))
    ) + F.bit_count(F.col("hi1").bitwiseXOR(F.col("hi2")))
    return cand.select("m1", "m2", hamming.alias("hamming")).filter(
        F.col("hamming") <= AHASH_HAMMING_MAX
    )


# ---------------------------------------------------------------------------
# Audio fingerprint dedup — the audio member of the near-dup family
# (text: dedup_simhash / dedup_minhash; image: multimodal_phash_dedup).
# ---------------------------------------------------------------------------

AUDIO_FP_WINDOW = 512  # samples per analysis window
AUDIO_FP_HOP = 256
AUDIO_FP_GRAM = 8  # windows packed into one fingerprint word
AUDIO_FP_STRIDE = 4
AUDIO_FP_OVERLAP = 0.8  # verify threshold |W1 ∩ W2| / min(|W1|,|W2|)
AUDIO_FP_DF_CAP = 100  # drop fingerprint words shared by > this many clips


def audio_fingerprint(samples) -> list[int]:
    """PCM → sorted distinct 56-bit fingerprint words, all integer math.

    Per 512-sample window (hop 256): the zero-crossing count quantized
    to 6 bits (amplitude-invariant — a re-encoded or gain-adjusted copy
    keeps its crossings) plus a 1-bit energy TREND vs the previous
    window (integer |sum| comparison — also gain-invariant, unlike the
    energy itself).  8 consecutive 7-bit window signatures pack into
    one word (stride 4), so a word is a ~0.4 s acoustic shingle — the
    same shingle→set→overlap shape as text n-gram dedup, which is
    exactly how the downstream join treats it."""
    import numpy as np

    s = np.asarray(samples, dtype=np.int64)
    if len(s) < AUDIO_FP_WINDOW + AUDIO_FP_HOP * (AUDIO_FP_GRAM - 1):
        return []
    n_win = 1 + (len(s) - AUDIO_FP_WINDOW) // AUDIO_FP_HOP
    idx = np.arange(AUDIO_FP_WINDOW) + AUDIO_FP_HOP * np.arange(n_win)[:, None]
    w = s[idx]
    zc = np.count_nonzero((w[:, :-1] < 0) != (w[:, 1:] < 0), axis=1)
    total_abs = np.abs(w).sum(axis=1)  # integer energy proxy
    trend = np.concatenate(([0], (np.diff(total_abs) > 0).astype(np.int64)))
    sig = ((zc >> 3) << 1) | trend  # 7 bits per window
    words = set()
    for i in range(0, n_win - AUDIO_FP_GRAM + 1, AUDIO_FP_STRIDE):
        word = 0
        for j in range(AUDIO_FP_GRAM):
            word = (word << 7) | int(sig[i + j])
        words.add(word)
    return sorted(words)


def _audio_dedup_core(media: DataFrame) -> DataFrame:
    """The full audio near-dup lane over an arbitrary audio media
    relation (``media_id, kind, payload, meta`` with kind in
    audio-wav/audio-flac): cross-container transcode doubling (the
    guaranteed-duplicate construction), decode + acoustic fingerprint,
    DF-capped inverted word index, overlap verify.  Parameterized so
    the query gates the 200-doc fixture while scale_proof.py drives the
    SAME lane at 10x clip counts."""
    import pandas as pd

    # tracked (optimization r16): media feeds both union branches —
    # uncached, the upstream synthesis (pure-Python audio encodes) ran
    # twice inside the one pass that builds the fingerprint index
    media = track(media)

    def transcode(batches):
        from reindexer_spark.codecs import (
            decode_flac,
            decode_wav,
            encode_flac,
            encode_wav,
        )

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                payload = bytes(r.payload)
                if r.kind == "audio-wav":
                    rate, samples = decode_wav(payload)
                    out, kind = encode_flac(samples, rate), "audio-flac"
                else:
                    rate, samples = decode_flac(payload)
                    out, kind = encode_wav(samples, rate), "audio-wav"
                rows.append(
                    {
                        "media_id": r.media_id + 100000,
                        "kind": kind,
                        "payload": out,
                        "meta": r.meta,
                    }
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "payload", "meta"]
            )

    both = media.unionByName(
        media.mapInPandas(
            transcode,
            "media_id bigint, kind string, payload binary, meta map<string,string>",
        )
    )

    def fingerprint(batches):
        from reindexer_spark.codecs import decode_flac, decode_wav

        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                payload = bytes(r.payload)
                decode = decode_flac if payload[:4] == b"fLaC" else decode_wav
                _, samples = decode(payload)
                for word in audio_fingerprint(samples):
                    out.append({"media_id": r.media_id, "word": word})
            yield pd.DataFrame(out, columns=["media_id", "word"])

    # materialize the (media_id, word) relation once: the DF-cap agg,
    # the anti-join, the sizes agg and BOTH pair-join sides consume it,
    # and without the persist each branch re-ran synthesis + the FLAC
    # transcode + fingerprint end to end (round 11: the lane's wall was
    # 4-6 recomputes, not the audio math)
    words = track(
        both.select("media_id", "payload").mapInPandas(
            fingerprint, "media_id bigint, word bigint"
        )
    )
    hot = (
        words.groupBy("word")
        .agg(F.countDistinct("media_id").alias("df"))
        .filter(F.col("df") > AUDIO_FP_DF_CAP)
        .select("word")
    )
    idx = words.join(F.broadcast(hot), "word", "left_anti")
    sizes = idx.groupBy("media_id").agg(F.count("*").alias("n_words"))
    pairs = (
        idx.alias("x")
        .join(idx.alias("y"), "word")
        .filter(F.col("x.media_id") < F.col("y.media_id"))
        .groupBy(
            F.col("x.media_id").alias("m1"), F.col("y.media_id").alias("m2")
        )
        .agg(F.count("*").alias("n_common"))
    )
    overlap = F.col("n_common").cast("double") / F.least("n1", "n2")
    return (
        pairs.join(
            sizes.select(F.col("media_id").alias("m1"), F.col("n_words").alias("n1")),
            "m1",
        )
        .join(
            sizes.select(F.col("media_id").alias("m2"), F.col("n_words").alias("n2")),
            "m2",
        )
        .filter(overlap >= AUDIO_FP_OVERLAP)
        .select("m1", "m2", "n_common", F.round(overlap, 6).alias("overlap"))
        .orderBy("m1", "m2")
    )


@query("audio_dedup_fingerprint")  # Python decode → rows-only check
def audio_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic near-duplicate detection on REAL decoded audio — the
    audio twin of multimodal_phash_dedup: WAV and FLAC payloads decode
    to PCM, fingerprint into integer acoustic-shingle words
    (:func:`audio_fingerprint`), and clips pair when their word sets
    overlap ≥ {AUDIO_FP_OVERLAP} — catching the copies a byte checksum
    cannot (same recording, different container/codec).

    The fixture makes that failure mode real: every audio row is ALSO
    re-encoded through the OTHER container (WAV→FLAC, FLAC→WAV,
    media_id + 100000) with byte-identical PCM, so each (id,
    id+100000) pair must surface with overlap 1.0 despite sharing not
    a single payload byte (pinned in tests).

    Scale shape mirrors dedup_ngram_jaccard exactly: the only
    full-data pass is the decode+fingerprint map (Arrow-batched,
    emits ~14 8-byte words per 2 s clip — the payload never
    shuffles); the inverted word index carries a DF cap
    ({AUDIO_FP_DF_CAP}) so viral/boilerplate audio (jingles, silence)
    cannot blow up the candidate join; verification is a pair-count
    aggregation, no re-decode."""
    # pre-select the AUDIO documents before synthesis (the kind
    # rotation is doc_id arithmetic): synthesizing all 200 rows built
    # every expensive video fixture only to filter it away (round 11)
    docs = load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 200)
        & (F.col("doc_id") % 3 == 2)
        & (F.col("doc_id") % 12 != 2)
    )
    return _audio_dedup_core(
        _synth_media(docs).filter(
            F.col("kind").isin("audio-wav", "audio-flac")
        )
    )


AUDIO_PAIRS_DOCS = 200
AUDIO_PAIRS_COPY_MOD = 10
AUDIO_PAIRS_WORDS = 8
AUDIO_PAIRS_VOCAB = 4096
AUDIO_PAIRS_TAU = 0.7


@query(
    "audio_fingerprint_pairs",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS media_id, md5(text) AS dg
      FROM documents WHERE doc_id < {AUDIO_PAIRS_DOCS}
    ),
    w AS (
      SELECT media_id, i,
             ('0x' || substr(dg, 1 + 3 * i, 3))::BIGINT % {AUDIO_PAIRS_VOCAB}
               AS word
      FROM base CROSS JOIN range({AUDIO_PAIRS_WORDS}) r(i)
    ),
    copies AS (
      SELECT media_id + 100000 AS media_id, i,
             CASE WHEN i < 2 THEN xor(word, 1) ELSE word END AS word
      FROM w WHERE media_id % {AUDIO_PAIRS_COPY_MOD} = 0
    ),
    allw AS MATERIALIZED (
      SELECT DISTINCT media_id, word
      FROM (SELECT media_id, word FROM w
            UNION ALL SELECT media_id, word FROM copies)
    ),
    -- DF cap, mirroring the production lane's guard on the inverted
    -- word index (words shared by > {AUDIO_FP_DF_CAP} clips are
    -- boilerplate evidence of nothing and quadratic in the join)
    kept AS MATERIALIZED (
      SELECT media_id, word FROM allw
      WHERE word NOT IN (
        SELECT word FROM allw GROUP BY word
        HAVING COUNT(DISTINCT media_id) > {AUDIO_FP_DF_CAP}
      )
    ),
    sizes AS (
      SELECT media_id, COUNT(*) AS n_words FROM kept GROUP BY media_id
    ),
    pairs AS (
      SELECT x.media_id AS m1, y.media_id AS m2, COUNT(*) AS n_common
      FROM kept x JOIN kept y
        ON x.word = y.word AND x.media_id < y.media_id
      GROUP BY 1, 2
    )
    SELECT m1, m2, n_common,
           round(CAST(n_common AS DOUBLE) / least(s1.n_words, s2.n_words), 6)
             AS overlap
    FROM pairs
    JOIN sizes s1 ON s1.media_id = m1
    JOIN sizes s2 ON s2.media_id = m2
    WHERE CAST(n_common AS DOUBLE) / least(s1.n_words, s2.n_words)
          >= {AUDIO_PAIRS_TAU}
    ORDER BY m1, m2
    """,
)
def audio_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ORACLE-CHECKABLE half of audio_dedup_fingerprint — the same
    twin convention as multimodal_phash_pairs: fingerprint extraction
    from PCM is necessarily Python (rows-only), but everything
    downstream of the word relation — distinct word sets, the inverted
    word-index self-join, pair counting, and the min-size overlap
    verify — is pure column algebra, replicated here over md5-derived
    word sets both engines compute identically.

    Injected copies perturb 2 of {AUDIO_PAIRS_WORDS} words (overlap
    0.75 when nothing collides ≥ τ={AUDIO_PAIRS_TAU}), so every copy
    must surface; unrelated clips share ~0.016 expected words over the
    {AUDIO_PAIRS_VOCAB}-word vocabulary and cannot reach τ — the gate
    checks recall AND precision of the overlap pipeline."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < AUDIO_PAIRS_DOCS
    )
    base = d.select(F.col("doc_id").alias("media_id"), F.md5("text").alias("dg"))
    w = base.select(
        "media_id",
        F.posexplode(
            F.array(
                *[
                    (
                        F.conv(F.substring("dg", 1 + 3 * i, 3), 16, 10).cast(
                            "bigint"
                        )
                        % AUDIO_PAIRS_VOCAB
                    )
                    for i in range(AUDIO_PAIRS_WORDS)
                ]
            )
        ).alias("i", "word"),
    )
    copies = w.filter(F.col("media_id") % AUDIO_PAIRS_COPY_MOD == 0).select(
        (F.col("media_id") + 100000).alias("media_id"),
        "i",
        F.when(F.col("i") < 2, F.col("word").bitwiseXOR(F.lit(1)))
        .otherwise(F.col("word"))
        .alias("word"),
    )
    allw = (
        w.select("media_id", "word")
        .unionByName(copies.select("media_id", "word"))
        .distinct()
    )
    # DF cap — same guard as the production lane's inverted word index
    hot = (
        allw.groupBy("word")
        .agg(F.countDistinct("media_id").alias("df"))
        .filter(F.col("df") > AUDIO_FP_DF_CAP)
        .select("word")
    )
    allw = allw.join(F.broadcast(hot), "word", "left_anti")
    sizes = allw.groupBy("media_id").agg(F.count("*").alias("n_words"))
    pairs = (
        allw.alias("x")
        .join(allw.alias("y"), "word")
        .filter(F.col("x.media_id") < F.col("y.media_id"))
        .groupBy(
            F.col("x.media_id").alias("m1"), F.col("y.media_id").alias("m2")
        )
        .agg(F.count("*").alias("n_common"))
    )
    overlap = F.col("n_common").cast("double") / F.least("n1", "n2")
    return (
        pairs.join(
            sizes.select(F.col("media_id").alias("m1"), F.col("n_words").alias("n1")),
            "m1",
        )
        .join(
            sizes.select(F.col("media_id").alias("m2"), F.col("n_words").alias("n2")),
            "m2",
        )
        .filter(overlap >= AUDIO_PAIRS_TAU)
        .select("m1", "m2", "n_common", F.round(overlap, 6).alias("overlap"))
        .orderBy("m1", "m2")
    )


# ---------------------------------------------------------------------------
# Video scene-cut detection — the curation pass that turns raw video
# into trainable clips (scene-aligned sampling beats fixed-interval
# sampling because frames within a scene are near-duplicates).
# ---------------------------------------------------------------------------

SCENE_CUT_THRESHOLD = 40  # mean abs pixel delta (0-255) that marks a cut
SCENE_DOCS = 60


def _synth_scene_video(d: DataFrame) -> DataFrame:
    """documents → multi-SCENE videos with KNOWN cut positions: each
    video is 2-4 scenes of 2-4 frames; frames within a scene are the
    scene's base image plus a tiny deterministic nudge (max delta 2),
    scene boundaries swap to an unrelated base (typical delta ~85).
    Containers rotate through DIB-AVI / Motion-JPEG / mp4 / mkv so the
    detector is exercised on lossless AND lossy decode paths.  The
    constructed boundaries ride along as ground truth for the tests."""
    schema = (
        "media_id bigint, payload binary, container string, true_cuts string"
    )

    def build(batches):
        import hashlib

        import pandas as pd

        from reindexer_spark.codecs import encode_avi, encode_mkv, encode_mp4

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                seed_hex = hashlib.sha256(r.text.encode("utf-8")).hexdigest()
                seed = bytes.fromhex(seed_hex)
                w, h = 10 + seed[0] % 5, 8 + seed[1] % 5
                n_scenes = 2 + seed[2] % 3
                frames, cuts = [], []
                for sc in range(n_scenes):
                    # hex-string derivation (not raw-byte concat) so the
                    # signature oracle can replay it: DuckDB's sha256 is
                    # VARCHAR-only, and `sha256(text) || '-' || sc` is
                    # exactly reconstructible there.
                    base = hashlib.sha256(
                        f"{seed_hex}-{sc}".encode("ascii")
                    ).digest()
                    base_px = bytearray(
                        (base * ((w * h * 3) // 32 + 1))[: w * h * 3]
                    )
                    if sc:
                        cuts.append(len(frames))  # first frame of the scene
                    for fr in range(2 + base[0] % 3):
                        px = bytearray(base_px)
                        # tiny intra-scene motion: nudge a few bytes by <=2
                        for k in range(8):
                            i = (fr * 131 + k * 37) % len(px)
                            px[i] = min(255, px[i] + 2)
                        frames.append(bytes(px))
                kind = r.doc_id % 4
                if kind == 0:
                    payload, cont = encode_avi(w, h, frames, 4), "avi-dib"
                elif kind == 1:
                    payload, cont = (
                        encode_avi(w, h, frames, 4, codec="mjpg", quality=90),
                        "avi-mjpg",
                    )
                elif kind == 2:
                    payload, cont = (
                        encode_mp4(w, h, frames, 4, quality=90),
                        "mp4",
                    )
                else:
                    payload, cont = (
                        encode_mkv(w, h, frames, 4, quality=90),
                        "mkv",
                    )
                rows.append(
                    {
                        "media_id": r.doc_id,
                        "payload": payload,
                        "container": cont,
                        "true_cuts": ",".join(str(c) for c in cuts),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "payload", "container", "true_cuts"],
            )

    return d.select("doc_id", "text").mapInPandas(build, schema)


def _scene_cut_core(media: DataFrame) -> DataFrame:
    """Scene-cut detection over an arbitrary video media relation
    (``media_id, payload, container, true_cuts``) — parameterized so
    the query gates the fixture while scale_proof.py drives the SAME
    decode lane at 10x clip counts."""
    import pandas as pd

    def detect(batches):
        import numpy as np

        from reindexer_spark.codecs import decode_avi, decode_mkv, decode_mp4

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                payload = bytes(r.payload)
                if payload[4:8] == b"ftyp":
                    _w, _h, _d, frames, _s = decode_mp4(payload)
                elif payload[:4] == b"\x1a\x45\xdf\xa3":
                    _w, _h, _d, frames, _s = decode_mkv(payload)
                else:
                    _w, _h, _u, frames = decode_avi(payload)
                stack = np.stack(
                    [np.frombuffer(f, dtype=np.uint8) for f in frames]
                ).astype(np.int64)
                deltas = np.abs(np.diff(stack, axis=0)).mean(axis=1)
                cut_idx = [
                    int(i) + 1
                    for i, v in enumerate(deltas)
                    if v > SCENE_CUT_THRESHOLD
                ]
                rows.append(
                    {
                        "media_id": r.media_id,
                        "container": r.container,
                        "n_frames": len(frames),
                        "n_cuts": len(cut_idx),
                        "cuts": ",".join(str(c) for c in cut_idx),
                        "true_cuts": r.true_cuts,
                        "max_intra_delta": float(
                            max(
                                (v for v in deltas if v <= SCENE_CUT_THRESHOLD),
                                default=0.0,
                            )
                        ),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "container", "n_frames", "n_cuts",
                    "cuts", "true_cuts", "max_intra_delta",
                ],
            )

    return media.mapInPandas(
        detect,
        "media_id bigint, container string, n_frames int, n_cuts int, "
        "cuts string, true_cuts string, max_intra_delta double",
    ).orderBy("media_id")


@query("video_scene_cuts")  # Python decode → rows-only check
def video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection on real decoded video: adjacent frames
    compare by mean absolute pixel delta (integer math, numpy), and a
    transition above {SCENE_CUT_THRESHOLD} marks a cut.  Runs across
    all four video containers — uncompressed DIB (exact), Motion-JPEG,
    Photo-JPEG mp4 and V_MJPEG mkv (lossy: codec noise must stay far below the
    scene signal, which the tests assert by matching detected cuts to
    the constructed ground truth on every container).

    Scale shape: one Arrow-batched decode pass; per video the emitted
    row is a handful of integers + a cut list bounded by frame count —
    the raw frames never leave the task.  Scene-aligned clip sampling
    then replaces fixed-interval frame sampling upstream of training,
    cutting the near-duplicate frames a fixed grid would emit."""
    return _scene_cut_core(
        _synth_scene_video(
            load_table(spark, sf_dir, "documents").filter(
                F.col("doc_id") < SCENE_DOCS
            )
        )
    )


@query(
    "video_scene_cuts_sig",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS media_id, sha256(text) AS dg
      FROM documents WHERE doc_id < {SCENE_DOCS}
    ),
    s AS (
      SELECT media_id,
        CASE media_id % 4 WHEN 0 THEN 'avi-dib' WHEN 1 THEN 'avi-mjpg'
             WHEN 2 THEN 'mp4' ELSE 'mkv' END AS container,
        2 + CAST(('0x' || substr(dg, 5, 2)) AS INT) % 3 AS n_scenes,
        2 + CAST(('0x' || substr(sha256(dg || '-0'), 1, 2)) AS INT) % 3 AS f0,
        2 + CAST(('0x' || substr(sha256(dg || '-1'), 1, 2)) AS INT) % 3 AS f1,
        2 + CAST(('0x' || substr(sha256(dg || '-2'), 1, 2)) AS INT) % 3 AS f2,
        2 + CAST(('0x' || substr(sha256(dg || '-3'), 1, 2)) AS INT) % 3 AS f3
      FROM base
    )
    SELECT media_id, container,
      CAST(f0 + f1 + CASE WHEN n_scenes >= 3 THEN f2 ELSE 0 END
                   + CASE WHEN n_scenes  = 4 THEN f3 ELSE 0 END AS INT)
        AS n_frames,
      CAST(n_scenes - 1 AS INT) AS n_cuts,
      CASE WHEN n_scenes = 2 THEN CAST(f0 AS VARCHAR)
           WHEN n_scenes = 3 THEN f0 || ',' || (f0 + f1)
           ELSE f0 || ',' || (f0 + f1) || ',' || (f0 + f1 + f2)
      END AS cuts
    FROM s
    """,
)
def video_scene_cuts_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HASH-GATED signature of video_scene_cuts: the same synth →
    container encode → full decode → pixel-delta detection pipeline
    (one shared `_scene_cut_core` body, so the gate and the rows-only
    lane cannot diverge), projected onto the columns an oracle CAN
    recompute.  The fixture builds each video from sha256-derived
    scene structure (`sha256(text)` picks scene count, each scene's
    frame count comes from `sha256(hexdigest || '-' || scene_idx)`),
    and DuckDB has VARCHAR sha256 — so the oracle re-derives the TRUE
    cut positions and frame counts arithmetically from `documents`,
    while Spark emits the DETECTED ones from real decoded pixels.
    Equality is the end-to-end claim: across all four containers
    (lossless DIB and the three lossy MJPEG paths) decode → mean-abs
    frame delta → threshold recovers the constructed scene boundaries
    exactly.  Only per-pixel delta magnitudes stay rows-only (in the
    parent lane)."""
    return _scene_cut_core(
        _synth_scene_video(
            load_table(spark, sf_dir, "documents").filter(
                F.col("doc_id") < SCENE_DOCS
            )
        )
    ).select("media_id", "container", "n_frames", "n_cuts", "cuts")


def _synth_webp(d: DataFrame) -> DataFrame:
    """documents → probe-only WebP rows (media_id + 2_000_000), rotating
    the three container layouts a crawl carries: bare lossy VP8
    keyframe (doc_id % 36 == 9), bare lossless VP8L (% 36 == 21), and
    extended VP8X + ANIM/ANMF (% 36 == 33, 2-4 frames).  Geometry
    derives from sha256(text) like every other fixture lane so the
    oracle re-derives it arithmetically.  WebP is probe-only (the
    VP8/VP8L entropy layers quarantine on decode — same contract as
    avc1/hev1 tracks), so these rows join the PROBE fixture only, not
    _synth_media's decode rotation."""
    schema = (
        "media_id bigint, kind string, payload binary, meta map<string,string>"
    )
    # spread the synthesis across tasks BEFORE payloads exist: the
    # single-file documents scan is one partition, which serialized
    # every encode-heavy media lane through one core (round 11); the
    # shuffle moves only (doc_id, text) rows, so the 'payloads never
    # shuffle' contract holds
    d = d.repartition(F.col("doc_id"))

    def build(batches):
        import hashlib

        import pandas as pd

        from reindexer_spark.codecs import encode_webp_fixture

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                seed = hashlib.sha256(r.text.encode("utf-8")).digest()
                w, h = 8 + seed[0] % 9, 8 + seed[1] % 9
                mod = r.doc_id % 36
                if mod == 9:
                    layout, nf = "vp8", 1
                elif mod == 21:
                    layout, nf = "vp8l", 1
                else:
                    layout, nf = "vp8x-anim", 2 + seed[2] % 3
                rows.append(
                    {
                        "media_id": int(r.doc_id) + 2_000_000,
                        "kind": "image-webp",
                        "payload": encode_webp_fixture(w, h, layout, nf, seed),
                        "meta": {"layout": layout},
                    }
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "payload", "meta"]
            )

    return d.mapInPandas(build, schema)


def _probe_meta_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE header-probe pipeline shared by the rows-only metadata lane
    and its hash-gated signature twin (same recipe as the decode /
    thumbnail / frame-sample cores: sharing the body means the gate
    and the rows-only lane cannot diverge)."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = _synth_media(docs).unionByName(
        _synth_webp(docs.filter(F.col("doc_id") % 12 == 9))
    )

    def probe(batches):
        from reindexer_spark.codecs import MediaFormatError, probe_media

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    p = probe_media(bytes(r.payload))
                except MediaFormatError:
                    p = {
                        "kind": None, "width": None, "height": None,
                        "n_frames": None, "sample_rate": None,
                        "n_samples": None, "codec": None,
                        "profile": None, "level": None,
                    }
                rows.append(
                    {
                        "media_id": r.media_id,
                        "kind": r.kind,
                        "probe_kind": p["kind"],
                        "width": p["width"],
                        "height": p["height"],
                        "n_frames": p["n_frames"],
                        "sample_rate": p["sample_rate"],
                        "n_samples": p["n_samples"],
                        "codec": p["codec"],
                        "profile": p["profile"],
                        "level": p["level"],
                        "n_bytes": len(bytes(r.payload)),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "kind", "probe_kind", "width", "height",
                    "n_frames", "sample_rate", "n_samples", "codec",
                    "profile", "level", "n_bytes",
                ],
            )

    return media.mapInPandas(
        probe,
        "media_id bigint, kind string, probe_kind string, width int, "
        "height int, n_frames int, sample_rate int, n_samples bigint, "
        "codec string, profile int, level int, n_bytes bigint",
    ).orderBy("media_id")


@query("multimodal_probe_meta")  # Python header parse → rows-only check
def multimodal_probe_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-ONLY media metadata across all nine fixture formats —
    the first curation pass at 100 TB: read a few hundred bytes,
    extract dims / frame counts / sample counts, filter, and decode
    only the survivors.  No entropy decoding happens anywhere in this
    query (no LZW, DCT, Rice, inflate); tests assert the probe agrees
    with the full decoders on every fixture row, which is what makes
    the cheap pass trustworthy as a filter.  The payload byte count
    keeps THIS lane rows-only (entropy-coded sizes aren't
    SQL-derivable); everything else is hash-gated by
    multimodal_probe_meta_sig."""
    return _probe_meta_core(spark, sf_dir)


@query(
    "multimodal_probe_meta_sig",
    oracle="""
    WITH base AS (
      SELECT doc_id AS media_id, sha256(text) AS dg
      FROM documents WHERE doc_id < 200
    ),
    s AS (
      SELECT media_id,
             CAST(('0x' || substr(dg, 1, 2)) AS INT) AS s0,
             CAST(('0x' || substr(dg, 3, 2)) AS INT) AS s1,
             CAST(('0x' || substr(dg, 5, 2)) AS INT) AS s2,
             media_id % 12 = 2 AS gif,
             media_id % 12 <> 2 AND media_id % 3 = 2 AS audio,
             media_id % 12 <> 2 AND media_id % 3 = 1 AS video
      FROM base
    ),
    k AS (
      SELECT *,
        CASE
          WHEN gif THEN 'image-gif'
          WHEN audio AND media_id % 12 = 8 THEN 'audio-flac'
          WHEN audio THEN 'audio-wav'
          WHEN video AND media_id % 12 = 1 THEN 'video-mjpeg'
          WHEN video AND media_id % 12 = 7 THEN 'video-mp4'
          WHEN video AND media_id % 12 = 10 THEN 'video-mkv'
          WHEN video THEN 'video-avi'
          WHEN media_id % 6 = 0 THEN 'image-jpeg'
          WHEN media_id % 12 = 3 THEN 'image-png'
          ELSE 'image-bmp'
        END AS kind
      FROM s
    )
    SELECT media_id, kind,
      CASE WHEN kind = 'image-gif' THEN 'gif'
           WHEN kind = 'audio-flac' THEN 'flac'
           WHEN kind = 'audio-wav' THEN 'wav'
           WHEN kind IN ('video-avi', 'video-mjpeg') THEN 'avi'
           WHEN kind = 'video-mp4' THEN 'mp4'
           WHEN kind = 'video-mkv' THEN 'mkv'
           WHEN kind = 'image-jpeg' THEN 'jpeg'
           WHEN kind = 'image-png' THEN 'png'
           ELSE 'bmp' END AS probe_kind,
      CAST(CASE WHEN audio THEN NULL
                WHEN video THEN 6 + s0 % 7
                ELSE 8 + s0 % 9 END AS INT) AS width,
      CAST(CASE WHEN audio THEN NULL
                WHEN video THEN 6 + s1 % 7
                ELSE 8 + s1 % 9 END AS INT) AS height,
      CAST(CASE WHEN audio THEN NULL
                WHEN gif THEN 2 + s2 % 3
                WHEN video THEN 3 + s2 % 4
                ELSE 1 END AS INT) AS n_frames,
      CAST(CASE WHEN audio THEN 8000 END AS INT) AS sample_rate,
      CAST(CASE WHEN audio THEN 16000 END AS BIGINT) AS n_samples,
      CAST(NULL AS VARCHAR) AS codec,
      CAST(NULL AS INT) AS profile,
      CAST(NULL AS INT) AS level
    FROM k
    UNION ALL
    SELECT media_id + 2000000 AS media_id,
      'image-webp' AS kind, 'webp' AS probe_kind,
      CAST(8 + s0 % 9 AS INT) AS width,
      CAST(8 + s1 % 9 AS INT) AS height,
      CAST(CASE WHEN media_id % 36 = 33 THEN 2 + s2 % 3 ELSE 1 END AS INT)
        AS n_frames,
      CAST(NULL AS INT) AS sample_rate,
      CAST(NULL AS BIGINT) AS n_samples,
      CAST(NULL AS VARCHAR) AS codec,
      CAST(NULL AS INT) AS profile,
      CAST(NULL AS INT) AS level
    FROM s WHERE media_id % 12 = 9
    """,
)
def multimodal_probe_meta_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HASH-GATED signature of multimodal_probe_meta: the same
    synth → header-only probe pipeline (one shared core), minus the
    payload byte count an oracle cannot recompute (entropy-coded
    sizes).  Fixture dims / frame counts / sample counts all derive
    from sha256(text), which DuckDB re-derives arithmetically — so
    equality proves the HEADER path alone (no LZW/DCT/Rice/inflate
    anywhere) reports the constructed geometry for every one of the
    ten container formats (round 10 adds WebP across its three
    layouts: bare VP8 keyframe, bare VP8L, VP8X+ANIM — probe-only,
    decode quarantines), and the oracle-pinned NULL codec/profile/
    level columns prove the probe claims no codec facts these
    containers don't carry."""
    return _probe_meta_core(spark, sf_dir).drop("n_bytes")


WDS_OUT_DOCS = 300
WDS_OUT_SHARDS = 6


@query(
    "corpus_to_webdataset",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, text,
             8 + CAST(('0x' || substr(sha256(text), 1, 2)) AS INT) % 9 AS w,
             8 + CAST(('0x' || substr(sha256(text), 3, 2)) AS INT) % 9 AS h
      FROM documents WHERE doc_id < {WDS_OUT_DOCS}
    )
    SELECT 'shard-'
             || lpad(CAST(doc_id % {WDS_OUT_SHARDS} AS VARCHAR), 5, '0')
             || '.tar' AS shard,
           'doc' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS key,
           CAST(3 AS INT) AS n_members,
           CAST(length(text) AS BIGINT) AS txt_bytes,
           CAST(54 + h * (((w * 3 + 3) // 4) * 4) AS BIGINT) AS bmp_bytes,
           CAST(length('{{"id": ' || CAST(doc_id AS VARCHAR) || '}}')
                AS BIGINT) AS json_bytes,
           md5(text) AS txt_md5
    FROM s
    """,
)
def corpus_to_webdataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAST MILE of a training pipeline: pack the curated corpus
    into WebDataset tar shards — the de-facto multimodal training-shard
    format this repo could previously only READ — then prove the sink
    by reading the shards back through the repo's own webdataset source
    and value-gating what comes out.  Each document becomes one sample
    with three members (``txt`` raw text, ``bmp`` a digest-seeded real
    image through the dependency-free encoder, ``json`` metadata),
    sharded round-robin; the writer (sources/webdataset.py
    write_webdataset_shards) zeroes tar metadata and renames
    atomically, so retries re-produce byte-identical shards.

    The oracle re-derives shard assignment, sample keys, every member's
    byte size (the BMP size is pure header+row-padding arithmetic on
    digest-picked dims) and the md5 of the text member — so equality
    proves the write → tar → read round trip delivered every sample to
    the right shard with byte-exact content.

    Scale shape: one shard = one sequential tar write (the writer's
    applyInPandas group), read-back one shard per task; members ride
    the map<ext,binary> column and never shuffle — the only shuffle is
    the shard grouping of ~sample-sized rows, exactly the write a real
    packing job performs."""
    import pandas as pd

    from reindexer_spark.operators.crawl import _fixture_dir
    from reindexer_spark.sources.webdataset import (
        WebDatasetSource,
        write_webdataset_shards,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < WDS_OUT_DOCS)
        .select("doc_id", "text")
    )

    def build(batches):
        import hashlib
        import json

        from reindexer_spark.codecs import encode_bmp

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                seed = hashlib.sha256(r.text.encode("utf-8")).digest()
                w, h = 8 + seed[0] % 9, 8 + seed[1] % 9
                rgb = (seed * ((w * h * 3) // len(seed) + 1))[: w * h * 3]
                rows.append(
                    {
                        "shard": int(r.doc_id) % WDS_OUT_SHARDS,
                        "key": f"doc{int(r.doc_id):08d}",
                        "members": {
                            "txt": r.text.encode("utf-8"),
                            "bmp": encode_bmp(w, h, bytes(rgb)),
                            "json": json.dumps({"id": int(r.doc_id)}).encode(
                                "utf-8"
                            ),
                        },
                    }
                )
            yield pd.DataFrame(rows, columns=["shard", "key", "members"])

    samples = docs.mapInPandas(
        build, "shard int, key string, members map<string, binary>"
    )
    out_dir = _fixture_dir("wdsout", sf_dir)
    write_webdataset_shards(samples, out_dir)

    spark.dataSource.register(WebDatasetSource)
    df = spark.read.format("webdataset").load(out_dir)
    m = F.col("members")
    return df.select(
        "shard",
        "key",
        F.col("n_members").cast("int").alias("n_members"),
        F.length(F.element_at(m, "txt")).cast("bigint").alias("txt_bytes"),
        F.length(F.element_at(m, "bmp")).cast("bigint").alias("bmp_bytes"),
        F.length(F.element_at(m, "json")).cast("bigint").alias("json_bytes"),
        F.md5(F.element_at(m, "txt")).alias("txt_md5"),
    )


SPS_DOCS = 80


@query(
    "video_sps_probe",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS media_id, sha256(text) AS dg
      FROM documents WHERE doc_id < {SPS_DOCS}
    ), s AS (
      SELECT media_id,
             CAST(('0x' || substr(dg, 1, 2)) AS INT) AS s0,
             CAST(('0x' || substr(dg, 3, 2)) AS INT) AS s1,
             media_id % 4 AS v
      FROM base
    )
    SELECT media_id,
      CASE WHEN v IN (0, 1) THEN 'h264' ELSE 'hevc' END AS codec,
      CASE WHEN v IN (0, 2) THEN 'mp4' ELSE 'mkv' END AS container,
      CAST(2 * (60 + s0 % 100) AS INT) AS width,
      CAST(2 * (40 + s1 % 100) AS INT) AS height,
      CAST(CASE WHEN v IN (0, 1)
                THEN CASE WHEN media_id % 2 = 0 THEN 66 ELSE 100 END
                ELSE CASE WHEN media_id % 2 = 0 THEN 1 ELSE 2 END
           END AS INT) AS profile,
      -- round 14 (uniform coded-video probe surface): h264 has no
      -- tier; these fixtures are all 4:2:0 8-bit on both codecs
      CAST(CASE WHEN v IN (0, 1) THEN NULL ELSE 0 END AS INT) AS tier,
      CAST(8 AS INT) AS bit_depth,
      CAST(1 AS INT) AS chroma_fmt,
      CAST(CASE WHEN v IN (0, 1)
                THEN CASE WHEN media_id % 2 = 0 THEN 30 ELSE 41 END
                ELSE CASE WHEN media_id % 2 = 0 THEN 93 ELSE 120 END
           END AS INT) AS n_level,
      CAST(3 + s1 % 4 AS INT) AS n_frames,
      CAST(0 AS INT) AS decodable
    FROM s
    """,
)
def video_sps_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-predicted video PROBE (round-7 VERDICT item #2): h264 and
    hevc tracks — the formats a real crawl's video overwhelmingly is —
    carry their width/height/profile/level in the SPS inside the
    avcC/hvcC codec-config box (mp4 sample entry / mkv CodecPrivate).
    This lane synthesizes coded fixtures with sha256-derived
    NON-multiple-of-16 dimensions (so H.264 frame cropping and the HEVC
    conformance window are exercised, not just the trivial path) across
    all four codec x container combinations, probes them headers-only
    (exp-Golomb SPS parse, ITU-T H.264 §7.3.2.1.1 / H.265 §7.3.2.2.1),
    and ALSO attempts the full decode — the emitted decodable=0 column
    is the oracle-pinned proof that decode still quarantines (no
    motion-compensation decoder is claimed).

    The oracle re-derives every expected value arithmetically from
    `documents` via DuckDB's sha256: equality proves the probe reads
    the SPS bitstream exactly — profile branch (Baseline vs High
    triggers the chroma-format parse), cropping arithmetic, and
    container plumbing included.

    Scale shape: one Arrow-batched mapInPandas pass, header bytes per
    object; at 100 TB this is the pass that lets the media pipeline
    filter real video by resolution/profile before paying any decode."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < SPS_DOCS
    )

    def build_and_probe(batches):
        import hashlib

        from reindexer_spark.codecs import (
            MediaFormatError,
            decode_mkv,
            decode_mp4,
            encode_mkv_coded,
            encode_mp4_coded,
            probe_media,
        )

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                mid = int(r.doc_id)
                dg = hashlib.sha256(r.text.encode("utf-8")).digest()
                w = 2 * (60 + dg[0] % 100)
                h = 2 * (40 + dg[1] % 100)
                v = mid % 4
                codec = "h264" if v in (0, 1) else "hevc"
                if codec == "h264":
                    prof, lev = (66, 30) if mid % 2 == 0 else (100, 41)
                else:
                    prof, lev = (1, 93) if mid % 2 == 0 else (2, 120)
                n_frames = 3 + dg[1] % 4
                enc = encode_mp4_coded if v in (0, 2) else encode_mkv_coded
                dec = decode_mp4 if v in (0, 2) else decode_mkv
                payload = enc(
                    w, h, codec=codec, n_frames=n_frames,
                    profile=prof, level=lev,
                )
                p = probe_media(payload)
                try:
                    dec(payload)
                    decodable = 1
                except MediaFormatError:
                    decodable = 0
                rows.append(
                    {
                        "media_id": mid,
                        "codec": p["codec"],
                        "container": "mp4" if v in (0, 2) else "mkv",
                        "width": p["width"],
                        "height": p["height"],
                        "profile": p["profile"],
                        "tier": p["tier"],
                        "bit_depth": p["bit_depth"],
                        "chroma_fmt": p["chroma_format"],
                        "n_level": p["level"],
                        "n_frames": p["n_frames"],
                        "decodable": decodable,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "codec", "container", "width", "height",
                    "profile", "tier", "bit_depth", "chroma_fmt",
                    "n_level", "n_frames", "decodable",
                ],
            )

    return docs.select("doc_id", "text").mapInPandas(
        build_and_probe,
        "media_id bigint, codec string, container string, width int, "
        "height int, profile int, tier int, bit_depth int, "
        "chroma_fmt int, n_level int, n_frames int, decodable int",
    )


MPEG_AUDIO_DOCS = 12  # bounded: header synthesis only


@query(
    "audio_mpeg_probe",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS media_id, sha256(text) AS dg
      FROM documents WHERE doc_id < {MPEG_AUDIO_DOCS}
    ), s AS (
      SELECT media_id,
             CAST(('0x' || substr(dg, 1, 2)) AS INT) AS s0,
             CAST(('0x' || substr(dg, 3, 2)) AS INT) AS s1,
             CAST(('0x' || substr(dg, 5, 2)) AS INT) AS s2
      FROM base
    )
    SELECT media_id,
      CASE WHEN media_id % 2 = 0 THEN 'mp3' ELSE 'aac' END AS codec,
      CAST(1 + s0 % 2 AS INT) AS channels,
      CAST(CASE WHEN media_id % 2 = 0
           THEN (CASE s1 % 4 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                 WHEN 2 THEN 32000 ELSE 22050 END)
           ELSE (CASE s1 % 4 WHEN 0 THEN 48000 WHEN 1 THEN 44100
                 WHEN 2 THEN 24000 ELSE 16000 END)
           END AS INT) AS sample_rate,
      CAST(5 + s2 % 60 AS INT) AS n_frames,
      CAST((5 + s2 % 60) * CASE
           WHEN media_id % 2 = 1 THEN 1024
           WHEN s1 % 4 = 3 THEN 576
           ELSE 1152 END AS BIGINT) AS n_samples,
      CAST(0 AS INT) AS decodable
    FROM s
    """,
)
def audio_mpeg_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3 / ADTS-AAC PROBE (round 13) — the two coded-audio formats
    real crawls overwhelmingly carry join the header-only funnel:
    MPEG-1/2 Layer III frame headers (ISO 11172-3/13818-3 — version/
    bitrate/rate/mode fields, frames skipped by the computed
    144000·kbps/rate (+pad) length, 1152 samples per MPEG-1 frame and
    576 per MPEG-2) and ADTS AAC-LC (ISO 13818-7 §6.2 — sampling
    index, channel config, 13-bit frame length walk, 1024 samples per
    raw block).  The MPEG-2 rate (22050) exercises the 576-sample
    branch in the oracle's arithmetic.  ``decodable=0`` is pinned by
    attempting both real audio decoders — no subband/MDCT decoder is
    claimed.

    Scale shape: one Arrow-batched mapInPandas pass, header bytes per
    object — the bulk-audio analog of video_sps_probe."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < MPEG_AUDIO_DOCS
    )

    def build_and_probe(batches):
        import hashlib

        from reindexer_spark.codecs import (
            MediaFormatError,
            decode_flac,
            decode_wav,
            probe_media,
            write_adts_aac,
            write_mp3,
        )

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                mid = int(r.doc_id)
                dg = hashlib.sha256(r.text.encode("utf-8")).digest()
                channels = 1 + dg[0] % 2
                n_frames = 5 + dg[2] % 60
                if mid % 2 == 0:
                    rate = (44100, 48000, 32000, 22050)[dg[1] % 4]
                    payload = write_mp3(channels, rate, n_frames)
                else:
                    rate = (48000, 44100, 24000, 16000)[dg[1] % 4]
                    payload = write_adts_aac(channels, rate, n_frames)
                p = probe_media(payload)
                decodable = 0
                for dec in (decode_wav, decode_flac):
                    try:
                        dec(payload)
                        decodable = 1
                    except MediaFormatError:
                        pass
                rows.append(
                    {
                        "media_id": mid,
                        "codec": p["codec"],
                        "channels": p["channels"],
                        "sample_rate": p["sample_rate"],
                        "n_frames": p["n_frames"],
                        "n_samples": p["n_samples"],
                        "decodable": decodable,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "codec", "channels", "sample_rate",
                    "n_frames", "n_samples", "decodable",
                ],
            )

    return docs.select("doc_id", "text").mapInPandas(
        build_and_probe,
        "media_id bigint, codec string, channels int, "
        "sample_rate int, n_frames int, n_samples bigint, "
        "decodable int",
    )


@query(
    "audio_mpeg_index",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS media_id, sha256(text) AS dg
      FROM documents WHERE doc_id < {MPEG_AUDIO_DOCS}
    ), s AS (
      SELECT media_id,
             CAST(('0x' || substr(dg, 1, 2)) AS INT) AS s0,
             CAST(('0x' || substr(dg, 3, 2)) AS INT) AS s1,
             CAST(('0x' || substr(dg, 5, 2)) AS INT) AS s2,
             CAST(('0x' || substr(dg, 7, 2)) AS INT) AS s3,
             CAST(('0x' || substr(dg, 9, 2)) AS INT) AS s4
      FROM base
    ), p AS (
      SELECT media_id, s0, s2, s3, s4,
        CASE WHEN media_id % 2 = 0
             THEN (CASE s1 % 6 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                   WHEN 2 THEN 32000 WHEN 3 THEN 22050
                   WHEN 4 THEN 24000 ELSE 16000 END)
             ELSE (CASE s1 % 6 WHEN 0 THEN 48000 WHEN 1 THEN 44100
                   WHEN 2 THEN 32000 WHEN 3 THEN 24000
                   WHEN 4 THEN 22050 ELSE 16000 END)
        END AS rate,
        (s1 % 6) < 3 AS v1,
        8 + s3 % 24 AS n,
        1 + s4 % 4 AS period
      FROM s
    ), q AS (
      SELECT media_id, s0, s2, s4, rate, v1, n, period,
        CASE WHEN v1 THEN (CASE s2 % 4 WHEN 0 THEN 96 WHEN 1 THEN 128
                           WHEN 2 THEN 160 ELSE 192 END)
             ELSE (CASE s2 % 4 WHEN 0 THEN 48 WHEN 1 THEN 64
                   WHEN 2 THEN 80 ELSE 96 END)
        END AS br,
        CASE WHEN v1 THEN 1152 ELSE 576 END AS spf
      FROM p
    )
    SELECT media_id,
      CASE WHEN media_id % 2 = 0 THEN 'mp3' ELSE 'aac' END AS codec,
      CAST(1 + s0 % 2 AS INT) AS channels,
      CAST(rate AS INT) AS sample_rate,
      CAST(n AS INT) AS n_frames,
      CAST(CASE WHEN media_id % 2 = 0
           THEN n * spf * 1000 // rate
           ELSE n * 1024 * 1000 // rate END AS BIGINT) AS duration_ms,
      CAST(CASE WHEN media_id % 2 = 0
           THEN (n + period - 1) // period
           ELSE n END AS INT) AS n_seek,
      CAST(CASE WHEN media_id % 2 = 0
           THEN n * ((CASE WHEN v1 THEN 144000 ELSE 72000 END)
                     * br // rate)
           ELSE n * (7 + 32 + s4 % 64) END AS BIGINT) AS bytes_total,
      CAST(1 AS INT) AS index_tiles,
      CAST(1 AS INT) AS probe_frames_agree,
      CAST(1 AS INT) AS xing_agrees
    FROM q
    """,
)
def audio_mpeg_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG audio frame INDEX (round 15 — VERDICT r14 ask #6): the
    probe walk upgraded to what a training pipeline windowing audio
    actually needs — per-frame byte offsets, frame-accurate duration,
    and SEEK POINTS.  For Layer III that requires the §2.4.1.7
    side-info parse: main_data_begin is the bit reservoir's
    backreference and only frames where it is 0 decode independently
    (every field in the side info is fixed-width — 59-bit
    granule-channel blocks in MPEG-1, 63-bit in LSF — so the parse is
    table-free; spectral Huffman decode stays outside the subset).
    ADTS frames are all independent, so every frame is a seek point.

    Fixtures carry a REAL bit-reservoir pattern: main_data_begin=0
    every digest-derived period-th frame, nonzero otherwise.
    Oracle-pinned columns: geometry/rate/bitrate arithmetic;
    ``duration_ms`` — frame-accurate; ``n_seek`` — exactly
    ceil(n/period) for mp3 and n for adts; ``bytes_total`` — the
    index tiles the payload (sum of frame lengths == file size);
    ``index_tiles=1`` — offsets are contiguous from data_start;
    ``probe_frames_agree=1`` — the header-only probe and the index
    agree on the frame count.

    Scale shape: one Arrow-batched mapInPandas pass, same as every
    media lane."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < MPEG_AUDIO_DOCS
    )

    def build_and_index(batches):
        import hashlib

        from reindexer_spark.codecs import (
            audio_frame_index,
            probe_media,
            write_adts_aac,
            write_mp3,
        )

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                mid = int(r.doc_id)
                dg = hashlib.sha256(r.text.encode("utf-8")).digest()
                channels = 1 + dg[0] % 2
                n_frames = 8 + dg[3] % 24
                if mid % 2 == 0:
                    rate = (44100, 48000, 32000, 22050, 24000,
                            16000)[dg[1] % 6]
                    v1 = dg[1] % 6 < 3
                    br = ((96, 128, 160, 192) if v1
                          else (48, 64, 80, 96))[dg[2] % 4]
                    period = 1 + dg[4] % 4
                    with_xing = mid % 4 == 0
                    payload = write_mp3(
                        channels, rate, n_frames, br,
                        mdb_period=period, xing=with_xing,
                    )
                else:
                    rate = (48000, 44100, 32000, 24000, 22050,
                            16000)[dg[1] % 6]
                    payload = write_adts_aac(
                        channels, rate, n_frames, 32 + dg[4] % 64
                    )
                ix = audio_frame_index(payload)
                # Xing VBR header (mp3 with mid%4==0): declared frame
                # and byte counts must match the walk
                if ix["codec"] == "mp3":
                    x = ix.get("xing")
                    if mid % 4 == 0:
                        xing_agrees = int(
                            x is not None
                            and x["frames"] == ix["n_frames"] - 1
                            and x["bytes"] == len(payload)
                        )
                    else:
                        xing_agrees = int(x is None)
                else:
                    xing_agrees = 1
                # offsets contiguous from data_start, tiling the file
                pos = ix["data_start"]
                tiles = 1
                for off, ln, _x in ix["frames"]:
                    if off != pos:
                        tiles = 0
                    pos += ln
                if pos != len(payload):
                    tiles = 0
                pm = probe_media(payload)
                rows.append(
                    {
                        "media_id": mid,
                        "codec": ix["codec"],
                        "channels": ix["channels"],
                        "sample_rate": ix["sample_rate"],
                        "n_frames": ix["n_frames"],
                        "duration_ms": ix["duration_ms"],
                        "n_seek": len(ix["seek_points"]),
                        "bytes_total": len(payload),
                        "index_tiles": tiles,
                        "probe_frames_agree": int(
                            pm.get("n_frames") == ix["n_frames"]
                        ),
                        "xing_agrees": xing_agrees,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "codec", "channels", "sample_rate",
                    "n_frames", "duration_ms", "n_seek",
                    "bytes_total", "index_tiles",
                    "probe_frames_agree", "xing_agrees",
                ],
            )

    return (
        docs.select("doc_id", "text")
        .repartition(MPEG_AUDIO_DOCS)
        .mapInPandas(
            build_and_index,
            "media_id bigint, codec string, channels int, "
            "sample_rate int, n_frames int, duration_ms bigint, "
            "n_seek int, bytes_total bigint, index_tiles int, "
            "probe_frames_agree int, xing_agrees int",
        )
    )


OGG_DOCS = 12  # bounded: header synthesis only, no entropy coding


@query(
    "audio_ogg_probe",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS media_id, sha256(text) AS dg
      FROM documents WHERE doc_id < {OGG_DOCS}
    ), s AS (
      SELECT media_id,
             CAST(('0x' || substr(dg, 1, 2)) AS INT) AS s0,
             CAST(('0x' || substr(dg, 3, 2)) AS INT) AS s1,
             CAST(('0x' || substr(dg, 5, 4)) AS INT) AS s2
      FROM base
    )
    SELECT media_id,
      CASE WHEN media_id % 2 = 0 THEN 'opus' ELSE 'vorbis' END AS codec,
      CAST(1 + s0 % 2 AS INT) AS channels,
      CAST(CASE WHEN media_id % 2 = 0
           THEN (CASE s1 % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                 WHEN 2 THEN 24000 ELSE 48000 END)
           ELSE (CASE s1 % 4 WHEN 0 THEN 22050 WHEN 1 THEN 32000
                 WHEN 2 THEN 44100 ELSE 48000 END)
           END AS INT) AS sample_rate,
      CAST(4800 + s2 % 96000 AS BIGINT) AS n_samples,
      CAST(0 AS INT) AS decodable
    FROM s
    """,
)
def audio_ogg_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OGG OPUS/VORBIS PROBE (round 13) — the coded-audio member of
    the probe-first funnel: codec, channel count, sample rate and PCM
    duration recovered HEADERS-ONLY from the Ogg page structure (RFC
    3533 — first-page CRC verified, later pages skipped by lacing
    sums) and the codec identification packet (OpusHead per RFC 7845
    §5.1 with the pre-skip subtracted from the final granule position;
    the Vorbis identification header per Vorbis I §4.2.2, whose final
    granule IS the sample count).  ``decodable=0`` is oracle-pinned by
    attempting both real audio decoders (WAV, FLAC) on the payload:
    no Opus/Vorbis entropy decoder is claimed — the quarantine
    contract holds while the probe recovers everything an audio
    curation filter (duration/rate/channel gates) needs.

    Scale shape: one Arrow-batched mapInPandas pass, header bytes per
    object — the audio analog of video_sps_probe."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < OGG_DOCS
    )

    def build_and_probe(batches):
        import hashlib

        from reindexer_spark.codecs import (
            MediaFormatError,
            decode_flac,
            decode_wav,
            probe_media,
            write_ogg_opus,
            write_ogg_vorbis,
        )

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                mid = int(r.doc_id)
                dg = hashlib.sha256(r.text.encode("utf-8")).digest()
                channels = 1 + dg[0] % 2
                n_samples = 4800 + (
                    int.from_bytes(dg[2:4], "big") % 96000
                )
                if mid % 2 == 0:
                    rate = (8000, 16000, 24000, 48000)[dg[1] % 4]
                    payload = write_ogg_opus(channels, rate, n_samples)
                else:
                    rate = (22050, 32000, 44100, 48000)[dg[1] % 4]
                    payload = write_ogg_vorbis(
                        channels, rate, n_samples
                    )
                p = probe_media(payload)
                decodable = 0
                for dec in (decode_wav, decode_flac):
                    try:
                        dec(payload)
                        decodable = 1
                    except MediaFormatError:
                        pass
                rows.append(
                    {
                        "media_id": mid,
                        "codec": p["codec"],
                        "channels": p["channels"],
                        "sample_rate": p["sample_rate"],
                        "n_samples": p["n_samples"],
                        "decodable": decodable,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "codec", "channels", "sample_rate",
                    "n_samples", "decodable",
                ],
            )

    return docs.select("doc_id", "text").mapInPandas(
        build_and_probe,
        "media_id bigint, codec string, channels int, "
        "sample_rate int, n_samples bigint, decodable int",
    )


AV1_DOCS = 12  # bounded: header synthesis only, no entropy coding


@query(
    "video_av1_probe",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS media_id, sha256(text) AS dg
      FROM documents WHERE doc_id < {AV1_DOCS}
    ), s AS (
      SELECT media_id,
             CAST(('0x' || substr(dg, 1, 2)) AS INT) AS s0,
             CAST(('0x' || substr(dg, 3, 2)) AS INT) AS s1,
             CAST(('0x' || substr(dg, 5, 2)) AS INT) AS s2,
             CAST(('0x' || substr(dg, 7, 2)) AS INT) AS s3
      FROM base
    ), p AS (
      SELECT media_id, s0, s1, s2, s3,
             CAST(media_id % 3 AS INT) AS prof,
             CAST(CASE WHEN media_id % 3 = 2
                       THEN 8 + 2 * ((s3 // 2) % 3)
                       ELSE 8 + 2 * ((s3 // 2) % 2) END AS INT)
               AS bit_depth
      FROM s
    )
    SELECT media_id,
      CAST('av1' AS VARCHAR) AS codec,
      CASE WHEN media_id % 2 = 0 THEN 'mp4' ELSE 'mkv' END AS container,
      CAST(2 * (60 + s0 % 100) + (s0 % 2) AS INT) AS width,
      CAST(2 * (40 + s1 % 100) + (s1 % 2) AS INT) AS height,
      prof AS profile,
      CAST(s3 % 2 AS INT) AS tier,
      bit_depth,
      CAST(CASE prof WHEN 0 THEN 1 WHEN 1 THEN 3
           ELSE CASE WHEN bit_depth = 12 THEN 1 ELSE 2 END END AS INT)
        AS chroma_fmt,
      CAST(8 + s2 % 12 AS INT) AS n_level,
      CAST(3 + s1 % 4 AS INT) AS n_frames,
      CAST(0 AS INT) AS decodable
    FROM p
    """,
)
def video_av1_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AV1 PROBE (round 13; round 14 deepens it to the uniform
    coded-video surface) — the modern crawl-video codec in the
    header-only funnel: width/height/profile/level plus TIER,
    BIT DEPTH (8/10, and 12 on profile 2) and the profile-implied
    CHROMA FORMAT recovered from the full SEQUENCE HEADER OBU walk
    (AV1 spec §5.5 through color_config()) inside the
    av1C codec-configuration record (AV1-ISOBMFF §2.3: mp4 ``av01``
    sample entry / mkv ``V_AV1`` CodecPrivate), across both containers
    with sha256-derived ODD (non-multiple-of-2) dimensions — AV1 frame
    sizes are exact, no cropping arithmetic to hide behind — and
    levels above 7 exercising the per-operating-point tier bit.
    ``decodable=0`` is oracle-pinned: no AV1 entropy decoder is
    claimed, the quarantine contract holds while the probe recovers
    everything a 100 TB resolution/codec filter needs.

    Scale shape: one Arrow-batched mapInPandas pass, header bytes per
    object — the same funnel economics as video_sps_probe."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < AV1_DOCS
    )

    def build_and_probe(batches):
        import hashlib

        from reindexer_spark.codecs import (
            MediaFormatError,
            decode_mkv,
            decode_mp4,
            encode_mkv_coded,
            encode_mp4_coded,
            probe_media,
        )

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                mid = int(r.doc_id)
                dg = hashlib.sha256(r.text.encode("utf-8")).digest()
                w = 2 * (60 + dg[0] % 100) + (dg[0] % 2)
                h = 2 * (40 + dg[1] % 100) + (dg[1] % 2)
                prof = mid % 3
                lev = 8 + dg[2] % 12
                tier = dg[3] % 2  # levels are all > 7 → bit present
                bit_depth = 8 + 2 * (
                    (dg[3] // 2) % (3 if prof == 2 else 2)
                )
                n_frames = 3 + dg[1] % 4
                enc = encode_mp4_coded if mid % 2 == 0 else encode_mkv_coded
                dec = decode_mp4 if mid % 2 == 0 else decode_mkv
                payload = enc(
                    w, h, codec="av1", n_frames=n_frames,
                    profile=prof, level=lev, tier=tier,
                    bit_depth=bit_depth,
                )
                p = probe_media(payload)
                try:
                    dec(payload)
                    decodable = 1
                except MediaFormatError:
                    decodable = 0
                rows.append(
                    {
                        "media_id": mid,
                        "codec": p["codec"],
                        "container": "mp4" if mid % 2 == 0 else "mkv",
                        "width": p["width"],
                        "height": p["height"],
                        "profile": p["profile"],
                        "tier": p["tier"],
                        "bit_depth": p["bit_depth"],
                        "chroma_fmt": p["chroma_format"],
                        "n_level": p["level"],
                        "n_frames": p["n_frames"],
                        "decodable": decodable,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "codec", "container", "width", "height",
                    "profile", "tier", "bit_depth", "chroma_fmt",
                    "n_level", "n_frames", "decodable",
                ],
            )

    return docs.select("doc_id", "text").mapInPandas(
        build_and_probe,
        "media_id bigint, codec string, container string, width int, "
        "height int, profile int, tier int, bit_depth int, "
        "chroma_fmt int, n_level int, n_frames int, decodable int",
    )


HEVC_DOCS = 12  # bounded: header synthesis only, no entropy coding


@query(
    "video_hevc_probe",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS media_id, sha256(text) AS dg
      FROM documents WHERE doc_id < {HEVC_DOCS}
    ), s AS (
      SELECT media_id,
             CAST(('0x' || substr(dg, 1, 2)) AS INT) AS s0,
             CAST(('0x' || substr(dg, 3, 2)) AS INT) AS s1,
             CAST(('0x' || substr(dg, 5, 2)) AS INT) AS s2,
             CAST(('0x' || substr(dg, 7, 2)) AS INT) AS s3,
             CAST(('0x' || substr(dg, 9, 2)) AS INT) AS s4,
             CAST(('0x' || substr(dg, 11, 2)) AS INT) AS s5,
             CAST(('0x' || substr(dg, 13, 2)) AS INT) AS s6
      FROM base
    ), p AS (
      SELECT media_id, s0, s1, s2, s3, s4, s5,
             CAST(3 + s1 % 4 AS INT) AS n_frames,
             CAST(2 + s6 % 3 AS INT) AS sync_every
      FROM s
    )
    SELECT media_id,
      CAST('hevc' AS VARCHAR) AS codec,
      CASE WHEN media_id % 2 = 0 THEN 'mp4' ELSE 'mkv' END AS container,
      CAST(2 * (60 + s0 % 100) AS INT) AS width,
      CAST(2 * (40 + s1 % 100) AS INT) AS height,
      CAST(1 + media_id % 3 AS INT) AS profile,
      CAST(s2 % 2 AS INT) AS tier,
      CAST(8 + 2 * (s3 % 3) AS INT) AS bit_depth,
      CAST(1 + s4 % 3 AS INT) AS chroma_fmt,
      CAST(60 + 3 * (s5 % 40) AS INT) AS n_level,
      n_frames,
      CAST((n_frames + sync_every - 1) // sync_every AS INT)
        AS n_keyframes,
      array_to_string(range(1, n_frames + 1, sync_every), ',')
        AS kf_csv,
      CAST(0 AS INT) AS decodable
    FROM p
    """,
)
def video_hevc_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEVC PROBE at AV1-probe depth (round 14, VERDICT next #7):
    width/height/profile/LEVEL plus TIER, BIT DEPTH, CHROMA FORMAT
    recovered from the SPS inside the hvcC codec-configuration record
    (ITU-T H.265 §7.3.2.2.1 profile_tier_level + bit-depth fields;
    ISO 14496-15 §8.3.3.1 hvcC), across mp4 ``hvc1`` and mkv
    ``V_MPEGH/ISO/HEVC`` — and the PER-SAMPLE KEYFRAME INDEX read
    headers-only from the container (mp4 ``stss`` walk via
    ``mp4_keyframe_index`` / mkv SimpleBlock keyframe flags via
    ``mkv_block_keyframes``), the uniform clip-sampling metadata the
    100 TB funnel reports for every coded-video format.  Fixtures
    sweep Main/Main10-class profiles, both tiers, 8/10/12-bit,
    4:2:0/4:2:2/4:4:4 and sync cadences 2..4; the probe's kf list and
    count are cross-checked against BOTH container walks per row.
    ``decodable=0`` is oracle-pinned: like CABAC and VP8-lossy, HEVC
    is probe-only and its decode quarantines; the probe funnel still
    recovers everything a resolution/codec/bit-depth filter needs.

    Scale shape: one Arrow-batched mapInPandas pass, header bytes per
    object — the same funnel economics as video_sps_probe."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < HEVC_DOCS
    )

    def build_and_probe(batches):
        import hashlib

        from reindexer_spark.codecs import (
            MediaFormatError,
            decode_mkv,
            decode_mp4,
            encode_mkv_coded,
            encode_mp4_coded,
            mkv_block_keyframes,
            mp4_keyframe_index,
            probe_media,
        )

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                mid = int(r.doc_id)
                dg = hashlib.sha256(r.text.encode("utf-8")).digest()
                w = 2 * (60 + dg[0] % 100)
                h = 2 * (40 + dg[1] % 100)
                prof = 1 + mid % 3
                tier = dg[2] % 2
                bit_depth = 8 + 2 * (dg[3] % 3)
                chroma = 1 + dg[4] % 3
                lev = 60 + 3 * (dg[5] % 40)
                n_frames = 3 + dg[1] % 4
                sync_every = 2 + dg[6] % 3
                enc = encode_mp4_coded if mid % 2 == 0 else encode_mkv_coded
                dec = decode_mp4 if mid % 2 == 0 else decode_mkv
                kf_fn = (
                    mp4_keyframe_index if mid % 2 == 0
                    else mkv_block_keyframes
                )
                payload = enc(
                    w, h, codec="hevc", n_frames=n_frames,
                    profile=prof, level=lev, tier=tier,
                    chroma_format=chroma, bit_depth=bit_depth,
                    sync_every=sync_every,
                )
                p = probe_media(payload)
                kf = kf_fn(payload)
                if len(kf) != p["n_keyframes"]:
                    raise AssertionError(
                        "probe/container keyframe index disagree: "
                        f"{kf} vs {p['n_keyframes']}"
                    )
                try:
                    dec(payload)
                    decodable = 1
                except MediaFormatError:
                    decodable = 0
                rows.append(
                    {
                        "media_id": mid,
                        "codec": p["codec"],
                        "container": "mp4" if mid % 2 == 0 else "mkv",
                        "width": p["width"],
                        "height": p["height"],
                        "profile": p["profile"],
                        "tier": p["tier"],
                        "bit_depth": p["bit_depth"],
                        "chroma_fmt": p["chroma_format"],
                        "n_level": p["level"],
                        "n_frames": p["n_frames"],
                        "n_keyframes": p["n_keyframes"],
                        "kf_csv": ",".join(str(s) for s in kf),
                        "decodable": decodable,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "codec", "container", "width", "height",
                    "profile", "tier", "bit_depth", "chroma_fmt",
                    "n_level", "n_frames", "n_keyframes", "kf_csv",
                    "decodable",
                ],
            )

    return docs.select("doc_id", "text").mapInPandas(
        build_and_probe,
        "media_id bigint, codec string, container string, width int, "
        "height int, profile int, tier int, bit_depth int, "
        "chroma_fmt int, n_level int, n_frames int, n_keyframes int, "
        "kf_csv string, decodable int",
    )


INTRA_DOCS = 24  # bounded fixture count (constant work at any sf)


def _intra_fixture(mid: int, text: str):
    """Digest-seeded intra-h264 fixture parameters for the thumbnail
    lane (its oracle re-derives the same dims from sha256(text))."""
    import hashlib

    dg = hashlib.sha256(text.encode("utf-8")).digest()
    w = 2 * (8 + dg[0] % 25)
    h = 2 * (8 + dg[1] % 17)
    n_frames = 1 + dg[2] % 3
    qp = 18 + dg[3] % 22  # 18..39: hits both dequant rounding branches
    frames = [
        (hashlib.sha256(dg + bytes([i])).digest()
         * ((w * h * 3) // 32 + 1))[: w * h * 3]
        for i in range(n_frames)
    ]
    container = "mp4" if mid % 2 == 0 else "mkv"
    return w, h, n_frames, qp, frames, container


@query(
    "video_intra_thumbnail",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS media_id, sha256(text) AS dg
      FROM documents WHERE doc_id < {INTRA_DOCS}
    ), s AS (
      SELECT media_id,
             2 * (8 + CAST(('0x' || substr(dg, 1, 2)) AS INT) % 25) AS w,
             2 * (8 + CAST(('0x' || substr(dg, 3, 2)) AS INT) % 17) AS h
      FROM base
    ), t AS (
      SELECT media_id, w, h,
             GREATEST(1, CAST(TRUNC(w * LEAST(1.0, {THUMB_MAX_DIM}.0 / GREATEST(w, h))) AS INT)) AS tw,
             GREATEST(1, CAST(TRUNC(h * LEAST(1.0, {THUMB_MAX_DIM}.0 / GREATEST(w, h))) AS INT)) AS th
      FROM s
    )
    SELECT media_id,
      CASE WHEN media_id % 2 = 0 THEN 'mp4' ELSE 'mkv' END AS container,
      CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      CAST(tw AS INT) AS thumb_w, CAST(th AS INT) AS thumb_h,
      CAST(54 + th * (((3 * tw + 3) // 4) * 4) AS BIGINT) AS thumb_bytes,
      CAST(1 AS INT) AS decoded
    FROM t
    """,
)
def video_intra_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB media pipeline's payoff composition, hash-green end
    to end: probe-shaped coded video (intra-only h264 in mp4/mkv, the
    _intra_fixture rule) → REAL H.264
    decode of the FIRST keyframe only → nearest-neighbor thumbnail
    through the production resizer (the decoded frame re-enters the
    image path as a BMP) — the keyframe-thumbnail pass that runs after
    the SPS probe filters by resolution.  The oracle re-derives the
    source dims from sha256(text), replays the resizer's float scale
    arithmetic in SQL, and pins the thumbnail BMP's exact byte size —
    so decode geometry, the video→image handoff, and the thumbnail
    encoder are all value-checked.  Payloads stay task-local
    (Arrow-batched mapInPandas, nothing binary shuffles)."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < INTRA_DOCS
    )

    def thumb(batches):
        from reindexer_spark.codecs import (
            MediaFormatError,
            PurePythonResizer,
            decode_mkv,
            decode_mp4,
            encode_bmp,
            encode_mkv_coded,
            encode_mp4_coded,
        )

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                mid = int(r.doc_id)
                w, h, _n, qp, frames, container = _intra_fixture(
                    mid, r.text
                )
                enc = encode_mp4_coded if container == "mp4" else encode_mkv_coded
                dec = decode_mp4 if container == "mp4" else decode_mkv
                payload = enc(w, h, intra_frames=frames, qp=qp)
                try:
                    dw, dh, _durs, out, _sync = dec(payload)
                    # keyframe -> image path -> production resizer
                    t = PurePythonResizer().resize(
                        encode_bmp(dw, dh, out[0]), THUMB_MAX_DIM
                    )
                    rows.append(
                        {
                            "media_id": mid,
                            "container": container,
                            "width": dw,
                            "height": dh,
                            "thumb_w": t["thumb_w"],
                            "thumb_h": t["thumb_h"],
                            "thumb_bytes": len(t["thumbnail"]),
                            "decoded": 1,
                        }
                    )
                except MediaFormatError:
                    rows.append(
                        {
                            "media_id": mid, "container": container,
                            "width": 0, "height": 0, "thumb_w": 0,
                            "thumb_h": 0, "thumb_bytes": 0, "decoded": 0,
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "container", "width", "height",
                    "thumb_w", "thumb_h", "thumb_bytes", "decoded",
                ],
            )

    return docs.select("doc_id", "text").mapInPandas(
        thumb,
        "media_id bigint, container string, width int, height int, "
        "thumb_w int, thumb_h int, thumb_bytes bigint, decoded int",
    )


def _matrix_frames(gop: str) -> int:
    """Frames a GOPS chain needs for its coding tools to engage: the
    reference depth plus two (a 10-deep DPB fills by picture 11), nine
    for the long-term chains (every B shape of the long-term cycle
    appears), six otherwise."""
    kwargs = GOPS[gop][1]
    return max(
        6, kwargs.get("n_refs", 0) + 2, 9 if kwargs.get("longterm") else 0
    )


def _matrix_clip(text: str, n_frames: int):
    """Digest-seeded matrix clip: (w, h, qp, RGB frames).  A noise
    frame that translates and fades — motion search and the weighted
    prediction models both engage; 32..48 x 32..44 keeps SPS cropping
    live."""
    import hashlib

    import numpy as np

    dg = hashlib.sha256(text.encode("utf-8")).digest()
    w = 2 * (16 + dg[0] % 9)
    h = 2 * (16 + dg[1] % 7)
    qp = 20 + dg[3] % 18
    rng = np.random.default_rng(int.from_bytes(dg[:8], "big"))
    base = rng.integers(30, 226, (h, w, 3)).astype(np.float64)
    frames = [
        np.clip(
            np.roll(base, shift=(i, 2 * i), axis=(0, 1)) * (1.0 - 0.04 * i)
            + 3 * i,
            0,
            255,
        )
        .astype(np.uint8)
        .tobytes()
        for i in range(n_frames)
    ]
    return w, h, qp, frames


_MATRIX_GOPS_SQL = ", ".join(
    f"({i}, '{g}', {_matrix_frames(g)})" for i, g in enumerate(GOPS)
)
_MATRIX_ALL_IDR_SQL = ", ".join(
    f"'{g}'" for g, (enc, _kw) in GOPS.items() if enc is encode_h264_intra
)


@query(
    "video_decode_matrix",
    oracle=f"""
    WITH g(media_id, gop, n_frames) AS (VALUES {_MATRIX_GOPS_SQL}),
    base AS (
      SELECT g.media_id, g.gop, g.n_frames, sha256(d.text) AS dg
      FROM documents d JOIN g ON d.doc_id = g.media_id
    ), s AS (
      SELECT media_id, gop, n_frames,
             CAST(('0x' || substr(dg, 1, 2)) AS INT) AS s0,
             CAST(('0x' || substr(dg, 3, 2)) AS INT) AS s1,
             CAST(('0x' || substr(dg, 7, 2)) AS INT) AS s3
      FROM base
    )
    SELECT CAST(media_id AS BIGINT) AS media_id, gop,
      CAST(2 * (16 + s0 % 9) AS INT) AS width,
      CAST(2 * (16 + s1 % 7) AS INT) AS height,
      CAST(n_frames AS INT) AS n_frames,
      CAST(20 + s3 % 18 AS INT) AS qp,
      CAST(CASE WHEN gop IN ({_MATRIX_ALL_IDR_SQL}) THEN n_frames ELSE 1 END
           AS INT) AS n_sync,
      CAST(1 AS INT) AS decodable,
      CAST(1 AS INT) AS recon_exact,
      CAST(1 AS INT) AS containers_agree
    FROM s
    """,
)
def video_decode_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real H.264 decode of every GOP shape the encoder codes: one row
    per ``h264.GOPS`` chain (document ``doc_id`` takes the
    ``doc_id``-th name), a digest-seeded moving, fading clip coded by
    that chain, muxed into mp4 and mkv and written as an Annex-B
    stream, and decoded back through all three walkers.

    Oracle-pinned columns (re-derived from ``doc_id`` and
    sha256(text)): the GOP name, decoded dims (non-multiples of 16:
    SPS cropping), frame count, qp; ``n_sync`` — the mp4 sync-table
    count, every frame for the all-IDR chain and only the first
    otherwise (sync flags follow the coded NAL types);
    ``decodable=1`` — all three walkers decode; ``recon_exact=1`` —
    the mp4 decode equals the encoder's closed-loop reconstruction
    byte for byte; ``containers_agree=1`` — the mkv and Annex-B
    decodes equal the mp4 decode, and the mkv keyframe flags equal
    the mp4 sync table.  What each chain's coding tools must engage
    (motion, references, weights, marking, slices) is pinned by the
    tests/test_h264_*.py suites.

    Scale shape: Arrow-batched mapInPandas over a bounded fixture
    set, one task per row; payloads never shuffle."""
    import pandas as pd

    names = list(GOPS)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < len(names)
    )

    def build_and_decode(batches):
        from reindexer_spark.codecs import (
            MediaFormatError,
            decode_mkv,
            decode_mp4,
            encode_mkv_coded,
            encode_mp4_coded,
        )
        from reindexer_spark.h264 import (
            decode_h264_annexb_stream,
            encode_gop,
            encode_h264_annexb,
        )

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                mid = int(r.doc_id)
                gop = names[mid]
                w, h, qp, frames = _matrix_clip(r.text, _matrix_frames(gop))
                recon = encode_gop(w, h, frames, qp, gop)[3]
                try:
                    dw, dh, _d, out, sync = decode_mp4(
                        encode_mp4_coded(
                            w, h, intra_frames=frames, qp=qp, gop=gop
                        )
                    )
                    _w, _h, _d, out_mkv, sync_mkv = decode_mkv(
                        encode_mkv_coded(
                            w, h, intra_frames=frames, qp=qp, gop=gop
                        )
                    )
                    out_es = decode_h264_annexb_stream(
                        encode_h264_annexb(w, h, frames, qp, gop)
                    )[2]
                    decodable = 1
                except MediaFormatError:
                    dw = dh = 0
                    out = out_mkv = out_es = sync = sync_mkv = []
                    decodable = 0
                rows.append(
                    {
                        "media_id": mid,
                        "gop": gop,
                        "width": dw,
                        "height": dh,
                        "n_frames": len(out),
                        "qp": qp,
                        "n_sync": sum(map(bool, sync)),
                        "decodable": decodable,
                        "recon_exact": int(out == recon),
                        "containers_agree": int(
                            decodable == 1
                            and out_mkv == out
                            and out_es == out
                            and list(map(bool, sync_mkv))
                            == list(map(bool, sync))
                        ),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "gop", "width", "height", "n_frames",
                    "qp", "n_sync", "decodable", "recon_exact",
                    "containers_agree",
                ],
            )

    return (
        docs.select("doc_id", "text")
        .repartition(len(names))
        .mapInPandas(
            build_and_decode,
            "media_id bigint, gop string, width int, height int, "
            "n_frames int, qp int, n_sync int, decodable int, "
            "recon_exact int, containers_agree int",
        )
    )


WEBP_DOCS = 24


@query(
    "webp_lossless_decode",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS media_id, sha256(text) AS dg
      FROM documents WHERE doc_id < {WEBP_DOCS}
    ), dims AS (
      SELECT media_id, dg,
             4 + CAST(('0x' || substr(dg, 1, 2)) AS INT) % 13 AS w,
             4 + CAST(('0x' || substr(dg, 3, 2)) AS INT) % 9 AS h
      FROM base
    ), chain AS (
      SELECT media_id, w, h,
             substr(
               string_agg(sha256(dg || '-' || i), '' ORDER BY i),
               1, 2 * w * h * 3
             ) AS rgbhex
      FROM dims CROSS JOIN range(18) r(i)  -- 18 = ceil(16*12*3/32) max
      WHERE i < CEIL(w * h * 3 / 32.0)
      GROUP BY media_id, w, h, dg
    )
    SELECT media_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(media_id % 2 AS INT) AS subtract_green,
           md5(rgbhex) AS rgb_md5,
           CAST(1 AS INT) AS roundtrip_exact,
           CAST(1 AS INT) AS lossy_quarantined
    FROM chain
    """,
)
def webp_lossless_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WebP lossless decode (round-11 VERDICT next #4): per
    document, derive an RGB image from sha256 hex chains BOTH engines
    can compute, encode it as a spec-legal VP8L stream
    (reindexer_spark.vp8l — canonical prefix codes via the code-length
    code, optional SUBTRACT_GREEN on odd docs), wrap in RIFF/WEBP, and
    decode the pixels back through the production image path
    (codecs._decode_image).

    Oracle-pinned columns: ``width``/``height`` — decoded geometry
    equals the digest arithmetic; ``rgb_md5`` — md5 of the DECODED
    pixels' hex equals md5 of the oracle's independently-built chain
    (VP8L is lossless, so decode must return the source bytes);
    ``roundtrip_exact=1``; ``lossy_quarantined=1`` — an 8x8 VP8-lossy
    payload still refuses to decode (the probe-only
    quarantine the VP8L path must NOT loosen).

    Scale shape: mapInPandas, payloads never shuffle — same as every
    media lane."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < WEBP_DOCS
    )

    def build_and_decode(batches):
        import hashlib

        from reindexer_spark.codecs import (
            MediaFormatError,
            _decode_image,
            encode_webp_fixture,
        )
        from reindexer_spark.vp8l import encode_webp_lossless

        # the lossy quarantine does not depend on the row: check it once
        try:
            _decode_image("webp", encode_webp_fixture(8, 8, "vp8"))
            lossy_q = 0
        except MediaFormatError:
            lossy_q = 1
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                mid = int(r.doc_id)
                dg = hashlib.sha256(r.text.encode("utf-8")).hexdigest()
                w = 4 + int(dg[0:2], 16) % 13
                h = 4 + int(dg[2:4], 16) % 9
                n = w * h * 3
                hexchain = "".join(
                    hashlib.sha256(f"{dg}-{i}".encode()).hexdigest()
                    for i in range((n + 31) // 32)
                )[: 2 * n]
                rgb = bytes.fromhex(hexchain)
                payload = encode_webp_lossless(
                    w, h, rgb, subtract_green=bool(mid % 2)
                )
                dw, dh, out = _decode_image("webp", payload)
                rows.append(
                    {
                        "media_id": mid,
                        "width": dw,
                        "height": dh,
                        "subtract_green": mid % 2,
                        "rgb_md5": hashlib.md5(
                            out.hex().encode()
                        ).hexdigest(),
                        "roundtrip_exact": int(out == rgb),
                        "lossy_quarantined": lossy_q,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "subtract_green",
                    "rgb_md5", "roundtrip_exact", "lossy_quarantined",
                ],
            )

    return docs.select("doc_id", "text").repartition(WEBP_DOCS).mapInPandas(
        build_and_decode,
        "media_id bigint, width int, height int, subtract_green int, "
        "rgb_md5 string, roundtrip_exact int, lossy_quarantined int",
    )


TIFF_DOCS = 20


@query(
    "image_tiff_decode",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS media_id, sha256(text) AS dg
      FROM documents WHERE doc_id < {TIFF_DOCS}
    ), dims AS (
      SELECT media_id, dg,
             4 + CAST(('0x' || substr(dg, 1, 2)) AS INT) % 13 AS w,
             4 + CAST(('0x' || substr(dg, 3, 2)) AS INT) % 9 AS h,
             CASE WHEN media_id % 3 = 0 THEN 1 ELSE 0 END AS gray
      FROM base
    ), chain AS (
      SELECT media_id, w, h, gray,
             substr(
               string_agg(sha256(dg || '-' || i), '' ORDER BY i),
               1,
               2 * w * h * CASE WHEN gray = 1 THEN 1 ELSE 3 END
             ) AS hexsrc
      FROM dims CROSS JOIN range(18) r(i)
      WHERE i < CEIL(w * h * (CASE WHEN gray = 1 THEN 1 ELSE 3 END)
                     / 32.0)
      GROUP BY media_id, w, h, gray, dg
    ), px AS (
      SELECT media_id, w, h, gray,
             CASE WHEN gray = 1 THEN
               array_to_string(
                 list_transform(
                   range(CAST(w * h AS BIGINT)),
                   j -> repeat(substr(hexsrc, CAST(2 * j + 1 AS INT), 2), 3)
                 ), ''
               )
             ELSE hexsrc END AS rgbhex
      FROM chain
    )
    SELECT media_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CASE WHEN media_id % 2 = 0 THEN 'II' ELSE 'MM' END
             AS byte_order,
           CAST(gray AS INT) AS gray,
           CASE media_id % 4 WHEN 0 THEN 'none' WHEN 1 THEN 'lzw'
                             WHEN 2 THEN 'packbits' ELSE 'deflate' END
             AS compression,
           CAST(CASE WHEN media_id % 4 IN (1, 3) THEN 2 ELSE 1 END
                AS INT) AS predictor,
           CAST(2 AS INT) AS n_strips,
           md5(rgbhex) AS rgb_md5,
           CAST(1 AS INT) AS roundtrip_exact,
           CAST(1 AS INT) AS probe_agrees,
           CAST(1 AS INT) AS ccitt_quarantined
    FROM px
    """,
)
def image_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline TIFF decode (round 14 — TIFF joins the image formats;
    scans/datasets ship it, and a 100 TB crawl funnel must at least
    probe it): per document, derive pixels from sha256 hex chains
    BOTH engines can compute, write a real two-strip TIFF
    (reindexer_spark.tiff — grayscale every third doc, byte order by
    parity, compression cycling none / LZW+Predictor2 / PackBits /
    Deflate+Predictor2 by media_id%4), and decode it back through the
    production image path (codecs._decode_image).

    Oracle-pinned columns: geometry/compression/predictor from the
    digest arithmetic; ``rgb_md5`` — md5 of the DECODED pixels' hex
    equals the oracle's independently built chain across ALL FOUR
    compression schemes (gray docs store luma which is EXACTLY the
    source byte for r=g=b inputs, so the oracle triples each chain
    byte); ``roundtrip_exact=1``; ``probe_agrees=1`` — the
    headers-only probe reports the decoder's geometry;
    ``ccitt_quarantined=1`` — the same fixture with its Compression
    tag flipped to CCITT Group 3 refuses to DECODE while the probe
    still reads its dims (probe-first funnel: metadata recovered,
    pixels never guessed).

    Scale shape: mapInPandas, payloads never shuffle — same as every
    media lane."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < TIFF_DOCS
    )

    def build_and_decode(batches):
        import hashlib
        import struct as st

        from reindexer_spark.codecs import (
            MediaFormatError,
            _decode_image,
            probe_media,
        )
        from reindexer_spark.tiff import TAG_COMPRESSION, encode_tiff

        def with_ccitt_tag(payload: bytes) -> bytes:
            le = payload[:2] == b"II"
            f = "<" if le else ">"
            buf = bytearray(payload)
            (ifd,) = st.unpack_from(f + "I", buf, 4)
            (n,) = st.unpack_from(f + "H", buf, ifd)
            for i in range(n):
                e = ifd + 2 + 12 * i
                if st.unpack_from(f + "H", buf, e)[0] == TAG_COMPRESSION:
                    st.pack_into(f + "H", buf, e + 8, 2)  # CCITT G3
                    return bytes(buf)
            raise MediaFormatError("fixture lacks a Compression tag")

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                mid = int(r.doc_id)
                dg = hashlib.sha256(r.text.encode("utf-8")).hexdigest()
                w = 4 + int(dg[0:2], 16) % 13
                h = 4 + int(dg[2:4], 16) % 9
                gray = mid % 3 == 0
                le = mid % 2 == 0
                comp, cname, pred = (
                    (1, "none", 1),
                    (5, "lzw", 2),
                    (32773, "packbits", 1),
                    (8, "deflate", 2),
                )[mid % 4]
                n = w * h * (1 if gray else 3)
                hexsrc = "".join(
                    hashlib.sha256(f"{dg}-{i}".encode()).hexdigest()
                    for i in range((n + 31) // 32)
                )[: 2 * n]
                src = bytes.fromhex(hexsrc)
                if gray:
                    rgb = b"".join(bytes((v, v, v)) for v in src)
                else:
                    rgb = src
                payload = encode_tiff(
                    w, h, rgb, le=le, gray=gray,
                    compression=comp, predictor=pred,
                )
                dw, dh, out = _decode_image("tiff", payload)
                pm = probe_media(payload)
                agrees = int(
                    pm["kind"] == "tiff"
                    and pm["width"] == dw
                    and pm["height"] == dh
                )
                ccitt = with_ccitt_tag(payload)
                try:
                    _decode_image("tiff", ccitt)
                    ccitt_q = 0
                except MediaFormatError:
                    ccitt_q = int(probe_media(ccitt)["width"] == dw)
                rows.append(
                    {
                        "media_id": mid,
                        "width": dw,
                        "height": dh,
                        "byte_order": "II" if le else "MM",
                        "gray": int(gray),
                        "compression": cname,
                        "predictor": pred,
                        "n_strips": 2,
                        "rgb_md5": hashlib.md5(
                            out.hex().encode()
                        ).hexdigest(),
                        "roundtrip_exact": int(out == rgb),
                        "probe_agrees": agrees,
                        "ccitt_quarantined": ccitt_q,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "byte_order",
                    "gray", "compression", "predictor", "n_strips",
                    "rgb_md5", "roundtrip_exact",
                    "probe_agrees", "ccitt_quarantined",
                ],
            )

    return docs.select("doc_id", "text").repartition(TIFF_DOCS).mapInPandas(
        build_and_decode,
        "media_id bigint, width int, height int, byte_order string, "
        "gray int, compression string, predictor int, n_strips int, "
        "rgb_md5 string, roundtrip_exact int, "
        "probe_agrees int, ccitt_quarantined int",
    )


@query(
    "image_tiff_tiled",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS media_id, sha256(text) AS dg
      FROM documents WHERE doc_id < {TIFF_DOCS}
    ), dims AS (
      SELECT media_id, dg,
             17 + CAST(('0x' || substr(dg, 1, 2)) AS INT) % 32 AS w,
             17 + CAST(('0x' || substr(dg, 3, 2)) AS INT) % 24 AS h,
             CASE WHEN media_id % 2 = 0 THEN 16 ELSE 8 END AS bits,
             CASE WHEN media_id % 3 <> 0 THEN 1 ELSE 0 END AS le
      FROM base
    ), chain AS (
      SELECT media_id, w, h, bits, le,
             substr(
               string_agg(sha256(dg || '-' || i), '' ORDER BY i),
               1,
               2 * w * h * 3 * (bits // 8)
             ) AS hexsrc
      FROM dims CROSS JOIN range(600) r(i)
      WHERE i < CEIL(w * h * 3 * (bits // 8) / 32.0)
      GROUP BY media_id, w, h, bits, le, dg
    ), px AS (
      -- decoded pixels are the HIGH byte of each sample: for 8-bit
      -- the chain itself; for 16-bit the first (MM) or second (II)
      -- byte of each 2-byte sample
      SELECT media_id, w, h, bits, le,
             CASE WHEN bits = 8 THEN hexsrc
                  WHEN le = 1 THEN array_to_string(
                    list_transform(
                      range(CAST(w * h * 3 AS BIGINT)),
                      j -> substr(hexsrc, CAST(4 * j + 3 AS INT), 2)
                    ), '')
                  ELSE array_to_string(
                    list_transform(
                      range(CAST(w * h * 3 AS BIGINT)),
                      j -> substr(hexsrc, CAST(4 * j + 1 AS INT), 2)
                    ), '')
             END AS rgbhex
      FROM chain
    )
    SELECT media_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CASE WHEN le = 1 THEN 'II' ELSE 'MM' END AS byte_order,
           CAST(bits AS INT) AS bits,
           CASE media_id % 4 WHEN 0 THEN 'none' WHEN 1 THEN 'lzw'
                             WHEN 2 THEN 'packbits' ELSE 'deflate' END
             AS compression,
           CAST(CASE WHEN media_id % 4 IN (1, 3) THEN 2 ELSE 1 END
                AS INT) AS predictor,
           CAST(((w + 15) // 16) * ((h + 15) // 16) AS INT) AS n_tiles,
           md5(rgbhex) AS rgb_md5,
           CAST(1 AS INT) AS roundtrip_exact,
           CAST(1 AS INT) AS probe_agrees,
           CAST(1 AS INT) AS misaligned_quarantined
    FROM px
    """,
)
def image_tiff_tiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiled + 16-bit TIFF decode (round 15 — the §15 layout
    scanned-document and scientific crawls actually use): per
    document, derive SAMPLES from sha256 hex chains both engines can
    compute (8-bit RGB on odd media_ids, full 16-bit samples in the
    file's byte order on even ones), write a real 16x16-tiled TIFF
    (edge tiles zero-padded, compression cycling none / LZW+Pred2 /
    PackBits / Deflate+Pred2; for 16-bit, Predictor 2 differences
    whole 16-bit sample values), and decode it back through the
    production image path.

    Oracle-pinned columns: geometry/bits/compression from the digest
    arithmetic; ``n_tiles`` — the §15 grid count; ``rgb_md5`` — md5
    of the decoded pixels' hex, which for 16-bit sources is the HIGH
    byte of each sample (the oracle picks the first or second hex
    pair of each sample by byte order); ``roundtrip_exact=1``;
    ``probe_agrees=1``; ``misaligned_quarantined=1`` — the same
    fixture with TileWidth patched to a non-multiple-of-16 refuses
    to decode while the probe still reads its dims.

    Scale shape: mapInPandas, payloads never shuffle — same as every
    media lane."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < TIFF_DOCS
    )

    def build_and_decode(batches):
        import hashlib
        import struct as st

        import numpy as np

        from reindexer_spark.codecs import (
            MediaFormatError,
            _decode_image,
            probe_media,
        )
        from reindexer_spark.tiff import TAG_TILE_WIDTH, encode_tiff

        def with_misaligned_tile(payload: bytes) -> bytes:
            le = payload[:2] == b"II"
            f = "<" if le else ">"
            buf = bytearray(payload)
            (ifd,) = st.unpack_from(f + "I", buf, 4)
            (n,) = st.unpack_from(f + "H", buf, ifd)
            for i in range(n):
                e = ifd + 2 + 12 * i
                if st.unpack_from(f + "H", buf, e)[0] == TAG_TILE_WIDTH:
                    st.pack_into(f + "H", buf, e + 8, 20)  # not %16
                    return bytes(buf)
            raise MediaFormatError("fixture lacks a TileWidth tag")

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                mid = int(r.doc_id)
                dg = hashlib.sha256(r.text.encode("utf-8")).hexdigest()
                w = 17 + int(dg[0:2], 16) % 32
                h = 17 + int(dg[2:4], 16) % 24
                bits = 16 if mid % 2 == 0 else 8
                le = mid % 3 != 0
                comp, cname, pred = (
                    (1, "none", 1),
                    (5, "lzw", 2),
                    (32773, "packbits", 1),
                    (8, "deflate", 2),
                )[mid % 4]
                nbytes = w * h * 3 * (bits // 8)
                hexsrc = "".join(
                    hashlib.sha256(f"{dg}-{i}".encode()).hexdigest()
                    for i in range((nbytes + 31) // 32)
                )[: 2 * nbytes]
                src = bytes.fromhex(hexsrc)
                if bits == 16:
                    dt = "<u2" if le else ">u2"
                    hi = (
                        np.frombuffer(src, dtype=dt).astype(np.uint16)
                        >> 8
                    ).astype(np.uint8)
                    expected = hi.tobytes()
                else:
                    expected = src
                payload = encode_tiff(
                    w, h, src, le=le, bits=bits,
                    compression=comp, predictor=pred, tile=(16, 16),
                )
                dw, dh, out = _decode_image("tiff", payload)
                pm = probe_media(payload)
                agrees = int(
                    pm["kind"] == "tiff"
                    and pm["width"] == dw
                    and pm["height"] == dh
                )
                bad = with_misaligned_tile(payload)
                try:
                    _decode_image("tiff", bad)
                    mis_q = 0
                except MediaFormatError:
                    mis_q = int(probe_media(bad)["width"] == dw)
                rows.append(
                    {
                        "media_id": mid,
                        "width": dw,
                        "height": dh,
                        "byte_order": "II" if le else "MM",
                        "bits": bits,
                        "compression": cname,
                        "predictor": pred,
                        "n_tiles": ((w + 15) // 16) * ((h + 15) // 16),
                        "rgb_md5": hashlib.md5(
                            out.hex().encode()
                        ).hexdigest(),
                        "roundtrip_exact": int(out == expected),
                        "probe_agrees": agrees,
                        "misaligned_quarantined": mis_q,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "byte_order",
                    "bits", "compression", "predictor", "n_tiles",
                    "rgb_md5", "roundtrip_exact",
                    "probe_agrees", "misaligned_quarantined",
                ],
            )

    return docs.select("doc_id", "text").repartition(TIFF_DOCS).mapInPandas(
        build_and_decode,
        "media_id bigint, width int, height int, byte_order string, "
        "bits int, compression string, predictor int, n_tiles int, "
        "rgb_md5 string, roundtrip_exact int, "
        "probe_agrees int, misaligned_quarantined int",
    )


@query(
    "image_tiff_palette",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS media_id, sha256(text) AS dg
      FROM documents WHERE doc_id < {TIFF_DOCS}
    ), dims AS (
      SELECT media_id, dg,
             9 + CAST(('0x' || substr(dg, 1, 2)) AS INT) % 24 AS w,
             9 + CAST(('0x' || substr(dg, 3, 2)) AS INT) % 16 AS h
      FROM base
    ), idxc AS (
      SELECT media_id, dg, w, h,
             substr(
               string_agg(sha256(dg || '-' || i), '' ORDER BY i),
               1, 2 * w * h
             ) AS idxhex
      FROM dims CROSS JOIN range(24) r(i)
      WHERE i < CEIL(w * h / 32.0)
      GROUP BY media_id, dg, w, h
    ), cmc AS (
      SELECT media_id, w, h, idxhex,
             string_agg(sha256(dg || '-cm-' || i), '' ORDER BY i)
               AS cmhex
      FROM idxc CROSS JOIN range(24) r(i)
      GROUP BY media_id, w, h, idxhex
    ), px AS (
      SELECT media_id, w, h,
        array_to_string(
          list_transform(
            range(CAST(w * h AS BIGINT)),
            j -> substr(cmhex,
                   2 * CAST(('0x' || substr(idxhex,
                        CAST(2 * j + 1 AS INT), 2)) AS INT) + 1, 2)
              || substr(cmhex,
                   2 * (256 + CAST(('0x' || substr(idxhex,
                        CAST(2 * j + 1 AS INT), 2)) AS INT)) + 1, 2)
              || substr(cmhex,
                   2 * (512 + CAST(('0x' || substr(idxhex,
                        CAST(2 * j + 1 AS INT), 2)) AS INT)) + 1, 2)
          ), ''
        ) AS rgbhex
      FROM cmc
    )
    SELECT media_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CASE media_id % 4 WHEN 0 THEN 'none' WHEN 1 THEN 'lzw'
                             WHEN 2 THEN 'packbits' ELSE 'deflate' END
             AS compression,
           md5(rgbhex) AS rgb_md5,
           CAST(1 AS INT) AS probe_agrees,
           CAST(1 AS INT) AS short_cmap_quarantined
    FROM px
    """,
)
def image_tiff_palette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PALETTE-COLOR TIFF decode (round 15): PhotometricInterpretation
    3 — 8-bit indices through a 3x256 16-bit ColorMap (the layout old
    scanned-document crawls actually carry).  Per document, indices
    AND the colormap derive from sha256 hex chains both engines can
    compute: colormap values are high-byte-exact (hb << 8), so the
    decoded pixel bytes are pure chain lookups the oracle replays
    with substr arithmetic.

    Oracle-pinned columns: geometry/compression from the digest;
    ``rgb_md5`` — md5 of the decoded RGB hex (index → R,G,B high
    bytes) across all four compression schemes;
    ``short_cmap_quarantined=1`` — the same fixture with its ColorMap
    count patched short refuses to decode while the probe still reads
    its dims.

    Scale shape: mapInPandas, payloads never shuffle — same as every
    media lane."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < TIFF_DOCS
    )

    def build_and_decode(batches):
        import hashlib
        import struct as st

        from reindexer_spark.codecs import (
            MediaFormatError,
            _decode_image,
            probe_media,
        )
        from reindexer_spark.tiff import TAG_COLORMAP, encode_tiff_palette

        def with_short_cmap(payload: bytes) -> bytes:
            buf = bytearray(payload)
            (ifd,) = st.unpack_from("<I", buf, 4)
            (n,) = st.unpack_from("<H", buf, ifd)
            for i in range(n):
                e = ifd + 2 + 12 * i
                if st.unpack_from("<H", buf, e)[0] == TAG_COLORMAP:
                    st.pack_into("<I", buf, e + 4, 300)  # count cut
                    return bytes(buf)
            raise MediaFormatError("fixture lacks a ColorMap tag")

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                mid = int(r.doc_id)
                dg = hashlib.sha256(r.text.encode("utf-8")).hexdigest()
                w = 9 + int(dg[0:2], 16) % 24
                h = 9 + int(dg[2:4], 16) % 16
                comp, cname = (
                    (1, "none"), (5, "lzw"), (32773, "packbits"),
                    (8, "deflate"),
                )[mid % 4]
                idxhex = "".join(
                    hashlib.sha256(f"{dg}-{i}".encode()).hexdigest()
                    for i in range((w * h + 31) // 32)
                )[: 2 * w * h]
                idx = bytes.fromhex(idxhex)
                cmbytes = bytes.fromhex("".join(
                    hashlib.sha256(f"{dg}-cm-{i}".encode()).hexdigest()
                    for i in range(24)
                ))
                colormap = [b << 8 for b in cmbytes]
                payload = encode_tiff_palette(
                    w, h, idx, colormap, le=True, compression=comp
                )
                dw, dh, out = _decode_image("tiff", payload)
                pm = probe_media(payload)
                agrees = int(
                    pm["kind"] == "tiff"
                    and pm["width"] == dw
                    and pm["height"] == dh
                )
                bad = with_short_cmap(payload)
                try:
                    _decode_image("tiff", bad)
                    cq = 0
                except MediaFormatError:
                    cq = int(probe_media(bad)["width"] == dw)
                rows.append(
                    {
                        "media_id": mid,
                        "width": dw,
                        "height": dh,
                        "compression": cname,
                        "rgb_md5": hashlib.md5(
                            out.hex().encode()
                        ).hexdigest(),
                        "probe_agrees": agrees,
                        "short_cmap_quarantined": cq,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "compression",
                    "rgb_md5", "probe_agrees",
                    "short_cmap_quarantined",
                ],
            )

    return docs.select("doc_id", "text").repartition(TIFF_DOCS).mapInPandas(
        build_and_decode,
        "media_id bigint, width int, height int, compression string, "
        "rgb_md5 string, probe_agrees int, short_cmap_quarantined int",
    )


FLACIX_DOCS = 12


@query(
    "audio_flac_index",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS media_id, sha256(text) AS dg
      FROM documents WHERE doc_id < {FLACIX_DOCS}
    ), s AS (
      SELECT media_id,
             CAST(('0x' || substr(dg, 1, 2)) AS INT) AS s0,
             CAST(('0x' || substr(dg, 3, 4)) AS INT) AS s12,
             CAST(('0x' || substr(dg, 7, 2)) AS INT) AS s3,
             CAST(('0x' || substr(dg, 9, 2)) AS INT) AS s4
      FROM base
    ), p AS (
      SELECT media_id,
        CASE s0 % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
             WHEN 2 THEN 22050 ELSE 44100 END AS rate,
        3000 + s12 % 20000 AS n,
        CASE s3 % 4 WHEN 0 THEN 512 WHEN 1 THEN 1024
             WHEN 2 THEN 2048 ELSE 4096 END AS bs,
        1 + s4 % 3 AS se
      FROM s
    )
    SELECT media_id,
      CAST(rate AS INT) AS sample_rate,
      CAST((n + bs - 1) // bs AS INT) AS n_frames,
      CAST(n AS BIGINT) AS n_samples,
      CAST(n * 1000 // rate AS BIGINT) AS duration_ms,
      CAST(((n + bs - 1) // bs + se - 1) // se AS INT)
        AS n_seek_points,
      CAST(1 AS INT) AS seektable_agrees,
      CAST(1 AS INT) AS frames_tile,
      CAST(1 AS INT) AS decode_exact
    FROM p
    """,
)
def audio_flac_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAC frame + SEEKTABLE index (round 15 — the lossless-audio
    sibling of audio_mpeg_index): FLAC frames carry no length field,
    so the only exact boundary source is the decoder's own frame
    walk — the same walk real tools run to build seek tables.  The
    fixture writes a real RFC 9639 §8.5 SEEKTABLE (one point per
    digest-derived period) and the index verifies every point lands
    on a true frame boundary with the right sample number and
    blocksize.

    Oracle-pinned columns: rate/frame/sample counts and seek-point
    counts from digest arithmetic; ``duration_ms`` frame-accurate;
    ``seektable_agrees=1`` — every SEEKTABLE point maps to a real
    frame; ``frames_tile=1`` — frame extents tile the stream from
    the first frame byte to EOF; ``decode_exact=1`` — decoded PCM
    equals the digest-derived source (lossless round trip at every
    blocksize/rate combination).

    Scale shape: mapInPandas, payloads never shuffle — same as every
    media lane."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < FLACIX_DOCS
    )

    def build_and_index(batches):
        import hashlib

        import numpy as np

        from reindexer_spark.codecs import (
            decode_flac,
            encode_flac,
            flac_frame_index,
        )

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                mid = int(r.doc_id)
                dg = hashlib.sha256(r.text.encode("utf-8")).digest()
                rate = (8000, 16000, 22050, 44100)[dg[0] % 4]
                n = 3000 + int.from_bytes(dg[1:3], "big") % 20000
                bs = (512, 1024, 2048, 4096)[dg[3] % 4]
                se = 1 + dg[4] % 3
                rng = np.random.default_rng(
                    int.from_bytes(dg[:8], "big")
                )
                src = [
                    int(v)
                    for v in rng.integers(-20000, 20000, n)
                ]
                payload = encode_flac(
                    src, rate, block_size=bs, seek_every=se
                )
                ix = flac_frame_index(payload)
                _r2, out = decode_flac(payload)
                pos = ix["frames"][0][0] if ix["frames"] else 0
                tiles = 1
                for off, ln, _smp, _bsz in ix["frames"]:
                    if off != pos:
                        tiles = 0
                    pos += ln
                if pos != len(payload):
                    tiles = 0
                rows.append(
                    {
                        "media_id": mid,
                        "sample_rate": ix["sample_rate"],
                        "n_frames": ix["n_frames"],
                        "n_samples": ix["n_samples"],
                        "duration_ms": ix["duration_ms"],
                        "n_seek_points": len(ix["seektable"] or []),
                        "seektable_agrees": int(
                            ix["seektable_agrees"] == 1
                        ),
                        "frames_tile": tiles,
                        "decode_exact": int(out == src),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "sample_rate", "n_frames",
                    "n_samples", "duration_ms", "n_seek_points",
                    "seektable_agrees", "frames_tile", "decode_exact",
                ],
            )

    return (
        docs.select("doc_id", "text")
        .repartition(FLACIX_DOCS)
        .mapInPandas(
            build_and_index,
            "media_id bigint, sample_rate int, n_frames int, "
            "n_samples bigint, duration_ms bigint, n_seek_points int, "
            "seektable_agrees int, frames_tile int, decode_exact int",
        )
    )


AVPROBE_DOCS = 12


@query(
    "video_audio_probe",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS media_id, sha256(text) AS dg
      FROM documents WHERE doc_id < {AVPROBE_DOCS}
    ), s AS (
      SELECT media_id,
             CAST(('0x' || substr(dg, 1, 2)) AS INT) AS s0,
             CAST(('0x' || substr(dg, 3, 2)) AS INT) AS s1,
             CAST(('0x' || substr(dg, 5, 2)) AS INT) AS s2,
             CAST(('0x' || substr(dg, 7, 2)) AS INT) AS s3,
             CAST(('0x' || substr(dg, 9, 2)) AS INT) AS s4
      FROM base
    )
    SELECT media_id,
      CASE WHEN media_id % 2 = 0 THEN 'mp4' ELSE 'mkv' END AS container,
      CAST(16 + s0 % 17 AS INT) AS width,
      CAST(16 + s1 % 9 AS INT) AS height,
      CAST(2 + s2 % 3 AS INT) AS n_frames,
      CAST(1 + s3 % 2 AS INT) AS channels,
      CAST(CASE s4 % 4 WHEN 0 THEN 44100 WHEN 1 THEN 48000
           WHEN 2 THEN 24000 ELSE 16000 END AS INT) AS sample_rate,
      CAST((6 + s2 % 20) * 1024 AS BIGINT) AS n_audio_samples,
      CAST((6 + s2 % 20) * 1024 * 1000
           // (CASE s4 % 4 WHEN 0 THEN 44100 WHEN 1 THEN 48000
               WHEN 2 THEN 24000 ELSE 16000 END) AS BIGINT)
        AS audio_dur_ms,
      CAST(1 AS INT) AS video_decodes,
      CAST(1 AS INT) AS plain_has_no_audio
    FROM s
    """,
)
def video_audio_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO-TRACK probe inside video containers (round 15): real
    crawled mp4/mkv almost always carry an AAC audio track next to
    the video — the probe funnel now recovers channels / sample rate
    / PCM sample count from the mp4a AudioSampleEntry (16.16 rate,
    stsz frame count × 1024) and the Matroska A_AAC TrackEntry
    (float SamplingFrequency, per-track SimpleBlock count), while
    video decode keeps selecting the video track untouched.

    Oracle-pinned columns: audio geometry from digest arithmetic;
    ``audio_dur_ms`` — frame-accurate duration; ``video_decodes=1`` —
    the video track still decodes to exactly n_frames frames with the
    audio trak present (the track-selection contract on multi-track
    files); ``plain_has_no_audio=1`` — the same file WITHOUT the
    audio track probes channels/sample_rate as NULL (no invented
    audio metadata).

    Scale shape: mapInPandas, payloads never shuffle — same as every
    media lane."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < AVPROBE_DOCS
    )

    def build_and_probe(batches):
        import hashlib

        import numpy as np

        from reindexer_spark.codecs import (
            decode_mkv,
            decode_mp4,
            encode_mkv,
            encode_mp4,
            probe_media,
        )

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                mid = int(r.doc_id)
                dg = hashlib.sha256(r.text.encode("utf-8")).digest()
                w = 16 + dg[0] % 17
                h = 16 + dg[1] % 9
                nf = 2 + dg[2] % 3
                ch = 1 + dg[3] % 2
                rate = (44100, 48000, 24000, 16000)[dg[4] % 4]
                n_aac = 6 + dg[2] % 20
                rng = np.random.default_rng(
                    int.from_bytes(dg[:8], "big")
                )
                frames = [
                    rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
                    .tobytes()
                    for _ in range(nf)
                ]
                aac = [
                    bytes(rng.integers(0, 256, 40, dtype=np.uint8))
                    for _ in range(n_aac)
                ]
                container = "mp4" if mid % 2 == 0 else "mkv"
                enc = encode_mp4 if container == "mp4" else encode_mkv
                dec = decode_mp4 if container == "mp4" else decode_mkv
                payload = enc(w, h, frames, audio=(ch, rate, aac))
                pm = probe_media(payload)
                _w2, _h2, _d, out, _s = dec(payload)
                plain = probe_media(enc(w, h, frames))
                rows.append(
                    {
                        "media_id": mid,
                        "container": container,
                        "width": pm["width"],
                        "height": pm["height"],
                        "n_frames": pm["n_frames"],
                        "channels": pm["channels"],
                        "sample_rate": pm["sample_rate"],
                        "n_audio_samples": pm["n_samples"],
                        "audio_dur_ms": (
                            pm["n_samples"] * 1000 // pm["sample_rate"]
                            if pm["n_samples"] and pm["sample_rate"]
                            else -1
                        ),
                        "video_decodes": int(
                            len(out) == nf
                            and _w2 == w
                            and _h2 == h
                        ),
                        "plain_has_no_audio": int(
                            plain["channels"] is None
                            and plain["sample_rate"] is None
                        ),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "container", "width", "height",
                    "n_frames", "channels", "sample_rate",
                    "n_audio_samples", "audio_dur_ms",
                    "video_decodes", "plain_has_no_audio",
                ],
            )

    return (
        docs.select("doc_id", "text")
        .repartition(AVPROBE_DOCS)
        .mapInPandas(
            build_and_probe,
            "media_id bigint, container string, width int, height int, "
            "n_frames int, channels int, sample_rate int, "
            "n_audio_samples bigint, audio_dur_ms bigint, "
            "video_decodes int, plain_has_no_audio int",
        )
    )


SCRUBX_DOCS = 16


@query(
    "image_exif_scrub_multi",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS media_id, sha256(text) AS dg
      FROM documents WHERE doc_id < {SCRUBX_DOCS}
    ), s AS (
      SELECT media_id,
             CAST(('0x' || substr(dg, 1, 4)) AS INT) AS s01,
             CAST(('0x' || substr(dg, 5, 4)) AS INT) AS s23,
             CAST(('0x' || substr(dg, 9, 2)) AS INT) AS s4,
             CAST(('0x' || substr(dg, 11, 2)) AS INT) AS s5,
             CAST(('0x' || substr(dg, 13, 2)) AS INT) AS s6
      FROM base
    )
    SELECT media_id,
      CASE media_id % 4 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'tiff'
                        WHEN 2 THEN 'png' ELSE 'webp' END AS kind,
      CAST(16 + s4 % 17 AS INT) AS width,
      CAST(16 + s5 % 9 AS INT) AS height,
      CAST(CASE WHEN s6 % 2 = 0 THEN 1 ELSE -1 END
           * (s01 % 90001) AS BIGINT) AS lat_milli,
      CAST(CASE WHEN s6 % 3 = 0 THEN 1 ELSE -1 END
           * (s23 % 180001) AS BIGINT) AS lon_milli,
      CAST(1 AS INT) AS had_gps,
      CAST(1 AS INT) AS len_unchanged,
      CAST(1 AS INT) AS gps_gone,
      CAST(1 AS INT) AS coded_identical,
      CAST(1 AS INT) AS idempotent
    FROM s
    """,
)
def image_exif_scrub_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-FORMAT GPS scrub (round 15): the location-PII pass a
    training pipeline runs must cover every image carrier, not just
    JPEG — PNG carries the same TIFF block in an eXIf chunk, WebP in
    an EXIF chunk, bare TIFF in IFD0.  One digest-seeded fixture per
    doc cycles jpeg/tiff/png/webp, embeds real GPS coordinates, and
    runs the ONE dispatched entry point (tiff.scrub_image_gps).

    Oracle-pinned columns: ``lat_milli``/``lon_milli`` — the
    coordinates PARSED BACK from the built file equal the digest
    arithmetic (write→parse exact-inverse per format);
    ``had_gps=1``; ``len_unchanged=1`` — every scrub is in-place;
    ``gps_gone=1`` — re-parsing the scrubbed file finds no GPS;
    ``coded_identical=1`` — decoded pixels (jpeg/tiff/png) or the
    coded VP8L chunk bytes (webp) are unchanged; ``idempotent=1`` —
    a second scrub reports nothing and returns the same bytes.

    Scale shape: mapInPandas, payloads never shuffle — same as every
    media lane."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < SCRUBX_DOCS
    )

    def build_and_scrub(batches):
        import hashlib
        import struct as st

        from reindexer_spark.codecs import (
            decode_jpeg_baseline,
            decode_png,
            encode_jpeg_baseline,
            encode_png,
        )
        from reindexer_spark.tiff import (
            build_exif_app1,
            decode_tiff,
            encode_tiff,
            insert_exif,
            insert_png_exif,
            insert_webp_exif,
            parse_gps_milli,
            scrub_image_gps,
        )
        from reindexer_spark.vp8l import encode_webp_lossless

        def png_block(p: bytes) -> bytes | None:
            pos = 8
            while pos + 8 <= len(p):
                (ln,) = st.unpack_from(">I", p, pos)
                if p[pos + 4 : pos + 8] == b"eXIf":
                    return p[pos + 8 : pos + 8 + ln]
                pos += 8 + ln + 4
            return None

        def webp_block(p: bytes) -> bytes | None:
            pos = 12
            while pos + 8 <= len(p):
                cid = p[pos : pos + 4]
                (sz,) = st.unpack_from("<I", p, pos + 4)
                if cid == b"EXIF":
                    body = p[pos + 8 : pos + 8 + sz]
                    if body[:6] == b"Exif\x00\x00":
                        body = body[6:]
                    return body
                pos += 8 + sz + (sz & 1)
            return None

        def webp_coded(p: bytes) -> bytes:
            pos = 12
            while pos + 8 <= len(p):
                cid = p[pos : pos + 4]
                (sz,) = st.unpack_from("<I", p, pos + 4)
                if cid == b"VP8L":
                    return p[pos + 8 : pos + 8 + sz]
                pos += 8 + sz + (sz & 1)
            return b""

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                mid = int(r.doc_id)
                dg = hashlib.sha256(r.text.encode("utf-8")).hexdigest()
                kind = ("jpeg", "tiff", "png", "webp")[mid % 4]
                w = 16 + int(dg[8:10], 16) % 17
                h = 16 + int(dg[10:12], 16) % 9
                s6 = int(dg[12:14], 16)
                lat = (1 if s6 % 2 == 0 else -1) * (
                    int(dg[0:4], 16) % 90001
                )
                lon = (1 if s6 % 3 == 0 else -1) * (
                    int(dg[4:8], 16) % 180001
                )
                n = w * h * 3
                hexsrc = "".join(
                    hashlib.sha256(f"{dg}-{i}".encode()).hexdigest()
                    for i in range((n + 31) // 32)
                )[: 2 * n]
                rgb = bytes.fromhex(hexsrc)
                app1 = build_exif_app1(
                    gps_lat_milli=lat, gps_lon_milli=lon
                )
                block = app1[10:]  # past marker+len+'Exif\\0\\0'
                if kind == "jpeg":
                    payload = insert_exif(
                        encode_jpeg_baseline(w, h, rgb, 80), app1
                    )
                elif kind == "tiff":
                    payload = encode_tiff(
                        w, h, rgb, gps_lat_milli=lat, gps_lon_milli=lon
                    )
                elif kind == "png":
                    payload = insert_png_exif(
                        encode_png(w, h, rgb), block
                    )
                else:
                    payload = insert_webp_exif(
                        encode_webp_lossless(w, h, rgb), block
                    )

                def gps_of(p: bytes):
                    if kind == "jpeg":
                        from reindexer_spark.tiff import parse_exif

                        m = parse_exif(p)
                        return m["gps"] if m else None
                    if kind == "tiff":
                        return parse_gps_milli(p)
                    blk = png_block(p) if kind == "png" else webp_block(p)
                    return parse_gps_milli(blk) if blk else None

                g0 = gps_of(payload) or {}
                plat = g0.get("lat_milli")
                plon = g0.get("lon_milli")
                out, had, k2 = scrub_image_gps(payload)
                g1 = gps_of(out)
                if kind == "jpeg":
                    same = decode_jpeg_baseline(out) == (
                        decode_jpeg_baseline(payload)
                    )
                elif kind == "tiff":
                    same = decode_tiff(out) == decode_tiff(payload)
                elif kind == "png":
                    same = decode_png(out) == decode_png(payload)
                else:
                    same = webp_coded(out) == webp_coded(payload)
                out2, had2, _k3 = scrub_image_gps(out)
                rows.append(
                    {
                        "media_id": mid,
                        "kind": kind,
                        "width": w,
                        "height": h,
                        "lat_milli": plat,
                        "lon_milli": plon,
                        "had_gps": int(had and k2 == kind),
                        "len_unchanged": int(len(out) == len(payload)),
                        "gps_gone": int(g1 is None),
                        "coded_identical": int(same),
                        "idempotent": int(not had2 and out2 == out),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "kind", "width", "height",
                    "lat_milli", "lon_milli", "had_gps",
                    "len_unchanged", "gps_gone", "coded_identical",
                    "idempotent",
                ],
            )

    return (
        docs.select("doc_id", "text")
        .repartition(SCRUBX_DOCS)
        .mapInPandas(
            build_and_scrub,
            "media_id bigint, kind string, width int, height int, "
            "lat_milli bigint, lon_milli bigint, had_gps int, "
            "len_unchanged int, gps_gone int, coded_identical int, "
            "idempotent int",
        )
    )


EXIF_DOCS = 16


@query(
    "image_exif_scrub",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS media_id, sha256(text) AS dg
      FROM documents WHERE doc_id < {EXIF_DOCS}
    ), s AS (
      SELECT media_id,
             CAST(('0x' || substr(dg, 1, 2)) AS INT) AS s0,
             CAST(('0x' || substr(dg, 3, 2)) AS INT) AS s1,
             CAST(('0x' || substr(dg, 5, 2)) AS INT) AS s2,
             CAST(('0x' || substr(dg, 7, 2)) AS INT) AS s3,
             CAST(('0x' || substr(dg, 9, 2)) AS INT) AS s4,
             CAST(('0x' || substr(dg, 11, 2)) AS INT) AS s5,
             CAST(('0x' || substr(dg, 13, 2)) AS INT) AS s6
      FROM base
    )
    SELECT media_id,
      CAST(16 + s0 % 17 AS INT) AS width,
      CAST(16 + s1 % 9 AS INT) AS height,
      CAST(1 + s2 % 8 AS INT) AS orientation,
      CAST(CASE WHEN s5 % 2 = 0 THEN 1 ELSE -1 END
           * ((s3 * 256 + s4) % 90000) AS BIGINT) AS lat_milli,
      CAST(CASE WHEN s6 % 2 = 0 THEN 1 ELSE -1 END
           * ((s4 * 256 + s5) % 180000) AS BIGINT) AS lon_milli,
      CAST(1 AS INT) AS had_gps,
      CAST(0 AS INT) AS gps_after_scrub,
      CAST(1 AS INT) AS len_unchanged,
      CAST(1 AS INT) AS pixels_identical,
      CAST(1 AS INT) AS meta_preserved,
      CAST(1 AS INT) AS no_exif_passthrough,
      CAST(1 AS INT) AS tiff_scrub_ok
    FROM s
    """,
)
def image_exif_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF GPS PII scrub (round 14 — the image-side PII-removal pass
    next to text_pii_redact): per document, build a real JPEG with an
    EXIF APP1 (orientation, timestamps, Make/Model, and GPS
    coordinates — all digest-derived), then SCRUB the GPS IFD in
    place (reindexer_spark.tiff.scrub_exif_gps: entry count zeroed,
    entries and out-of-line rationals zeroed, segment length
    unchanged).

    Oracle-pinned columns: ``orientation``/``lat_milli``/``lon_milli``
    — the EXIF writer→parser round trip is EXACT integer millidegree
    arithmetic (the rational shape (deg/1, min/1, sec*100/100) is
    invertible), so the parsed values equal the digest arithmetic;
    ``had_gps=1`` / ``gps_after_scrub=0``; ``len_unchanged=1`` — the
    scrub is in-place, no other byte offset moves;
    ``pixels_identical=1`` — decoding the scrubbed JPEG returns
    byte-identical pixels (coded data untouched);
    ``meta_preserved=1`` — Make/Model/DateTime/DateTimeOriginal/
    orientation survive the scrub (only LOCATION is PII here);
    ``no_exif_passthrough=1`` — a JPEG without EXIF passes through
    unchanged; ``tiff_scrub_ok=1`` — the BARE-TIFF twin
    (scrub_tiff_gps over a GPSInfo IFD carried directly by a TIFF
    file, same coordinates) holds the identical invariants: removed,
    same length, pixels untouched, idempotent.

    Scale shape: mapInPandas, payloads never shuffle — same as every
    media lane."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < EXIF_DOCS
    )

    def build_and_scrub(batches):
        import hashlib

        from reindexer_spark.codecs import (
            decode_jpeg_baseline,
            encode_jpeg_baseline,
        )
        from reindexer_spark.tiff import (
            build_exif_app1,
            decode_tiff,
            encode_tiff,
            insert_exif,
            parse_exif,
            scrub_exif_gps,
            scrub_tiff_gps,
        )

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                mid = int(r.doc_id)
                dgb = hashlib.sha256(r.text.encode("utf-8")).digest()
                s = list(dgb)
                w = 16 + s[0] % 17
                h = 16 + s[1] % 9
                orientation = 1 + s[2] % 8
                lat = (1 if s[5] % 2 == 0 else -1) * (
                    (s[3] * 256 + s[4]) % 90000
                )
                lon = (1 if s[6] % 2 == 0 else -1) * (
                    (s[4] * 256 + s[5]) % 180000
                )
                dt = "20%02d:%02d:%02d 12:00:00" % (
                    10 + s[7] % 15, 1 + s[8] % 12, 1 + s[9] % 28
                )
                rng_bytes = hashlib.sha256(dgb).digest()
                rgb = (rng_bytes * ((w * h * 3) // 32 + 1))[: w * h * 3]
                plain = encode_jpeg_baseline(w, h, rgb, quality=80)
                app1 = build_exif_app1(
                    orientation=orientation,
                    datetime=dt,
                    dt_original=dt,
                    gps_lat_milli=lat,
                    gps_lon_milli=lon,
                    le=mid % 2 == 0,
                )
                tagged = insert_exif(plain, app1)
                meta = parse_exif(tagged) or {}
                gps = meta.get("gps") or {}
                scrubbed, had = scrub_exif_gps(tagged)
                after = parse_exif(scrubbed) or {}
                meta_ok = int(
                    after.get("make") == meta.get("make")
                    and after.get("model") == meta.get("model")
                    and after.get("orientation") == orientation
                    and after.get("datetime") == dt
                    and after.get("dt_original") == dt
                )
                pix = int(
                    decode_jpeg_baseline(scrubbed)
                    == decode_jpeg_baseline(tagged)
                )
                # the bare-TIFF twin of the scrub: same coordinates in
                # a GPSInfo IFD carried by a TIFF file, removed in
                # place with identical invariants
                tpix = bytes(
                    hashlib.sha256(dgb + b"t").digest()
                    * ((12 * 8 * 3) // 32 + 1)
                )[: 12 * 8 * 3]
                t_file = encode_tiff(
                    12, 8, tpix, gps_lat_milli=lat, gps_lon_milli=lon
                )
                t_scrubbed, t_had = scrub_tiff_gps(t_file)
                tiff_ok = int(
                    t_had
                    and len(t_scrubbed) == len(t_file)
                    and decode_tiff(t_scrubbed) == decode_tiff(t_file)
                    and scrub_tiff_gps(t_scrubbed)
                    == (t_scrubbed, False)
                )
                rows.append(
                    {
                        "media_id": mid,
                        "width": w,
                        "height": h,
                        "orientation": meta.get("orientation"),
                        "lat_milli": gps.get("lat_milli"),
                        "lon_milli": gps.get("lon_milli"),
                        "had_gps": int(had),
                        "gps_after_scrub": int(
                            (after.get("gps") or None) is not None
                        ),
                        "len_unchanged": int(
                            len(scrubbed) == len(tagged)
                        ),
                        "pixels_identical": pix,
                        "meta_preserved": meta_ok,
                        "no_exif_passthrough": int(
                            scrub_exif_gps(plain) == (plain, False)
                        ),
                        "tiff_scrub_ok": tiff_ok,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "orientation",
                    "lat_milli", "lon_milli", "had_gps",
                    "gps_after_scrub", "len_unchanged",
                    "pixels_identical", "meta_preserved",
                    "no_exif_passthrough", "tiff_scrub_ok",
                ],
            )

    return docs.select("doc_id", "text").repartition(EXIF_DOCS).mapInPandas(
        build_and_scrub,
        "media_id bigint, width int, height int, orientation int, "
        "lat_milli bigint, lon_milli bigint, had_gps int, "
        "gps_after_scrub int, len_unchanged int, pixels_identical int, "
        "meta_preserved int, no_exif_passthrough int, tiff_scrub_ok int",
    )


ORIENT_DOCS = 16


@query(
    "image_orient_normalize",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS media_id, sha256(text) AS dg
      FROM documents WHERE doc_id < {ORIENT_DOCS}
    ), dims AS (
      SELECT media_id, dg,
             4 + CAST(('0x' || substr(dg, 1, 2)) AS INT) % 13 AS w,
             4 + CAST(('0x' || substr(dg, 3, 2)) AS INT) % 9 AS h,
             1 + CAST(media_id % 8 AS INT) AS o
      FROM base
    ), chain AS (
      SELECT media_id, w, h, o,
             substr(
               string_agg(sha256(dg || '-' || i), '' ORDER BY i),
               1, 2 * w * h * 3
             ) AS rgbhex
      FROM dims CROSS JOIN range(18) r(i)
      WHERE i < CEIL(w * h * 3 / 32.0)
      GROUP BY media_id, w, h, o, dg
    ), norm AS (
      SELECT media_id, w, h, o, rgbhex,
             CASE WHEN o <= 4 THEN w ELSE h END AS ow,
             CASE WHEN o <= 4 THEN h ELSE w END AS oh
      FROM chain
    ), px AS (
      SELECT media_id, w, h, o, ow, oh, rgbhex,
        array_to_string(
          list_transform(
            range(CAST(ow * oh AS BIGINT)),
            k -> substr(rgbhex, CAST(1 + 6 * (
              CASE o
                WHEN 1 THEN (k // ow) * w + (k % ow)
                WHEN 2 THEN (k // ow) * w + (w - 1 - (k % ow))
                WHEN 3 THEN (h - 1 - k // ow) * w + (w - 1 - (k % ow))
                WHEN 4 THEN (h - 1 - k // ow) * w + (k % ow)
                WHEN 5 THEN (k % ow) * w + (k // ow)
                WHEN 6 THEN (h - 1 - (k % ow)) * w + (k // ow)
                WHEN 7 THEN (h - 1 - (k % ow)) * w + (w - 1 - k // ow)
                ELSE (k % ow) * w + (w - 1 - k // ow)
              END) AS INT), 6)
          ), ''
        ) AS outhex
      FROM norm
    )
    SELECT media_id,
           CAST(ow AS INT) AS width,
           CAST(oh AS INT) AS height,
           CAST(o AS INT) AS orientation,
           md5(rgbhex) AS src_md5,
           md5(outhex) AS rgb_md5,
           CAST(1 AS INT) AS probe_sees_orientation,
           CAST(1 AS INT) AS involution_exact
    FROM px
    """,
)
def image_orient_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORIENTATION NORMALIZATION (round 14 — the display-transform
    pass every image pipeline runs before training: cameras store
    sideways pixels + tag 274, models need upright ones): per
    document, derive pixels from sha256 hex chains, write a TIFF
    whose Orientation tag cycles ALL EIGHT tag-274 cases by
    media_id%8, decode, and normalize via
    reindexer_spark.tiff.apply_orientation (flips / rotations /
    transposes; cases 5-8 swap the output dimensions).

    Oracle-pinned columns: output ``width``/``height`` (swapped for
    5-8); ``src_md5`` — decode returns the chain (pins the carrier);
    ``rgb_md5`` — md5 of the NORMALIZED pixels equals an hex chain
    the oracle PERMUTES ITSELF with the hand-derived per-case index
    maps (an independent re-implementation of all eight transforms —
    a wrong flip direction or a mixed-up rotation cannot pass);
    ``probe_sees_orientation=1`` — the headers-only probe reports the
    tag; ``involution_exact=1`` — applying the inverse case (6↔8,
    others self-inverse) returns the stored pixels bit-exactly.

    Scale shape: mapInPandas, payloads never shuffle — same as every
    media lane."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < ORIENT_DOCS
    )

    def build_and_normalize(batches):
        import hashlib

        from reindexer_spark.codecs import _decode_image
        from reindexer_spark.tiff import (
            apply_orientation,
            encode_tiff,
            probe_tiff,
        )

        inverse = {1: 1, 2: 2, 3: 3, 4: 4, 5: 5, 6: 8, 7: 7, 8: 6}
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                mid = int(r.doc_id)
                dg = hashlib.sha256(r.text.encode("utf-8")).hexdigest()
                w = 4 + int(dg[0:2], 16) % 13
                h = 4 + int(dg[2:4], 16) % 9
                o = 1 + mid % 8
                n = w * h * 3
                hexsrc = "".join(
                    hashlib.sha256(f"{dg}-{i}".encode()).hexdigest()
                    for i in range((n + 31) // 32)
                )[: 2 * n]
                rgb = bytes.fromhex(hexsrc)
                payload = encode_tiff(w, h, rgb, orientation=o)
                dw, dh, stored = _decode_image("tiff", payload)
                po = probe_tiff(payload)["orientation"]
                ow, oh, out = apply_orientation(dw, dh, stored, o)
                bw, bh, back = apply_orientation(
                    ow, oh, out, inverse[o]
                )
                rows.append(
                    {
                        "media_id": mid,
                        "width": ow,
                        "height": oh,
                        "orientation": o,
                        "src_md5": hashlib.md5(
                            stored.hex().encode()
                        ).hexdigest(),
                        "rgb_md5": hashlib.md5(
                            out.hex().encode()
                        ).hexdigest(),
                        "probe_sees_orientation": int(po == o),
                        "involution_exact": int(
                            (bw, bh, back) == (dw, dh, stored)
                        ),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "orientation",
                    "src_md5", "rgb_md5", "probe_sees_orientation",
                    "involution_exact",
                ],
            )

    return (
        docs.select("doc_id", "text")
        .repartition(ORIENT_DOCS)
        .mapInPandas(
            build_and_normalize,
            "media_id bigint, width int, height int, orientation int, "
            "src_md5 string, rgb_md5 string, "
            "probe_sees_orientation int, involution_exact int",
        )
    )


@query(
    "image_tiff_jpeg",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS media_id, sha256(text) AS dg
      FROM documents WHERE doc_id < {TIFF_DOCS}
    ), dims AS (
      SELECT media_id,
             21 + CAST(('0x' || substr(dg, 1, 2)) AS INT) % 28 AS w,
             17 + CAST(('0x' || substr(dg, 3, 2)) AS INT) % 24 AS h,
             5 + CAST(('0x' || substr(dg, 5, 2)) AS INT) % 11 AS rps,
             75 + CAST(('0x' || substr(dg, 7, 2)) AS INT) % 20 AS q
      FROM base
    )
    SELECT media_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(rps AS INT) AS rows_per_strip,
           CAST(q AS INT) AS quality,
           CAST((h + rps - 1) // rps AS INT) AS n_strips,
           CASE WHEN media_id % 2 = 0 THEN 'tables' ELSE 'inline' END
             AS layout,
           CAST(1 AS INT) AS splice_matches_inline,
           CAST(1 AS INT) AS lossy_close,
           CAST(1 AS INT) AS tables_smaller,
           CAST(1 AS INT) AS probe_agrees,
           CAST(1 AS INT) AS old_style_quarantined
    FROM dims
    """,
)
def image_tiff_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-style JPEG-in-TIFF decode (round 16 — Compression 7, TIFF
    Technical Note 2): per document, derive digest RGB + a digest
    strip/quality geometry, write BOTH layouts — shared DQT/DHT hoisted
    into a JPEGTables (347) abbreviated stream, and self-contained
    per-strip streams — and decode through the production TIFF path
    (tiff.py:_decode_tiff_jpeg → codecs.decode_jpeg_baseline per
    strip).

    JPEG output bytes are not SQL-computable (lossy DCT), so the
    oracle pins the INVARIANTS the decode must satisfy instead of a
    pixel hash — the house pattern for every lossy lane:
    ``splice_matches_inline=1`` (the JPEGTables splice decodes
    byte-identically to the same strips with tables inlined — this
    ties the splice path to decode_jpeg_baseline, whose own
    correctness is held by the multimodal_*_sig byte-identity gates
    and tools/jpeg_ab.py), ``lossy_close=1`` (mean |err| < 25 vs the
    digest source at q>=75), ``tables_smaller=1`` (the layout's
    raison d'être), ``probe_agrees=1``, and
    ``old_style_quarantined=1`` (the same fixture patched to
    Compression 6 refuses by name while the probe still reads dims).
    Geometry columns are digest arithmetic both engines compute.

    Reference surface: the reference shells media work out to external
    tooling (SURVEY §0 — ingest.go:17-38); this is the native
    scanned-document-crawl format those pipelines hit constantly.

    Scale shape: mapInPandas, payloads never shuffle — same as every
    media lane."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < TIFF_DOCS
    )

    def build_and_decode(batches):
        import hashlib
        import struct as st

        import numpy as np

        from reindexer_spark.codecs import MediaFormatError
        from reindexer_spark.tiff import (
            TAG_COMPRESSION,
            decode_tiff,
            encode_tiff_jpeg,
            probe_tiff,
        )

        def with_compression(payload: bytes, val: int) -> bytes:
            buf = bytearray(payload)
            (ifd,) = st.unpack_from("<I", buf, 4)
            (n,) = st.unpack_from("<H", buf, ifd)
            for i in range(n):
                e = ifd + 2 + 12 * i
                if st.unpack_from("<H", buf, e)[0] == TAG_COMPRESSION:
                    st.pack_into("<H", buf, e + 8, val)
                    return bytes(buf)
            raise MediaFormatError("fixture lacks a Compression tag")

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                mid = int(r.doc_id)
                dg = hashlib.sha256(r.text.encode("utf-8")).hexdigest()
                w = 21 + int(dg[0:2], 16) % 28
                h = 17 + int(dg[2:4], 16) % 24
                rps = 5 + int(dg[4:6], 16) % 11
                q = 75 + int(dg[6:8], 16) % 20
                nbytes = w * h * 3
                src = bytes.fromhex(
                    "".join(
                        hashlib.sha256(f"{dg}-{i}".encode()).hexdigest()
                        for i in range((nbytes + 31) // 32)
                    )[: 2 * nbytes]
                )
                p_tab = encode_tiff_jpeg(
                    w, h, src, quality=q, rows_per_strip=rps,
                    tables_mode=True,
                )
                p_inl = encode_tiff_jpeg(
                    w, h, src, quality=q, rows_per_strip=rps,
                    tables_mode=False,
                )
                mine = p_tab if mid % 2 == 0 else p_inl
                dw, dh, out = decode_tiff(mine)
                splice_ok = int(
                    decode_tiff(p_tab) == decode_tiff(p_inl)
                )
                a = np.frombuffer(out, dtype=np.uint8).astype(np.int64)
                b = np.frombuffer(src, dtype=np.uint8).astype(np.int64)
                close = int(float(np.abs(a - b).mean()) < 25.0)
                pm = probe_tiff(mine)
                agrees = int(
                    pm["compression"] == 7
                    and pm["width"] == dw == w
                    and pm["height"] == dh == h
                    and pm["n_strips"] == (h + rps - 1) // rps
                )
                old = with_compression(mine, 6)
                try:
                    decode_tiff(old)
                    old_q = 0
                except MediaFormatError:
                    old_q = int(probe_tiff(old)["width"] == w)
                rows.append(
                    {
                        "media_id": mid,
                        "width": dw,
                        "height": dh,
                        "rows_per_strip": rps,
                        "quality": q,
                        "n_strips": (h + rps - 1) // rps,
                        "layout": "tables" if mid % 2 == 0 else "inline",
                        "splice_matches_inline": splice_ok,
                        "lossy_close": close,
                        "tables_smaller": int(len(p_tab) < len(p_inl)),
                        "probe_agrees": agrees,
                        "old_style_quarantined": old_q,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "rows_per_strip",
                    "quality", "n_strips", "layout",
                    "splice_matches_inline", "lossy_close",
                    "tables_smaller", "probe_agrees",
                    "old_style_quarantined",
                ],
            )

    return docs.select("doc_id", "text").repartition(TIFF_DOCS).mapInPandas(
        build_and_decode,
        "media_id bigint, width int, height int, rows_per_strip int, "
        "quality int, n_strips int, layout string, "
        "splice_matches_inline int, lossy_close int, tables_smaller int, "
        "probe_agrees int, old_style_quarantined int",
    )


WEBP_ANIM_DOCS = 16


@query(
    "webp_anim_decode",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS media_id, sha256(text) AS dg
      FROM documents WHERE doc_id < {WEBP_ANIM_DOCS}
    ), g AS (
      SELECT media_id, dg,
             17 + CAST(('0x' || substr(dg, 1, 2)) AS INT) % 24 AS w,
             14 + CAST(('0x' || substr(dg, 3, 2)) AS INT) % 16 AS h,
             2 + CAST(('0x' || substr(dg, 5, 2)) AS INT) % 3 AS nf,
             CAST(('0x' || substr(dg, 7, 2)) AS INT) AS s3,
             CAST(('0x' || substr(dg, 9, 2)) AS INT) AS s4,
             CAST(('0x' || substr(dg, 11, 2)) AS INT) AS s5
      FROM base
    ), geo2 AS (
      -- per overlay frame j >= 1: an even full-width band start and
      -- clipped height (the same digest arithmetic the fixture runs)
      SELECT media_id, dg, w, h, nf, s3,
             list_transform(range(1, 4), j ->
               2 * ((s4 + 7 * j) % GREATEST(1, (h - 4) // 2))) AS ys,
             list_transform(range(1, 4), j ->
               LEAST(3 + (s5 + j) % 4,
                     h - 2 * ((s4 + 7 * j)
                              % GREATEST(1, (h - 4) // 2)))) AS hs
      FROM g
    ), jrows AS (
      SELECT media_id, dg, w, h, nf, ys, hs,
             CAST(UNNEST(range(4)) AS INT) AS j
      FROM geo2
    ), jrows2 AS (
      SELECT media_id, dg, w, j,
             CASE WHEN j = 0 THEN h ELSE hs[j] END AS rj
      FROM jrows WHERE j < nf
    ), jchain AS (
      -- frame j's pixel hex chain: sha256(dg-j-i) blocks, trimmed
      SELECT media_id, j,
             substr(string_agg(sha256(dg || '-' || j || '-' || i),
                               '' ORDER BY i),
                    1, 2 * rj * w * 3) AS chj
      FROM jrows2 CROSS JOIN range(200) r2(i)
      WHERE i < CEIL(rj * w * 3.0 / 32)
      GROUP BY media_id, j, rj, w
    ), chlist AS (
      SELECT media_id, list(chj ORDER BY j) AS ch
      FROM jchain GROUP BY media_id
    ), fr AS (
      SELECT g2.media_id, g2.w, g2.h, g2.nf, g2.s3, g2.ys, g2.hs,
             chlist.ch,
             CAST(UNNEST(range(g2.nf)) AS INT) AS k
      FROM geo2 g2 JOIN chlist ON chlist.media_id = g2.media_id
    ), px AS (
      -- band compositing: each row's source is the LAST frame <= k
      -- whose band covers it, else the frame-0 canvas
      SELECT media_id, w, h, nf, s3, k,
        array_to_string(
          list_transform(range(CAST(h AS BIGINT)), r ->
            CASE
              WHEN k >= 3 AND r >= ys[3] AND r < ys[3] + hs[3]
                THEN substr(ch[4],
                            CAST((r - ys[3]) * w * 6 + 1 AS INT),
                            w * 6)
              WHEN k >= 2 AND r >= ys[2] AND r < ys[2] + hs[2]
                THEN substr(ch[3],
                            CAST((r - ys[2]) * w * 6 + 1 AS INT),
                            w * 6)
              WHEN k >= 1 AND r >= ys[1] AND r < ys[1] + hs[1]
                THEN substr(ch[2],
                            CAST((r - ys[1]) * w * 6 + 1 AS INT),
                            w * 6)
              ELSE substr(ch[1], CAST(r * w * 6 + 1 AS INT), w * 6)
            END), '') AS rgbhex
      FROM fr
    ), tot AS (
      SELECT media_id,
             list_transform(range(0, 4), i ->
               40 + 30 * ((s3 + i) % 4)) AS dl,
             nf
      FROM geo2
    ), mid AS (
      SELECT media_id, dl, nf,
             list_sum(list_slice(dl, 1, nf)) AS total
      FROM tot
    ), mid2 AS (
      SELECT media_id, total,
        CASE
          WHEN total // 2 < dl[1] THEN 0
          WHEN total // 2 < dl[1] + dl[2] THEN 1
          WHEN nf > 2 AND total // 2 < dl[1] + dl[2] + dl[3] THEN 2
          ELSE nf - 1
        END AS mid_idx
      FROM mid
    )
    SELECT px.media_id,
           px.k AS frame_idx,
           CAST(px.w AS INT) AS width,
           CAST(px.h AS INT) AS height,
           CAST(40 + 30 * ((px.s3 + px.k) % 4) AS BIGINT)
             AS duration_ms,
           CAST(mid2.total AS BIGINT) AS total_ms,
           CAST(mid2.mid_idx AS INT) AS mid_frame_idx,
           md5(px.rgbhex) AS rgb_md5,
           CAST(1 AS INT) AS lossy_quarantined,
           CAST(1 AS INT) AS still_rejected
    FROM px JOIN mid2 ON mid2.media_id = px.media_id
    """,
)
def webp_anim_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANIMATED WEBP decode (round 16 — VERDICT r15 ask #4, the last
    table-free WebP quarantine): digest-derived canvases animated as
    VP8X + ANIM + ANMF over REAL VP8L frames — frame 0 paints the
    full canvas, frames 1..n-1 overwrite full-width bands at even
    digest offsets with NON-uniform digest durations — then decoded
    and COMPOSITED through vp8l.decode_webp_anim (the GIF89a
    compositor's container twin).

    Value-exact oracle: VP8L is lossless and the band compositing is
    row arithmetic, so DuckDB recomputes every composited frame's
    pixels (``rgb_md5``) from the same digest chains, plus the
    per-frame durations, the animation's total runtime, and
    ``mid_frame_idx`` — the sampler's prefix-sum walk sampled at
    total/2 (non-uniform delays make this index non-trivial).
    ``lossy_quarantined=1`` pins that a VP8-filler animation still
    refuses to decode; ``still_rejected=1`` pins that the STILL
    lossless path names ANIMATED layouts to the compositor (still
    VP8X layouts walk through to their VP8L chunk since round 16;
    the pinned column here exercises the animated refusal).  The
    alpha-blend and
    dispose-to-background compositor branches are pinned by
    tests/test_webp_anim.py hand-vectors (blending is not
    SQL-replicable at reasonable cost).

    Scale shape: mapInPandas, payloads never shuffle — same as every
    media lane."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < WEBP_ANIM_DOCS
    )

    def build_and_decode(batches):
        import hashlib

        from reindexer_spark.codecs import (
            MediaFormatError,
            encode_webp_fixture,
        )
        from reindexer_spark.vp8l import (
            WebpAnimSampler,
            decode_webp_anim,
            decode_webp_lossless,
            encode_webp_anim,
        )

        def chain(dg, j, nbytes):
            out = []
            i = 0
            while len(out) * 32 < nbytes:
                out.append(
                    hashlib.sha256(f"{dg}-{j}-{i}".encode()).digest()
                )
                i += 1
            return b"".join(out)[:nbytes]

        sampler = WebpAnimSampler()
        for pdf in batches:
            rows = []
            for rr in pdf.itertuples(index=False):
                mid = int(rr.doc_id)
                dg = hashlib.sha256(rr.text.encode("utf-8")).hexdigest()
                w = 17 + int(dg[0:2], 16) % 24
                h = 14 + int(dg[2:4], 16) % 16
                nf = 2 + int(dg[4:6], 16) % 3
                s3 = int(dg[6:8], 16)
                s4 = int(dg[8:10], 16)
                s5 = int(dg[10:12], 16)
                frames = [
                    {
                        "x": 0, "y": 0, "w": w, "h": h,
                        "rgb": chain(dg, 0, h * w * 3),
                        "duration_ms": 40 + 30 * (s3 % 4),
                        "blend": False,
                    }
                ]
                for j in range(1, nf):
                    y = 2 * ((s4 + 7 * j) % max(1, (h - 4) // 2))
                    hh = min(3 + (s5 + j) % 4, h - y)
                    frames.append(
                        {
                            "x": 0, "y": y, "w": w, "h": hh,
                            "rgb": chain(dg, j, hh * w * 3),
                            "duration_ms": 40 + 30 * ((s3 + j) % 4),
                            "blend": False,
                        }
                    )
                payload = encode_webp_anim(w, h, frames)
                cw, ch, durs, out = decode_webp_anim(payload)
                total = sum(durs)
                mid_idx = sampler.frame_index_at(payload, total // 2)
                try:
                    decode_webp_anim(
                        encode_webp_fixture(w, h, "vp8x-anim", 2, dg.encode())
                    )
                    lossy_q = 0
                except MediaFormatError:
                    lossy_q = 1
                try:
                    decode_webp_lossless(payload)
                    still_r = 0
                except MediaFormatError:
                    still_r = 1
                for k, (d, f) in enumerate(zip(durs, out)):
                    rows.append(
                        {
                            "media_id": mid,
                            "frame_idx": k,
                            "width": cw,
                            "height": ch,
                            "duration_ms": d,
                            "total_ms": total,
                            "mid_frame_idx": mid_idx,
                            "rgb_md5": hashlib.md5(
                                f.hex().encode()
                            ).hexdigest(),
                            "lossy_quarantined": lossy_q,
                            "still_rejected": still_r,
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "frame_idx", "width", "height",
                    "duration_ms", "total_ms", "mid_frame_idx",
                    "rgb_md5", "lossy_quarantined", "still_rejected",
                ],
            )

    return (
        docs.select("doc_id", "text")
        .repartition(WEBP_ANIM_DOCS)
        .mapInPandas(
            build_and_decode,
            "media_id bigint, frame_idx int, width int, height int, "
            "duration_ms bigint, total_ms bigint, mid_frame_idx int, "
            "rgb_md5 string, lossy_quarantined int, still_rejected int",
        )
    )


@query(
    "image_tiff_ccitt",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS media_id, sha256(text) AS dg
      FROM documents WHERE doc_id < {TIFF_DOCS}
    ), g AS (
      SELECT media_id, dg,
             21 + CAST(('0x' || substr(dg, 1, 2)) AS INT) % 40 AS w,
             17 + CAST(('0x' || substr(dg, 3, 2)) AS INT) % 20 AS h,
             CAST(('0x' || substr(dg, 5, 2)) AS INT) AS s2,
             CAST(('0x' || substr(dg, 7, 2)) AS INT) AS s3,
             CAST(('0x' || substr(dg, 9, 2)) AS INT) AS s4,
             CAST(('0x' || substr(dg, 11, 2)) AS INT) AS s5,
             CAST(('0x' || substr(dg, 13, 2)) AS INT) AS s6,
             CAST(('0x' || substr(dg, 15, 2)) AS INT) AS s7,
             CAST(('0x' || substr(dg, 17, 2)) AS INT) AS s8,
             CAST(('0x' || substr(dg, 19, 2)) AS INT) AS s9,
             CAST(('0x' || substr(dg, 21, 2)) AS INT) AS s10
      FROM base
    ), r AS (
      SELECT media_id, dg, w, h, s10,
             s2 % w AS x1, s4 % h AS y1,
             1 + s3 % (w - s2 % w) AS w1,
             1 + s5 % (h - s4 % h) AS h1,
             s6 % w AS x2, s8 % h AS y2,
             1 + s7 % (w - s6 % w) AS w2,
             1 + s9 % (h - s8 % h) AS h2
      FROM g
    ), nchain AS (
      SELECT media_id,
             string_agg(sha256(dg || '-n-' || i), '' ORDER BY i) AS nz
      FROM r CROSS JOIN range(8) rr(i)
      WHERE i < CEIL(2 * w / 64.0)
      GROUP BY media_id
    ), px AS (
      SELECT r.media_id, r.w, r.h, r.s10,
        array_to_string(
          list_transform(range(CAST(r.h * r.w AS BIGINT)), i ->
            CASE WHEN
              ((i // r.w) >= r.y1 AND (i // r.w) < r.y1 + r.h1
               AND (i % r.w) >= r.x1 AND (i % r.w) < r.x1 + r.w1)
              OR
              ((i // r.w) >= r.y2 AND (i // r.w) < r.y2 + r.h2
               AND (i % r.w) >= r.x2 AND (i % r.w) < r.x2 + r.w2)
              OR
              ((i // r.w) >= r.h - 2
               AND CAST(('0x' || substr(nchain.nz,
                    CAST(((i // r.w) - (r.h - 2)) * r.w + (i % r.w)
                         + 1 AS INT), 1)) AS INT) % 2 = 1)
            THEN '000000' ELSE 'ffffff' END), '') AS rgbhex
      FROM r JOIN nchain ON nchain.media_id = r.media_id
    )
    SELECT media_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST((h + (5 + s10 % 7) - 1) // (5 + s10 % 7) AS INT)
             AS n_strips,
           CASE WHEN media_id % 2 = 0 THEN 'msb' ELSE 'lsb' END
             AS fillorder,
           md5(rgbhex) AS rgb_md5,
           CAST(1 AS INT) AS roundtrip_exact,
           CAST(1 AS INT) AS g4_smaller,
           CAST(1 AS INT) AS probe_agrees,
           CAST(1 AS INT) AS g3_quarantined
    FROM px
    """,
)
def image_tiff_ccitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCITT GROUP 4 TIFF decode (round 16 — VERDICT r15 ask #6, THE
    fax/scanned-document compression): per document, derive a bilevel
    page — two digest rectangles (the V/P-mode content fax pages are
    made of) over a white canvas plus two digest-noise rows (H-mode
    coverage) — write it as a real Compression-4 TIFF (per-strip T.6
    streams restarting against the all-white reference line,
    FillOrder alternating MSB/LSB), and decode through the production
    TIFF path (tiff.py:_decode_tiff_g4 → ccitt.g4_decode).

    Value-exact oracle: T.6 is lossless and the page is digest
    arithmetic, so DuckDB recomputes every decoded pixel
    (``rgb_md5``), the strip count, and the geometry.
    ``roundtrip_exact=1`` (decoded bits == the source page);
    ``g4_smaller=1`` (summed strip bytes < the packed 1-bit raster —
    the reason fax uses it); ``probe_agrees=1``;
    ``g3_quarantined=1`` (the same fixture patched to Compression 3
    refuses — its T.6 strip bytes are not an EOL-framed G3 stream —
    while the probe still reads dims; G3 proper DECODES since late
    round 16, see ``image_tiff_g3``).  The T.4/T.6
    table transcription itself is externally pinned by
    tests/test_ccitt.py (published codewords + prefix/Kraft
    structure).

    Reference surface: the reference delegates image handling to
    external tooling (SURVEY §0); scanned-document crawls hit G4
    constantly (the round-15 VERDICT's top media-gap list).

    Scale shape: mapInPandas, payloads never shuffle — same as every
    media lane."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < TIFF_DOCS
    )

    def build_and_decode(batches):
        import hashlib
        import struct as st

        import numpy as np

        from reindexer_spark.codecs import MediaFormatError
        from reindexer_spark.tiff import (
            TAG_COMPRESSION,
            decode_tiff,
            encode_tiff_g4,
            probe_tiff,
        )

        def with_compression(payload: bytes, val: int) -> bytes:
            buf = bytearray(payload)
            (ifd,) = st.unpack_from("<I", buf, 4)
            (n,) = st.unpack_from("<H", buf, ifd)
            for i in range(n):
                e = ifd + 2 + 12 * i
                if st.unpack_from("<H", buf, e)[0] == TAG_COMPRESSION:
                    st.pack_into("<H", buf, e + 8, val)
                    return bytes(buf)
            raise MediaFormatError("fixture lacks a Compression tag")

        for pdf in batches:
            rows = []
            for rr in pdf.itertuples(index=False):
                mid = int(rr.doc_id)
                dg = hashlib.sha256(rr.text.encode("utf-8")).hexdigest()
                s = [int(dg[2 * i : 2 * i + 2], 16) for i in range(11)]
                w = 21 + s[0] % 40
                h = 17 + s[1] % 20
                x1, y1 = s[2] % w, s[4] % h
                w1, h1 = 1 + s[3] % (w - x1), 1 + s[5] % (h - y1)
                x2, y2 = s[6] % w, s[8] % h
                w2, h2 = 1 + s[7] % (w - x2), 1 + s[9] % (h - y2)
                rps = 5 + s[10] % 7
                page = np.zeros((h, w), dtype=np.uint8)
                page[y1 : y1 + h1, x1 : x1 + w1] = 1
                page[y2 : y2 + h2, x2 : x2 + w2] = 1
                nz = "".join(
                    hashlib.sha256(f"{dg}-n-{i}".encode()).hexdigest()
                    for i in range((2 * w + 63) // 64)
                )
                for j in range(2 * w):
                    if int(nz[j], 16) % 2:
                        page[h - 2 + j // w, j % w] = 1
                flat = bytearray(page.reshape(-1).tolist())
                fo = 1 if mid % 2 == 0 else 2
                payload = encode_tiff_g4(
                    w, h, flat, rows_per_strip=rps, fillorder=fo
                )
                dw, dh, rgb = decode_tiff(payload)
                a = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
                decoded_bits = (a[:, :, 0] == 0).astype(np.uint8)
                exact = int(np.array_equal(decoded_bits, page))
                pm = probe_tiff(payload)
                n_strips = (h + rps - 1) // rps
                agrees = int(
                    pm["compression"] == 4
                    and pm["width"] == dw == w
                    and pm["height"] == dh == h
                    and pm["bits"] == 1
                    and pm["n_strips"] == n_strips
                )
                # strip bytes vs the packed 1-bit raster
                from reindexer_spark.ccitt import g4_encode

                strip_bytes = sum(
                    len(
                        g4_encode(
                            flat[r0 * w : min(r0 + rps, h) * w],
                            w,
                            min(rps, h - r0),
                            fillorder=fo,
                        )
                    )
                    for r0 in range(0, h, rps)
                )
                smaller = int(strip_bytes < ((w + 7) // 8) * h)
                try:
                    decode_tiff(with_compression(payload, 3))
                    g3q = 0
                except MediaFormatError:
                    g3q = int(
                        probe_tiff(with_compression(payload, 3))["width"]
                        == w
                    )
                rows.append(
                    {
                        "media_id": mid,
                        "width": dw,
                        "height": dh,
                        "n_strips": n_strips,
                        "fillorder": "msb" if fo == 1 else "lsb",
                        "rgb_md5": hashlib.md5(
                            rgb.hex().encode()
                        ).hexdigest(),
                        "roundtrip_exact": exact,
                        "g4_smaller": smaller,
                        "probe_agrees": agrees,
                        "g3_quarantined": g3q,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "n_strips",
                    "fillorder", "rgb_md5", "roundtrip_exact",
                    "g4_smaller", "probe_agrees", "g3_quarantined",
                ],
            )

    return docs.select("doc_id", "text").repartition(TIFF_DOCS).mapInPandas(
        build_and_decode,
        "media_id bigint, width int, height int, n_strips int, "
        "fillorder string, rgb_md5 string, roundtrip_exact int, "
        "g4_smaller int, probe_agrees int, g3_quarantined int",
    )


@query(
    "image_tiff_mh",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS media_id, sha256(text) AS dg
      FROM documents WHERE doc_id < {TIFF_DOCS}
    ), g AS (
      SELECT media_id, dg,
             21 + CAST(('0x' || substr(dg, 1, 2)) AS INT) % 40 AS w,
             17 + CAST(('0x' || substr(dg, 3, 2)) AS INT) % 20 AS h,
             CAST(('0x' || substr(dg, 5, 2)) AS INT) AS s2,
             CAST(('0x' || substr(dg, 7, 2)) AS INT) AS s3,
             CAST(('0x' || substr(dg, 9, 2)) AS INT) AS s4,
             CAST(('0x' || substr(dg, 11, 2)) AS INT) AS s5,
             CAST(('0x' || substr(dg, 13, 2)) AS INT) AS s6,
             CAST(('0x' || substr(dg, 15, 2)) AS INT) AS s7,
             CAST(('0x' || substr(dg, 17, 2)) AS INT) AS s8,
             CAST(('0x' || substr(dg, 19, 2)) AS INT) AS s9,
             CAST(('0x' || substr(dg, 21, 2)) AS INT) AS s10
      FROM base
    ), r AS (
      SELECT media_id, dg, w, h, s10,
             s2 % w AS x1, s4 % h AS y1,
             1 + s3 % (w - s2 % w) AS w1,
             1 + s5 % (h - s4 % h) AS h1,
             s6 % w AS x2, s8 % h AS y2,
             1 + s7 % (w - s6 % w) AS w2,
             1 + s9 % (h - s8 % h) AS h2
      FROM g
    ), nchain AS (
      SELECT media_id,
             string_agg(sha256(dg || '-n-' || i), '' ORDER BY i) AS nz
      FROM r CROSS JOIN range(8) rr(i)
      WHERE i < CEIL(2 * w / 64.0)
      GROUP BY media_id
    ), px AS (
      SELECT r.media_id, r.w, r.h, r.s10,
        array_to_string(
          list_transform(range(CAST(r.h * r.w AS BIGINT)), i ->
            CASE WHEN
              ((i // r.w) >= r.y1 AND (i // r.w) < r.y1 + r.h1
               AND (i % r.w) >= r.x1 AND (i % r.w) < r.x1 + r.w1)
              OR
              ((i // r.w) >= r.y2 AND (i // r.w) < r.y2 + r.h2
               AND (i % r.w) >= r.x2 AND (i % r.w) < r.x2 + r.w2)
              OR
              ((i // r.w) >= r.h - 2
               AND CAST(('0x' || substr(nchain.nz,
                    CAST(((i // r.w) - (r.h - 2)) * r.w + (i % r.w)
                         + 1 AS INT), 1)) AS INT) % 2 = 1)
            THEN '000000' ELSE 'ffffff' END), '') AS rgbhex
      FROM r JOIN nchain ON nchain.media_id = r.media_id
    )
    SELECT media_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST((h + (5 + s10 % 7) - 1) // (5 + s10 % 7) AS INT)
             AS n_strips,
           CASE WHEN media_id % 2 = 0 THEN 'msb' ELSE 'lsb' END
             AS fillorder,
           md5(rgbhex) AS rgb_md5,
           CAST(1 AS INT) AS roundtrip_exact,
           CAST(1 AS INT) AS mh_smaller,
           CAST(1 AS INT) AS probe_agrees,
           CAST(1 AS INT) AS g3_quarantined
    FROM px
    """,
)
def image_tiff_mh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCITT 1-D MODIFIED-HUFFMAN TIFF decode (round 16 — TIFF
    Compression 2, the RLE layer under G3 that legacy fax archives
    carry): the same digest bilevel page as ``image_tiff_ccitt`` —
    two rectangles plus two noise rows — written as per-strip T.4
    1-D run sequences with BYTE-ALIGNED rows (TIFF 6.0 §10) over the
    identical transcribed run tables, alternating MSB/LSB FillOrder,
    decoded through the production path
    (tiff.py:_decode_tiff_g4 → ccitt.mh_decode).

    Value-exact oracle: MH is lossless, so DuckDB recomputes every
    decoded pixel (``rgb_md5``) plus the geometry;
    ``g3_quarantined=1`` pins that the fixture patched to
    Compression 3 refuses (MH rows are not EOL-framed);
    ``mh_smaller=1`` compares the summed
    strip bytes against the packed 1-bit raster.  The table
    transcription shares tests/test_ccitt.py's external pins with
    the G4 lane.

    Scale shape: mapInPandas, payloads never shuffle — same as every
    media lane."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < TIFF_DOCS
    )

    def build_and_decode(batches):
        import hashlib
        import struct as st

        import numpy as np

        from reindexer_spark.codecs import MediaFormatError
        from reindexer_spark.tiff import (
            TAG_COMPRESSION,
            decode_tiff,
            encode_tiff_g4,
            probe_tiff,
        )

        def with_compression(payload: bytes, val: int) -> bytes:
            buf = bytearray(payload)
            (ifd,) = st.unpack_from("<I", buf, 4)
            (n,) = st.unpack_from("<H", buf, ifd)
            for i in range(n):
                e = ifd + 2 + 12 * i
                if st.unpack_from("<H", buf, e)[0] == TAG_COMPRESSION:
                    st.pack_into("<H", buf, e + 8, val)
                    return bytes(buf)
            raise MediaFormatError("fixture lacks a Compression tag")

        for pdf in batches:
            rows = []
            for rr in pdf.itertuples(index=False):
                mid = int(rr.doc_id)
                dg = hashlib.sha256(rr.text.encode("utf-8")).hexdigest()
                s = [int(dg[2 * i : 2 * i + 2], 16) for i in range(11)]
                w = 21 + s[0] % 40
                h = 17 + s[1] % 20
                x1, y1 = s[2] % w, s[4] % h
                w1, h1 = 1 + s[3] % (w - x1), 1 + s[5] % (h - y1)
                x2, y2 = s[6] % w, s[8] % h
                w2, h2 = 1 + s[7] % (w - x2), 1 + s[9] % (h - y2)
                rps = 5 + s[10] % 7
                page = np.zeros((h, w), dtype=np.uint8)
                page[y1 : y1 + h1, x1 : x1 + w1] = 1
                page[y2 : y2 + h2, x2 : x2 + w2] = 1
                nz = "".join(
                    hashlib.sha256(f"{dg}-n-{i}".encode()).hexdigest()
                    for i in range((2 * w + 63) // 64)
                )
                for j in range(2 * w):
                    if int(nz[j], 16) % 2:
                        page[h - 2 + j // w, j % w] = 1
                flat = bytearray(page.reshape(-1).tolist())
                fo = 1 if mid % 2 == 0 else 2
                payload = encode_tiff_g4(
                    w, h, flat, rows_per_strip=rps, fillorder=fo,
                    compression=2,
                )
                dw, dh, rgb = decode_tiff(payload)
                a = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
                decoded_bits = (a[:, :, 0] == 0).astype(np.uint8)
                exact = int(np.array_equal(decoded_bits, page))
                pm = probe_tiff(payload)
                n_strips = (h + rps - 1) // rps
                agrees = int(
                    pm["compression"] == 2
                    and pm["width"] == dw == w
                    and pm["height"] == dh == h
                    and pm["bits"] == 1
                    and pm["n_strips"] == n_strips
                )
                # strip bytes vs the packed 1-bit raster
                from reindexer_spark.ccitt import mh_encode

                strip_bytes = sum(
                    len(
                        mh_encode(
                            flat[r0 * w : min(r0 + rps, h) * w],
                            w,
                            min(rps, h - r0),
                            fillorder=fo,
                        )
                    )
                    for r0 in range(0, h, rps)
                )
                smaller = int(strip_bytes < ((w + 7) // 8) * h)
                try:
                    decode_tiff(with_compression(payload, 3))
                    g3q = 0
                except MediaFormatError:
                    g3q = int(
                        probe_tiff(with_compression(payload, 3))["width"]
                        == w
                    )
                rows.append(
                    {
                        "media_id": mid,
                        "width": dw,
                        "height": dh,
                        "n_strips": n_strips,
                        "fillorder": "msb" if fo == 1 else "lsb",
                        "rgb_md5": hashlib.md5(
                            rgb.hex().encode()
                        ).hexdigest(),
                        "roundtrip_exact": exact,
                        "mh_smaller": smaller,
                        "probe_agrees": agrees,
                        "g3_quarantined": g3q,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "n_strips",
                    "fillorder", "rgb_md5", "roundtrip_exact",
                    "mh_smaller", "probe_agrees", "g3_quarantined",
                ],
            )

    return docs.select("doc_id", "text").repartition(TIFF_DOCS).mapInPandas(
        build_and_decode,
        "media_id bigint, width int, height int, n_strips int, "
        "fillorder string, rgb_md5 string, roundtrip_exact int, "
        "mh_smaller int, probe_agrees int, g3_quarantined int",
    )


@query(
    "image_tiff_g3",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS media_id, sha256(text) AS dg
      FROM documents WHERE doc_id < {TIFF_DOCS}
    ), g AS (
      SELECT media_id, dg,
             21 + CAST(('0x' || substr(dg, 1, 2)) AS INT) % 40 AS w,
             17 + CAST(('0x' || substr(dg, 3, 2)) AS INT) % 20 AS h,
             CAST(('0x' || substr(dg, 5, 2)) AS INT) AS s2,
             CAST(('0x' || substr(dg, 7, 2)) AS INT) AS s3,
             CAST(('0x' || substr(dg, 9, 2)) AS INT) AS s4,
             CAST(('0x' || substr(dg, 11, 2)) AS INT) AS s5,
             CAST(('0x' || substr(dg, 13, 2)) AS INT) AS s6,
             CAST(('0x' || substr(dg, 15, 2)) AS INT) AS s7,
             CAST(('0x' || substr(dg, 17, 2)) AS INT) AS s8,
             CAST(('0x' || substr(dg, 19, 2)) AS INT) AS s9,
             CAST(('0x' || substr(dg, 21, 2)) AS INT) AS s10
      FROM base
    ), r AS (
      SELECT media_id, dg, w, h, s10,
             s2 % w AS x1, s4 % h AS y1,
             1 + s3 % (w - s2 % w) AS w1,
             1 + s5 % (h - s4 % h) AS h1,
             s6 % w AS x2, s8 % h AS y2,
             1 + s7 % (w - s6 % w) AS w2,
             1 + s9 % (h - s8 % h) AS h2
      FROM g
    ), nchain AS (
      SELECT media_id,
             string_agg(sha256(dg || '-n-' || i), '' ORDER BY i) AS nz
      FROM r CROSS JOIN range(8) rr(i)
      WHERE i < CEIL(2 * w / 64.0)
      GROUP BY media_id
    ), px AS (
      SELECT r.media_id, r.w, r.h, r.s10,
        array_to_string(
          list_transform(range(CAST(r.h * r.w AS BIGINT)), i ->
            CASE WHEN
              ((i // r.w) >= r.y1 AND (i // r.w) < r.y1 + r.h1
               AND (i % r.w) >= r.x1 AND (i % r.w) < r.x1 + r.w1)
              OR
              ((i // r.w) >= r.y2 AND (i // r.w) < r.y2 + r.h2
               AND (i % r.w) >= r.x2 AND (i % r.w) < r.x2 + r.w2)
              OR
              ((i // r.w) >= r.h - 2
               AND CAST(('0x' || substr(nchain.nz,
                    CAST(((i // r.w) - (r.h - 2)) * r.w + (i % r.w)
                         + 1 AS INT), 1)) AS INT) % 2 = 1)
            THEN '000000' ELSE 'ffffff' END), '') AS rgbhex
      FROM r JOIN nchain ON nchain.media_id = r.media_id
    )
    SELECT media_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST((h + (5 + s10 % 7) - 1) // (5 + s10 % 7) AS INT)
             AS n_strips,
           CASE WHEN media_id % 2 = 0 THEN 'msb' ELSE 'lsb' END
             AS fillorder,
           md5(rgbhex) AS rgb_md5,
           CAST(1 AS INT) AS roundtrip_exact,
           CAST(1 AS INT) AS eol_framed,
           CAST(1 AS INT) AS probe_agrees,
           CAST(1 AS INT) AS g3_quarantined
    FROM px
    """,
)
def image_tiff_g3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCITT GROUP 3 PROPER TIFF decode (late round 16 — TIFF
    Compression 3, the EOL-framed T.4 layer, completing the CCITT
    family): the same digest bilevel page as ``image_tiff_ccitt``,
    written as per-strip Group-3 streams — EOL before every line,
    and on even media_ids T4Options bit 0 turns on the per-line
    1-D/2-D mode tags (2-D lines share the T.6 vertical/horizontal/
    pass machinery, K-factor 4 resync) — decoded through the
    production path (tiff.py:_decode_tiff_g4 → ccitt.g3_decode).

    Value-exact oracle: G3 is lossless, so DuckDB recomputes every
    decoded pixel (``rgb_md5``) plus the geometry;
    ``g3_quarantined=1`` here pins the OPTION boundary — the same
    fixture with T4Options' uncompressed-mode bit set refuses by
    name while the probe still reads dims.  The run/mode tables
    share tests/test_ccitt.py's external pins.

    Scale shape: mapInPandas, payloads never shuffle — same as every
    media lane."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < TIFF_DOCS
    )

    def build_and_decode(batches):
        import hashlib
        import struct as st

        import numpy as np

        from reindexer_spark.codecs import MediaFormatError
        from reindexer_spark.tiff import (
            TAG_COMPRESSION,
            decode_tiff,
            encode_tiff_g4,
            probe_tiff,
        )

        def with_compression(payload: bytes, val: int) -> bytes:
            buf = bytearray(payload)
            (ifd,) = st.unpack_from("<I", buf, 4)
            (n,) = st.unpack_from("<H", buf, ifd)
            for i in range(n):
                e = ifd + 2 + 12 * i
                if st.unpack_from("<H", buf, e)[0] == TAG_COMPRESSION:
                    st.pack_into("<H", buf, e + 8, val)
                    return bytes(buf)
            raise MediaFormatError("fixture lacks a Compression tag")

        for pdf in batches:
            rows = []
            for rr in pdf.itertuples(index=False):
                mid = int(rr.doc_id)
                dg = hashlib.sha256(rr.text.encode("utf-8")).hexdigest()
                s = [int(dg[2 * i : 2 * i + 2], 16) for i in range(11)]
                w = 21 + s[0] % 40
                h = 17 + s[1] % 20
                x1, y1 = s[2] % w, s[4] % h
                w1, h1 = 1 + s[3] % (w - x1), 1 + s[5] % (h - y1)
                x2, y2 = s[6] % w, s[8] % h
                w2, h2 = 1 + s[7] % (w - x2), 1 + s[9] % (h - y2)
                rps = 5 + s[10] % 7
                page = np.zeros((h, w), dtype=np.uint8)
                page[y1 : y1 + h1, x1 : x1 + w1] = 1
                page[y2 : y2 + h2, x2 : x2 + w2] = 1
                nz = "".join(
                    hashlib.sha256(f"{dg}-n-{i}".encode()).hexdigest()
                    for i in range((2 * w + 63) // 64)
                )
                for j in range(2 * w):
                    if int(nz[j], 16) % 2:
                        page[h - 2 + j // w, j % w] = 1
                flat = bytearray(page.reshape(-1).tolist())
                fo = 1 if mid % 2 == 0 else 2
                payload = encode_tiff_g4(
                    w, h, flat, rows_per_strip=rps, fillorder=fo,
                    compression=3, t4_2d=(mid % 2 == 0),
                )
                dw, dh, rgb = decode_tiff(payload)
                a = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
                decoded_bits = (a[:, :, 0] == 0).astype(np.uint8)
                exact = int(np.array_equal(decoded_bits, page))
                pm = probe_tiff(payload)
                n_strips = (h + rps - 1) // rps
                agrees = int(
                    pm["compression"] == 3
                    and pm["width"] == dw == w
                    and pm["height"] == dh == h
                    and pm["bits"] == 1
                    and pm["n_strips"] == n_strips
                )
                # strip bytes vs the packed 1-bit raster
                # the G3 signature: every strip opens with (fill+)EOL
                first_off = None
                buf0 = payload
                (ifd0,) = st.unpack_from("<I", buf0, 4)
                (n0,) = st.unpack_from("<H", buf0, ifd0)
                for i0 in range(n0):
                    e0 = ifd0 + 2 + 12 * i0
                    if st.unpack_from("<H", buf0, e0)[0] == 273:
                        (voff0,) = st.unpack_from("<I", buf0, e0 + 8)
                        (first_off,) = st.unpack_from("<I", buf0, voff0)
                        break
                sb = payload[first_off : first_off + 2]
                if fo == 2:
                    sb = bytes(
                        int(f"{b:08b}"[::-1], 2) for b in sb
                    )
                bits16 = (sb[0] << 8) | sb[1]
                # first 12 bits must be 000000000001 (no leading fill
                # in this encoder's output)
                smaller = int(bits16 >> 4 == 1)
                from reindexer_spark.tiff import TAG_T4_OPTIONS

                def with_t4opts(p2: bytes, val: int) -> bytes:
                    buf = bytearray(p2)
                    (ifd,) = st.unpack_from("<I", buf, 4)
                    (n2,) = st.unpack_from("<H", buf, ifd)
                    for i2 in range(n2):
                        e2 = ifd + 2 + 12 * i2
                        if st.unpack_from("<H", buf, e2)[0] == TAG_T4_OPTIONS:
                            st.pack_into("<I", buf, e2 + 8, val)
                            return bytes(buf)
                    raise MediaFormatError("fixture lacks T4Options")

                try:
                    decode_tiff(with_t4opts(payload, 2))
                    g3q = 0
                except MediaFormatError:
                    g3q = int(
                        probe_tiff(with_t4opts(payload, 2))["width"] == w
                    )
                rows.append(
                    {
                        "media_id": mid,
                        "width": dw,
                        "height": dh,
                        "n_strips": n_strips,
                        "fillorder": "msb" if fo == 1 else "lsb",
                        "rgb_md5": hashlib.md5(
                            rgb.hex().encode()
                        ).hexdigest(),
                        "roundtrip_exact": exact,
                        "eol_framed": smaller,
                        "probe_agrees": agrees,
                        "g3_quarantined": g3q,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "n_strips",
                    "fillorder", "rgb_md5", "roundtrip_exact",
                    "eol_framed", "probe_agrees", "g3_quarantined",
                ],
            )

    return docs.select("doc_id", "text").repartition(TIFF_DOCS).mapInPandas(
        build_and_decode,
        "media_id bigint, width int, height int, n_strips int, "
        "fillorder string, rgb_md5 string, roundtrip_exact int, "
        "eol_framed int, probe_agrees int, g3_quarantined int",
    )


@query(
    "image_tiff_planar",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS media_id, sha256(text) AS dg
      FROM documents WHERE doc_id < {TIFF_DOCS}
    ), dims AS (
      SELECT media_id, dg,
             15 + CAST(('0x' || substr(dg, 1, 2)) AS INT) % 24 AS w,
             11 + CAST(('0x' || substr(dg, 3, 2)) AS INT) % 18 AS h,
             CASE WHEN media_id % 2 = 0 THEN 16 ELSE 8 END AS bits,
             CASE WHEN media_id % 3 <> 0 THEN 1 ELSE 0 END AS le,
             4 + CAST(('0x' || substr(dg, 5, 2)) AS INT) % 6 AS rps
      FROM base
    ), chain AS (
      SELECT media_id, w, h, bits, le, rps,
             substr(
               string_agg(sha256(dg || '-' || i), '' ORDER BY i),
               1,
               2 * w * h * 3 * (bits // 8)
             ) AS hexsrc
      FROM dims CROSS JOIN range(600) r(i)
      WHERE i < CEIL(w * h * 3 * (bits // 8) / 32.0)
      GROUP BY media_id, w, h, bits, le, rps, dg
    ), px AS (
      -- decoded pixels are the HIGH byte of each sample (the tiled
      -- lane's convention): for 8-bit the chain itself; for 16-bit
      -- the first (MM) or second (II) byte of each 2-byte sample
      SELECT media_id, w, h, bits, le, rps,
             CASE WHEN bits = 8 THEN hexsrc
                  WHEN le = 1 THEN array_to_string(
                    list_transform(
                      range(CAST(w * h * 3 AS BIGINT)),
                      j -> substr(hexsrc, CAST(4 * j + 3 AS INT), 2)
                    ), '')
                  ELSE array_to_string(
                    list_transform(
                      range(CAST(w * h * 3 AS BIGINT)),
                      j -> substr(hexsrc, CAST(4 * j + 1 AS INT), 2)
                    ), '')
             END AS rgbhex
      FROM chain
    )
    SELECT media_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CASE WHEN le = 1 THEN 'II' ELSE 'MM' END AS byte_order,
           CAST(bits AS INT) AS bits,
           CASE media_id % 4 WHEN 0 THEN 'none' WHEN 1 THEN 'lzw'
                             WHEN 2 THEN 'packbits' ELSE 'deflate' END
             AS compression,
           CAST(CASE WHEN media_id % 4 IN (1, 3) THEN 2 ELSE 1 END
                AS INT) AS predictor,
           CAST(3 * ((h + rps - 1) // rps) AS INT) AS n_strips,
           md5(rgbhex) AS rgb_md5,
           CAST(1 AS INT) AS roundtrip_exact,
           CAST(1 AS INT) AS probe_agrees,
           CAST(1 AS INT) AS patched_interleaved_quarantined
    FROM px
    """,
)
def image_tiff_planar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PLANAR-CONFIGURATION-2 TIFF decode (round 16 — the separate
    R/G/B plane layout scientific and scanner TIFFs write): per
    document, digest samples (8-bit RGB on odd media_ids, full 16-bit
    samples in the file's byte order on even ones) written as
    planar-2 strips — ALL of component 0's strips, then component
    1's, then 2's, with Predictor 2 differencing single-sample rows —
    and decoded back through the production image path.

    Oracle-pinned: geometry/bits/compression digest arithmetic;
    ``n_strips`` = 3 × strips-per-image (the planar layout's
    signature); ``rgb_md5`` — md5 of the decoded pixels' hex (HIGH
    byte of each sample for 16-bit, matching the tiled lane's
    convention); ``roundtrip_exact=1``; ``probe_agrees=1``;
    ``patched_interleaved_quarantined=1`` — an interleaved fixture
    patched to PlanarConfiguration 2 has the wrong strip count for
    the planar layout and must refuse rather than decode garbage.

    Scale shape: mapInPandas, payloads never shuffle — same as every
    media lane."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < TIFF_DOCS
    )

    def build_and_decode(batches):
        import hashlib
        import struct as st

        import numpy as np

        from reindexer_spark.codecs import MediaFormatError
        from reindexer_spark.tiff import (
            TAG_PLANAR,
            decode_tiff,
            encode_tiff,
            probe_tiff,
        )

        def patch_planar(payload: bytes, val: int) -> bytes:
            le = payload[:2] == b"II"
            f = "<" if le else ">"
            buf = bytearray(payload)
            (ifd,) = st.unpack_from(f + "I", buf, 4)
            (n,) = st.unpack_from(f + "H", buf, ifd)
            for i in range(n):
                e = ifd + 2 + 12 * i
                if st.unpack_from(f + "H", buf, e)[0] == TAG_PLANAR:
                    st.pack_into(f + "H", buf, e + 8, val)
                    return bytes(buf)
            raise MediaFormatError("fixture lacks a PlanarConfig tag")

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                mid = int(r.doc_id)
                dg = hashlib.sha256(r.text.encode("utf-8")).hexdigest()
                w = 15 + int(dg[0:2], 16) % 24
                h = 11 + int(dg[2:4], 16) % 18
                bits = 16 if mid % 2 == 0 else 8
                le = mid % 3 != 0
                rps = 4 + int(dg[4:6], 16) % 6
                comp, cname, pred = (
                    (1, "none", 1),
                    (5, "lzw", 2),
                    (32773, "packbits", 1),
                    (8, "deflate", 2),
                )[mid % 4]
                nbytes = w * h * 3 * (bits // 8)
                src = bytes.fromhex(
                    "".join(
                        hashlib.sha256(f"{dg}-{i}".encode()).hexdigest()
                        for i in range((nbytes + 31) // 32)
                    )[: 2 * nbytes]
                )
                if bits == 16:
                    dt = "<u2" if le else ">u2"
                    expected = (
                        np.frombuffer(src, dtype=dt).astype(np.uint16)
                        >> 8
                    ).astype(np.uint8).tobytes()
                else:
                    expected = src
                payload = encode_tiff(
                    w, h, src, le=le, bits=bits, compression=comp,
                    predictor=pred, planar=2, rows_per_strip=rps,
                )
                dw, dh, out = decode_tiff(payload)
                pm = probe_tiff(payload)
                n_strips = 3 * ((h + rps - 1) // rps)
                agrees = int(
                    pm["kind"] == "tiff"
                    and pm["width"] == dw
                    and pm["height"] == dh
                    and pm["n_strips"] == n_strips
                )
                # an interleaved fixture patched to planar 2 refuses
                inter = encode_tiff(
                    w, h, src, le=le, bits=bits, compression=comp,
                    predictor=pred, rows_per_strip=rps,
                )
                try:
                    decode_tiff(patch_planar(inter, 2))
                    pq = 0
                except MediaFormatError:
                    pq = 1
                rows.append(
                    {
                        "media_id": mid,
                        "width": dw,
                        "height": dh,
                        "byte_order": "II" if le else "MM",
                        "bits": bits,
                        "compression": cname,
                        "predictor": pred,
                        "n_strips": n_strips,
                        "rgb_md5": hashlib.md5(
                            out.hex().encode()
                        ).hexdigest(),
                        "roundtrip_exact": int(out == expected),
                        "probe_agrees": agrees,
                        "patched_interleaved_quarantined": pq,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "byte_order",
                    "bits", "compression", "predictor", "n_strips",
                    "rgb_md5", "roundtrip_exact", "probe_agrees",
                    "patched_interleaved_quarantined",
                ],
            )

    return docs.select("doc_id", "text").repartition(TIFF_DOCS).mapInPandas(
        build_and_decode,
        "media_id bigint, width int, height int, byte_order string, "
        "bits int, compression string, predictor int, n_strips int, "
        "rgb_md5 string, roundtrip_exact int, probe_agrees int, "
        "patched_interleaved_quarantined int",
    )
