"""Multimodal media pipeline (Tier C12) — opaque binary payloads with
typed metadata, processed via Arrow-batched ``mapInPandas``.

The Spark-side plumbing is fully real: schemas, partition-size control,
Arrow batch iteration, metadata extraction.  The codec layer has three
implementations behind one seam: ``FakeCodec`` (digest-derived, for
batch-shape contract tests), the dependency-free codecs in
:mod:`reindexer_spark.codecs` (real BMP / PPM / JPEG (baseline and
progressive) / PNG / WAV / DIB+MJPEG-AVI parsing — decode, resize,
audio windows and video frame-sampling run on real bytes, compressed
formats included, in this container), and
``LibraryCodec`` which upgrades to Pillow when installed.  Motion-JPEG
AVI, Photo-JPEG mp4 (ISO BMFF, full stsd/stts/stss/stsc/stco
sample-table walk) and V_MJPEG Matroska (EBML element tree, cluster/
SimpleBlock timestamps, Cues keyframe index) decode natively — JPEG
frames through the baseline codec; inter-predicted video (h264/hevc
in any container) still needs pyav/ffmpeg and raises
``MediaFormatError`` into the quarantine lane.

At 100 TB the shape is the important part:

- media rows are *heavy and few* per partition → repartition by byte
  budget, not row count (``target_partition_bytes``);
- decode is CPU-bound Python → Arrow batches amortize serde, and
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` caps peak memory;
- outputs are fixed-size feature vectors / thumbnails, orders of
  magnitude smaller than inputs → emit them, never the raw bytes.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


MEDIA_SCHEMA = (
    "media_id bigint, kind string, payload binary, meta map<string,string>"
)

FEATURE_SCHEMA = (
    "media_id bigint, kind string, n_bytes bigint, checksum string, "
    "width int, height int, n_channels int, features array<float>"
)


class FakeCodec:
    """Deterministic stand-in decoder: derives pseudo-dimensions and a
    tiny feature vector from the payload bytes.  Real enough to exercise
    every seam (schema, batching, null payloads) with byte-stable
    outputs."""

    def decode(self, payload: bytes) -> dict:
        import hashlib

        digest = hashlib.sha256(payload).digest()
        return {
            "width": 16 + digest[0] % 64,
            "height": 16 + digest[1] % 64,
            "n_channels": 1 + digest[2] % 3,
            "features": [b / 255.0 for b in digest[:8]],
        }


def _pillow_to_canonical(payload: bytes) -> bytes:
    """Decode any image Pillow understands into canonical PPM bytes so
    the feature/resize math stays on the shared deterministic integer
    path.  Every failure — Pillow absent, or Pillow itself rejecting
    the payload — is a ``MediaFormatError`` (the quarantine contract);
    library-specific exceptions never escape."""
    from reindexer_spark.codecs import MediaFormatError, encode_ppm

    try:
        import io

        from PIL import Image  # type: ignore[import-not-found]
    except ImportError:
        raise MediaFormatError(
            "payload needs Pillow to decode (not installed)"
        ) from None
    try:
        img = Image.open(io.BytesIO(payload))
        rgb = img.convert("RGB")
    except Exception as exc:
        raise MediaFormatError(
            f"Pillow could not decode payload: {exc}"
        ) from exc
    return encode_ppm(rgb.width, rgb.height, rgb.tobytes())


class LibraryCodec:
    """The production decoder seam: the dependency-free parsers
    (BMP / PPM / PNG / baseline JPEG / WAV / DIB+MJPEG-AVI /
    Photo-JPEG mp4) from :mod:`reindexer_spark.codecs` handle the
    natively-understood containers, and Pillow — when installed — extends coverage in two
    places: containers the sniffer doesn't recognize at all (WebP,
    GIF, TIFF, ...), and sniffed IMAGES the stdlib decoder rejects
    (arithmetic/12-bit JPEG, interlaced or 16-bit PNG — baseline AND
    progressive JPEG are native) —
    the stdlib path is tried first so canonical payloads behave
    identically with and without Pillow installed, and its
    ``MediaFormatError`` falls through to Pillow rather than
    quarantining outright.  Audio/video rejections do NOT fall
    through (Pillow has no audio/video path).  Any Pillow failure is
    wrapped in ``MediaFormatError`` so unknown or corrupt payloads
    always land in the quarantine lane, never escape as
    library-specific exceptions."""

    def decode(self, payload: bytes) -> dict:
        from reindexer_spark.codecs import (
            IMAGE_KINDS,
            MediaFormatError,
            PurePythonCodec,
            _sniff,
        )

        try:
            kind = _sniff(payload)
        except MediaFormatError:
            kind = None  # unknown container → try Pillow below
        if kind is not None:
            try:
                return PurePythonCodec().decode(payload)
            except MediaFormatError:
                if kind not in IMAGE_KINDS:
                    raise  # audio/video: Pillow can't help, quarantine
                # sniffed image beyond the stdlib decoder (progressive
                # JPEG, interlaced PNG, ...) → fall through to Pillow
        return PurePythonCodec().decode(_pillow_to_canonical(payload))


def extract_media_features(media: DataFrame, codec=None) -> DataFrame:
    """binary payload → (dims, checksum, feature vector) via mapInPandas.

    One Arrow batch in, one out; payload bytes never leave the executor.
    A payload the codec rejects (``MediaFormatError``) becomes a
    null-feature quarantine row — byte length and checksum are kept so
    the bad payload stays identifiable downstream — rather than failing
    the whole Spark stage (the A9 error-channel contract).
    Heavy payloads: cap rows per Arrow batch with the session conf
    ``spark.sql.execution.arrow.maxRecordsPerBatch``, which is read when
    the consuming action runs, not when this plan is built.
    """
    codec = codec or FakeCodec()

    def decode_batches(batches: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        from reindexer_spark.codecs import MediaFormatError

        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                payload = row.payload
                if payload is None:
                    out.append(
                        {
                            "media_id": row.media_id,
                            "kind": row.kind,
                            "n_bytes": 0,
                            "checksum": None,
                            "width": None,
                            "height": None,
                            "n_channels": None,
                            "features": None,
                        }
                    )
                    continue
                try:
                    decoded = codec.decode(bytes(payload))
                except MediaFormatError:
                    decoded = {
                        "width": None,
                        "height": None,
                        "n_channels": None,
                        "features": None,
                    }
                out.append(
                    {
                        "media_id": row.media_id,
                        "kind": row.kind,
                        "n_bytes": len(payload),
                        "checksum": hashlib.md5(bytes(payload)).hexdigest(),
                        **decoded,
                    }
                )
            yield pd.DataFrame(out)

    return media.mapInPandas(decode_batches, schema=FEATURE_SCHEMA)


def repartition_by_bytes(
    media: DataFrame,
    size_col: str = "payload",
    target_partition_bytes: int = 128 << 20,
) -> DataFrame:
    """Partition heavy binary rows by byte budget instead of row count —
    row-count partitioning puts 200 × 50 MB videos in one task and
    200 × 2 KB icons in another."""
    sized = media.withColumn("__bytes", F.octet_length(F.col(size_col)))
    total = sized.agg(F.sum("__bytes")).collect()[0][0] or 0
    n = max(1, int(total / target_partition_bytes) + 1)
    return sized.repartition(n).drop("__bytes")


THUMB_SCHEMA = (
    "media_id bigint, kind string, thumb_w int, thumb_h int, thumbnail binary"
)

FRAME_SCHEMA = (
    "media_id bigint, frame_idx int, frame_ts_ms bigint, frame binary"
)


class FakeResizer:
    """Deterministic stand-in for image resize: emits a byte-stable
    pseudo-thumbnail (payload digest tiled to thumb_w*thumb_h bytes) with
    aspect-ratio-preserving dimensions from FakeCodec's pseudo-dims."""

    def resize(self, payload: bytes, max_dim: int) -> dict:
        import hashlib

        d = FakeCodec().decode(payload)
        w, h = d["width"], d["height"]
        scale = min(1.0, max_dim / max(w, h))
        tw, th = max(1, int(w * scale)), max(1, int(h * scale))
        digest = hashlib.sha256(payload).digest()
        body = (digest * ((tw * th) // len(digest) + 1))[: tw * th]
        return {"thumb_w": tw, "thumb_h": th, "thumbnail": body}


class FakeFrameSampler:
    """Deterministic stand-in for video frame sampling: duration is
    derived from the payload, frames are digest-stamped slices."""

    def duration_ms(self, payload: bytes) -> int:
        import hashlib

        digest = hashlib.sha256(payload).digest()
        return 1000 * (1 + int.from_bytes(digest[:2], "big") % 30)

    def frame_at(self, payload: bytes, ts_ms: int) -> bytes:
        import hashlib

        return hashlib.sha256(payload + ts_ms.to_bytes(8, "big")).digest()


class LibraryResizer:
    """The pure-Python nearest-neighbor resizer for natively-decoded
    images, with the same Pillow fallback routing as ``LibraryCodec``:
    sniffed images the stdlib decoder rejects, and unrecognized
    containers, decode through Pillow (when installed) into the
    canonical form and resize on the shared integer path — real
    pixels either way."""

    def resize(self, payload: bytes, max_dim: int) -> dict:
        from reindexer_spark.codecs import (
            IMAGE_KINDS,
            MediaFormatError,
            PurePythonResizer,
            _sniff,
        )

        try:
            kind = _sniff(payload)
        except MediaFormatError:
            kind = None  # unknown container → try Pillow below
        if kind is not None:
            try:
                return PurePythonResizer().resize(payload, max_dim)
            except MediaFormatError:
                if kind not in IMAGE_KINDS:
                    raise  # audio/video is not resizable, quarantine
        return PurePythonResizer().resize(
            _pillow_to_canonical(payload), max_dim
        )


class LibraryFrameSampler:
    """Container-sniffing frame sampler: WAV audio samples real
    timestamped 100 ms windows (:class:`codecs.WavFrameSampler`);
    DIB / Motion-JPEG AVI video samples real decoded frames re-encoded
    as standalone BMPs (:class:`codecs.AviFrameSampler`); ISO BMFF mp4
    samples through the real stts/stss/stsc/stco tables with
    keyframe-aligned snapping (:class:`codecs.Mp4FrameSampler`,
    Photo-JPEG tracks).  Inter-predicted codecs (h264/hevc/vp9) still
    need pyav/ffmpeg and quarantine via ``MediaFormatError`` raised by
    the mp4 parser's stsd check."""

    def _sampler(self, payload: bytes):
        from reindexer_spark.codecs import (
            _MKV_MAGIC,
            AviFrameSampler,
            FlacFrameSampler,
            GifFrameSampler,
            MediaFormatError,
            MkvFrameSampler,
            Mp4FrameSampler,
            WavFrameSampler,
        )

        if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            return WavFrameSampler()
        if payload[:4] == b"fLaC":
            return FlacFrameSampler()
        if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
            return AviFrameSampler()
        if payload[4:8] == b"ftyp":
            return Mp4FrameSampler()
        if payload[:4] == _MKV_MAGIC:
            return MkvFrameSampler()  # V_MJPEG; other codecs quarantine
        if payload[:6] in (b"GIF87a", b"GIF89a"):
            return GifFrameSampler()
        if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
            # round 16: animated WebP samples composited frames via
            # the VP8X/ANIM/ANMF compositor (still WebP has no
            # timeline and quarantines inside the sampler)
            from reindexer_spark.vp8l import WebpAnimSampler

            return WebpAnimSampler()
        raise MediaFormatError("unrecognized video container")

    def duration_ms(self, payload: bytes) -> int:
        return self._sampler(payload).duration_ms(payload)

    def frame_at(self, payload: bytes, ts_ms: int) -> bytes:
        return self._sampler(payload).frame_at(payload, ts_ms)


def resize_thumbnails(
    media: DataFrame, max_dim: int = 32, resizer=None
) -> DataFrame:
    """binary payload → thumbnail binary via mapInPandas (the image-
    resize leg of the media pipeline).  Output rows are bounded by
    max_dim², so the stage SHRINKS data — safe to run before a shuffle;
    null payloads pass through as null thumbnails (quarantine-friendly,
    the A9 error-channel analogue).  Batch size: the session's
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` at action time."""
    resizer = resizer or FakeResizer()

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        from reindexer_spark.codecs import MediaFormatError

        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                payload = row.payload
                null_row = {
                    "media_id": row.media_id,
                    "kind": row.kind,
                    "thumb_w": None,
                    "thumb_h": None,
                    "thumbnail": None,
                }
                if payload is None:
                    out.append(null_row)
                    continue
                try:
                    r = resizer.resize(bytes(payload), max_dim)
                except MediaFormatError:
                    out.append(null_row)  # quarantine, don't fail the stage
                    continue
                out.append(
                    {"media_id": row.media_id, "kind": row.kind, **r}
                )
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=THUMB_SCHEMA)


def sample_video_frames(
    media: DataFrame,
    every_ms: int = 5000,
    max_frames: int = 8,
    sampler=None,
) -> DataFrame:
    """binary video payload → one row per sampled frame (mapInPandas is
    the right seam precisely because the fan-out is data-dependent:
    frames-per-row varies with duration, which no fixed-arity UDF can
    express).  Frame count is capped so the output stays bounded per
    input row; rows sort deterministically by (media_id, frame_idx).
    Batch size: the session's
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` at action time."""
    sampler = sampler or FakeFrameSampler()

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        from reindexer_spark.codecs import MediaFormatError

        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                payload = row.payload
                if payload is None:
                    continue  # nothing to sample; quarantined upstream
                payload = bytes(payload)
                try:
                    duration = sampler.duration_ms(payload)
                except MediaFormatError:
                    continue  # unsupported container → no frames emitted
                for idx, ts in enumerate(range(0, duration, every_ms)):
                    if idx >= max_frames:
                        break
                    out.append(
                        {
                            "media_id": row.media_id,
                            "frame_idx": idx,
                            "frame_ts_ms": ts,
                            "frame": sampler.frame_at(payload, ts),
                        }
                    )
            yield pd.DataFrame(
                out,
                columns=["media_id", "frame_idx", "frame_ts_ms", "frame"],
            )

    return media.mapInPandas(run, schema=FRAME_SCHEMA)
