"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads travel as `binary` columns with a typed
metadata struct; decode / feature-extraction / resize / frame-sample run
as per-row kernels over mapInArrow (`arrowmap.row_batches`; each row
function catches its own failures and emits a status='failed' row).
The header-metadata ops (audio, MP4, WebM/AVI) check their integers
with `fit_ints`, so a header field too wide for its column fails only
its row; decoded image dimensions are already bounded by the decoders'
64 MPix cap.
`decode_image` is REAL for PNG, BMP, GIF and baseline JPEG (pure-Python
kernels/image.py: zlib IDAT inflate behind the bomb-ratio guard,
scanline unfiltering, LZW, Huffman entropy decode + IDCT) and returns
(width, height, 8 feature floats).
Progressive (SOF2) JPEG is fully decoded too (kernels/image.py spectral
selection + successive approximation); only arithmetic-coded JPEG
degrades to a status='failed' row. `use_fake=True` keeps the
deterministic hash-based twin for plumbing tests.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from .arrowmap import fit_ints, row_batches

FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("media_type", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("features", T.ArrayType(T.FloatType())),
    T.StructField("status", T.StringType()),
    T.StructField("error", T.StringType()),
])


def decode_image(payload: bytes, use_fake: bool = False) -> tuple[int, int, list[float]]:
    """Decode an image payload to (width, height, 8 features). PNG, BMP,
    GIF and baseline JPEG decode for real (kernels/image.py). The
    deterministic fake twin derives everything from a blake2b hash of the
    payload, so plumbing tests are stable."""
    if use_fake:
        h = hashlib.blake2b(payload, digest_size=20).digest()
        width = 64 + h[0] % 192
        height = 64 + h[1] % 192
        feats = [round(b / 255.0, 6) for b in h[2:10]]
        return width, height, feats
    from ..kernels.image import decode_any, image_features

    img = decode_any(payload)
    return img.width, img.height, image_features(img)


def _map_rows(df: DataFrame, cols: list[str], fn, schema: T.StructType,
              num_partitions: int | None) -> DataFrame:
    """Select `cols`, optionally salt-repartition on the hash of the first
    (the row key), and run the row function `fn` over every row."""
    slim = df.select(*cols)
    if num_partitions:
        slim = slim.repartition(num_partitions, F.xxhash64(cols[0]))
    return slim.mapInArrow(row_batches(fn, schema), schema)


def extract_media_features(df: DataFrame, use_fake: bool = False,
                           num_partitions: int | None = None) -> DataFrame:
    """media table -> per-item features. Same physical policy as page
    extraction: salted repartition (payload bytes skew), Arrow batches,
    per-row failure containment."""

    def feature_row(row: dict) -> list[dict]:
        payload = row["payload"] or b""
        base = dict(media_id=row["media_id"], media_type=row["media_type"],
                    n_bytes=len(payload))
        try:
            w, h, feats = decode_image(payload, use_fake=use_fake)
        except Exception as e:  # poisoned payloads degrade to rows
            return [dict(base, status="failed",
                         error=f"{type(e).__name__}: {e}")]
        return [dict(base, width=w, height=h, features=feats, status="ok")]

    return _map_rows(df, ["media_id", "payload", "media_type"], feature_row,
                     FEATURES_SCHEMA, num_partitions)


IMAGE_STATS_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("mean_r", T.DoubleType()),
    T.StructField("mean_g", T.DoubleType()),
    T.StructField("mean_b", T.DoubleType()),
    T.StructField("aspect", T.DoubleType()),
    T.StructField("status", T.StringType()),
    T.StructField("error", T.StringType()),
])


def image_stats(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Decode to native dimensions + per-channel means + aspect ratio, all
    as doubles (oracle-comparable: solid synth images make every mean an
    exact color/255 rational — CLAUDE.md invariant 10). Covers the full
    decoder matrix incl. baseline JPEG (gray / 4:4:4 / 4:2:0)."""
    from ..kernels.image import decode_any

    def stats_row(row: dict) -> list[dict]:
        import numpy as np

        mid = row["media_id"]
        try:
            img = decode_any(row["payload"] or b"")
            means = img.pixels.astype(np.float64).mean(axis=(0, 1)) / 255.0
            return [dict(
                media_id=mid, width=img.width, height=img.height,
                mean_r=round(float(means[0]), 6),
                mean_g=round(float(means[1]), 6),
                mean_b=round(float(means[2]), 6),
                aspect=round(img.width / img.height, 6),
                status="ok")]
        except Exception as e:
            return [dict(media_id=mid, status="failed",
                         error=f"{type(e).__name__}: {e}")]

    return _map_rows(df, ["media_id", "payload"], stats_row,
                     IMAGE_STATS_SCHEMA, num_partitions)


PDF_IMAGE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("image_idx", T.IntegerType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("mean_r", T.DoubleType()),
    T.StructField("mean_g", T.DoubleType()),
    T.StructField("mean_b", T.DoubleType()),
    T.StructField("status", T.StringType()),
])


def pdf_image_stats(df: DataFrame,
                    num_partitions: int | None = None) -> DataFrame:
    """PDF image XObject payload emission (Tika includeImages parity,
    ref main/TikaForkMain.java:98,307-311): one row per decoded embedded
    image, in object order, with the same exact-rational channel means
    as image_stats. A PDF that fails to parse yields one failed row; a
    PDF whose images are all undecodable yields none (they are still
    counted in pdf:image-count by the text route)."""
    from ..kernels.pdf import extract_pdf

    def images_rows(row: dict) -> list[dict]:
        import numpy as np

        did = row["doc_id"]
        try:
            r = extract_pdf(row["payload"] or b"", include_images=True,
                            collect_embedded=False)
        except Exception:
            return [dict(doc_id=did, status="failed")]
        rows = []
        for idx, (_num, img) in enumerate(r.images):
            means = img.pixels.astype(np.float64).mean(axis=(0, 1)) / 255.0
            rows.append(dict(
                doc_id=did, image_idx=idx,
                width=img.width, height=img.height,
                mean_r=round(float(means[0]), 6),
                mean_g=round(float(means[1]), 6),
                mean_b=round(float(means[2]), 6),
                status="ok"))
        return rows

    return _map_rows(df, ["doc_id", "payload"], images_rows, PDF_IMAGE_SCHEMA,
                     num_partitions)


AUDIO_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("n_channels", T.IntegerType()),
    T.StructField("duration_ms", T.IntegerType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("peak", T.DoubleType()),
    T.StructField("dc_mean", T.DoubleType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("status", T.StringType()),
    T.StructField("error", T.StringType()),
])


def extract_audio_features(df: DataFrame,
                           num_partitions: int | None = None) -> DataFrame:
    """audio table (media_id, payload) -> per-item features via the PCM WAV
    kernel. Same physical policy as images: Arrow batches, per-row failure
    containment, optional salted repartition."""
    from ..kernels.audio import audio_features, decode_wav

    def audio_row(row: dict) -> list[dict]:
        payload = row["payload"] or b""
        base = dict(media_id=row["media_id"], n_bytes=len(payload))
        try:
            feats = audio_features(decode_wav(payload))
            return [fit_ints(dict(base, status="ok", **feats), AUDIO_SCHEMA)]
        except Exception as e:
            return [dict(base, status="failed",
                         error=f"{type(e).__name__}: {e}")]

    return _map_rows(df, ["media_id", "payload"], audio_row, AUDIO_SCHEMA,
                     num_partitions)


VIDEO_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("duration_ms", T.IntegerType()),
    T.StructField("n_tracks", T.IntegerType()),
    T.StructField("track_kinds", T.ArrayType(T.StringType())),
    T.StructField("brand", T.StringType()),
    T.StructField("codec", T.StringType()),
    T.StructField("codec_profile", T.StringType()),
    T.StructField("codec_level", T.StringType()),
    T.StructField("coded_width", T.IntegerType()),
    T.StructField("coded_height", T.IntegerType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("status", T.StringType()),
    T.StructField("error", T.StringType()),
])


def extract_video_meta(df: DataFrame,
                       num_partitions: int | None = None) -> DataFrame:
    """video table (media_id, payload) -> container metadata via the ISO
    BMFF box walker (metadata needs no codec decode; frame decode is
    sample_video_frames, real for MJPEG tracks)."""
    from ..kernels.video import parse_mp4

    def video_row(row: dict) -> list[dict]:
        payload = row["payload"] or b""
        base = dict(media_id=row["media_id"], n_bytes=len(payload))
        try:
            m = parse_mp4(payload)
            return [fit_ints(dict(
                base, width=m.width, height=m.height,
                duration_ms=m.duration_ms, n_tracks=m.n_tracks,
                track_kinds=m.track_kinds, brand=m.brand,
                codec=m.codec or None,
                codec_profile=m.codec_profile or None,
                codec_level=m.codec_level or None,
                coded_width=m.coded_width or None,
                coded_height=m.coded_height or None,
                status="ok"), VIDEO_SCHEMA)]
        except Exception as e:
            return [dict(base, status="failed",
                         error=f"{type(e).__name__}: {e}")]

    return _map_rows(df, ["media_id", "payload"], video_row, VIDEO_SCHEMA,
                     num_partitions)


FRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("frame_index", T.IntegerType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("mean_r", T.DoubleType()),
    T.StructField("status", T.StringType()),
    T.StructField("error", T.StringType()),
])


def sample_video_frames(df: DataFrame, every_n: int = 30,
                        num_partitions: int | None = None) -> DataFrame:
    """video table (media_id, payload) -> one row per sampled frame.
    REAL decode for Motion-JPEG tracks (stsd/stsz/stsc/stco walk + per-
    frame JPEG decode); inter-coded codecs degrade to status='failed'
    rows. Output explodes (frames >= videos), so the op stays a
    mapInArrow flat-map — no shuffle is introduced."""
    from ..kernels.video import sample_frames

    def frame_rows(row: dict) -> list[dict]:
        mid = row["media_id"]
        try:
            return [dict(media_id=mid, frame_index=idx, width=w, height=h,
                         mean_r=mean_r, status="ok")
                    for idx, w, h, mean_r in sample_frames(
                        row["payload"] or b"", every_n)]
        except Exception as e:
            return [dict(media_id=mid, status="failed",
                         error=f"{type(e).__name__}: {e}")]

    return _map_rows(df, ["media_id", "payload"], frame_rows, FRAME_SCHEMA,
                     num_partitions)


RESIZE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("mean_r", T.DoubleType()),
    T.StructField("mean_g", T.DoubleType()),
    T.StructField("mean_b", T.DoubleType()),
    T.StructField("status", T.StringType()),
    T.StructField("error", T.StringType()),
])


def resize_media(df: DataFrame, out_w: int, out_h: int,
                 num_partitions: int | None = None) -> DataFrame:
    """Decode + nearest-neighbor resize + channel means — the thumbnail
    stage of a media pipeline, end-to-end real for PNG/BMP/GIF."""
    from ..kernels.image import decode_any, resize_image

    def resize_row(row: dict) -> list[dict]:
        import numpy as np

        mid = row["media_id"]
        try:
            img = resize_image(decode_any(row["payload"] or b""), out_w, out_h)
            means = img.pixels.astype(np.float64).mean(axis=(0, 1)) / 255.0
            return [dict(media_id=mid, width=img.width, height=img.height,
                         mean_r=round(float(means[0]), 6),
                         mean_g=round(float(means[1]), 6),
                         mean_b=round(float(means[2]), 6),
                         status="ok")]
        except Exception as e:
            return [dict(media_id=mid, status="failed",
                         error=f"{type(e).__name__}: {e}")]

    return _map_rows(df, ["media_id", "payload"], resize_row, RESIZE_SCHEMA,
                     num_partitions)


CONTAINER_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("container", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("duration_ms", T.LongType()),
    T.StructField("video_codec", T.StringType()),
    T.StructField("audio_codec", T.StringType()),
    T.StructField("fps", T.DoubleType()),
    T.StructField("n_tracks", T.IntegerType()),
    T.StructField("status", T.StringType()),
    T.StructField("error", T.StringType()),
])


def extract_container_meta(df: DataFrame,
                           num_partitions: int | None = None) -> DataFrame:
    """video table (media_id, payload) -> WebM/Matroska (EBML walk) or
    AVI (RIFF walk) header metadata; same map-only shape as
    extract_video_meta (the MP4 twin)."""
    from ..kernels.video import parse_avi, parse_webm

    def container_row(row: dict) -> list[dict]:
        payload = row["payload"] or b""
        mid = row["media_id"]
        try:
            if payload[:4] == b"\x1aE\xdf\xa3":
                m = parse_webm(payload)
                out = dict(
                    media_id=mid, container=m.doctype, width=m.width,
                    height=m.height, duration_ms=m.duration_ms,
                    video_codec=m.video_codec,
                    audio_codec=m.audio_codec,
                    n_tracks=m.n_tracks, status="ok")
            else:
                a = parse_avi(payload)
                out = dict(
                    media_id=mid, container="avi", width=a.width,
                    height=a.height, duration_ms=a.duration_ms,
                    video_codec=a.video_codec,
                    audio_codec="pcm" if a.audio_streams else None,
                    fps=a.fps, n_tracks=a.n_streams, status="ok")
            return [fit_ints(out, CONTAINER_SCHEMA)]
        except Exception as e:
            return [dict(media_id=mid, status="failed",
                         error=f"{type(e).__name__}: {e}")]

    return _map_rows(df, ["media_id", "payload"], container_row,
                     CONTAINER_SCHEMA, num_partitions)
