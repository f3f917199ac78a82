"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The decode/feature libraries (PIL/ffmpeg/librosa) are not in this container,
so the *decode kernels* are stubbed deterministically — but the Spark-side
plumbing (schemas, Arrow batch shapes, mapInPandas partitioning) is real and
tested.  Swapping a stub for a real decoder changes one function body, not
the pipeline.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (BinaryType, IntegerType, LongType, StringType,
                               StructField, StructType)

#: canonical multimodal asset schema: binary payload + typed metadata.
ASSET_SCHEMA = StructType([
    StructField("asset_id", LongType()),
    StructField("modality", StringType()),      # image | audio | video
    StructField("media_type", StringType()),    # e.g. image/png
    StructField("payload", BinaryType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("duration_ms", LongType()),
])


def synthesize_assets(spark, n: int = 64) -> DataFrame:
    """Deterministic fake asset table (payload = hashed bytes) for tests."""
    df = spark.range(n).select(
        F.col("id").alias("asset_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                     (F.col("id") % 3 + 1).cast("int")).alias("modality"),
        F.lit("application/octet-stream").alias("media_type"),
        F.encode(F.concat(F.lit("payload-"), F.col("id").cast("string")), "utf-8").alias("payload"),
        (F.col("id") % 640 + 1).cast("int").alias("width"),
        (F.col("id") % 480 + 1).cast("int").alias("height"),
        (F.col("id") * 40 + 1000).alias("duration_ms"),
    )
    return df


def encode_wav(samples, rate: int = 8000) -> bytes:
    """Encode int16 mono samples as a PCM WAV — stdlib `wave`, no deps."""
    import io as _io
    import wave

    import numpy as np

    buf = _io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def decode_audio_raw(payload: bytes):
    """REAL audio decode with no external dependency: PCM WAV → (rate,
    int16 numpy array).  Compressed codecs (mp3/ogg) would gate on
    ffmpeg/librosa; this path proves decode→feature end-to-end."""
    import io as _io
    import wave

    import numpy as np

    with wave.open(_io.BytesIO(payload), "rb") as w:
        if w.getsampwidth() != 2 or w.getnchannels() != 1:
            raise ValueError("only 16-bit mono PCM WAV supported")
        rate = w.getframerate()
        data = np.frombuffer(w.readframes(w.getnframes()), dtype="<i2")
    return rate, data


AUDIO_STATS_SCHEMA = StructType([
    StructField("asset_id", LongType()),
    StructField("rate", IntegerType()),
    StructField("n_samples", LongType()),
    StructField("duration_ms", LongType()),
    StructField("peak", IntegerType()),
    StructField("rms", StringType()),   # rounded string: exact compare
])


def audio_stats(assets: DataFrame) -> DataFrame:
    """mapInPandas REAL decode + feature extraction over WAV payloads:
    sample rate, length, peak and RMS from the decoded PCM stream."""

    def kernel(batches):
        import math

        import pandas as pd

        for pdf in batches:
            rows = {k: [] for k in ("asset_id", "rate", "n_samples",
                                    "duration_ms", "peak", "rms")}
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                rate, data = decode_audio_raw(bytes(payload))
                rows["asset_id"].append(aid)
                rows["rate"].append(rate)
                rows["n_samples"].append(len(data))
                rows["duration_ms"].append(len(data) * 1000 // rate)
                rows["peak"].append(int(abs(data.astype("int64")).max())
                                    if len(data) else 0)
                sq = (data.astype("float64") ** 2).sum()
                rows["rms"].append(f"{math.sqrt(sq / max(len(data), 1)):.4f}")
            yield pd.DataFrame(rows)

    return assets.filter(F.col("modality") == "audio") \
        .select("asset_id", "payload").mapInPandas(kernel, AUDIO_STATS_SCHEMA)


def synthesize_wav_assets(spark, n: int = 8, rate: int = 8000,
                          n_samples: int = 256) -> DataFrame:
    """Asset table whose audio payloads are REAL PCM WAVs — int16 sawtooth
    patterns with a closed-form sum of squares, so an analytic oracle can
    certify the decoded RMS."""
    rows = []
    for i in range(n):
        amp = 1000 * (i + 1)
        # sawtooth: sample k = amp * ((k % 8) - 3)  in [-3a, 4a]
        samples = [amp * ((k % 8) - 3) for k in range(n_samples)]
        rows.append((i, "audio", "audio/wav",
                     bytearray(encode_wav(samples, rate)), 0, 0,
                     n_samples * 1000 // rate))
    return spark.createDataFrame(rows, ASSET_SCHEMA)


def synthesize_ppm_assets(spark, n: int = 16) -> DataFrame:
    """Asset table whose image payloads are REAL binary PPM images
    (deterministic gradient patterns) — drives the genuine
    decode→feature path in any environment.  Built driver-side (test
    fixture; production assets stream from object storage)."""
    import numpy as np

    rows = []
    for i in range(n):
        w, h = 8 + (i % 5), 6 + (i % 4)
        y, x = np.mgrid[0:h, 0:w]
        arr = np.stack([
            (x * 255 // max(w - 1, 1)),
            (y * 255 // max(h - 1, 1)),
            np.full((h, w), i * 13 % 256),
        ], axis=-1).astype(np.uint8)
        rows.append((i, "image", "image/x-portable-pixmap",
                     bytearray(encode_ppm(arr)), w, h, 0))
    return spark.createDataFrame(rows, ASSET_SCHEMA)


try:  # decode backend gated on availability, not hard-stubbed
    from PIL import Image as _PILImage  # noqa: N811
except ImportError:
    _PILImage = None


# ------------------------------------------------- dependency-free raw codecs

def encode_ppm(arr) -> bytes:
    """Encode an (h, w, 3) uint8 array as binary PPM (P6) — the classic
    uncompressed interchange format; numpy-only."""
    h, w, _ = arr.shape
    import numpy as np
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(
        arr, dtype=np.uint8).tobytes()


def decode_image_raw(payload: bytes):
    """REAL image decode with no external dependency: binary PPM (P6) →
    (h, w, 3) uint8 numpy array.  Compressed formats (png/jpeg) route to
    the PIL-gated :func:`decode_image`; this path proves the decode →
    feature pipeline end-to-end in any environment."""
    import numpy as np

    if payload[:2] != b"P6":
        raise ValueError("unsupported raw image format (PPM P6 expected)")
    parts: list[int] = []
    i = 2
    while len(parts) < 3:
        while i < len(payload) and payload[i:i + 1] in b" \t\r\n":
            i += 1
        if payload[i:i + 1] == b"#":  # comment line
            i = payload.index(b"\n", i) + 1
            continue
        j = i
        while j < len(payload) and payload[j:j + 1] not in b" \t\r\n":
            j += 1
        parts.append(int(payload[i:j]))
        i = j
    i += 1  # exactly one whitespace byte separates maxval from the raster
    w, h, maxv = parts
    if maxv != 255:
        raise ValueError("only maxval=255 PPM supported")
    arr = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=i)
    return arr.reshape(h, w, 3)


def resize_image_raw(payload: bytes, width: int, height: int) -> bytes:
    """Nearest-neighbor resize of a PPM payload — numpy index arithmetic,
    no PIL."""
    import numpy as np

    arr = decode_image_raw(payload)
    h, w, _ = arr.shape
    yi = (np.arange(height) * h // height).clip(0, h - 1)
    xi = (np.arange(width) * w // width).clip(0, w - 1)
    return encode_ppm(arr[yi][:, xi])


IMAGE_STATS_SCHEMA = StructType([
    StructField("asset_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("mean_r", StringType()),   # rounded strings: exact compare
    StructField("mean_g", StringType()),
    StructField("mean_b", StringType()),
])


def image_stats(assets: DataFrame, batch_size: int = 1024) -> DataFrame:
    """mapInPandas REAL decode + feature extraction over PPM payloads:
    per-asset dimensions and channel means, computed from the decoded
    pixel array (no digest stand-in, no PIL)."""

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            rows = {"asset_id": [], "width": [], "height": [],
                    "mean_r": [], "mean_g": [], "mean_b": []}
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                arr = decode_image_raw(bytes(payload))
                h, w, _ = arr.shape
                rows["asset_id"].append(aid)
                rows["width"].append(w)
                rows["height"].append(h)
                m = arr.reshape(-1, 3).mean(axis=0)
                rows["mean_r"].append(f"{m[0]:.4f}")
                rows["mean_g"].append(f"{m[1]:.4f}")
                rows["mean_b"].append(f"{m[2]:.4f}")
            yield pd.DataFrame(rows)

    return assets.filter(F.col("modality") == "image") \
        .select("asset_id", "payload").mapInPandas(kernel, IMAGE_STATS_SCHEMA)


def decode_image(payload: bytes) -> "object":
    """Decode an image payload to a PIL Image when PIL is available;
    otherwise raise with a clear installation hint.  The Spark-side plumbing
    (binary column → mapInPandas batch → typed features) is identical either
    way — only this per-payload kernel call changes with the environment."""
    if _PILImage is None:
        raise NotImplementedError(
            "image decode requires Pillow (pip install Pillow); "
            "feature extraction runs with the digest kernel meanwhile")
    import io as _io

    return _PILImage.open(_io.BytesIO(payload))


FEATURE_SCHEMA = StructType([
    StructField("asset_id", LongType()),
    StructField("modality", StringType()),
    StructField("feat_dim", IntegerType()),
    StructField("feature", StringType()),   # hex digest standing in for a tensor
])


def extract_features(assets: DataFrame, batch_size: int = 1024) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    The kernel is the real shape (Arrow batches of binary columns → feature
    rows); the per-payload transform is a deterministic digest standing in for
    a model forward pass.
    """

    def kernel(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            feats = [hashlib.sha256(bytes(p)).hexdigest() for p in pdf["payload"]]
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"],
                "modality": pdf["modality"],
                "feat_dim": [32] * len(pdf),
                "feature": feats,
            })

    return assets.mapInPandas(kernel, FEATURE_SCHEMA)


def frame_sample_plan(assets: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plan: one row per (asset, frame timestamp).

    Pure ``sequence``/``explode`` — demonstrates how a 100 TB video corpus
    fans out to frame work-items without any Python in the planning path.
    """
    return (
        assets.filter(F.col("modality") == "video")
        .select(
            "asset_id",
            F.explode(F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms))).alias("frame_ms"),
        )
    )


# ------------------------------------------------------------------ video

def encode_y4m(frames, fps: int = 25) -> bytes:
    """Encode grayscale frames as a REAL YUV4MPEG2 (y4m) stream — the
    uncompressed interchange format every video toolchain reads; Cmono
    color space, stdlib only.  ``frames``: list of (h, w) uint8 arrays."""
    import numpy as np

    h, w = frames[0].shape
    head = f"YUV4MPEG2 W{w} H{h} F{fps}:1 Ip A1:1 Cmono\n".encode()
    out = [head]
    for fr in frames:
        out.append(b"FRAME\n")
        out.append(np.asarray(fr, dtype=np.uint8).tobytes())
    return b"".join(out)


def decode_video_y4m(payload: bytes):
    """REAL video decode with no external dependency: YUV4MPEG2 →
    (width, height, fps, [luma frames]).  Cmono and C420-family streams
    are supported (chroma planes are skipped — features here are luma);
    compressed containers (mp4/webm) would gate on ffmpeg."""
    import numpy as np

    nl = payload.index(b"\n")
    head = payload[:nl].decode()
    if not head.startswith("YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    w = h = fps = 0
    chroma = "420"
    for tok in head.split()[1:]:
        if tok[0] == "W":
            w = int(tok[1:])
        elif tok[0] == "H":
            h = int(tok[1:])
        elif tok[0] == "F":
            fps = int(tok[1:].split(":")[0])
        elif tok[0] == "C":
            chroma = tok[1:]
    if not w or not h:
        raise ValueError("y4m header missing W/H")
    luma = w * h
    if chroma.startswith("mono"):
        fsize = luma
    elif chroma.startswith("444"):
        fsize = luma * 3
    else:                       # 420 family
        fsize = luma + 2 * ((w // 2) * (h // 2))
    frames = []
    pos = nl + 1
    while pos < len(payload):
        fnl = payload.index(b"\n", pos)
        if not payload[pos:fnl].startswith(b"FRAME"):
            raise ValueError("bad FRAME marker")
        pos = fnl + 1
        frames.append(np.frombuffer(
            payload[pos:pos + luma], dtype=np.uint8).reshape(h, w))
        pos += fsize
    return w, h, fps, frames


VIDEO_FRAME_SCHEMA = StructType([
    StructField("asset_id", LongType()),
    StructField("frame_no", IntegerType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("fps", IntegerType()),
    StructField("sum_luma", LongType()),     # exact integer: oracle-safe
])


def video_frame_stats(assets: DataFrame, every_n: int = 1) -> DataFrame:
    """mapInPandas REAL decode + frame sampling over y4m payloads: one row
    per sampled frame with its exact luma sum — the decode→frame-sample→
    feature path the plan-level frame_sample_plan only schedules.

    100 TB shape: Arrow batches of (asset_id, payload); one asset never
    splits across tasks, assets parallelize freely; only fixed-width
    features leave the kernel."""

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            rows = {k: [] for k in ("asset_id", "frame_no", "width",
                                    "height", "fps", "sum_luma")}
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                w, h, fps, frames = decode_video_y4m(bytes(payload))
                for fno, fr in enumerate(frames):
                    if fno % every_n:
                        continue
                    rows["asset_id"].append(aid)
                    rows["frame_no"].append(fno)
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["fps"].append(fps)
                    rows["sum_luma"].append(int(fr.astype("int64").sum()))
            yield pd.DataFrame(rows)

    return assets.filter(F.col("modality") == "video") \
        .select("asset_id", "payload").mapInPandas(kernel, VIDEO_FRAME_SCHEMA)


def synthesize_y4m_assets(spark, n: int = 6, w: int = 16, h: int = 16,
                          fps: int = 25) -> DataFrame:
    """Asset table whose video payloads are REAL y4m streams with a
    deterministic luma pattern — pixel k of frame f in asset a is
    ``(a*7 + f*31 + k) % 251`` — so a SQL oracle recomputes every frame's
    exact luma sum from the formula alone."""
    import numpy as np

    rows = []
    for a in range(n):
        n_frames = 3 + a % 3
        frames = [
            ((a * 7 + f * 31 + np.arange(w * h, dtype=np.int64)) % 251)
            .astype(np.uint8).reshape(h, w)
            for f in range(n_frames)
        ]
        rows.append((a, "video", "video/x-yuv4mpeg",
                     bytearray(encode_y4m(frames, fps)), w, h,
                     n_frames * 1000 // fps))
    return spark.createDataFrame(rows, ASSET_SCHEMA)
