"""Multimodal (image/audio/video) column handling.

Design (SURVEY.md §7 step 7): media travel as opaque ``binary`` payload
columns next to typed metadata — the lakehouse-native pattern (same as
Spark's built-in ``binaryFile`` source schema). All heavy per-asset work
(decode, resize, feature-extract, frame-sample) runs as Arrow-batched
``mapInPandas`` over the payload column.

Decode is REAL: image payloads are PNG containers decoded with Pillow
when installed, else the pure-stdlib zlib decoder in
``functions/codecs.py``; audio payloads are PCM16 WAV decoded with the
stdlib ``wave`` module. Features are computed from actual pixel / sample
arrays (dimensions, channel stats, RMS, zero-crossing rate). A payload
that fails to decode falls back to a clearly-labelled ``stub-sha256``
byte-hash feature instead of failing the job — the dead-letter-style
behavior for corrupt media.

Scale notes: payloads dominate bytes, so the operative knobs are
``spark.sql.files.maxPartitionBytes`` (keep decoded batches within
executor memory) and ``spark.sql.execution.arrow.maxRecordsPerBatch``
(bound the pandas batch). Feature extraction is embarrassingly parallel —
no shuffle; downstream joins should carry only (asset_id, features),
never the payload.
"""

from __future__ import annotations

import hashlib
import io
import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from streaming_etl_pipeline_spark.functions.codecs import (
    png_decode,
    png_encode,
    wav_decode,
    wav_encode,
)

ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio
        T.StructField("payload", T.BinaryType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("n_bytes", T.IntegerType(), False),
                ]
            ),
            False,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("payload_sha256", T.StringType(), False),
        T.StructField("byte_entropy", T.DoubleType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), False),
        T.StructField("decoder", T.StringType(), False),
    ]
)

IMG_SIZE = 64
AUDIO_RATE = 16000
AUDIO_SAMPLES = 16000  # 1 second of PCM16


def _det_bytes(seed: str, n: int) -> bytes:
    """Deterministic pseudo-random bytes: counter-mode sha256 of the seed."""
    out = bytearray()
    i = 0
    while len(out) < n:
        out += hashlib.sha256(f"{seed}#{i}".encode()).digest()
        i += 1
    return bytes(out[:n])


def synthesize_assets(spark: SparkSession, n: int = 100) -> DataFrame:
    """Deterministic fake asset table with REAL media payloads: even ids
    carry a 64×64 RGB PNG, odd ids a 1-second PCM16 WAV — both derived
    from the asset id via counter-mode sha256, so every run produces the
    same bytes. Stands in for a ``spark.read.format("binaryFile")`` scan;
    generation runs distributed via Arrow-batched ``mapInPandas``."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, kinds, payloads, metas = [], [], [], []
            for aid in pdf["id"]:
                aid = int(aid)
                if aid % 2 == 0:
                    arr = np.frombuffer(
                        _det_bytes(f"img{aid}", IMG_SIZE * IMG_SIZE * 3),
                        dtype=np.uint8,
                    ).reshape(IMG_SIZE, IMG_SIZE, 3)
                    payload = png_encode(arr)
                    meta = {
                        "width": IMG_SIZE,
                        "height": IMG_SIZE,
                        "sample_rate": None,
                        "n_bytes": len(payload),
                    }
                    kinds.append("image")
                else:
                    samples = np.frombuffer(
                        _det_bytes(f"aud{aid}", AUDIO_SAMPLES * 2), dtype="<i2"
                    )
                    payload = wav_encode(samples, AUDIO_RATE)
                    meta = {
                        "width": None,
                        "height": None,
                        "sample_rate": AUDIO_RATE,
                        "n_bytes": len(payload),
                    }
                    kinds.append("audio")
                ids.append(aid)
                payloads.append(payload)
                metas.append(meta)
            yield pd.DataFrame(
                {"asset_id": ids, "kind": kinds, "payload": payloads, "meta": metas}
            )

    return spark.range(n).mapInPandas(gen, schema=ASSET_SCHEMA)


def _decode_image(payload: bytes) -> tuple[np.ndarray, str]:
    """Pillow when installed, stdlib PNG decoder otherwise. Returns
    (H, W, C) uint8 pixels + the decoder name."""
    try:
        from PIL import Image

        arr = np.asarray(Image.open(io.BytesIO(payload)))
        if arr.ndim == 2:
            arr = arr[:, :, None]
        return arr.astype(np.uint8), "pillow"
    except ImportError:
        return png_decode(payload), "png-stdlib"


def _decode_payload(kind: str, payload: bytes) -> tuple[list[float], str]:
    """Decode an asset and compute an 8-dim feature vector from the
    actual pixels / samples:

    - image: [width, height, channels, mean, std, min, max, mean(ch0)]
      over pixels scaled to [0, 1];
    - audio: [sample_rate, n_samples, rms, zero_cross_rate, mean, min,
      max, peak] over samples scaled to [-1, 1].

    An undecodable payload yields the labelled ``stub-sha256`` fallback
    (byte-hash features) instead of failing the batch.
    """
    try:
        if kind == "image":
            arr, decoder = _decode_image(payload)
            h, w, c = arr.shape
            x = arr.astype(np.float64) / 255.0
            feat = [
                float(w),
                float(h),
                float(c),
                round(float(x.mean()), 6),
                round(float(x.std()), 6),
                round(float(x.min()), 6),
                round(float(x.max()), 6),
                round(float(x[..., 0].mean()), 6),
            ]
            return feat, decoder
        samples, rate = wav_decode(payload)
        x = samples.astype(np.float64) / 32768.0
        flat = x.mean(axis=1) if x.ndim > 1 else x
        zc = (
            float(np.mean(np.signbit(flat[1:]) != np.signbit(flat[:-1])))
            if len(flat) > 1
            else 0.0
        )
        feat = [
            float(rate),
            float(len(flat)),
            round(float(np.sqrt(np.mean(flat**2))), 6),
            round(zc, 6),
            round(float(flat.mean()), 6),
            round(float(flat.min()), 6),
            round(float(flat.max()), 6),
            round(float(np.abs(flat).max()), 6),
        ]
        return feat, "wav-stdlib"
    except Exception:
        digest = hashlib.sha256(payload).digest()
        return [round(b / 255.0, 6) for b in digest[:8]], "stub-sha256"


def _byte_entropy(payload: bytes) -> float:
    counts: dict[int, int] = {}
    for b in payload:
        counts[b] = counts.get(b, 0) + 1
    n = len(payload)
    return round(
        -sum(c / n * math.log2(c / n) for c in counts.values()), 6
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("resizer", T.StringType(), False),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("frame_index", T.IntegerType(), False),
        T.StructField("frame_payload", T.BinaryType(), False),
        T.StructField("sampler", T.StringType(), False),
    ]
)


def _resize_nn(arr: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resample via integer index sampling — identical
    output whichever library decoded the pixels."""
    h, w = arr.shape[:2]
    ys = (np.arange(height) * h) // height
    xs = (np.arange(width) * w) // width
    return arr[ys][:, xs]


def resize_images(assets: DataFrame, width: int = 32, height: int = 32) -> DataFrame:
    """Resize image assets to width×height via Arrow-batched mapInPandas:
    real decode (Pillow or stdlib PNG), nearest-neighbor resample, PNG
    re-encode. Corrupt payloads fall back to a labelled sha256 stand-in.
    One narrow projection — no shuffle at any scale."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, resizers = [], []
            for payload in pdf["payload"]:
                payload = bytes(payload)
                try:
                    arr, decoder = _decode_image(payload)
                    out = png_encode(_resize_nn(arr, width, height))
                    payloads.append(out)
                    resizers.append(f"{decoder}+nn")
                except Exception:
                    seed = hashlib.sha256(
                        payload + f":{width}x{height}".encode()
                    ).digest()
                    payloads.append(seed * ((width * height) // len(seed) + 1))
                    resizers.append("stub-sha256")
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "kind": pdf["kind"],
                    "payload": payloads,
                    "width": width,
                    "height": height,
                    "resizer": resizers,
                }
            )

    return (
        assets.filter(F.col("kind") == "image")
        .select("asset_id", "kind", "payload")
        .mapInPandas(run, schema=RESIZED_SCHEMA)
    )


def sample_frames(assets: DataFrame, n_frames: int = 4) -> DataFrame:
    """Sample n frames per audio/video asset — the row-exploding shape
    (one input asset → n output rows) via mapInPandas.

    Audio: real WAV decode, n equal PCM chunks, each re-encoded as a
    standalone WAV at the source rate ("wav-chunks"). Undecodable
    payloads fall back to deterministic slice hashes. Frames stream out
    per Arrow batch — the payload is never amplified n× in one buffer.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames, samplers = [], [], [], []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                payload = bytes(payload)
                try:
                    samples, rate = wav_decode(payload)
                    step = max(len(samples) // n_frames, 1)
                    for i in range(n_frames):
                        chunk = samples[i * step : (i + 1) * step]
                        if len(chunk) == 0:
                            chunk = samples[-step:]
                        ids.append(aid)
                        idxs.append(i)
                        frames.append(wav_encode(chunk, rate))
                        samplers.append("wav-chunks")
                except Exception:
                    step = max(len(payload) // n_frames, 1)
                    for i in range(n_frames):
                        raw = payload[i * step : (i + 1) * step] or payload[-step:]
                        ids.append(aid)
                        idxs.append(i)
                        frames.append(hashlib.sha256(raw).digest())
                        samplers.append("stub-slicehash")
            yield pd.DataFrame(
                {
                    "asset_id": ids,
                    "frame_index": idxs,
                    "frame_payload": frames,
                    "sampler": samplers,
                }
            )

    return (
        assets.filter(F.col("kind") != "image")
        .select("asset_id", "payload")
        .mapInPandas(run, schema=FRAME_SCHEMA)
    )


def extract_features(assets: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the payload column.

    ``mapInPandas`` receives an iterator of pandas batches (never the
    whole partition) — memory stays bounded by the Arrow batch size no
    matter how large the partition's payload bytes are.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, decoders, entropies, hashes = [], [], [], []
            for kind, payload in zip(pdf["kind"], pdf["payload"]):
                payload = bytes(payload)
                f, d = _decode_payload(kind, payload)
                feats.append(f)
                decoders.append(d)
                entropies.append(_byte_entropy(payload))
                hashes.append(hashlib.sha256(payload).hexdigest())
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(len).astype("int32"),
                    "payload_sha256": hashes,
                    "byte_entropy": entropies,
                    "feature": feats,
                    "decoder": decoders,
                }
            )

    return assets.select("asset_id", "kind", "payload").mapInPandas(
        run, schema=FEATURE_SCHEMA
    )


# ---------------------------------------------------------------------------
# Perceptual image hashing (dHash) + near-duplicate detection
# ---------------------------------------------------------------------------

DHASH_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("dhash", T.LongType(), False),
        T.StructField("decoder", T.StringType(), False),
    ]
)


def _dhash64(arr: np.ndarray) -> int:
    """64-bit difference hash: grayscale → 9×8 nearest-neighbor resample
    → bit i set iff pixel[r, c] > pixel[r, c+1]. Robust to re-encoding,
    resizing and small brightness shifts (monotone transforms preserve
    the comparisons); Hamming distance measures perceptual change."""
    gray = arr.astype(np.float64).mean(axis=2) if arr.ndim == 3 else arr
    small = _resize_nn(gray, 9, 8)
    bits = (small[:, :-1] > small[:, 1:]).flatten()
    h = 0
    for b in bits:
        h = (h << 1) | int(b)
    # keep positive in a signed 64-bit long (Spark LongType)
    return h & 0x7FFFFFFFFFFFFFFF


def image_dhash(assets: DataFrame) -> DataFrame:
    """Per-image perceptual hash via Arrow-batched ``mapInPandas`` —
    0-shuffle; the payload never crosses the wire. Corrupt payloads get
    a sha256-derived stand-in hash (labelled) so the pipeline is total.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes, decoders = [], [], []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                payload = bytes(payload)
                try:
                    arr, decoder = _decode_image(payload)
                    hashes.append(_dhash64(arr))
                    decoders.append(decoder)
                except Exception:
                    digest = hashlib.sha256(payload).digest()
                    hashes.append(
                        int.from_bytes(digest[:8], "big") & 0x7FFFFFFFFFFFFFFF
                    )
                    decoders.append("stub-sha256")
                ids.append(int(aid))
            yield pd.DataFrame(
                {"asset_id": ids, "dhash": hashes, "decoder": decoders}
            )

    return (
        assets.filter(F.col("kind") == "image")
        .select("asset_id", "payload")
        .mapInPandas(run, schema=DHASH_SCHEMA)
    )


# ---------------------------------------------------------------------------
# Oracle-exact pixel/sample statistics (decode verified end-to-end)
# ---------------------------------------------------------------------------

PIXEL_STATS_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n", T.LongType(), False),
        T.StructField("lo", T.LongType(), False),
        T.StructField("hi", T.LongType(), False),
        T.StructField("m1", T.DoubleType(), False),
        T.StructField("m2", T.DoubleType(), False),
        T.StructField("m3", T.DoubleType(), False),
    ]
)


def _round6(x: float) -> float:
    """floor(x·1e6 + 0.5)/1e6 — one IEEE multiply/add/floor/divide, so
    Python, Spark and DuckDB produce the identical double (decimal-
    semantics ``round`` differs subtly between engines)."""
    import math as _m

    return _m.floor(x * 1e6 + 0.5) / 1e6


def pixel_stats(assets: DataFrame) -> DataFrame:
    """Decode every asset and emit INTEGER-EXACT content statistics:

    - image: n pixels·channels, min/max byte, mean, std, channel-0 mean
      (all derived from integer byte sums — exact rationals);
    - audio: n samples, min/max sample, mean, RMS, zero-cross rate.

    Because the test payloads are counter-mode sha256 streams, a SQL
    oracle can regenerate the ORIGINAL pixel/sample values and compute
    the same integers — so the real decode path (PNG/zlib, WAV) is
    verified end-to-end: a single flipped bit anywhere in encode→decode
    changes an exact integer sum and fails the gate.
    """
    import math as _m

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in
                   ("asset_id", "kind", "n", "lo", "hi", "m1", "m2", "m3")}
            for aid, kind, payload in zip(
                pdf["asset_id"], pdf["kind"], pdf["payload"]
            ):
                payload = bytes(payload)
                if kind == "image":
                    arr, _ = _decode_image(payload)
                    flat = arr.astype(np.int64).ravel()
                    n = int(flat.size)
                    s = int(flat.sum())
                    sq = int((flat * flat).sum())
                    ch0 = arr[..., 0].astype(np.int64)
                    s0, n0 = int(ch0.sum()), int(ch0.size)
                    mean = s / (n * 255)
                    var = sq / (n * 255 * 255) - mean * mean
                    out["n"].append(n)
                    out["lo"].append(int(flat.min()))
                    out["hi"].append(int(flat.max()))
                    out["m1"].append(_round6(mean))
                    out["m2"].append(_round6(_m.sqrt(max(var, 0.0))))
                    out["m3"].append(_round6(s0 / (n0 * 255)))
                else:
                    samples, rate = wav_decode(payload)
                    flat = samples.astype(np.int64).ravel()
                    n = int(flat.size)
                    s = int(flat.sum())
                    sq = int((flat * flat).sum())
                    neg = flat < 0
                    zc = int((neg[1:] != neg[:-1]).sum())
                    out["n"].append(n)
                    out["lo"].append(int(flat.min()))
                    out["hi"].append(int(flat.max()))
                    out["m1"].append(_round6(s / (n * 32768)))
                    out["m2"].append(_round6(_m.sqrt(sq / (n * 32768.0 * 32768.0))))
                    out["m3"].append(_round6(zc / (n - 1)))
                out["asset_id"].append(int(aid))
                out["kind"].append(str(kind))
            yield pd.DataFrame(out)

    return assets.select("asset_id", "kind", "payload").mapInPandas(
        run, schema=PIXEL_STATS_SCHEMA
    )
