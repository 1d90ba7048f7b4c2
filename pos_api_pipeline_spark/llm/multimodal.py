"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video are modelled as ``binary`` columns with a typed
metadata struct — the lakehouse-standard layout (one row per asset,
bytes inline for small assets, URI for large). The Spark-side
plumbing here is real and tested: schemas, Arrow-batched Pandas UDF
signatures via ``mapInPandas``, partition sizing. The actual codec
work is stubbed deterministically because image/audio libraries are
not in this container — each stub documents exactly where the real
decoder plugs in.

Scale notes: binary payloads make rows wide — partition sizing must
come from ``spark.sql.files.maxPartitionBytes`` (bytes), never row
counts; ``mapInPandas`` streams Arrow batches so peak memory is one
batch, not one partition.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("modality", T.StringType()),  # image|audio|video
        T.StructField("payload", T.BinaryType()),
        T.StructField("media_type", T.StringType()),  # e.g. image/png
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.LongType()),
                    T.StructField("sample_rate", T.IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("modality", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("payload_hash", T.StringType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def _decode_features(payload: bytes, n_dims: int = 8) -> list[float]:
    """Feature extraction with TWO real codec paths: PNG payloads are
    actually decoded (stdlib zlib — llm/png.py) and yield per-channel
    mean/std pixel statistics; PCM WAV payloads are actually parsed
    (llm/wav.py) and yield duration/rms/peak/zero-crossing features.
    Other formats fall through to the deterministic byte-hash
    stand-in below, where a real decoder (PIL, torchaudio) plugs in;
    everything around this function (batching, schema, partitioning)
    is production-shaped either way.
    """
    if payload is None:
        return []
    from pos_api_pipeline_spark.llm.png import channel_stats, decode_png, is_png
    from pos_api_pipeline_spark.llm.wav import audio_features, is_wav

    if is_png(payload):
        try:
            feats = channel_stats(decode_png(payload))[:n_dims]
            return feats + [0.0] * (n_dims - len(feats))
        except NotImplementedError:
            pass  # exotic PNG variant → hash fallback
    if is_wav(payload):
        try:
            a = audio_features(payload)
            feats = [a["duration_s"], a["rms"], a["peak"], a["zcr"]][:n_dims]
            return feats + [0.0] * (n_dims - len(feats))
        except NotImplementedError:
            pass  # compressed audio → hash fallback
    h = 1469598103934665603
    feats = []
    for i in range(n_dims):
        acc = h ^ (i * 1099511628211)
        for b in payload[:256]:
            acc = ((acc ^ b) * 1099511628211) % (1 << 64)
        feats.append((acc % 10_000) / 10_000.0)
    return feats


def extract_features(assets: DataFrame, n_dims: int = 8) -> DataFrame:
    """Decode/feature-extract over binary payloads via ``mapInPandas``.

    Arrow streams batches of (asset_id, modality, payload) into
    pandas; each batch yields one feature frame. Column pruning
    upstream means only the payload bytes actually needed cross into
    Python.
    """
    import pandas as pd

    pruned = assets.select("asset_id", "modality", "payload")

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib

        for pdf in it:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "n_bytes": pdf["payload"].map(
                        lambda p: len(p) if p is not None else 0
                    ),
                    "payload_hash": pdf["payload"].map(
                        lambda p: hashlib.md5(p).hexdigest() if p is not None else None
                    ),
                    "feature": pdf["payload"].map(
                        lambda p: _decode_features(p, n_dims)
                    ),
                }
            )

    return pruned.mapInPandas(batches, schema=FEATURE_SCHEMA)


def resize_images(assets: DataFrame, width: int, height: int) -> DataFrame:
    """Image resize over binary payloads: PNG payloads are REALLY
    decoded → nearest-neighbor resampled → re-encoded (llm/png.py),
    with the meta struct updated to the new dimensions. Non-PNG
    payloads raise NotImplementedError — that is the stub boundary
    where a JPEG/WebP codec plugs in.
    """

    def batches(it):
        from pos_api_pipeline_spark.llm.png import (
            decode_png,
            encode_png,
            is_png,
            resize_nearest,
        )

        for pdf in it:
            def one(p):
                if not is_png(p):
                    raise NotImplementedError(
                        "resize supports PNG in this runtime; plug a codec "
                        "library (PIL) here for other formats"
                    )
                return encode_png(resize_nearest(decode_png(p), width, height))

            out = pdf.copy()
            out["payload"] = pdf["payload"].map(one)
            out["meta"] = out["meta"].map(
                lambda m: {**m, "width": width, "height": height}
            )
            yield out

    return assets.mapInPandas(batches, schema=ASSET_SCHEMA)


def resample_audio(assets: DataFrame, target_rate: int) -> DataFrame:
    """Audio resample over binary payloads: PCM WAV payloads are
    REALLY decoded → nearest-neighbor resampled → re-encoded
    (llm/wav.py), with the meta struct updated to the new rate and
    duration. Non-WAV payloads raise NotImplementedError — the stub
    boundary where a compressed-audio codec plugs in.
    """

    def batches(it):
        from pos_api_pipeline_spark.llm.wav import (
            decode_wav,
            is_wav,
            resample_nearest,
        )

        for pdf in it:
            def one(p):
                if not is_wav(p):
                    raise NotImplementedError(
                        "resample supports PCM WAV in this runtime; plug an "
                        "audio codec library here for other formats"
                    )
                return resample_nearest(p, target_rate)

            def new_meta(args):
                m, p = args
                rate, n_ch, samples = decode_wav(p)
                frames = len(samples) // max(n_ch, 1)
                return {
                    **m,
                    "sample_rate": rate,
                    "duration_ms": int(round(1000.0 * frames / rate)),
                }

            out = pdf.copy()
            out["payload"] = pdf["payload"].map(one)
            out["meta"] = list(map(new_meta, zip(pdf["meta"], out["payload"])))
            yield out

    return assets.mapInPandas(batches, schema=ASSET_SCHEMA)


def synthetic_wav_assets(
    spark,
    n: int = 8,
    sample_rate: int = 8000,
    duration_s: float = 0.05,
) -> DataFrame:
    """Deterministic sine-wave WAV assets (asset k = (220·(k+1)) Hz
    tone) for tests/benches. Payload synthesis runs on executors via
    ``mapInPandas`` over ``spark.range`` — distributed, no
    driver-side byte building."""
    import math

    import pandas as pd

    frames = int(sample_rate * duration_s)

    def gen(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from pos_api_pipeline_spark.llm.wav import encode_wav

        for pdf in it:
            rows = []
            for k in pdf["id"]:
                freq = 220.0 * (int(k) + 1)
                samples = [
                    0.5 * math.sin(2 * math.pi * freq * i / sample_rate)
                    for i in range(frames)
                ]
                rows.append(
                    {
                        "asset_id": int(k),
                        "modality": "audio",
                        "payload": encode_wav(samples, sample_rate),
                        "media_type": "audio/wav",
                        "meta": {
                            "width": None,
                            "height": None,
                            "duration_ms": int(duration_s * 1000),
                            "sample_rate": sample_rate,
                        },
                    }
                )
            yield pd.DataFrame(rows)

    return spark.range(n).mapInPandas(gen, schema=ASSET_SCHEMA)


def synthetic_assets(spark, n: int = 64) -> DataFrame:
    """Deterministic fake asset table for tests/benches: payload =
    repeated md5 bytes of the id. Built distributed via spark.range —
    no driver-side materialization."""
    base = spark.range(n).withColumnRenamed("id", "asset_id")
    return base.select(
        "asset_id",
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("asset_id") % 3 + 1).cast("int"),
        ).alias("modality"),
        F.to_binary(F.md5(F.col("asset_id").cast("string")), F.lit("utf-8")).alias(
            "payload"
        ),
        F.lit("application/octet-stream").alias("media_type"),
        F.struct(
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            F.lit(1000).cast("long").alias("duration_ms"),
            F.lit(16000).alias("sample_rate"),
        ).alias("meta"),
    )


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("phash", T.LongType()),
    ]
)


def phash_assets(assets: DataFrame) -> DataFrame:
    """Perceptual average-hash per image asset — REAL for PNG
    payloads (decode → 8×8 luma → 64-bit aHash via llm/png.py), null
    for formats this runtime cannot decode (the codec plug-in
    boundary). Arrow-batched mapInPandas; only (asset_id, payload)
    crosses into Python."""
    import pandas as pd

    pruned = assets.select("asset_id", "payload")

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from pos_api_pipeline_spark.llm.png import (
            average_hash,
            decode_png,
            is_png,
        )

        def one(p):
            if not is_png(p):
                return None
            try:
                v = average_hash(decode_png(p))
            except NotImplementedError:
                return None
            # two's-complement into a signed Spark long (bit 63 set
            # would overflow the Arrow int64 otherwise); block
            # extraction masks after the shift, so sign extension is
            # harmless downstream
            return v - (1 << 64) if v >= (1 << 63) else v

        for pdf in it:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "phash": pdf["payload"].map(one).astype("object"),
                }
            )

    return pruned.mapInPandas(batches, schema=PHASH_SCHEMA)


def image_near_dups(
    assets: DataFrame, max_hamming: int = 6, blocks: int = 8
) -> DataFrame:
    """Near-duplicate image pairs by perceptual hash: pigeonhole the
    64-bit aHash into ``blocks`` blocks; any pair within
    ``max_hamming`` bit flips must share at least one exact block
    whenever ``max_hamming < blocks`` (the defaults guarantee this),
    so candidates come from tiny block-value buckets and exact
    Hamming verifies inside them. Same bucket-pair, single-scan
    shape as the SimHash text path; nothing all-pairs."""
    h = phash_assets(assets).filter(F.col("phash").isNotNull())
    block_bits = 64 // blocks
    mask = (1 << block_bits) - 1
    blocked = h.select(
        "asset_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("blk"),
                        F.shiftright("phash", b * block_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("bval"),
                    )
                    for b in range(blocks)
                ]
            )
        ).alias("_b"),
    ).select("asset_id", "phash", "_b.blk", "_b.bval")
    buckets = (
        blocked.groupBy("blk", "bval")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("asset_id", "phash"))
            ).alias("members")
        )
        .filter(F.size("members") > 1)
    )
    m = F.col("members")
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(m) - 1),
            lambda i: F.transform(
                F.slice(m, i + 1, F.size(m) - i),
                lambda other: F.struct(
                    F.element_at(m, i)["asset_id"].alias("id_a"),
                    other["asset_id"].alias("id_b"),
                    F.bit_count(
                        F.element_at(m, i)["phash"].bitwiseXOR(
                            other["phash"]
                        )
                    ).alias("hamming"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode_outer(pairs).alias("p"))
        .filter(F.col("p").isNotNull())
        .select("p.id_a", "p.id_b", "p.hamming")
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


SPECTRAL_SCHEMA = (
    "asset_id long, sample_rate int, centroid_hz double, "
    "rolloff_hz double, bandwidth_hz double, flatness double"
)


def audio_spectral_features(assets: DataFrame) -> DataFrame:
    """Frequency-domain audio features (llm/wav.py:spectral_features)
    over WAV payloads via ``mapInPandas`` — the numpy-FFT counterpart
    to the time-domain stats in ``extract_features``. Column pruning
    upstream: only (asset_id, payload) cross into Python; the
    spectral math is vectorized per clip inside the Arrow batch.
    """
    import pandas as pd

    pruned = assets.select("asset_id", "payload")

    def batches(it):
        from pos_api_pipeline_spark.llm.wav import spectral_features

        for pdf in it:
            # One decode per payload: spectral_features carries the
            # sample rate out, so nothing re-parses the PCM stream.
            feats = [spectral_features(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "sample_rate": [int(f["sample_rate"]) for f in feats],
                    "centroid_hz": [f["centroid_hz"] for f in feats],
                    "rolloff_hz": [f["rolloff_hz"] for f in feats],
                    "bandwidth_hz": [f["bandwidth_hz"] for f in feats],
                    "flatness": [f["flatness"] for f in feats],
                }
            )

    return pruned.mapInPandas(batches, schema=SPECTRAL_SCHEMA)


FRAME_SCHEMA = (
    "asset_id long, t_ms long, frame_idx int, width int, height int, "
    "frame_png binary"
)


def sample_frames(assets: DataFrame, every_ms: int) -> DataFrame:
    """Video frame sampling over binary payloads: uncompressed AVI
    payloads are REALLY decoded (llm/avi.py, RIFF/DIB — stdlib, like
    WAV before it), one frame per ``every_ms`` window, each sampled
    frame re-encoded as PNG. Non-AVI payloads raise
    NotImplementedError — the stub boundary where an H.264/VP9 codec
    library plugs in. One output row per sampled frame (1→N,
    mapInPandas keeps it one Arrow batch at a time)."""
    import pandas as pd

    pruned = assets.select("asset_id", "payload")

    def batches(it):
        from pos_api_pipeline_spark.llm.avi import is_avi, sample_frames as sf
        from pos_api_pipeline_spark.llm.png import encode_png

        for pdf in it:
            rows = []
            for aid, p in zip(pdf["asset_id"], pdf["payload"]):
                if not is_avi(p):
                    raise NotImplementedError(
                        "frame sampling supports uncompressed AVI in this "
                        "runtime; plug a video codec library for other "
                        "formats"
                    )
                for i, (t_ms, img) in enumerate(sf(p, every_ms)):
                    rows.append(
                        {
                            "asset_id": int(aid),
                            "t_ms": int(t_ms),
                            "frame_idx": i,
                            "width": img.width,
                            "height": img.height,
                            "frame_png": encode_png(img),
                        }
                    )
            yield pd.DataFrame(rows, columns=[
                "asset_id", "t_ms", "frame_idx", "width", "height",
                "frame_png",
            ])

    return pruned.mapInPandas(batches, schema=FRAME_SCHEMA)


def synthetic_avi_assets(
    spark, n: int = 4, width: int = 8, height: int = 6,
    n_frames: int = 6, fps: int = 10,
) -> DataFrame:
    """Deterministic solid-color AVI clips (asset k, frame j is RGB
    (k*20 % 256, j*40 % 256, 128)) for tests/benches; synthesized on
    executors via mapInPandas like the WAV/PNG fixtures."""
    import pandas as pd

    def gen(it):
        from pos_api_pipeline_spark.llm.avi import encode_avi
        from pos_api_pipeline_spark.llm.png import Image

        for pdf in it:
            rows = []
            for k in pdf["id"]:
                frames = []
                for j in range(n_frames):
                    frames.append(Image(
                        width, height, 3,
                        bytearray(
                            bytes((int(k) * 20 % 256, j * 40 % 256, 128))
                            * (width * height)
                        ),
                    ))
                rows.append(
                    {
                        "asset_id": int(k),
                        "modality": "video",
                        "payload": encode_avi(frames, fps=fps),
                        "media_type": "video/x-msvideo",
                        "meta": {
                            "width": width, "height": height,
                            "sample_rate": fps, "duration_ms":
                            int(1000 * n_frames / fps),
                        },
                    }
                )
            yield pd.DataFrame(rows)

    return spark.range(n).mapInPandas(gen, schema=ASSET_SCHEMA)
