"""Multimodal column plumbing: binary payloads + typed metadata.

North-star operator family (BASELINE.json): image/audio/video as opaque
``binary`` columns with typed metadata structs; decode / feature-extract
/ resize / frame-sample as Arrow-batched ``mapInPandas`` stages.

The Spark-side plumbing here is real and tested (schemas, batch
iteration, partition sizing). Codecs are injectable callables, and the
defaults are REAL pure-numpy+stdlib implementations: ``png_decoder``
(8-bit, non-interlaced, all five scanline filters, + ``png_encode``),
``jpeg_decoder`` (baseline SOF0, 4:4:4/4:2:2/4:2:0, restart markers,
+ minimal ``jpeg_encode`` — see ``jpeg.py``), and ``wav_decoder``
(PCM via stdlib ``wave``). Video and exotic variants (progressive
JPEG, ADPCM) still require an injected library codec and raise
clearly. ``fake_image_decoder`` remains for synthetic payload tests;
swapping decoders changes only the callable, never the plumbing.

Scale notes: payloads stay in executor memory one Arrow batch at a time
(maxRecordsPerBatch bounds it); metadata-only operations (filtering by
width, sampling by duration) never touch the payload column thanks to
Parquet column pruning — keep metadata in separate top-level columns for
exactly this reason.
"""

from __future__ import annotations

from typing import Any, Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pydi_spark.blocking.base import pair_join

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("media_type", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)


def fake_image_decoder(payload: bytes) -> np.ndarray:
    """Deterministic stand-in for a real image decode: derives a tiny
    'pixel' array from the payload bytes. Replace with PIL in production."""
    if payload is None:
        raise ValueError("null payload")
    arr = np.frombuffer(payload[:48].ljust(48, b"\0"), dtype=np.uint8)
    return arr.reshape(4, 4, 3).astype(np.float32) / 255.0


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_JPEG_MAGIC = b"\xff\xd8\xff"


def png_decoder(payload: bytes) -> np.ndarray:
    """Real PNG decode with stdlib zlib + numpy — no image libraries.

    Supports 8-bit non-interlaced greyscale / grey+alpha / RGB / RGBA /
    palette images (the overwhelming majority of real PNGs); all five
    scanline filters (None/Sub/Up/Average/Paeth) are implemented. Returns
    HxWx3 float32 in [0, 1] (alpha dropped, grey broadcast). The
    per-scanline unfilter loop is python-level — fine for thumbnail-sized
    training images; a C codec (PIL) swaps in via the decoder hook for
    throughput-critical pipelines.
    """
    import struct
    import zlib

    if payload is None:
        raise ValueError("null payload")
    if not payload.startswith(_PNG_MAGIC):
        raise ValueError("not a PNG payload")
    pos, idat, plte = len(_PNG_MAGIC), b"", None
    width = height = bit_depth = color_type = interlace = None
    while pos < len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # len + type + data + crc
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    if bit_depth != 8:
        raise ValueError(f"unsupported PNG bit depth {bit_depth} (only 8)")
    if interlace != 0:
        raise ValueError("interlaced PNG not supported")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if channels is None:
        raise ValueError(f"unsupported PNG color type {color_type}")

    raw = zlib.decompress(idat)
    stride = width * channels
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG IDAT length mismatch")
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(height):
        off = y * (stride + 1)
        ftype = raw[off]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=off + 1).astype(
            np.int32
        )
        if ftype == 0:  # None
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        else:  # Sub / Average / Paeth need the in-row prior pixel
            cur = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = cur[x - channels] if x >= channels else 0
                b = prev[x]
                c = prev[x - channels] if x >= channels else 0
                if ftype == 1:  # Sub
                    pred = a
                elif ftype == 3:  # Average
                    pred = (a + b) >> 1
                elif ftype == 4:  # Paeth
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                else:
                    raise ValueError(f"bad PNG filter {ftype}")
                cur[x] = (line[x] + pred) & 0xFF
        out[y] = cur.astype(np.uint8)
        prev = cur
    px = out.reshape(height, width, channels)
    if color_type == 3:  # palette lookup
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        rgb = plte[px[:, :, 0]]
    elif channels == 1:
        rgb = np.repeat(px, 3, axis=2)
    elif channels == 2:  # grey + alpha: drop alpha, broadcast grey
        rgb = np.repeat(px[:, :, :1], 3, axis=2)
    else:  # RGB / RGBA: drop alpha
        rgb = px[:, :, :3]
    return rgb.astype(np.float32) / 255.0


def png_encode(arr: np.ndarray) -> bytes:
    """Minimal RGB8 PNG writer (filter-0 scanlines, one zlib IDAT) —
    enough to round-trip png_decoder in tests and to materialize small
    derived images without an image library."""
    import struct
    import zlib

    a = np.asarray(arr)
    if a.dtype != np.uint8:
        a = (np.clip(a, 0.0, 1.0) * 255.0 + 0.5).astype(np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError("png_encode expects HxWx3")
    h, w = a.shape[:2]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + a[y].tobytes() for y in range(h))
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def wav_decoder(payload: bytes) -> np.ndarray:
    """Real WAV (PCM) decode with stdlib ``wave`` + numpy — no audio
    libraries. Returns a float32 mono waveform in [-1, 1] (channels
    averaged). 8/16/32-bit integer PCM supported."""
    import io
    import wave

    if payload is None:
        raise ValueError("null payload")
    with wave.open(io.BytesIO(payload), "rb") as w:
        nch, sampwidth, _rate, nframes = (
            w.getnchannels(), w.getsampwidth(), w.getframerate(), w.getnframes(),
        )
        raw = w.readframes(nframes)
    if sampwidth == 1:  # unsigned 8-bit
        a = np.frombuffer(raw, dtype=np.uint8).astype(np.float32)
        a = (a - 128.0) / 128.0
    elif sampwidth == 2:
        a = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0
    elif sampwidth == 4:
        a = np.frombuffer(raw, dtype="<i4").astype(np.float32) / 2147483648.0
    else:
        raise ValueError(f"unsupported WAV sample width {sampwidth}")
    if nch > 1:
        a = a.reshape(-1, nch).mean(axis=1)
    return a


def wav_encode(waveform: np.ndarray, rate: int = 16000) -> bytes:
    """Minimal 16-bit mono PCM WAV writer (round-trips wav_decoder in
    tests; materializes small derived clips without an audio library)."""
    import io
    import wave

    a = np.asarray(waveform, dtype=np.float64)
    pcm = (np.clip(a, -1.0, 1.0) * 32767.0).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(pcm.tobytes())
    return buf.getvalue()


AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("n_samples", IntegerType()),
        StructField("rms", FloatType()),
        StructField("peak", FloatType()),
        StructField("zero_crossing_rate", FloatType()),
        StructField("decode_ok", StringType()),
    ]
)


def extract_audio_features(
    df: DataFrame,
    decoder: Callable[[bytes], np.ndarray] = wav_decoder,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """[media_id, n_samples, rms, peak, zero_crossing_rate, decode_ok]:
    waveform-level quality features per Arrow batch — the audio leg of
    the decode/feature-extract stage (real for WAV via stdlib; other
    containers need an injected codec)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k.name: [] for k in AUDIO_FEATURE_SCHEMA.fields}
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                out["media_id"].append(str(mid))
                try:
                    a = np.asarray(
                        decoder(bytes(payload) if payload is not None else None),
                        dtype=np.float32,
                    )
                    n = len(a)
                    zc = (
                        float(np.mean(np.signbit(a[1:]) != np.signbit(a[:-1])))
                        if n > 1
                        else 0.0
                    )
                    out["n_samples"].append(n)
                    out["rms"].append(float(np.sqrt(np.mean(a * a))) if n else 0.0)
                    out["peak"].append(float(np.max(np.abs(a))) if n else 0.0)
                    out["zero_crossing_rate"].append(zc)
                    out["decode_ok"].append("ok")
                except Exception as e:
                    out["n_samples"].append(0)
                    out["rms"].append(0.0)
                    out["peak"].append(0.0)
                    out["zero_crossing_rate"].append(0.0)
                    out["decode_ok"].append(f"error: {type(e).__name__}")
            yield pd.DataFrame(out)

    return df.mapInPandas(run, AUDIO_FEATURE_SCHEMA)


def default_image_decoder(payload: bytes) -> np.ndarray:
    """Format dispatch for the decode stages: PNG and baseline JPEG both
    decode for real (pure numpy + stdlib — see ``jpeg.py``); anything
    else is rejected (use fake_image_decoder explicitly for synthetic
    tests, or inject a library-backed codec for progressive JPEG etc.)."""
    if payload is None:
        raise ValueError("null payload")
    if payload.startswith(_PNG_MAGIC):
        return png_decoder(payload)
    if payload.startswith(_JPEG_MAGIC):
        from pydi_spark.llmdata.jpeg import jpeg_decoder

        return jpeg_decoder(payload)
    raise ValueError("unrecognized image format (expected PNG or JPEG)")


FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("feature", ArrayType(FloatType())),
        StructField("decode_ok", StringType()),
    ]
)


def extract_features(
    df: DataFrame,
    decoder: Callable[[bytes], Any] | None = None,
    id_col: str = "media_id",
    payload_col: str = "payload",
    feature_dim: int = 12,
) -> DataFrame:
    """Decode payloads per Arrow batch and emit fixed-size feature vectors
    (mean/std/max/min per channel). ``decoder`` defaults to
    ``default_image_decoder`` (real PNG decode; inject
    ``fake_image_decoder`` for synthetic payloads)."""
    decoder = decoder or default_image_decoder

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, feats, oks = [], [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                ids.append(str(mid))
                try:
                    arr = decoder(bytes(payload) if payload is not None else None)
                    a = np.asarray(arr, dtype=np.float32).reshape(-1, 3)
                    feat = np.concatenate(
                        [a.mean(axis=0), a.std(axis=0), a.max(axis=0), a.min(axis=0)]
                    )[:feature_dim]
                    feats.append(feat.astype(np.float32))
                    oks.append("ok")
                except Exception as e:  # record-level failure isolation
                    feats.append(np.zeros(feature_dim, dtype=np.float32))
                    oks.append(f"error: {type(e).__name__}")
            yield pd.DataFrame(
                {"media_id": ids, "feature": list(feats), "decode_ok": oks}
            )

    return df.mapInPandas(run, FEATURE_SCHEMA)


def resize_array(arr: np.ndarray, height: int, width: int) -> np.ndarray:
    """Nearest-neighbour resize of an HxWxC array — pure numpy, no image
    libs needed; bilinear/real codecs swap in via the decoder hook."""
    a = np.asarray(arr)
    h, w = a.shape[0], a.shape[1]
    rows = (np.arange(height) * (h / height)).astype(int).clip(0, h - 1)
    cols = (np.arange(width) * (w / width)).astype(int).clip(0, w - 1)
    return a[rows][:, cols]


def decode_and_resize(
    df: DataFrame,
    height: int,
    width: int,
    decoder: Callable[[bytes], Any] | None = None,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """[media_id, pixels (flattened float array), h, w, decode_ok]:
    decode + resize per Arrow batch. Defaults to the real PNG decode
    (``default_image_decoder``); the resample is pure numpy."""
    decoder = decoder or default_image_decoder
    schema = StructType(
        [
            StructField("media_id", StringType()),
            StructField("pixels", ArrayType(FloatType())),
            StructField("h", IntegerType()),
            StructField("w", IntegerType()),
            StructField("decode_ok", StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "pixels": [], "h": [], "w": [], "decode_ok": []}
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                out["media_id"].append(str(mid))
                try:
                    arr = decoder(bytes(payload) if payload is not None else None)
                    resized = resize_array(np.asarray(arr, dtype=np.float32),
                                           height, width)
                    out["pixels"].append(resized.reshape(-1).astype(np.float32))
                    out["h"].append(height)
                    out["w"].append(width)
                    out["decode_ok"].append("ok")
                except Exception as e:
                    out["pixels"].append(np.zeros(height * width * 3, dtype=np.float32))
                    out["h"].append(height)
                    out["w"].append(width)
                    out["decode_ok"].append(f"error: {type(e).__name__}")
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema)


def sample_frames(
    df: DataFrame,
    every_ms: int = 1000,
    id_col: str = "media_id",
    duration_col: str = "duration_ms",
) -> DataFrame:
    """Frame-sampling plan: one row per (media, frame_ts). Metadata-only —
    never reads the payload column (column pruning keeps the scan thin);
    the decode of sampled frames is a later extract_features stage."""
    return df.select(
        F.col(id_col),
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.col(duration_col).cast("long") - 1, F.lit(0)),
                F.lit(int(every_ms)),
            )
        ).alias("frame_ts_ms"),
    )


def media_stats(df: DataFrame) -> DataFrame:
    """Metadata aggregation (payload never read): counts + size stats per
    media_type."""
    return df.groupBy("media_type").agg(
        F.count("*").alias("n"),
        F.avg(F.length(F.col("payload"))).alias("avg_payload_bytes"),
        F.avg("width").alias("avg_width"),
        F.avg("duration_ms").alias("avg_duration_ms"),
    )


def perceptual_hash(
    df: DataFrame,
    decoder: Callable[[bytes], Any] | None = None,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """64-bit dHash per image: decode → grayscale → 9×8 nearest-neighbour
    downsample → horizontal-gradient bits packed into a signed long
    ([media_id, phash, decode_ok]). Robust to resize/re-encode, so it is
    the image analogue of SimHash: near-duplicate images land within a
    few Hamming bits of each other.

    Arrow-batched mapInPandas like the other codec stages; failures are
    isolated per record (phash 0 + error marker)."""
    decoder = decoder or default_image_decoder
    schema = StructType(
        [
            StructField("media_id", StringType()),
            StructField("phash", LongType()),
            StructField("decode_ok", StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes, oks = [], [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                ids.append(str(mid))
                try:
                    arr = np.asarray(
                        decoder(bytes(payload) if payload is not None else None),
                        dtype=np.float32,
                    )
                    gray = arr.mean(axis=2) if arr.ndim == 3 else arr
                    small = resize_array(gray, 8, 9)
                    bits = (small[:, 1:] > small[:, :-1]).reshape(-1)
                    h = 0
                    for b in bits:
                        h = (h << 1) | int(b)
                    # wrap to signed 64-bit for a LongType column
                    if h >= 1 << 63:
                        h -= 1 << 64
                    hashes.append(h)
                    oks.append("ok")
                except Exception as e:
                    hashes.append(0)
                    oks.append(f"error: {type(e).__name__}")
            yield pd.DataFrame({"media_id": ids, "phash": hashes, "decode_ok": oks})

    return df.mapInPandas(run, schema)


def image_near_duplicates(
    df: DataFrame,
    max_hamming: int = 6,
    decoder: Callable[[bytes], Any] | None = None,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Near-duplicate image pairs by dHash Hamming distance — the
    SimHash band trick on the 64-bit fingerprint: with 8 byte-bands,
    any pair within 7 Hamming bits shares at least one identical band
    (pigeonhole), so candidates come from 8 narrow equi-joins on
    (band_index, band_byte) and the exact popcount runs only on
    candidates. No all-pairs stage; both sides stay distributed.

    Output: [id1, id2, hamming] with id1 < id2 (string order).
    ``max_hamming`` must stay ≤ 7 for the 8-band scheme to be lossless.
    """
    if max_hamming > 7:
        raise ValueError("8-band scheme is lossless only for max_hamming <= 7")
    hashes = perceptual_hash(
        df, decoder=decoder, id_col=id_col, payload_col=payload_col
    ).where(F.col("decode_ok") == "ok").select("media_id", "phash")
    # "i:byte" keys: each record's 8-key array is duplicate-free, so the
    # pair kernel keeps a pair sharing k bands once, at its minimum
    # shared band, with no (id1, id2) dedup exchange
    bands = hashes.select(
        "media_id",
        "phash",
        F.array(*[
            F.concat_ws(
                ":",
                F.lit(i),
                F.shiftrightunsigned(F.col("phash"), 8 * i).bitwiseAND(F.lit(255)),
            )
            for i in range(8)
        ]).alias("__bks"),
    ).withColumn("band_key", F.explode("__bks"))
    pairs = pair_join(
        bands.toDF("id1", "h1", "__bks1", "band_key"),
        bands.toDF("id2", "h2", "__bks2", "band_key"),
        "band_key",
        self_join=True,
        key_sets=("__bks1", "__bks2"),
    )
    return (
        pairs.withColumn(
            "hamming", F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming")
    )
