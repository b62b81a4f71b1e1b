"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata.

The Spark-side machinery here is real and tested — schema, Arrow-batched
mapInPandas UDF signatures, batch shapes, partition strategy. The codec
step itself is STUBBED: the decode libraries (PIL/opencv/soundfile) are
not in this container, so `decode_media` uses them when importable and
otherwise falls back to a deterministic synthetic decoder that parses
the fixture header produced by `synth_media`. Swapping in a real codec
changes ONE function (`_decode_payload`), nothing in the plan shape.

Scale notes: binary payloads never pass through Python row-at-a-time —
mapInPandas moves them as Arrow record batches; metadata-only operations
(filter by kind/size, routing) are pure Column expressions that never
touch the bytes (parquet column pruning skips the binary column
entirely). Partition by `kind` at write time so per-modality pipelines
get partition-pruned scans.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),       # image | audio | video
    T.StructField("data", T.BinaryType()),        # opaque payload
    T.StructField("meta", T.StructType([
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ])),
])

_MAGIC = b"HBMM"  # synthetic fixture header magic

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("byte_len", T.IntegerType()),
    T.StructField("sha256", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("feature", T.ArrayType(T.FloatType())),  # 8-dim
])


def synth_media(spark: SparkSession, total: int,
                kinds: tuple = ("image", "audio", "video")) -> DataFrame:
    """Deterministic binary fixtures: payload = HBMM header
    (magic, kind code, width, height) + md5-seeded filler bytes."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid in pdf["id"]:
                kind = kinds[int(mid) % len(kinds)]
                w, h = 16 + int(mid) % 64, 16 + (int(mid) * 7) % 64
                filler = hashlib.md5(f"media|{mid}".encode()).digest() * 4
                payload = _MAGIC + struct.pack(
                    "<BHH", kinds.index(kind), w, h
                ) + filler
                rows.append({
                    "media_id": int(mid), "kind": kind, "data": payload,
                    "meta": {
                        "format": f"synth-{kind}", "width": w, "height": h,
                        "channels": 3 if kind == "image" else 1,
                        "sample_rate": 16000 if kind == "audio" else 0,
                        "duration_ms": 1000 if kind != "image" else 0,
                        "n_frames": 30 if kind == "video" else 1,
                    },
                })
            yield pd.DataFrame(rows)

    return spark.range(total).mapInPandas(gen, MEDIA_SCHEMA)


def _decode_payload(data: bytes) -> dict:
    """The ONE codec seam. Real libraries when available; otherwise the
    deterministic synthetic decoder for HBMM fixtures."""
    try:  # pragma: no cover - libs absent in this container
        from PIL import Image  # noqa: F401
        import io
        img = Image.open(io.BytesIO(data))
        return {"width": img.width, "height": img.height, "ok": True}
    except Exception:
        pass
    if data[:4] == _MAGIC:
        _, w, h = struct.unpack("<BHH", data[4:9])
        return {"width": w, "height": h, "ok": True}
    raise NotImplementedError(
        "no codec available for non-HBMM payload (PIL/opencv not installed)"
    )


def decode_media(df: DataFrame) -> DataFrame:
    """Decode + feature-extract: Arrow-batched mapInPandas over the
    binary column. The `sha256` column is the true content digest
    (sha256 of the payload BYTES — usable as an integrity checksum
    downstream). The 8 feature floats are derived from a separate
    surrogate digest, sha256 of the payload's lowercase HEX encoding
    (a stand-in for a real embedding model — deterministic and
    collision-resistant either way; hashing the hex rather than the
    raw bytes makes the feature kernel replicable in ANSI SQL, which
    is what lets the `media_pipeline` registry query carry a full
    DuckDB oracle instead of a rows-only check)."""

    def decode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for _, r in pdf.iterrows():
                data = bytes(r["data"])
                meta = _decode_payload(data)
                surrogate = hashlib.sha256(data.hex().encode()).hexdigest()
                digest = bytes.fromhex(surrogate)
                feature = [
                    struct.unpack("<I", digest[i * 4:i * 4 + 4])[0]
                    / 2**32
                    for i in range(8)
                ]
                out.append({
                    "media_id": r["media_id"], "kind": r["kind"],
                    "byte_len": len(data),
                    "sha256": hashlib.sha256(data).hexdigest(),
                    "width": meta["width"], "height": meta["height"],
                    "feature": feature,
                })
            yield pd.DataFrame(out)

    return df.mapInPandas(decode, FEATURE_SCHEMA)


AUDIO_WINDOW_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("window_idx", T.IntegerType()),
    T.StructField("start_ms", T.IntegerType()),
    T.StructField("rms", T.FloatType()),
    T.StructField("zero_crossings", T.IntegerType()),
])


# ---------------------------------------------------------------------------
# Real codec path: RIFF/WAVE PCM16 via the stdlib `wave` module — no
# external library, so this is a genuine decode of real container
# bytes, not a surrogate. The PCM fixtures below derive their samples
# from md5 blocks, which keeps the per-window DSP SQL-replicable (the
# `wav_dsp_features` oracle rebuilds the exact int16 stream in DuckDB)
# while the Spark side round-trips through an honest encoder/decoder.
# ---------------------------------------------------------------------------


def _wav_encode_pcm16(body: bytes, sample_rate: int) -> bytes:
    """Mono PCM16 WAV container around raw little-endian int16 bytes,
    produced by the stdlib encoder (genuine RIFF/fmt/data chunks)."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(body)
    return buf.getvalue()


def _decode_wav(data: bytes):
    """REAL codec decode: parse the RIFF/WAVE container with the
    stdlib `wave` module and return (sample_rate, int16 sample array).
    Raises NotImplementedError for shapes that would need an external
    codec (compressed formats, multi-channel, non-16-bit)."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(data)) as w:
        if w.getcomptype() != "NONE" or w.getsampwidth() != 2 \
                or w.getnchannels() != 1:
            raise NotImplementedError(
                "only mono PCM16 WAV is decodable without an external "
                f"codec (got comp={w.getcomptype()} "
                f"width={w.getsampwidth()} ch={w.getnchannels()})")
        sr = w.getframerate()
        pcm = np.frombuffer(w.readframes(w.getnframes()), dtype="<i2")
    return sr, pcm


def synth_wav(spark: SparkSession, total: int,
              sample_rate: int = 8000,
              base_blocks: int = 32, block_step: int = 16) -> DataFrame:
    """Deterministic REAL WAV fixtures: clip `mid` carries
    base_blocks + (mid % 3) * block_step md5 blocks, each block =
    md5('wav|mid|j') digest = 8 little-endian int16 samples, wrapped
    in a genuine RIFF container by the stdlib encoder. The sample
    stream is SQL-replicable (DuckDB md5 + hex-digit arithmetic), so
    downstream DSP carries a full oracle even though the Spark side
    decodes real container bytes."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid in pdf["id"]:
                mid = int(mid)
                n_blocks = base_blocks + (mid % 3) * block_step
                body = b"".join(
                    hashlib.md5(f"wav|{mid}|{j}".encode()).digest()
                    for j in range(n_blocks))
                n_samples = len(body) // 2
                rows.append({
                    "media_id": mid, "kind": "audio",
                    "data": _wav_encode_pcm16(body, sample_rate),
                    "meta": {
                        "format": "wav-pcm16", "width": 0, "height": 0,
                        "channels": 1, "sample_rate": sample_rate,
                        "duration_ms": n_samples * 1000 // sample_rate,
                        "n_frames": n_samples,
                    },
                })
            yield pd.DataFrame(rows)

    return spark.range(total).mapInPandas(gen, MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual image hashing (pHash) with an INTEGER DCT — the image
# analogue of SimHash for near-dup curation. Real pHash is 2D-DCT ->
# low-frequency block -> median-threshold bits (Zauner 2010, "phash");
# the float DCT would make cross-engine parity depend on libm, so the
# DCT matrix is quantized to int16-scale constants at import (the
# fixed-point DCT trick JPEG codecs use) and the whole transform is
# exact int64 arithmetic: numpy, Python, and DuckDB agree bit-for-bit.
# The codec seam note still applies: pixels come from raw grayscale
# payloads (HBIG fixtures) because PIL/opencv are absent; a real
# decoder would plug in ahead of the SAME hash kernel.
# ---------------------------------------------------------------------------

_IMG_MAGIC = b"HBIG"  # raw 16x16 grayscale fixture
_PHASH_SCALE = 16384
_IMG_PERT_AMP = 25   # planted near-dup perturbation: +25
_IMG_PERT_MOD = 11   # ...on every 11th pixel (hamming spread 0-6)


def _phash_dct16() -> list[list[int]]:
    """8x16 integer DCT-II matrix rows u=0..7 at scale 2^14:
    T[u][x] = round(scale * c(u) * cos(pi*(2x+1)*u/32)). Computed once
    here and embedded verbatim into the SQL oracle, so both engines
    share literally the same integers (no libm in the data path)."""
    import math

    return [
        [round(_PHASH_SCALE * (0.25 if u == 0 else math.sqrt(2) / 4)
               * math.cos(math.pi * (2 * x + 1) * u / 32))
         for x in range(16)]
        for u in range(8)
    ]


PHASH_DCT16 = _phash_dct16()


def synth_images(spark: SparkSession, total: int) -> DataFrame:
    """Deterministic raw-grayscale image fixtures with PLANTED near
    duplicates: image `mid` is 256 md5-derived pixels in [0, 230);
    every mid with mid % 4 == 1 is a perturbed copy of mid-1 (+25 on
    every 11th pixel — visually minor, never clamps). The pixel
    stream is SQL-replicable like the WAV fixtures."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid in pdf["id"]:
                mid = int(mid)
                src = mid - 1 if mid % 4 == 1 else mid
                body = bytearray(
                    b % (255 - _IMG_PERT_AMP)
                    for k in range(16)
                    for b in hashlib.md5(
                        f"img|{src}|{k}".encode()).digest())
                if mid % 4 == 1:
                    for i in range(0, 256, _IMG_PERT_MOD):
                        body[i] += _IMG_PERT_AMP
                rows.append({
                    "media_id": mid, "kind": "image",
                    "data": _IMG_MAGIC + bytes(body),
                    "meta": {
                        "format": "raw-gray16", "width": 16,
                        "height": 16, "channels": 1,
                        "sample_rate": 0, "duration_ms": 0,
                        "n_frames": 1,
                    },
                })
            yield pd.DataFrame(rows)

    return spark.range(total).mapInPandas(gen, MEDIA_SCHEMA)


def image_phash(df: DataFrame, id_col: str = "media_id") -> DataFrame:
    """(media_id, phash: int64) — integer-DCT perceptual hash per
    image. A = T @ P @ T^T over the 16x16 pixel grid (8x8 low-freq
    block, all int64: |A| <= 16*16*2.4e7*5793 ~ 2e12), bit i set iff
    2*A_i > (32nd + 33rd smallest coefficient) — a median threshold
    with no float division. Non-HBIG payloads raise the actionable
    codec error (PIL/opencv absent)."""
    import numpy as np

    tm = np.array(PHASH_DCT16, dtype=np.int64)

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, hashes = [], []
            for _, r in pdf.iterrows():
                data = bytes(r["data"])
                if data[:4] != _IMG_MAGIC:
                    raise NotImplementedError(
                        "image_phash reads raw HBIG grayscale only; "
                        "JPEG/PNG need PIL/opencv (not installed)")
                p = np.frombuffer(data[4:260], dtype=np.uint8) \
                    .astype(np.int64).reshape(16, 16)
                a = (tm @ p @ tm.T).ravel()
                s = np.sort(a)
                med2 = int(s[31] + s[32])
                bits = (2 * a > med2).astype(np.uint8)
                ids.append(int(r[id_col]))
                hashes.append(int(np.packbits(
                    bits, bitorder="little").view(np.int64)[0]))
            yield pd.DataFrame({id_col: pd.array(ids, dtype="int64"),
                                "phash": pd.array(hashes,
                                                  dtype="int64")})

    return df.select(id_col, "data").mapInPandas(
        kernel, f"{id_col} long, phash long")


def phash_band_keys(hashed: DataFrame,
                    id_col: str = "media_id") -> DataFrame:
    """(id, phash, chunk, ckey): the 8 x 8-bit LSH bands of a 64-bit
    pHash — any pair within hamming <= 7 shares >= 1 band
    (pigeonhole). Shared by the batch self-join and the streaming
    store filter."""
    return hashed.select(
        id_col, "phash",
        F.explode(F.array(*[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftrightunsigned("phash", c * 8)
                .bitwiseAND(F.lit(0xFF)).alias("ckey"),
            )
            for c in range(8)
        ])).alias("cc"),
    ).select(id_col, "phash", "cc.chunk", "cc.ckey")


def phash_near_duplicate_pairs(hashed: DataFrame,
                               max_hamming: int = 6,
                               id_col: str = "media_id") -> DataFrame:
    """Banded Hamming self-join over 64-bit pHashes: 8 bands x 8 bits,
    so any pair within hamming <= 7 collides on >= 1 band (pigeonhole)
    — same scale shape as the SimHash join (per-band equi-buckets,
    never all-pairs), verified exactly with one bit_count(XOR).

    The pigeonhole bound is the recall guarantee, so thresholds past
    it are refused loudly rather than silently losing pairs."""
    if max_hamming > 7:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the 8-band pigeonhole "
            "guarantee (exact only for hamming <= 7); use more/narrower "
            "bands or a different candidate generator")
    chunked = phash_band_keys(hashed, id_col)
    a = chunked.select(F.col(id_col).alias("a"),
                       F.col("phash").alias("ph_a"), "chunk", "ckey")
    b = chunked.select(F.col(id_col).alias("b"),
                       F.col("phash").alias("ph_b"), "chunk", "ckey")
    return (
        a.join(b, ["chunk", "ckey"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b",
                F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
                .alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("a", "b")
    )


# ---------------------------------------------------------------------------
# Video near-dup via frame-level perceptual hashing: decode frames,
# pHash each, then two videos are near-duplicates when enough of
# their frame pairs match within a Hamming ball — the keyframe-hash
# dedup a multimodal curation pipeline runs on video (same integer
# DCT as image_phash, so the whole chain stays oracle-provable).
# ---------------------------------------------------------------------------

_VID_MAGIC = b"HBVI"  # raw 16x16-grayscale frame-sequence fixture
VID_FRAMES = 6


def synth_videos(spark: SparkSession, total: int,
                 n_frames: int = VID_FRAMES) -> DataFrame:
    """Deterministic raw-frame video fixtures with PLANTED near
    duplicates: video `mid` carries n_frames 16x16 grayscale frames
    (pixels from md5('vid|src|frame|block')); every mid with
    mid % 4 == 1 is a per-frame perturbed copy of mid-1 (the image
    fixtures' +25/11th-pixel scheme applied frame-wise)."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid in pdf["id"]:
                mid = int(mid)
                src = mid - 1 if mid % 4 == 1 else mid
                frames = bytearray()
                for f in range(n_frames):
                    frame = bytearray(
                        b % (255 - _IMG_PERT_AMP)
                        for k in range(16)
                        for b in hashlib.md5(
                            f"vid|{src}|{f}|{k}".encode()).digest())
                    if mid % 4 == 1:
                        for i in range(0, 256, _IMG_PERT_MOD):
                            frame[i] += _IMG_PERT_AMP
                    frames += frame
                rows.append({
                    "media_id": mid, "kind": "video",
                    "data": _VID_MAGIC + bytes(frames),
                    "meta": {
                        "format": "raw-gray16-seq", "width": 16,
                        "height": 16, "channels": 1,
                        "sample_rate": 0, "duration_ms": 0,
                        "n_frames": n_frames,
                    },
                })
            yield pd.DataFrame(rows)

    return spark.range(total).mapInPandas(gen, MEDIA_SCHEMA)


def synth_videos_temporal(spark: SparkSession, total: int,
                          n_frames: int = VID_FRAMES,
                          shift: int = 2) -> DataFrame:
    """Deterministic video fixtures for TEMPORAL-alignment scoring:
    mid % 4 in (0, 2) are independent base videos; mid % 4 == 1 is a
    perturbed copy of mid-1 SHIFTED by `shift` (frame f >= shift
    replays src frame f-shift; earlier frames are fresh own-mid
    content — the re-edited-intro near-dup shape); mid % 4 == 3 is a
    perturbed SHUFFLED copy of mid-1 via perm(f) = (5f+3) % n_frames
    — same content bag, NO consistent temporal offset, so
    bag-of-frames matching accepts it but alignment must score it
    run-1. Same md5 pixel scheme as synth_videos, so the whole chain
    replays in SQL."""
    import numpy as np  # noqa: F401 (parity with synth_videos deps)

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid in pdf["id"]:
                mid = int(mid)
                r = mid % 4
                src = mid - 1 if r in (1, 3) else mid
                frames = bytearray()
                for f in range(n_frames):
                    if r == 1 and f >= shift:
                        seed_mid, sf, pert = src, f - shift, True
                    elif r == 3:
                        seed_mid, sf, pert = \
                            src, (5 * f + 3) % n_frames, True
                    else:
                        seed_mid, sf, pert = mid, f, False
                    frame = bytearray(
                        b % (255 - _IMG_PERT_AMP)
                        for k in range(16)
                        for b in hashlib.md5(
                            f"vid|{seed_mid}|{sf}|{k}".encode())
                        .digest())
                    if pert:
                        for i in range(0, 256, _IMG_PERT_MOD):
                            frame[i] += _IMG_PERT_AMP
                    frames += frame
                rows.append({
                    "media_id": mid, "kind": "video",
                    "data": _VID_MAGIC + bytes(frames),
                    "meta": {
                        "format": "raw-gray16-seq", "width": 16,
                        "height": 16, "channels": 1,
                        "sample_rate": 0, "duration_ms": 0,
                        "n_frames": n_frames,
                    },
                })
            yield pd.DataFrame(rows)

    return spark.range(total).mapInPandas(gen, MEDIA_SCHEMA)


def video_frame_hashes(df: DataFrame,
                       id_col: str = "media_id") -> DataFrame:
    """(media_id, frame_idx, phash) — the 1->N Arrow batch shape of
    distributed frame hashing: each video payload explodes into one
    integer-DCT pHash per frame. Non-HBVI payloads raise the
    actionable codec error (real containers need opencv)."""
    import numpy as np

    tm = np.array(PHASH_DCT16, dtype=np.int64)

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"media_id": [], "frame_idx": [], "phash": []}
            for _, r in pdf.iterrows():
                data = bytes(r["data"])
                if data[:4] != _VID_MAGIC:
                    raise NotImplementedError(
                        "video_frame_hashes reads raw HBVI frame "
                        "sequences only; real video containers need "
                        "opencv/ffmpeg (not installed)")
                body = np.frombuffer(data[4:], dtype=np.uint8)
                n = len(body) // 256
                mid = int(r[id_col])
                for f in range(n):
                    p = body[f * 256:(f + 1) * 256].astype(np.int64) \
                        .reshape(16, 16)
                    a = (tm @ p @ tm.T).ravel()
                    s = np.sort(a)
                    med2 = int(s[31] + s[32])
                    bits = (2 * a > med2).astype(np.uint8)
                    out["media_id"].append(mid)
                    out["frame_idx"].append(f)
                    out["phash"].append(int(np.packbits(
                        bits, bitorder="little").view(np.int64)[0]))
            yield pd.DataFrame(out)

    return df.select(id_col, "data").mapInPandas(
        kernel, f"{id_col} long, frame_idx int, phash long")


def video_near_duplicates(frame_hashes: DataFrame,
                          max_hamming: int = 6,
                          min_matched_frames: int = 4,
                          id_col: str = "media_id") -> DataFrame:
    """Video pairs sharing >= min_matched_frames frame pairs within
    the Hamming ball: banded frame-hash self-join (never all-pairs
    over frames), distinct matched (frame_a, frame_b) pairs counted
    per video pair. Returns (a, b, matched_frames).

    Frame ids pack as media_id * 4096 + frame_idx so the image band
    machinery applies unchanged — callers hashing videos longer than
    4096 sampled frames must raise the packing stride (key-frame
    sampling at that density is the realistic regime anyway)."""
    keyed = frame_hashes.select(
        (F.col(id_col) * 4096 + F.col("frame_idx")).alias("fid"),
        "phash",
    )
    pairs = phash_near_duplicate_pairs(keyed, max_hamming,
                                       id_col="fid")
    return (
        pairs.select(
            F.expr("a div 4096").alias("va"),
            F.expr("b div 4096").alias("vb"),
        )
        .filter(F.col("va") != F.col("vb"))
        .select(F.least("va", "vb").alias("a"),
                F.greatest("va", "vb").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("matched_frames"))
        .filter(F.col("matched_frames") >= min_matched_frames)
        .orderBy("a", "b")
    )


def synth_wav_dups(spark: SparkSession, total: int,
                   sample_rate: int = 8000,
                   base_blocks: int = 32,
                   block_step: int = 16) -> DataFrame:
    """REAL WAV fixtures with PLANTED volume-scaled near duplicates:
    every mid with mid % 4 == 1 re-encodes mid-1's PCM scaled by
    floor(3*s/4) — positive scaling preserves each sample's sign
    class, so per-window ZERO-CROSSING sequences are IDENTICAL while
    rms/peak drift (the amplitude-invariance audio fingerprints
    exploit). Other clips are independent md5 streams, same scheme as
    synth_wav, so the whole chain replays in SQL."""
    import numpy as np

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid in pdf["id"]:
                mid = int(mid)
                src = mid - 1 if mid % 4 == 1 else mid
                n_blocks = base_blocks + (src % 3) * block_step
                body = b"".join(
                    hashlib.md5(f"wav|{src}|{j}".encode()).digest()
                    for j in range(n_blocks))
                if mid % 4 == 1:
                    s = np.frombuffer(body, dtype="<i2") \
                        .astype(np.int64)
                    body = np.floor_divide(3 * s, 4) \
                        .astype("<i2").tobytes()
                n_samples = len(body) // 2
                rows.append({
                    "media_id": mid, "kind": "audio",
                    "data": _wav_encode_pcm16(body, sample_rate),
                    "meta": {
                        "format": "wav-pcm16", "width": 0, "height": 0,
                        "channels": 1, "sample_rate": sample_rate,
                        "duration_ms": n_samples * 1000 // sample_rate,
                        "n_frames": n_samples,
                    },
                })
            yield pd.DataFrame(rows)

    return spark.range(total).mapInPandas(gen, MEDIA_SCHEMA)


def audio_fingerprints(windows: DataFrame,
                       id_col: str = "media_id") -> DataFrame:
    """(media_id, fp_idx, fp): volume-invariant audio fingerprints —
    the zero-crossing counts of 3 consecutive DSP windows packed into
    one integer key (z0*65536 + z1*256 + z2). Positive amplitude
    scaling preserves every sample's sign class, so a volume-scaled
    copy carries an IDENTICAL fingerprint sequence while rms/peak
    drift — the invariance that makes zc the right fingerprint basis
    (the chromaprint idea reduced to its exact-integer core). The
    lead() windows partition per clip, bounded by windows-per-clip."""
    w = Window.partitionBy(id_col).orderBy("window_idx")
    return (
        windows.select(
            id_col, F.col("window_idx").alias("fp_idx"),
            F.col("zero_crossings").alias("z0"),
            F.lead("zero_crossings", 1).over(w).alias("z1"),
            F.lead("zero_crossings", 2).over(w).alias("z2"),
        )
        .filter(F.col("z2").isNotNull())
        .select(
            id_col, "fp_idx",
            (F.col("z0") * 65536 + F.col("z1") * 256 + F.col("z2"))
            .cast("long").alias("fp"),
        )
    )


def audio_near_duplicates(windows: DataFrame,
                          min_matched: int = 4,
                          id_col: str = "media_id",
                          max_bucket_size: int = 200) -> DataFrame:
    """Audio pairs sharing >= min_matched position-aligned
    fingerprints: equi-join on (fp_idx, fp) — never all-pairs over
    clips — with the LSH-style max_bucket_size guard dropping
    degenerate fingerprint buckets (silence/boilerplate audio) before
    the join, the same skew insurance as the MinHash band join.
    Returns (a, b, matched_fps)."""
    fps = audio_fingerprints(windows, id_col)
    sizes = fps.groupBy("fp_idx", "fp").agg(
        F.count(F.lit(1)).alias("__bn"))
    # plain equi-join (not broadcast): the kept-bucket list scales
    # with distinct fingerprints, i.e. with the corpus
    kept = fps.join(
        sizes.filter(F.col("__bn") <= max_bucket_size)
        .select("fp_idx", "fp"),
        ["fp_idx", "fp"])
    a = kept.select(F.col(id_col).alias("a"), "fp_idx", "fp")
    b = kept.select(F.col(id_col).alias("b"), "fp_idx", "fp")
    return (
        a.join(b, ["fp_idx", "fp"])
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("matched_fps"))
        .filter(F.col("matched_fps") >= min_matched)
        .orderBy("a", "b")
    )


def video_alignment(frame_hashes: DataFrame,
                    max_hamming: int = 6,
                    min_matched_frames: int = 4,
                    min_aligned_run: int = 2,
                    id_col: str = "media_id") -> DataFrame:
    """Temporal-alignment scoring on top of the bag-of-frames match:
    for every video pair with >= min_matched_frames matched frame
    pairs, compute the MODE of (frame_b - frame_a) over matched pairs
    (tie-break: smallest offset) and the longest CONSECUTIVE frame run
    at that offset. A true re-encode/shifted copy concentrates its
    matches on one offset with a long run; a shuffled-frames copy
    shares the content bag but its run collapses to 1, so `aligned`
    goes false — the distinction bag-of-frames matching cannot make.

    Returns (a, b, matched_frames, offset_mode, aligned_frames,
    longest_run, aligned). The mode is a map-side-partially-aggregable
    min(struct(-c, off)) (no hot window); the gaps-and-islands run
    scan sorts per (pair, mode-offset) partitions bounded by the
    4096-frame packing stride, so no partition exceeds one video's
    frame count."""
    keyed = frame_hashes.select(
        (F.col(id_col) * 4096 + F.col("frame_idx")).alias("fid"),
        "phash",
    )
    pairs = phash_near_duplicate_pairs(keyed, max_hamming,
                                       id_col="fid")
    # fid packing preserves order, so a < b implies va <= vb
    m = (
        pairs.select(
            F.expr("a div 4096").alias("va"),
            F.expr("b div 4096").alias("vb"),
            (F.col("a") % 4096).alias("fa"),
            (F.col("b") % 4096).alias("fb"),
        )
        .filter(F.col("va") != F.col("vb"))
        .withColumn("off", F.col("fb") - F.col("fa"))
        .localCheckpoint(eager=True)  # three aggregations read it
    )
    return _offset_alignment_stats(
        m, "matched_frames", "aligned_frames",
        min_matched_frames, min_aligned_run)


def _offset_alignment_stats(m: DataFrame, matched_alias: str,
                            aligned_alias: str, min_matched: int,
                            min_run: int) -> DataFrame:
    """(va, vb, fa, fb, off) match rows -> per-pair temporal-alignment
    stats: total matches, offset MODE (map-side-aggregable
    min(struct(-c, off)) with the smallest-offset tie-break), the
    match count at that mode, and the longest CONSECUTIVE fa run at
    it (gaps-and-islands; the per-(pair, mode-offset) window
    partitions are bounded by the caller's per-item position count).
    Shared by video_alignment and audio_alignment — one analytics
    core, two modalities."""
    cnt = m.groupBy("va", "vb").agg(
        F.count(F.lit(1)).alias(matched_alias))
    mode = (
        m.groupBy("va", "vb", "off")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("va", "vb")
        .agg(F.min(F.struct(F.negate(F.col("c")).alias("nc"),
                            F.col("off").alias("off"))).alias("__m"))
        .select("va", "vb", F.col("__m.off").alias("offset_mode"),
                F.negate(F.col("__m.nc")).alias(aligned_alias))
    )
    at_mode = m.join(mode, ["va", "vb"]).filter(
        F.col("off") == F.col("offset_mode"))
    isl = at_mode.withColumn(
        "isl", F.col("fa") - F.row_number().over(
            Window.partitionBy("va", "vb").orderBy("fa")))
    runs = (
        isl.groupBy("va", "vb", "isl")
        .agg(F.count(F.lit(1)).alias("rl"))
        .groupBy("va", "vb").agg(F.max("rl").alias("longest_run"))
    )
    return (
        cnt.join(mode, ["va", "vb"]).join(runs, ["va", "vb"])
        .filter(F.col(matched_alias) >= min_matched)
        .select(
            F.col("va").alias("a"), F.col("vb").alias("b"),
            matched_alias, "offset_mode", aligned_alias,
            "longest_run",
            (F.col("longest_run") >= min_run).alias("aligned"),
        )
        .orderBy("a", "b")
    )


def synth_wav_shifted(spark: SparkSession, total: int,
                      sample_rate: int = 8000,
                      base_blocks: int = 32,
                      block_step: int = 16,
                      prefix_blocks: int = 8) -> DataFrame:
    """REAL WAV fixtures with TIME-SHIFTED near duplicates: every mid
    with mid % 4 == 1 prepends prefix_blocks fresh md5 blocks (2 DSP
    windows at window_ms=4), then replays mid-1's PCM volume-scaled
    by floor(3*s/4) — the re-edited-intro shape on the time axis.
    Position-rigid fingerprint matching misses these by construction;
    offset-tolerant alignment must catch them at offset
    prefix_blocks/4. Same md5 scheme, so the chain replays in SQL."""
    import numpy as np

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid in pdf["id"]:
                mid = int(mid)
                if mid % 4 == 1:
                    src = mid - 1
                    n_src = base_blocks + (src % 3) * block_step
                    head = b"".join(
                        hashlib.md5(f"wav|{mid}|{j}".encode())
                        .digest() for j in range(prefix_blocks))
                    tail = b"".join(
                        hashlib.md5(f"wav|{src}|{j}".encode())
                        .digest() for j in range(n_src))
                    s = np.frombuffer(tail, dtype="<i2") \
                        .astype(np.int64)
                    body = head + np.floor_divide(3 * s, 4) \
                        .astype("<i2").tobytes()
                else:
                    n_blocks = base_blocks + (mid % 3) * block_step
                    body = b"".join(
                        hashlib.md5(f"wav|{mid}|{j}".encode())
                        .digest() for j in range(n_blocks))
                n_samples = len(body) // 2
                rows.append({
                    "media_id": mid, "kind": "audio",
                    "data": _wav_encode_pcm16(body, sample_rate),
                    "meta": {
                        "format": "wav-pcm16", "width": 0, "height": 0,
                        "channels": 1, "sample_rate": sample_rate,
                        "duration_ms": n_samples * 1000 // sample_rate,
                        "n_frames": n_samples,
                    },
                })
            yield pd.DataFrame(rows)

    return spark.range(total).mapInPandas(gen, MEDIA_SCHEMA)


def audio_alignment(windows: DataFrame,
                    min_matched: int = 4,
                    min_aligned_run: int = 3,
                    id_col: str = "media_id",
                    max_bucket_size: int = 200) -> DataFrame:
    """Offset-TOLERANT audio near-dup: fingerprints join on fp value
    alone (any position), then the shared temporal-alignment core
    scores each clip pair with the offset mode and the longest
    consecutive run at it — catching time-shifted copies that the
    position-rigid audio_near_duplicates misses by construction. The
    hot-fp guard runs on the position-free fp (a value shared by too
    many positions/clips is silence, not signal). Returns (a, b,
    matched_fps, offset_mode, aligned_fps, longest_run, aligned)."""
    fps = audio_fingerprints(windows, id_col)
    sizes = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("__bn"))
    kept = fps.join(
        sizes.filter(F.col("__bn") <= max_bucket_size).select("fp"),
        "fp")
    a = kept.select(F.col(id_col).alias("va"),
                    F.col("fp_idx").alias("fa"), "fp")
    b = kept.select(F.col(id_col).alias("vb"),
                    F.col("fp_idx").alias("fb"), "fp")
    m = (
        a.join(b, "fp")
        .filter(F.col("va") < F.col("vb"))
        .select("va", "vb", "fa", "fb",
                (F.col("fb") - F.col("fa")).alias("off"))
        .localCheckpoint(eager=True)  # three aggregations read it
    )
    return _offset_alignment_stats(
        m, "matched_fps", "aligned_fps", min_matched,
        min_aligned_run)


WAV_WINDOW_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("window_idx", T.IntegerType()),
    T.StructField("start_ms", T.IntegerType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("zero_crossings", T.IntegerType()),
    T.StructField("peak", T.IntegerType()),
])


def wav_window_features(df: DataFrame,
                        window_ms: int = 16) -> DataFrame:
    """Per-window DSP on REAL decoded PCM: RIFF bytes -> stdlib wave
    decode -> int16 samples -> full windows of sr*window_ms/1000
    samples -> (rms, zero_crossings, peak) per window, vectorized in
    numpy per clip.

    Engine-exactness: rms = sqrt(ssq / (win * 32768^2)) where ssq is
    an INTEGER sum of squares (exact, < 2^53 for any window under ~8M
    samples), so the only float ops are one exactly-rounded IEEE
    divide and one exactly-rounded sqrt — bit-identical across numpy,
    Python, and DuckDB. zero_crossings counts sign changes WITHIN the
    window (127 adjacent pairs at win=128); peak is max |sample|.
    Trailing partial windows are dropped (full-window contract).
    Non-RIFF payloads raise the actionable codec error — this kernel
    is the real-decode path; the HBMM surrogate seam stays in
    audio_window_features."""
    import numpy as np

    a = df.select("media_id", "data")

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"media_id": [], "window_idx": [], "start_ms": [],
                   "rms": [], "zero_crossings": [], "peak": []}
            for _, r in pdf.iterrows():
                data = bytes(r["data"])
                if data[:4] != b"RIFF":
                    raise NotImplementedError(
                        "wav_window_features decodes RIFF/WAVE PCM "
                        "only; other containers need an external "
                        "codec (soundfile/librosa not installed)")
                sr, pcm = _decode_wav(data)
                win = max(1, sr * window_ms // 1000)
                n_win = len(pcm) // win
                if n_win == 0:
                    continue
                t = pcm[:n_win * win].astype(np.int64) \
                    .reshape(n_win, win)
                ssq = (t * t).sum(axis=1)
                rms = np.sqrt(ssq / (win * 1073741824.0))
                neg = t < 0
                zc = (neg[:, 1:] != neg[:, :-1]).sum(axis=1)
                peak = np.abs(t).max(axis=1)
                mid = int(r["media_id"])
                out["media_id"].extend([mid] * n_win)
                out["window_idx"].extend(range(n_win))
                out["start_ms"].extend(
                    w * window_ms for w in range(n_win))
                out["rms"].extend(rms.tolist())
                out["zero_crossings"].extend(int(z) for z in zc)
                out["peak"].extend(int(p) for p in peak)
            yield pd.DataFrame(out)

    return a.mapInPandas(kernel, WAV_WINDOW_SCHEMA)


def audio_window_features(df: DataFrame,
                          window_ms: int = 100) -> DataFrame:
    """Per-window audio features: each audio payload explodes into
    ceil(duration_ms / window_ms) rows of (media_id, window_idx,
    start_ms, rms, zero_crossings) — the 1->N Arrow batch shape of
    distributed audio feature extraction.

    Codec seam: with soundfile/librosa installed the kernel would
    decode PCM and compute real RMS/ZCR per window; the deterministic
    fallback derives per-window pseudo-samples from
    sha256(payload_hex || "|" || window_idx), so row counts, schema,
    and determinism behave exactly like the real kernel — and because
    the seed hashes the hex encoding and the RMS sum is a sequential
    float64 left-fold, the surrogate is bit-replicable in DuckDB SQL
    (the `audio_windows` oracle). Bytes move as Arrow record batches;
    the per-window rows carry no payload, so the explosion shuffles
    features, never audio."""
    import math

    a = df.filter(F.col("kind") == "audio").select(
        "media_id", "data", F.col("meta.duration_ms").alias("dur"))

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"media_id": [], "window_idx": [], "start_ms": [],
                   "rms": [], "zero_crossings": []}
            for _, r in pdf.iterrows():
                data = bytes(r["data"])
                if data[:4] == b"RIFF":
                    # real codec path: decode PCM with the stdlib wave
                    # module and compute the SAME (rms, zc) features on
                    # actual samples (normalized to [-1, 1))
                    sr, pcm = _decode_wav(data)
                    win = max(1, sr * window_ms // 1000)
                    # full-window contract, same as wav_window_features:
                    # a zero-frame WAV or a clip shorter than one window
                    # emits nothing (the old partial-window emission
                    # diverged between the two kernels and divided by
                    # zero on empty PCM)
                    segs = [pcm[w * win:(w + 1) * win]
                            for w in range(len(pcm) // win)]
                    for w, seg in enumerate(segs):
                        s = seg.astype("int64")
                        ssq = int((s * s).sum())
                        out["media_id"].append(r["media_id"])
                        out["window_idx"].append(w)
                        out["start_ms"].append(w * window_ms)
                        out["rms"].append(math.sqrt(
                            ssq / (len(s) * 1073741824.0)))
                        out["zero_crossings"].append(int(
                            ((s[1:] < 0) != (s[:-1] < 0)).sum()))
                    continue
                if data[:4] != _MAGIC:
                    raise NotImplementedError(
                        "no codec for this audio container: RIFF/WAVE "
                        "PCM16 decodes natively (stdlib wave), HBMM "
                        "fixtures use the surrogate kernel; anything "
                        "else needs soundfile/librosa (not installed)")
                dur = int(r["dur"] or 0)
                n_win = max(1, -(-dur // window_ms))
                hx = data.hex()
                for w in range(n_win):
                    seed = hashlib.sha256(
                        f"{hx}|{w}".encode()).digest()
                    samples = [(b - 127.5) / 127.5 for b in seed]
                    out["media_id"].append(r["media_id"])
                    out["window_idx"].append(w)
                    out["start_ms"].append(w * window_ms)
                    out["rms"].append(math.sqrt(
                        sum(s * s for s in samples) / len(samples)))
                    out["zero_crossings"].append(sum(
                        1 for i in range(len(seed) - 1)
                        if (seed[i] < 127.5) != (seed[i + 1] < 127.5)))
            yield pd.DataFrame(out)

    return a.mapInPandas(kernel, AUDIO_WINDOW_SCHEMA)
