"""Multimodal (image/audio/video) column plumbing.

Beyond-parity (BASELINE.json north star). Media payloads are opaque
``binary`` columns with a typed metadata struct; decode / feature-extract /
resize / frame-sample run as Arrow-batched ``mapInPandas`` pipelines so the
Python boundary is crossed once per batch, not per row.

Third-party codecs (Pillow/librosa/av) are NOT in this container. The
DEFAULT decode step (``decoder=None`` / ``pixels=None``) is a
deterministic fake that derives dimensions/features from the payload
bytes (stable for tests). REAL image decoding is available dependency-
free via ``operators.imagecodec`` (pure-numpy 24bpp BMP + binary PNM
from their public specs, Pillow fallback when importable):
``decode_images(df, decoder=imagecodec.decode_meta)`` and
``phash_images(df, pixels=imagecodec.decode_pixels)`` — same Spark-side
plumbing (schema, batching, partitioning identical), tested end-to-end
on spec-conformant payloads in tests/test_imagecodec.py. Audio/video
codecs remain seam-only (``extractor=``/``resizer=`` callables).

Scale notes: mapInPandas streams Arrow batches (no per-row pickling);
``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds peak memory per
task, and binary payloads should be size-capped per batch for 100 TB media
tables (set maxRecordsPerBatch low for multi-MB blobs).
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .parallelism import fan_out

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("format", T.StringType()),  # png|jpeg|wav|mp4|...
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
    ]
)


def media_table_schema(extra_fields: list[T.StructField] | None = None) -> T.StructType:
    """Canonical media table: id + opaque payload + typed metadata."""
    fields = [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", MEDIA_META_SCHEMA),
    ]
    return T.StructType(fields + (extra_fields or []))


def _fake_decode(payload: bytes) -> dict:
    """Deterministic stand-in for a real image decode: dimensions and a tiny
    'pixel stat' derived from the md5 of the payload."""
    if payload is None:
        return {"width": None, "height": None, "mean_luma": None}
    h = hashlib.md5(payload).digest()
    return {
        "width": 64 + h[0] % 192,
        "height": 64 + h[1] % 192,
        "mean_luma": round(sum(h[2:10]) / (8 * 255.0), 6),
    }


DECODE_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
    ]
)


def decode_images(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    decoder: Callable[[bytes], dict] | None = None,
) -> DataFrame:
    """Decode image payloads to (width, height, mean_luma) via mapInPandas.

    With ``decoder=None`` the deterministic fake runs (container has no image
    libs); supply e.g. a Pillow-based callable in production:

        def pil_decode(b):
            img = PIL.Image.open(io.BytesIO(b)); ...
    """
    decode = decoder or _fake_decode

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = pdf[payload_col].map(
                lambda b: decode(bytes(b)) if b is not None else _fake_decode(None)
            )
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "width": [d["width"] for d in out],
                    "height": [d["height"] for d in out],
                    "mean_luma": [d["mean_luma"] for d in out],
                }
            )

    return fan_out(df.select(id_col, payload_col)).mapInPandas(batches, DECODE_RESULT_SCHEMA)


IMAGE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("px_sum", T.LongType()),
        T.StructField("px_wsum", T.LongType()),
    ]
)


def image_stats(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    decoder: Callable[[bytes], "object"] | None = None,
) -> DataFrame:
    """Integer-exact per-image decode statistics via mapInPandas:
    ``px_sum`` = sum of all decoded RGB bytes, ``px_wsum`` = the
    position-weighted checksum sum(i * pixel[i]) over the row-major RGB
    flattening. Unlike float means, these are exactly reproducible in
    SQL — and ``px_wsum`` is POSITION-sensitive, so a decoder that flips
    rows (bottom-up origin), swaps channels (BGR), or mis-handles row
    padding produces a different value even when the byte multiset is
    identical. This is the oracle device the mm_decode gate queries use:
    payloads constructed so pixel[i] is a closed form of the row id make
    both checksums DuckDB-computable without decoding anything.

    ``decoder`` maps payload bytes -> (H, W, 3) uint8 (default: the real
    dependency-free ``imagecodec.decode_rgb``)."""
    import numpy as np

    from .imagecodec import decode_rgb

    decode = decoder or decode_rgb

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, ws, hs, sums, wsums = [], [], [], [], []
            for mid, b in zip(pdf[id_col], pdf[payload_col]):
                ids.append(mid)
                if b is None:
                    ws.append(None), hs.append(None)
                    sums.append(None), wsums.append(None)
                    continue
                rgb = np.asarray(decode(bytes(b)), dtype=np.uint8)
                flat = rgb.reshape(-1).astype(np.int64)
                ws.append(int(rgb.shape[1]))
                hs.append(int(rgb.shape[0]))
                sums.append(int(flat.sum()))
                wsums.append(int((flat * np.arange(flat.size)).sum()))
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "width": pd.array(ws, dtype="Int32"),
                    "height": pd.array(hs, dtype="Int32"),
                    "px_sum": pd.array(sums, dtype="Int64"),
                    "px_wsum": pd.array(wsums, dtype="Int64"),
                }
            )

    return fan_out(df.select(id_col, payload_col)).mapInPandas(batches, IMAGE_STATS_SCHEMA)


AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("s_sum", T.LongType()),
        T.StructField("s_wsum", T.LongType()),
    ]
)


def audio_stats(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    decoder: Callable[[bytes], dict] | None = None,
) -> DataFrame:
    """Per-payload audio decode statistics via mapInPandas — the audio
    twin of :func:`image_stats`: real (sample_rate, duration_ms,
    n_channels, n_frames) plus the integer-exact ``s_sum`` and
    position-weighted ``s_wsum`` checksums, SQL-reproducible for
    id-arithmetic oracle fixtures. ``decoder`` maps payload bytes to
    the meta dict (default: the dependency-free
    ``audiocodec.decode_audio_meta`` — RIFF/WAVE PCM); null payloads
    yield null stats, total output rows == input rows."""
    from .audiocodec import decode_audio_meta

    decode = decoder or decode_audio_meta
    fields = [f.name for f in AUDIO_STATS_SCHEMA.fields if f.name != "media_id"]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            metas = [
                decode(bytes(b)) if b is not None else decode(None)
                for b in pdf[payload_col]
            ]
            out = {"media_id": pdf[id_col]}
            for f in fields:
                dtype = "Int32" if f in ("sample_rate", "n_channels") else "Int64"
                out[f] = pd.array([m.get(f) for m in metas], dtype=dtype)
            yield pd.DataFrame(out)

    return fan_out(df.select(id_col, payload_col)).mapInPandas(batches, AUDIO_STATS_SCHEMA)


VIDEO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("v_sum", T.LongType()),
        T.StructField("v_wsum", T.LongType()),
    ]
)


def video_stats(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    decoder: Callable[[bytes], dict] | None = None,
) -> DataFrame:
    """Per-payload video decode statistics via mapInPandas — the video
    member of the image_stats / audio_stats family: real (width, height,
    n_frames, duration_ms) plus the integer-exact ``v_sum`` and
    FRAME-MAJOR position-weighted ``v_wsum`` checksums, SQL-reproducible
    for id-arithmetic oracle fixtures; because the weighting runs across
    frames, frame ORDER and frame boundaries are part of the gated
    contract. ``decoder`` maps payload bytes to the meta dict (default:
    the dependency-free ``videocodec.decode_video_meta`` — Y4M and
    uncompressed AVI); null payloads yield null stats, total output rows
    == input rows."""
    from .videocodec import decode_video_meta

    decode = decoder or decode_video_meta
    fields = [f.name for f in VIDEO_STATS_SCHEMA.fields if f.name != "media_id"]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            metas = [
                decode(bytes(b)) if b is not None else decode(None)
                for b in pdf[payload_col]
            ]
            out = {"media_id": pdf[id_col]}
            for f in fields:
                dtype = "Int32" if f in ("width", "height", "n_frames") else "Int64"
                out[f] = pd.array([m.get(f) for m in metas], dtype=dtype)
            yield pd.DataFrame(out)

    return fan_out(df.select(id_col, payload_col)).mapInPandas(batches, VIDEO_STATS_SCHEMA)


FRAME_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("f_sum", T.LongType()),
        T.StructField("f_wsum", T.LongType()),
    ]
)


def frame_stats(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    stride: int = 1,
) -> DataFrame:
    """Per-FRAME decode statistics via mapInPandas: one output row per
    sampled frame (every ``stride``-th, starting at 0) with integer-exact
    ``f_sum`` / position-weighted ``f_wsum`` over that frame's rounded
    luma plane — the exploded companion to :func:`video_stats` and the
    REAL-decode counterpart of :func:`frame_sample_plan` (which samples
    from metadata without decoding). Frames stream through
    ``videocodec.iter_frame_luma`` one at a time, so a long clip never
    materializes fully in worker memory; null payloads yield a single
    null-stats row so row provenance is preserved."""
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")
    import numpy as np

    from .videocodec import iter_frame_luma

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, sums, wsums = [], [], [], []
            for mid, b in zip(pdf[id_col], pdf[payload_col]):
                if b is None:
                    ids.append(mid), idxs.append(None)
                    sums.append(None), wsums.append(None)
                    continue
                for i, luma in enumerate(iter_frame_luma(bytes(b))):
                    if i % stride:
                        continue
                    flat = np.rint(luma).astype(np.int64).reshape(-1)
                    ids.append(mid), idxs.append(i)
                    sums.append(int(flat.sum()))
                    wsums.append(int((flat * np.arange(flat.size)).sum()))
            yield pd.DataFrame(
                {
                    "media_id": pd.array(ids, dtype="Int64"),
                    "frame_idx": pd.array(idxs, dtype="Int32"),
                    "f_sum": pd.array(sums, dtype="Int64"),
                    "f_wsum": pd.array(wsums, dtype="Int64"),
                }
            )

    return fan_out(df.select(id_col, payload_col)).mapInPandas(batches, FRAME_STATS_SCHEMA)


def extract_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    dim: int = 16,
    extractor: Callable[[bytes], list[float]] | None = None,
) -> DataFrame:
    """Feature/embedding extraction stub: payload -> float vector. The fake
    derives a deterministic dim-length vector from md5(payload); a real model
    (CLIP etc.) slots into ``extractor`` unchanged."""

    def fake(b: bytes) -> list[float]:
        h = hashlib.md5(b).digest()
        raw = (h * ((dim // len(h)) + 1))[:dim]
        return [round(x / 255.0, 6) for x in raw]

    fn = extractor or fake
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("features", T.ArrayType(T.FloatType())),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "features": pdf[payload_col].map(
                        lambda b: fn(bytes(b)) if b is not None else None
                    ),
                }
            )

    return fan_out(df.select(id_col, payload_col)).mapInPandas(batches, schema)


def frame_sample_plan(
    df: DataFrame,
    every_ms: int = 1000,
    id_col: str = "media_id",
    meta_col: str = "meta",
) -> DataFrame:
    """Video frame-sampling *plan*: one row per (media_id, frame_ts_ms)
    derived from the metadata duration — pure JVM-side sequence/explode, no
    decode. The decode of the sampled frames would then run through
    decode_images on a (media_id, frame_ts) join back to payloads."""
    dur = F.col(f"{meta_col}.duration_ms")
    ts = F.explode(
        F.sequence(F.lit(0), F.greatest(dur - 1, F.lit(0)), F.lit(every_ms))
    )
    return df.filter(dur.isNotNull() & (dur > 0)).select(
        id_col, ts.alias("frame_ts_ms")
    )


RESIZE_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    payload_col: str = "payload",
    id_col: str = "media_id",
    resizer: Callable[[bytes, int, int], bytes] | None = None,
) -> DataFrame:
    """Resize image payloads to (width, height) via mapInPandas — the
    batch-preprocessing step before feature extraction. With
    ``resizer=None`` a deterministic fake produces a stable payload from
    md5(original || dims) (container has no Pillow); a real implementation
    slots into ``resizer`` without touching the Spark-side plumbing:

        def pil_resize(b, w, h):
            img = PIL.Image.open(io.BytesIO(b)).resize((w, h)); ...

    Null payloads pass through as null (width/height still set, matching
    decode_images' behavior of total output rows == input rows)."""
    if width <= 0 or height <= 0:
        raise ValueError(f"target dims must be positive, got {width}x{height}")

    def fake(b: bytes, w: int, h: int) -> bytes:
        seed = hashlib.md5(b + f"|{w}x{h}".encode()).digest()
        # deterministic pseudo-payload scaled to the target size (capped)
        n = min(w * h, 4096)
        return (seed * ((n // len(seed)) + 1))[:n]

    fn = resizer or fake

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "payload": pdf[payload_col].map(
                        lambda b: fn(bytes(b), width, height)
                        if b is not None
                        else None
                    ),
                    "width": width,
                    "height": height,
                }
            )

    return fan_out(df.select(id_col, payload_col)).mapInPandas(batches, RESIZE_RESULT_SCHEMA)


def _fake_pixels(payload: bytes, size: int = 32) -> "object":
    """Deterministic stand-in for decode-to-grayscale: a size x size
    float array seeded from the payload md5. NEAR-duplicate-friendly on
    purpose: the array is a smooth gradient field whose parameters come
    from the digest, so payloads sharing a digest prefix produce close
    pixel fields (lets tests plant near-dups without real codecs)."""
    import numpy as np

    if payload is None:
        return None
    h = hashlib.md5(payload).digest()
    rng = np.arange(size, dtype=np.float64)
    gx = (h[0] / 255.0) * rng[None, :] / size
    gy = (h[1] / 255.0) * rng[:, None] / size
    base = (h[2] / 255.0) + gx + gy
    ripple = (h[3] / 255.0) * np.sin(
        rng[None, :] * (1 + h[4] % 7) * np.pi / size
    )
    return base + ripple


def phash_images(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    pixels: Callable[[bytes], "object"] | None = None,
    hash_size: int = 8,
) -> DataFrame:
    """Perceptual hash (pHash) per image: decode to grayscale (the
    ``pixels=`` seam plugs a real ``PIL -> np.asarray`` path; default is
    the deterministic stub), 2-D DCT via numpy, keep the top-left
    hash_size x hash_size low-frequency block, threshold against its
    median -> a 64-bit fingerprint robust to resizing/re-encoding.
    Returns (id_col, phash long).

    Near-duplicate IMAGE pairs then reuse the SimHash machinery verbatim:
    ``dedup.simhash_near_pairs(phash_df.withColumnRenamed('phash',
    'simhash'), id_col, max_hamming=...)`` — the pigeonhole block join
    does not care which 64-bit perceptual fingerprint it banded.
    Arrow-batched mapInPandas; one scan, zero shuffle."""
    import numpy as np

    fn = pixels or _fake_pixels
    n = int(hash_size)
    if n < 1 or n * n > 64:
        # the fingerprint is one 64-bit long; hash_size > 8 would shift
        # n^2 bits into a uint64 and silently keep only the last 64 —
        # a truncated hash that LOOKS valid. Refuse instead.
        raise ValueError(
            f"hash_size={n} needs {n * n} bits but the phash fingerprint "
            "is a single 64-bit long; use hash_size <= 8"
        )

    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("phash", T.LongType()),
        ]
    )
    cols = [f.name for f in df.schema.fields]
    ppos = cols.index(payload_col)
    ipos = cols.index(id_col)

    def _dct_mat(k: int) -> "np.ndarray":
        i = np.arange(k)
        return np.cos(np.pi * (2 * i[None, :] + 1) * i[:, None] / (2 * k))

    def batches(it):
        dcts = {}  # per-dimension DCT matrices: real decoders emit
        # arbitrary (h, w) arrays, so rows and columns each get their own
        # transform (D_h @ px @ D_w.T) — no square-input precondition

        def _dct(k):
            if k not in dcts:
                dcts[k] = _dct_mat(k)
            return dcts[k]

        # n*n-bit fold weights, MSB-first: value = sum(bits[i] << (n*n-1-i));
        # disjoint powers of two, so the uint64 sum can't overflow
        weights = (np.uint64(1) << np.arange(n * n - 1, -1, -1, dtype=np.uint64))

        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf.iloc[:, ipos].tolist()
            hashes: list = [None] * len(ids)
            # decode stays per-image (the pixels= seam takes one payload);
            # DCT + median-threshold + bit fold batch per (h, w) shape —
            # one stacked matmul per shape instead of per-image numpy
            by_shape: dict = {}
            for row_i, payload in enumerate(pdf.iloc[:, ppos]):
                px = fn(bytes(payload)) if payload is not None else None
                if px is None:
                    continue
                px = np.asarray(px, dtype=np.float64)
                h_dim, w_dim = px.shape
                if n > min(h_dim, w_dim):
                    raise ValueError(
                        f"hash_size={n} exceeds decoded image dims "
                        f"({h_dim}x{w_dim}); decode/resize to at least "
                        f"{n}x{n} pixels"
                    )
                by_shape.setdefault((h_dim, w_dim), ([], []))
                by_shape[(h_dim, w_dim)][0].append(row_i)
                by_shape[(h_dim, w_dim)][1].append(px)
            for (h_dim, w_dim), (rows, pxs) in by_shape.items():
                stack = np.stack(pxs)  # (B, h, w)
                freq = _dct(h_dim)[None, :, :] @ stack @ _dct(w_dim).T[None, :, :]
                flat = freq[:, :n, :n].reshape(len(rows), n * n)
                med = np.median(flat[:, 1:], axis=1)  # skip the DC coeff
                bits = flat > med[:, None]
                bits[:, 0] = False  # DC excluded from the fingerprint
                vals = (bits.astype(np.uint64) * weights[None, :]).sum(
                    axis=1, dtype=np.uint64
                ).astype(np.int64)  # two's-complement into long
                for row_i, v in zip(rows, vals):
                    hashes[row_i] = int(v)
            yield pd.DataFrame({id_col: ids, "phash": hashes})

    return df.mapInPandas(batches, schema=out_schema)
