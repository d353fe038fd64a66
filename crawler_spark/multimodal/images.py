"""Multimodal (image) column operators.

Treats images as opaque ``binary`` columns with typed metadata (w, h,
fmt) per BASELINE.json ``input_hint``. The Spark-side plumbing — schema,
``mapInPandas`` batch shape, Arrow transfer, partition behavior — is
real and tested; the *codec* is the sandbox stand-in (no image libraries
in this container): header ``SGI1 | fmt u8 | w u16le | h u16le`` +
grayscale payload. ``png`` (fmt 0) is lossless; ``jpeg`` (fmt 1)
quantizes to even pixel values → decoded-pixel PSNR ≈ 51 dB, satisfying
the ≥40 dB lossy invariant. Swapping in a real codec (PIL / turbojpeg /
ffmpeg for frame sampling) only changes ``sgi_encode`` and
``sgi_try_decode`` — every Spark-facing signature stays put.
"""

from __future__ import annotations

import functools
import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

HEADER = b"SGI1"
_FMTS = {0: "png", 1: "jpeg"}
_FMT_CODE = {"png": 0, "jpeg": 1}


def sgi_encode(pixels: np.ndarray, fmt: str) -> bytes:
    """Encode an (h, w) uint8 grayscale array. jpeg path is lossy
    (quantize-to-even)."""
    h, w = pixels.shape
    payload = pixels if fmt == "png" else (pixels & 0xFE)
    return (
        HEADER
        + bytes([_FMT_CODE[fmt]])
        + int(w).to_bytes(2, "little")
        + int(h).to_bytes(2, "little")
        + payload.astype(np.uint8).tobytes()
    )


def sgi_try_decode(blob: bytes):
    """Total-function decode for quarantine paths: → (pixels, fmt, None)
    on success, (None, None, reason) on any malformed input —
    ``bad_magic`` (foreign/garbage header, unknown format code, or too
    short to carry one) or ``truncated`` (valid header, payload shorter
    than w*h). The module's one header parser: at the 100 TB design
    point some fetched blobs ARE garbage, and a scan must classify them."""
    if len(blob) < 9 or blob[:4] != HEADER or blob[4] not in _FMTS:
        return None, None, "bad_magic"
    fmt = _FMTS[blob[4]]
    w = int.from_bytes(blob[5:7], "little")
    h = int.from_bytes(blob[7:9], "little")
    if len(blob) < 9 + w * h:
        return None, None, "truncated"
    pix = np.frombuffer(blob[9 : 9 + w * h], dtype=np.uint8).reshape(h, w)
    return pix, fmt, None


def sgi_decode(blob: bytes) -> tuple:
    """→ ((h, w) uint8 array, fmt str). Raises NotImplementedError on a
    foreign header, ValueError on a truncated payload."""
    pix, fmt, err = sgi_try_decode(blob)
    if err == "bad_magic":
        raise NotImplementedError(
            "real image codecs unavailable in this container; only the "
            "SGI1 stand-in codec is decodable (see module docstring)"
        )
    if err is not None:
        raise ValueError(f"{err} SGI1 blob ({len(blob)} bytes)")
    return pix, fmt


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    return float("inf") if mse == 0 else 10.0 * np.log10(255.0**2 / mse)


# bit k of a phash is cell k of the 8×8 grid, row-major
_BIT_WEIGHTS = np.uint64(1) << np.arange(64, dtype=np.uint64)


@functools.lru_cache(maxsize=1024)
def _grid(h: int, w: int) -> tuple:
    """Cell starts and areas of the 8×8 grid: row ``y`` → ``y*8 // h``,
    column ``x`` → ``x*8 // w``, so cell ``i`` starts at ``ceil(i*h/8)``."""
    ye = (np.arange(9) * h + 7) // 8
    xe = (np.arange(9) * w + 7) // 8
    return ye[:-1], xe[:-1], np.outer(np.diff(ye), np.diff(xe))


def _features(raw: bytes, on_error: str) -> tuple:
    """The one per-image kernel → (w, h, fmt, n, s, sq, cells, err): exact
    integer pixel count, sum, sum of squares and (8, 8) ``_grid`` cell
    sums. A malformed blob raises, or under ``on_error="quarantine"``
    gives None features and its ``err`` reason."""
    if on_error == "raise":
        (pix, fmt), err = sgi_decode(raw), None
    else:
        pix, fmt, err = sgi_try_decode(raw)
    if err is None and min(pix.shape) < 8:
        if on_error == "raise":
            h, w = pix.shape
            raise ValueError(f"bad_dims: {w}x{h} image, 8x8 grid needs dims >= 8")
        err = "bad_dims"
    if err is not None:
        return (None,) * 7 + (err,)
    h, w = pix.shape
    ys, xs, _ = _grid(h, w)
    p = pix.astype(np.int64)
    cells = np.add.reduceat(np.add.reduceat(p, ys, axis=0), xs, axis=1)
    flat = p.ravel()
    return w, h, fmt, p.size, int(cells.sum()), int(flat @ flat), cells, None


def _profile_row(raw: bytes, on_error: str) -> tuple:
    """One image's ``_PROFILE_SCHEMA`` fields after ``image_id``. Sums
    are exact integers under 2^53, so ``s/n``, ``sqrt((n*sq - s*s)/(n*n))``
    and the phash's cell-mean > image-mean test are single correctly
    rounded IEEE ops: an oracle restating them matches bit for bit."""
    w, h, fmt, n, s, sq, cells, err = _features(raw, on_error)
    key = hashlib.md5(raw).hexdigest()
    if err is not None:
        return None, None, None, None, None, None, key, err
    bits = (cells / _grid(h, w)[2] > s / n).ravel()
    phash = int(_BIT_WEIGHTS[bits].sum(dtype=np.uint64).astype(np.int64))
    std = math.sqrt((n * sq - s * s) / (n * n))
    return w, h, fmt, s / n, std, phash, key, None


_PROFILE_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("dec_w", T.IntegerType()),
        T.StructField("dec_h", T.IntegerType()),
        T.StructField("dec_fmt", T.StringType()),
        T.StructField("mean_px", T.DoubleType()),
        T.StructField("std_px", T.DoubleType()),
        T.StructField("phash2", T.LongType()),
        T.StructField("byte_key", T.StringType()),
        T.StructField("err", T.StringType()),
    ]
)


def image_profile(df: DataFrame, on_error: str = "raise") -> DataFrame:
    """ONE decode pass → everything an image training-data pipeline
    gates on: dims/format, exact-integer mean/std, the 64-bit perceptual
    hash (8×8 cell means thresholded at the image mean), and the
    exact-dup key (md5 of the raw bytes — hex matches ``F.md5``). At the
    100 TB design point the decode is the dominant cost, so every later
    stage works on this slim row, never the bytes; ``decode_stats`` and
    ``phash_udf_frame`` are column selections of it.

    ``on_error="quarantine"`` classifies malformed blobs instead of
    failing the task (one corrupt row in a petabyte scan must become a
    quarantined row, not a dead job): such rows carry err='bad_magic'
    (foreign header), 'truncated' (payload shorter than w*h) or
    'bad_dims' (w or h below 8, so an 8×8 cell would be empty), NULL
    stats/dims/phash, and still their byte_key (exact dedup of garbage
    is still dedup). The default ``raise`` fails the task instead."""
    if on_error not in ("raise", "quarantine"):
        raise ValueError(f"on_error must be raise|quarantine, got {on_error!r}")
    names = _PROFILE_SCHEMA.fieldNames()

    def run(batches):
        for pdf in batches:
            rows = [
                (iid, *_profile_row(bytes(blob), on_error))
                for iid, blob in zip(pdf["image_id"], pdf["bytes"])
            ]
            # object columns: a NULL must not turn phash2 into float64
            yield pd.DataFrame(rows, columns=names, dtype=object)

    return df.select("image_id", "bytes").mapInPandas(run, _PROFILE_SCHEMA)


def decode_stats(df: DataFrame) -> DataFrame:
    """Decode + per-image pixel stats (dims, format, exact-integer
    mean/std): a column selection of ``image_profile``."""
    return image_profile(df).select(
        "image_id", "dec_w", "dec_h", "dec_fmt", "mean_px", "std_px"
    )


_ENCODE_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
    ]
)


def encode_pixels(df: DataFrame) -> DataFrame:
    """JVM-generated pixels → real binary column: (image_id,
    pixels:array<int> row-major, w, h, fmt) → (image_id, bytes) through
    the codec, via ``mapInPandas``. Lets a query synthesize images with
    SQL-expressible pixel formulas (so DuckDB can restate the expected
    decode output without ever seeing the bytes) while the Spark side
    still round-trips genuine encode → binary → Arrow → decode."""

    def run(batches):
        for pdf in batches:
            ids, blobs = [], []
            for iid, pixels, w, h, fmt in zip(
                pdf["image_id"], pdf["pixels"], pdf["w"], pdf["h"], pdf["fmt"]
            ):
                pix = np.asarray(pixels, dtype=np.int64).astype(np.uint8)
                ids.append(iid)
                blobs.append(sgi_encode(pix.reshape(int(h), int(w)), fmt))
            yield pd.DataFrame({"image_id": ids, "bytes": blobs})

    return df.select("image_id", "pixels", "w", "h", "fmt").mapInPandas(
        run, _ENCODE_SCHEMA
    )


_RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
    ]
)


def resize_images(df: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize to (out_w, out_h), re-encoded lossless.
    (A real pipeline swaps the kernel; the batch plumbing is the point.)"""

    def run(batches):
        for pdf in batches:
            ids, blobs = [], []
            for iid, blob in zip(pdf["image_id"], pdf["bytes"]):
                pix, _fmt = sgi_decode(bytes(blob))
                ys = (np.arange(out_h) * pix.shape[0] // out_h).astype(np.int64)
                xs = (np.arange(out_w) * pix.shape[1] // out_w).astype(np.int64)
                ids.append(iid)
                blobs.append(sgi_encode(pix[np.ix_(ys, xs)], "png"))
            yield pd.DataFrame(
                {"image_id": ids, "bytes": blobs, "w": out_w, "h": out_h}
            )

    return df.select("image_id", "bytes").mapInPandas(run, _RESIZE_SCHEMA)


def phash_udf_frame(df: DataFrame) -> DataFrame:
    """Recompute the 64-bit perceptual hash from decoded pixels (8x8
    cell means thresholded at the image mean — must reproduce the
    corpus-side phash column bit-for-bit; tested): a column selection
    of ``image_profile``."""
    return image_profile(df).select("image_id", "phash2")


_EMBED_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("img_vec", T.ArrayType(T.LongType())),
    ]
)


def block_embedding(df: DataFrame) -> DataFrame:
    """64-dim image embedding from decoded pixels: the EXACT integer sum
    of each cell of the 8×8 grid the perceptual hash uses (row ``y`` →
    ``y*8 // h``, column ``x`` → ``x*8 // w``), row-major. Dims below 8
    fail the task with a ValueError naming them (``bad_dims``). Cells
    have equal area only when both dims are multiples of 8; otherwise
    areas differ by up to one row and one column, so cosine between two
    embeddings is then only nearly resolution-independent. Exact int64
    components are what let a cross-modal cosine over this embedding
    hash-match a DuckDB oracle bit-for-bit: dot and norms are integer
    sums, and only the final divide/sqrt touch floats. One
    ``mapInPandas`` decode pass, zero shuffle — the 100 TB shape is scan
    → slim (image_id, 64×int64) rows, bytes never leave the scan stage."""

    def run(batches):
        for pdf in batches:
            vecs = [
                _features(bytes(blob), "raise")[6].ravel().tolist()
                for blob in pdf["bytes"]
            ]
            yield pd.DataFrame({"image_id": pdf["image_id"], "img_vec": vecs})

    return df.select("image_id", "bytes").mapInPandas(run, _EMBED_SCHEMA)


_PSNR_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("n_px", T.IntegerType()),
        T.StructField("err_sq", T.LongType()),
        T.StructField("mse", T.DoubleType()),
        T.StructField("psnr_db", T.DoubleType()),
        T.StructField("psnr_ok", T.BooleanType()),
    ]
)


def psnr_frame(df: DataFrame) -> DataFrame:
    """Per-row codec-fidelity audit (the input_hint invariant: decoded
    pixels within PSNR ≥ 40 dB of the source for lossy formats): decode
    the binary column, compare against the pre-encode ``pixels`` array
    carried on the same row, and emit the EXACT integer squared-error
    sum plus the derived mse/PSNR. err_sq and n_px are integers, mse is
    the single division err_sq/n_px, and psnr_db = 10*log10(255²·n/err)
    — one log10 over a correctly-rounded double, so an oracle restating
    the same formula matches to float precision. Lossless rows (err 0)
    report psnr_db NULL, psnr_ok true."""

    def audit(iid, blob, pixels):
        dec, fmt = sgi_decode(bytes(blob))
        src = np.asarray(pixels, dtype=np.int64).reshape(dec.shape)
        err = int(((src - dec.astype(np.int64)) ** 2).sum(dtype=np.int64))
        n = dec.size
        db = None if err == 0 else 10.0 * math.log10(65025.0 * n / err)
        return iid, fmt, n, err, err / n, db, err == 0 or db >= 40.0

    def run(batches):
        for pdf in batches:
            rows = map(audit, pdf["image_id"], pdf["bytes"], pdf["pixels"])
            yield pd.DataFrame(list(rows), columns=_PSNR_SCHEMA.fieldNames())

    return df.select("image_id", "bytes", "pixels").mapInPandas(run, _PSNR_SCHEMA)


def frame_sample(df: DataFrame, every_n: int = 2, n_frames_col: str | None = None) -> DataFrame:
    """Video-style frame sampling: emit frame indices 0, every_n,
    2*every_n, ... up to the clip's frame count. Without a frame-count
    column each image row is a 1-frame clip (frame_idx 0 only — no real
    video codec in this sandbox; the partitioning/UDF/batch shape is the
    deliverable); pass n_frames_col to sample a synthetic multi-frame
    clip. Frame BYTES beyond index 0 are the index-0 bytes (documented
    stand-in for a decoder seek)."""
    if every_n < 1:
        raise ValueError("every_n must be >= 1")
    schema = T.StructType(
        [
            T.StructField("image_id", T.StringType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("bytes", T.BinaryType()),
        ]
    )
    cols = ["image_id", "bytes"] + ([n_frames_col] if n_frames_col else [])

    def run(batches):
        for pdf in batches:
            rows = {"image_id": [], "frame_idx": [], "bytes": []}
            counts = pdf[n_frames_col] if n_frames_col else [1] * len(pdf)
            for iid, blob, nf in zip(pdf["image_id"], pdf["bytes"], counts):
                for idx in range(0, max(int(nf), 1), every_n):
                    rows["image_id"].append(iid)
                    rows["frame_idx"].append(idx)
                    rows["bytes"].append(bytes(blob))
            yield pd.DataFrame(rows)

    return df.select(*cols).mapInPandas(run, schema)
