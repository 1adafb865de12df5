"""Multimodal column plumbing: images/audio/video as opaque ``binary``
columns with typed metadata.

Everything Spark-side is real and tested — schemas, Arrow batch shape,
partitioning, the mapInPandas signatures — against two deterministic
asset tables: the synthetic ``MGB1`` container format (magic + kind +
width/height/duration header + payload, ``synth_assets``) for the
metadata/feature stages, and REAL image files for the decode stage:
uncompressed 24-bit BMP (``write_bmp_assets_parquet``) and PNG
(``write_png_assets_parquet``) — both decoded codec-free, BMP in pure
numpy and PNG via stdlib ``zlib`` + the five standard scanline filters
(None/Sub/Up/Average/Paeth; 8/16-bit gray/RGB/RGBA and 8-bit paletted,
plain or Adam7-interlaced).  Formats that genuinely need a codec
library this container does not ship (JPEG, audio/video codecs,
sub-byte-depth PNG) raise ``NotImplementedError`` with the dependency
named.
"""

from __future__ import annotations

import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from mgspark.session import local_frame

__all__ = [
    "synth_assets",
    "write_assets_parquet",
    "synth_bmp_bytes",
    "write_bmp_assets_parquet",
    "synth_png_bytes",
    "write_png_assets_parquet",
    "extract_asset_meta",
    "byte_histogram_features",
    "decode_image",
    "resize_image",
    "pcm_waveform_stats",
    "sample_frames",
]

_MAGIC = b"MGB1"
_KINDS = ("image", "audio", "video")


def _gen_asset_rows(n: int, seed: int) -> list[tuple[int, str, bytes]]:
    """Deterministic fake binary assets in the MGB1 container format.

    Header: 4-byte magic, 1-byte kind, uint16 width, uint16 height,
    uint32 duration_ms, then ``width*height % 4096`` pseudo-random
    payload bytes.  Stands in for real media files so the decode
    plumbing has bytes to parse.
    """
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        kind_idx = int(rng.integers(0, len(_KINDS)))
        width = int(rng.integers(16, 512))
        height = int(rng.integers(16, 512))
        duration = int(rng.integers(0, 60_000)) if kind_idx > 0 else 0
        n_payload = (width * height) % 4096
        payload = rng.integers(0, 256, size=n_payload, dtype=np.uint8).tobytes()
        blob = _MAGIC + struct.pack("<BHHI", kind_idx, width, height, duration) + payload
        rows.append((i, _KINDS[kind_idx], blob))
    return rows


def synth_assets(spark: SparkSession, n: int = 256, seed: int = 42) -> DataFrame:
    """MGB1 asset table as a Spark DataFrame (see :func:`_gen_asset_rows`)."""
    return local_frame(
        spark, _gen_asset_rows(n, seed), "asset_id long, kind string, payload binary"
    )


def write_assets_parquet(path: str, n: int = 256, seed: int = 42) -> str:
    """Persist the deterministic MGB1 asset table as one parquet file.

    Spark-free (pyarrow) so it can run at import time; idempotent
    (same seed -> same bytes) and atomic (write temp + rename) so a
    concurrent oracle-side reader never sees a partial file.
    """
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.exists(path):
        return path
    rows = _gen_asset_rows(n, seed)
    table = pa.table(
        {
            "asset_id": pa.array([r[0] for r in rows], pa.int64()),
            "kind": pa.array([r[1] for r in rows], pa.string()),
            "payload": pa.array([r[2] for r in rows], pa.binary()),
        }
    )
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return path


_META_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("width", LongType(), False),
        StructField("height", LongType(), False),
        StructField("duration_ms", LongType(), False),
        StructField("payload_bytes", LongType(), False),
    ]
)


def extract_asset_meta(df: DataFrame) -> DataFrame:
    """Parse the MGB1 header per asset — the metadata-extraction stage of
    a media pipeline (vectorized struct.unpack per batch row; payload
    bytes are never copied out of the Arrow buffer)."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = []
            for blob in pdf["payload"]:
                blob = bytes(blob)
                if blob[:4] != _MAGIC or len(blob) < 13:
                    metas.append((0, 0, 0, len(blob), "unknown"))
                    continue
                kind_idx, width, height, duration = struct.unpack("<BHHI", blob[4:13])
                metas.append(
                    (width, height, duration, len(blob) - 13, _KINDS[kind_idx])
                )
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"].to_numpy(dtype=np.int64),
                    "kind": [m[4] for m in metas],
                    "width": [m[0] for m in metas],
                    "height": [m[1] for m in metas],
                    "duration_ms": [m[2] for m in metas],
                    "payload_bytes": [m[3] for m in metas],
                }
            )

    return df.select("asset_id", "payload").mapInPandas(parse, _META_SCHEMA)


_FEAT_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("features", ArrayType(DoubleType(), False), False),
    ]
)


def byte_histogram_features(
    df: DataFrame, n_bins: int = 16, normalize: bool = True
) -> DataFrame:
    """Deterministic per-asset feature vector: byte histogram of the
    payload — the feature-extraction stage with the codec swapped for a
    histogram (numpy bincount per asset).  ``normalize=False`` keeps raw
    integer counts (exact, so cross-engine oracle comparisons avoid
    float rounding ties)."""

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for blob in pdf["payload"]:
                arr = np.frombuffer(bytes(blob)[13:], dtype=np.uint8)
                if len(arr) == 0:
                    feats.append([0.0] * n_bins)
                    continue
                hist = np.bincount(arr >> (8 - n_bins.bit_length() + 1), minlength=n_bins)
                if normalize:
                    feats.append((hist / hist.sum()).tolist())
                else:
                    feats.append(hist.astype(np.float64).tolist())
            yield pd.DataFrame(
                {"asset_id": pdf["asset_id"].to_numpy(dtype=np.int64), "features": feats}
            )

    return df.select("asset_id", "payload").mapInPandas(featurize, _FEAT_SCHEMA)


def synth_bmp_bytes(
    width: int, height: int, rng: np.random.Generator
) -> tuple[bytes, np.ndarray]:
    """One uncompressed 24-bit bottom-up BMP with random pixels.

    Returns (file bytes, pixels) where ``pixels`` is the decoded truth:
    (height, width, 3) uint8 in RGB order, top-down row order.
    """
    pixels = rng.integers(0, 256, size=(height, width, 3), dtype=np.uint8)
    stride = (width * 3 + 3) // 4 * 4
    rows = np.zeros((height, stride), dtype=np.uint8)
    # BMP stores BGR, bottom row first.
    rows[:, : width * 3] = pixels[::-1, :, ::-1].reshape(height, width * 3)
    data = rows.tobytes()
    file_size = 14 + 40 + len(data)
    header = (
        b"BM"
        + struct.pack("<IHHI", file_size, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    )
    return header + data, pixels


def write_bmp_assets_parquet(path: str, n: int = 64, seed: int = 43) -> str:
    """Deterministic real-BMP asset table (asset_id, payload) as one
    parquet file — Spark-free, idempotent, atomic (like
    :func:`write_assets_parquet`).  Widths deliberately MIX strides:
    every odd asset gets an odd width (1-3 padding bytes per row), so
    the decoder's padding-strip path is exercised by the oracle fixture
    (VERDICT r3 task #5), not just by unit tests; even assets keep
    multiple-of-4 widths (zero padding)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.exists(path):
        return path
    rng = np.random.default_rng(seed)
    blobs = []
    for i in range(n):
        if i % 2:
            width = 2 * int(rng.integers(3, 16)) + 1  # odd: 7..31, padded rows
        else:
            width = 4 * int(rng.integers(2, 9))  # 8..32, multiple of 4
        height = int(rng.integers(4, 25))
        blob, _ = synth_bmp_bytes(width, height, rng)
        blobs.append(blob)
    table = pa.table(
        {
            "asset_id": pa.array(range(n), pa.int64()),
            "payload": pa.array(blobs, pa.binary()),
        }
    )
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return path


# ---------------------------------------------------------------------------
# PNG: real codec-free decode via stdlib zlib (RFC 2083).  Supported:
# bit depths 8 and 16 (16-bit samples normalized to 8 by the high byte),
# color types 0 (gray), 2 (RGB), 3 (paletted, PLTE lookup, 8-bit only),
# 6 (RGBA, alpha dropped), non-interlaced AND Adam7-interlaced (seven
# independently filtered sub-image passes).  Sub-byte depths raise
# NotImplementedError — those would need a real codec dependency to
# validate against; 8-bit palette and interlaced PNGs are common in web
# corpora.
# ---------------------------------------------------------------------------

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# samples per pixel in the FILTERED scanline stream (paletted = 1 index)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 6: 4}
# Adam7 pass grid: (x0, y0, dx, dy) per pass, in stream order
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _adam7_passes(width: int, height: int):
    """Yield (x0, y0, dx, dy, pass_width, pass_height) for the seven
    Adam7 passes; empty passes (small images) yield zero dims and carry
    no scanline data."""
    for x0, y0, dx, dy in _ADAM7:
        pw = max(0, (width - x0 + dx - 1) // dx)
        ph = max(0, (height - y0 + dy - 1) // dy)
        yield x0, y0, dx, dy, pw, ph


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def _png_filter_row(
    ftype: int, raw: np.ndarray, prior: np.ndarray, bpp: int
) -> np.ndarray:
    """Apply PNG filter ``ftype`` to one raw scanline (encode side)."""
    n = len(raw)
    left = np.zeros(n, np.int32)
    left[bpp:] = raw[:-bpp]
    up = prior.astype(np.int32)
    raw32 = raw.astype(np.int32)
    if ftype == 0:
        out = raw32
    elif ftype == 1:
        out = raw32 - left
    elif ftype == 2:
        out = raw32 - up
    elif ftype == 3:
        out = raw32 - (left + up) // 2
    else:  # Paeth
        ul = np.zeros(n, np.int32)
        ul[bpp:] = prior[:-bpp]
        p = left + up - ul
        pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
        pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul))
        out = raw32 - pred
    return (out % 256).astype(np.uint8)


def _png_unfilter_row(
    ftype: int, filt: bytearray, prior: bytearray, bpp: int
) -> bytearray:
    """Reconstruct one scanline in place (decode side).  Sub/Average/
    Paeth have a sequential data dependency along x, so those loop;
    None and Up are whole-row vectorized."""
    n = len(filt)
    if ftype == 0:
        return filt
    if ftype == 2:
        np_row = np.frombuffer(bytes(filt), np.uint8).astype(np.int32)
        np_prior = np.frombuffer(bytes(prior), np.uint8).astype(np.int32)
        return bytearray(((np_row + np_prior) % 256).astype(np.uint8).tobytes())
    if ftype == 1:
        for i in range(n):
            left = filt[i - bpp] if i >= bpp else 0
            filt[i] = (filt[i] + left) & 0xFF
        return filt
    if ftype == 3:
        for i in range(n):
            left = filt[i - bpp] if i >= bpp else 0
            filt[i] = (filt[i] + (left + prior[i]) // 2) & 0xFF
        return filt
    if ftype == 4:
        for i in range(n):
            a = filt[i - bpp] if i >= bpp else 0
            b = prior[i]
            c = prior[i - bpp] if i >= bpp else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            filt[i] = (filt[i] + pred) & 0xFF
        return filt
    raise NotImplementedError(f"decode_image: unknown PNG filter type {ftype}")


def _png_filter_stream(raw_rows: np.ndarray, bpp: int) -> bytearray:
    """Filter a (rows, row_bytes) byte block into a PNG scanline stream,
    cycling filter types 0..4 so every filter is exercised on decode."""
    stream = bytearray()
    prior = np.zeros(raw_rows.shape[1] if len(raw_rows) else 0, np.uint8)
    for r in range(len(raw_rows)):
        ftype = r % 5
        stream.append(ftype)
        stream.extend(_png_filter_row(ftype, raw_rows[r], prior, bpp).tobytes())
        prior = raw_rows[r]
    return stream


def synth_png_bytes(
    width: int,
    height: int,
    rng: np.random.Generator,
    color_type: int = 2,
    depth: int = 8,
    interlace: int = 0,
) -> tuple[bytes, np.ndarray]:
    """One real PNG with random pixels; per-row filter types cycle 0..4
    so every standard scanline filter is exercised on decode.

    ``depth`` may be 8 or 16 (16-bit samples are big-endian per the
    spec; the truth below normalizes them by the high byte, matching
    :func:`_decode_png`).  ``interlace=1`` emits Adam7: seven
    independently filtered sub-image passes in stream order.

    Returns (file bytes, pixels) where ``pixels`` is the decoded truth
    as (height, width, 3) uint8 RGB — gray replicated across channels,
    RGBA with the alpha channel dropped, paletted (color type 3)
    resolved through a random PLTE (matching :func:`_decode_png`).
    """
    if depth not in (8, 16) or (depth == 16 and color_type == 3):
        raise ValueError(f"synth_png_bytes: unsupported depth={depth} "
                         f"for color_type={color_type}")
    channels = _PNG_CHANNELS[color_type]
    bpp = channels * depth // 8
    palette = None
    if color_type == 3:
        n_colors = int(rng.integers(4, 33))
        palette = rng.integers(0, 256, size=(n_colors, 3), dtype=np.uint8)
        samples = rng.integers(
            0, n_colors, size=(height, width, 1), dtype=np.uint8
        )
    elif depth == 16:
        samples = rng.integers(
            0, 1 << 16, size=(height, width, channels), dtype=np.uint16
        )
    else:
        samples = rng.integers(
            0, 256, size=(height, width, channels), dtype=np.uint8
        )

    def byte_rows(sub: np.ndarray) -> np.ndarray:
        """(h', w', channels) samples -> (h', w'*bpp) big-endian bytes."""
        h = sub.shape[0]
        kind = ">u2" if depth == 16 else np.uint8
        return np.frombuffer(
            np.ascontiguousarray(sub).astype(kind).tobytes(), np.uint8
        ).reshape(h, -1)

    stream = bytearray()
    if interlace:
        for x0, y0, dx, dy, pw, ph in _adam7_passes(width, height):
            if pw and ph:
                stream.extend(_png_filter_stream(byte_rows(samples[y0::dy, x0::dx]), bpp))
    else:
        stream.extend(_png_filter_stream(byte_rows(samples), bpp))
    ihdr = struct.pack(">IIBBBBB", width, height, depth, color_type, 0, 0, interlace)
    blob = _PNG_MAGIC + _png_chunk(b"IHDR", ihdr)
    if palette is not None:
        blob += _png_chunk(b"PLTE", palette.tobytes())
    blob += _png_chunk(b"IDAT", zlib.compress(bytes(stream), 6)) + _png_chunk(
        b"IEND", b""
    )
    base = (samples >> 8).astype(np.uint8) if depth == 16 else samples
    if color_type == 0:
        pixels = np.repeat(base, 3, axis=2)
    elif color_type == 3:
        pixels = palette[base.reshape(height, width)]
    elif color_type == 6:
        pixels = base[:, :, :3].copy()
    else:
        pixels = base
    return blob, pixels


def _decode_png(b: bytes) -> np.ndarray:
    """PNG bytes -> (height, width, 3) uint8 RGB.

    Pure stdlib: chunk walk, zlib inflate, the five standard scanline
    filters; bit depths 8 and 16 (16-bit samples normalized by the high
    byte); non-interlaced and Adam7-interlaced streams (each of the
    seven passes is an independently filtered sub-image, scattered back
    onto the pass grid).  Gray is replicated to 3 channels; RGBA drops
    alpha; paletted (color type 3) resolves indices through the PLTE
    table.  Sub-byte depths raise NotImplementedError (they need a
    codec library to validate against).  Structural damage — truncated
    chunks, bad zlib stream, short scanline data, an index past the
    palette — raises ValueError naming the defect, so a corrupt asset
    surfaces as a diagnosable error instead of a bare
    struct.error/zlib.error from inside the Arrow task.
    """
    pos = len(_PNG_MAGIC)
    width = height = color_type = -1
    depth = 8
    interlace = 0
    idat = bytearray()
    palette: np.ndarray | None = None
    while pos + 8 <= len(b):
        (length,) = struct.unpack(">I", b[pos : pos + 4])
        tag = b[pos + 4 : pos + 8]
        if pos + 12 + length > len(b):
            raise ValueError(
                f"decode_image: truncated PNG — chunk {tag!r} at byte {pos} "
                f"declares {length} data bytes but only "
                f"{len(b) - pos - 12} remain"
            )
        data = b[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            if length != 13:
                raise ValueError(
                    f"decode_image: corrupt PNG — IHDR length {length} != 13"
                )
            width, height, depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if (
                depth not in (8, 16)
                or color_type not in _PNG_CHANNELS
                or (depth == 16 and color_type == 3)
                or interlace not in (0, 1)
            ):
                raise NotImplementedError(
                    f"decode_image: PNG depth={depth} color_type={color_type} "
                    f"interlace={interlace} needs a codec library (Pillow); "
                    "only 8/16-bit gray/RGB/RGBA and 8-bit paletted "
                    "(plain or Adam7) decode codec-free"
                )
        elif tag == b"PLTE":
            if length % 3 or length == 0:
                raise ValueError(
                    f"decode_image: corrupt PNG — PLTE length {length} "
                    "not a positive multiple of 3"
                )
            palette = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat.extend(data)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if width < 0:
        raise ValueError("decode_image: PNG missing IHDR chunk")
    channels = _PNG_CHANNELS[color_type]
    try:
        stream = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise ValueError(
            f"decode_image: corrupt PNG — zlib inflate of {len(idat)}-byte "
            f"IDAT stream failed: {exc}"
        ) from exc
    sample_bytes = depth // 8
    bpp = channels * sample_bytes

    def unfilter_block(off: int, rows: int, row_bytes: int) -> tuple[np.ndarray, int]:
        out = np.empty((rows, row_bytes), np.uint8)
        prior = bytearray(row_bytes)
        for r in range(rows):
            ftype = stream[off]
            row = bytearray(stream[off + 1 : off + 1 + row_bytes])
            if len(row) != row_bytes:
                raise ValueError(
                    "decode_image: corrupt PNG — scanline stream ends "
                    f"mid-row ({len(row)} of {row_bytes} bytes)"
                )
            prior = _png_unfilter_row(ftype, row, prior, bpp)
            out[r] = np.frombuffer(bytes(prior), np.uint8)
            off += 1 + row_bytes
        return out, off

    def to_samples(block: np.ndarray, rows: int, cols: int) -> np.ndarray:
        """(rows, cols*bpp) unfiltered bytes -> (rows, cols, channels)
        uint8 samples (16-bit normalized by the high byte)."""
        b4 = block.reshape(rows, cols, channels, sample_bytes)
        return b4[..., 0]  # big-endian: byte 0 IS the high byte

    passes = (
        list(_adam7_passes(width, height))
        if interlace
        else [(0, 0, 1, 1, width, height)]
    )
    expected = sum(ph * (1 + pw * bpp) for *_, pw, ph in passes if pw and ph)
    if len(stream) != expected:
        raise ValueError(
            "decode_image: corrupt PNG — scanline stream length mismatch "
            f"({len(stream)} != {expected})"
        )
    px = np.zeros((height, width, channels), np.uint8)
    off = 0
    for x0, y0, dx, dy, pw, ph in passes:
        if not (pw and ph):
            continue
        block, off = unfilter_block(off, ph, pw * bpp)
        px[y0::dy, x0::dx] = to_samples(block, ph, pw)
    if color_type == 0:
        return np.repeat(px, 3, axis=2)
    if color_type == 3:
        if palette is None:
            raise ValueError(
                "decode_image: corrupt PNG — paletted (color type 3) "
                "without a PLTE chunk"
            )
        idx = px.reshape(height, width)
        hi = int(idx.max()) if idx.size else 0
        if hi >= len(palette):
            raise ValueError(
                f"decode_image: corrupt PNG — palette index {hi} out of "
                f"range for {len(palette)}-entry PLTE"
            )
        return palette[idx]
    if color_type == 6:
        return px[:, :, :3].copy()
    return px


def write_png_assets_parquet(path: str, n: int = 64, seed: int = 47) -> str:
    """Deterministic real-PNG asset table — (asset_id, payload) plus
    encode-time truth columns (true_width, true_height, true_px_sum)
    computed from the pre-compression pixel array.  zlib output is not
    hex-parsable in SQL, so the DuckDB oracle reads the truth columns:
    equality proves a real compress->decode round trip through every
    scanline filter.  Color types rotate gray/RGB/RGBA/paletted; the
    gray/RGB/RGBA rows additionally rotate 16-bit depth and Adam7
    interlacing so every decode path the module supports is in the
    driver fixture."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.exists(path):
        return path
    rng = np.random.default_rng(seed)
    blobs, widths, heights, sums = [], [], [], []
    for i in range(n):
        width = int(rng.integers(5, 33))
        height = int(rng.integers(6, 25))  # >= 6 rows: all 5 filters fire
        color_type = (0, 2, 6, 3)[i % 4]
        depth = 16 if color_type != 3 and (i // 4) % 2 else 8
        interlace = (i // 8) % 2
        blob, pixels = synth_png_bytes(
            width, height, rng, color_type, depth=depth, interlace=interlace
        )
        blobs.append(blob)
        widths.append(pixels.shape[1])
        heights.append(pixels.shape[0])
        sums.append(int(pixels.astype(np.int64).sum()))
    table = pa.table(
        {
            "asset_id": pa.array(range(n), pa.int64()),
            "payload": pa.array(blobs, pa.binary()),
            "true_width": pa.array(widths, pa.int64()),
            "true_height": pa.array(heights, pa.int64()),
            "true_px_sum": pa.array(sums, pa.int64()),
        }
    )
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return path


_DECODE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("width", LongType(), False),
        StructField("height", LongType(), False),
        StructField("pixels", ArrayType(LongType(), False), False),
    ]
)


def decode_image(df: DataFrame) -> DataFrame:
    """Decode image payloads to pixel arrays — REAL for uncompressed
    24-bit BMP (pure numpy: header parse, stride/padding removal,
    bottom-up flip, BGR->RGB) and PNG (stdlib zlib inflate + the five
    standard scanline filters; 8/16-bit gray/RGB/RGBA and 8-bit
    paletted, plain or Adam7-interlaced; 16-bit samples normalized by
    the high byte), dispatched on the file magic.  Output rows: (asset_id, width, height, pixels)
    with ``pixels`` the flattened RGB values in top-down row-major order.

    Formats that need a codec this container does not ship (JPEG,
    sub-byte-depth PNG, ...) raise ``NotImplementedError`` (swap in
    ``PIL.Image.open`` on codec-enabled builds; the Spark plumbing —
    schema, batching, Arrow shape — is the same either way).  Every
    decode failure is re-raised with the offending ``asset_id`` prefixed.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, widths, heights, pixel_lists = [], [], [], []
            for asset_id, blob in zip(pdf["asset_id"], pdf["payload"]):
                try:
                    rgb = _decode_image_bytes(bytes(blob))
                except (ValueError, NotImplementedError) as exc:
                    # name the offending asset: an anonymous traceback
                    # from inside a 1000-task stage is undebuggable
                    raise type(exc)(f"asset_id={int(asset_id)}: {exc}") from exc
                ids.append(int(asset_id))
                widths.append(rgb.shape[1])
                heights.append(rgb.shape[0])
                pixel_lists.append(rgb.reshape(-1).astype(np.int64).tolist())
            yield pd.DataFrame(
                {
                    "asset_id": ids,
                    "width": widths,
                    "height": heights,
                    "pixels": pixel_lists,
                }
            )

    return df.select("asset_id", "payload").mapInPandas(decode, _DECODE_SCHEMA)


def _decode_image_bytes(b: bytes) -> np.ndarray:
    """Magic-dispatched decode: BMP and PNG are real; anything else
    names the missing codec."""
    if b[:2] == b"BM":
        return _decode_bmp(b)
    if b[: len(_PNG_MAGIC)] == _PNG_MAGIC:
        return _decode_png(b)
    raise NotImplementedError(
        "decode_image: only uncompressed 24-bit BMP and 8/16-bit "
        "plain-or-Adam7 PNG decode codec-free; this payload needs an "
        "image codec (Pillow) absent from this container"
    )


def _decode_bmp(b: bytes) -> np.ndarray:
    """Uncompressed 24-bit BMP bytes -> (height, width, 3) uint8 RGB,
    top-down row order.  Raises NotImplementedError for payloads that
    would need a codec library."""
    offset = int.from_bytes(b[10:14], "little")
    width = int.from_bytes(b[18:22], "little", signed=True)
    height = int.from_bytes(b[22:26], "little", signed=True)
    bpp = int.from_bytes(b[28:30], "little")
    compression = int.from_bytes(b[30:34], "little")
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"decode_image: {bpp}-bpp/compression={compression} BMP needs a "
            "codec; only 24-bit uncompressed decodes"
        )
    n_rows = abs(height)
    stride = (width * 3 + 3) // 4 * 4
    arr = np.frombuffer(b, np.uint8, count=stride * n_rows, offset=offset)
    rows = arr.reshape(n_rows, stride)[:, : width * 3]
    if height > 0:
        rows = rows[::-1]  # bottom-up -> top-down
    return rows.reshape(n_rows, width, 3)[:, :, ::-1]


def resize_image(df: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Decode + nearest-neighbor resize to (out_h, out_w) in one pass
    over the payload bytes — the resize stage of a media pipeline, real
    (pure numpy) for BMP and PNG payloads.  Source pixel for output (i, j) is
    (floor(i*h/out_h), floor(j*w/out_w)) — exact integer math, so the
    result is deterministic and cross-engine oracle-able.  Output rows:
    (asset_id, width, height, pixels), RGB top-down row-major.
    """
    schema = _DECODE_SCHEMA

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, pixel_lists = [], []
            for asset_id, blob in zip(pdf["asset_id"], pdf["payload"]):
                rgb = _decode_image_bytes(bytes(blob))
                h, w = rgb.shape[:2]
                rows = (np.arange(out_h, dtype=np.int64) * h) // out_h
                cols = (np.arange(out_w, dtype=np.int64) * w) // out_w
                resized = rgb[rows[:, None], cols[None, :]]
                ids.append(int(asset_id))
                pixel_lists.append(resized.reshape(-1).astype(np.int64).tolist())
            yield pd.DataFrame(
                {
                    "asset_id": ids,
                    "width": [out_w] * len(ids),
                    "height": [out_h] * len(ids),
                    "pixels": pixel_lists,
                }
            )

    return df.select("asset_id", "payload").mapInPandas(resize, schema)


_PCM_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("n_samples", LongType(), False),
        StructField("amp_sum", LongType(), False),
        StructField("amp_sq_sum", LongType(), False),
        StructField("zero_crossings", LongType(), False),
    ]
)


def pcm_waveform_stats(df: DataFrame, header_bytes: int = 13) -> DataFrame:
    """Audio feature extraction, REAL: interpret the payload past the
    container header as unsigned 8-bit PCM samples (no codec needed) and
    emit exact integer waveform features — sample count, amplitude sum,
    squared-amplitude sum (energy), and zero crossings around the u8
    midline 128.  Integer outputs keep the cross-engine oracle free of
    float rounding ties; mean/RMS are one driver-side division away.
    """

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ns, sums, sqs, zcs = [], [], [], [], []
            for asset_id, blob in zip(pdf["asset_id"], pdf["payload"]):
                samples = np.frombuffer(bytes(blob), np.uint8, offset=header_bytes)
                ids.append(int(asset_id))
                ns.append(len(samples))
                if len(samples) == 0:
                    sums.append(0)
                    sqs.append(0)
                    zcs.append(0)
                    continue
                s64 = samples.astype(np.int64)
                sums.append(int(s64.sum()))
                sqs.append(int((s64 * s64).sum()))
                below = samples < 128
                zcs.append(int(np.count_nonzero(below[1:] != below[:-1])))
            yield pd.DataFrame(
                {
                    "asset_id": ids,
                    "n_samples": ns,
                    "amp_sum": sums,
                    "amp_sq_sum": sqs,
                    "zero_crossings": zcs,
                }
            )

    return df.select("asset_id", "payload").mapInPandas(stats, _PCM_SCHEMA)


def sample_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame sampling for video payloads.

    Real part: per-asset frame *timestamps* derived from the parsed
    duration (JVM-side sequence). Stub part: actual frame decode (no
    video codec in this container) — downstream gets (asset_id, frame_ts)
    rows ready to feed a decoder.
    """
    meta = extract_asset_meta(df)
    return (
        meta.where((F.col("kind") == "video") & (F.col("duration_ms") > 0))
        .select(
            "asset_id",
            F.explode(
                F.sequence(F.lit(0), F.col("duration_ms") - 1, F.lit(every_ms))
            ).alias("frame_ts"),
        )
    )
