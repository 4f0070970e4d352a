"""Image (raster tile) codecs — pure numpy + stdlib zlib, no Pillow.

The engine's source of truth is a table of image+caption pairs
(``BASELINE.json.input_hint``); each image payload is one 50x50 int16
elevation grid, the Spark stand-in for the reference's PostGIS raster
rows (reference ``server/db_import/models.py:15-21``, tiles created by
``raster2pgsql -t 50x50 -P``, ``server/db_import/filestreams.py:72``).

Formats:

- ``raw16``  — big-endian int16, row-major, h*w*2 bytes.  Always exact.
- ``png16``  — a real, spec-conformant PNG: 16-bit grayscale
  (bit depth 16, color type 0), filter type 0 scanlines, one IDAT.
  Values are biased by +32768 into uint16 on disk so the full int16
  range round-trips losslessly.

Per-row invariant (``input_hint``): decode -> tile -> encode -> decode
round-trips with PSNR >= 40 dB (lossless formats round-trip exactly)
and caption equality.  ``psnr`` and ``phash64`` are provided for that
check.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


# ---------------------------------------------------------------------------
# numpy codecs
# ---------------------------------------------------------------------------

def encode_raw16(grid: np.ndarray) -> bytes:
    return np.ascontiguousarray(grid, dtype=">i2").tobytes()


def decode_raw16(data: bytes, w: int, h: int) -> np.ndarray:
    return np.frombuffer(data, dtype=">i2").astype(np.int16).reshape(h, w)


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF))


def encode_png16(grid: np.ndarray) -> bytes:
    grid = np.asarray(grid, dtype=np.int16)
    h, w = grid.shape
    u16 = (grid.astype(np.int32) + 32768).astype(">u2")
    # filter byte 0 in front of every scanline
    raw = np.zeros((h, 2 * w + 1), dtype=np.uint8)
    raw[:, 1:] = u16.view(np.uint8).reshape(h, 2 * w)
    ihdr = struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0)
    return (_PNG_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(raw.tobytes(), 6))
            + _chunk(b"IEND", b""))


def decode_png16(data: bytes, w: int | None = None, h: int | None = None) -> np.ndarray:
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG stream")
    pos, idat, W, H = 8, [], None, None
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        payload = data[pos + 8:pos + 8 + length]
        if tag == b"IHDR":
            W, H, depth, ctype = struct.unpack(">IIBB", payload[:10])
            if depth != 16 or ctype != 0:
                raise ValueError("only 16-bit grayscale PNG supported")
        elif tag == b"IDAT":
            idat.append(payload)
        elif tag == b"IEND":
            break
        pos += 12 + length
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), dtype=np.uint8)
    raw = raw.reshape(H, 2 * W + 1)
    if not (raw[:, 0] == 0).all():
        raise ValueError("only filter type 0 supported")
    u16 = raw[:, 1:].copy().view(">u2").reshape(H, W)
    return (u16.astype(np.int32) - 32768).astype(np.int16)


def decode(data: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    if fmt == "raw16":
        return decode_raw16(data, w, h)
    if fmt == "png16":
        return decode_png16(data, w, h)
    raise NotImplementedError(f"unknown image format {fmt!r}")


def encode(grid: np.ndarray, fmt: str) -> bytes:
    if fmt == "raw16":
        return encode_raw16(grid)
    if fmt == "png16":
        return encode_png16(grid)
    raise NotImplementedError(f"unknown image format {fmt!r}")


def psnr(a: np.ndarray, b: np.ndarray, peak: float = 65535.0) -> float:
    """Peak signal-to-noise ratio in dB; inf for identical grids."""
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(peak * peak / mse)


def phash64(grid: np.ndarray) -> int:
    """Deterministic 64-bit perceptual hash: 8x8 block means vs median.

    Signed int64 so it fits the ``phash: int64`` column of the
    input_hint schema.
    """
    g = np.asarray(grid, dtype=np.float64)
    h, w = g.shape
    ry = (np.arange(9) * h) // 8
    rx = (np.arange(9) * w) // 8
    if h >= 8 and w >= 8:
        # vectorized block means: row-reduceat then column-reduceat.
        # Bit-identical to per-block .mean() for integer-valued grids
        # (int16 block sums < 2^27 are exact in float64 in ANY summation
        # order), and ~20x faster than 64 tiny .mean() calls — this was
        # the dominant per-tile cost of the ingest kernel.
        rows = np.add.reduceat(g, ry[:-1], axis=0)
        sums = np.add.reduceat(rows, rx[:-1], axis=1)
        counts = np.diff(ry)[:, None] * np.diff(rx)[None, :]
        blocks = sums / counts
    else:
        # degenerate (<8px) grids: reduceat can't express empty slices;
        # keep the slice semantics (empty block -> NaN -> bit 0)
        blocks = np.empty((8, 8), dtype=np.float64)
        for i in range(8):
            for j in range(8):
                blocks[i, j] = g[ry[i]:ry[i + 1], rx[j]:rx[j + 1]].mean()
    bits = (blocks > np.median(blocks)).ravel()
    v = int.from_bytes(np.packbits(bits, bitorder="little").tobytes(), "little")
    return v - (1 << 64) if v >= (1 << 63) else v


def roundtrip_check(data: bytes, fmt: str, w: int, h: int,
                    min_psnr: float = 40.0) -> tuple[bool, float, int]:
    """decode → encode → decode; returns (ok, psnr_db, phash)."""
    g0 = decode(data, fmt, w, h)
    g1 = decode(encode(g0, fmt), fmt, w, h)
    p = psnr(g0, g1)
    return bool(p >= min_psnr), p, phash64(g0)
