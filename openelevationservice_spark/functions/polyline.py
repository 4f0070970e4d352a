"""Google encoded-polyline codec (2-D and 3-D), byte-exact to the reference.

The reference vendored the public-domain polyline algorithm
(reference ``server/utils/codec.py``, itself from hicsail/polyline,
MIT) with three parity-critical quirks that we reproduce:

- Python-2 rounding: ``copysign(floor(abs(x) + 0.5), x)``
  (``codec.py:21-23``) — round-half-away-from-zero, not banker's;
- wire order is (lat, lon) while the geometry order is (x=lon, y=lat)
  (``codec.py:76,105-107``);
- elevation uses a fixed factor 100 regardless of precision
  (``codec.py:82,110``), so z decodes as ``value / 100``.

Per-string bit-twiddling is inherent to the format, so the codec is
two plain functions: the request surface (``api.py``) decodes request
geometries and encodes replies on the driver, and the contract's
``polyline_roundtrip`` query runs them row by row inside Arrow batches
against its SQL oracle.
"""

from __future__ import annotations

import math


def _round_half_away(x: float) -> int:
    return int(math.copysign(math.floor(math.fabs(x) + 0.5), x))


def _emit(chunks: list[str], curr: float, prev: float, factor: int) -> None:
    delta = _round_half_away(curr * factor) - _round_half_away(prev * factor)
    v = delta << 1
    if v < 0:
        v = ~v
    while v >= 0x20:
        chunks.append(chr((0x20 | (v & 0x1F)) + 63))
        v >>= 5
    chunks.append(chr(v + 63))


def encode(coords, precision: int = 5, is3d: bool = False) -> str:
    """coords: sequence of (lon, lat[, z]) tuples → encoded string."""
    factor = int(10 ** precision)
    chunks: list[str] = []
    prev = (0.0, 0.0, 0.0)
    for c in coords:
        _emit(chunks, c[1], prev[1], factor)   # lat first on the wire
        _emit(chunks, c[0], prev[0], factor)
        if is3d:
            _emit(chunks, c[2], prev[2], 100)
        prev = (c[0], c[1], c[2] if is3d else 0.0)
    return "".join(chunks)


def _take(s: str, i: int) -> tuple[int, int]:
    result, shift = 0, 0
    while True:
        b = ord(s[i]) - 63
        i += 1
        result |= (b & 0x1F) << shift
        shift += 5
        if b < 0x20:
            break
    return (~(result >> 1) if (result & 1) else (result >> 1)), i


def decode(expression: str, precision: int = 5, is3d: bool = False):
    """Encoded string → list of (lon, lat[, z]) tuples.

    Output is (x, y) = (lon, lat) order like the reference
    (``codec.py:55`` "the output is [X, Y], not [Lat, Long]").
    """
    factor = float(10 ** precision)
    coords = []
    i, lat, lon, z = 0, 0, 0, 0
    while i < len(expression):
        dlat, i = _take(expression, i)
        dlon, i = _take(expression, i)
        lat += dlat
        lon += dlon
        if is3d:
            dz, i = _take(expression, i)
            z += dz
            coords.append((lon / factor, lat / factor, z / 100))
        else:
            coords.append((lon / factor, lat / factor))
    return coords
