"""Geometry kernels — vectorized numpy, no shapely.

``points_in_ring`` replaces ``ST_Covers(polygon, pixel_centroid)``
(reference ``server/api/querybuilder.py:151``): even-odd ray casting
with *inclusive* boundary (Covers keeps boundary points, unlike
Contains).  Operates on whole centroid grids at once — this is the
vectorized point-in-polygon of the north rule.
"""

from __future__ import annotations

import numpy as np


def points_in_ring(px: np.ndarray, py: np.ndarray,
                   rx: np.ndarray, ry: np.ndarray) -> np.ndarray:
    """Boolean mask: point covered by the closed ring (boundary inclusive).

    Even-odd rule over edges; points lying exactly on an edge are
    covered (``ST_Covers`` semantics).
    """
    px = np.asarray(px, dtype=np.float64).ravel()
    py = np.asarray(py, dtype=np.float64).ravel()
    inside = np.zeros(px.shape, dtype=bool)
    on_edge = np.zeros(px.shape, dtype=bool)
    n = len(rx) - 1
    for i in range(n):
        x1, y1, x2, y2 = rx[i], ry[i], rx[i + 1], ry[i + 1]
        # boundary: collinear and within the segment bbox
        cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
        within = (
            (np.minimum(x1, x2) <= px) & (px <= np.maximum(x1, x2))
            & (np.minimum(y1, y2) <= py) & (py <= np.maximum(y1, y2))
        )
        on_edge |= (cross == 0.0) & within
        # even-odd crossing: half-open in y so vertices count once
        crosses = ((y1 > py) != (y2 > py))
        if crosses.any():
            t = (py - y1) / (y2 - y1)
            xint = x1 + t * (x2 - x1)
            inside ^= crosses & (px < xint)
    return inside | on_edge
