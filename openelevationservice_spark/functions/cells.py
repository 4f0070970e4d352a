"""Tile-aligned grid cell ids.

The reference expresses spatial matching as ``ST_Intersects(rast, geom)``
(reference ``server/api/querybuilder.py:134,220,288``) which PostGIS
evaluates against tile envelopes.  We replace that theta-join with an
**equi-join on a cell id**: the plane is cut into a regular grid anchored
at (-180, 90) whose cells are exactly one 50x50-pixel tile footprint
(TILE_DEG).  Because tiles are aligned to this grid with half-open
extents, an interior point maps to exactly one cell == exactly one tile,
making the spatial join an exact hash join.

The join key is the row-major linear id ``cy * NCELL_X + cx`` — pure
integer arithmetic, expressible both as Spark Column arithmetic
(JVM-side, no Python) and as ANSI SQL for the DuckDB oracle.  The tile
index's physical sort key (a Morton interleave of the same (cx, cy),
for file-level locality) is ``sources.tiles.morton_col``.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..constants import NCELL_X, TILE_DEG, WORLD_X0, WORLD_Y0


def disk_offsets(k: int):
    """All offsets with Chebyshev distance <= k (the kNN candidate disk)."""
    d = np.arange(-k, k + 1, dtype=np.int64)
    gx, gy = np.meshgrid(d, d)
    return gx.ravel(), gy.ravel()


# ---------------------------------------------------------------------------
# Spark Column expressions (JVM-side — keep cell encoding OUT of Python)
# ---------------------------------------------------------------------------

def cell_x_col(lon: Column) -> Column:
    """cx = floor((lon - WORLD_X0) / TILE_DEG); half-open cells."""
    return F.floor((lon - F.lit(WORLD_X0)) / F.lit(TILE_DEG)).cast("long")


def cell_y_col(lat: Column) -> Column:
    """cy = floor((WORLD_Y0 - lat) / TILE_DEG): y counts downward from the
    north pole, matching the raster row order of the reference's
    upper-left-origin tiles."""
    return F.floor((F.lit(WORLD_Y0) - lat) / F.lit(TILE_DEG)).cast("long")


def linear_id_col(cx: Column, cy: Column) -> Column:
    """Row-major linear cell id."""
    return (cy * F.lit(NCELL_X) + cx).cast("long")


def cell_id_col(lon: Column, lat: Column) -> Column:
    """Linear cell id straight from lon/lat — pure Column arithmetic."""
    return linear_id_col(cell_x_col(lon), cell_y_col(lat))
