"""Deterministic synthetic tile world (the sandbox's SRTM stand-in).

The reference downloads real CGIAR SRTM GeoTIFFs and shells out to
``raster2pgsql`` (reference ``server/db_import/filestreams.py:19-95``).
This sandbox has no network and no external data, so the ingest source
is a *seed-free, purely arithmetic* elevation field cut into 50x50-pixel
tiles and encoded into the exact ``input_hint`` schema::

    (image_id: string, bytes: binary, w: int32, h: int32,
     fmt: string, caption: string, phash: int64)

The elevation function is **integer arithmetic on global pixel indices**
so that the very same values are computable in ANSI SQL by the DuckDB
oracle (driver correctness contract) — see ``z_sql_expr``.

Global pixel grid: ``gx = floor((lon - WORLD_X0)/PX)``,
``gy = floor((WORLD_Y0 - lat)/PX)`` (y counts down from the north pole,
matching the upper-left-origin rasters of the reference).  Tile (tx, ty)
covers pixels ``gx in [tx*50, (tx+1)*50)``, ``gy in [ty*50, (ty+1)*50)``
— half-open seams, so every point belongs to exactly one tile.

The default test world is positioned to contain the reference test
coordinate (13.331302, 38.108433) (reference
``openelevationservice/tests/test_api_point.py:8``); the out-of-coverage
Bremen coordinate from the same test file falls outside it.  The
query-side test inputs (those coordinates, replay points and lines, a
driver-side images frame) live in ``tests/inputs.py``.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..constants import NODATA, PX, TILE_DEG, TILE_PX, WORLD_X0, WORLD_Y0
from ..functions import image_codec
from ..functions.arrow_batches import join_binary, record_batch

# Integer elevation-field parameters (shared with the SQL oracle).
Z_A, Z_B, Z_M1 = 31, 17, 929
Z_C, Z_D, Z_M2 = 7, 13, 211
ND_A, ND_B, ND_M = 13, 7, 9973  # ~0.01% NODATA holes


def z_field(gx: np.ndarray, gy: np.ndarray) -> np.ndarray:
    """int16 elevation at global pixel (gx, gy); NODATA holes included."""
    gx = np.asarray(gx, dtype=np.int64)
    gy = np.asarray(gy, dtype=np.int64)
    z = (gx * Z_A + gy * Z_B) % Z_M1 + (gx * Z_C + gy * Z_D) % Z_M2
    z = z.astype(np.int16)
    hole = (gx * ND_A + gy * ND_B) % ND_M == 0
    return np.where(hole, np.int16(NODATA), z)


def z_sql_expr(gx: str, gy: str) -> str:
    """The same elevation function as ANSI SQL over integer exprs.

    Valid in both Spark SQL and DuckDB (``%`` on non-negative ints).
    """
    z = f"(({gx})*{Z_A} + ({gy})*{Z_B}) % {Z_M1} + (({gx})*{Z_C} + ({gy})*{Z_D}) % {Z_M2}"
    hole = f"((({gx})*{ND_A} + ({gy})*{ND_B}) % {ND_M} = 0)"
    return f"(CASE WHEN {hole} THEN {NODATA} ELSE {z} END)"


@dataclass(frozen=True)
class World:
    """A rectangular block of tiles: tx in [tx0, tx0+nx), ty in [ty0, ty0+ny)."""

    tx0: int = 4636
    ty0: int = 1242
    nx: int = 8
    ny: int = 8

    @property
    def min_x(self) -> float:
        return WORLD_X0 + self.tx0 * TILE_DEG

    @property
    def max_x(self) -> float:
        return WORLD_X0 + (self.tx0 + self.nx) * TILE_DEG

    @property
    def max_y(self) -> float:
        return WORLD_Y0 - self.ty0 * TILE_DEG

    @property
    def min_y(self) -> float:
        return WORLD_Y0 - (self.ty0 + self.ny) * TILE_DEG

    @property
    def n_tiles(self) -> int:
        return self.nx * self.ny

    def contains(self, lon: float, lat: float) -> bool:
        return (self.min_x <= lon < self.max_x) and (self.min_y < lat <= self.max_y)


# The default 8x8-tile world around the reference's Sicily test point.
DEFAULT_WORLD = World()

#: the tile encodings of the images table, alternating by (tx + ty) parity
IMAGE_FORMATS = ("raw16", "png16")


def tile_grid(tx: int, ty: int) -> np.ndarray:
    """Decoded 50x50 int16 elevation grid of tile (tx, ty)."""
    gx = tx * TILE_PX + np.arange(TILE_PX, dtype=np.int64)
    gy = ty * TILE_PX + np.arange(TILE_PX, dtype=np.int64)
    return z_field(gx[None, :], gy[:, None])


def tile_caption(tx: int, ty: int) -> str:
    """Georeferencing caption — the GeoTIFF-header stand-in (FIXTURES.md §1)."""
    ul_x = WORLD_X0 + tx * TILE_DEG
    ul_y = WORLD_Y0 - ty * TILE_DEG
    return json.dumps(
        {
            "name": f"tile_{tx:05d}_{ty:05d}",
            "ul_x": ul_x,
            "ul_y": ul_y,
            "px": PX,
            "srid": 4326,
            "nodata": NODATA,
        },
        separators=(",", ":"),
    )


def tile_row(tx: int, ty: int) -> dict:
    """One images-table row: tile (tx, ty) encoded in the format its
    checkerboard position picks from ``IMAGE_FORMATS``."""
    grid = tile_grid(tx, ty)
    fmt = IMAGE_FORMATS[(tx + ty) % len(IMAGE_FORMATS)]
    return {
        "image_id": f"tile_{tx:05d}_{ty:05d}",
        "bytes": image_codec.encode(grid, fmt),
        "w": TILE_PX,
        "h": TILE_PX,
        "fmt": fmt,
        "caption": tile_caption(tx, ty),
        "phash": image_codec.phash64(grid),
    }


IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
    ]
)


_IMAGES_ARROW = to_arrow_schema(IMAGES_SCHEMA)


def make_images_df(spark: SparkSession, world: World = DEFAULT_WORLD) -> DataFrame:
    """Distributed images-table generator: the tiles of ``world``, in
    ``IMAGE_FORMATS`` by checkerboard position, over one partition per
    core (at most one per tile).

    Tiles are *generated on the executors* (one task per band of
    consecutive tiles in (ty, tx) order), so world size scales without
    driver memory pressure — the ingest path a 10^12-image table would
    use, minus the object-store read.  The (tx, ty) list is one narrow
    ``range`` source with Column arithmetic, so no exchange sits under
    the generator.
    """
    nparts = min(world.n_tiles, max(spark.sparkContext.defaultParallelism, 1))
    i = F.col("id")
    tile_df = spark.range(world.n_tiles, numPartitions=nparts).select(
        (F.lit(world.tx0) + i % world.nx).alias("tx"),
        (F.lit(world.ty0) + F.floor(i / world.nx)).alias("ty"))

    def gen(batches):
        for rb in batches:
            rows = [tile_row(tx, ty) for tx, ty in zip(rb.column("tx").to_pylist(),
                                                       rb.column("ty").to_pylist())]
            cols = [[r[f.name] for r in rows] for f in _IMAGES_ARROW]
            yield record_batch(_IMAGES_ARROW, [
                join_binary(col) if f.type == pa.binary() else pa.array(col, f.type)
                for f, col in zip(_IMAGES_ARROW, cols)])

    return tile_df.mapInArrow(gen, schema=IMAGES_SCHEMA)
