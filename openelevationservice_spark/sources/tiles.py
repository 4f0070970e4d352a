"""Tile index: images table → joinable tile-metadata DataFrame.

The reference keeps georeferencing inside PostGIS raster headers and
relies on ``ST_Intersects(rast, geom)`` envelope tests with **no
spatial index** (``raster2pgsql`` is invoked without ``-I``, reference
``server/db_import/filestreams.py:72``).  We do better by construction:
parse the caption (the GeoTIFF-header stand-in) **JVM-side** with
``from_json``, derive the tile's global grid coordinates and cell id as
pure Column arithmetic, and use that cell id as an equi-join key.

No Python runs in this builder — it is whole-stage-codegen'd end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..constants import TILE_DEG, WORLD_X0, WORLD_Y0
from ..functions.cells import linear_id_col

CAPTION_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("ul_x", T.DoubleType()),
        T.StructField("ul_y", T.DoubleType()),
        T.StructField("px", T.DoubleType()),
        T.StructField("srid", T.IntegerType()),
        T.StructField("nodata", T.IntegerType()),
    ]
)


def tile_index(images_df: DataFrame, with_bytes: bool = False) -> DataFrame:
    """(image_id, w, h, fmt, ul_x, ul_y, px, tx, ty, cell_id, bbox...).

    ``cell_id`` is the linear cell id of functions/cells.py; because tiles are
    grid-aligned with half-open extents, one tile == one cell and the
    point→tile spatial join becomes an exact equi-join (SURVEY.md §2.3 J1).
    """
    c = F.from_json(F.col("caption"), CAPTION_SCHEMA).alias("c")
    df = images_df.select(
        "image_id", "w", "h", "fmt",
        c.getField("ul_x").alias("ul_x"),
        c.getField("ul_y").alias("ul_y"),
        c.getField("px").alias("px"),
        c.getField("nodata").alias("nodata"),
        *(["bytes"] if with_bytes else []),
    )
    df = (
        df.withColumn("tx", F.round((F.col("ul_x") - F.lit(WORLD_X0)) / F.lit(TILE_DEG)).cast("long"))
        .withColumn("ty", F.round((F.lit(WORLD_Y0) - F.col("ul_y")) / F.lit(TILE_DEG)).cast("long"))
        .withColumn("cell_id", linear_id_col(F.col("tx"), F.col("ty")))
        .withColumn("min_x", F.col("ul_x"))
        .withColumn("max_x", F.col("ul_x") + F.col("w") * F.col("px"))
        .withColumn("max_y", F.col("ul_y"))
        .withColumn("min_y", F.col("ul_y") - F.col("h") * F.col("px"))
    )
    return df


def morton_col(tx, ty) -> "F.Column":
    """Morton (Z-order) interleave of (tx, ty) as a Column — the physical
    sort/cluster key of the persisted tile index (SURVEY.md §1.3): close
    tiles land in the same file, so bbox queries prune files via
    parquet min/max stats on this key."""
    def part1by1(v):
        v = v.bitwiseAND(F.lit(0x00000000FFFFFFFF))
        v = (v.bitwiseOR(F.shiftleft(v, 16))).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
        v = (v.bitwiseOR(F.shiftleft(v, 8))).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
        v = (v.bitwiseOR(F.shiftleft(v, 4))).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
        v = (v.bitwiseOR(F.shiftleft(v, 2))).bitwiseAND(F.lit(0x3333333333333333))
        v = (v.bitwiseOR(F.shiftleft(v, 1))).bitwiseAND(F.lit(0x5555555555555555))
        return v

    return part1by1(tx).bitwiseOR(F.shiftleft(part1by1(ty), 1))


def write_tile_index(images_df: DataFrame, store) -> dict:
    """Ingest job (reference S3 raster2pgsql-import equivalent): build the
    tile index and persist it as the ``tile_index`` snapshot,
    range-partitioned into one file per default-parallelism slot and
    sorted by the Morton key so spatially-close tiles cluster into the
    same files (Iceberg's sort-ordered write; parquet min/max stats on
    ``morton`` give file-level pruning for bbox queries).

    Returns the snapshot manifest (per-partition row counts + lineage,
    sources/snapshots.py).
    """
    idx = tile_index(images_df).withColumn(
        "morton", morton_col(F.col("tx"), F.col("ty"))
    )
    n = images_df.sparkSession.sparkContext.defaultParallelism
    clustered = idx.repartitionByRange(n, "morton").sortWithinPartitions("morton")
    return store.write(clustered, "tile_index", params={"num_files": n, "order": "morton"})
