"""Elevation gather — the Spark replacement for ``ST_Value``.

``ST_Value(rast, geom)`` samples the pixel containing a point with no
interpolation (reference ``server/api/querybuilder.py:218,286``): pixel
index is ``ix = floor((x - ul_x)/px)``, ``iy = floor((ul_y - y)/px)``
from the upper-left origin.

One physical shape serves every point-sampling operator (point, line
vertices, kNN): :func:`pixel_index` decodes each tile ONCE
into a flat ``array<smallint>`` column riding the tile index, the
operators equi-join it on ``cell_id`` (:func:`broadcast_if_fits`
broadcasts the index while Spark's own estimate of it is under
``spark.sql.autoBroadcastJoinThreshold`` and leaves the join to Spark's
planner past it), and :func:`gather_z_jvm` samples it with a codegen'd
``element_at``.  The index arithmetic and the gather are plain Columns;
the tile decode is the only Python stage.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions import image_codec
from ..functions.arrow_batches import list_array, record_batch


def broadcast_if_fits(index_df: DataFrame) -> DataFrame:
    """The index side of a point-sampling join, broadcast by hint while
    Spark's own size estimate of it is within
    ``spark.sql.autoBroadcastJoinThreshold`` (``-1`` turns it off) and
    left to the planner past it.  The hint keeps the probe side from
    being built: probe rows come out of explodes (densified vertices,
    kNN candidate disks) that Spark sizes like their input, and
    unhinted, adaptive execution broadcast the 7.2 M densified vertices
    of a 150 k-line batch (estimated at 6 MB) instead of the 5.6 MB
    pixel index, then ran out of driver memory building it."""
    spark = index_df.sparkSession
    limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    size = int(index_df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return F.broadcast(index_df) if 0 <= size <= limit else index_df


def pixel_index(images_df: DataFrame) -> DataFrame:
    """Tile index + decoded pixels as a flat ``array<smallint>`` column.

    Decoding runs ONCE per tile (Arrow batches); downstream queries
    sample pixels entirely JVM-side via ``element_at`` inside the same
    whole-stage-codegen'd projection as the index join — no Python
    and no Arrow transfer anywhere in the per-query hot path.  The
    decode kernel reads the tile bytes through the binary column's
    buffers and emits ``pix`` as one int16 values buffer per batch.
    """
    from ..sources.tiles import tile_index

    idx = tile_index(images_df, with_bytes=True)
    schema = T.StructType(
        [f for f in idx.schema.fields if f.name != "bytes"]
        + [T.StructField("pix", T.ArrayType(T.ShortType()), False)]
    )
    out = to_arrow_schema(schema)
    keep = out.names[:-1]

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            grids = image_codec.decode_rows(rb)
            pix = list_array(np.array([g.size for g in grids], dtype=np.int64),
                             np.concatenate([g.ravel() for g in grids] or
                                            [np.empty(0, np.int16)]))
            yield record_batch(out, [rb.column(n) for n in keep] + [pix])

    return idx.mapInArrow(decode, schema=schema)


def gather_z_jvm(df: DataFrame) -> DataFrame:
    """JVM pixel sample ``z`` over a join that already carries ``pix``.

    ``df`` must carry (pix, w, h, ix, iy).  Out-of-range / missing-tile
    rows get NULL (ANSI-safe: element_at is guarded).
    """
    in_range = (
        F.col("pix").isNotNull()
        & (F.col("ix") >= 0) & (F.col("ix") < F.col("w"))
        & (F.col("iy") >= 0) & (F.col("iy") < F.col("h"))
    )
    z = F.when(
        in_range,
        F.element_at(F.col("pix"), (F.col("iy") * F.col("w") + F.col("ix") + 1).cast("int")),
    )
    return df.withColumn("z", z.cast("int")).drop("pix")
