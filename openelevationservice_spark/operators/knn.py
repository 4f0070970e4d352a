"""kNN tile lookup for off-grid points (SURVEY.md §2.3 J4).

Not present in the reference — its only proximity op is ``ST_Value``
nearest-pixel sampling; the north rule adds kNN as a first-class
operator for points outside coverage.  Implemented as a **bounded
ring-expansion equi-join**, never a cross join:

    point → candidate cells = Chebyshev disk of radius K around the
            point's own cell (a (2K+1)^2 JVM explode)
          → equi-join tile index on cell_id
          → distance point→tile-bbox (0 inside)
          → row_number per point ordered by (dist, image_id) ≤ k

Candidate count is constant per point, so the plan is a plain
broadcast/shuffle hash join plus one window — scale-safe.  ``z`` is
sampled at the point clamped into the winning tile (the nearest pixel
of that tile).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..constants import NODATA
from ..functions.cells import cell_size_deg, cell_x_col, cell_y_col, disk_offsets, linear_id_col
from ..sources.tiles import tile_index
from .sample import gather_z_jvm, is_broadcast, pixel_index


def knn_tiles(points_df: DataFrame, images_df: DataFrame, k: int = 1,
              max_rings: int = 2, index_strategy: str = "broadcast",
              lon: str = "lon", lat: str = "lat",
              id_col: str = "point_id",
              pix_index_df: DataFrame | None = None) -> DataFrame:
    """(…, rank, image_id, dist_deg, z) — k nearest tiles within max_rings.

    Points farther than ``max_rings`` cells from any tile produce no
    rows (documented bound; widen max_rings for sparser worlds).

    z comes from the same decoded pixel index and codegen'd
    ``element_at`` gather as :func:`.point.point_elevation`.  The
    candidate ranking window sees metadata only; the k winners fetch
    their pixel array through a second equi-join on ``image_id``, so
    pixel payloads never ride the window exchange (25 candidates/point
    each dragging a full tile array through the shuffle would dwarf the
    query).  ``index_strategy="shuffle"`` exchanges both index joins
    instead of broadcasting them, for an index past the broadcast
    threshold.
    """
    dxs, dys = disk_offsets(max_rings)
    offsets = F.array(*[
        F.struct(F.lit(int(dx)).alias("dx"), F.lit(int(dy)).alias("dy"))
        for dx, dy in zip(dxs, dys)
    ])
    pts = (
        points_df
        .withColumn("cx0", cell_x_col(F.col(lon)))
        .withColumn("cy0", cell_y_col(F.col(lat)))
        .withColumn("off", F.explode(offsets))
        .withColumn("cell_id", linear_id_col(
            F.col("cx0") + F.col("off.dx"), F.col("cy0") + F.col("off.dy")))
        .drop("off", "cx0", "cy0")
    )
    idx = tile_index(images_df).select(
        "cell_id", "image_id", "ul_x", "ul_y", "px", "w", "h",
        "min_x", "min_y", "max_x", "max_y",
    )
    if is_broadcast(index_strategy):
        idx = F.broadcast(idx)
    j = pts.join(idx, "cell_id", "inner")

    ddx = F.greatest(F.col("min_x") - F.col(lon), F.col(lon) - F.col("max_x"), F.lit(0.0))
    ddy = F.greatest(F.col("min_y") - F.col(lat), F.col(lat) - F.col("max_y"), F.lit(0.0))
    j = j.withColumn("dist_deg", F.sqrt(ddx * ddx + ddy * ddy))

    w = Window.partitionBy(id_col).orderBy("dist_deg", "image_id")
    j = j.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)

    # sample z at the point clamped into the tile = that tile's nearest pixel
    eps = F.col("px") / F.lit(2.0)
    clx = F.least(F.greatest(F.col(lon), F.col("min_x") + eps), F.col("max_x") - eps)
    cly = F.least(F.greatest(F.col(lat), F.col("min_y") + eps), F.col("max_y") - eps)
    j = (
        j.withColumn("ix", F.floor((clx - F.col("ul_x")) / F.col("px")).cast("int"))
        .withColumn("iy", F.floor((F.col("ul_y") - cly) / F.col("px")).cast("int"))
    )
    pix = (pix_index_df if pix_index_df is not None
           else pixel_index(images_df)).select("image_id", "pix")
    if is_broadcast(index_strategy):
        pix = F.broadcast(pix)
    out = gather_z_jvm(j.join(pix, "image_id"))
    return (
        out.withColumn("z", F.coalesce(F.col("z"), F.lit(NODATA)).cast("int"))
        .drop("min_x", "min_y", "max_x", "max_y", "ul_x", "ul_y", "px", "w", "h", "cell_id")
    )
