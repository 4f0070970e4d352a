"""Point elevation — Spark re-expression of the reference's point query.

Reference shape (``server/api/querybuilder.py:257-313``)::

    points2d → JOIN oes_cgiar ON ST_Intersects(rast, geom) LIMIT 1
             → ST_Value(rast, geom) → MakePoint(x, y, coalesce(z, -32768))

Spark plan (one physical shape, all JVM-side except the tile decode):

    points ─ cell_id = f(lon, lat)            (Column arithmetic)
           ─ equi-join pixel index on cell_id (broadcast while the
                                               index is under Spark's
                                               broadcast threshold, the
                                               planner's join past it)
           ─ ix/iy pixel indices              (Column arithmetic)
           ─ gather z: element_at(pix, …)     (codegen'd, sample.py)
           ─ coalesce(z, -32768)

The equi-join is *exact*, not approximate: tiles partition the plane at
pixel-aligned half-open 50x50 boundaries, so an interior point matches
exactly one tile; the reference's ``LIMIT 1`` (which papers over
double-intersects on seams) is replaced by deterministic half-open
assignment.  Out-of-coverage points get no row under ``how='inner'``
(the reference then raises 404 4002) or a NULL image under
``how='left'`` (bulk replay mode).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..constants import NODATA
from ..functions.cells import cell_id_col
from .sample import broadcast_if_fits, gather_z_jvm, pixel_index


def with_pixel_indices(df: DataFrame, lon: str = "lon", lat: str = "lat") -> DataFrame:
    """ix/iy = ST_Value's floor pixel-index arithmetic, as Columns."""
    return df.withColumn(
        "ix", F.floor((F.col(lon) - F.col("ul_x")) / F.col("px")).cast("int")
    ).withColumn(
        "iy", F.floor((F.col("ul_y") - F.col(lat)) / F.col("px")).cast("int")
    )


def point_elevation(points_df: DataFrame, images_df: DataFrame,
                    how: str = "inner",
                    lon: str = "lon", lat: str = "lat",
                    pix_index_df: DataFrame | None = None) -> DataFrame:
    """points (…, lon, lat) → (…, image_id, ix, iy, z).

    ``z`` is coalesced to NODATA (−32768) exactly like the reference's
    ``coalesce(ST_Value(...), -32768)`` (``querybuilder.py:296``) for
    points that hit a tile; points that hit no tile keep NULL z under
    ``how='left'`` (they are absent under ``how='inner'``).

    The decoded pixel arrays ride the index join and sampling is a
    codegen'd ``element_at`` — no Python in the hot path.  Pass a
    persisted ``pix_index_df`` (:func:`.sample.pixel_index`) to reuse
    decode work across queries.  The index is broadcast while Spark's
    size estimate of it is under ``spark.sql.autoBroadcastJoinThreshold``
    (:func:`.sample.broadcast_if_fits`); once the decoded pixels outgrow
    it, Spark's planner picks the join (a shuffle join on ``cell_id``
    unless it takes the points side as small).
    """
    idx = (pix_index_df if pix_index_df is not None else pixel_index(images_df)).select(
        "cell_id", "image_id", "ul_x", "ul_y", "px", "w", "h", "pix")
    # the points × pixel-index equi-join on cell_id (J1 in SURVEY.md §2.3)
    j = points_df.withColumn("cell_id", cell_id_col(F.col(lon), F.col(lat))).join(
        broadcast_if_fits(idx), "cell_id", how)
    j = with_pixel_indices(j, lon=lon, lat=lat)
    j = j.select(*points_df.columns, "image_id", "w", "h", "ix", "iy", "pix")
    out = gather_z_jvm(j).drop("w", "h")
    z = F.when(F.col("image_id").isNotNull(),
               F.coalesce(F.col("z"), F.lit(NODATA))).otherwise(F.lit(None))
    return out.withColumn("z", z.cast("int"))
