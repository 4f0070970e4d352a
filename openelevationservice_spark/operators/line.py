"""LineString elevation — Spark re-expression of the reference line query.

Reference shape (``server/api/querybuilder.py:167-254``)::

    guard ST_NPoints == 2
    lineLen = hypot(bounds)                       (:197-198, bounds-based)
    frac    = min(1, coord_precision / lineLen)   (:208)
    vertices = {P1} ∪ ST_LineInterpolatePoints(line, frac) ∪ {P2}
             → ST_DumpPoints → DISTINCT           (:201-217)
    JOIN tiles ON ST_Intersects + ST_Value        (:218-221, inner)
    MakePoint(x, y, coalesce(z, -32768))          (:223-227)
    ORDER BY ST_Distance(geom, P1)                (:228-231)
    ST_MakeLine                                   (:238/243)

The ORDER BY and ST_MakeLine are the request surface's:
``api.ElevationService.line`` collects the vertices, sorts them by
``seq`` and assembles the reply on the driver.

PostGIS ``ST_LineInterpolatePoints(line, frac)`` (repeat=true) emits
points at t = frac, 2*frac, …, n*frac with n = floor(1/frac).  All of
the densify arithmetic here is JVM Column math (``sequence`` +
``explode`` is the Spark-native table-generating operator, SURVEY.md
§2.4 A5), and the vertices sample z through the same pixel-index join
and codegen'd ``element_at`` gather as the point query: the whole probe
side is whole-stage codegen, the tile decode is the only Python stage.

Determinism note: the reference orders only by distance-from-start;
equidistant distinct vertices have planner-dependent order there.  We
order by (dist, x, y) so output is total — documented deviation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..constants import COORD_PRECISION
from .point import point_elevation


def densify_lines(lines_df: DataFrame) -> DataFrame:
    """(line_id, x1, y1, x2, y2) → distinct vertex rows
    (line_id, x1, y1, seq, x, y, dist).

    Exact ``min(1, coord_precision/lineLen)`` fraction semantics with
    bounds-based lineLen (reference ``querybuilder.py:197-209``);
    duplicate vertices removed like the reference's DISTINCT (``:217``),
    ordered by distance-from-start (``:228-232``).  ``seq`` is 1-based
    vertex order.  Zero-length lines yield their single point (the
    degenerate case formatted as a POINT downstream, ``views.py:63-68``).

    DISTINCT and ORDER BY are resolved **constructively** (no
    ``array_distinct``/``array_sort``/post-explode filter):

    - vertices are emitted in t order (P1, interior t = frac, 2·frac, …,
      P2); distance-from-start is strictly monotone in t along a
      straight segment, so emission order IS the reference's ORDER BY
      distance, and interior points are pairwise distinct;
    - the only duplicates the reference's DISTINCT can remove are the
      interpolated point clamped to / rounding onto P2 (t ≥ 1.0, or
      float coords equal to P2's) and P2 itself on a zero-length line.
      The drop set is a suffix with at most ONE interior element
      ((n−1)·frac ≤ 1 − 1/n in exact arithmetic — a gap float error
      cannot bridge — and coordinates one frac-step apart differ far
      above coordinate ulp), so it folds into the *bounds* of the
      generated index sequence: interior indices run 1..n_keep with
      n_keep = n_interp − [last point has t ≥ 1.0 or coords == P2].

    Physical shape: ``explode(sequence(0, cnt-1))`` generates the vertex
    index rows and every coordinate is plain post-explode Column
    arithmetic, so the whole densify is whole-stage codegen with zero
    shuffles — no Arrow boundary and no interpreted higher-order
    functions.  Output is bit-identical to the numpy reference in
    tests/references.py (same IEEE ops in the same order).

    Every intermediate scalar goes through its own ``select`` stage so
    it materializes ONCE per row as a named attribute: composing the
    Column objects directly would duplicate the whole subtree at every
    reference (expression trees are built by value), and Spark's
    codegen common-subexpression elimination does not reach inside
    conditional branches — the naïvely-composed form measured 10×
    slower.  Catalyst's CollapseProject keeps non-cheap multi-referenced
    aliases staged, so the chained selects survive optimization.
    """
    d = lines_df.select(
        "line_id", "x1", "y1", "x2", "y2",
        (F.col("x2") - F.col("x1")).alias("_dx"),
        (F.col("y2") - F.col("y1")).alias("_dy"),
    )
    d = d.select("*", F.sqrt(F.col("_dx") * F.col("_dx")
                             + F.col("_dy") * F.col("_dy")).alias("_len"))
    d = d.select("*", F.when(F.col("_len") == 0.0, F.lit(1.0)).otherwise(
        F.least(F.lit(1.0), F.lit(COORD_PRECISION) / F.col("_len"))).alias("_frac"))
    d = d.select("*", (
        F.when(F.col("_len") == 0.0, F.lit(0))
        .otherwise(F.floor(F.lit(1.0) / F.col("_frac")))
    ).cast("int").alias("_ni"))
    d = d.select("*", (F.col("_ni") * F.col("_frac")).alias("_tl"))
    tail_dropped = (
        (F.col("_tl") >= 1.0)
        | ((F.col("x1") + F.col("_tl") * F.col("_dx") == F.col("x2"))
           & (F.col("y1") + F.col("_tl") * F.col("_dy") == F.col("y2")))
    )
    n_keep = F.when(F.col("_ni") >= 1,
                    F.col("_ni") - F.when(tail_dropped, 1).otherwise(0)
                    ).otherwise(F.lit(0))
    p2_kept = ((F.col("x2") != F.col("x1")) | (F.col("y2") != F.col("y1"))).cast("int")
    d = d.select("*", (F.lit(1) + n_keep + p2_kept).alias("_cnt"))
    e = d.select(
        "line_id", "x1", "y1", "x2", "y2", "_dx", "_dy", "_frac", "_cnt",
        F.explode(F.sequence(F.lit(0), F.col("_cnt") - 1)).alias("_j"),
    )
    is_p1 = F.col("_j") == 0
    is_p2 = (~is_p1) & (F.col("_j") == F.col("_cnt") - 1) & (
        (F.col("x2") != F.col("x1")) | (F.col("y2") != F.col("y1"))
    )
    t = F.col("_j") * F.col("_frac")
    x = F.when(is_p1, F.col("x1")).otherwise(
        F.when(is_p2, F.col("x2")).otherwise(F.col("x1") + t * F.col("_dx")))
    y = F.when(is_p1, F.col("y1")).otherwise(
        F.when(is_p2, F.col("y2")).otherwise(F.col("y1") + t * F.col("_dy")))
    e = e.select("line_id", "x1", "y1", (F.col("_j") + 1).alias("seq"),
                 x.alias("x"), y.alias("y"))
    ddx = F.col("x") - F.col("x1")
    ddy = F.col("y") - F.col("y1")
    return e.withColumn("dist", F.sqrt(ddx * ddx + ddy * ddy))


def line_vertices_elevation(lines_df: DataFrame, images_df: DataFrame,
                            pix_index_df: DataFrame | None = None) -> DataFrame:
    """Densified vertices with z and a deterministic order index ``seq``.

    Output: (line_id, seq, x, y, z, dist, image_id, ix, iy).  ``seq``
    is assigned over the full deduped vertex set *before* the coverage
    join, and the join is inner, so out-of-coverage vertices leave gaps
    in seq (order is unaffected; the reference emits survivors in the
    same distance order).  The vertices are sampled by
    :func:`.point.point_elevation` (same index join, chosen by Spark's
    planner); ``pix_index_df`` means the same there.
    """
    verts = densify_lines(lines_df).select("line_id", "seq", "x", "y", "dist")
    return point_elevation(
        verts, images_df, lon="x", lat="y", pix_index_df=pix_index_df,
    ).select("line_id", "seq", "x", "y", "z", "dist", "image_id", "ix", "iy")
