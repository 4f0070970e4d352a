"""Polygon elevation operators — pixel dump and pixel-polygon dump.

Reference shapes:

- ``polygon_elevation_sql`` (``server/api/querybuilder.py:105-165``)::

      JOIN ST_Intersects → ST_Clip → ST_PixelAsCentroids
      → WHERE ST_Covers(polygon, centroid) → ORDER BY x, y → (x, y, z)

- ``PIXEL_POLYGONS_WITH_HEIGHT_QUERY``
  (``server/api/elevation_query_area_union.py:7-30``)::

      JOIN ST_Intersects → ST_Clip(…, -32768) → ST_PixelAsPolygons(…, False)
      → WHERE val != -32768 → (pixel square, height)

Both reduce to the same pixel set: *centroid covered by the polygon
AND value != NODATA* (ST_Clip's default rasterization keeps
centroid-inside pixels; ST_PixelAsCentroids skips NODATA; the color
query filters NODATA explicitly).  The Spark plan:

    polygon → bbox (Column arithmetic over the ring array)
            → cover-cell explode (sequence × sequence, JVM)        [J3]
            → equi-join tile index on cell_id                      [J3]
            → mapInArrow: decode each tile of the batch once, one
              mask stack per chunk of pairs (rectangles vectorized,
              other rings by PIP), NODATA filter → scanline runs   [A2-A4, P2-P3]
            → posexplode(runs) → pixel rows (JVM codegen)

The reference's ``ORDER BY x, y`` is not a Spark sort: a request's
reply is collected anyway, so ``api.ElevationService.polygon`` sorts
it on the driver, and the rasterizer runs once per request (a Spark
``orderBy`` would re-run it in its range-sampling job).

The per-(polygon, tile) explode is Spark's ``LATERAL
ST_PixelAsPolygons`` equivalent (SURVEY.md §2.3 J5).  One batch-wide
rasterizer (:func:`_pixel_runs`) emits the one run table
(:func:`polygon_pixel_runs`) that serves every polygon operator: the
pixel dump (:func:`polygon_pixels`) posexplodes it, and the band
dissolve (``operators/color.py``) takes its stats (:func:`run_stats`)
and band-splits its runs.  The rasterizer reads its Arrow input through
its buffers and writes ``zs`` as one values buffer plus one offsets
array.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..constants import NODATA, PX, TILE_DEG, TILE_PX, WORLD_X0, WORLD_Y0
from ..functions import image_codec
from ..functions.arrow_batches import list_array, list_offsets, record_batch
from ..functions.cells import cell_x_col, cell_y_col, linear_id_col
from ..functions.geometry import points_in_ring
from ..sources.tiles import tile_index


def polygon_tile_join(polygons_df: DataFrame, images_df: DataFrame) -> DataFrame:
    """Polygon × tile join via cover-cell explode (SURVEY.md §2.3 J3):
    one row per (polygon, bbox cell) pair with a tile, carrying the
    ring and the tile's bytes and georeferencing.

    One equi-join on ``cell_id`` with no hint: Spark's planner
    broadcasts whichever side its size estimate puts under
    ``spark.sql.autoBroadcastJoinThreshold`` (the smaller one when both
    are) and plans a sort-merge or shuffled-hash join past it.  A
    request's (polygon, cell) pairs — rings + ids — are the smaller
    side, so they ride INTO the tile scan: the rasterizer gets
    tile-locality (each tile's bytes reach exactly the partition that
    scans them, each decoded once) and no exchange sits in front of it.

    Remaining limit: Spark estimates the pair side from the polygon
    rows, before the cover-cell explode, not from the exploded
    (polygon, cell) count, and each pair carries the polygon's full
    ring.  A few polygons with huge bounding boxes can therefore still
    be planned as a broadcast past the threshold (and past
    ``spark.driver.maxResultSize``).
    """
    lons = F.transform("ring", lambda p: p["lon"])
    lats = F.transform("ring", lambda p: p["lat"])
    p = (
        polygons_df.select("poly_id", "ring")
        .withColumn("min_x", F.array_min(lons))
        .withColumn("max_x", F.array_max(lons))
        .withColumn("min_y", F.array_min(lats))
        .withColumn("max_y", F.array_max(lats))
    )
    p = (
        p.withColumn("cx", F.explode(F.sequence(cell_x_col(F.col("min_x")),
                                                cell_x_col(F.col("max_x")))))
        .withColumn("cy", F.explode(F.sequence(cell_y_col(F.col("max_y")),
                                               cell_y_col(F.col("min_y")))))
        .withColumn("cell_id", linear_id_col(F.col("cx"), F.col("cy")))
    )
    idx = tile_index(images_df, with_bytes=True).select(
        "cell_id", "image_id", "bytes", "fmt", "ul_x", "ul_y", "px", "w", "h")
    return idx.join(p.select("poly_id", "ring", "cell_id"), "cell_id", "inner")


def with_pixel_coords(df: DataFrame) -> DataFrame:
    """Derive (image_id, x, y) from global pixel indices as Columns.

    The rasterizer ships no image_id / x / y across the Arrow boundary;
    deriving them JVM-side keeps the Python→JVM transfer of the pixel
    dump to the irreducible columns.  Exactly the arithmetic of the
    tile captions (sources/fixtures.py ``tile_caption``) and the numpy
    centroid computation:
    ``ul_x = WORLD_X0 + tx*TILE_DEG``; ``x = ul_x + (ix + 0.5)*PX`` —
    identical double operations in identical order, so values are
    bit-equal to computing them inside the Arrow kernel.
    """
    tx = (F.col("gx") / TILE_PX).cast("long")
    ty = (F.col("gy") / TILE_PX).cast("long")
    ul_x = F.lit(WORLD_X0) + tx * F.lit(TILE_DEG)
    ul_y = F.lit(WORLD_Y0) - ty * F.lit(TILE_DEG)
    return (
        df.withColumn("image_id", F.format_string("tile_%05d_%05d", tx, ty))
        .withColumn("x", ul_x + ((F.col("gx") - tx * TILE_PX) + F.lit(0.5)) * F.lit(PX))
        .withColumn("y", ul_y - ((F.col("gy") - ty * TILE_PX) + F.lit(0.5)) * F.lit(PX))
    )


# Run-length-encoded Arrow boundary: the Python kernel emits one row per
# SCANLINE RUN of covered pixels (poly_id, gy, gx0, zs array) instead of
# one row per pixel — pixel-row generation then happens JVM-side via a
# codegen'd posexplode.  The per-pixel Arrow→InternalRow conversion was
# the operator's scaling limiter (allocation-bound in the shared JVM
# heap); runs average tens of pixels, cutting that boundary ~40×.
# zs is array<smallint>: the SRTM-like source grid is int16, so the
# narrower element halves the Arrow buffer, the JVM array copies and
# the cache bytes (guide §2.3 "narrower types"); consumers cast the
# exploded value back to int, so downstream schemas are unchanged.
# Each output batch carries zs as ONE int16 values buffer plus one
# offsets array, so no per-run object crosses the boundary.
RUN_SCHEMA = T.StructType(
    [
        T.StructField("poly_id", T.LongType()),
        T.StructField("gy", T.LongType()),
        T.StructField("gx0", T.LongType()),
        T.StructField("zs", T.ArrayType(T.ShortType())),
    ]
)

#: (polygon, tile) pairs per mask stack.  One boolean stack of them is
#: pairs × TILE_PX² bytes (10 MB at 4096 pairs of 50×50 tiles), and a
#: chunk holds about six such stacks at once (the mask, its valid-pixel
#: gather, the padded copy and scanline toggles, the gathered int16
#: grids): ~60 MB.  The Arrow batch size
#: (``spark.sql.execution.arrow.maxRecordsPerBatch``) is a deployment
#: setting, so the bound is kept per chunk, not per batch — the same
#: reasoning as ``functions.dissolve.MAX_BATCH_BANDS``.
MASK_CHUNK_PAIRS = 4096


def _decoded_tiles(rb: pa.RecordBatch):
    """Each distinct tile of the batch, decoded once: (tile index of each
    row, int16 grids (T, TILE_PX, TILE_PX), centroid lons (T, TILE_PX),
    centroid lats (T, TILE_PX), tx (T,), ty (T,))."""
    tile = rb.column("image_id").dictionary_encode().indices.to_numpy()
    _, first = np.unique(tile, return_index=True)   # codes: first-seen order
    grids = np.empty((len(first), TILE_PX, TILE_PX), np.int16)
    for t, (i, grid) in enumerate(zip(first, image_codec.decode_rows(rb, first))):
        if grid.shape != (TILE_PX, TILE_PX):
            # with_pixel_coords derives image_id/x/y from gx, gy using
            # the constant TILE_PX — a tile of any other size would
            # silently produce wrong coordinates downstream
            img = rb.column("image_id")[int(i)].as_py()
            raise AssertionError(
                f"tile {img} is {grid.shape[1]}x{grid.shape[0]}, "
                f"expected {TILE_PX}x{TILE_PX}"
            )
        grids[t] = grid
    ul_x = rb.column("ul_x").to_numpy()[first]
    ul_y = rb.column("ul_y").to_numpy()[first]
    px = rb.column("px").to_numpy()[first]
    half = np.arange(TILE_PX) + 0.5
    return (tile, grids,
            ul_x[:, None] + half * px[:, None],
            ul_y[:, None] - half * px[:, None],
            np.rint((ul_x - WORLD_X0) / TILE_DEG).astype(np.int64),
            np.rint((WORLD_Y0 - ul_y) / TILE_DEG).astype(np.int64))


def _ring_points(ring: pa.Array):
    """(lon, lat, starts, ends) of a ``ring`` column: ring r's points are
    ``lon[starts[r]:ends[r]]``, as given (closed or not)."""
    off = list_offsets(ring)
    pts = ring.values
    starts, ends = off[:-1], off[1:]
    if (ends <= starts).any():
        raise ValueError("a polygon ring has no points")
    return (pts.field("lon").to_numpy(zero_copy_only=False),
            pts.field("lat").to_numpy(zero_copy_only=False), starts, ends)


def _axis_rects(x: np.ndarray, y: np.ndarray, starts: np.ndarray,
                ends: np.ndarray):
    """Which rings, once closed, are exactly an axis-aligned rectangle:
    5 points, each edge axis-parallel, corner set == bbox corner set.
    Zero-width and zero-height rectangles count (the interval test is
    exact there too).  One vectorized test over every ring; returns
    (is_rect (n,), bbox (n, 4) as x0, x1, y0, y1 — meaningful where
    ``is_rect``)."""
    n = len(starts)
    closed = (x[starts] == x[ends - 1]) & (y[starts] == y[ends - 1])
    cand = np.flatnonzero(ends - starts + ~closed == 5)
    idx = starts[cand, None] + np.arange(5)
    open_ = ~closed[cand]
    idx[open_, 4] = starts[cand][open_]            # the closing point
    xs, ys = x[idx], y[idx]
    x0, x1 = xs.min(axis=1), xs.max(axis=1)
    y0, y1 = ys.min(axis=1), ys.max(axis=1)
    cx, cy = xs[:, :4], ys[:, :4]
    ok = ((np.diff(xs, axis=1) == 0.0) | (np.diff(ys, axis=1) == 0.0)).all(axis=1)
    ok &= (((cx == x0[:, None]) | (cx == x1[:, None]))
           & ((cy == y0[:, None]) | (cy == y1[:, None]))).all(axis=1)
    for bx, by in ((x0, y0), (x0, y1), (x1, y0), (x1, y1)):
        ok &= ((cx == bx[:, None]) & (cy == by[:, None])).any(axis=1)
    is_rect = np.zeros(n, dtype=bool)
    is_rect[cand] = ok
    bbox = np.zeros((n, 4))
    bbox[cand] = np.stack([x0, x1, y0, y1], axis=1)
    return is_rect, bbox


def _closed_ring(x: np.ndarray, y: np.ndarray, s: int, e: int):
    """Ring ``x[s:e], y[s:e]`` with its first point appended when it is
    not closed."""
    rx, ry = x[s:e], y[s:e]
    if rx[0] != rx[-1] or ry[0] != ry[-1]:
        rx, ry = np.append(rx, rx[0]), np.append(ry, ry[0])
    return rx, ry


_RUN_ARROW = to_arrow_schema(RUN_SCHEMA)


def _pixel_runs(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Per (polygon, tile) row → covered non-NODATA scanline runs, one
    output batch per chunk of at most ``MASK_CHUNK_PAIRS`` rows.

    Per chunk, one boolean mask stack of shape (rows, TILE_PX, TILE_PX):
    exactly rectangular rings (:func:`_axis_rects`) fill it with one
    interval comparison for all of them (the covered set of the
    boundary-inclusive even-odd PIP for axis-aligned rectangles —
    asserted against the per-pair reference in tests/test_properties.py);
    every other ring runs ``points_in_ring`` over its tile's centroid
    grid, one row at a time.  The runs come out of the whole stack at
    once: the toggles of each zero-padded scanline alternate run start,
    run end, and one boolean gather of the stacked grids is every run's
    z values concatenated, in (row, y, x0) order.
    """
    for rb in batches:
        tile, grids, cxv, cyv, tx, ty = _decoded_tiles(rb)
        valid = grids != NODATA
        x, y, starts, ends = _ring_points(rb.column("ring"))
        is_rect, bbox = _axis_rects(x, y, starts, ends)
        pid = rb.column("poly_id").to_numpy()
        centroids = {}   # tile → flattened centroid grids, for the general PIP
        for r0 in range(0, rb.num_rows, MASK_CHUNK_PAIRS):
            rows = slice(r0, r0 + MASK_CHUNK_PAIRS)
            t = tile[rows]
            rect = is_rect[rows]
            mask = np.empty((len(t), TILE_PX, TILE_PX), dtype=bool)
            if rect.any():
                tr = t[rect]
                x0, x1, y0, y1 = (c[:, None] for c in bbox[rows][rect].T)
                x_in = (cxv[tr] >= x0) & (cxv[tr] <= x1)
                y_in = (cyv[tr] >= y0) & (cyv[tr] <= y1)
                mask[rect] = y_in[:, :, None] & x_in[:, None, :]
            for k in np.flatnonzero(~rect):
                if t[k] not in centroids:
                    centroids[t[k]] = (np.broadcast_to(cxv[t[k]], (TILE_PX, TILE_PX)).ravel(),
                                       np.repeat(cyv[t[k]], TILE_PX))
                rx, ry = _closed_ring(x, y, starts[r0 + k], ends[r0 + k])
                mask[k] = points_in_ring(*centroids[t[k]], rx, ry).reshape(TILE_PX, TILE_PX)
            mask &= valid[t]
            p, ys, xs = np.nonzero(np.diff(mask, axis=2, prepend=False, append=False))
            p, ys, xs0, xs1 = p[::2], ys[::2], xs[::2], xs[1::2]
            yield record_batch(_RUN_ARROW, [
                pa.array(pid[rows][p]), pa.array(ty[t[p]] * TILE_PX + ys),
                pa.array(tx[t[p]] * TILE_PX + xs0), list_array(xs1 - xs0, grids[t][mask])])


def polygon_pixel_runs(polygons_df: DataFrame, images_df: DataFrame) -> DataFrame:
    """Covered non-NODATA scanline runs (``RUN_SCHEMA``) of every
    polygon: the one run table that :func:`polygon_pixels` explodes and
    the band dissolve (``operators/color.py``) splits.  Huge polygon
    bounding boxes: see the limit noted on :func:`polygon_tile_join`."""
    return polygon_tile_join(polygons_df, images_df).mapInArrow(
        _pixel_runs, schema=RUN_SCHEMA)


def run_stats(runs_df: DataFrame) -> DataFrame:
    """min/max/avg/count per polygon over a :func:`polygon_pixel_runs`
    table — value-identical to the same aggregates over the pixel rows
    of :func:`polygon_pixels` (G1, reference ``querybuilder.py:84-88``)
    without exploding a run.  min and max are the codegen'd
    ``array_min``/``array_max`` of each run; the avg is one exact
    integer sum over one exact count, the same double division as the
    pixel-row average (asserted in tests/test_polygon.py).  Its per-run
    sum is an interpreted ``aggregate`` lambda, which column pruning
    drops from a plan that reads only min and max (the dissolve)."""
    run_sum = F.aggregate("zs", F.lit(0).cast("long"), lambda acc, z: acc + z)
    return runs_df.groupBy("poly_id").agg(
        F.min(F.array_min("zs")).alias("min_z"),
        F.max(F.array_max("zs")).alias("max_z"),
        (F.sum(run_sum) / F.sum(F.size("zs"))).alias("avg_z"),
        F.sum(F.size("zs")).alias("n_pixels"),
    )


def polygon_pixels(polygons_df: DataFrame, images_df: DataFrame,
                   *, spread: bool = True) -> DataFrame:
    """Pixel rows covered by each polygon: (poly_id, image_id, gx, gy, x, y, z).

    Matches the reference's centroid-dump semantics (z != NODATA,
    centroid covered).  Rows are unordered: the request surface
    (``api.ElevationService.polygon``) sorts its collected reply by
    (x, y) on the driver.  The Python kernel ships scanline runs and a
    JVM ``posexplode`` generates the pixel rows inside codegen.  Huge
    polygon bounding boxes: see the limit noted on
    :func:`polygon_tile_join`.  ``spread`` is ignored: it is kept only
    because existing benchmark calls pass it.
    """
    px = polygon_pixel_runs(polygons_df, images_df).select(
        "poly_id", "gy", "gx0", F.posexplode("zs").alias("pos", "z")
    ).select(
        "poly_id",
        (F.col("gx0") + F.col("pos")).alias("gx"),
        "gy",
        F.col("z").cast("int").alias("z"),
    )
    return with_pixel_coords(px)
