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
            → mapInPandas: decode tile, centroid grid, vectorized
              PIP filter, NODATA filter → scanline runs            [A2-A4, P2-P3]
            → posexplode(runs) → pixel rows (JVM codegen)

The reference's ``ORDER BY x, y`` is not a Spark sort: a request's
reply is collected anyway, so ``api.ElevationService.polygon`` sorts
it on the driver, and the rasterizer runs once per request (a Spark
``orderBy`` would re-run it in its range-sampling job).

The per-(polygon, tile) explode is Spark's ``LATERAL
ST_PixelAsPolygons`` equivalent (SURVEY.md §2.3 J5).  One rasterization
core (:func:`_iter_pair_masks`) feeds two emitters: scanline runs for
the pixel dump (:func:`polygon_pixels`) and one packed blob per
(polygon, tile) pair for the band dissolve
(:func:`polygon_pixel_run_blobs`, consumed by ``operators/color.py``).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..constants import NODATA, PX, TILE_DEG, TILE_PX, WORLD_X0, WORLD_Y0
from ..functions import image_codec
from ..functions.cells import cell_x_col, cell_y_col, linear_id_col
from ..functions.geometry import points_in_ring, ring_to_arrays
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
RUN_SCHEMA = T.StructType(
    [
        T.StructField("poly_id", T.LongType()),
        T.StructField("gy", T.LongType()),
        T.StructField("gx0", T.LongType()),
        T.StructField("zs", T.ArrayType(T.ShortType())),
    ]
)


def _is_axis_rect(rx: np.ndarray, ry: np.ndarray) -> bool:
    """True iff the closed ring is exactly an axis-aligned, non-degenerate
    rectangle (4 edges, each axis-parallel, corners = bbox corners)."""
    if len(rx) != 5:
        return False
    dx = np.diff(rx)
    dy = np.diff(ry)
    if not np.all((dx == 0.0) | (dy == 0.0)):
        return False
    corners = set(zip(rx[:4].tolist(), ry[:4].tolist()))
    x0, x1 = float(rx.min()), float(rx.max())
    y0, y1 = float(ry.min()), float(ry.max())
    return corners == {(x0, y0), (x0, y1), (x1, y0), (x1, y1)}


def _pixel_runs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per (polygon, tile) row → covered non-NODATA scanline runs.

    Tile-keyed cache holds the decoded grid AND its centroid coordinate
    vectors/grids (they depend only on the tile, not the polygon — the
    former per-pair meshgrid rebuild dominated the kernel).  Exactly
    rectangular rings take an interval-comparison fast path (identical
    covered set to the boundary-inclusive even-odd PIP for axis-aligned
    rectangles — asserted against a numpy centroid-in-ring mask in
    tests/test_polygon.py); everything else runs the general vectorized
    PIP over the cached centroid grid.
    """
    cols = [f.name for f in RUN_SCHEMA.fields]
    for pdf in batches:
        poly_ids: list[np.ndarray] = []
        gys: list[np.ndarray] = []
        gx0s: list[np.ndarray] = []
        zs: list[np.ndarray] = []
        for pid, grid, mask, tx, ty in _iter_pair_masks(pdf):
            gy, gx0, ln = _mask_runs(mask, tx, ty)
            # fully vectorized run assembly (no per-run Python): masked
            # values in row-major order ARE the runs concatenated in
            # (y, x0) order, so one boolean gather + np.split at the
            # run-length boundaries rebuilds every run's z slice
            poly_ids.append(np.full(len(gy), pid, np.int64))
            gys.append(gy)
            gx0s.append(gx0)
            zs.extend(np.split(grid[mask], np.cumsum(ln)[:-1]))
        empty = np.empty(0, np.int64)
        yield pd.DataFrame(
            {"poly_id": np.concatenate(poly_ids) if poly_ids else empty,
             "gy": np.concatenate(gys) if gys else empty,
             "gx0": np.concatenate(gx0s) if gx0s else empty,
             # explicit object dtype: an empty batch would otherwise
             # infer float64, which Arrow can't convert to list<int32>
             "zs": pd.Series(zs, dtype=object)},
            columns=cols,
        )


def _mask_runs(mask: np.ndarray, tx: int, ty: int):
    """Scanline runs of one tile's covered-pixel mask as GLOBAL
    (gy, gx0, length) int64 arrays in (y, x0) order — the ±1 edges of
    each scanline's 0-padded mask are the run starts and ends."""
    d = np.diff(np.pad(mask, ((0, 0), (1, 1))).astype(np.int8), axis=1)
    ys, xs0 = np.nonzero(d == 1)          # run starts (inclusive)
    _, xs1 = np.nonzero(d == -1)          # run ends (exclusive)
    h, w = mask.shape
    return (ty * h + ys.astype(np.int64), tx * w + xs0.astype(np.int64),
            xs1 - xs0)


def _iter_pair_masks(pdf: pd.DataFrame):
    """(poly_id, grid, covered-mask, tx, ty) per (polygon, tile) pair —
    the shared rasterization core of the run/blob kernels.  Column zip
    instead of ``iterrows`` (the per-row Series construction measurably
    outweighed the 50×50 mask math); tile-keyed cache holds the decoded
    grid and centroid vectors (they depend only on the tile)."""
    tile_cache: dict[str, tuple] = {}
    for img, data, fmt, w0, h0, ul_x, ul_y, px, ring, pid in zip(
        pdf["image_id"], pdf["bytes"], pdf["fmt"], pdf["w"], pdf["h"],
        pdf["ul_x"], pdf["ul_y"], pdf["px"], pdf["ring"], pdf["poly_id"],
    ):
        ctx = tile_cache.get(img)
        if ctx is None:
            grid = image_codec.decode(data, fmt, int(w0), int(h0))
            h, w = grid.shape
            if w != TILE_PX or h != TILE_PX:
                # with_pixel_coords derives image_id/x/y from gx, gy using
                # the constant TILE_PX — a tile of any other size would
                # silently produce wrong coordinates downstream
                raise AssertionError(
                    f"tile {img} is {w}x{h}, expected {TILE_PX}x{TILE_PX}"
                )
            cxv = ul_x + (np.arange(w) + 0.5) * px    # centroid lons
            cyv = ul_y - (np.arange(h) + 0.5) * px    # centroid lats
            ctx = (grid, grid != NODATA, cxv, cyv,
                   np.broadcast_to(cxv, (h, w)).ravel(),
                   np.repeat(cyv, w),
                   int(round((ul_x - WORLD_X0) / TILE_DEG)),
                   int(round((WORLD_Y0 - ul_y) / TILE_DEG)))
            tile_cache[img] = ctx
        grid, valid, cxv, cyv, cxr, cyr, tx, ty = ctx
        h, w = grid.shape
        rx, ry = ring_to_arrays(ring)
        if _is_axis_rect(rx, ry):
            x_in = (cxv >= rx.min()) & (cxv <= rx.max())
            y_in = (cyv >= ry.min()) & (cyv <= ry.max())
            mask = y_in[:, None] & x_in[None, :]
        else:
            mask = points_in_ring(cxr, cyr, rx, ry).reshape(h, w)
        mask = mask & valid
        if not mask.any():
            continue
        yield int(pid), grid, mask, tx, ty


# Opaque-blob run transfer for the dissolve pipeline: one row per
# (polygon, tile) pair, runs packed into a single binary column —
# int32 n_runs, int32 gy[n], int32 gx0[n], int32 len[n], int16 z[...]
# (little-endian), plus scalar per-pair min/max/sum/count for the stats
# agg (blob_stats).
# z values never become JVM arrays: binary crosses Arrow as one buffer
# memcpy, the cache stores ~9k blob rows instead of ~300k array rows,
# and the stats scan reads 2 pruned int columns instead of re-folding
# every array (guide §8: move heavy bytes once, decide on small rows).
RUN_BLOB_SCHEMA = T.StructType(
    [
        T.StructField("poly_id", T.LongType()),
        T.StructField("blob", T.BinaryType()),
        T.StructField("run_min", T.IntegerType()),
        T.StructField("run_max", T.IntegerType()),
        T.StructField("run_sum", T.LongType()),
        T.StructField("run_n", T.IntegerType()),
    ]
)


def _pixel_run_blobs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    cols = [f.name for f in RUN_BLOB_SCHEMA.fields]
    for pdf in batches:
        pids: list[int] = []
        blobs: list[bytes] = []
        mins: list[int] = []
        maxs: list[int] = []
        sums: list[int] = []
        ns: list[int] = []
        for pid, grid, mask, tx, ty in _iter_pair_masks(pdf):
            gy, gx0, ln = _mask_runs(mask, tx, ty)
            n = len(gy)
            zcat = grid[mask].astype("<i2", copy=False)
            head = np.empty(1 + 3 * n, dtype="<i4")
            head[0] = n
            head[1:1 + n] = gy
            head[1 + n:1 + 2 * n] = gx0
            head[1 + 2 * n:] = ln
            pids.append(pid)
            blobs.append(head.tobytes() + zcat.tobytes())
            mins.append(int(zcat.min()))
            maxs.append(int(zcat.max()))
            sums.append(int(zcat.sum(dtype=np.int64)))
            ns.append(len(zcat))
        yield pd.DataFrame(
            {"poly_id": np.asarray(pids, dtype=np.int64),
             "blob": pd.Series(blobs, dtype=object),
             "run_min": np.asarray(mins, dtype=np.int32),
             "run_max": np.asarray(maxs, dtype=np.int32),
             "run_sum": np.asarray(sums, dtype=np.int64),
             "run_n": np.asarray(ns, dtype=np.int32)},
            columns=cols,
        )


def polygon_pixel_run_blobs(polygons_df: DataFrame, images_df: DataFrame) -> DataFrame:
    """Covered-pixel runs as per-(polygon, tile) packed blobs —
    the dissolve pipeline's transfer/cache format (see RUN_BLOB_SCHEMA).
    Huge polygon bounding boxes: see the limit noted on
    :func:`polygon_tile_join`."""
    return polygon_tile_join(polygons_df, images_df).mapInPandas(
        _pixel_run_blobs, schema=RUN_BLOB_SCHEMA)


def blob_stats(blobs_df: DataFrame) -> DataFrame:
    """min/max/avg/count per polygon from the blob table's scalar
    per-pair columns — value-identical to the same aggregates over the
    pixel rows of :func:`polygon_pixels` (G1, reference
    ``querybuilder.py:84-88``) without unpacking a single blob: the
    avg is one exact integer sum over one exact count, the same double
    division as the pixel-row average (asserted in tests/test_polygon.py)."""
    return blobs_df.groupBy("poly_id").agg(
        F.min("run_min").alias("min_z"),
        F.max("run_max").alias("max_z"),
        (F.sum("run_sum") / F.sum("run_n")).alias("avg_z"),
        F.sum("run_n").alias("n_pixels"),
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
    runs = polygon_tile_join(polygons_df, images_df).mapInPandas(
        _pixel_runs, schema=RUN_SCHEMA)
    px = runs.select(
        "poly_id", "gy", "gx0", F.posexplode("zs").alias("pos", "z")
    ).select(
        "poly_id",
        (F.col("gx0") + F.col("pos")).alias("gx"),
        "gy",
        F.col("z").cast("int").alias("z"),
    )
    return with_pixel_coords(px)
