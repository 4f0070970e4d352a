"""Query-side test inputs (FIXTURES.md §2): the reference's test
coordinates, replay points and lines, the images table as one
driver-side pandas frame for small test worlds, and the (polygon, tile)
rows the polygon rasterizer reads, as one Arrow batch."""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pyarrow as pa

from openelevationservice_spark.constants import TILE_DEG, WORLD_X0, WORLD_Y0
from openelevationservice_spark.sources.fixtures import DEFAULT_WORLD, World, tile_row
from tests.references import cell_xy, linear_id

REF_POINT_IN = (13.331302, 38.108433)       # reference tests/test_api_point.py:8
REF_POINT_OUT = (8.807514373051843, 53.0756845615249)  # :10 (Bremen)
REF_LINE = ((13.331302, 38.108433), (13.331273, 38.10849))  # tests/test_api_line.py:10-11


def make_images_pdf(world: World = DEFAULT_WORLD) -> pd.DataFrame:
    """The rows of ``fixtures.make_images_df`` as pandas, in (ty, tx) order."""
    return pd.DataFrame([tile_row(tx, ty)
                         for ty in range(world.ty0, world.ty0 + world.ny)
                         for tx in range(world.tx0, world.tx0 + world.nx)])


def make_points_pdf(world: World = DEFAULT_WORLD, n: int = 500, seed: int = 42) -> pd.DataFrame:
    """Replay points: fixture seeds + uniform bulk + 5% outside + 20% skew."""
    rng = np.random.default_rng(seed)
    lon = rng.uniform(world.min_x, world.max_x, n)
    lat = rng.uniform(world.min_y, world.max_y, n)
    n_out = n // 20
    lon[:n_out] = world.max_x + rng.uniform(1.0, 5.0, n_out)  # outside
    n_skew = n // 5
    lon[n_out:n_out + n_skew] = rng.uniform(world.min_x, world.min_x + TILE_DEG, n_skew)
    lat[n_out:n_out + n_skew] = rng.uniform(world.max_y - TILE_DEG, world.max_y, n_skew)
    pdf = pd.DataFrame({"point_id": np.arange(n, dtype=np.int64), "lon": lon, "lat": lat})
    pdf.loc[0, ["lon", "lat"]] = REF_POINT_IN
    pdf.loc[1, ["lon", "lat"]] = REF_POINT_OUT
    return pdf


def make_lines_pdf(world: World = DEFAULT_WORLD, n: int = 200, seed: int = 43) -> pd.DataFrame:
    """Replay 2-vertex lines incl. the reference golden line + degenerates."""
    rng = np.random.default_rng(seed)
    x1 = rng.uniform(world.min_x, world.max_x, n)
    y1 = rng.uniform(world.min_y, world.max_y, n)
    x2 = x1 + rng.uniform(-3 * TILE_DEG, 3 * TILE_DEG, n)
    y2 = y1 + rng.uniform(-3 * TILE_DEG, 3 * TILE_DEG, n)
    pdf = pd.DataFrame({"line_id": np.arange(n, dtype=np.int64),
                        "x1": x1, "y1": y1, "x2": x2, "y2": y2})
    (ax, ay), (bx, by) = REF_LINE
    pdf.loc[0, ["x1", "y1", "x2", "y2"]] = [ax, ay, bx, by]
    pdf.loc[1, ["x1", "y1", "x2", "y2"]] = [ax, ay, ax, ay]  # zero-length
    return pdf


#: Arrow types of the (polygon, tile) rows of ``polygon_tile_join``
PAIR_SCHEMA = pa.schema([
    ("cell_id", pa.int64()), ("image_id", pa.string()), ("bytes", pa.binary()),
    ("fmt", pa.string()), ("ul_x", pa.float64()), ("ul_y", pa.float64()),
    ("px", pa.float64()), ("w", pa.int32()), ("h", pa.int32()),
    ("poly_id", pa.int64()),
    ("ring", pa.list_(pa.struct([("lon", pa.float64()), ("lat", pa.float64())]))),
])


def polygon_pair_batch(images: pd.DataFrame, rings: list) -> pa.RecordBatch:
    """The rows ``operators.polygon.polygon_tile_join`` hands the
    rasterizer for ``rings`` (lists of (lon, lat), closed or not; ring i
    is polygon i) over the tiles of ``images``: one row per ring and
    tile among its bounding box's cells, in ring order."""
    caps = [json.loads(c) for c in images["caption"]]
    ul_x = np.array([c["ul_x"] for c in caps])
    ul_y = np.array([c["ul_y"] for c in caps])
    tx = np.rint((ul_x - WORLD_X0) / TILE_DEG).astype(np.int64)
    ty = np.rint((WORLD_Y0 - ul_y) / TILE_DEG).astype(np.int64)
    rows = []
    for pid, ring in enumerate(rings):
        (cx0, cx1), (cy1, cy0) = cell_xy([min(p[0] for p in ring), max(p[0] for p in ring)],
                                         [min(p[1] for p in ring), max(p[1] for p in ring)])
        for t in np.flatnonzero((tx >= cx0) & (tx <= cx1) & (ty >= cy0) & (ty <= cy1)):
            rows.append({
                "cell_id": int(linear_id(tx[t], ty[t])),
                "image_id": images["image_id"].iloc[t], "bytes": images["bytes"].iloc[t],
                "fmt": images["fmt"].iloc[t], "ul_x": ul_x[t], "ul_y": ul_y[t],
                "px": caps[t]["px"], "w": int(images["w"].iloc[t]),
                "h": int(images["h"].iloc[t]), "poly_id": pid,
                "ring": [{"lon": x, "lat": y} for x, y in ring]})
    return pa.RecordBatch.from_pylist(rows, schema=PAIR_SCHEMA)
