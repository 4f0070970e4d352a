"""Property-based tests (hypothesis) for the pure kernels.

The reference ships only example-based tests (SURVEY.md §5.1); these
pin the algebraic invariants of the codec / cell-index / dissolve
kernels across randomized inputs, which is what actually protects the
10^12-row paths (every weird coordinate WILL occur at that scale).
"""

import functools
import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from openelevationservice_spark.constants import TILE_DEG
from openelevationservice_spark.functions import cells, polyline as pl
from tests.references import _signed_area2, column_cells, dissolve_pixels

lon_s = st.floats(min_value=-179.99, max_value=179.99,
                  allow_nan=False, allow_infinity=False)
lat_s = st.floats(min_value=-89.99, max_value=89.99,
                  allow_nan=False, allow_infinity=False)
z_s = st.floats(min_value=-10000, max_value=10000,
                allow_nan=False, allow_infinity=False)


def _py2_round(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(lon_s, lat_s, z_s), min_size=1, max_size=20),
       st.sampled_from([5, 6]))
def test_polyline_roundtrip_is_quantization(coords, precision):
    """decode(encode(c)) == the codec's quantization law, for every
    vertex, both precisions, 3-D (z factor 100)."""
    enc = pl.encode(coords, precision, is3d=True)
    dec = pl.decode(enc, precision, is3d=True)
    assert len(dec) == len(coords)
    f = 10 ** precision
    for (lon, lat, z), (dlon, dlat, dz) in zip(coords, dec):
        assert _py2_round(lon * f) == round(dlon * f)
        assert _py2_round(lat * f) == round(dlat * f)
        assert _py2_round(z * 100) == round(dz * 100)


@settings(max_examples=20, deadline=None)
@given(st.lists(st.tuples(lon_s, lat_s), min_size=1, max_size=50))
def test_cell_contains_its_point(spark, points):
    """The cell the library's Column functions map a point to must
    cover the point (half-open), up to one ulp of the shared floor
    arithmetic: the floor law itself is the spec (identical expression
    JVM-side and in the SQL oracle), so a point within rounding distance
    of a seam may land on either side — but always on the SAME side in
    every component of the engine."""
    lon = np.array([p[0] for p in points])
    lat = np.array([p[1] for p in points])
    got = column_cells(spark, lon, lat)
    size = TILE_DEG
    tol = 1e-9 * size
    x0 = -180.0 + got["cx"].to_numpy() * size
    y1 = 90.0 - got["cy"].to_numpy() * size          # north edge
    assert ((x0 - tol <= lon) & (lon < x0 + size + tol)).all()
    assert ((y1 - size - tol < lat) & (lat <= y1 + tol)).all()


@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=1, max_value=5))
def test_ring_disk_counts(k):
    """|disk(k)| = (2k+1)^2 distinct offsets within Chebyshev distance k —
    the kNN search frontier."""
    dx, dy = cells.disk_offsets(k)
    assert len(dx) == (2 * k + 1) ** 2
    assert len(set(zip(dx.tolist(), dy.tolist()))) == len(dx)
    assert np.maximum(np.abs(dx), np.abs(dy)).max() == k


@settings(max_examples=60, deadline=None)
@given(st.sets(st.tuples(st.integers(0, 12), st.integers(0, 12)),
               min_size=1, max_size=60))
def test_dissolve_preserves_area_and_closes_rings(pixels):
    """Dissolved polygons cover exactly the input pixels: total signed
    area (outer − holes) == pixel count; every ring closes."""
    gx = np.array([p[0] for p in pixels], dtype=np.int64)
    gy = np.array([p[1] for p in pixels], dtype=np.int64)
    polys = dissolve_pixels(gx, gy)
    total = 0.0
    for rings in polys:
        for ring in rings:
            assert ring[0] == ring[-1]          # closed
        total += sum(_signed_area2(r[:-1]) / 2.0 for r in rings)
    assert total == len(pixels)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(
    st.floats(13.0, 14.0, allow_nan=False),
    st.floats(38.0, 39.0, allow_nan=False),
    st.floats(13.0, 14.0, allow_nan=False),
    st.floats(38.0, 39.0, allow_nan=False),
), min_size=1, max_size=8))
def test_densify_matches_numpy_reference(spark, lines):
    """The Spark densify and the numpy reference (tests/references.py)
    are the same operator on arbitrary segments (incl. zero-length and
    near-seam)."""
    import pandas as pd
    from openelevationservice_spark.operators.line import densify_lines
    from tests.references import assert_densify_matches_reference

    pdf = pd.DataFrame(
        [(i, x1, y1, x2, y2) for i, (x1, y1, x2, y2) in enumerate(lines)],
        columns=["line_id", "x1", "y1", "x2", "y2"],
    )
    got = densify_lines(spark.createDataFrame(pdf)).toPandas()
    assert_densify_matches_reference(got, pdf)


@functools.cache
def _seam_world_images():
    """A 3x3-tile world whose centre tile has a 12x12-pixel NODATA block,
    and the centroid (lon, lat) of that block's middle pixel."""
    from openelevationservice_spark.constants import NODATA, PX
    from openelevationservice_spark.functions import image_codec
    from openelevationservice_spark.sources import fixtures as fx
    from tests.inputs import make_images_pdf

    world = fx.World(nx=3, ny=3)
    images = make_images_pdf(world)
    tx, ty = world.tx0 + 1, world.ty0 + 1
    grid = fx.tile_grid(tx, ty)
    grid[20:32, 14:26] = NODATA
    row = images.index[images["image_id"] == f"tile_{tx:05d}_{ty:05d}"][0]
    images.at[row, "bytes"] = image_codec.encode(grid, images.at[row, "fmt"])
    hole = (fx.World(tx0=tx, ty0=ty).min_x + 20.5 * PX, fx.World(tx0=tx, ty0=ty).max_y - 26.5 * PX)
    return world, images, hole


def _random_rings(rng, world, hole):
    """Rings of every kind the rasterizer tells apart, at random places
    and sizes up to 1.6 tiles (so most cross a tile seam): closed and
    unclosed rectangles, zero-width and zero-height rectangles, closed
    and unclosed triangles, rectangles whose edges sit exactly on pixel
    centroids, small rectangles inside the NODATA block, and 5-point
    axis-parallel rings on three bbox corners (no rectangle: a spike
    back along one edge)."""
    from openelevationservice_spark.constants import PX

    rings = []
    for kind in rng.integers(0, 9, size=int(rng.integers(1, 12))):
        x0 = rng.uniform(world.min_x, world.max_x - 0.1 * TILE_DEG)
        y0 = rng.uniform(world.min_y, world.max_y - 0.1 * TILE_DEG)
        w, h = rng.uniform(0.0, 1.6 * TILE_DEG, size=2)
        if kind == 0:
            ring = [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h), (x0, y0)]
        elif kind == 1:
            ring = [(x0, y0 + h), (x0 + w, y0 + h), (x0 + w, y0), (x0, y0)]
        elif kind == 2:
            ring = [(x0, y0), (x0, y0 + h), (x0, y0 + h), (x0, y0), (x0, y0)]
        elif kind == 3:
            ring = [(x0, y0), (x0 + w, y0), (x0 + w, y0), (x0, y0), (x0, y0)]
        elif kind == 4:
            ring = [(x0, y0), (x0 + w, y0 + 0.3 * h), (x0 + 0.2 * w, y0 + h), (x0, y0)]
        elif kind == 5:
            ring = [(x0 + w, y0), (x0, y0 + h), (x0 + 0.5 * w, y0 - 0.4 * h)]
        elif kind == 6:
            # edges on pixel centroids: ul + (i + 0.5)·px, the kernel's arithmetic
            i, j = rng.integers(0, 3 * 50 - 20, size=2)
            ul_x = world.min_x + (i // 50) * TILE_DEG
            ul_y = world.max_y - (j // 50) * TILE_DEG
            cx0, cy0 = ul_x + (i % 50 + 0.5) * PX, ul_y - (j % 50 + 0.5) * PX
            cx1, cy1 = cx0 + int(rng.integers(0, 20)) * PX, cy0 - int(rng.integers(0, 20)) * PX
            ring = [(cx0, cy1), (cx1, cy1), (cx1, cy0), (cx0, cy0), (cx0, cy1)]
        elif kind == 7:
            d = float(rng.uniform(0.1, 4.0)) * PX
            hx, hy = hole
            ring = [(hx - d, hy - d), (hx + d, hy - d), (hx + d, hy + d), (hx - d, hy + d)]
        else:
            ring = [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0 + w, y0), (x0, y0)]
        rings.append(ring)
    return rings


@settings(max_examples=40, deadline=None)
@given(st.integers(min_value=0, max_value=2**32 - 1), st.sampled_from([3, 4096]))
def test_batch_rasterizer_equals_per_pair_reference(seed, chunk):
    """The batch-wide rasterizer (one mask stack per chunk of pairs,
    vectorized rectangle test, runs from one scanline diff) emits the
    same (poly_id, gy, gx0, len, z) runs, in the same order, as the
    per-pair reference (tests/references.py) on seeded random rings —
    with chunks of 3 pairs and with one chunk per batch."""
    from unittest import mock

    import pandas as pd
    import pyarrow as pa

    from openelevationservice_spark.operators import polygon
    from tests.inputs import polygon_pair_batch
    from tests.references import RUN_COLUMNS, pair_runs_reference

    world, images, hole = _seam_world_images()
    rb = polygon_pair_batch(images, _random_rings(np.random.default_rng(seed), world, hole))
    want = pair_runs_reference(rb.to_pandas())
    with mock.patch.object(polygon, "MASK_CHUNK_PAIRS", chunk):
        runs = pa.Table.from_batches(list(polygon._pixel_runs(iter([rb]))),
                                     schema=polygon._RUN_ARROW)
    zs = runs.column("zs").to_pylist()
    got = pd.DataFrame({"poly_id": runs.column("poly_id").to_pylist(),
                        "gy": runs.column("gy").to_pylist(),
                        "gx0": runs.column("gx0").to_pylist(),
                        "len": [len(z) for z in zs], "z": [tuple(z) for z in zs]},
                       columns=RUN_COLUMNS)
    assert got.values.tolist() == want.values.tolist()
