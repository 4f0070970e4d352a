"""Property-based tests (hypothesis) for the pure kernels.

The reference ships only example-based tests (SURVEY.md §5.1); these
pin the algebraic invariants of the codec / cell-index / dissolve
kernels across randomized inputs, which is what actually protects the
10^12-row paths (every weird coordinate WILL occur at that scale).
"""

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
