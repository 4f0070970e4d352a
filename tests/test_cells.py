import numpy as np

from openelevationservice_spark.constants import NCELL_X, TILE_DEG, WORLD_X0, WORLD_Y0
from openelevationservice_spark.functions import cells
from tests.references import cell_xy, column_cells, linear_id


def test_cell_xy_roundtrip(spark):
    lon = np.array([13.331302, -179.9999, 179.9999, 0.0])
    lat = np.array([38.108433, 89.9999, -89.9999, 0.0])
    got = column_cells(spark, lon, lat)
    cx, cy = got["cx"].to_numpy(), got["cy"].to_numpy()
    assert (cx >= 0).all() and (cx < NCELL_X).all()
    # cell lower-left corner must contain the point (half-open)
    x0 = WORLD_X0 + cx * TILE_DEG
    y1 = WORLD_Y0 - cy * TILE_DEG
    assert ((lon >= x0) & (lon < x0 + TILE_DEG)).all()
    assert ((lat <= y1) & (lat > y1 - TILE_DEG)).all()


def test_ring_and_disk():
    """The kNN candidate disk: the own cell, then the full ring around it."""
    dx, dy = cells.disk_offsets(0)
    assert list(zip(dx.tolist(), dy.tolist())) == [(0, 0)]
    dx, dy = cells.disk_offsets(1)
    assert sorted(zip(dx.tolist(), dy.tolist())) == [
        (a, b) for a in (-1, 0, 1) for b in (-1, 0, 1)]


def test_column_exprs_match_numpy(spark):
    rng = np.random.default_rng(1)
    lon = rng.uniform(-179, 179, 200)
    lat = rng.uniform(-89, 89, 200)
    got = column_cells(spark, lon, lat)
    cx, cy = cell_xy(lon, lat)
    assert (got["cx"].to_numpy() == cx).all() and (got["cy"].to_numpy() == cy).all()
    assert (got["cell_id"].to_numpy() == linear_id(cx, cy)).all()
