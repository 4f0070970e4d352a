import numpy as np
import pandas as pd
import pytest

from openelevationservice_spark.constants import NODATA, PX, TILE_DEG, TILE_PX, WORLD_X0, WORLD_Y0
from openelevationservice_spark.operators.knn import knn_tiles
from openelevationservice_spark.sources import fixtures as fx
from tests import plan_checks as pc
from tests.inputs import make_images_pdf


@pytest.fixture(scope="module")
def world():
    return fx.World(nx=3, ny=3)


@pytest.fixture(scope="module")
def images(spark, world):
    df = spark.createDataFrame(make_images_pdf(world), schema=fx.IMAGES_SCHEMA)
    df.persist()
    df.count()
    return df


def test_inside_point_dist_zero(spark, world, images):
    pts = spark.createDataFrame(pd.DataFrame({
        "point_id": [0],
        "lon": [world.min_x + 1.5 * TILE_DEG],
        "lat": [world.max_y - 1.5 * TILE_DEG],
    }))
    out = knn_tiles(pts, images, k=1).toPandas()
    assert len(out) == 1
    assert out.dist_deg[0] == 0.0
    assert out.image_id[0] == f"tile_{world.tx0 + 1:05d}_{world.ty0 + 1:05d}"
    assert out.z[0] != NODATA


def test_offgrid_point_east_of_world(spark, world, images):
    # half a tile east of coverage → nearest tile is rightmost column
    pts = spark.createDataFrame(pd.DataFrame({
        "point_id": [0],
        "lon": [world.max_x + 0.5 * TILE_DEG],
        "lat": [world.max_y - 1.5 * TILE_DEG],
    }))
    out = knn_tiles(pts, images, k=3).toPandas().sort_values("rank")
    assert len(out) == 3
    assert out.iloc[0].image_id == f"tile_{world.tx0 + 2:05d}_{world.ty0 + 1:05d}"
    assert abs(out.iloc[0].dist_deg - 0.5 * TILE_DEG) < 1e-9
    # k-th neighbours are the vertical neighbours of the same column
    assert set(out.image_id[1:]) <= {
        f"tile_{world.tx0 + 2:05d}_{world.ty0 + 0:05d}",
        f"tile_{world.tx0 + 2:05d}_{world.ty0 + 2:05d}",
    }
    # sampled z comes from the clamped eastmost pixel column of that tile
    assert out.iloc[0].ix == 49


def test_point_beyond_max_rings_absent(spark, world, images):
    pts = spark.createDataFrame(pd.DataFrame({
        "point_id": [0],
        "lon": [world.max_x + 10 * TILE_DEG],
        "lat": [world.max_y - 1.5 * TILE_DEG],
    }))
    assert knn_tiles(pts, images, k=1, max_rings=2).count() == 0


def test_corner_point_ranks_by_distance(spark, world, images):
    # NE of the NE corner: nearest is corner tile, then its two edge
    # neighbours at equal distance (tie broken by image_id), then diagonal
    pts = spark.createDataFrame(pd.DataFrame({
        "point_id": [7],
        "lon": [world.max_x + 0.25 * TILE_DEG],
        "lat": [world.max_y + 0.25 * TILE_DEG],
    }))
    out = knn_tiles(pts, images, k=4, max_rings=2).toPandas().sort_values("rank")
    assert out.iloc[0].image_id == f"tile_{world.tx0 + 2:05d}_{world.ty0:05d}"
    d = out.dist_deg.to_numpy()
    assert (np.diff(d) >= -1e-12).all()


def knn_oracle(lon, lat, world, k, max_rings):
    """(point_id, rank, image_id, z) in numpy terms: tiles whose cell is
    within Chebyshev distance ``max_rings`` of the point's cell, ranked
    by point→bbox distance then image_id; z at the point clamped half a
    pixel inside the winning tile."""
    rows = []
    for pid, (x, y) in enumerate(zip(lon, lat)):
        cx0 = int(np.floor((x - WORLD_X0) / TILE_DEG))
        cy0 = int(np.floor((WORLD_Y0 - y) / TILE_DEG))
        cands = []
        for tx in range(world.tx0, world.tx0 + world.nx):
            for ty in range(world.ty0, world.ty0 + world.ny):
                if max(abs(tx - cx0), abs(ty - cy0)) > max_rings:
                    continue
                ul_x, ul_y = WORLD_X0 + tx * TILE_DEG, WORLD_Y0 - ty * TILE_DEG
                max_x, min_y = ul_x + TILE_PX * PX, ul_y - TILE_PX * PX
                dx = max(ul_x - x, x - max_x, 0.0)
                dy = max(min_y - y, y - ul_y, 0.0)
                cands.append((np.sqrt(dx * dx + dy * dy), f"tile_{tx:05d}_{ty:05d}",
                              tx, ty, ul_x, ul_y, max_x, min_y))
        for rank, (_, img, tx, ty, ul_x, ul_y, max_x, min_y) in enumerate(
                sorted(cands)[:k], start=1):
            eps = PX / 2.0
            clx = min(max(x, ul_x + eps), max_x - eps)
            cly = min(max(y, min_y + eps), ul_y - eps)
            ix = int(np.floor((clx - ul_x) / PX))
            iy = int(np.floor((ul_y - cly) / PX))
            z = int(fx.z_field(np.array([tx * TILE_PX + ix]), np.array([ty * TILE_PX + iy]))[0])
            rows.append((pid, rank, img, z))
    return rows


@pytest.mark.parametrize("index_join", ["broadcast", "shuffle"], indirect=True)
def test_knn_tiles_match_oracle(spark, world, images, index_join):
    """Inside and off-grid points give the oracle's k nearest tiles and
    z under the planner's broadcast join and, with the threshold at -1,
    its shuffle join."""
    rng = np.random.default_rng(7)
    lon = rng.uniform(world.min_x - 1.5 * TILE_DEG, world.max_x + 1.5 * TILE_DEG, 40)
    lat = rng.uniform(world.min_y - 1.5 * TILE_DEG, world.max_y + 1.5 * TILE_DEG, 40)
    pts = spark.createDataFrame(pd.DataFrame({
        "point_id": np.arange(len(lon), dtype=np.int64), "lon": lon, "lat": lat}))
    df = knn_tiles(pts, images, k=3, max_rings=2).select("point_id", "rank", "image_id", "z")
    got = sorted(tuple(r) for r in df.collect())
    pc.assert_join_regime(df, index_join)
    assert got == sorted(knn_oracle(lon, lat, world, k=3, max_rings=2))
