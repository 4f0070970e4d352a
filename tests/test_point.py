import numpy as np
import pandas as pd
import pytest

from openelevationservice_spark.constants import NODATA, PX, TILE_DEG, WORLD_X0, WORLD_Y0
from openelevationservice_spark.operators.knn import knn_tiles
from openelevationservice_spark.operators.point import point_elevation
from openelevationservice_spark.operators.polygon import polygon_pixels
from openelevationservice_spark.sources import fixtures as fx


def numpy_point_oracle(lon: np.ndarray, lat: np.ndarray, world: fx.World):
    """Reference semantics in numpy: ST_Value floor + half-open tiles."""
    gx = np.floor((lon - WORLD_X0) / PX).astype(np.int64)
    gy = np.floor((WORLD_Y0 - lat) / PX).astype(np.int64)
    tx, ty = gx // 50, gy // 50
    inside = (
        (tx >= world.tx0) & (tx < world.tx0 + world.nx)
        & (ty >= world.ty0) & (ty < world.ty0 + world.ny)
    )
    z = fx.z_field(gx, gy).astype(np.int64)
    image = np.where(
        inside,
        [f"tile_{a:05d}_{b:05d}" for a, b in zip(tx, ty)],
        None,
    )
    return image, np.where(inside, z, np.int64(-99999)), gx, gy


@pytest.fixture(scope="module")
def world():
    return fx.World(nx=4, ny=4)


@pytest.fixture(scope="module")
def images(spark, world):
    df = spark.createDataFrame(fx.make_images_pdf(world), schema=fx.IMAGES_SCHEMA)
    df.persist()
    df.count()
    return df


@pytest.mark.parametrize("index_strategy", ["broadcast", "shuffle"])
def test_point_elevation_matches_oracle(spark, world, images, index_strategy):
    pdf = fx.make_points_pdf(world, n=300)
    pts = spark.createDataFrame(pdf)
    out = point_elevation(pts, images, how="left", index_strategy=index_strategy)
    got = out.select("point_id", "image_id", "z").toPandas().sort_values("point_id")

    image, z, _, _ = numpy_point_oracle(
        pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), world
    )
    want = pd.DataFrame({"point_id": pdf["point_id"], "image_ref": image, "z_ref": z})
    m = got.merge(want, on="point_id")
    assert len(m) == len(pdf)  # left join keeps every point exactly once
    inside = m["image_ref"].notna()
    assert (m.loc[inside, "image_id"] == m.loc[inside, "image_ref"]).all()
    assert (m.loc[inside, "z"].astype(np.int64) == m.loc[inside, "z_ref"]).all()
    assert m.loc[~inside, "image_id"].isna().all()
    assert m.loc[~inside, "z"].isna().all()


def test_unknown_index_strategy_raises(spark, world, images):
    """A misspelled strategy raises; it is never taken as the shuffle join."""
    pts = spark.createDataFrame(fx.make_points_pdf(world, n=3))
    x0, y0 = world.min_x, world.min_y
    polys = spark.createDataFrame(
        pd.DataFrame({"poly_id": [0], "ring": [[
            {"lon": x0, "lat": y0}, {"lon": x0 + PX, "lat": y0},
            {"lon": x0 + PX, "lat": y0 + PX}, {"lon": x0, "lat": y0}]]}),
        schema="poly_id long, ring array<struct<lon:double, lat:double>>",
    )
    for run in (lambda s: point_elevation(pts, images, index_strategy=s),
                lambda s: polygon_pixels(polys, images, index_strategy=s),
                lambda s: knn_tiles(pts, images, index_strategy=s)):
        with pytest.raises(ValueError, match="unknown index strategy 'shufle'"):
            run("shufle")


def test_inner_join_drops_out_of_coverage(spark, world, images):
    pdf = pd.DataFrame(
        {
            "point_id": [0, 1],
            "lon": [fx.REF_POINT_IN[0], fx.REF_POINT_OUT[0]],
            "lat": [fx.REF_POINT_IN[1], fx.REF_POINT_OUT[1]],
        }
    )
    # REF_POINT_IN lies inside the default world; shift world to cover it
    w = fx.DEFAULT_WORLD
    imgs = spark.createDataFrame(fx.make_images_pdf(fx.World(nx=2, ny=2,
                                                             tx0=w.tx0 + 3, ty0=w.ty0 + 3)),
                                 schema=fx.IMAGES_SCHEMA)
    out = point_elevation(spark.createDataFrame(pdf), imgs, how="inner").toPandas()
    # reference raises 404 4002 for out-of-coverage (querybuilder.py:309-311):
    # engine equivalent is "row absent"
    assert set(out["point_id"]) <= {0}


def test_reference_coordinate_sampled(spark):
    w = fx.DEFAULT_WORLD
    imgs = spark.createDataFrame(fx.make_images_pdf(fx.World(nx=8, ny=8)), schema=fx.IMAGES_SCHEMA)
    pts = spark.createDataFrame(
        pd.DataFrame({"point_id": [0], "lon": [fx.REF_POINT_IN[0]], "lat": [fx.REF_POINT_IN[1]]})
    )
    out = point_elevation(pts, imgs).toPandas()
    assert len(out) == 1
    gx = int(np.floor((fx.REF_POINT_IN[0] - WORLD_X0) / PX))
    gy = int(np.floor((WORLD_Y0 - fx.REF_POINT_IN[1]) / PX))
    assert out["z"][0] == int(fx.z_field(np.array([gx]), np.array([gy]))[0])


def test_seam_point_deterministic(spark, world, images):
    # a point exactly on a tile seam belongs to exactly one tile (half-open)
    seam_x = WORLD_X0 + (world.tx0 + 1) * TILE_DEG  # left edge of 2nd column
    lat = world.max_y - 1.5 * TILE_DEG
    pts = spark.createDataFrame(
        pd.DataFrame({"point_id": [0], "lon": [seam_x], "lat": [lat]})
    )
    out = point_elevation(pts, images, how="inner").toPandas()
    assert len(out) == 1
    assert out["image_id"][0].startswith(f"tile_{world.tx0 + 1:05d}_")
    assert out["ix"][0] == 0


def test_nodata_pixel_coalesces(spark):
    # locate a NODATA hole analytically, then build a 1x1 world around it
    w0 = fx.DEFAULT_WORLD
    gx = np.arange(w0.tx0 * 50, (w0.tx0 + 40) * 50)
    gy = np.arange(w0.ty0 * 50, (w0.ty0 + 40) * 50)
    GX, GY = np.meshgrid(gx, gy)
    holes = np.argwhere(fx.z_field(GX, GY) == NODATA)
    assert len(holes), "fixture field should contain a NODATA hole in 40x40 tiles"
    hgx, hgy = gx[holes[0][1]], gy[holes[0][0]]
    tx, ty, ix, iy = hgx // 50, hgy // 50, hgx % 50, hgy % 50
    imgs = spark.createDataFrame(
        fx.make_images_pdf(fx.World(tx0=int(tx), ty0=int(ty), nx=1, ny=1)),
        schema=fx.IMAGES_SCHEMA,
    )
    lon = WORLD_X0 + (tx * 50 + ix + 0.5) * PX
    lat = WORLD_Y0 - (ty * 50 + iy + 0.5) * PX
    pts = spark.createDataFrame(pd.DataFrame({"point_id": [0], "lon": [lon], "lat": [lat]}))
    out = point_elevation(pts, imgs).toPandas()
    assert out["z"][0] == NODATA  # coalesce(z, -32768) semantics
