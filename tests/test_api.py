"""API-semantics parity tests — ports of the reference's
tests/test_api_point.py and tests/test_api_line.py expectations onto
the synthetic tile world (real-SRTM z values replaced by the
deterministic field; byte-exact codec goldens live in
tests/test_polyline.py).
"""

import uuid

import pytest

from openelevationservice_spark import api
from openelevationservice_spark.functions import polyline as pl
from openelevationservice_spark.sources import fixtures as fx
from tests.inputs import make_images_pdf

VALID = [13.331302, 38.108433]        # reference test_api_point.py:8
BREMEN = [8.807514373051843, 53.0756845615249]  # out-of-coverage


@pytest.fixture(scope="module")
def svc(spark):
    images = spark.createDataFrame(
        make_images_pdf(fx.World(nx=4, ny=4)), schema=fx.IMAGES_SCHEMA
    )
    images.persist()
    images.count()
    return api.ElevationService(spark, images)


def test_point_geojson(svc):
    res = svc.point({"type": "Point", "coordinates": VALID}, "geojson")
    geom = res["geometry"]
    assert geom["type"] == "Point"
    assert len(geom["coordinates"]) == 3          # reference asserts 3 coords
    assert geom["coordinates"][:2] == VALID
    assert geom["coordinates"][2] == 44           # deterministic field value
    assert {"attribution", "version", "timestamp"} <= set(res)


def test_point_format_point(svc):
    res = svc.point(VALID, "point", format_out="point")
    assert res["geometry"] == [VALID[0], VALID[1], 44]


def test_point_get(svc):
    res = svc.point_get(f"{VALID[0]},{VALID[1]}")
    assert res["geometry"]["coordinates"][2] == 44


def test_point_out_of_bounds_4002(svc):
    with pytest.raises(api.ApiError) as e:
        svc.point(BREMEN, "point")
    assert e.value.code == 4002
    assert "outside the bounds" in e.value.message


def test_get_malformed_4000(svc):
    with pytest.raises(api.ApiError) as e:
        svc.point_get("8.80751,,53.07568")
    assert e.value.code == 4000


def test_geojson_nested_list_4002(svc):
    # reference: Point with LineString-shaped coordinates → 4002
    with pytest.raises(api.ApiError) as e:
        svc.point({"type": "Point", "coordinates": [VALID, VALID]}, "geojson")
    assert e.value.code == 4002


def test_line_geojson(svc):
    p2 = [VALID[0] - 0.01, VALID[1] - 0.01]
    res = svc.line({"type": "LineString", "coordinates": [VALID, p2]}, "geojson")
    coords = res["geometry"]["coordinates"]
    assert res["geometry"]["type"] == "LineString"
    assert len(coords) > 2                        # densified
    assert all(len(c) == 3 for c in coords)
    assert coords[0][:2] == VALID and coords[-1][:2] == p2


def test_line_encodedpolyline_roundtrip(svc):
    p2 = [VALID[0] - 0.005, VALID[1]]
    enc_in = pl.encode([tuple(VALID), tuple(p2)], precision=5, is3d=False)
    res = svc.line(enc_in, "encodedpolyline", format_out="encodedpolyline")
    dec = pl.decode(res["geometry"], precision=5, is3d=True)
    assert len(dec) > 2
    assert all(len(c) == 3 for c in dec)
    # z rides the wire at factor 100 (codec.py:82,110) — decoded back to units
    assert all(float(z) == int(z) for _, _, z in dec)


def test_line_three_points_4002(svc):
    p2 = [VALID[0] - 0.01, VALID[1]]
    p3 = [VALID[0] - 0.02, VALID[1]]
    with pytest.raises(api.ApiError) as e:
        svc.line({"type": "LineString", "coordinates": [VALID, p2, p3]}, "geojson")
    assert e.value.code == 4002
    assert "exactly 2 points" in e.value.message


def test_line_zero_length_becomes_point(svc):
    # F6 fixup (views.py:63-68)
    res = svc.line({"type": "LineString", "coordinates": [VALID, VALID]}, "geojson")
    assert res["geometry"]["type"] == "Point"
    assert res["geometry"]["coordinates"][2] == 44


def test_line_out_of_bounds_4002(svc):
    p2 = [BREMEN[0] + 0.01, BREMEN[1]]
    res_or_err = None
    with pytest.raises(api.ApiError) as e:
        res_or_err = svc.line({"type": "LineString", "coordinates": [BREMEN, p2]},
                              "geojson")
    assert res_or_err is None
    assert e.value.code == 4002


def test_polygon_ordered_dump(svc):
    d = 0.003
    ring = [[VALID[0] - d, VALID[1] - d], [VALID[0], VALID[1] - d],
            [VALID[0], VALID[1]], [VALID[0] - d, VALID[1]],
            [VALID[0] - d, VALID[1] - d]]
    res = svc.polygon([ring])
    rows = res["geometry"]
    assert len(rows) > 0
    assert rows == sorted(rows)                   # W2: ORDER BY x, y
    assert all(len(r) == 3 for r in rows)


def _jobs(spark, fn) -> int:
    """Spark jobs launched while ``fn`` runs (counted by job group)."""
    sc = spark.sparkContext
    group = f"api-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_ordered_replies_run_the_plan_once(spark, svc):
    """Polygon and line replies are sorted on the driver: a Spark
    orderBy would add a range-partitioner sampling job that runs the
    plan (for polygons, the Python rasterizer) a second time."""
    d = 0.003
    ring = [[VALID[0] - d, VALID[1] - d], [VALID[0], VALID[1] - d],
            [VALID[0], VALID[1]], [VALID[0] - d, VALID[1]],
            [VALID[0] - d, VALID[1] - d]]
    line = {"type": "LineString", "coordinates": [VALID, [VALID[0] - 0.01, VALID[1] - 0.01]]}
    svc.line(line, "geojson")   # builds and caches the pixel index first
    assert _jobs(spark, lambda: svc.polygon([ring])) <= 2
    assert _jobs(spark, lambda: svc.line(line, "geojson")) <= 2


def test_colorpolygon_feature_collection(svc):
    d = 0.01
    ring = [[VALID[0] - d, VALID[1] - d], [VALID[0], VALID[1] - d],
            [VALID[0], VALID[1]], [VALID[0] - d, VALID[1]],
            [VALID[0] - d, VALID[1] - d]]
    res = svc.colorpolygon([ring])
    fc = res["geometry"]
    assert fc["type"] == "FeatureCollection"
    assert len(fc["features"]) > 1
    f = fc["features"][0]
    assert f["geometry"]["type"] == "Polygon"
    assert "heightBase" in f["properties"]


def test_invalid_format_in_4000(svc):
    with pytest.raises(api.ApiError) as e:
        svc.point(VALID, "wkt")
    assert e.value.code == 4000


def test_maximum_nodes_4003_in_strict_mode(svc):
    """Oversized lines get 4003, checked before the two-vertex guard
    (reference test_api_line.py:90-97 expects 4003 for a 2001-node
    polyline)."""
    coords = [[VALID[0] + i * 1e-6, VALID[1]] for i in range(api.MAXIMUM_NODES + 1)]
    with pytest.raises(api.ApiError) as e:
        svc.line({"type": "LineString", "coordinates": coords}, "geojson")
    assert e.value.code == 4003


def test_unknown_dataset_4000(svc):
    with pytest.raises(api.ApiError) as e:
        svc.point(VALID, "point", dataset="aster")
    assert e.value.code == 4000
    with pytest.raises(api.ApiError) as e:
        svc.line({"type": "LineString",
                  "coordinates": [list(VALID), [VALID[0] + 1e-4, VALID[1]]]},
                 "geojson", dataset="nope")
    assert e.value.code == 4000


def test_srtm_dataset_accepted(svc):
    out = svc.point(VALID, "point", dataset="srtm")
    assert out["geometry"]["type"] == "Point"


def test_content_type_4001():
    """V2: Content-Type must exist and contain application/json
    (reference validator.py:42-49)."""
    for bad in (None, "", "text/plain", "application/xml"):
        with pytest.raises(api.ApiError) as e:
            api.validate_content_type(bad)
        assert e.value.code == 4001
    api.validate_content_type("application/json")
    api.validate_content_type("application/json; charset=utf-8")
