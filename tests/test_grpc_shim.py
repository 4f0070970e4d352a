"""gRPC servicer parity (S7): proto-shaped responses of the in-process
shim match the reference servicer's semantics (grpc_server.py:30-141) —
the same expectations the reference exercises through
test_api_point.py / test_api_line.py, request-shaped as the proto
messages."""

import pytest

from openelevationservice_spark import api
from openelevationservice_spark.constants import TILE_DEG
from openelevationservice_spark.grpc_shim import GrpcAbort, OpenElevationServicer
from openelevationservice_spark.sources import fixtures as fx
from tests.inputs import make_images_pdf

VALID = [13.331302, 38.108433]                    # reference test fixture
BREMEN = [8.807514373051843, 53.0756845615249]    # out-of-coverage


@pytest.fixture(scope="module")
def world():
    return fx.World(nx=4, ny=4)


@pytest.fixture(scope="module")
def servicer(spark, world):
    images = spark.createDataFrame(
        make_images_pdf(world), schema=fx.IMAGES_SCHEMA
    )
    images.persist()
    images.count()
    return OpenElevationServicer(api.ElevationService(spark, images))


def test_point_elevation(servicer):
    resp = servicer.PointElevation({"lon": VALID[0], "lat": VALID[1]})
    assert resp == {"value": 44}                  # deterministic field value


def test_point_out_of_coverage_aborts_internal(servicer):
    with pytest.raises(GrpcAbort) as e:
        servicer.PointElevation({"lon": BREMEN[0], "lat": BREMEN[1]})
    assert e.value.status_code == "INTERNAL"
    assert "outside the bounds" in e.value.details


def test_line_elevation(servicer, world):
    start = {"lon": world.min_x + 0.2 * TILE_DEG, "lat": world.max_y - 0.2 * TILE_DEG}
    end = {"lon": world.min_x + 0.8 * TILE_DEG, "lat": world.max_y - 0.7 * TILE_DEG}
    resp = servicer.LineElevation({"start": start, "end": end})
    pts = resp["points"]
    assert len(pts) > 2                           # densified, not just endpoints
    assert pts[0]["lon"] == start["lon"] and pts[0]["lat"] == start["lat"]
    assert pts[-1]["lon"] == end["lon"] and pts[-1]["lat"] == end["lat"]
    assert all(isinstance(p["elevation"], int) for p in pts)


def test_line_zero_length_collapses_to_single_point(servicer, world):
    p = {"lon": world.min_x + 0.3 * TILE_DEG, "lat": world.max_y - 0.3 * TILE_DEG}
    resp = servicer.LineElevation({"start": p, "end": p})
    assert len(resp["points"]) == 1               # F6 fixup → single vertex


def test_area_points_elevation(servicer, world):
    req = {
        "bottomLeft": {"lon": world.min_x + 0.1 * TILE_DEG,
                       "lat": world.max_y - 0.5 * TILE_DEG},
        "topRight": {"lon": world.min_x + 0.5 * TILE_DEG,
                     "lat": world.max_y - 0.1 * TILE_DEG},
    }
    resp = servicer.AreaPointsElevation(req)
    pts = resp["points"]
    assert len(pts) > 100                         # a real pixel dump
    for p in pts[:50]:
        assert req["bottomLeft"]["lon"] <= p["lon"] <= req["topRight"]["lon"]
        assert req["bottomLeft"]["lat"] <= p["lat"] <= req["topRight"]["lat"]
        assert isinstance(p["elevation"], int)


def test_area_ranges_elevation(servicer, world):
    req = {
        "bottomLeft": {"lon": world.min_x + 0.1 * TILE_DEG,
                       "lat": world.max_y - 0.6 * TILE_DEG},
        "topRight": {"lon": world.min_x + 0.6 * TILE_DEG,
                     "lat": world.max_y - 0.1 * TILE_DEG},
    }
    resp = servicer.AreaRangesElevation(req)
    assert resp["unions"], "dissolve produced no bands"
    assert resp["minElevation"] <= resp["avgElevation"] <= resp["maxElevation"]
    for u in resp["unions"]:
        assert resp["minElevation"] <= u["baseElevation"] <= resp["maxElevation"]
        assert u["area"]["boundaries"], "union without rings"
        ring = u["area"]["boundaries"][0]["points"]
        assert len(ring) >= 4                     # closed rectangle at least
        assert ring[0] == ring[-1]                # rings are closed


def test_area_out_of_coverage_aborts(servicer):
    req = {"bottomLeft": {"lon": 100.0, "lat": 10.0},
           "topRight": {"lon": 101.0, "lat": 11.0}}
    with pytest.raises(GrpcAbort):
        servicer.AreaRangesElevation(req)


def test_area_ranges_single_pixel_dump(servicer, world, monkeypatch):
    """AreaRangesElevation rasterizes the polygon ONCE per RPC: the
    persisted run table feeds both the stats collect and the dissolve
    (the reference likewise fetches pixels once, querybuilder.py:77-88).
    Every run-table build is counted, the shim's and any the dissolve
    operator might start on its own."""
    import openelevationservice_spark.grpc_shim as shim
    import openelevationservice_spark.operators.color as color

    calls = []
    orig = shim.polygon_pixel_runs

    def counting(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(shim, "polygon_pixel_runs", counting)
    monkeypatch.setattr(color, "polygon_pixel_runs", counting)
    req = {
        "bottomLeft": {"lon": world.min_x + 0.1 * TILE_DEG,
                       "lat": world.max_y - 0.6 * TILE_DEG},
        "topRight": {"lon": world.min_x + 0.6 * TILE_DEG,
                     "lat": world.max_y - 0.1 * TILE_DEG},
    }
    resp = servicer.AreaRangesElevation(req)
    assert resp["unions"]
    assert len(calls) == 1


def test_area_ranges_releases_its_run_table(servicer, world, spark):
    """AreaRangesElevation persists its run table for the RPC only: the
    count of persistent RDDs is unchanged after an answered RPC and
    after an out-of-coverage RPC that aborts."""
    def n_persistent():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = n_persistent()
    servicer.AreaRangesElevation({
        "bottomLeft": {"lon": world.min_x + 0.2 * TILE_DEG,
                       "lat": world.max_y - 0.5 * TILE_DEG},
        "topRight": {"lon": world.min_x + 0.5 * TILE_DEG,
                     "lat": world.max_y - 0.2 * TILE_DEG},
    })
    assert n_persistent() == before
    with pytest.raises(GrpcAbort):
        servicer.AreaRangesElevation({"bottomLeft": {"lon": 100.0, "lat": 10.0},
                                      "topRight": {"lon": 101.0, "lat": 11.0}})
    assert n_persistent() == before


def test_grpc_serve_over_local_socket(servicer, world):
    """Feature-gated wire transport: the four RPCs served over a real
    local socket (reference grpc_serve, grpc_server.py:143-158).
    Skipped where grpcio is not installed (this sandbox) — the servicer
    computation is covered by the tests above either way."""
    grpc = pytest.importorskip("grpc")
    import json

    from openelevationservice_spark.grpc_shim import grpc_serve

    server, port = grpc_serve(servicer.service)
    try:
        with grpc.insecure_channel(f"localhost:{port}") as chan:
            call = chan.unary_unary("/propagamap.OpenElevation/PointElevation")
            resp = json.loads(call(json.dumps(
                {"lon": VALID[0], "lat": VALID[1]}).encode()))
            assert resp == {"value": 44}
            with pytest.raises(grpc.RpcError) as e:
                call(json.dumps({"lon": BREMEN[0], "lat": BREMEN[1]}).encode())
            assert e.value.code() == grpc.StatusCode.INTERNAL
    finally:
        server.stop(None)
