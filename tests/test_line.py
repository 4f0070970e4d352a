import math

import numpy as np
import pandas as pd
import pytest

from openelevationservice_spark.constants import PX, TILE_DEG, WORLD_X0, WORLD_Y0
from openelevationservice_spark.operators.line import densify_lines, line_vertices_elevation
from openelevationservice_spark.sources import fixtures as fx
from tests import plan_checks as pc
from tests.inputs import REF_LINE, make_images_pdf, make_lines_pdf
from tests.references import assert_densify_matches_reference


def densify_oracle(x1, y1, x2, y2):
    """Reference ST_LineInterpolatePoints semantics in plain Python."""
    llen = math.sqrt((x2 - x1) ** 2 + (y2 - y1) ** 2)
    pts = [(x1, y1), (x2, y2)]
    if llen != 0.0:
        frac = min(1.0, PX / llen)
        n = int(math.floor(1.0 / frac))
        for k in range(1, n + 1):
            t = k * frac
            if t >= 1.0:
                pts.append((x2, y2))
            else:
                pts.append((x1 + t * (x2 - x1), y1 + t * (y2 - y1)))
    uniq = sorted(set(pts), key=lambda p: (math.sqrt((p[0] - x1) ** 2 + (p[1] - y1) ** 2), p[0], p[1]))
    return uniq


def z_at(x, y, world):
    tx = math.floor((x - WORLD_X0) / TILE_DEG)
    ty = math.floor((WORLD_Y0 - y) / TILE_DEG)
    if not (world.tx0 <= tx < world.tx0 + world.nx and world.ty0 <= ty < world.ty0 + world.ny):
        return None
    ul_x = WORLD_X0 + tx * TILE_DEG
    ul_y = WORLD_Y0 - ty * TILE_DEG
    ix = math.floor((x - ul_x) / PX)
    iy = math.floor((ul_y - y) / PX)
    return int(fx.z_field(np.array([tx * 50 + ix]), np.array([ty * 50 + iy]))[0])


@pytest.fixture(scope="module")
def world():
    return fx.World(nx=4, ny=4)


@pytest.fixture(scope="module")
def images(spark, world):
    df = spark.createDataFrame(make_images_pdf(world), schema=fx.IMAGES_SCHEMA)
    df.persist()
    df.count()
    return df


def test_densify_matches_oracle(spark, world):
    pdf = make_lines_pdf(world, n=40)
    got = (
        densify_lines(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values(["line_id", "x", "y"])
    )
    for _, r in pdf.iterrows():
        want = densify_oracle(r.x1, r.y1, r.x2, r.y2)
        sub = got[got.line_id == r.line_id]
        assert len(sub) == len(want), f"line {r.line_id}"
        got_set = set(zip(sub.x, sub.y))
        assert got_set == set(want)


def test_zero_length_line_degenerates_to_point(spark, world, images):
    """A zero-length line densifies to its one point (the request surface
    then formats it as a POINT, reference ``views.py:63-68``)."""
    pdf = pd.DataFrame(
        {"line_id": [0], "x1": [REF_LINE[0][0]], "y1": [REF_LINE[0][1]],
         "x2": [REF_LINE[0][0]], "y2": [REF_LINE[0][1]]}
    )
    out = line_vertices_elevation(spark.createDataFrame(pdf),
                                  spark.createDataFrame(make_images_pdf(fx.DEFAULT_WORLD),
                                                        schema=fx.IMAGES_SCHEMA)).toPandas()
    assert len(out) == 1
    assert out["seq"][0] == 1
    assert (out["x"][0], out["y"][0]) == REF_LINE[0]


def test_reference_golden_line_vertex_count(spark):
    # reference line tests/test_api_line.py:10-11 is shorter than one pixel
    # → frac = 1 → the single interpolated point IS endpoint 2, deduped by
    # DISTINCT → exactly 2 vertices (the golden encoded output
    # 'u`rgFswjpA_aMKD?' holds 2 coordinate triples)
    (ax, ay), (bx, by) = REF_LINE
    want = densify_oracle(ax, ay, bx, by)
    assert len(want) == 2
    pdf = pd.DataFrame({"line_id": [0], "x1": [ax], "y1": [ay], "x2": [bx], "y2": [by]})
    imgs = spark.createDataFrame(make_images_pdf(fx.DEFAULT_WORLD), schema=fx.IMAGES_SCHEMA)
    out = line_vertices_elevation(spark.createDataFrame(pdf), imgs).toPandas()
    assert len(out) == 2
    assert list(out.sort_values("seq")["seq"]) == [1, 2]


@pytest.mark.parametrize("index_join", ["broadcast", "shuffle"], indirect=True)
def test_line_vertices_match_oracle(spark, world, images, index_join):
    """Same vertices under the planner's broadcast join and, with the
    threshold at -1, its shuffle join."""
    pdf = make_lines_pdf(world, n=30)
    df = line_vertices_elevation(spark.createDataFrame(pdf), images)
    out = df.toPandas().sort_values(["line_id", "seq"])
    pc.assert_join_regime(df, index_join)
    for _, r in pdf.iterrows():
        want_pts = densify_oracle(r.x1, r.y1, r.x2, r.y2)
        want = [(p, z_at(p[0], p[1], world)) for p in want_pts]
        want = [(p, z) for p, z in want if z is not None]  # inner join drops
        sub = out[out.line_id == r.line_id]
        assert len(sub) == len(want), f"line {r.line_id}"
        for (wp, wz), (_, g) in zip(want, sub.iterrows()):
            assert g.x == wp[0] and g.y == wp[1]
            assert g.z == wz


def test_densify_equals_numpy_reference(spark):
    """The whole-stage-codegen densify matches the numpy reference
    (tests/references.py) bit-for-bit on a mixed batch: normal, short,
    axis-aligned and zero-length lines."""
    pdf = pd.DataFrame({
        "line_id": [1, 2, 3, 4, 5],
        "x1": [13.33, 13.33, 13.30, 13.31, 13.34],
        "y1": [38.11, 38.11, 38.10, 38.12, 38.13],
        "x2": [13.34, 13.33, 13.30, 13.3101, 13.34001],
        "y2": [38.12, 38.11, 38.14, 38.12, 38.13],
    })
    got = densify_lines(spark.createDataFrame(pdf)).toPandas()
    assert len(got) > 5
    assert_densify_matches_reference(got, pdf)
