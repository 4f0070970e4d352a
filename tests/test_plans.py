"""Physical-plan regression tests: the shapes that make this engine
scale must not silently regress (SURVEY.md §4).  Assertions use the
executedPlan string via the tests/plan_checks.py helpers.
"""

import pandas as pd
import pytest

from openelevationservice_spark.operators.point import point_elevation
from openelevationservice_spark.operators.line import (
    densify_lines,
    line_vertices_elevation,
)
from openelevationservice_spark.operators.polygon import polygon_pixels
from openelevationservice_spark.operators import dedup
from openelevationservice_spark.sources import fixtures as fx
from tests import plan_checks as pc
from tests.inputs import make_images_pdf, make_points_pdf


@pytest.fixture(scope="module")
def world():
    return fx.World(nx=2, ny=2)


@pytest.fixture(scope="module")
def images(spark, world):
    df = spark.createDataFrame(make_images_pdf(world), schema=fx.IMAGES_SCHEMA)
    df.persist()
    df.count()
    return df


@pytest.fixture(scope="module")
def pts(spark, world):
    return spark.createDataFrame(make_points_pdf(world, n=50))


def test_point_plan_is_broadcast_equi_join(spark, images, pts):
    df = point_elevation(pts, images)
    pc.assert_broadcast_join(df)
    pc.assert_no_cartesian(df)
    plan = pc.explain_str(df)
    # the gather is JVM element_at — no Python stage after the join
    after_join = plan[plan.index("BroadcastHashJoin"):]
    assert "ArrowEvalPython" not in after_join
    assert "BatchEvalPython" not in plan   # no row-at-a-time python anywhere


def test_densify_plan_has_no_exchange(spark):
    lines = spark.createDataFrame(pd.DataFrame({
        "line_id": [1], "x1": [13.2], "y1": [38.2], "x2": [13.21], "y2": [38.21]}))
    plan = pc.explain_str(densify_lines(lines))
    assert "Exchange" not in plan          # densify is shuffle-free
    assert "MapIn" not in plan             # and pure JVM: no Arrow kernel
    assert "EvalPython" not in plan


def test_line_plan_shape(spark, images, pts):
    lines = spark.createDataFrame(pd.DataFrame({
        "line_id": [1], "x1": [13.2], "y1": [38.2], "x2": [13.21], "y2": [38.21]}))
    df = line_vertices_elevation(lines, images)
    pc.assert_broadcast_join(df)
    pc.assert_no_cartesian(df)


def test_polygon_plan_is_equi_join(spark, images):
    polys = spark.createDataFrame(
        pd.DataFrame({"poly_id": [0], "ring": [
            [{"lon": 13.2, "lat": 38.2}, {"lon": 13.21, "lat": 38.2},
             {"lon": 13.21, "lat": 38.21}, {"lon": 13.2, "lat": 38.21},
             {"lon": 13.2, "lat": 38.2}]]}),
        schema="poly_id long, ring array<struct<lon:double,lat:double>>")
    df = polygon_pixels(polys, images)
    pc.assert_no_cartesian(df)


def test_lsh_pair_join_is_equi_not_cross(spark):
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["a b c d e", "a b c d e", "x y z w v"]}))
    df = dedup.lsh_candidate_pairs(docs)
    pc.assert_no_cartesian(df)
    df2 = dedup.simhash_near_pairs(docs, max_hamming=1)
    pc.assert_no_cartesian(df2)


def test_line_default_path_is_pure_jvm(spark, images):
    """The default line replay (explode densify + broadcast join + JVM
    gather) must contain NO Python stage at all — densify, join, and
    pixel gather are whole-stage codegen."""
    lines = spark.createDataFrame(pd.DataFrame({
        "line_id": [1], "x1": [13.2], "y1": [38.2], "x2": [13.21], "y2": [38.21]}))
    df = line_vertices_elevation(lines, images)
    plan = pc.explain_str(df)
    # the pixel-index build decodes tiles (one MapInArrow on the
    # broadcast side); the probe-side pipeline itself must be JVM-only
    probe = plan[plan.index("BroadcastHashJoin"):] + plan[:plan.index("Generate")]
    assert "ArrowEvalPython" not in probe
    assert "BatchEvalPython" not in plan


def test_line_elevation_default_gather_is_jvm(spark, images):
    """The line vertices take the scale-safe JVM gather by default.
    Exactly one MapInArrow node (build-side tile decode; formatted
    explain prints each node twice — tree + detail); a Python gather
    would add a probe-side node."""
    lines = spark.createDataFrame(pd.DataFrame({
        "line_id": [1], "x1": [13.2], "y1": [38.2], "x2": [13.21], "y2": [38.21]}))
    plan = pc.explain_str(line_vertices_elevation(lines, images))
    assert plan.count("MapInArrow") == 2
    assert "BatchEvalPython" not in plan


def test_polygon_runs_plan_generates_rows_in_jvm(spark, images):
    """Run-encoded polygon dump: exactly one probe-side MapInArrow (the
    run kernel); pixel rows come from a JVM Generate (posexplode)."""
    polys = spark.createDataFrame(
        pd.DataFrame({"poly_id": [0], "ring": [
            [{"lon": 13.2, "lat": 38.2}, {"lon": 13.21, "lat": 38.2},
             {"lon": 13.21, "lat": 38.21}, {"lon": 13.2, "lat": 38.21},
             {"lon": 13.2, "lat": 38.2}]]}),
        schema="poly_id long, ring array<struct<lon:double,lat:double>>")
    df = polygon_pixels(polys, images)
    plan = pc.explain_str(df)
    assert "Generate" in plan and "posexplode" in plan
    # two MapInArrow total: tile decode (build side) + run kernel
    assert plan.count("MapInArrow") == 2
    assert "BatchEvalPython" not in plan


def test_dissolve_exchange_partition_count_is_explicit(spark, images, world):
    """The dissolve's (poly_id, height_base) exchange must carry an
    EXPLICIT partition count (2 per core, r6 sweep): AQE's byte-based
    coalescing otherwise merges the small-by-bytes band partitions into
    a straggler tail for the python kernel (round-4 A/B: 14.4-17.4 s vs
    17.0-47.8 s at local[32]; r6 multiplier sweep 4x/2x/1x =
    5.90/5.19/8.56 s)."""
    import re

    from openelevationservice_spark.operators.color import polygon_color_invariants

    polys = spark.createDataFrame(
        pd.DataFrame({
            "poly_id": [0],
            "ring": [[{"lon": world.min_x + dx, "lat": world.max_y - dy}
                      for dx, dy in ((0.01, 0.01), (0.4, 0.01), (0.4, 0.4),
                                     (0.01, 0.4), (0.01, 0.01))]],
        }),
        schema="poly_id long, ring array<struct<lon:double,lat:double>>",
    )
    plan = pc.explain_str(polygon_color_invariants(polys, images))
    want = spark.sparkContext.defaultParallelism * 2
    m = re.search(r"hashpartitioning\(poly_id[^,]*, height_base[^,]*, (\d+)\)", plan)
    assert m, "dissolve band exchange missing from plan"
    assert int(m.group(1)) == want, (m.group(0), want)


def test_polygon_operators_share_one_rasterizer(spark, images, world):
    """The pixel dump and the band dissolve read ONE run table: each
    optimized plan holds exactly one ``_pixel_runs`` kernel (the
    dissolve's stats and band split both read its leased cache), and
    the dissolve's stats are the codegen'd ``array_min``/``array_max``,
    with no interpreted ``aggregate`` lambda left in the plan."""
    from openelevationservice_spark.operators.color import polygon_color_invariants

    polys = spark.createDataFrame(
        pd.DataFrame({
            "poly_id": [0],
            "ring": [[{"lon": world.min_x + dx, "lat": world.max_y - dy}
                      for dx, dy in ((0.01, 0.01), (0.4, 0.01), (0.4, 0.4),
                                     (0.01, 0.4), (0.01, 0.01))]],
        }),
        schema="poly_id long, ring array<struct<lon:double,lat:double>>",
    )
    assert pc.kernel_nodes(polygon_pixels(polys, images), "_pixel_runs") == 1
    bands = polygon_color_invariants(polys, images)
    assert pc.kernel_nodes(bands, "_pixel_runs") == 1
    plan = bands._jdf.queryExecution().optimizedPlan().toString()
    assert "array_min(" in plan and "array_max(" in plan
    assert "aggregate(" not in plan
