import math

import numpy as np
import pandas as pd
import pytest

from openelevationservice_spark.constants import NODATA, NUM_RANGES, PX, TILE_DEG, WORLD_X0, WORLD_Y0
from openelevationservice_spark.operators.color import feature_collection, polygon_color_features
from openelevationservice_spark.operators.polygon import polygon_pixels
from openelevationservice_spark.sources import fixtures as fx
from tests import plan_checks as pc
from tests.inputs import make_images_pdf
from tests.references import polygon_stats, with_height_base


def bbox_ring(x0, y0, x1, y1):
    return [
        {"lon": x0, "lat": y0}, {"lon": x1, "lat": y0},
        {"lon": x1, "lat": y1}, {"lon": x0, "lat": y1},
        {"lon": x0, "lat": y0},
    ]


def oracle_bbox_pixels(x0, y0, x1, y1, world):
    """All pixels with centroid covered by the bbox and z != NODATA."""
    rows = []
    gx0 = world.tx0 * 50
    gy0 = world.ty0 * 50
    for gy in range(gy0, gy0 + world.ny * 50):
        cy = WORLD_Y0 - (gy + 0.5) * PX
        if not (y0 <= cy <= y1):
            continue
        for gx in range(gx0, gx0 + world.nx * 50):
            cx = WORLD_X0 + (gx + 0.5) * PX
            if not (x0 <= cx <= x1):
                continue
            z = int(fx.z_field(np.array([gx]), np.array([gy]))[0])
            if z != NODATA:
                rows.append((gx, gy, cx, cy, z))
    return rows


@pytest.fixture(scope="module")
def world():
    return fx.World(nx=3, ny=3)


@pytest.fixture(scope="module")
def images(spark, world):
    df = spark.createDataFrame(make_images_pdf(world), schema=fx.IMAGES_SCHEMA)
    df.persist()
    df.count()
    return df


def test_polygon_pixels_match_oracle(spark, world, images):
    # bbox spanning 4 tiles, like the gRPC AreaPointsElevation bbox requests
    x0 = world.min_x + 0.6 * TILE_DEG
    y0 = world.max_y - 1.7 * TILE_DEG
    x1 = world.min_x + 1.8 * TILE_DEG
    y1 = world.max_y - 0.4 * TILE_DEG
    polys = spark.createDataFrame(
        pd.DataFrame({"poly_id": [0], "ring": [bbox_ring(x0, y0, x1, y1)]}),
        schema="poly_id long, ring array<struct<lon:double, lat:double>>",
    )
    got = polygon_pixels(polys, images).toPandas().sort_values(["gx", "gy"])
    want = sorted(oracle_bbox_pixels(x0, y0, x1, y1, world))
    assert len(got) == len(want)
    assert list(zip(got.gx, got.gy, got.z)) == [(g[0], g[1], g[4]) for g in want]


def test_triangle_polygon_subset_of_bbox(spark, world, images):
    # non-rectangular ring exercises the real PIP path
    x0 = world.min_x + 0.1 * TILE_DEG
    y0 = world.max_y - 1.0 * TILE_DEG
    tri = [
        {"lon": x0, "lat": y0},
        {"lon": x0 + TILE_DEG, "lat": y0},
        {"lon": x0, "lat": y0 + TILE_DEG},
        {"lon": x0, "lat": y0},
    ]
    schema = "poly_id long, ring array<struct<lon:double, lat:double>>"
    tri_px = polygon_pixels(
        spark.createDataFrame(pd.DataFrame({"poly_id": [0], "ring": [tri]}), schema=schema),
        images).toPandas()
    box_px = polygon_pixels(
        spark.createDataFrame(
            pd.DataFrame({"poly_id": [0], "ring": [bbox_ring(x0, y0, x0 + TILE_DEG, y0 + TILE_DEG)]}),
            schema=schema),
        images).toPandas()
    tri_set = set(zip(tri_px.gx, tri_px.gy))
    box_set = set(zip(box_px.gx, box_px.gy))
    assert tri_set < box_set
    assert 0.4 < len(tri_set) / len(box_set) < 0.6  # roughly half the box


def test_empty_polygon_yields_no_rows(spark, world, images):
    # fully outside coverage → reference raises 404 (querybuilder.py:80-81);
    # engine equivalent: empty result
    polys = spark.createDataFrame(
        pd.DataFrame({"poly_id": [0], "ring": [bbox_ring(world.max_x + 1, 10, world.max_x + 2, 11)]}),
        schema="poly_id long, ring array<struct<lon:double, lat:double>>",
    )
    assert polygon_pixels(polys, images).count() == 0


def test_band_arithmetic_matches_reference(spark, world, images):
    x0 = world.min_x + 0.3 * TILE_DEG
    y0 = world.max_y - 1.5 * TILE_DEG
    schema = "poly_id long, ring array<struct<lon:double, lat:double>>"
    polys = spark.createDataFrame(
        pd.DataFrame({"poly_id": [0], "ring": [bbox_ring(x0, y0, x0 + TILE_DEG, y0 + TILE_DEG)]}),
        schema=schema)
    px_df = polygon_pixels(polys, images)
    stats = polygon_stats(px_df).toPandas()
    banded = with_height_base(px_df, polygon_stats(px_df)).toPandas()

    mn, mx = int(stats.min_z[0]), int(stats.max_z[0])
    range_div = (mx - mn + 1) / NUM_RANGES
    for _, r in banded.sample(n=min(200, len(banded)), random_state=0).iterrows():
        color_range = math.floor((r.z - mn) / range_div)
        assert r.height_base == math.ceil(color_range * range_div + mn)


def test_color_features_cover_all_pixels(spark, world, images):
    x0 = world.min_x + 0.3 * TILE_DEG
    y0 = world.max_y - 1.5 * TILE_DEG
    schema = "poly_id long, ring array<struct<lon:double, lat:double>>"
    polys = spark.createDataFrame(
        pd.DataFrame({"poly_id": [0], "ring": [bbox_ring(x0, y0, x0 + 0.7 * TILE_DEG, y0 + 0.7 * TILE_DEG)]}),
        schema=schema)
    feats = polygon_color_features(polys, images).toPandas()
    n_px = polygon_pixels(polys, images).count()
    assert feats["area_px"].sum() == n_px  # dissolve is exact: areas add up
    fc = feature_collection(feats)
    assert fc["type"] == "FeatureCollection"
    assert all(f["properties"]["heightBase"] is not None for f in fc["features"])
    # every band present in pixels appears as >=1 feature
    banded = with_height_base(polygon_pixels(polys, images),
                              polygon_stats(polygon_pixels(polys, images))).toPandas()
    assert set(feats.height_base) == set(banded.height_base)


def centroid_mask_pixels(poly_id, ring, world):
    """numpy reference of the pixel dump: every world pixel whose
    centroid the ring covers (boundary inclusive) and whose
    ``fixtures.z_field`` value is not NODATA, with the tile-caption
    centroid arithmetic (ul + (i + 0.5)·PX)."""
    from openelevationservice_spark.constants import TILE_PX
    from openelevationservice_spark.functions.geometry import points_in_ring
    from tests.references import ring_to_arrays

    rx, ry = ring_to_arrays(ring)
    i = np.arange(TILE_PX)
    parts = []
    for ty in range(world.ty0, world.ty0 + world.ny):
        for tx in range(world.tx0, world.tx0 + world.nx):
            cx = (WORLD_X0 + tx * TILE_DEG) + (i + 0.5) * PX
            cy = (WORLD_Y0 - ty * TILE_DEG) - (i + 0.5) * PX
            CX, CY = np.meshgrid(cx, cy)
            GX, GY = np.meshgrid(tx * TILE_PX + i, ty * TILE_PX + i)
            z = fx.z_field(GX, GY)
            m = (points_in_ring(CX, CY, rx, ry).reshape(CX.shape)
                 & (z != NODATA))
            parts.append(pd.DataFrame({
                "poly_id": poly_id, "gx": GX[m], "gy": GY[m],
                "z": z[m].astype(np.int64), "x": CX[m], "y": CY[m],
                "image_id": f"tile_{tx:05d}_{ty:05d}"}))
    return pd.concat(parts, ignore_index=True)


def test_pixel_runs_equal_pixel_rows(spark, world, images):
    """The run-length-encoded pixel dump (rect fast path, general PIP,
    scanline runs, JVM posexplode, JVM coordinates) equals a numpy
    centroid-in-ring mask over the fixture field — row for row and
    bit for bit, on a rectangle (rect fast path) and a triangle (the
    general PIP path)."""
    x0 = world.min_x + 0.1 * TILE_DEG
    y0 = world.max_y - 1.0 * TILE_DEG
    tri = [
        {"lon": x0, "lat": y0},
        {"lon": x0 + TILE_DEG, "lat": y0},
        {"lon": x0, "lat": y0 + TILE_DEG},
        {"lon": x0, "lat": y0},
    ]
    rect = bbox_ring(x0, y0, x0 + 0.7 * TILE_DEG, y0 + 0.9 * TILE_DEG)
    schema = "poly_id long, ring array<struct<lon:double, lat:double>>"
    polys = spark.createDataFrame(
        pd.DataFrame({"poly_id": [0, 1], "ring": [tri, rect]}), schema=schema)
    key = ["poly_id", "gx", "gy"]
    cols = key + ["z", "x", "y", "image_id"]
    a = (polygon_pixels(polys, images).select(cols)
         .toPandas().sort_values(key).reset_index(drop=True))
    b = (pd.concat([centroid_mask_pixels(0, tri, world),
                    centroid_mask_pixels(1, rect, world)])
         .sort_values(key).reset_index(drop=True))
    assert len(a) == len(b) > 100
    for c in cols:
        assert (a[c].to_numpy() == b[c].to_numpy()).all(), c


def test_polygon_pixels_shuffle_join_matches_oracle(spark, world, images, no_broadcast):
    """With the broadcast threshold at -1 the planner shuffles both
    sides of the polygon × tile join, and the pixel dump still equals
    the centroid-in-ring mask."""
    x0 = world.min_x + 0.6 * TILE_DEG
    y0 = world.max_y - 1.7 * TILE_DEG
    ring = bbox_ring(x0, y0, x0 + 1.2 * TILE_DEG, y0 + 1.3 * TILE_DEG)
    polys = spark.createDataFrame(
        pd.DataFrame({"poly_id": [0], "ring": [ring]}),
        schema="poly_id long, ring array<struct<lon:double, lat:double>>")
    key = ["poly_id", "gx", "gy"]
    cols = key + ["z", "x", "y", "image_id"]
    df = polygon_pixels(polys, images).select(cols)
    a = df.toPandas().sort_values(key).reset_index(drop=True)
    pc.assert_join_regime(df, "shuffle")
    b = centroid_mask_pixels(0, ring, world).sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) > 100
    for c in cols:
        assert (a[c].to_numpy() == b[c].to_numpy()).all(), c


def test_is_axis_rect_detector():
    """The batch detector on every ring at once agrees with the one-ring
    reference, case by case, and gives the rectangles their bboxes."""
    from openelevationservice_spark.operators.polygon import _axis_rects
    from tests.references import is_axis_rect

    rect = (np.array([0.0, 2.0, 2.0, 0.0, 0.0]), np.array([0.0, 0.0, 3.0, 3.0, 0.0]))
    tri = (np.array([0.0, 2.0, 0.0, 0.0]), np.array([0.0, 0.0, 3.0, 0.0]))
    # degenerate (zero-width) rectangle: fast path is still exact there
    # (points_in_ring's even-odd crossings cancel, leaving on_edge ==
    # the boundary-inclusive interval test), so detecting it is fine
    line = (np.array([0.0, 0.0, 0.0, 0.0, 0.0]), np.array([0.0, 0.0, 3.0, 3.0, 0.0]))
    # axis-aligned hexagon (L-shape) → not a rect
    ell = (np.array([0.0, 2.0, 2.0, 1.0, 1.0, 0.0, 0.0]),
           np.array([0.0, 0.0, 1.0, 1.0, 2.0, 2.0, 0.0]))
    # the rectangle given unclosed: closing it makes the same ring
    open_rect = (rect[0][:4], rect[1][:4])
    # 5 points, axis-parallel edges, but one bbox corner missing (a
    # spike back along an edge) → not a rect
    spike = (np.array([0.0, 2.0, 2.0, 2.0, 0.0]), np.array([0.0, 0.0, 3.0, 0.0, 0.0]))
    rings = [rect, tri, line, ell, open_rect, spike]
    lens = np.array([len(x) for x, _ in rings])
    ends = np.cumsum(lens)
    is_rect, bbox = _axis_rects(np.concatenate([x for x, _ in rings]),
                                np.concatenate([y for _, y in rings]), ends - lens, ends)
    assert is_rect.tolist() == [True, False, True, False, True, False]
    assert is_rect.tolist() == [is_axis_rect(*rect), is_axis_rect(*tri),
                                is_axis_rect(*line), is_axis_rect(*ell), True,
                                is_axis_rect(*spike)]
    assert bbox[[0, 2, 4]].tolist() == [[0.0, 2.0, 0.0, 3.0], [0.0, 0.0, 0.0, 3.0],
                                        [0.0, 2.0, 0.0, 3.0]]


def test_dissolve_bands_of_one_polygon_spread_across_tasks(spark, world, images):
    """Scale shape of the dissolve (VERDICT r2 next-round #1): the
    kernel partitions by (poly_id, height_base), NOT poly_id alone, so
    a continental polygon's bands land in DIFFERENT tasks — peak task
    memory ∝ largest band, and no straggler-by-construction."""
    from pyspark.sql import functions as F

    x0 = world.min_x + 0.1 * TILE_DEG
    y0 = world.max_y - 2.5 * TILE_DEG
    polys = spark.createDataFrame(
        pd.DataFrame({"poly_id": [7], "ring": [bbox_ring(x0, y0, x0 + 2 * TILE_DEG, y0 + 2 * TILE_DEG)]}),
        schema="poly_id long, ring array<struct<lon:double, lat:double>>",
    )
    px = polygon_pixels(polys, images)
    banded = with_height_base(px, polygon_stats(px))
    # AQE rightly coalesces this toy volume into one partition; disable
    # coalescing to observe the hash spread that holds at real volume
    saved = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        parts = (
            banded.select("poly_id", "height_base")
            .repartition("poly_id", "height_base")   # same shape as the kernel
            .select(F.spark_partition_id().alias("pid"), "height_base")
            .distinct()
            .toPandas()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", saved)
    assert parts["height_base"].nunique() > 1          # polygon has many bands
    assert parts["pid"].nunique() > 1                  # ... in many tasks
    # and each band stays whole (one task per band)
    assert parts.groupby("height_base")["pid"].nunique().max() == 1


def test_runs_stats_equal_pixel_stats(spark, world, images):
    """run_stats (JVM aggregates over the run table's ``zs``) must be
    value-identical to polygon_stats over the exploded pixel rows —
    including the double avg (exact integer sum / count in both)."""
    from openelevationservice_spark.operators.polygon import (
        polygon_pixel_runs, run_stats,
    )

    x0 = world.min_x + 0.1 * TILE_DEG
    y0 = world.max_y - 1.0 * TILE_DEG
    tri = [
        {"lon": x0, "lat": y0},
        {"lon": x0 + TILE_DEG, "lat": y0},
        {"lon": x0, "lat": y0 + TILE_DEG},
        {"lon": x0, "lat": y0},
    ]
    polys = spark.createDataFrame(
        pd.DataFrame({"poly_id": [0, 1],
                      "ring": [tri, bbox_ring(x0, y0, x0 + 0.7 * TILE_DEG,
                                              y0 + 0.9 * TILE_DEG)]}),
        schema="poly_id long, ring array<struct<lon:double, lat:double>>")
    a = (run_stats(polygon_pixel_runs(polys, images))
         .toPandas().sort_values("poly_id").reset_index(drop=True))
    b = (polygon_stats(polygon_pixels(polys, images))
         .toPandas().sort_values("poly_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(a[list(b.columns)], b, check_dtype=False)
    assert (a["avg_z"].to_numpy() == b["avg_z"].to_numpy()).all()


def reference_bands(px: pd.DataFrame, num_ranges: int = NUM_RANGES):
    """{(poly_id, height_base): (gx, gy)} from pixel rows, with the
    reference band arithmetic (querybuilder.py:56-102) in numpy."""
    bands = {}
    for pid, g in px.groupby("poly_id"):
        z = g["z"].to_numpy(np.int64)
        mn, mx = int(z.min()), int(z.max())
        range_div = (mx - mn + 1) / float(num_ranges)
        hb = np.ceil(np.floor((z - mn) / range_div) * range_div + mn).astype(np.int64)
        for h in np.unique(hb):
            sel = hb == h
            bands[(int(pid), int(h))] = (g["gx"].to_numpy(np.int64)[sel],
                                         g["gy"].to_numpy(np.int64)[sel])
    return bands


def test_dissolve_subrun_shape_equals_pixel_shape(spark, world, images):
    """The run-table dissolve (band-split subruns, batched
    invariants) equals bands traced one at a time from the pixel dump:
    invariants against ring areas + connected-component labeling,
    features against the reference walk ``dissolve_pixels_rings`` — on a
    rectangle (rect fast path) and a triangle (general PIP, runs split
    across bands)."""
    from tests.references import dissolve_pixels_rings, label_counts
    from openelevationservice_spark.operators.color import (
        polygon_color_invariants,
    )

    x0 = world.min_x + 0.1 * TILE_DEG
    y0 = world.max_y - 1.6 * TILE_DEG
    tri = [
        {"lon": x0, "lat": y0},
        {"lon": x0 + 1.4 * TILE_DEG, "lat": y0},
        {"lon": x0, "lat": y0 + 1.4 * TILE_DEG},
        {"lon": x0, "lat": y0},
    ]
    polys = spark.createDataFrame(
        pd.DataFrame({"poly_id": [0, 1],
                      "ring": [tri, bbox_ring(x0, y0, x0 + 0.8 * TILE_DEG,
                                              y0 + 1.1 * TILE_DEG)]}),
        schema="poly_id long, ring array<struct<lon:double, lat:double>>")
    bands = reference_bands(
        polygon_pixels(polys, images).select("poly_id", "gx", "gy", "z").toPandas())

    inv_rows, feat_rows = [], []
    for (pid, hb), (gx, gy) in sorted(bands.items()):
        rings_all, areas2 = dissolve_pixels_rings(gx, gy)
        c4, c8, h4, h8 = label_counts(gx, gy)
        inv_rows.append({"poly_id": pid, "height_base": hb,
                         "area_px": sum(map(sum, areas2)) // 2,
                         "euler4": c4 - h8, "euler8": c8 - h4})
        for i, (rings, ra) in enumerate(zip(rings_all, areas2)):
            feat_rows.append({
                "poly_id": pid, "height_base": hb, "feature_idx": i,
                "n_rings": len(rings), "area_px": sum(ra) / 2.0,
                "rings": tuple(tuple((WORLD_X0 + x * PX, WORLD_Y0 - y * PX)
                                     for x, y in ring) for ring in rings)})
    want_inv = pd.DataFrame(inv_rows)
    want_feat = pd.DataFrame(feat_rows)

    key = ["poly_id", "height_base"]
    inv = (polygon_color_invariants(polys, images)
           .toPandas().sort_values(key).reset_index(drop=True))
    assert len(inv) == len(want_inv) > 10
    pd.testing.assert_frame_equal(inv, want_inv, check_dtype=False)

    fkey = key + ["feature_idx"]
    feats = (polygon_color_features(polys, images)
             .toPandas().sort_values(fkey).reset_index(drop=True))
    assert len(feats) == len(want_feat) > 10
    for c in fkey + ["n_rings", "area_px"]:
        assert (feats[c].to_numpy() == want_feat[c].to_numpy()).all(), c
    got_rings = [tuple(tuple((p["x"], p["y"]) for p in ring) for ring in rings)
                 for rings in feats["rings"]]
    assert got_rings == list(want_feat["rings"])
