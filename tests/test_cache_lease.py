"""Persist-lease lifecycle: repeated operator calls must not accrue
executor storage (VERDICT r2 "What's wrong" #3 / next-round #4)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from openelevationservice_spark.operators.color import polygon_color_invariants
from openelevationservice_spark.operators.similarity import exact_nn
from openelevationservice_spark.plans import cache
from openelevationservice_spark.sources import fixtures as fx


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture()
def emb(spark):
    return spark.range(40).select(
        F.col("id").cast("int").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda i: ((F.col("id") * 31 + i * 17) % 97).cast("double"),
        ).alias("embedding"),
    )


def test_exact_nn_storage_bounded_across_calls(spark, emb):
    exact_nn(emb, n_centroids=4).count()
    after_first = _n_persistent(spark)
    for _ in range(5):
        exact_nn(emb, n_centroids=4).count()
    assert _n_persistent(spark) <= after_first  # one generation, not six
    cache.release_all()
    assert _n_persistent(spark) <= after_first - 2  # assigned + cand1 gone


def test_color_invariants_storage_bounded_across_calls(spark):
    world = fx.World(nx=2, ny=2)
    images = fx.make_images_df(spark, world)
    ring = [
        {"lon": world.min_x + 0.1, "lat": world.max_y - 0.4},
        {"lon": world.min_x + 0.4, "lat": world.max_y - 0.4},
        {"lon": world.min_x + 0.4, "lat": world.max_y - 0.1},
        {"lon": world.min_x + 0.1, "lat": world.max_y - 0.1},
        {"lon": world.min_x + 0.1, "lat": world.max_y - 0.4},
    ]
    polys = spark.createDataFrame(
        pd.DataFrame({"poly_id": [0], "ring": [ring]}),
        schema="poly_id long, ring array<struct<lon:double, lat:double>>",
    )
    polygon_color_invariants(polys, images).count()
    after_first = _n_persistent(spark)
    for _ in range(4):
        polygon_color_invariants(polys, images).count()
    assert _n_persistent(spark) <= after_first
    cache.release_all()
    assert _n_persistent(spark) < after_first


def test_release_all_idempotent(spark, emb):
    exact_nn(emb, n_centroids=4).count()
    cache.release_all()
    cache.release_all()
    assert not cache._LEASES
