import json

import numpy as np

from openelevationservice_spark.constants import NODATA, PX, TILE_DEG
from openelevationservice_spark.functions import image_codec as ic
from openelevationservice_spark.sources import fixtures as fx
from tests import plan_checks as pc
from tests.inputs import REF_POINT_IN, REF_POINT_OUT, make_images_pdf


def test_world_contains_reference_point():
    assert fx.DEFAULT_WORLD.contains(*REF_POINT_IN)
    assert not fx.DEFAULT_WORLD.contains(*REF_POINT_OUT)


def test_images_pdf_schema_and_invariant():
    world = fx.World(nx=3, ny=2)
    pdf = make_images_pdf(world)
    assert list(pdf.columns) == ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    assert len(pdf) == 6
    for _, r in pdf.iterrows():
        ok, p, ph = ic.roundtrip_check(r["bytes"], r["fmt"], r["w"], r["h"])
        assert ok and ph == r["phash"]
        cap = json.loads(r["caption"])
        assert cap["px"] == PX and cap["nodata"] == NODATA
        assert cap["name"] == r["image_id"]


def test_z_field_matches_tile_grid():
    g = fx.tile_grid(fx.DEFAULT_WORLD.tx0, fx.DEFAULT_WORLD.ty0)
    assert g.shape == (50, 50)
    gx0 = fx.DEFAULT_WORLD.tx0 * 50
    gy0 = fx.DEFAULT_WORLD.ty0 * 50
    assert g[7, 3] == fx.z_field(np.array([gx0 + 3]), np.array([gy0 + 7]))[0]


def test_z_field_has_nodata_holes():
    gx = np.arange(0, 400000, 17)
    gy = np.arange(0, 400000, 17)
    z = fx.z_field(gx, gy)
    assert (z == NODATA).sum() > 0
    assert (z == NODATA).mean() < 0.01


def test_z_sql_expr_matches_numpy(spark):
    rng = np.random.default_rng(3)
    gx = rng.integers(0, 432000, 500)
    gy = rng.integers(0, 216000, 500)
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"gx": gx, "gy": gy}))
    df.createOrReplaceTempView("t")
    got = spark.sql(f"select {fx.z_sql_expr('gx', 'gy')} as z from t").toPandas()["z"].to_numpy()
    want = fx.z_field(gx, gy).astype(np.int64)
    assert (got == want).all()


def test_z_sql_expr_matches_in_duckdb():
    import duckdb

    rng = np.random.default_rng(4)
    gx = rng.integers(0, 432000, 500)
    gy = rng.integers(0, 216000, 500)
    import pandas as pd

    pdf = pd.DataFrame({"gx": gx, "gy": gy})
    got = duckdb.query(f"select {fx.z_sql_expr('gx', 'gy')} as z from pdf").df()["z"].to_numpy()
    want = fx.z_field(gx, gy).astype(np.int64)
    assert (got == want).all()


def test_make_images_df_distributed(spark):
    world = fx.World(nx=4, ny=2)
    df = fx.make_images_df(spark, world)
    pdf = df.toPandas().sort_values("image_id").reset_index(drop=True)
    ref = make_images_pdf(world).sort_values("image_id").reset_index(drop=True)
    assert (pdf["image_id"] == ref["image_id"]).all()
    assert (pdf["phash"] == ref["phash"]).all()
    assert all(a == b for a, b in zip(pdf["bytes"], ref["bytes"]))


def test_make_images_df_has_no_exchange_under_the_generator(spark):
    """The (tx, ty) list is one narrow ``range`` source, so the plan of
    the generated images table holds no exchange, and it keeps one
    partition per core (at most one per tile)."""
    world = fx.World(nx=4, ny=2)
    df = fx.make_images_df(spark, world)
    plan = pc.explain_str(df)
    assert "MapInArrow" in plan
    assert "Exchange" not in plan, plan
    assert df.rdd.getNumPartitions() == min(world.n_tiles,
                                            spark.sparkContext.defaultParallelism)


def test_tile_alignment():
    w = fx.DEFAULT_WORLD
    assert abs(w.min_x - (-180 + w.tx0 * TILE_DEG)) < 1e-12
    assert w.max_y <= 90


def _interleave(tx: int, ty: int) -> int:
    """Plain Morton code: bit i of tx goes to bit 2i, bit i of ty to 2i+1."""
    return sum(((tx >> i) & 1) << (2 * i) | ((ty >> i) & 1) << (2 * i + 1)
               for i in range(32))


def test_write_tile_index_morton_clustered(spark, tmp_path):
    """Ingest writer: snapshot is range-partitioned + sorted by the
    Morton key (file-level locality for bbox pruning) and carries
    per-partition lineage."""
    import numpy as np
    from openelevationservice_spark.sources.snapshots import SnapshotStore
    from openelevationservice_spark.sources.tiles import write_tile_index

    world = fx.World(nx=8, ny=8)
    images = spark.createDataFrame(make_images_pdf(world), schema=fx.IMAGES_SCHEMA)
    store = SnapshotStore(str(tmp_path))
    manifest = write_tile_index(images, store)
    assert manifest["total_rows"] == world.n_tiles
    assert len(manifest["partitions"]) >= 2          # range-partitioned
    out = store.read(spark, "tile_index")
    # the morton column is the plain bit-interleave of (tx, ty)
    pdf = out.select("tx", "ty", "morton").toPandas()
    want = [_interleave(int(tx), int(ty)) for tx, ty in zip(pdf.tx, pdf.ty)]
    assert want == pdf.morton.tolist()
    # sorted within every partition (file)
    from pyspark.sql import functions as F
    part = out.withColumn("pid", F.spark_partition_id()).toPandas()
    for _, g in part.groupby("pid"):
        m = g.morton.to_numpy()
        assert (np.diff(m) >= 0).all()
