import os
import uuid

import pytest

from pyspark.sql import functions as F

from openelevationservice_spark.sources.snapshots import SnapshotStore
from tests import plan_checks as pc


@pytest.fixture
def store(tmp_path):
    return SnapshotStore(root=str(tmp_path / "snaps"))


def test_snapshot_write_and_manifest(spark, store):
    df = spark.range(1000).withColumn("v", F.col("id") * 2)
    m = store.write(df, "stage_a", params={"p": 1})
    assert m["total_rows"] == 1000
    assert sum(p["rows"] for p in m["partitions"]) == 1000
    assert all("partition_id" in p for p in m["partitions"])
    assert os.path.exists(os.path.join(m["path"], "_manifest.json"))
    back = store.read(spark, "stage_a")
    assert back.count() == 1000


def test_run_stage_resumes_on_same_params(spark, store):
    calls = []

    def build():
        calls.append(1)
        return spark.range(10)

    df1, m1 = store.run_stage(spark, "s", {"x": 1}, build)
    df2, m2 = store.run_stage(spark, "s", {"x": 1}, build)
    assert len(calls) == 1          # second call resumed, build skipped
    assert m2["resumed"] and not m1["resumed"]
    assert m2["snapshot_id"] == m1["snapshot_id"]
    df3, m3 = store.run_stage(spark, "s", {"x": 2}, build)
    assert len(calls) == 2          # params change invalidates
    assert not m3["resumed"]


def test_run_stage_lineage_inputs(spark, store):
    df, m_a = store.run_stage(spark, "a", {}, lambda: spark.range(5))
    df_b, m_b = store.run_stage(spark, "b", {}, lambda: spark.range(3),
                                inputs=[m_a["snapshot_id"]])
    assert m_b["inputs"] == [m_a["snapshot_id"]]
    # changing the input snapshot id invalidates downstream
    df_b2, m_b2 = store.run_stage(spark, "b", {}, lambda: spark.range(3),
                                  inputs=["other"])
    assert not m_b2["resumed"]


def test_plan_assertions(spark):
    small = spark.range(10).withColumnRenamed("id", "k")
    big = spark.range(1000).withColumnRenamed("id", "k")
    j = big.join(F.broadcast(small), "k")
    pc.assert_broadcast_join(j)
    pc.assert_no_cartesian(j)
    with pytest.raises(AssertionError):
        pc.assert_no_cartesian(big.crossJoin(small.withColumnRenamed("k", "k2")))


def test_manifest_counts_match_footers(spark, store):
    df = spark.range(0, 777).repartition(7)
    m = store.write(df, "counts")
    assert m["total_rows"] == 777
    assert len(m["partitions"]) >= 1
    assert sum(p["rows"] for p in m["partitions"]) == 777


def _jobs(spark, fn) -> int:
    """Spark jobs launched while ``fn`` runs (counted by job group)."""
    sc = spark.sparkContext
    group = f"snapshot-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_snapshot_reads_launch_no_jobs(spark, store, tmp_path):
    """Reads use the manifest's schema: opening a snapshot (read or a
    resumed run_stage) runs no schema-inference job, and a write runs
    exactly the jobs of a plain parquet write of the same frame."""
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    assert _jobs(spark, lambda: store.write(df, "w")) == \
        _jobs(spark, lambda: df.write.parquet(str(tmp_path / "plain")))
    assert _jobs(spark, lambda: store.read(spark, "w")) == 0
    store.run_stage(spark, "r", {"x": 1}, lambda: df)
    assert _jobs(spark, lambda: store.run_stage(spark, "r", {"x": 1}, lambda: df)) == 0


def test_snapshot_read_schema_equals_inferred(spark, store):
    df = spark.range(50).select(
        F.col("id"), (F.col("id") * 2).cast("int").alias("k"),
        F.array(F.col("id"), F.lit(1)).alias("xs"),
        F.struct(F.lit("a").alias("s"), F.col("id").alias("n")).alias("st"),
        F.when(F.col("id") % 3 == 0, F.lit(None)).otherwise(F.col("id")).alias("maybe"))
    assert not df.schema["id"].nullable and not df.schema["xs"].nullable
    m = store.write(df, "schema")
    back = store.read(spark, "schema")
    inferred = spark.read.parquet(m["path"])
    assert back.schema == inferred.schema
    assert sorted(back.collect()) == sorted(inferred.collect()) == sorted(df.collect())
