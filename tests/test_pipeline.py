"""End-to-end curation pipeline: stage monotonicity, lineage, resume."""

import pytest

from openelevationservice_spark.plans.pipeline import curate_documents
from openelevationservice_spark.sources.snapshots import SnapshotStore

SF_DIR = "/root/testdata/sf0.001"


def _by_stage(manifests: list[dict]) -> dict[str, dict]:
    return {m["stage"]: m for m in manifests}


@pytest.fixture()
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_pipeline_end_to_end(spark, docs, tmp_path):
    store = SnapshotStore(str(tmp_path))
    curated, manifests = curate_documents(spark, docs, store,
                                          min_quality=0.3, languages=("en",),
                                          near_dup_jaccard=0.5)
    rep = _by_stage(manifests)
    n_in = docs.count()
    stages = ["quality", "langid", "dedup_exact", "curated"]
    assert [m["stage"] for m in manifests] == stages
    # monotone non-increasing row counts through the filters
    counts = [n_in] + [rep[s]["total_rows"] for s in stages]
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    assert rep["curated"]["total_rows"] == curated.count() > 0
    # lineage chain: every stage records its input snapshot
    for up, down in zip(stages, stages[1:]):
        assert rep[down]["inputs"] == [rep[up]["snapshot_id"]]
    # per-partition metrics present
    assert all(len(rep[s]["partitions"]) >= 1 for s in stages)
    # curated docs kept the schema + gained the feature columns
    assert {"doc_id", "text", "q_score", "pred_lang"} <= set(curated.columns)


def test_pipeline_resume_skips_completed_stages(spark, docs, tmp_path):
    store = SnapshotStore(str(tmp_path))
    _, first = curate_documents(spark, docs, store, near_dup_jaccard=0.5)
    assert all(not m["resumed"] for m in first)

    # simulate a kill after stage 2: drop the last two snapshots
    store.drop_stage("dedup_exact")
    store.drop_stage("curated")
    curated, second = curate_documents(spark, docs, store, near_dup_jaccard=0.5)
    rep, rep1 = _by_stage(second), _by_stage(first)
    assert rep["quality"]["resumed"] and rep["langid"]["resumed"]
    assert not rep["dedup_exact"]["resumed"] and not rep["curated"]["resumed"]
    # identical result and identical upstream lineage after resume
    assert rep["curated"]["total_rows"] == rep1["curated"]["total_rows"]
    assert rep["langid"]["snapshot_id"] == rep1["langid"]["snapshot_id"]

    # param change invalidates downstream reuse
    _, third = curate_documents(spark, docs, store, near_dup_jaccard=0.3)
    rep3 = _by_stage(third)
    assert rep3["quality"]["resumed"]          # params unchanged upstream
    assert not rep3["curated"]["resumed"]      # threshold changed → rebuilt
