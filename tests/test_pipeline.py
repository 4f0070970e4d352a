"""End-to-end curation pipeline: stage monotonicity, lineage, resume."""

import pytest

from openelevationservice_spark.plans.pipeline import curate_documents
from openelevationservice_spark.sources.snapshots import SnapshotStore

SF_DIR = "/root/testdata/sf0.001"
STAGES = ["quality", "langid", "dedup_exact", "curated"]


def _by_stage(manifests: list[dict]) -> dict[str, dict]:
    return {m["stage"]: m for m in manifests}


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def curated_run(spark, docs, tmp_path_factory):
    """One pipeline run into a fresh store: (curated, manifests)."""
    return curate_documents(spark, docs, SnapshotStore(str(tmp_path_factory.mktemp("store"))))


def test_pipeline_end_to_end(docs, curated_run):
    curated, manifests = curated_run
    rep = _by_stage(manifests)
    n_in = docs.count()
    assert [m["stage"] for m in manifests] == STAGES
    # monotone non-increasing row counts through the filters
    counts = [n_in] + [rep[s]["total_rows"] for s in STAGES]
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    assert rep["curated"]["total_rows"] == curated.count() > 0
    # lineage chain: every stage records its input snapshot
    for up, down in zip(STAGES, STAGES[1:]):
        assert rep[down]["inputs"] == [rep[up]["snapshot_id"]]
    # per-partition metrics present
    assert all(len(rep[s]["partitions"]) >= 1 for s in STAGES)
    # curated docs kept the schema + gained the feature columns
    assert {"doc_id", "text", "q_score", "pred_lang"} <= set(curated.columns)


def test_pipeline_stage_params_are_pinned(curated_run):
    """The resume key of every stage: a store written with these params
    (and hashes) is reused, so both stay fixed while the policy does."""
    rep = _by_stage(curated_run[1])
    assert [(rep[s]["params"], rep[s]["params_hash"]) for s in STAGES] == [
        ({"min_quality": 0.3}, "4913335e33ed9029"),
        ({"languages": ["en"]}, "a5a7f0814e806b95"),
        ({"rule": "keep_min_doc_id"}, "9661396341d41008"),
        ({"near_dup_jaccard": 0.8, "n_hashes": 8, "bands": 4, "shingle_n": 3},
         "e0bfdfef9fa6a467"),
    ]


def test_pipeline_resume_skips_completed_stages(spark, docs, tmp_path):
    store = SnapshotStore(str(tmp_path))
    _, first = curate_documents(spark, docs, store)
    assert all(not m["resumed"] for m in first)

    # simulate a kill after stage 2: drop the last two snapshots
    store.drop_stage("dedup_exact")
    store.drop_stage("curated")
    curated, second = curate_documents(spark, docs, store)
    rep, rep1 = _by_stage(second), _by_stage(first)
    assert rep["quality"]["resumed"] and rep["langid"]["resumed"]
    assert not rep["dedup_exact"]["resumed"] and not rep["curated"]["resumed"]
    # identical result and identical upstream lineage after resume
    assert rep["curated"]["total_rows"] == rep1["curated"]["total_rows"]
    assert rep["langid"]["snapshot_id"] == rep1["langid"]["snapshot_id"]
