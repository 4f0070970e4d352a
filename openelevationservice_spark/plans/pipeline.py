"""End-to-end training-data curation pipeline (resumable).

Composes the training-data operators — quality scoring, language ID,
exact dedup, MinHash-LSH near-dedup — into one checkpointed pipeline
over a ``documents`` table: every stage lands as an immutable snapshot
with params-hash + input-snapshot lineage and per-partition row counts
(sources/snapshots.py), so a killed job resumes at the first stage
whose snapshot is missing or stale.  This is the north rule's
"resumes mid-tiling" property applied to the corpus-curation workload.

Stage graph (each node = one snapshot)::

    documents ─ quality ─ langid ─ dedup_exact ─ neardup ─ curated

All stage transforms are DataFrame-only (JVM expressions or the
operators' Arrow UDFs) — nothing driver-side except the manifests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, textops
from ..sources.snapshots import SnapshotStore

#: the curation policy.  Each stage's params dict records the values it
#: applies, so a store written under other values is rebuilt, not resumed.
MIN_QUALITY = 0.3
LANGUAGES = ("en",)
NEAR_DUP_JACCARD = 0.8
MINHASH_HASHES = 8
MINHASH_BANDS = 4
SHINGLE_N = 3


def curate_documents(spark: SparkSession, docs: DataFrame,
                     store: SnapshotStore) -> tuple[DataFrame, list[dict]]:
    """documents(doc_id, text, ...) → curated snapshot + stage manifests.

    Quality gate: ``q_score ≥ MIN_QUALITY``; language filter: the
    predicted language is in ``LANGUAGES``.  Near-dup policy: within
    every MinHash-LSH candidate pair whose verified n-gram Jaccard ≥
    ``NEAR_DUP_JACCARD``, the larger doc_id is dropped (the min-id
    document is kept as the representative) — the standard keep-first
    MinHash-dedup rule.
    """
    manifests: list[dict] = []

    def stage(name, params, build, inputs):
        df, m = store.run_stage(spark, name, params, build, inputs=inputs)
        manifests.append(m)
        return df, m

    # 1. quality gate (JVM expressions only)
    q_params = {"min_quality": MIN_QUALITY}
    quality, m1 = stage(
        "quality", q_params,
        lambda: textops.quality_features(docs).filter(
            F.col("q_score") >= F.lit(MIN_QUALITY)
        ).select(*docs.columns, "q_score"),
        inputs=[],
    )

    # 2. language filter
    l_params = {"languages": list(LANGUAGES)}
    langid, m2 = stage(
        "langid", l_params,
        lambda: textops.lang_scores(quality)
        .filter(F.col("pred_lang").isin(*LANGUAGES))
        .select(*quality.columns, "pred_lang"),
        inputs=[m1["snapshot_id"]],
    )

    # 3. exact dedup — keep the min-id representative of each text hash
    d_params = {"rule": "keep_min_doc_id"}
    exact, m3 = stage(
        "dedup_exact", d_params,
        lambda: langid.join(
            dedup.exact_dedup(langid).select(
                F.col("rep_id").alias("doc_id")
            ),
            "doc_id", "left_semi",
        ),
        inputs=[m2["snapshot_id"]],
    )

    # 4. near-dedup — LSH candidates, Jaccard-verified, drop the max id
    n_params = {
        "near_dup_jaccard": NEAR_DUP_JACCARD, "n_hashes": MINHASH_HASHES,
        "bands": MINHASH_BANDS, "shingle_n": SHINGLE_N,
    }

    def build_neardup() -> DataFrame:
        pairs = dedup.lsh_candidate_pairs(
            exact, n_hashes=MINHASH_HASHES, bands=MINHASH_BANDS,
            shingle_n=SHINGLE_N,
        )
        verified = dedup.ngram_jaccard(exact, pairs, shingle_n=SHINGLE_N)
        losers = (
            verified.filter(F.col("jaccard") >= F.lit(NEAR_DUP_JACCARD))
            .select(F.col("id_b").alias("doc_id"))  # id_a < id_b: keep min
            .distinct()
        )
        return exact.join(losers, "doc_id", "left_anti")

    curated, m4 = stage("curated", n_params, build_neardup,
                        inputs=[m3["snapshot_id"]])
    return curated, manifests
