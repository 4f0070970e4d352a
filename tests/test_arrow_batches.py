"""Arrow batch boundaries do not change kernel output.

Each curation kernel runs once with 7-row Arrow batches (many batches
per partition: the cosine top-k carry across batches, per-batch
``reduceat`` offsets in MinHash) and once with 65536-row batches (one
batch per partition); the results must be identical.
"""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from openelevationservice_spark.operators import dedup
from openelevationservice_spark.operators import similarity as sim

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"
SMALL, LARGE = 7, 65536


@pytest.fixture(scope="module")
def docs(spark):
    rng = np.random.default_rng(5)
    vocab = [f"w{i}" for i in range(12)]
    texts = [" ".join(rng.choice(vocab, size=rng.integers(0, 9))) for _ in range(200)]
    texts[10], texts[20] = None, "a  b c "
    return spark.createDataFrame(pd.DataFrame({"doc_id": range(200), "text": texts}),
                                 schema="doc_id long, text string")


@pytest.fixture(scope="module")
def corpus(spark):
    vecs = np.random.default_rng(11).standard_normal((200, 16)).astype(np.float32)
    return spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(200, dtype=np.int64),
                      "embedding": [v.tolist() for v in vecs]}),
        schema="vec_id long, embedding array<float>")


def _max_batch_rows(spark) -> int:
    def sizes(batches):
        for b in batches:
            yield pa.RecordBatch.from_pydict({"n": [b.num_rows]})
    return spark.range(0, 400, numPartitions=2).mapInArrow(sizes, "n long") \
        .agg({"n": "max"}).collect()[0][0]


def _rows(df, key):
    pdf = df.toPandas().sort_values(key).reset_index(drop=True)
    return [tuple(v.tolist() if isinstance(v, np.ndarray) else v for v in row)
            for row in pdf.itertuples(index=False)]


def _outputs(docs, corpus):
    queries = corpus.filter("vec_id IN (5, 17, 42)").selectExpr(
        "vec_id AS q_id", "embedding AS q_vec")
    cent = sim.ivf_seed_centroids(corpus, n_centroids=8)
    return {
        "minhash": _rows(dedup.minhash_signature(docs), ["doc_id"]),
        "topk_list": _rows(sim.cosine_topk(corpus, queries, k=5), ["q_id", "rank"]),
        "topk_packed": _rows(sim.cosine_topk(sim.pack_vectors(corpus), queries, k=5),
                             ["q_id", "rank"]),
        "lsh": _rows(sim.with_lsh_bucket(corpus, n_planes=6).select("vec_id", "bucket"),
                     ["vec_id"]),
        "ivf": _rows(sim.ivf_assign(corpus, cent, "embedding", nprobe=3)
                     .select("vec_id", "ivf_list"), ["vec_id", "ivf_list"]),
    }


def test_kernels_identical_across_batch_sizes(spark, docs, corpus):
    before = spark.conf.get(BATCH_CONF)
    got = {}
    try:
        for n in (SMALL, LARGE):
            spark.conf.set(BATCH_CONF, str(n))
            assert _max_batch_rows(spark) == min(n, 200)
            got[n] = _outputs(docs, corpus)
    finally:
        spark.conf.set(BATCH_CONF, before)
    for name in got[SMALL]:
        assert got[SMALL][name] == got[LARGE][name], name
    assert len(got[SMALL]["minhash"]) > 100
