import numpy as np
import pandas as pd
import pytest

from openelevationservice_spark.operators import similarity as sim

from tests.references import (
    cosine_topk_reference, ivf_lists_reference, lsh_bucket_reference)


@pytest.fixture(scope="module")
def corpus_pdf():
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((200, 16)).astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(200, dtype=np.int64),
        "embedding": [v.tolist() for v in vecs],
    })


@pytest.fixture(scope="module")
def corpus(spark, corpus_pdf):
    df = spark.createDataFrame(corpus_pdf, schema="vec_id long, embedding array<float>")
    df.persist()
    df.count()
    return df


def numpy_topk(corpus_pdf, qvec, k):
    mat = np.stack([np.array(v, dtype=np.float64) for v in corpus_pdf["embedding"]])
    q = np.array(qvec, dtype=np.float64)
    sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = np.lexsort((corpus_pdf["vec_id"], -sims))
    return [int(corpus_pdf["vec_id"][i]) for i in order[:k]]


def test_brute_force_topk_matches_numpy(spark, corpus, corpus_pdf):
    queries = spark.createDataFrame(
        pd.DataFrame({"q_id": [0, 1], "q_vec": [corpus_pdf["embedding"][5],
                                                corpus_pdf["embedding"][17]]}),
        schema="q_id long, q_vec array<float>",
    )
    got = sim.cosine_topk(corpus, queries, k=5).toPandas()
    for q_id, src in [(0, 5), (1, 17)]:
        want = numpy_topk(corpus_pdf, corpus_pdf["embedding"][src], 5)
        sub = got[got.q_id == q_id].sort_values("rank")
        assert list(sub.vec_id) == want
        assert sub.iloc[0].vec_id == src          # self is nearest
        assert sub.iloc[0].sim == pytest.approx(1.0)


def test_lsh_ann_finds_self(spark, corpus, corpus_pdf):
    queries = spark.createDataFrame(
        pd.DataFrame({"q_id": [0], "q_vec": [corpus_pdf["embedding"][42]]}),
        schema="q_id long, q_vec array<float>",
    )
    got = sim.lsh_ann_topk(corpus, queries, k=3, n_planes=6, probe_bits=2).toPandas()
    assert len(got) >= 1
    assert got.sort_values("rank").iloc[0].vec_id == 42  # same bucket as itself


def test_lsh_recall_reasonable(spark, corpus, corpus_pdf):
    qids = [3, 30, 77, 123]
    queries = spark.createDataFrame(
        pd.DataFrame({"q_id": qids, "q_vec": [corpus_pdf["embedding"][i] for i in qids]}),
        schema="q_id long, q_vec array<float>",
    )
    exact = sim.cosine_topk(corpus, queries, k=3).toPandas()
    approx = sim.lsh_ann_topk(corpus, queries, k=3, n_planes=4, probe_bits=3).toPandas()
    hits = 0
    for q in qids:
        want = set(exact[exact.q_id == q].vec_id)
        got = set(approx[approx.q_id == q].vec_id)
        hits += len(want & got)
    assert hits / (3 * len(qids)) >= 0.5  # recall@3 over half with 4 planes + probes


def test_ivf_full_probe_is_exact(spark, corpus, corpus_pdf):
    """nprobe == n_centroids degenerates to exact brute force."""
    queries = spark.createDataFrame(
        pd.DataFrame({"q_id": [0, 1], "q_vec": [corpus_pdf["embedding"][5],
                                                corpus_pdf["embedding"][17]]}),
        schema="q_id long, q_vec array<float>",
    )
    got = sim.ivf_topk(corpus, queries, k=5, n_centroids=8, nprobe=8).toPandas()
    exact = sim.cosine_topk(corpus, queries, k=5).toPandas()
    g = got.sort_values(["q_id", "rank"]).reset_index(drop=True)
    e = exact.sort_values(["q_id", "rank"]).reset_index(drop=True)
    assert (g.vec_id == e.vec_id).all()
    assert np.allclose(g.sim, e.sim)


def test_ivf_partial_probe_recall(spark, corpus, corpus_pdf):
    """nprobe=4/8 lists: top-1 must survive (the nearest neighbor's list
    is probed with overwhelming odds on this data), top-5 recall >= 0.6."""
    qs = [5, 17, 42, 99, 123]
    queries = spark.createDataFrame(
        pd.DataFrame({"q_id": list(range(len(qs))),
                      "q_vec": [corpus_pdf["embedding"][i] for i in qs]}),
        schema="q_id long, q_vec array<float>",
    )
    got = sim.ivf_topk(corpus, queries, k=5, n_centroids=8, nprobe=4).toPandas()
    hits = total = top1 = 0
    for qi, src in enumerate(qs):
        truth = numpy_topk(corpus_pdf, corpus_pdf["embedding"][src], 5)
        mine = got[got.q_id == qi].sort_values("rank").vec_id.tolist()
        top1 += mine[0] == truth[0]
        hits += len(set(mine) & set(truth))
        total += 5
    assert top1 == len(qs)
    assert hits / total >= 0.6


def test_deterministic_hyperplanes_stable():
    a = sim.deterministic_hyperplanes(16, 4, seed=42)
    b = sim.deterministic_hyperplanes(16, 4, seed=42)
    assert a == b
    assert all(-128 <= v <= 127 for p in a for v in p)
    assert a != sim.deterministic_hyperplanes(16, 4, seed=7)


def _matrix(pdf, col="embedding"):
    return np.stack([np.asarray(v, dtype=np.float64) for v in pdf[col]])


def test_lsh_bucket_matches_reference(spark, corpus, corpus_pdf):
    """Buckets equal the sequential-fold sign bits exactly (the oracle's
    list_reduce order)."""
    got = sim.with_lsh_bucket(corpus, n_planes=6).toPandas().sort_values("vec_id")
    want = lsh_bucket_reference(_matrix(corpus_pdf), 6)
    assert got["vec_id"].tolist() == corpus_pdf["vec_id"].tolist()
    assert got["bucket"].tolist() == want.tolist()


def test_ivf_assign_matches_reference(spark, corpus, corpus_pdf):
    """The nprobe lists equal the fold-dot ranking with lowest-id ties."""
    cent = sim.ivf_seed_centroids(corpus, n_centroids=8)
    got = sim.ivf_assign(corpus, cent, "embedding", nprobe=3).toPandas()
    want = ivf_lists_reference(_matrix(corpus_pdf), cent, 3)
    assert sorted(map(tuple, got[["vec_id", "ivf_list"]].values.tolist())) == \
        sorted((int(i), l) for i, ls in zip(corpus_pdf["vec_id"], want) for l in ls)


def test_exact_nn_matches_brute_force(spark, corpus, corpus_pdf):
    """exact_nn (IVF triangle-inequality pruning) must equal all-pairs."""
    got = sim.exact_nn(corpus, n_centroids=8).toPandas().sort_values("vec_id")
    mat = np.stack([np.array(v, np.float64) for v in corpus_pdf["embedding"]])
    matn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = matn @ matn.T
    np.fill_diagonal(sims, -2.0)
    for _, r in got.iterrows():
        i = int(r.vec_id)
        order = np.lexsort((np.arange(len(mat)), -sims[i]))
        assert int(r.nn_id) == int(order[0]), f"vec {i}"
        assert r.sim == pytest.approx(sims[i][order[0]], abs=1e-9)
    assert len(got) == len(corpus_pdf)


def test_exact_nn_plan_has_no_cartesian_product(spark, corpus):
    plan = sim.exact_nn(corpus, n_centroids=8)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cosine_topk_packed_binary_is_bit_identical(spark, corpus, corpus_pdf):
    """A pack_vectors'd corpus (fixed-width binary column) must produce
    bit-identical results to the array<float> path — float32 packing of
    a float32 source is lossless and the kernel's op order is shared."""
    queries = spark.createDataFrame(
        pd.DataFrame({"q_id": [0, 1], "q_vec": [corpus_pdf["embedding"][5],
                                                corpus_pdf["embedding"][17]]}),
        schema="q_id long, q_vec array<float>",
    )
    packed = sim.pack_vectors(corpus, "embedding")
    assert dict(packed.dtypes)["embedding"] == "binary"
    got = sim.cosine_topk(packed, queries, k=5).toPandas()
    want = sim.cosine_topk(corpus, queries, k=5).toPandas()
    key = ["q_id", "rank"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)  # sims bit-equal, not approx


def test_cosine_topk_matches_reference(spark, corpus, corpus_pdf):
    """List and packed-binary corpora both equal the sequential-fold
    reference exactly: ids, ranks and sim bits."""
    srcs = [5, 17, 42]
    queries = spark.createDataFrame(
        pd.DataFrame({"q_id": [0, 1, 2],
                      "q_vec": [corpus_pdf["embedding"][i] for i in srcs]}),
        schema="q_id long, q_vec array<float>",
    )
    mat = _matrix(corpus_pdf)
    want = cosine_topk_reference(corpus_pdf["vec_id"].tolist(), mat, [0, 1, 2],
                                 mat[srcs], 5)
    key = ["q_id", "rank"]
    for fmt in (corpus, sim.pack_vectors(corpus, "embedding")):
        got = (sim.cosine_topk(fmt, queries, k=5).toPandas()
               .sort_values(key).reset_index(drop=True))
        assert got[key + ["vec_id"]].values.tolist() == want[key + ["vec_id"]].values.tolist()
        assert (got["sim"].to_numpy() == want["sim"].to_numpy()).all()


def test_cosine_topk_arrow_batch_string_ids(spark, corpus_pdf):
    """String corpus/query ids flow through the kernel (object-dtype
    to_numpy + lexsort tie-break) and match the reference exactly."""
    pdf = corpus_pdf.assign(vec_id=[f"doc{i:04d}" for i in range(len(corpus_pdf))])
    corpus_s = spark.createDataFrame(pdf, schema="vec_id string, embedding array<float>")
    queries = spark.createDataFrame(
        pd.DataFrame({"q_id": ["qa", "qb"], "q_vec": [pdf["embedding"][5],
                                                      pdf["embedding"][17]]}),
        schema="q_id string, q_vec array<float>",
    )
    mat = _matrix(pdf)
    want = cosine_topk_reference(pdf["vec_id"].tolist(), mat, ["qa", "qb"],
                                 mat[[5, 17]], 5)
    key = ["q_id", "rank"]
    got = (sim.cosine_topk(corpus_s, queries, k=5)
           .toPandas().sort_values(key).reset_index(drop=True))
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    assert got.loc[0, "vec_id"] == "doc0005"


def test_cosine_topk_empty_queries(spark, corpus):
    """An empty query set returns an empty result with the output schema
    (round-4 ADVICE: np.stack([]) used to raise on the driver)."""
    queries = spark.createDataFrame([], schema="q_id long, q_vec array<float>")
    got = sim.cosine_topk(corpus, queries, k=3)
    assert got.columns == ["q_id", "rank", "vec_id", "sim"]
    assert got.count() == 0


def test_cosine_topk_query_collect_is_capped(spark, corpus, monkeypatch):
    """cosine_topk collects the query side to the driver — an
    oversized queries_df must fail loudly, not silently materialize."""
    monkeypatch.setattr(sim, "MAX_DRIVER_QUERIES", 3)
    queries = corpus.limit(10).selectExpr("vec_id as q_id", "embedding as q_vec")
    with pytest.raises(ValueError, match="collects the query side"):
        sim.cosine_topk(corpus, queries, k=3)


def test_cosine_topk_equals_single_window(spark, corpus):
    """cosine_topk's partition-local prune plus final window is
    output-identical to one window over the full cross join."""
    from pyspark.sql import Window, functions as F
    q = corpus.limit(4).select(F.col("vec_id").alias("q_id"),
                               F.col("embedding").alias("q_vec"))
    got = sim.cosine_topk(corpus, q, k=7).toPandas()
    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    qvec_d = F.transform(F.col("q_vec"), lambda x: x.cast("double"))
    j = (corpus.select("vec_id", vec_d.alias("_cv"))
         .crossJoin(F.broadcast(q.select("q_id", qvec_d.alias("_qv"))))
         .withColumn("sim", sim.cosine_similarity_col(F.col("_cv"), F.col("_qv"))))
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.col("vec_id"))
    want = (j.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 7)
            .select("q_id", "rank", "vec_id", "sim").toPandas())
    key = ["q_id", "rank"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[["q_id", "rank", "vec_id"]],
                                  want[["q_id", "rank", "vec_id"]])


def test_topk_per_query_string_ids_equal_single_window(spark):
    """String ids with heavily tied sims, cut over many 7-row Arrow
    batches: the prune plus final window keep exactly the rows of one
    row_number window — a null corpus id included, which sorts first."""
    from pyspark.sql import Window, functions as F
    rng = np.random.default_rng(3)
    n = 300
    pdf = pd.DataFrame({
        "q_id": [f"q{i}" for i in rng.integers(0, 5, n)],
        "vec_id": [f"d{i:03d}" for i in rng.permutation(n)],
        "sim": rng.integers(0, 4, n) / 4.0,
    })
    pdf.loc[7, ["vec_id", "sim"]] = [None, 0.75]
    scored = spark.createDataFrame(
        pdf, schema="q_id string, vec_id string, sim double").repartition(3)
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.col("vec_id"))
    want = (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 4).toPandas())
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "7")
        got = sim.topk_per_query(scored, 4, "q_id", "vec_id").toPandas()
    finally:
        spark.conf.set(conf, before)
    key = ["q_id", "rank"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)
    assert want["vec_id"].isna().any()
