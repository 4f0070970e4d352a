import itertools

import pandas as pd
import pytest

from pyspark.sql import functions as F

from openelevationservice_spark.operators import dedup
from tests.references import minhash_reference


DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
    (2, "the quick brown fox jumps over the lazy cat"),          # near dup
    (3, "completely different text about spark engines here"),
    (4, "another unrelated document mentioning nothing shared"),
    (5, "the quick brown fox jumps over the lazy dog today"),    # near dup
]


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.createDataFrame(pd.DataFrame(DOCS, columns=["doc_id", "text"]))
    df.persist()
    df.count()
    return df


def jaccard_py(a: str, b: str, n: int = 3) -> float:
    def sh(s):
        w = s.split(" ")
        return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}
    A, B = sh(a), sh(b)
    return len(A & B) / len(A | B) if A | B else 0.0


def test_exact_dedup(spark, docs):
    got = dedup.exact_dedup(docs).toPandas()
    assert len(got) == 5  # 6 docs, one exact duplicate pair
    dup_row = got[got.dup_count == 2]
    assert len(dup_row) == 1 and dup_row.rep_id.iloc[0] == 0


def test_word_shingles(spark):
    df = spark.range(1).select(F.lit("a b c d").alias("t"))
    got = df.select(dedup.word_shingles(F.col("t"), 3).alias("s")).collect()[0]["s"]
    assert got == ["a b c", "b c d"]
    short = df.select(dedup.word_shingles(F.lit("a b"), 3).alias("s")).collect()[0]["s"]
    assert short == []


def test_minhash_signature_identical_docs_equal(spark, docs):
    sig = dedup.minhash_signature(docs).toPandas().set_index("doc_id")
    assert list(sig.loc[0, "sig"]) == list(sig.loc[1, "sig"])
    assert list(sig.loc[0, "sig"]) != list(sig.loc[3, "sig"])


def test_lsh_finds_near_dups_not_unrelated(spark, docs):
    pairs = dedup.lsh_candidate_pairs(docs, n_hashes=8, bands=8).toPandas()
    got = set(zip(pairs.id_a, pairs.id_b))
    assert (0, 1) in got           # exact dup always collides
    # near-dups (high jaccard) should collide in >=1 of 8 single-row bands
    assert (0, 2) in got or (0, 5) in got
    assert (3, 4) not in got       # unrelated docs share no shingles


def test_ngram_jaccard_matches_python(spark, docs):
    all_pairs = spark.createDataFrame(
        pd.DataFrame(list(itertools.combinations(range(6), 2)), columns=["id_a", "id_b"])
    )
    got = dedup.ngram_jaccard(docs, all_pairs).toPandas()
    texts = dict(DOCS)
    for _, r in got.iterrows():
        assert r.jaccard == pytest.approx(jaccard_py(texts[r.id_a], texts[r.id_b]))
    assert got[(got.id_a == 0) & (got.id_b == 1)].jaccard.iloc[0] == 1.0


def test_simhash_near_pairs(spark, docs):
    s = dedup.simhash(docs).toPandas().set_index("doc_id")["simhash"]
    assert s[0] == s[1]  # identical docs → identical simhash
    pairs = dedup.simhash_near_pairs(docs, max_hamming=4).toPandas()
    got = set(zip(pairs.id_a, pairs.id_b))
    assert (0, 1) in got
    hm = pairs.set_index(["id_a", "id_b"])["hamming"]
    assert hm[(0, 1)] == 0


def test_simhash_near_pairs_rejects_zero_width_blocks(spark):
    import pytest as _pytest
    from openelevationservice_spark.operators import dedup
    df = spark.createDataFrame([(1, "a b"), (2, "a b")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="blocks need at least 1 bit"):
        dedup.simhash_near_pairs(df, bits=4, max_hamming=4)


@pytest.mark.parametrize("driver_max_pairs", [0, dedup.CC_DRIVER_MAX_PAIRS])
def test_connected_components_chain_and_singleton(spark, driver_max_pairs):
    """Chain 1-2-3 (diameter 2), pair {10,11}, singleton 20 — labels must
    reach the per-component min, including across multi-hop chains.
    Parametrized over BOTH paths (0 forces the distributed loop; the
    default takes the driver union-find fast path at this size)."""
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [2, 1, 10], "id_b": [3, 2, 11]})
    )
    ids = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 10, 11, 20]})
    )
    got = (dedup.connected_components(pairs, ids,
                                      driver_max_pairs=driver_max_pairs)
           .toPandas().set_index("doc_id")["rep_id"])
    assert got.to_dict() == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_long_chain(spark):
    """A 12-node chain exercises multiple propagation rounds of the
    DISTRIBUTED path (driver_max_pairs=0 forces it)."""
    n = 12
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": list(range(n - 1)), "id_b": list(range(1, n))})
    )
    ids = spark.createDataFrame(pd.DataFrame({"doc_id": list(range(n))}))
    got = dedup.connected_components(pairs, ids, driver_max_pairs=0).toPandas()
    assert (got["rep_id"] == 0).all()


def test_connected_components_driver_path_string_ids(spark):
    """The union-find fast path must handle non-numeric ids (min = lexical)."""
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": ["b", "a"], "id_b": ["c", "b"]})
    )
    ids = spark.createDataFrame(pd.DataFrame({"doc_id": ["a", "b", "c", "z"]}))
    got = dedup.connected_components(pairs, ids).toPandas().set_index("doc_id")["rep_id"]
    assert got.to_dict() == {"a": "a", "b": "a", "c": "a", "z": "z"}


def test_dedup_clusters_groups_exact_dups(spark, docs):
    got = dedup.dedup_clusters(docs, n_hashes=8, bands=8).toPandas()
    by_id = got.set_index("doc_id")
    # exact duplicates 0 and 1 share a cluster with rep = min id
    assert by_id.loc[1, "rep_id"] == 0 and by_id.loc[0, "rep_id"] == 0
    assert by_id.loc[0, "cluster_size"] >= 2
    # unrelated docs 3 and 4 are their own singleton representatives
    assert by_id.loc[3, "rep_id"] == 3
    assert by_id.loc[4, "rep_id"] == 4
    # every doc appears exactly once
    assert len(got) == got["doc_id"].nunique() == len(docs.toPandas())


def test_connected_components_unpersists_on_nonconvergence(spark, monkeypatch):
    """A forced non-convergence raise must still release the edge cache
    (try/finally) — leaked executor storage in a long-lived session is
    the failure class the lease layer exists to prevent."""
    # patch the concrete class (pyspark 4: pyspark.sql.DataFrame is the
    # abstract base; instances are the classic subclass)
    DataFrame = type(spark.range(1))

    balance: dict[int, int] = {}
    orig_p, orig_u = DataFrame.persist, DataFrame.unpersist

    def persist(self, *a, **k):
        balance[id(self)] = balance.get(id(self), 0) + 1
        return orig_p(self, *a, **k)

    def unpersist(self, *a, **k):
        balance[id(self)] = balance.get(id(self), 0) - 1
        return orig_u(self, *a, **k)

    monkeypatch.setattr(DataFrame, "persist", persist)
    monkeypatch.setattr(DataFrame, "unpersist", unpersist)
    n = 12                                   # diameter 11 >> max_iters
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": list(range(n - 1)), "id_b": list(range(1, n))})
    )
    ids = spark.createDataFrame(pd.DataFrame({"doc_id": list(range(n))}))
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, ids, max_iters=2, driver_max_pairs=0)
    assert balance and all(v == 0 for v in balance.values())


def _sig_frame(sig):
    pdf = sig.toPandas().sort_values("doc_id").reset_index(drop=True)
    return pdf["doc_id"].tolist(), [list(x) for x in pdf["sig"]]


def test_minhash_signature_matches_reference(spark, docs):
    """The Arrow kernel's signatures equal the reference built from
    Spark's own shingles, hashlib md5 and numpy mins."""
    want = minhash_reference(docs, n_hashes=8)
    assert _sig_frame(dedup.minhash_signature(docs, n_hashes=8)) == \
        (want["doc_id"].tolist(), want["sig"].tolist())


def test_minhash_signature_kernel_edge_texts(spark):
    """Edge inputs: empty text, consecutive and trailing spaces (python
    str.split vs Spark's regex split with limit -1), a leading space,
    sub-shingle docs, null text — checked against the reference, whose
    shingles come from Spark's word_shingles."""
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5, 6],
        "text": ["", "a b", "a  b c ", " leading space here", None,
                 "one two three four"],
    })
    df = spark.createDataFrame(pdf, schema="doc_id long, text string")
    want = minhash_reference(df, n_hashes=4)
    assert want["doc_id"].tolist() == [3, 4, 6]
    assert _sig_frame(dedup.minhash_signature(df, n_hashes=4)) == \
        (want["doc_id"].tolist(), want["sig"].tolist())
