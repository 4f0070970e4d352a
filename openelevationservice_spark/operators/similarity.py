"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline (one ``mapInArrow``
scoring + prune kernel), LSH and IVF bucketed variants as the
approximate scale paths (candidate joins are equi-joins on bucket/list
keys, never cross joins), and an **exact** all-pairs nearest-neighbor
built on IVF triangle-inequality pruning (:func:`exact_nn`) — the
scale-safe embedding near-dup operator.  Each operator has one physical
shape, and it is the shape the DuckDB oracle checks.

Determinism: LSH hyperplanes and IVF centroids are derived from md5 /
deterministic k-means, so an external engine (the DuckDB oracle) can
reproduce bucketing bit-for-bit from injected literals.  Every dot
product — similarity values, LSH plane signs, IVF centroid ranks — is a
sequential-in-dimension fold of doubles, whether it runs as a Column
fold in the JVM or one of the two numpy folds (:func:`_fold_dots`,
:func:`_fold_sq`), so it has the same IEEE-754 result as DuckDB's
``list_reduce``.

Top-k extraction is two-stage: a shuffle-free per-partition prune
keeps each partition's local top-k per query, the final per-query
window ranks only P·k survivors — the full score set never funnels
through ≤|queries| partitions (that was a straggler by construction at
100× corpus).  There is one prune cut (:func:`_topk_keep`, a numpy
``lexsort`` over (query, -sim, corpus)) and one final window
(:func:`_rank_topk`), shared by :func:`topk_per_query` and
:func:`cosine_topk`.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.cache import lease

#: cap on driver-collected query rows for the brute-force paths — the
#: query side is broadcast-in-closure by design; beyond this, use the
#: bucketed (LSH/IVF) operators whose query side never funnels through
#: the driver.
MAX_DRIVER_QUERIES = 10_000


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def _fold_dots(mat: np.ndarray, rows: np.ndarray) -> np.ndarray:
    """(n, m) dot products of every row of ``mat`` with every row of
    ``rows`` as a sequential-in-dimension fold: acc = ((0 + x₀y₀) +
    x₁y₁) + …, the IEEE order of :func:`_dot` and of DuckDB's
    ``list_reduce`` (a matmul's blocked summation could round a
    near-zero dot to the other sign)."""
    acc = np.zeros((mat.shape[0], rows.shape[0]))
    for i in range(mat.shape[1]):
        acc += mat[:, i, None] * rows[:, i]
    return acc


def _fold_sq(mat: np.ndarray) -> np.ndarray:
    """Row-wise sum of squares as the same sequential fold — the IEEE
    order of :func:`_norm`'s ``aggregate``."""
    acc = np.zeros(mat.shape[0])
    for i in range(mat.shape[1]):
        acc += mat[:, i] * mat[:, i]
    return acc


def cosine_similarity_col(a, b):
    """cos(a, b) as a Column — sequential fold, deterministic order."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def _sort_key(a: np.ndarray) -> np.ndarray:
    """``a`` as a lexsort key: object-dtype ids (strings) become their
    ``pd.factorize(sort=True)`` codes; nulls get -1 and sort first, like
    Spark's ascending window order."""
    return pd.factorize(a, sort=True)[0] if a.dtype == object else a


def _topk_keep(q: np.ndarray, s: np.ndarray, c: np.ndarray, k: int) -> np.ndarray:
    """Indices of the rows ranked < k within their query under the total
    order (query asc, sim desc, corpus asc) — one ``lexsort`` and a
    vectorized rank-within-run.  (query, corpus) is a row key, so the
    order is total and the kept SET is unique, ties included."""
    qk = _sort_key(q)
    order = np.lexsort((_sort_key(c), -s.astype(np.float64, copy=False), qk))
    qs = qk[order]
    new_run = np.empty(len(qs), dtype=bool)
    new_run[:1] = True
    np.not_equal(qs[1:], qs[:-1], out=new_run[1:])
    starts = np.flatnonzero(new_run)
    rank = np.arange(len(qs)) - starts[np.cumsum(new_run) - 1]
    return np.sort(order[rank < k])


def _carry_topk(batches, k: int, q: str, s: str, c: str) -> dict | None:
    """Running top-k over a stream of column dicts (name → array): after
    every batch the carry is cut back to ≤ k rows per query.  Top-k of
    carry ∪ batch == top-k of the union (a row outside some prefix's
    top-k is outside the whole stream's), so memory is O(q·k + batch).
    ``None`` when the stream is empty."""
    carry = None
    for cols in batches:
        if carry is not None:
            cols = {n: np.concatenate([carry[n], a]) for n, a in cols.items()}
        keep = _topk_keep(cols[q], cols[s], cols[c], k)
        carry = {n: a[keep] for n, a in cols.items()}
    return carry


def _rank_topk(pruned: DataFrame, k: int, query_id: str, corpus_id: str,
               sim_col: str = "sim") -> DataFrame:
    """The final per-query ``row_number`` window over the pruned rows."""
    w = Window.partitionBy(query_id).orderBy(F.desc(sim_col), F.col(corpus_id))
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def topk_per_query(scored: DataFrame, k: int, query_id: str, corpus_id: str,
                   sim_col: str = "sim") -> DataFrame:
    """Two-stage top-k: shuffle-free per-partition prune, then one window.

    Stage 1 keeps each partition's local top-k per query (a
    ``mapInPandas`` over the three narrow score columns — values pass
    through bit-exact, only row selection happens) with ZERO shuffle;
    the final per-query ``row_number`` window then ranks only ≤ P·k
    survivors per query.  The full score set never crosses an exchange —
    a single per-query window funnels corpus×queries rows through
    ≤|queries| reducers, a straggler by construction at 100× corpus.
    Output is identical to the single window (the true top-k rows are
    each top-k within their own partition).

    The prune is incremental (:func:`_carry_topk`): after every Arrow
    batch the carry is cut back to ≤ q·k rows, so per-task memory is
    O(q·k + batch), independent of partition size.  The cut is one
    numpy ``lexsort`` on (query asc, sim desc, corpus asc) with a
    vectorized rank-within-run (:func:`_topk_keep`) — the same cut
    :func:`cosine_topk` runs; string ids sort by their factorized codes.

    ``scored`` should be pre-projected to (query_id, corpus_id, sim):
    extra columns are carried through the Arrow boundary and cost
    transfer volume.
    """
    schema = scored.schema
    cols = [f.name for f in schema.fields]

    def prune(batches):
        carry = _carry_topk(({n: pdf[n].to_numpy() for n in cols}
                             for pdf in batches if len(pdf)),
                            k, query_id, sim_col, corpus_id)
        yield pd.DataFrame(carry) if carry is not None else pd.DataFrame(columns=cols)

    return _rank_topk(scored.mapInPandas(prune, schema=schema),
                      k, query_id, corpus_id, sim_col)


def pack_vectors(df: DataFrame, vec_col: str = "embedding",
                 out_col: str | None = None,
                 dtype: str = "float32") -> DataFrame:
    """Replace an ``array<float/double>`` column with its fixed-width
    little-endian packed ``binary`` encoding.

    At scale the embedding column is the transfer bottleneck of every
    scoring kernel: Arrow serialization of ``list<double>`` rows writes
    one offset + n element slots per row JVM-side (measured as the
    non-scaling term of ann_topk, BENCH/SCALE.md r4), while a packed
    binary row is a single buffer memcpy.  Pack ONCE at ingest/cache
    time; :func:`cosine_topk` detects the binary column and unpacks with
    ``np.frombuffer`` — float32 packing of a float32 source is lossless,
    so scores are bit-identical to the list path.
    """
    out_col = out_col or vec_col
    np_dtype = np.dtype(dtype).newbyteorder("<")

    @F.pandas_udf(T.BinaryType())
    def pack(v: pd.Series) -> pd.Series:
        return pd.Series(
            [np.asarray(a, dtype=np_dtype).tobytes() for a in v], dtype=object
        )

    return df.withColumn(out_col, pack(F.col(vec_col)))


def _unpack_binary(arr: "pa.Array", dim: int, np_dtype: np.dtype) -> np.ndarray:
    """View a fixed-width packed ``binary`` Arrow column as an (n, dim)
    matrix straight off the Arrow buffers — ZERO per-row python objects.

    A ``mapInPandas`` conversion of a binary column would materialize
    one python ``bytes`` object per row; this reads the offsets buffer
    once and reinterprets the shared data buffer in place."""
    n = len(arr)
    w = dim * np_dtype.itemsize
    off_dtype = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    off = np.frombuffer(arr.buffers()[1], dtype=off_dtype)[arr.offset:arr.offset + n + 1]
    if off[-1] - off[0] != n * w:
        raise ValueError(
            f"packed vector column is not fixed-width ({dim} x {np_dtype})")
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
    return data[off[0]:off[-1]].view(np_dtype).reshape(n, dim)


def _unpack_list(arr: "pa.Array", dim: int) -> np.ndarray:
    """Flatten a fixed-length ``list<float>`` Arrow column to an
    (n, dim) matrix — one contiguous child-buffer view (``flatten`` is
    a slice of the child array when offsets are contiguous), instead of
    the ``mapInPandas`` route of one numpy object per row + ``np.stack``."""
    flat = arr.flatten().to_numpy(zero_copy_only=False)
    if flat.size != len(arr) * dim:
        raise ValueError("embedding lists are not fixed-length")
    return flat.reshape(len(arr), dim)


def cosine_topk(corpus_df: DataFrame, queries_df: DataFrame, k: int = 3,
                corpus_id: str = "vec_id", corpus_vec: str = "embedding",
                query_id: str = "q_id", query_vec: str = "q_vec",
                vec_dtype: str = "float32") -> DataFrame:
    """Exact brute-force top-k: (q_id, rank, vec_id, sim).

    The query side is tiny by construction (it rides inside the scoring
    task); the scan over the corpus is embarrassingly parallel; the
    final per-query window ranks only ≤ P·k survivors.

    Scoring and the per-partition top-k prune are ONE ``mapInArrow``
    kernel over raw record batches: the corpus matrix is a view of the
    Arrow buffers (no per-row python objects).  Each batch is scored
    against every query with the *sequential-in-dimension* folds
    :func:`_fold_dots` and :func:`_fold_sq` — the identical IEEE
    operation order as the SQL oracle's
    ``list_reduce`` and :func:`cosine_similarity_col` (acc = ((0 +
    x₀y₀) + x₁y₁) + …, norms as sequential squared sums, then one
    multiply and one divide), so results are bit-exact across engines.
    A ``binary`` corpus column (packed vectors, see :func:`pack_vectors`)
    is detected automatically and unpacked in place (``vec_dtype`` names
    the packed element type); float32 packing of a float32 source is
    lossless, so the packed path is bit-identical to the list path too.
    Each batch takes one ``np.partition`` threshold per query (all
    queries at once, O(n) per batch); the rows at or above a query's
    k-th score go long-form through the same running carry and
    ``lexsort`` cut as :func:`topk_per_query` (:func:`_carry_topk`), and
    the same final window ranks the survivors.
    Rationale (BENCH/SCALE.md r4 decomposition): the Column
    ``aggregate``/``zip_with`` fold over a cross join is
    CodegenFallback — interpreted, one boxed object per element — and
    was measured as ~95 % of query wall with a 0.75 scaling ceiling from
    single-JVM-heap allocation contention; the Arrow kernel runs in
    separate worker processes and sidesteps both.
    """
    # The query side rides inside every scoring task (driver collect +
    # closure capture) — that is the operator's contract and only holds
    # for small query sets.  The LIMIT cap makes an oversized queries_df
    # fail loudly BEFORE it can materialize on the driver (one job, no
    # separate count action).
    qpdf = (queries_df.select(query_id, query_vec)
            .limit(MAX_DRIVER_QUERIES + 1).toPandas())
    if len(qpdf) > MAX_DRIVER_QUERIES:
        raise ValueError(
            f"cosine_topk collects the query side to the driver; got > "
            f"{MAX_DRIVER_QUERIES} queries. For large query "
            f"sets use lsh_ann_topk/ivf_topk (bucketed equi-joins) or "
            f"score in chunks."
        )
    if not len(qpdf):
        # empty query set: empty result, correct schema
        schema = T.StructType([
            T.StructField(query_id, queries_df.schema[query_id].dataType),
            T.StructField("rank", T.IntegerType(), False),
            T.StructField(corpus_id, corpus_df.schema[corpus_id].dataType),
            T.StructField("sim", T.DoubleType()),
        ])
        return corpus_df.sparkSession.createDataFrame([], schema)
    qids = qpdf[query_id].to_numpy()
    qmat = np.stack([np.asarray(v, dtype=np.float64) for v in qpdf[query_vec]])
    nq, dim = qmat.shape
    qn = np.sqrt(_fold_sq(qmat))

    schema = T.StructType([
        T.StructField(query_id, queries_df.schema[query_id].dataType),
        T.StructField(corpus_id, corpus_df.schema[corpus_id].dataType),
        T.StructField("sim", T.DoubleType()),
    ])

    # packed-binary corpus (see pack_vectors): the Arrow transfer ships
    # one buffer memcpy per row instead of per-element list writes — the
    # measured non-scaling term of the list path (BENCH/SCALE.md) —
    # and the kernel unpacks with a single frombuffer per batch.
    is_packed = isinstance(corpus_df.schema[corpus_vec].dataType, T.BinaryType)
    np_dtype = np.dtype(vec_dtype).newbyteorder("<")

    def candidates(rb):
        # long-form (query index, corpus id, sim) rows at or above each
        # query's k-th score in this batch — all k-th ties included
        cids = rb.column(rb.schema.get_field_index(corpus_id)) \
                 .to_numpy(zero_copy_only=False)
        varr = rb.column(rb.schema.get_field_index(corpus_vec))
        mat = (_unpack_binary(varr, dim, np_dtype) if is_packed
               else _unpack_list(varr, dim)).astype(np.float64)
        sims = _fold_dots(mat, qmat) / (np.sqrt(_fold_sq(mat))[:, None] * qn)
        n = len(mat)
        if n > k:
            rows, qi = np.nonzero(sims >= np.partition(sims, n - k, axis=0)[n - k])
        else:
            rows, qi = np.divmod(np.arange(n * nq), nq)
        return {"q": qi, "c": cids[rows], "s": sims[rows, qi]}

    def score_prune(batches):
        carry = _carry_topk((candidates(rb) for rb in batches if rb.num_rows),
                            k, "q", "s", "c")
        if carry is None:
            return
        yield pa.RecordBatch.from_pandas(pd.DataFrame({
            query_id: qids[carry["q"]], corpus_id: carry["c"], "sim": carry["s"],
        }), preserve_index=False)

    pruned = corpus_df.select(corpus_id, corpus_vec).mapInArrow(score_prune, schema)
    return _rank_topk(pruned, k, query_id, corpus_id).select(
        query_id, "rank", corpus_id, "sim")


# --- LSH (random-hyperplane signs) -----------------------------------------

def deterministic_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[int]]:
    """Integer hyperplanes from md5 bytes (uniform in [-128, 127]) —
    reproducible by ANY engine from the (seed, plane, counter) recipe,
    which is what lets the DuckDB oracle re-derive LSH buckets as plain
    literals (a seeded numpy RNG was not reproducible in SQL)."""
    planes: list[list[int]] = []
    for p in range(n_planes):
        vals: list[int] = []
        ctr = 0
        while len(vals) < dim:
            h = hashlib.md5(f"{seed}:{p}:{ctr}".encode()).digest()
            vals.extend(b - 128 for b in h)
            ctr += 1
        planes.append(vals[:dim])
    return planes


def with_lsh_bucket(df: DataFrame, vec_col: str = "embedding",
                    n_planes: int = 8, seed: int = 42,
                    bucket_col: str = "bucket") -> DataFrame:
    """Random-hyperplane LSH bucket id: bit p is set when the vector's
    dot product with hyperplane p (:func:`deterministic_hyperplanes`) is
    positive.

    One scalar Arrow UDF; each batch's dot products are a
    sequential-in-dimension fold (:func:`_fold_dots`), so buckets equal
    the SQL oracle's ``list_reduce`` sign bits exactly.
    """
    @F.pandas_udf(T.IntegerType())
    def bucket(v: pd.Series) -> pd.Series:
        mat = np.stack(v.to_numpy()).astype(np.float64)  # (n, dim)
        planes = np.asarray(deterministic_hyperplanes(mat.shape[1], n_planes, seed),
                            dtype=np.float64)             # (p, dim)
        signs = _fold_dots(mat, planes) > 0               # (n, p)
        return pd.Series((signs * (1 << np.arange(n_planes))).sum(axis=1).astype(np.int32))

    return df.withColumn(bucket_col, bucket(F.col(vec_col)))


def lsh_ann_topk(corpus_df: DataFrame, queries_df: DataFrame, k: int = 3,
                 n_planes: int = 8, seed: int = 42, probe_bits: int = 1,
                 corpus_id: str = "vec_id", corpus_vec: str = "embedding",
                 query_id: str = "q_id", query_vec: str = "q_vec") -> DataFrame:
    """Approximate top-k: bucket-equi-join + bucket-local brute force.

    ``probe_bits`` = multi-probe: each query also probes buckets at
    Hamming distance 1 in the first ``probe_bits`` sign bits (recall
    knob).  Candidate volume ~ corpus/2^p per probe — scale path.
    Both sides are bucketed by :func:`with_lsh_bucket`, the probes join
    the corpus on bucket id (broadcast query side), candidates are
    scored by :func:`cosine_similarity_col` and ranked by
    :func:`topk_per_query`.
    """
    c = with_lsh_bucket(corpus_df.select(corpus_id, corpus_vec), corpus_vec,
                        n_planes, seed)
    q = with_lsh_bucket(queries_df.select(query_id, F.col(query_vec)), query_vec,
                        n_planes, seed)
    probes = [F.col("bucket")] + [
        F.col("bucket").bitwiseXOR(F.lit(1 << b)) for b in range(probe_bits)
    ]
    q = q.withColumn("probe", F.explode(F.array(*probes)))
    vec_d = F.transform(F.col(corpus_vec), lambda x: x.cast("double"))
    qvec_d = F.transform(F.col(query_vec), lambda x: x.cast("double"))
    j = (
        c.select(corpus_id, vec_d.alias("_cv"), F.col("bucket").alias("cbucket"))
        .join(F.broadcast(q.select(query_id, qvec_d.alias("_qv"), F.col("probe").alias("cbucket"))),
              "cbucket")
    )
    j = j.select(query_id, corpus_id,
                 cosine_similarity_col(F.col("_cv"), F.col("_qv")).alias("sim"))
    return topk_per_query(j, k, query_id, corpus_id).select(
        query_id, "rank", corpus_id, "sim"
    )


# --- IVF (inverted-file) ANN — coarse-quantizer scale path -----------------

def ivf_train_centroids(corpus_df: DataFrame, vec_col: str = "embedding",
                        id_col: str = "vec_id", n_centroids: int = 16,
                        iters: int = 5, sample_n: int = 4096) -> np.ndarray:
    """Train the IVF coarse quantizer: numpy k-means on a deterministic
    sample (ordered-by-id head).

    The quantizer is tiny (k x dim floats) and training it driver-side
    on a bounded sample is the standard IVF shape — at 10^12 rows the
    sample is still ``sample_n``; only assignment is distributed.
    Initialization is the first ``n_centroids`` sample rows (seed-free,
    deterministic); empty clusters are re-seeded from the row with the
    worst quantization error.  Centroids are unit-norm.
    """
    pdf = (corpus_df.select(id_col, vec_col).orderBy(id_col)
           .limit(sample_n).toPandas())
    x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)  # (n, dim)
    x_n = x / np.linalg.norm(x, axis=1, keepdims=True)
    cent = x_n[:n_centroids].copy()
    for _ in range(iters):
        sims = x_n @ cent.T                       # cosine on unit vectors
        assign = sims.argmax(axis=1)
        err = 1.0 - sims[np.arange(len(x_n)), assign]
        for c in range(n_centroids):
            members = x_n[assign == c]
            if len(members):
                m = members.sum(axis=0)
                cent[c] = m / np.linalg.norm(m)
            else:
                cent[c] = x_n[err.argmax()]
                err[err.argmax()] = -1.0
    return cent


def ivf_assign(df: DataFrame, centroids: np.ndarray, vec_col: str,
               nprobe: int = 1, list_col: str = "ivf_list") -> DataFrame:
    """Attach the ``nprobe`` nearest inverted-list ids (exploded so the
    join below is a plain equi-join).

    One scalar Arrow UDF ranks the centroids by raw dot product (argmax
    over dots == argmax over cosines: the vector's norm does not change
    the order), computed as a sequential-in-dimension fold
    (:func:`_fold_dots`) and ordered by a stable argsort, so ties go to
    the lowest centroid id — the SQL oracle's ``ORDER BY dot DESC, l``.
    """
    cent = np.asarray(centroids, dtype=np.float64)  # closure-captured

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def lists(v: pd.Series) -> pd.Series:
        mat = np.stack(v.to_numpy()).astype(np.float64)
        top = np.argsort(-_fold_dots(mat, cent), axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(top.astype(np.int32)))

    return df.withColumn(list_col, F.explode(lists(F.col(vec_col))))


def ivf_topk(corpus_df: DataFrame, queries_df: DataFrame, k: int = 3,
             n_centroids: int = 16, nprobe: int = 4, iters: int = 5,
             corpus_id: str = "vec_id", corpus_vec: str = "embedding",
             query_id: str = "q_id", query_vec: str = "q_vec",
             centroids: np.ndarray | None = None) -> DataFrame:
    """IVF approximate top-k: corpus rows live in exactly one inverted
    list; each query probes its ``nprobe`` nearest lists and brute-forces
    only those lists (equi-join on list id — candidate volume ~
    nprobe/k of the corpus).  ``nprobe == n_centroids`` degenerates to
    exact brute force.  Both sides are assigned by :func:`ivf_assign`
    (the corpus to its one nearest list), candidates are scored by
    :func:`cosine_similarity_col` and ranked by :func:`topk_per_query`.
    ``centroids`` defaults to :func:`ivf_train_centroids`.
    """
    if centroids is None:
        centroids = ivf_train_centroids(
            corpus_df, corpus_vec, corpus_id, n_centroids, iters
        )
    vec_d = F.transform(F.col(corpus_vec), lambda x: x.cast("double"))
    qvec_d = F.transform(F.col(query_vec), lambda x: x.cast("double"))
    c = ivf_assign(corpus_df.select(corpus_id, vec_d.alias("_cv")), centroids, "_cv",
                   nprobe=1)
    q = ivf_assign(queries_df.select(query_id, qvec_d.alias("_qv")), centroids, "_qv",
                   nprobe=nprobe)
    j = c.join(F.broadcast(q), "ivf_list")
    j = j.select(query_id, corpus_id,
                 cosine_similarity_col(F.col("_cv"), F.col("_qv")).alias("sim"))
    return topk_per_query(j, k, query_id, corpus_id).select(
        query_id, "rank", corpus_id, "sim"
    )


def ivf_seed_centroids(corpus_df: DataFrame, vec_col: str = "embedding",
                       id_col: str = "vec_id", n_centroids: int = 16) -> np.ndarray:
    """Zero-iteration quantizer: the normalized first ``n_centroids``
    vectors by id.  Norms are a sequential-fold sum of squares
    (:func:`_fold_sq`, NOT numpy pairwise summation) and an IEEE sqrt,
    so an external SQL engine's ``list_reduce`` reproduces every
    centroid bit-for-bit — this is the quantizer the oracle-checked
    contract query uses; the k-means quantizer
    (:func:`ivf_train_centroids`) is the production default and is
    unit-tested against full-probe brute force.
    """
    pdf = (corpus_df.select(id_col, vec_col).orderBy(id_col)
           .limit(n_centroids).toPandas())
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    return mat / np.sqrt(_fold_sq(mat))[:, None]


# --- exact all-pairs NN via IVF triangle-inequality pruning -----------------

def exact_nn(corpus_df: DataFrame, id_col: str = "vec_id",
             vec_col: str = "embedding", n_centroids: int = 16,
             iters: int = 5, margin: float = 1e-9) -> DataFrame:
    """Exact nearest neighbor for EVERY corpus vector — scale-safe.

    The all-pairs cross join is replaced by two equi-join phases with a
    provable pruning bound (standard exact IVF search, distributed):

    1. vectors are assigned to their nearest of k centroids (one arrow
       matmul); phase 1 scores only same-list pairs → per-vector best
       candidate ``s1``;
    2. the angular triangle inequality θ(q,x) ≥ θ(q,c_l) − θmax_l gives
       per-list upper bound ``cos(max(0, θ(q,c_l) − θmax_l))`` on any
       sim in list l; lists whose bound can't beat ``s1`` are pruned
       (``margin`` absorbs float slop — pruning errs to MORE candidates,
       never fewer, so the result stays exact).  Survivor lists are
       scored through a plain (vector × list) equi-join.

    Final sims are sequential-fold doubles — bit-identical to the
    brute-force oracle; only *which pairs get scored* is data-dependent.
    Returns (id, nn_id, sim) with deterministic lowest-id tie-break.
    """
    centroids = ivf_train_centroids(corpus_df, vec_col, id_col, n_centroids, iters)
    cent = centroids
    k = len(centroids)

    sims_schema = T.StructType([
        T.StructField("own", T.IntegerType()),
        T.StructField("csims", T.ArrayType(T.DoubleType())),
    ])

    @F.pandas_udf(sims_schema)
    def centroid_sims(v: pd.Series) -> pd.DataFrame:
        mat = np.stack(v.to_numpy()).astype(np.float64)
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        s = mat @ cent.T                          # (n, k) cosines
        return pd.DataFrame({
            "own": s.argmax(axis=1).astype(np.int32),
            "csims": list(s),
        })

    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    assigned = (
        corpus_df.select(F.col(id_col).alias("_id"), vec_d.alias("_v"))
        .withColumn("_cs", centroid_sims(F.col("_v")))
        .select("_id", "_v", F.col("_cs.own").alias("_own"),
                F.col("_cs.csims").alias("_csims"))
    )

    # per-list max angle to its centroid (tiny: k rows, broadcast below)
    theta_own = F.acos(F.least(F.lit(1.0), F.greatest(
        F.lit(-1.0), F.element_at("_csims", F.col("_own") + 1))))
    list_stats = (
        assigned.select(F.col("_own").alias("_l"), theta_own.alias("_th"))
        .groupBy("_l").agg(F.max("_th").alias("_theta_max"))
    )

    q = assigned.select(F.col("_id").alias("_qid"), F.col("_v").alias("_qv"),
                        F.col("_own").alias("_qown"), "_csims")
    c = assigned.select(F.col("_id").alias("_cid"), F.col("_v").alias("_cv"),
                        F.col("_own").alias("_l"))

    # phase 1: same-list candidates
    cand1 = (
        q.withColumn("_l", F.col("_qown")).join(c, "_l")
        .filter(F.col("_qid") != F.col("_cid"))
        .select("_qid", "_cid",
                cosine_similarity_col(F.col("_qv"), F.col("_cv")).alias("sim"))
    )
    # one storage generation per session regardless of how many times
    # exact_nn is called (lease supersedes the previous call's persists)
    lease("exact_nn", assigned, cand1)
    s1 = cand1.groupBy("_qid").agg(F.max("sim").alias("_s1"))

    # phase 2: lists whose bound survives s1 (vectors alone in their list
    # have no s1 → coalesce(-1) keeps every list = the rescue path)
    theta_q = F.acos(F.least(F.lit(1.0), F.greatest(F.lit(-1.0), F.col("_csim"))))
    bound = F.cos(F.greatest(F.lit(0.0), theta_q - F.col("_theta_max")))
    probes = (
        q.select("_qid", "_qv", "_qown", F.posexplode("_csims").alias("_l", "_csim"))
        .join(F.broadcast(list_stats), "_l")
        .join(s1, "_qid", "left")
        .filter((F.col("_l") != F.col("_qown"))
                & (bound >= F.coalesce(F.col("_s1"), F.lit(-1.0)) - F.lit(margin)))
        .select("_qid", "_qv", "_l")
    )
    cand2 = probes.join(c, "_l").select(
        "_qid", "_cid",
        cosine_similarity_col(F.col("_qv"), F.col("_cv")).alias("sim"),
    )

    best = topk_per_query(cand1.unionByName(cand2), 1, "_qid", "_cid")
    return best.select(F.col("_qid").alias(id_col), F.col("_cid").alias("nn_id"), "sim")
