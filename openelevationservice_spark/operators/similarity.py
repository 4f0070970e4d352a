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
product of a kernel is a sequential-in-dimension numpy fold of doubles
(:func:`_fold_dots` over all pairs, :func:`_fold_rows` row by row), the
IEEE-754 order of DuckDB's ``list_reduce``; every norm is checked by
:func:`_nonzero`, which names a zero-norm vector (its cosine is 0/0).
Every kernel is a ``mapInArrow`` function: :func:`_pair_sims` scores
candidate pairs, :func:`_with_columns` adds computed columns.

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
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions.arrow_batches import (binary_array, binary_buffers, list_array,
                                       list_offsets, record_batch)
from ..plans.cache import lease

#: cap on driver-collected query rows for the brute-force paths — the
#: query side is broadcast-in-closure by design; beyond this, use the
#: bucketed (LSH/IVF) operators whose query side never funnels through
#: the driver.
MAX_DRIVER_QUERIES = 10_000

#: k-means of the IVF quantizer (:func:`ivf_train_centroids`): rounds,
#: and the rows of the ordered-by-id sample it trains on
KMEANS_ITERS = 5
KMEANS_SAMPLE = 4096

#: float slop of :func:`exact_nn`'s list-pruning bound (it only ever
#: keeps more candidate lists)
NN_PRUNE_MARGIN = 1e-9


def _fold_dots(mat: np.ndarray, rows: np.ndarray) -> np.ndarray:
    """(n, m) dot products of every row of ``mat`` with every row of
    ``rows`` as a sequential-in-dimension fold: acc = ((0 + x₀y₀) +
    x₁y₁) + …, the IEEE order of DuckDB's ``list_reduce`` (a matmul's
    blocked summation could round a near-zero dot to the other sign)."""
    acc = np.zeros((mat.shape[0], rows.shape[0]))
    for i in range(mat.shape[1]):
        acc += mat[:, i, None] * rows[:, i]
    return acc


def _fold_rows(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot products of two (n, dim) matrices as the same fold."""
    acc = np.zeros(a.shape[0])
    for i in range(a.shape[1]):
        acc += a[:, i] * b[:, i]
    return acc


def _nonzero(norms: np.ndarray, ids: pa.Array) -> np.ndarray:
    """``norms``, after raising ``ValueError`` naming the id of the first
    vector whose norm is 0 (its cosine is 0/0)."""
    zero = np.flatnonzero(norms == 0)
    if len(zero):
        raise ValueError(f"vector {ids[int(zero[0])].as_py()!r} has norm 0: "
                         f"its cosine similarity is undefined")
    return norms


def _norms(mat: np.ndarray, ids: pa.Array) -> np.ndarray:
    """Row norms of ``mat`` as an IEEE sqrt of the fold sum of squares,
    checked by :func:`_nonzero`."""
    return _nonzero(np.sqrt(_fold_rows(mat, mat)), ids)


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


def _carry_topk(tables, k: int, q: str, s: str, c: str) -> pa.Table | None:
    """Running top-k over a stream of Arrow tables: after every table the
    carry is cut back to ≤ k rows per query.  Top-k of carry ∪ table ==
    top-k of the union (a row outside some prefix's top-k is outside
    the whole stream's), so memory is O(q·k + batch).  The kept rows
    are a ``take`` of the input columns, so their types and nulls pass
    through untouched.  ``None`` when the stream is empty."""
    carry = None
    for t in tables:
        if carry is not None:
            t = pa.concat_tables([carry, t])
        carry = t.take(_topk_keep(*(t.column(n).to_numpy() for n in (q, s, c)), k))
    return carry


def _rank_topk(pruned: DataFrame, k: int, query_id: str, corpus_id: str) -> DataFrame:
    """The final per-query ``row_number`` window over the pruned rows."""
    w = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.col(corpus_id))
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def topk_per_query(scored: DataFrame, k: int, query_id: str, corpus_id: str) -> DataFrame:
    """Two-stage top-k of (query_id, corpus_id, sim) rows by ``sim``:
    shuffle-free per-partition prune, then one window.

    Stage 1 keeps each partition's local top-k per query (a
    ``mapInArrow`` over the three narrow score columns — values pass
    through bit-exact, only row selection happens) with ZERO shuffle;
    the final per-query ``row_number`` window then ranks only ≤ P·k
    survivors per query.  Output is identical to the single window (the
    true top-k rows are each top-k within their own partition).

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
    out = to_arrow_schema(schema)

    def prune(batches):
        carry = _carry_topk((pa.Table.from_batches([rb]) for rb in batches if rb.num_rows),
                            k, query_id, "sim", corpus_id)
        if carry is not None:
            for rb in carry.combine_chunks().to_batches():
                yield record_batch(out, rb.columns)

    return _rank_topk(scored.mapInArrow(prune, schema=schema), k, query_id, corpus_id)


def _with_columns(df: DataFrame, fields: list[T.StructField], compute) -> DataFrame:
    """``df`` plus the columns ``compute(rb)`` returns per Arrow batch (in
    ``fields``' order) as one ``mapInArrow`` kernel named after
    ``compute``; as in ``withColumn``, a field named like an input
    column replaces it in place."""
    new = {f.name: f for f in fields}
    schema = T.StructType([new.pop(f.name, f) for f in df.schema] + list(new.values()))
    out = to_arrow_schema(schema)
    names = [f.name for f in fields]

    def kernel(batches):
        for rb in batches:
            cols = dict(zip(names, compute(rb), strict=True))
            yield record_batch(out, [cols[n] if n in cols else rb.column(n)
                                     for n in schema.names])

    kernel.__name__ = compute.__name__
    return df.mapInArrow(kernel, schema)


def _pair_sims(pairs: DataFrame) -> DataFrame:
    """(query id, corpus id, ``sim``) of (query id, corpus id, query
    vector, corpus vector) rows in one ``mapInArrow`` kernel: sim =
    fold dot / (|q| · |c|) in float64, every term a sequential fold
    (:func:`_fold_rows`, :func:`_norms`), bit-identical to the SQL
    oracle's ``list_reduce`` cosine and to :func:`cosine_topk`."""
    schema = T.StructType(pairs.schema.fields[:2] + [T.StructField("sim", T.DoubleType())])
    out = to_arrow_schema(schema)

    def pair_sims(batches):
        for rb in batches:
            q_ids, c_ids = rb.column(0), rb.column(1)
            q = _unpack_list(rb.column(2)).astype(np.float64)
            c = _unpack_list(rb.column(3), q.shape[1]).astype(np.float64)
            sims = _fold_rows(q, c) / (_norms(q, q_ids) * _norms(c, c_ids))
            yield record_batch(out, [q_ids, c_ids, pa.array(sims)])

    return pairs.mapInArrow(pair_sims, schema)


#: element type of a packed vector column: written by :func:`pack_vectors`,
#: read by :func:`_unpack_binary`
PACKED_DTYPE = np.dtype("<f4")


def pack_vectors(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Replace an ``array<float/double>`` column with its fixed-width
    little-endian packed ``binary`` encoding (``PACKED_DTYPE``).

    At scale the embedding column is the transfer bottleneck of every
    scoring kernel: Arrow serialization of ``list<double>`` rows writes
    one offset + n element slots per row JVM-side (measured as the
    non-scaling term of ann_topk, BENCH/SCALE.md r4), while a packed
    binary row is a single buffer memcpy.  Pack ONCE at ingest/cache
    time; :func:`cosine_topk` detects the binary column and unpacks with
    ``np.frombuffer`` — float32 packing of a float32 source is lossless,
    so scores are bit-identical to the list path.
    """
    def pack(rb):
        mat = _unpack_list(rb.column(vec_col)).astype(PACKED_DTYPE)
        return [binary_array(np.full(len(mat), mat.shape[1] * PACKED_DTYPE.itemsize), mat)]

    return _with_columns(df, [T.StructField(vec_col, T.BinaryType())], pack)


def _unpack_binary(arr: "pa.Array", dim: int) -> np.ndarray:
    """View a fixed-width packed ``binary`` Arrow column as an (n, dim)
    matrix straight off the Arrow buffers — ZERO per-row python objects:
    the offsets buffer is read once and the shared data buffer is
    reinterpreted in place."""
    n = len(arr)
    off, data = binary_buffers(arr)
    if off[-1] - off[0] != n * dim * PACKED_DTYPE.itemsize:
        raise ValueError(
            f"packed vector column is not fixed-width ({dim} x {PACKED_DTYPE})")
    return data[off[0]:off[-1]].view(PACKED_DTYPE).reshape(n, dim)


def _unpack_list(arr: "pa.Array", dim: int | None = None) -> np.ndarray:
    """Flatten a ``list<float/double>`` Arrow column whose every row has
    ``dim`` values (by default, the first row's length) to an (n, dim)
    matrix — one contiguous child-buffer view (``flatten`` is a slice of
    the child array when offsets are contiguous), instead of one numpy
    object per row + ``np.stack``."""
    lengths = np.diff(list_offsets(arr))
    if dim is None:
        dim = int(lengths[0]) if len(lengths) else 0
    if (lengths != dim).any():
        raise ValueError("embedding lists are not fixed-length")
    return arr.flatten().to_numpy(zero_copy_only=False).reshape(len(arr), dim)


def cosine_topk(corpus_df: DataFrame, queries_df: DataFrame, k: int = 3) -> DataFrame:
    """Exact brute-force top-k of corpus (vec_id, embedding) for queries
    (q_id, q_vec): (q_id, rank, vec_id, sim).

    The query side is tiny by construction (it rides inside the scoring
    task); the scan over the corpus is embarrassingly parallel; the
    final per-query window ranks only ≤ P·k survivors.

    Scoring and the per-partition top-k prune are ONE ``mapInArrow``
    kernel over raw record batches: the corpus matrix is a view of the
    Arrow buffers.  Each batch is scored against every query with the
    sequential folds :func:`_fold_dots` and :func:`_norms` — the IEEE
    order of the SQL oracle's ``list_reduce`` and of :func:`_pair_sims`,
    so results are bit-exact across engines and operators.  A zero-norm
    query raises on the driver before any job runs, a zero-norm corpus
    row in the kernel.  A ``binary`` corpus column (packed vectors, see
    :func:`pack_vectors`) is detected automatically and unpacked in
    place; float32 packing of a float32 source is lossless, so the
    packed path is bit-identical to the list path too.
    Each batch takes one ``np.partition`` threshold per query (all
    queries at once, O(n) per batch); the rows at or above a query's
    k-th score go long-form through the same running carry and
    ``lexsort`` cut as :func:`topk_per_query` (:func:`_carry_topk`), and
    the same final window ranks the survivors.
    Rationale (BENCH/SCALE.md r4): the JVM Column fold it replaced is
    CodegenFallback, measured at ~95 % of query wall with a 0.75 scaling
    ceiling from single-JVM-heap allocation contention.
    """
    # The query side rides inside every scoring task (driver collect +
    # closure capture) — that is the operator's contract and only holds
    # for small query sets.  The LIMIT cap makes an oversized queries_df
    # fail loudly BEFORE it can materialize on the driver (one job, no
    # separate count action).
    qpdf = (queries_df.select("q_id", "q_vec")
            .limit(MAX_DRIVER_QUERIES + 1).toPandas())
    if len(qpdf) > MAX_DRIVER_QUERIES:
        raise ValueError(
            f"cosine_topk collects the query side to the driver; got > "
            f"{MAX_DRIVER_QUERIES} queries. For large query "
            f"sets use lsh_ann_topk/ivf_topk (bucketed equi-joins) or "
            f"score in chunks."
        )
    schema = T.StructType([
        T.StructField("q_id", queries_df.schema["q_id"].dataType),
        T.StructField("vec_id", corpus_df.schema["vec_id"].dataType),
        T.StructField("sim", T.DoubleType()),
    ])
    if not len(qpdf):
        # empty query set: empty result, correct schema
        rank = T.StructField("rank", T.IntegerType(), False)
        return corpus_df.sparkSession.createDataFrame(
            [], T.StructType(schema.fields[:1] + [rank] + schema.fields[1:]))
    out = to_arrow_schema(schema)
    q_ids = pa.array(qpdf["q_id"], type=out.field("q_id").type)
    qmat = np.stack([np.asarray(v, dtype=np.float64) for v in qpdf["q_vec"]])
    nq, dim = qmat.shape
    qn = _norms(qmat, q_ids)

    # packed-binary corpus (see pack_vectors): the Arrow transfer ships
    # one buffer memcpy per row instead of per-element list writes — the
    # measured non-scaling term of the list path (BENCH/SCALE.md) —
    # and the kernel unpacks with a single frombuffer per batch.
    is_packed = isinstance(corpus_df.schema["embedding"].dataType, T.BinaryType)

    def candidates(rb):
        # long-form (query index, corpus id, sim) rows at or above each
        # query's k-th score in this batch — all k-th ties included
        varr = rb.column(rb.schema.get_field_index("embedding"))
        mat = (_unpack_binary(varr, dim) if is_packed
               else _unpack_list(varr, dim)).astype(np.float64)
        sims = _fold_dots(mat, qmat) / (_norms(mat, rb.column("vec_id"))[:, None] * qn)
        n = len(mat)
        if n > k:
            rows, qi = np.nonzero(sims >= np.partition(sims, n - k, axis=0)[n - k])
        else:
            rows, qi = np.divmod(np.arange(n * nq), nq)
        return pa.table({"q": qi, "c": rb.column("vec_id").take(pa.array(rows)),
                         "s": sims[rows, qi]})

    def score_prune(batches):
        carry = _carry_topk((candidates(rb) for rb in batches if rb.num_rows),
                            k, "q", "s", "c")
        if carry is not None:
            for rb in carry.combine_chunks().to_batches():
                yield record_batch(out, [q_ids.take(rb.column("q")), rb.column("c"),
                                         rb.column("s")])

    pruned = corpus_df.select("vec_id", "embedding").mapInArrow(score_prune, schema)
    return _rank_topk(pruned, k, "q_id", "vec_id").select("q_id", "rank", "vec_id", "sim")


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
                    n_planes: int = 8) -> DataFrame:
    """Random-hyperplane LSH bucket id ``bucket``: bit p is set when the
    vector's dot product with hyperplane p
    (:func:`deterministic_hyperplanes` at its default seed) is positive.

    One ``mapInArrow`` kernel; each batch's dot products are a
    sequential-in-dimension fold (:func:`_fold_dots`), so buckets equal
    the SQL oracle's ``list_reduce`` sign bits exactly.
    """
    def bucket(rb):
        mat = _unpack_list(rb.column(vec_col)).astype(np.float64)   # (n, dim)
        planes = np.asarray(deterministic_hyperplanes(mat.shape[1], n_planes),
                            dtype=np.float64)                       # (p, dim)
        signs = _fold_dots(mat, planes) > 0                         # (n, p)
        return [pa.array((signs * (1 << np.arange(n_planes))).sum(axis=1).astype(np.int32))]

    return _with_columns(df, [T.StructField("bucket", T.IntegerType())], bucket)


def lsh_ann_topk(corpus_df: DataFrame, queries_df: DataFrame, k: int = 3,
                 n_planes: int = 8, probe_bits: int = 1) -> DataFrame:
    """Approximate top-k of corpus (vec_id, embedding) for queries (q_id,
    q_vec): bucket-equi-join + bucket-local brute force.

    ``probe_bits`` = multi-probe: each query also probes buckets at
    Hamming distance 1 in the first ``probe_bits`` sign bits (recall
    knob).  Candidate volume ~ corpus/2^p per probe — scale path.
    Both sides are bucketed by :func:`with_lsh_bucket`, the probes join
    the corpus on bucket id (broadcast query side), candidates are
    scored by :func:`_pair_sims` and ranked by :func:`topk_per_query`.
    """
    c = with_lsh_bucket(corpus_df.select("vec_id", "embedding"), "embedding", n_planes)
    q = with_lsh_bucket(queries_df.select("q_id", "q_vec"), "q_vec", n_planes)
    probes = [F.col("bucket")] + [
        F.col("bucket").bitwiseXOR(F.lit(1 << b)) for b in range(probe_bits)
    ]
    q = q.select("q_id", "q_vec", F.explode(F.array(*probes)).alias("bucket"))
    j = c.join(F.broadcast(q), "bucket")
    sims = _pair_sims(j.select("q_id", "vec_id", "q_vec", "embedding"))
    return topk_per_query(sims, k, "q_id", "vec_id").select("q_id", "rank", "vec_id", "sim")


# --- IVF (inverted-file) ANN — coarse-quantizer scale path -----------------

def ivf_train_centroids(corpus_df: DataFrame, n_centroids: int = 16) -> np.ndarray:
    """Train the IVF coarse quantizer: ``KMEANS_ITERS`` rounds of numpy
    k-means on a deterministic sample (ordered-by-id head) of corpus
    (vec_id, embedding).

    The quantizer is tiny (k x dim floats) and training it driver-side
    on a bounded sample is the standard IVF shape — at 10^12 rows the
    sample is still ``KMEANS_SAMPLE`` rows; only assignment is distributed.
    Initialization is the first ``n_centroids`` sample rows (seed-free,
    deterministic); empty clusters are re-seeded from the row with the
    worst quantization error.  Centroids are unit-norm (BLAS norms and
    matmul: they only choose the lists; every sim is a fold).
    """
    pdf = (corpus_df.select("vec_id", "embedding").orderBy("vec_id")
           .limit(KMEANS_SAMPLE).toPandas())
    x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)  # (n, dim)
    x_n = x / _nonzero(np.linalg.norm(x, axis=1), pa.array(pdf["vec_id"]))[:, None]
    cent = x_n[:n_centroids].copy()
    for _ in range(KMEANS_ITERS):
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
               nprobe: int = 1) -> DataFrame:
    """Attach the ``nprobe`` nearest inverted-list ids as ``ivf_list``
    (exploded so the join below is a plain equi-join).

    One ``mapInArrow`` kernel ranks the centroids by raw dot product
    (argmax over dots == argmax over cosines: the vector's norm does not
    change the order), computed as a sequential-in-dimension fold
    (:func:`_fold_dots`) and ordered by a stable argsort, so ties go to
    the lowest centroid id — the SQL oracle's ``ORDER BY dot DESC, l``.
    """
    cent = np.asarray(centroids, dtype=np.float64)  # closure-captured

    def lists(rb):
        mat = _unpack_list(rb.column(vec_col)).astype(np.float64)
        top = np.argsort(-_fold_dots(mat, cent), axis=1, kind="stable")[:, :nprobe]
        return [list_array(np.full(len(top), top.shape[1]), top.astype(np.int32).ravel())]

    listed = _with_columns(df, [T.StructField("ivf_list", T.ArrayType(T.IntegerType()))],
                           lists)
    return listed.withColumn("ivf_list", F.explode("ivf_list"))


def ivf_topk(corpus_df: DataFrame, queries_df: DataFrame, k: int = 3,
             n_centroids: int = 16, nprobe: int = 4,
             centroids: np.ndarray | None = None) -> DataFrame:
    """IVF approximate top-k of corpus (vec_id, embedding) for queries
    (q_id, q_vec): corpus rows live in exactly one inverted list; each
    query probes its ``nprobe`` nearest lists and brute-forces only them
    (equi-join on list id — candidate volume ~ nprobe/k of the corpus).
    ``nprobe == n_centroids`` degenerates to exact brute force.  Both
    sides are assigned by :func:`ivf_assign` (the corpus to its one
    nearest list), candidates are scored by :func:`_pair_sims` and
    ranked by :func:`topk_per_query`.
    ``centroids`` defaults to :func:`ivf_train_centroids`.
    """
    if centroids is None:
        centroids = ivf_train_centroids(corpus_df, n_centroids)
    c = ivf_assign(corpus_df.select("vec_id", "embedding"), centroids, "embedding",
                   nprobe=1)
    q = ivf_assign(queries_df.select("q_id", "q_vec"), centroids, "q_vec", nprobe=nprobe)
    j = c.join(F.broadcast(q), "ivf_list")
    sims = _pair_sims(j.select("q_id", "vec_id", "q_vec", "embedding"))
    return topk_per_query(sims, k, "q_id", "vec_id").select("q_id", "rank", "vec_id", "sim")


def ivf_seed_centroids(corpus_df: DataFrame, n_centroids: int = 16) -> np.ndarray:
    """Zero-iteration quantizer: the normalized first ``n_centroids``
    vectors of corpus (vec_id, embedding) by id.  Norms are
    :func:`_norms` (a sequential-fold sum of squares, NOT numpy pairwise
    summation, and an IEEE sqrt), so an external SQL engine's
    ``list_reduce`` reproduces every centroid bit-for-bit — this is the
    quantizer the oracle-checked contract query uses; the k-means
    quantizer (:func:`ivf_train_centroids`) is the production default and
    is unit-tested against full-probe brute force.
    """
    pdf = (corpus_df.select("vec_id", "embedding").orderBy("vec_id")
           .limit(n_centroids).toPandas())
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    return mat / _norms(mat, pa.array(pdf["vec_id"]))[:, None]


# --- exact all-pairs NN via IVF triangle-inequality pruning -----------------

def exact_nn(corpus_df: DataFrame, n_centroids: int = 16) -> DataFrame:
    """Exact nearest neighbor of EVERY corpus (vec_id, embedding) row — scale-safe.

    The all-pairs cross join is replaced by two equi-join phases with a
    provable pruning bound (standard exact IVF search, distributed):

    1. vectors are assigned to their nearest of k centroids (fold
       cosines, :func:`_fold_dots` over :func:`_norms`); phase 1 scores
       only same-list pairs → per-vector best candidate ``s1``;
    2. the angular triangle inequality θ(q,x) ≥ θ(q,c_l) − θmax_l gives
       per-list upper bound ``cos(max(0, θ(q,c_l) − θmax_l))`` on any
       sim in list l; lists whose bound can't beat ``s1`` are pruned
       (``NN_PRUNE_MARGIN`` absorbs float slop — pruning errs to MORE candidates,
       never fewer, so the result stays exact).  Survivor lists are
       scored through a plain (vector × list) equi-join.

    Both phases score by :func:`_pair_sims`: final sims are bit-identical
    to the brute-force oracle; only *which pairs get scored* is
    data-dependent.  Returns (vec_id, nn_id, sim), lowest-id tie-break.
    """
    cent = ivf_train_centroids(corpus_df, n_centroids)

    def centroid_sims(rb):
        mat = _unpack_list(rb.column("_v")).astype(np.float64)
        s = _fold_dots(mat, cent) / _norms(mat, rb.column("_id"))[:, None]  # (n, k)
        return [pa.array(s.argmax(axis=1).astype(np.int32)),
                list_array(np.full(len(s), len(cent)), s.ravel())]

    assigned = _with_columns(
        corpus_df.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v")),
        [T.StructField("_own", T.IntegerType()),
         T.StructField("_csims", T.ArrayType(T.DoubleType()))],
        centroid_sims)

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
    cand1 = _pair_sims(
        q.withColumn("_l", F.col("_qown")).join(c, "_l")
        .filter(F.col("_qid") != F.col("_cid"))
        .select("_qid", "_cid", "_qv", "_cv")
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
                & (bound >= F.coalesce(F.col("_s1"), F.lit(-1.0)) - F.lit(NN_PRUNE_MARGIN)))
        .select("_qid", "_qv", "_l")
    )
    cand2 = _pair_sims(probes.join(c, "_l").select("_qid", "_cid", "_qv", "_cv"))

    best = topk_per_query(cand1.unionByName(cand2), 1, "_qid", "_cid")
    return best.select(F.col("_qid").alias("vec_id"), F.col("_cid").alias("nn_id"), "sim")
