"""Deduplication operators for large-scale training-data pipelines.

Not part of the reference (a request/response elevation service), but
first-class for the 100 TB engine: exact dedup, MinHash+LSH candidate
generation, connected-component clustering, n-gram Jaccard verification
and SimHash, each checked by an ANSI-SQL DuckDB oracle.  Every operator
has one physical shape (connected components picks its driver or
distributed path from the pair count).  All of them are DataFrame/Column
expressions (JVM-side, whole-stage codegen) except the MinHash
signature, which is one ``mapInArrow`` kernel: shingle construction and
md5 per shingle through interpreted higher-order Column functions cost
about an order of magnitude more than python ``hashlib`` behind a single
Arrow boundary.

Hash choice: md5 (available and bit-identical in Spark and DuckDB).
MinHash hashes each shingle once (md5 hex prefix → 32-bit int, the same
conv trick the simhash oracle uses) and derives the n hash functions as
integer permutations ``h_i(x) = (a_i*x + b_i) mod 2^31-1`` — the
standard universal min-wise family, int64 arithmetic after one md5 and
expressible in the oracle SQL.
"""

from __future__ import annotations

import hashlib
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions.arrow_batches import list_array, record_batch

#: modulus of the permutation family (Mersenne prime 2^31 - 1).
#: overflow audit: a < 2^31-1, x < 2^32 → a*x + b < 2^63 - 2^31 + 2^31
#: = fits int64 in both Spark and DuckDB (max product 9.2233716e18 vs
#: int64 max 9.2233720e18 — tight but safe, do not widen a or x).
MERSENNE31 = (1 << 31) - 1


def minhash_perm_consts(n_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) permutation constants from md5 bytes —
    reproducible by ANY engine (the DuckDB oracle inlines them as
    literals), like similarity.deterministic_hyperplanes."""
    out = []
    for i in range(n_hashes):
        a = int(hashlib.md5(f"a:{i}".encode()).hexdigest()[:8], 16) % (MERSENNE31 - 1) + 1
        b = int(hashlib.md5(f"b:{i}".encode()).hexdigest()[:8], 16) % MERSENNE31
        out.append((a, b))
    return out


def exact_dedup(df: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup of documents(doc_id, text): one row per
    distinct text.

    Returns (text_hash, rep_id = min id, dup_count).  The groupBy is a
    partial+final hash agg — no row ships its full text twice.
    """
    return (
        df.select(F.md5(F.col("text")).alias("text_hash"), F.col("doc_id"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("rep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def word_shingles(text: Column, n: int) -> Column:
    """Array of word n-gram shingles (single-space tokenization).

    Matches DuckDB ``list_transform(generate_series(1, len(words)-n+1),
    k -> array_to_string(words[k:k+n-1], ' '))`` exactly.
    """
    words = F.split(text, " ")
    n_sh = F.size(words) - F.lit(n - 1)
    seq = F.when(n_sh >= 1, F.sequence(F.lit(1), n_sh)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(seq, lambda k: F.concat_ws(" ", F.slice(words, k, n)))


def minhash_signature(df: DataFrame, n_hashes: int = 8, shingle_n: int = 3) -> DataFrame:
    """(doc_id, sig: array<bigint>) — per-doc MinHash signature of
    documents(doc_id, text).

    sig[i] = min over shingles of (a_i * md5prefix(shingle) + b_i) mod
    2^31-1 (see module docstring for the family).  MIN is
    duplicate-invariant, so no DISTINCT is needed over the shingles.
    Docs with no shingle (null, or fewer than ``shingle_n`` words)
    produce no row.

    One ``mapInArrow`` kernel, no exchange: per Arrow batch, python
    ``str.split``/``" ".join`` build the shingles, ``hashlib.md5``
    hashes each one, and one ``np.minimum.reduceat`` per hash function
    takes the per-doc mins; the signatures leave as one int64 values
    buffer (one list array over the batch's signature matrix).  Python
    ``split(" ")`` keeps leading, empty and trailing tokens exactly like
    Spark's regex split with limit -1 (:func:`word_shingles`), ``join``
    matches ``concat_ws`` over non-null strings, and the int64
    permutation arithmetic is
    overflow-audited (module docstring), so the signatures equal the SQL
    oracle's bit for bit.
    """
    consts = minhash_perm_consts(n_hashes)
    a_vec = np.array([a for a, _ in consts], dtype=np.int64)
    b_vec = np.array([b for _, b in consts], dtype=np.int64)
    out_schema = T.StructType([
        T.StructField("doc_id", df.schema["doc_id"].dataType),
        T.StructField("sig", T.ArrayType(T.LongType())),
    ])
    out_arrow = to_arrow_schema(out_schema)

    def kernel(batches):
        md5 = hashlib.md5
        for rb in batches:
            rows: list[int] = []
            hashes: list[int] = []
            counts: list[int] = []
            for row, text in enumerate(rb.column("text").to_pylist()):
                if text is None:
                    continue
                words = text.split(" ")
                m = len(words) - (shingle_n - 1)
                if m < 1:
                    continue
                hashes.extend(
                    int(md5(" ".join(words[k:k + shingle_n]).encode("utf-8"))
                        .hexdigest()[:8], 16)
                    for k in range(m)
                )
                rows.append(row)
                counts.append(m)
            if not rows:
                continue
            x = np.asarray(hashes, dtype=np.int64)
            starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
            sigs = np.empty((len(rows), n_hashes), dtype=np.int64)
            for i in range(n_hashes):
                # overflow audit in the module docstring: a*x + b < 2^63
                sigs[:, i] = np.minimum.reduceat(
                    (a_vec[i] * x + b_vec[i]) % MERSENNE31, starts)
            yield record_batch(out_arrow, [
                rb.column("doc_id").take(pa.array(rows, pa.int64())),
                list_array(np.full(len(rows), n_hashes), sigs.ravel())])

    return df.select("doc_id", "text").mapInArrow(kernel, out_schema)


def lsh_candidate_pairs(df: DataFrame, n_hashes: int = 8, bands: int = 4,
                        shingle_n: int = 3) -> DataFrame:
    """MinHash-LSH candidate pairs (id_a < id_b) of documents(doc_id,
    text) sharing >=1 band bucket.

    shingle → minhash → band → bucket-group: docs hash-partition by
    (band_idx, band_hash); pairs are generated *within buckets only*
    (never a cross join).  The bucket members are gathered with a
    ``collect_list`` aggregate and pairs exploded from the sorted list —
    a SINGLE scan of the signature subtree.  The former shape
    (self-equi-join of the banded signatures) scanned that subtree
    twice, because the two join sides' different projections defeat
    exchange reuse: measured 22.4 s vs the signature's 6.3 s at
    local[2]×8 replicas — the whole shingle+minhash pipeline ran twice
    plus the join.  Same output set, identical oracle.

    Pair volume per bucket is quadratic in bucket size in EITHER shape
    (that is LSH's contract — near-dup buckets are small by
    construction); the list gather additionally buffers only the ids,
    not the signatures.
    """
    rows_per_band = n_hashes // bands
    sig = minhash_signature(df, n_hashes, shingle_n)
    banded = sig.select(
        F.col("doc_id"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.md5(F.concat_ws("|", *[
                        F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)
                    ])).alias("band_hash"),
                )
                for b in range(bands)
            ])
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.band_hash")
    buckets = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    # all ordered pairs of the sorted bucket list: posexplode picks id_a,
    # slice takes everything after it as id_b candidates
    return (
        buckets.select(F.posexplode("ids").alias("_i", "id_a"), F.col("ids"))
        .select(
            "id_a",
            F.explode(F.slice("ids", F.col("_i") + 2, F.size("ids"))).alias("id_b"),
        )
        .distinct()
    )


def ngram_jaccard(df: DataFrame, pairs: DataFrame, shingle_n: int = 3) -> DataFrame:
    """Exact n-gram Jaccard similarity of documents(doc_id, text) for
    candidate pairs (id_a, id_b).

    Joins each side's *distinct shingle set* (array column) to the pair
    list — two broadcast-or-shuffle equi-joins, then pure array math.
    """
    sets = df.select(
        F.col("doc_id"),
        F.array_distinct(word_shingles(F.col("text"), shingle_n)).alias("sh_set"),
    )
    a = sets.select(F.col("doc_id").alias("id_a"), F.col("sh_set").alias("sh_a"))
    b = sets.select(F.col("doc_id").alias("id_b"), F.col("sh_set").alias("sh_b"))
    j = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return j.select(
        "id_a", "id_b",
        inter.alias("n_common"),
        union.alias("n_union"),
        F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias("jaccard"),
    )


def simhash(df: DataFrame, bits: int = 16) -> DataFrame:
    """(doc_id, simhash) — frequency-weighted SimHash of documents(doc_id,
    text) over word hashes (default 16-bit).

    word hash = int of the first 8 hex chars of md5 (same expression is
    valid in DuckDB: ``('0x' || substr(md5(w), 1, 8))::bigint``).
    """
    words = df.select(F.col("doc_id"), F.explode(F.split(F.col("text"), " ")).alias("w"))
    h = F.conv(F.substring(F.md5(F.col("w")), 1, 8), 16, 10).cast("bigint")
    words = words.withColumn("wh", h)
    votes = [
        F.sum(F.shiftright(F.col("wh"), b).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = words.groupBy("doc_id").agg(*votes)
    sim = None
    for b in range(bits):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return agg.select("doc_id", sim.cast("bigint").alias("simhash"))


def simhash_near_pairs(df: DataFrame, bits: int = 16, max_hamming: int = 2) -> DataFrame:
    """Near-dup pairs of documents(doc_id, text) by SimHash: block on bit
    chunks, verify Hamming.

    The signature is split into ``max_hamming + 1`` contiguous bit
    blocks; by pigeonhole, two signatures within Hamming distance
    ``max_hamming`` agree exactly on at least one block, so the
    block-equi-join is recall-complete (no missed pairs) while keeping
    the candidate set ~ n^2 / 2^(bits/(h+1)) per block — never an
    all-pairs cross join.
    """
    n_blocks = max_hamming + 1
    if n_blocks > bits:
        # zero-width blocks would key every row to 0, degenerating the
        # block equi-join into the all-pairs cross join this operator
        # promises never happens
        raise ValueError(
            f"max_hamming + 1 = {n_blocks} blocks need at least 1 bit each "
            f"(bits={bits})"
        )
    # contiguous blocks of floor/ceil(bits/n_blocks) bits covering all bits
    bounds = [round(i * bits / n_blocks) for i in range(n_blocks + 1)]
    s = simhash(df, bits)
    blocks = []
    for i in range(n_blocks):
        lo, hi = bounds[i], bounds[i + 1]
        key = F.shiftright(F.col("simhash"), lo).bitwiseAND(F.lit((1 << (hi - lo)) - 1))
        blocks.append(F.struct(F.lit(i).alias("blk"), key.alias("key")))
    blocked = s.select(
        F.col("doc_id"), F.col("simhash"),
        F.explode(F.array(*blocks)).alias("b"),
    ).select("doc_id", "simhash", "b.blk", "b.key")
    a = blocked.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"), "blk", "key")
    b = blocked.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"), "blk", "key")
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, ["blk", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


#: pair-count ceiling for the driver union-find fast path of
#: :func:`connected_components`.  The pair list is the LSH/SimHash
#: candidate output — already bounded by those operators' contracts —
#: and 2M (id, id) tuples collect to tens of MB, far under any driver
#: heap.  Below it, rounds × per-round distributed-job fixed cost (the
#: measured owner of dedup_clusters' small-corpus wall, BENCH/SCALE.md)
#: dwarfs the one collect; above it, the label-propagation loop's
#: per-round hash join is the scalable path.
CC_DRIVER_MAX_PAIRS = 2_000_000


def _driver_union_find(rows) -> dict:
    """Min-label union-find over collected (id_a, id_b) pairs: returns
    {endpoint: min id of its component}.  Path-halving find; O(E α(V))."""
    parent: dict = {}
    def find(x):
        r = x
        while parent[r] != r:
            parent[r] = parent[parent[r]]
            r = parent[r]
        return r
    for a, b in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    for v in parent:
        r = find(v)
        if r not in comp_min or v < comp_min[r]:
            comp_min[r] = v
    return {v: comp_min[find(v)] for v in parent}


def connected_components(pairs: DataFrame, ids: DataFrame,
                         id_col: str = "doc_id",
                         max_iters: int = 50,
                         driver_max_pairs: int = CC_DRIVER_MAX_PAIRS,
                         with_sizes: bool = False,
                         ids_unique: bool = False) -> DataFrame:
    """Duplicate-cluster assignment: (``id_col``, rep_id = min id of its
    connected component) over the near-dup pair graph — the step that
    turns candidate PAIRS into dedup GROUPS (keep one representative
    per cluster) in a production pipeline.

    The pair count picks one of two paths: at most ``driver_max_pairs``
    pairs run union-find on the driver (the fast path below); larger
    graphs run iterative min-label propagation, the standard distributed
    CC shape: every round each node takes the min label over itself and its
    neighbors (one shuffle per round); rounds needed = graph diameter,
    which for near-dup clusters is tiny (duplicate groups are
    near-cliques).  Each round ``localCheckpoint``s the label table —
    without it the self-referential plan grows exponentially — and
    convergence is an exact fixpoint test (count of changed labels,
    driver-side loop like GraphX/GraphFrames CC).  A long chain needs
    as many rounds as its length; ``max_iters`` bounds them and the loop
    raises if the labels have not converged by then.

    The fixpoint is the per-component min id — path-independent, which
    is what lets a recursive-CTE SQL oracle verify it exactly.

    The propagation loop runs over EDGE ENDPOINTS only: a node with no
    near-dup pair can never change its label, and at real dup rates the
    non-singleton fraction is small (this corpus: ~500 endpoints over
    40k docs) — iterating the full id table every round would multiply
    every round's join and the fixpoint count by the corpus size for
    rows that are no-ops by construction.  Singletons rejoin once at
    the end via ``coalesce(label, own id)``.

    **Small-graph fast path**: when the pair count is at most
    ``driver_max_pairs`` the pairs are collected and union-find runs on
    the driver (one job instead of rounds × 2 jobs) — the pair list is
    bounded by the LSH/SimHash candidate contract, and below the
    threshold the distributed loop's cost is pure per-round scheduling
    fixed cost, which a real cluster is no faster at either (measured:
    it owned dedup_clusters' 2→8-core efficiency, BENCH/SCALE.md).
    ``driver_max_pairs=0`` forces the distributed loop.  Both paths
    produce the identical (id, rep_id) fixpoint.

    ``ids_unique=True`` skips the defensive ``distinct`` over ``ids``
    — callers whose id column is a primary key by contract (a document
    corpus) save a full exchange + two aggregate stages (measured
    ~0.6 s of pure small-stage latency at the bench corpus; at scale it
    is a whole shuffle of the id table).  With duplicate ids and the
    flag set, output rows duplicate exactly as the input does.

    ``with_sizes=True`` adds ``cluster_size`` (count of the id's
    component, singletons = 1).  On the fast path the sizes are a
    Counter over the driver-resident labels and ride the SAME broadcast
    table — no extra exchange; the distributed loop falls back to one
    window over ``rep_id`` (the r5 shape).  Values are identical either
    way: every cluster member is an edge endpoint, so counting label
    occurrences counts the component.
    """
    nodes = ids.select(F.col(id_col).alias("_v"))
    if not ids_unique:
        nodes = nodes.distinct()
    # Materialize the pair list ONCE before symmetrizing: the union
    # below scans the ``pairs`` subtree twice (two different
    # projections — no exchange reuse), which would compute the whole
    # upstream plan (e.g. the MinHash-LSH pipeline) twice per call.
    # Measured at the bench corpus: halves the operator's wall.  Skip
    # (and NEVER unpersist) when the caller already persisted an
    # equivalent plan: unpersist() evicts by plan equality, so blindly
    # releasing "our" cache here would silently evict the caller's.
    p = pairs.select("id_a", "id_b")
    own_p = p.storageLevel.useMemory is False and p.storageLevel.useDisk is False
    if own_p:
        p.persist()
    # one count materializes the cache AND gates the fast path (the
    # distributed loop needs the materialized pair cache anyway; the
    # fixpoint rounds would re-count comparable volumes every 2 rounds)
    n_pairs = p.count()
    if n_pairs <= driver_max_pairs:
        try:
            # one collect job (size bounded by the threshold just
            # checked); toLocalIterator would pay a job per partition
            lbl = _driver_union_find((r[0], r[1]) for r in p.collect())
        finally:
            if own_p:
                p.unpersist()
        id_type = pairs.schema["id_a"].dataType
        # the labels go to the JVM as Arrow batches from a pandas frame:
        # a list of tuples would run a Python-worker stage to pickle rows
        # (one task per core, ~0.3 s each warm and seconds cold)
        vs, ls = list(lbl.keys()), list(lbl.values())
        csz = Counter(ls)
        labels = pairs.sparkSession.createDataFrame(
            pd.DataFrame({"_v": vs, "_lbl": ls, "_sz": [csz[l] for l in ls]}),
            T.StructType([T.StructField("_v", id_type),
                          T.StructField("_lbl", id_type),
                          T.StructField("_sz", T.LongType())]),
        )
        res = (
            nodes.join(F.broadcast(labels), "_v", "left")
            .select(F.col("_v").alias(id_col),
                    F.coalesce(F.col("_lbl"), F.col("_v")).alias("rep_id"),
                    F.coalesce(F.col("_sz"), F.lit(1).cast("long")).alias("cluster_size"))
        )
        return res if with_sizes else res.drop("cluster_size")
    # both directions; propagation includes the node's own label
    e = (
        p.select(F.col("id_a").alias("_v"), F.col("id_b").alias("_w"))
        .unionByName(p.select(F.col("id_b").alias("_v"), F.col("id_a").alias("_w")))
        .distinct()
    )
    # try/finally: the edge cache must not outlive the loop on ANY exit
    # path (non-convergence raise, a failed count() action) — leaked
    # executor storage in a long-lived session is the exact failure the
    # plans.cache lease layer exists to prevent (VERDICT r3 #4).
    e.persist()
    try:
        labels = (e.select("_v").distinct()
                  .select("_v", F.col("_v").alias("_lbl")).localCheckpoint())
        converged = False
        for it in range(max_iters):
            nbr_min = (
                e.join(labels.select(F.col("_v").alias("_w"), F.col("_lbl")), "_w")
                .groupBy("_v").agg(F.min("_lbl").alias("_nmin"))
            )
            new_labels = (
                labels.join(nbr_min, "_v", "left")
                .select("_v", F.least(F.col("_lbl"), F.coalesce(F.col("_nmin"), F.col("_lbl"))).alias("_lbl"))
                .localCheckpoint()
            )
            # Exact fixpoint test, batched: once labels stop changing every
            # later round is a no-op, so testing every other round (and on
            # the last) halves the driver-side count() jobs at the price of
            # at most one extra no-op propagation round.
            if it % 2 == 1 or it == max_iters - 1:
                changed = (
                    new_labels.alias("n")
                    .join(labels.alias("o"), "_v")
                    .filter(F.col("n._lbl") != F.col("o._lbl"))
                    .count()
                )
                if changed == 0:
                    labels = new_labels
                    converged = True
                    break
            labels = new_labels
        if not converged:
            raise RuntimeError(
                f"connected_components did not converge in {max_iters} rounds"
            )
    finally:
        e.unpersist()
        if own_p:
            p.unpersist()
    # singletons (no edges) are their own representative; one left join
    # against the converged endpoint labels reattaches them
    res = (
        nodes.join(labels, "_v", "left")
        .select(F.col("_v").alias(id_col),
                F.coalesce(F.col("_lbl"), F.col("_v")).alias("rep_id"))
    )
    return _with_window_sizes(res, id_col) if with_sizes else res


def _with_window_sizes(cc: DataFrame, id_col: str) -> DataFrame:
    """cluster_size via a window over rep_id — the distributed-path
    shape: ONE hash exchange, no driver-side materialization.  (A
    broadcast of the sizes table would bound the operator by driver
    memory — the sizes table has ~one row per document at low dup
    rates, i.e. it grows with the corpus, not the dup structure.)"""
    return cc.select(
        id_col, "rep_id",
        F.count(F.lit(1)).over(Window.partitionBy("rep_id")).alias("cluster_size"),
    )


def dedup_clusters(df: DataFrame, n_hashes: int = 8, bands: int = 4,
                   shingle_n: int = 3) -> DataFrame:
    """End-to-end near-dup grouping of documents(doc_id, text): LSH
    candidate pairs → connected components → (doc_id, rep_id,
    cluster_size).  ``rep_id`` is the cluster
    representative a curation pipeline keeps; singletons are their own
    representative.  Components come from :func:`connected_components`
    at its default ``driver_max_pairs`` (``CC_DRIVER_MAX_PAIRS``).

    ``df`` must hold one row per document: ``doc_id`` values are
    required to be unique.  The node set is taken as-is
    (``ids_unique=True``, no defensive distinct), so a duplicated id
    yields duplicated output rows; deduplicate ids first if the input
    does not guarantee this."""
    pairs = lsh_candidate_pairs(df, n_hashes, bands, shingle_n)
    # sizes ride the CC result: on the driver fast path they come off
    # the same broadcast labels table (no window exchange+sort at all);
    # the distributed loop keeps the one-exchange window shape
    # ids_unique: the corpus contract is one row per document, so the
    # defensive distinct over node ids is a no-op exchange here
    return connected_components(pairs, df.select("doc_id"), "doc_id",
                                with_sizes=True, ids_unique=True)
