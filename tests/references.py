"""Small numpy references shared by several test modules.

Each reference restates an operator's arithmetic in plain numpy, using
the same IEEE-754 operations in the same order as the Spark plan, so
the tests can demand bit-identical output.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from openelevationservice_spark.constants import (
    COORD_PRECISION, NCELL_X, NODATA, NUM_RANGES, TILE_DEG, WORLD_X0, WORLD_Y0)
from openelevationservice_spark.functions import cells, image_codec
from openelevationservice_spark.functions.dissolve import _band_keys, _edge_table
from openelevationservice_spark.functions.geometry import points_in_ring
from openelevationservice_spark.operators.dedup import (
    MERSENNE31, minhash_perm_consts, word_shingles)
from openelevationservice_spark.operators.similarity import deterministic_hyperplanes

DENSIFY_COLUMNS = ["line_id", "x1", "y1", "seq", "x", "y", "dist"]


def cell_xy(lon: np.ndarray, lat: np.ndarray):
    """(cx, cy) of ``functions.cells.cell_x_col``/``cell_y_col``: half-open
    tile-sized cells, y counting down from the north pole."""
    cx = np.floor((np.asarray(lon, dtype=np.float64) - WORLD_X0) / TILE_DEG).astype(np.int64)
    cy = np.floor((WORLD_Y0 - np.asarray(lat, dtype=np.float64)) / TILE_DEG).astype(np.int64)
    return cx, cy


def linear_id(cx: np.ndarray, cy: np.ndarray) -> np.ndarray:
    """Row-major cell id of ``functions.cells.linear_id_col``."""
    return np.asarray(cy, dtype=np.int64) * NCELL_X + np.asarray(cx, dtype=np.int64)


def column_cells(spark, lon: np.ndarray, lat: np.ndarray) -> pd.DataFrame:
    """(cx, cy, cell_id) per point, computed by the library's Column
    functions in one Spark job, in input order."""
    df = spark.createDataFrame(pd.DataFrame({
        "i": np.arange(len(lon), dtype=np.int64),
        "lon": np.asarray(lon, dtype=np.float64),
        "lat": np.asarray(lat, dtype=np.float64)}))
    lon_c, lat_c = F.col("lon"), F.col("lat")
    return (df.select("i", cells.cell_x_col(lon_c).alias("cx"),
                      cells.cell_y_col(lat_c).alias("cy"),
                      cells.cell_id_col(lon_c, lat_c).alias("cell_id"))
            .toPandas().sort_values("i").reset_index(drop=True))


def polygon_stats(pixels):
    """min/max/avg/count per polygon over pixel rows (reference
    ``querybuilder.py:84-88``) — the reference for
    ``operators.polygon.run_stats``."""
    return pixels.groupBy("poly_id").agg(
        F.min("z").alias("min_z"),
        F.max("z").alias("max_z"),
        F.avg("z").alias("avg_z"),
        F.count("*").alias("n_pixels"),
    )


def with_height_base(pixels, stats_df):
    """Pixel rows with the reference band arithmetic as JVM columns
    (G2), the same IEEE-double expression as the numpy band-split of
    ``operators.color._subrun_partial_frame``."""
    j = pixels.join(F.broadcast(stats_df.select("poly_id", "min_z", "max_z")), "poly_id")
    range_div = (F.col("max_z") - F.col("min_z") + F.lit(1)) / F.lit(float(NUM_RANGES))
    color_range = F.floor((F.col("z") - F.col("min_z")) / range_div)
    height_base = F.ceil(color_range * range_div + F.col("min_z"))
    return j.withColumn("height_base", height_base.cast("long"))


def densify_reference(pdf: pd.DataFrame) -> pd.DataFrame:
    """``operators.line.densify_lines`` over a pandas frame of
    (line_id, x1, y1, x2, y2): vertex rows P1, interior t = k·frac,
    P2, with the reference DISTINCT folded into the vertex count."""
    if not len(pdf):
        return pd.DataFrame({c: [] for c in DENSIFY_COLUMNS})
    x1 = pdf["x1"].to_numpy(np.float64)
    y1 = pdf["y1"].to_numpy(np.float64)
    x2 = pdf["x2"].to_numpy(np.float64)
    y2 = pdf["y2"].to_numpy(np.float64)
    dx = x2 - x1
    dy = y2 - y1
    ln = np.sqrt(dx * dx + dy * dy)
    with np.errstate(divide="ignore"):
        frac = np.where(ln == 0.0, 1.0, np.minimum(1.0, COORD_PRECISION / ln))
    n_int = np.where(ln == 0.0, 0, np.floor(1.0 / frac)).astype(np.int64)
    t_last = n_int * frac
    xl = x1 + t_last * dx
    yl = y1 + t_last * dy
    tail = (n_int >= 1) & ((t_last >= 1.0) | ((xl == x2) & (yl == y2)))
    n_keep = n_int - tail.astype(np.int64)
    p2 = (x2 != x1) | (y2 != y1)
    cnt = 1 + n_keep + p2.astype(np.int64)
    off = np.concatenate([[0], np.cumsum(cnt)])
    li = np.repeat(np.arange(len(pdf)), cnt)
    j = np.arange(off[-1]) - off[li]
    is_p1 = j == 0
    is_p2 = p2[li] & (j == cnt[li] - 1)
    t = j * frac[li]
    x = np.where(is_p1, x1[li], np.where(is_p2, x2[li], x1[li] + t * dx[li]))
    y = np.where(is_p1, y1[li], np.where(is_p2, y2[li], y1[li] + t * dy[li]))
    ddx = x - x1[li]
    ddy = y - y1[li]
    return pd.DataFrame({
        "line_id": pdf["line_id"].to_numpy(np.int64)[li],
        "x1": x1[li], "y1": y1[li],
        "seq": (j + 1).astype(np.int32),
        "x": x, "y": y,
        "dist": np.sqrt(ddx * ddx + ddy * ddy),
    })


def assert_densify_matches_reference(got: pd.DataFrame, lines: pd.DataFrame) -> None:
    """Row-for-row, bit-for-bit equality of a densify result with
    :func:`densify_reference` (both sorted by line_id, seq)."""
    key = ["line_id", "seq"]
    a = got[DENSIFY_COLUMNS].sort_values(key).reset_index(drop=True)
    b = densify_reference(lines).sort_values(key).reset_index(drop=True)
    assert len(a) == len(b)
    for c in DENSIFY_COLUMNS:
        assert (a[c].to_numpy() == b[c].to_numpy()).all(), c


def minhash_reference(df, id_col: str = "doc_id", text_col: str = "text",
                      n_hashes: int = 8, shingle_n: int = 3) -> pd.DataFrame:
    """``operators.dedup.minhash_signature`` of a Spark DataFrame, sorted
    by id.  The shingles are Spark's own :func:`word_shingles` output
    (so Spark's regex split defines the tokens), collected and hashed
    with ``hashlib`` md5 prefixes; sig[i] is the numpy min of
    (a_i * x + b_i) mod 2^31-1 over the doc's shingle hashes.  Docs
    without a shingle get no row."""
    rows = df.select(F.col(id_col).alias("id"),
                     word_shingles(F.col(text_col), shingle_n).alias("sh")).collect()
    ab = np.array(minhash_perm_consts(n_hashes), dtype=np.int64)
    ids, sigs = [], []
    for r in sorted(rows, key=lambda r: r.id):
        if not r.sh:
            continue
        x = np.array([int(hashlib.md5(sh.encode("utf-8")).hexdigest()[:8], 16)
                      for sh in r.sh], dtype=np.int64)
        sigs.append(((ab[:, :1] * x + ab[:, 1:]) % MERSENNE31).min(axis=1).tolist())
        ids.append(r.id)
    return pd.DataFrame({id_col: ids, "sig": sigs})


def fold_dot(u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Row-wise dot products of two (n, dim) float64 matrices (or a
    matrix and one vector) as a sequential fold over the dimension,
    acc = ((0 + u₀v₀) + u₁v₁) + …: the IEEE order of the library's numpy
    folds and of DuckDB's ``list_reduce``."""
    acc = np.zeros(len(u))
    for i in range(u.shape[1]):
        acc = acc + u[:, i] * v[..., i]
    return acc


def lsh_bucket_reference(vecs: np.ndarray, n_planes: int, seed: int = 42) -> np.ndarray:
    """``similarity.with_lsh_bucket``: bit p set when the fold dot with
    hyperplane p is positive."""
    planes = np.asarray(deterministic_hyperplanes(vecs.shape[1], n_planes, seed),
                        dtype=np.float64)
    bucket = np.zeros(len(vecs), dtype=np.int64)
    for p, plane in enumerate(planes):
        bucket += np.where(fold_dot(vecs, plane) > 0, 1 << p, 0)
    return bucket


def ivf_lists_reference(vecs: np.ndarray, centroids: np.ndarray,
                        nprobe: int) -> list[list[int]]:
    """``similarity.ivf_assign`` before the explode: per vector, the
    ``nprobe`` centroid ids ordered by fold dot descending, ties to the
    lower id (the oracle's ``ORDER BY dot DESC, l``)."""
    dots = np.stack([fold_dot(vecs, c) for c in centroids], axis=1)
    return [sorted(range(len(centroids)), key=lambda l: (-row[l], l))[:nprobe]
            for row in dots]


def cosine_topk_reference(ids, vecs: np.ndarray, q_ids, q_vecs: np.ndarray,
                          k: int) -> pd.DataFrame:
    """``similarity.cosine_topk``: (q_id, rank, vec_id, sim) with sim =
    dot / (sqrt(|c|²) * sqrt(|q|²)), every term a fold; ranks order by
    sim descending, then corpus id."""
    cnorm = np.sqrt(fold_dot(vecs, vecs))
    out = []
    for qid, q in zip(q_ids, q_vecs):
        sims = fold_dot(vecs, q) / (cnorm * np.sqrt(fold_dot(q[None, :], q)[0]))
        order = sorted(range(len(ids)), key=lambda i: (-sims[i], ids[i]))[:k]
        out += [(qid, r + 1, ids[i], sims[i]) for r, i in enumerate(order)]
    return pd.DataFrame(out, columns=["q_id", "rank", "vec_id", "sim"])


def one_band_keys(gx: np.ndarray, gy: np.ndarray):
    """``functions.dissolve._band_keys`` of a single non-empty cell set."""
    n = len(gx)
    return _band_keys(np.zeros(n, dtype=np.int64), gx, gy, np.array([0, n]))


def _loop_arrays(loop):
    """(x1, y1, x2, y2) edge arrays of a loop (not closed)."""
    a = np.asarray(loop, dtype=np.float64)
    b = np.roll(a, -1, axis=0)
    return a[:, 0], a[:, 1], b[:, 0], b[:, 1]


def _point_in_loop(px: float, py: float, arrs) -> bool:
    """Even-odd point-in-loop test over a loop's edge arrays."""
    x1, y1, x2, y2 = arrs
    cross = (y1 > py) != (y2 > py)
    if not cross.any():
        return False
    xint = x1[cross] + (py - y1[cross]) / (y2[cross] - y1[cross]) * (x2[cross] - x1[cross])
    return bool(int((px < xint).sum()) & 1)


def dissolve_pixels_rings(gx: np.ndarray, gy: np.ndarray):
    """Reference for ``functions.dissolve.batch_rings`` on one band: a
    Python walk of the edge table's successor permutation in edge-id
    order, holes attached by point-in-loop tests.

    Returns ``(polys, areas2)``: ``polys`` is a list of polygons, each a
    list of closed rings (first = outer shell CCW, rest = holes CW) of
    integer (x, y) grid-corner vertices; ``areas2`` mirrors it with
    twice every ring's signed shoelace area (shell +, hole −).  A hole
    no shell contains is dropped."""
    if len(gx) == 0:
        return [], []
    ck, x0b, y0b = one_band_keys(gx, gy)
    succ, _, tx, ty, contrib, _ = _edge_table(ck)
    succ = succ.tolist()
    gxl = (tx + int(x0b[0])).tolist()
    gyl = (ty + int(y0b[0])).tolist()
    cl = contrib.tolist()
    visited = bytearray(len(succ))
    shells, holes = [], []
    for s in range(len(succ)):
        if visited[s]:
            continue
        loop = []
        a = 0
        cur = s
        while not visited[cur]:
            visited[cur] = 1
            loop.append((gxl[cur], gyl[cur]))
            a += cl[cur]
            cur = succ[cur]
        if a > 0:
            shells.append((loop, a))
        elif a < 0:
            holes.append((loop, a))

    polys = [{"shell": lp, "area2": a, "holes": [], "sarr": _loop_arrays(lp)}
             for lp, a in shells]
    for hl, ha in holes:
        # attach to the smallest shell containing the hole's first vertex
        hx, hy = hl[0]
        candidates = [
            p for p in polys if _point_in_loop(hx + 1e-9, hy + 1e-9, p["sarr"])
            or _point_in_loop(hx - 1e-9, hy + 1e-9, p["sarr"])
        ]
        if candidates:
            min(candidates, key=lambda p: p["area2"])["holes"].append((hl, ha))

    out, out_areas = [], []
    for p in polys:
        out.append([p["shell"] + [p["shell"][0]]] + [h + [h[0]] for h, _ in p["holes"]])
        out_areas.append([p["area2"]] + [ha for _, ha in p["holes"]])
    return out, out_areas


def dissolve_pixels(gx: np.ndarray, gy: np.ndarray):
    """Rings only of :func:`dissolve_pixels_rings`: a list of polygons,
    each a list of closed rings (shell CCW, holes CW)."""
    return dissolve_pixels_rings(gx, gy)[0]


def _signed_area2(loop) -> int:
    """Twice the shoelace signed area (integer-exact)."""
    s = 0
    n = len(loop)
    for i in range(n):
        x1, y1 = loop[i]
        x2, y2 = loop[(i + 1) % n]
        s += x1 * y2 - x2 * y1
    return s


def dissolve_area_px(polys) -> float:
    """Total area (in pixel units) of a dissolve result."""
    total = 0.0
    for rings in polys:
        for ring in rings:
            total += _signed_area2(ring[:-1]) / 2.0
    return total


def _dense_grid(gx: np.ndarray, gy: np.ndarray):
    """Boolean occupancy grid over the cell bbox + its origin."""
    x0 = int(gx.min())
    y0 = int(gy.min())
    g = np.zeros((int(gy.max()) - y0 + 1, int(gx.max()) - x0 + 1), dtype=bool)
    g[gy - y0, gx - x0] = True
    return g, x0, y0


def _n_components(g: np.ndarray, conn: int) -> int:
    """Connected components of a boolean grid (conn ∈ {4, 8}) — adjacency
    pairs extracted with numpy shifts, merged with union-find."""
    n = int(g.sum())
    if n == 0:
        return 0
    idx = np.full(g.shape, -1, dtype=np.int64)
    idx[g] = np.arange(n)
    parent = np.arange(n)

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    shifts = [((slice(None), slice(None, -1)), (slice(None), slice(1, None))),
              ((slice(None, -1), slice(None)), (slice(1, None), slice(None)))]
    if conn == 8:
        shifts += [((slice(None, -1), slice(None, -1)), (slice(1, None), slice(1, None))),
                   ((slice(None, -1), slice(1, None)), (slice(1, None), slice(None, -1)))]
    for sa, sb in shifts:
        m = g[sa] & g[sb]
        for a, b in zip(idx[sa][m].tolist(), idx[sb][m].tolist()):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[rb] = ra
    return len({find(a) for a in range(n)})


def label_counts(gx: np.ndarray, gy: np.ndarray) -> tuple[int, int, int, int]:
    """(C4, C8, H4, H8) for the cell set: foreground components under 4-
    and 8-connectivity, and background holes under 4- and 8-connectivity
    (bounded background components inside a 1-cell-padded bbox, minus
    the single outer component).

    These are the Euler-number building blocks — Gray's quad-count
    formula gives χ4 = C4 − H8 = (Q1 − Q3 + 2·QD)/4 and
    χ8 = C8 − H4 = (Q1 − Q3 − 2·QD)/4, which is how the SQL oracle
    verifies the dissolve (contract query ``color_dissolve``).
    """
    g, _, _ = _dense_grid(np.asarray(gx), np.asarray(gy))
    bg = ~np.pad(g, 1)
    return (
        _n_components(g, 4),
        _n_components(g, 8),
        _n_components(bg, 4) - 1,
        _n_components(bg, 8) - 1,
    )


def ring_to_arrays(ring) -> tuple[np.ndarray, np.ndarray]:
    """list of (lon, lat) pairs / dicts → (xs, ys) float64 arrays (closed)."""
    if len(ring) and isinstance(ring[0], dict):
        xs = np.array([p["lon"] for p in ring], dtype=np.float64)
        ys = np.array([p["lat"] for p in ring], dtype=np.float64)
    else:
        arr = np.asarray(ring, dtype=np.float64)
        xs, ys = arr[:, 0], arr[:, 1]
    if xs[0] != xs[-1] or ys[0] != ys[-1]:
        xs = np.append(xs, xs[0])
        ys = np.append(ys, ys[0])
    return xs, ys


def is_axis_rect(rx: np.ndarray, ry: np.ndarray) -> bool:
    """True iff the closed ring is exactly an axis-aligned rectangle
    (4 edges, each axis-parallel, corners = bbox corners) — one ring at
    a time, the reference of ``operators.polygon._axis_rects``."""
    if len(rx) != 5:
        return False
    dx = np.diff(rx)
    dy = np.diff(ry)
    if not np.all((dx == 0.0) | (dy == 0.0)):
        return False
    corners = set(zip(rx[:4].tolist(), ry[:4].tolist()))
    x0, x1 = float(rx.min()), float(rx.max())
    y0, y1 = float(ry.min()), float(ry.max())
    return corners == {(x0, y0), (x0, y1), (x1, y0), (x1, y1)}


RUN_COLUMNS = ["poly_id", "gy", "gx0", "len", "z"]


def pair_runs_reference(pairs: pd.DataFrame) -> pd.DataFrame:
    """The polygon rasterizer one (polygon, tile) row at a time: decode
    the tile, mask the centroids the ring covers (an interval test for
    an exact axis-aligned rectangle, ``points_in_ring`` otherwise) and
    not NODATA, and cut each scanline of the mask into runs.  Rows
    carry the columns of ``operators.polygon.polygon_tile_join``;
    returns (poly_id, gy, gx0, len, z) per run, z as a tuple, in row
    then (y, x0) order."""
    out = []
    for data, fmt, w, h, ul_x, ul_y, px, ring, pid in zip(
            pairs["bytes"], pairs["fmt"], pairs["w"], pairs["h"], pairs["ul_x"],
            pairs["ul_y"], pairs["px"], pairs["ring"], pairs["poly_id"]):
        grid = image_codec.decode(data, fmt, int(w), int(h))
        cxv = ul_x + (np.arange(w) + 0.5) * px
        cyv = ul_y - (np.arange(h) + 0.5) * px
        rx, ry = ring_to_arrays(ring)
        if is_axis_rect(rx, ry):
            mask = (((cyv >= ry.min()) & (cyv <= ry.max()))[:, None]
                    & ((cxv >= rx.min()) & (cxv <= rx.max()))[None, :])
        else:
            mask = points_in_ring(np.broadcast_to(cxv, (h, w)).ravel(),
                                  np.repeat(cyv, w), rx, ry).reshape(h, w)
        mask &= grid != NODATA
        tx = int(round((ul_x - WORLD_X0) / TILE_DEG))
        ty = int(round((WORLD_Y0 - ul_y) / TILE_DEG))
        d = np.diff(np.pad(mask, ((0, 0), (1, 1))).astype(np.int8), axis=1)
        ys, xs0 = np.nonzero(d == 1)
        _, xs1 = np.nonzero(d == -1)
        for y, x0, x1 in zip(ys.tolist(), xs0.tolist(), xs1.tolist()):
            out.append((int(pid), ty * h + y, tx * w + x0, x1 - x0,
                        tuple(grid[y, x0:x1].tolist())))
    return pd.DataFrame(out, columns=RUN_COLUMNS)
