"""Pixel-square dissolve — exact, shapely-free ``unary_union``.

The reference unions pixel squares per elevation band with shapely
(reference ``server/api/elevation_query_area_union.py:53-57``).  Our
inputs are axis-aligned unit squares on the shared integer pixel grid,
so the union is exact combinatorics, not floating-point geometry:

1. every pixel side not shared with another pixel of the set is a
   boundary edge, directed so the interior is on its LEFT;
2. directed edges stitch into closed loops (at pinch vertices the
   left-most turn keeps loops simple);
3. loop orientation (shoelace sign) separates outer shells (CCW, +)
   from holes (CW, −); holes attach to the smallest enclosing shell.

Edge-connected pixel regions become one polygon; corner-touching
regions become separate polygons (GEOS's union yields a MultiPolygon
there as well).

One edge table (:func:`_edge_table`) serves both consumers: the
batched invariants (:func:`batch_invariants`, many bands per call) and
the ring output of one band (:func:`dissolve_pixels_rings`).
"""

from __future__ import annotations

import numpy as np


# Directed boundary-edge types, in STORED grid coordinates (y grows
# downward): R = (1,0), D = (0,1), L = (-1,0), U = (0,-1).  Each
# boundary edge keeps the pixel set's interior on its left under the
# max-cross-product turn rule below.
_DXY = ((1, 0), (0, 1), (-1, 0), (0, -1))
# tail-vertex offset of each edge type relative to its cell (cx, cy):
# top side → tail (cx, cy) dir R; right side → (cx+1, cy) dir D;
# bottom side → (cx+1, cy+1) dir L; left side → (cx, cy+1) dir U.
_TAIL_OFF = ((0, 0), (1, 0), (1, 1), (0, 1))
# successor-direction preference per incoming direction: the candidate
# maximizing cross(prev, cand) = prev_dx*c_dy - prev_dy*c_dx, then
# straight, then the opposite turn (a same-segment reverse edge cannot
# exist, so one of the three always does):
#   R → [D, R, U]; D → [L, D, R]; L → [U, L, D]; U → [R, U, L]
_PREF = ((1, 0, 3), (2, 1, 0), (3, 2, 1), (0, 3, 2))

#: field widths of the batched cell key: band << 46 | ly << 23 | lx.
#: Local (bbox-shifted) vertex coords must fit 23 bits (asserted in
#: _band_keys; the world grid is 432k cells per axis); the band index
#: gets the 16 bits between bit 46 and the 2-bit direction field of the
#: uint64 edge key, so one call takes at most MAX_BATCH_BANDS bands
#: (callers slice larger Arrow batches).
_BSH_BAND = 46
_BSH_Y = 23
_BMASK = (1 << _BSH_Y) - 1
MAX_BATCH_BANDS = 1 << 16

#: quadrant-bit values for the quad counts (a=1, b=2, c=4, d=8)
_QBITS = np.array([1, 2, 4, 8], dtype=np.int8)
#: popcount of a 4-bit quadrant mask
_POP4 = np.array([bin(i).count("1") for i in range(16)], dtype=np.int8)


def _sorted_presence(keys: np.ndarray, probe: np.ndarray) -> np.ndarray:
    """Boolean mask: which ``probe`` keys exist in sorted-unique ``keys``."""
    idx = np.searchsorted(keys, probe)
    ok = idx < len(keys)
    ok[ok] = keys[idx[ok]] == probe[ok]
    return ok


def _band_keys(band: np.ndarray, gx: np.ndarray, gy: np.ndarray,
               seg: np.ndarray):
    """Sorted-unique packed cell keys ``band << 46 | ly << 23 | lx`` plus
    the per-band bbox origins (x0b, y0b).  Cells of band b are
    gx[seg[b]:seg[b+1]] (REQUIRED contiguous, at least one cell).
    Sorted keys enumerate each band's cells in row-major order, and
    ``np.unique`` collapses duplicate cells like an occupancy grid."""
    gx = np.asarray(gx, dtype=np.int64)
    gy = np.asarray(gy, dtype=np.int64)
    band = np.asarray(band, dtype=np.int64)
    x0b = np.minimum.reduceat(gx, seg[:-1])
    y0b = np.minimum.reduceat(gy, seg[:-1])
    lx = gx - x0b[band]
    ly = gy - y0b[band]
    # boundary vertices reach lx + 1 / ly + 1; a local span past the
    # 23-bit field would carry into the next field and corrupt keys
    if int(lx.max()) >= _BMASK or int(ly.max()) >= _BMASK:
        raise AssertionError(
            "dissolve: band bbox span outside the 23-bit key field"
        )
    return np.unique((band << _BSH_BAND) | (ly << _BSH_Y) | lx), x0b, y0b


def _one_band_keys(gx: np.ndarray, gy: np.ndarray):
    """:func:`_band_keys` of a single non-empty cell set."""
    n = len(gx)
    return _band_keys(np.zeros(n, dtype=np.int64), gx, gy, np.array([0, n]))


def _edge_table(ck: np.ndarray):
    """Directed boundary edges of the cell keys ``ck``, as
    ``(succ, band, tx, ty, contrib)`` arrays indexed by edge id.

    Edge ids run direction-major, then row-major over each band's cells
    (sorted keys ARE row-major order).  ``succ`` is the successor
    permutation under the turn rule — a pure function of the 2×2 cell
    occupancy at the edge's head vertex; every cycle of it is one
    boundary loop.  (tx, ty) is the LOCAL tail vertex and ``contrib``
    its shoelace term x1*y2 − x2*y1 = tx*dy − ty*dx, so a cycle's sum
    is twice its signed area (translation-invariant).

    Neighbor occupancy and the (dir, band, tail vertex) → edge-id
    lookup both run as ``np.searchsorted`` probes of sorted packed
    keys: O(E log E) in the EDGE count, never the bbox area.  Probes
    never cross bands — a borrow out of the coordinate fields lands on
    a nonexistent key.
    """
    cb = ck >> _BSH_BAND
    cy = (ck >> _BSH_Y) & _BMASK
    cx = ck & _BMASK
    nbr_delta = (-(1 << _BSH_Y), 1, (1 << _BSH_Y), -1)   # top/right/bottom/left
    present = _sorted_presence(
        ck, np.concatenate([ck + d for d in nbr_delta])).reshape(4, len(ck))
    txs, tys, bnds, counts = [], [], [], []
    for d in range(4):
        sel = ~present[d]
        ox, oy = _TAIL_OFF[d]
        txs.append(cx[sel] + ox)
        tys.append(cy[sel] + oy)
        bnds.append(cb[sel])
        counts.append(int(sel.sum()))
    n = int(sum(counts))
    tx = np.concatenate(txs)
    ty = np.concatenate(tys)
    eb = np.concatenate(bnds)
    dirs = np.repeat(np.arange(4), counts)
    dx = np.array([o[0] for o in _DXY])[dirs]
    dy = np.array([o[1] for o in _DXY])[dirs]
    contrib = tx * dy - ty * dx
    # (dir, band, tail vertex) identifies an edge uniquely; each
    # per-direction block is sorted (monotone shift of row-major cell
    # order) and dir-major concatenation keeps the whole array sorted,
    # so packing dir into the top 2 bits (uint64 — dir 2/3 would hit
    # int64's sign bit) makes positions = edge ids and one
    # successor-candidate lookup = ONE searchsorted probe
    vk_all = ((dirs.astype(np.uint64) << 62)
              | (eb.astype(np.uint64) << _BSH_BAND)
              | (ty.astype(np.uint64) << _BSH_Y) | tx.astype(np.uint64))
    hk = ((eb.astype(np.uint64) << _BSH_BAND)
          | ((ty + dy).astype(np.uint64) << _BSH_Y)
          | (tx + dx).astype(np.uint64))
    pref = np.array(_PREF, dtype=np.uint64)[dirs]

    def edge_at(dir_arr: np.ndarray, hks: np.ndarray) -> np.ndarray:
        probe = (dir_arr << np.uint64(62)) | hks
        idx = np.searchsorted(vk_all, probe)
        ok = idx < n
        ok[ok] = vk_all[idx[ok]] == probe[ok]
        return np.where(ok, idx, -1)

    # probe the preferred turn for every edge, the fallbacks only for
    # the misses (the sharpest turn exists at most vertices)
    succ = edge_at(pref[:, 0], hk)
    miss = np.flatnonzero(succ < 0)
    if len(miss):
        succ[miss] = edge_at(pref[miss, 1], hk[miss])
        miss2 = miss[succ[miss] < 0]
        if len(miss2):
            succ[miss2] = edge_at(pref[miss2, 2], hk[miss2])
    return succ, eb, tx, ty, contrib


def _quad_counts(ck: np.ndarray, n_bands: int):
    """Gray's 2×2 window counts (Q1, Q3, QD) per band, as int64 arrays
    of length ``n_bands`` — vertex-centric over the cell keys.

    Every occupied cell contributes a quadrant bit to exactly 4 vertex
    windows (a=top-left…d=bottom-right of the 2×2); grouping the 4·n
    (window, bit) pairs by packed window key and OR-reducing gives each
    touched window's occupancy mask — O(n log n) in the CELL count.
    Windows with no occupied cell have mask 0 and count nowhere.
    QD ⇔ mask ∈ {6, 9}: two occupied cells on a diagonal (a·d = 9,
    b·c = 6).  Euler numbers follow as χ4 = (Q1 − Q3 + 2·QD)/4 =
    C4 − H8 and χ8 = (Q1 − Q3 − 2·QD)/4 = C8 − H4 (property-tested
    against the grid-labeling reference in
    tests/test_geometry_dissolve.py).
    """
    # cell (cx,cy) is quadrant a of window (cy+1,cx+1), b of (cy+1,cx),
    # c of (cy,cx+1), d of (cy,cx); the window key keeps the band field
    row = 1 << _BSH_Y
    keys = np.concatenate((ck + row + 1, ck + row, ck + 1, ck))
    vals = np.repeat(_QBITS, len(ck))
    order = np.argsort(keys, kind="stable")
    ks = keys[order]
    vs = vals[order]
    starts = np.flatnonzero(np.concatenate(([True], ks[1:] != ks[:-1])))
    masks = np.bitwise_or.reduceat(vs, starts)
    wband = ks[starts] >> _BSH_BAND
    pc = _POP4[masks]
    q1 = np.bincount(wband[pc == 1], minlength=n_bands)
    q3 = np.bincount(wband[pc == 3], minlength=n_bands)
    qd = np.bincount(wband[(masks == 6) | (masks == 9)], minlength=n_bands)
    return q1, q3, qd


def batch_invariants(band: np.ndarray, gx: np.ndarray, gy: np.ndarray,
                     n_bands: int, seg: np.ndarray):
    """Per-band dissolve invariants for MANY bands in one vectorized
    pass: returns (n_shells, n_holes, area2, q1, q3, qd) int64 arrays
    of length ``n_bands``.

    ``band`` assigns every cell to its band row; ``seg`` holds the
    band segment boundaries (cells of band b are gx[seg[b]:seg[b+1]],
    REQUIRED contiguous).  Loops are the cycles of
    :func:`_edge_table`'s successor permutation, found by min-label
    pointer doubling — O(E log L) numpy gathers (L = longest ring)
    instead of a per-edge interpreted chase, which owned the dissolve
    kernel's CPU at bench volume (~4 edges per ring, ~190 rings per
    band: the walk cost ~26 s CPU per 23k bands).

    Ring VERTEX SEQUENCES are never materialized.  ``area2`` sums every
    cycle (shells + and holes −), ``n_shells``/``n_holes`` count
    positive/negative cycles.  In a union of pixel squares every hole
    lies inside a shell, so these are exactly the ring counts and
    areas of :func:`dissolve_pixels_rings`.
    """
    if n_bands > MAX_BATCH_BANDS:
        # band index must fit the 16-bit field of the packed edge key;
        # callers slice batches to MAX_BATCH_BANDS (color.py)
        raise ValueError(f"batch_invariants: {n_bands} bands > 2^16 per batch")
    if len(gx) == 0:
        z = np.zeros(n_bands, dtype=np.int64)
        return z, z.copy(), z.copy(), z.copy(), z.copy(), z.copy()
    ck, _, _ = _band_keys(band, gx, gy, seg)
    succ, eb, _, _, contrib = _edge_table(ck)
    n = len(succ)
    # min-label pointer doubling: lbl converges to the cycle-min id
    lbl = np.arange(n)
    s = succ
    while True:
        lbl = np.minimum(lbl, lbl[s])
        if (lbl == lbl[succ]).all():
            break
        s = s[s]
    # cycle representatives are exactly the self-labeled edges and
    # arrive pre-sorted, so factorization is one searchsorted — no full
    # np.unique sort of the label array
    reps = np.flatnonzero(lbl == np.arange(n))
    inv = np.searchsorted(reps, lbl)
    # per-cycle shoelace sums: contribs are small ints, cycle sums stay
    # far inside float64's exact-integer range
    a2 = np.rint(np.bincount(inv, weights=contrib)).astype(np.int64)
    cyc_band = eb[reps]
    shells = np.bincount(cyc_band[a2 > 0], minlength=n_bands)
    holes = np.bincount(cyc_band[a2 < 0], minlength=n_bands)
    area2 = np.rint(np.bincount(cyc_band, weights=a2,
                                minlength=n_bands)).astype(np.int64)
    q1, q3, qd = _quad_counts(ck, n_bands)
    return shells, holes, area2, q1, q3, qd


def _loop_arrays(loop):
    """(x1, y1, x2, y2) edge arrays of a loop (not closed) — cached per
    shell by the hole-attachment pass."""
    a = np.asarray(loop, dtype=np.float64)
    b = np.roll(a, -1, axis=0)
    return a[:, 0], a[:, 1], b[:, 0], b[:, 1]


def _point_in_loop_np(px: float, py: float, arrs) -> bool:
    """Even-odd point-in-loop test over a loop's edge arrays
    (:func:`_loop_arrays`): crossing-parity count, order-independent."""
    x1, y1, x2, y2 = arrs
    cross = (y1 > py) != (y2 > py)
    if not cross.any():
        return False
    xint = x1[cross] + (py - y1[cross]) / (y2[cross] - y1[cross]) * (x2[cross] - x1[cross])
    return bool(int((px < xint).sum()) & 1)


def dissolve_pixels_rings(gx: np.ndarray, gy: np.ndarray):
    """Union of unit squares at integer grid cells (gx, gy), with areas.

    Returns ``(polys, areas2)``: ``polys`` is a list of polygons, each a
    list of rings (first = outer shell CCW, rest = holes CW), each ring
    a list of integer (x, y) grid-corner vertices, closed (first ==
    last); ``areas2`` mirrors the structure with twice the shoelace
    signed area of every ring (shell +, hole −) — already computed by
    the tracer, so callers never re-walk ring vertices for areas.

    Loops come from a Python walk of :func:`_edge_table`'s successor
    permutation in edge-id order, so loop starts and output order are
    deterministic (row-major over the cells).
    """
    if len(gx) == 0:
        return [], []
    ck, x0b, y0b = _one_band_keys(gx, gy)
    succ, _, tx, ty, contrib = _edge_table(ck)
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

    polys = [{"shell": lp, "area2": a, "holes": []} for lp, a in shells]
    for hl, ha in holes:
        # attach to the smallest shell containing the hole's first vertex
        hx, hy = hl[0]
        for p in polys:
            if "sarr" not in p:
                p["sarr"] = _loop_arrays(p["shell"])
        candidates = [
            p for p in polys if _point_in_loop_np(hx + 1e-9, hy + 1e-9, p["sarr"])
            or _point_in_loop_np(hx - 1e-9, hy + 1e-9, p["sarr"])
        ]
        if candidates:
            min(candidates, key=lambda p: p["area2"])["holes"].append((hl, ha))

    out, out_areas = [], []
    for p in polys:
        rings = [p["shell"] + [p["shell"][0]]]
        areas = [p["area2"]]
        for h, ha in p["holes"]:
            rings.append(h + [h[0]])
            areas.append(ha)
        out.append(rings)
        out_areas.append(areas)
    return out, out_areas
