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

One edge table (:func:`_edge_table`) and one cycle finder
(:func:`_cycles`) serve both outputs, each many bands per call: the
invariants (:func:`batch_invariants`) and the rings
(:func:`batch_rings`).
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
    if len(seg) - 1 > MAX_BATCH_BANDS:
        # band index must fit the 16-bit field of the packed edge key;
        # callers slice batches to MAX_BATCH_BANDS (color.py)
        raise ValueError(f"dissolve: {len(seg) - 1} bands > 2^16 per batch")
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


def _edge_table(ck: np.ndarray):
    """Directed boundary edges of the cell keys ``ck``, as
    ``(succ, band, tx, ty, contrib, dirs)`` arrays indexed by edge id.

    Edge ids run direction-major, then row-major over each band's cells
    (sorted keys ARE row-major order).  ``succ`` is the successor
    permutation under the turn rule — a pure function of the 2×2 cell
    occupancy at the edge's head vertex; every cycle of it is one
    boundary loop.  (tx, ty) is the LOCAL tail vertex and ``contrib``
    its shoelace term x1*y2 − x2*y1 = tx*dy − ty*dx, so a cycle's sum
    is twice its signed area (translation-invariant); ``dirs`` indexes
    ``_DXY``.

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
    return succ, eb, tx, ty, contrib, dirs


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


def _cycles(succ: np.ndarray, contrib: np.ndarray):
    """Cycles of the successor permutation: ``(reps, inv, a2)`` with
    ``reps`` every cycle's lowest edge id, ascending, ``inv`` each
    edge's cycle index into ``reps`` and ``a2`` every cycle's shoelace
    sum, twice its signed area (shells +, holes −).

    Min-label pointer doubling — O(E log L) numpy gathers (L = longest
    ring) instead of a per-edge interpreted chase, which owned the
    dissolve kernel's CPU at bench volume (~4 edges per ring, ~190
    rings per band: the walk cost ~26 s CPU per 23k bands).  Edge ids
    run direction-major, and every loop has an R edge, so every
    representative is an R edge: the topmost, then leftmost, of its
    loop."""
    n = len(succ)
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
    # contribs are small ints, cycle sums stay far inside float64's
    # exact-integer range
    return reps, inv, np.rint(np.bincount(inv, weights=contrib)).astype(np.int64)


def batch_invariants(band: np.ndarray, gx: np.ndarray, gy: np.ndarray,
                     n_bands: int, seg: np.ndarray):
    """Per-band dissolve invariants for MANY bands in one vectorized
    pass: returns (n_shells, n_holes, area2, q1, q3, qd) int64 arrays
    of length ``n_bands``.

    ``band`` assigns every cell to its band row; ``seg`` holds the
    band segment boundaries (cells of band b are gx[seg[b]:seg[b+1]],
    REQUIRED contiguous).  Loops are the cycles of
    :func:`_edge_table`'s successor permutation (:func:`_cycles`).

    Ring VERTEX SEQUENCES are never materialized.  ``area2`` sums every
    cycle (shells + and holes −), ``n_shells``/``n_holes`` count
    positive/negative cycles.  In a union of pixel squares every hole
    lies inside a shell, so these are exactly the ring counts and
    areas of :func:`batch_rings`.
    """
    if len(gx) == 0:
        z = np.zeros(n_bands, dtype=np.int64)
        return z, z.copy(), z.copy(), z.copy(), z.copy(), z.copy()
    ck, _, _ = _band_keys(band, gx, gy, seg)
    succ, eb, _, _, contrib, _ = _edge_table(ck)
    reps, inv, a2 = _cycles(succ, contrib)
    cyc_band = eb[reps]
    shells = np.bincount(cyc_band[a2 > 0], minlength=n_bands)
    holes = np.bincount(cyc_band[a2 < 0], minlength=n_bands)
    area2 = np.rint(np.bincount(cyc_band, weights=a2,
                                minlength=n_bands)).astype(np.int64)
    q1, q3, qd = _quad_counts(ck, n_bands)
    return shells, holes, area2, q1, q3, qd


def _walk_order(succ: np.ndarray, reps: np.ndarray, base: np.ndarray) -> np.ndarray:
    """Edge ids placed at ``base`` (their cycle's first slot) plus their
    steps from the cycle's representative along ``succ``: every loop
    starts at its representative's tail vertex and follows the
    successor permutation.  The steps come from pointer doubling along
    the predecessors, each cycle cut open at its representative."""
    n = len(succ)
    nxt = np.empty(n, dtype=np.int64)
    nxt[succ] = np.arange(n)
    nxt[reps] = reps
    rank = np.ones(n, dtype=np.int64)
    rank[reps] = 0
    while True:
        nn = nxt[nxt]
        if (nn == nxt).all():
            break
        rank += rank[nxt]
        nxt = nn
    order = np.empty(n, dtype=np.int64)
    order[base + rank] = np.arange(n)
    return order


def _hole_owners(h, shell_edge, eb, tx, ty, dirs, inv):
    """Cycle index of the smallest shell enclosing each hole, given the
    holes' representative edge ids ``h``.

    A hole's representative is the top side of the set cell (hx, hy);
    its owner is the innermost shell around that cell's centre, the
    start of a ray towards +x along row hy.  Each shell's vertical
    edges in the row alternate U (entering: a set cell's left side)
    and D (leaving: its right side), so the shells around the start
    are those with an odd number of edges right of it.  Shells nest
    without crossing, so a row's shell edges are balanced parentheses:
    the start sits at the nesting depth d of the edges left of it (one
    ``searchsorted`` over the sorted (band, row, x) keys), and the
    innermost shell is the one whose U last reached depth d before it.
    A hole with no enclosing shell raises AssertionError."""
    v = np.flatnonzero(shell_edge & (dirs % 2 == 1))
    up = dirs[v] == 3
    # a D edge runs down its row ty, a U edge up the row above its tail
    key = (eb[v] << _BSH_BAND) | ((ty[v] - up) << _BSH_Y) | tx[v]
    o = np.argsort(key)
    key, v, up = key[o], v[o], up[o]
    depth = np.cumsum(np.where(up, 1, -1))
    p = np.searchsorted(key, (eb[h] << _BSH_BAND) | (ty[h] << _BSH_Y) | (tx[h] + 1))
    d = np.where(p > 0, depth[p - 1], 0)
    if not (d > 0).all():
        raise AssertionError("dissolve: a hole outside every shell")
    # last U before p at depth d: U crossings keyed (depth, position)
    n = len(key)
    uk = (depth * n + np.arange(n))[up]
    uo = np.argsort(uk)
    j = np.searchsorted(uk[uo], d * n + p) - 1
    return inv[v[up][uo[j]]]


def batch_rings(band: np.ndarray, gx: np.ndarray, gy: np.ndarray,
                seg: np.ndarray):
    """Dissolved polygons of MANY bands in one vectorized pass, as flat
    arrays ``(f_band, f_area2, rings_per_f, pts_per_ring, x, y)``.

    Cells and bands as in :func:`batch_invariants`.  One feature per shell, in
    band order and, within a band, in representative order (row-major
    by the loop's topmost-leftmost R edge); ``f_area2`` is twice its
    area (shell minus holes).  A feature's rings are its shell (CCW in
    the y-up world) then its holes (CW) in representative order; each
    ring lists its global integer grid-corner vertices from its
    representative's tail along the successor permutation, closed
    (first vertex repeated).  ``x``/``y`` concatenate every ring's
    vertices, ``pts_per_ring`` counts them."""
    ck, x0b, y0b = _band_keys(band, gx, gy, seg)
    succ, eb, tx, ty, contrib, dirs = _edge_table(ck)
    reps, inv, a2 = _cycles(succ, contrib)
    shell = a2 > 0
    owner = np.arange(len(reps))
    owner[~shell] = _hole_owners(reps[~shell], shell[inv], eb, tx, ty, dirs, inv)
    # rings ordered by (owning shell, shell first, representative)
    ring = np.lexsort((np.arange(len(reps)), ~shell, owner))
    f_of_ring = (np.cumsum(shell) - 1)[owner[ring]]
    f_area2 = np.bincount(f_of_ring, weights=a2[ring]).astype(np.int64)
    lens = np.bincount(inv)
    start = np.cumsum(lens) - lens
    pts_per_ring = lens[ring] + 1
    # vertex k of a ring is its cycle's k-th edge tail, k = len wrapping to 0
    k = np.arange(int(pts_per_ring.sum())) - np.repeat(
        np.cumsum(pts_per_ring) - pts_per_ring, pts_per_ring)
    e = _walk_order(succ, reps, start[inv])[
        np.repeat(start[ring], pts_per_ring) + k % np.repeat(lens[ring], pts_per_ring)]
    return (eb[reps[shell]], f_area2, np.bincount(f_of_ring),
            pts_per_ring, tx[e] + x0b[eb[e]], ty[e] + y0b[eb[e]])
