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


#: packing shift for (y, x) → one int64 sort key; local spans are far
#: inside 32 bits (a band is bounded by one polygon's bbox).
_KSH = 32


def _sorted_presence(keys: np.ndarray, probe: np.ndarray) -> np.ndarray:
    """Boolean mask: which ``probe`` keys exist in sorted-unique ``keys``."""
    idx = np.searchsorted(keys, probe)
    ok = idx < len(keys)
    ok[ok] = keys[idx[ok]] == probe[ok]
    return ok


def _cell_keys(gx: np.ndarray, gy: np.ndarray):
    """Sorted-unique packed local cell keys + bbox origin.  Sorted packed
    (y, x) keys enumerate cells in dense-grid row-major order, and
    ``np.unique`` collapses duplicate cells exactly like an occupancy
    grid — the shared first step of the tracer and the quad counts."""
    gx = np.asarray(gx, dtype=np.int64)
    gy = np.asarray(gy, dtype=np.int64)
    if len(gx) == 0:
        return np.empty(0, dtype=np.int64), 0, 0
    x0 = int(gx.min())
    y0 = int(gy.min())
    return np.unique(((gy - y0) << _KSH) | (gx - x0)), x0, y0


def _trace_loops_fast(gx: np.ndarray, gy: np.ndarray):
    """Boundary loops of the pixel set, as (loops, areas2).

    Cell-centric successor construction: every directed boundary edge
    has exactly ONE successor under the turn rule (a pure function of
    the 2×2 cell occupancy at its head vertex).  Neighbor occupancy and
    the (tail vertex, dir) → edge-id lookup both run as
    ``np.searchsorted`` probes of sorted packed (y, x) keys, so the
    whole construction is O(E log E) in the EDGE count — the former
    dense-grid form allocated and memset O(4·bbox-area) id grids per
    band, which at ~23 bands per polygon re-touched every polygon's
    bbox ~90× per dissolve (the measured r6 kernel owner).  Only the
    final cycle walk chases plain lists.

    Edge enumeration order (direction-major, then row-major over
    cells) is identical to the dense-grid form — sorted packed keys
    ARE row-major order — so loops, starting vertices and output order
    are bit-identical (asserted in tests/test_geometry_dissolve.py).

    Returns ``loops`` (list of vertex lists, tails only, not closed,
    GLOBAL grid coords) and ``areas2`` (twice the shoelace area per
    loop, integer-exact) — the area falls out of the walk for free:
    a unit step contributes x1*y2 − x2*y1 = {R: −y, D: +x, L: +y,
    U: −x} of its tail, and the per-loop sum is translation-invariant,
    so the per-edge contributions are precomputed vectorized.
    """
    ck, x0, y0 = _cell_keys(gx, gy)
    return _trace_loops_keys(ck, x0, y0)


#: quadrant-bit values for quad_counts (a=1, b=2, c=4, d=8)
_QBITS = np.array([1, 2, 4, 8], dtype=np.int8)


def _trace_loops_keys(ck: np.ndarray, x0: int, y0: int):
    """Tracer body over sorted-unique LOCAL cell keys; (x0, y0) is the
    bbox origin re-added to the emitted GLOBAL loop vertices."""
    if len(ck) == 0:
        return [], []
    cy = ck >> _KSH
    cx = ck & ((1 << _KSH) - 1)
    # edge keys pack dir << 60 | vertex y << 32 | vertex x and vertices
    # reach cy + 1 / cx + 1: y must stay below 2^28, x below 2^32
    if int(cy[-1]) + 1 >= 1 << 28 or int(cx.max()) + 1 >= 1 << _KSH:
        raise AssertionError(
            "dissolve: cell bbox span outside the 2^28 x 2^32 edge-key bound"
        )
    nbr_delta = (-(1 << _KSH), 1, (1 << _KSH), -1)   # top/right/bottom/left
    # one presence probe for all 4 neighbor directions
    nk = np.concatenate([ck + d for d in nbr_delta])
    present = _sorted_presence(ck, nk).reshape(4, len(ck))
    txs, tys, counts = [], [], []
    for d in range(4):
        bnd = ~present[d]
        ox, oy = _TAIL_OFF[d]
        txs.append(cx[bnd] + ox)
        tys.append(cy[bnd] + oy)
        counts.append(int(bnd.sum()))
    n = int(sum(counts))
    if n == 0:
        return [], []
    tx = np.concatenate(txs)
    ty = np.concatenate(tys)
    dirs = np.repeat(np.arange(4), counts)
    contrib = np.empty(n, dtype=np.int64)
    contrib[dirs == 0] = -ty[dirs == 0]
    contrib[dirs == 1] = tx[dirs == 1]
    contrib[dirs == 2] = ty[dirs == 2]
    contrib[dirs == 3] = -tx[dirs == 3]
    dx = np.array([o[0] for o in _DXY])[dirs]
    dy = np.array([o[1] for o in _DXY])[dirs]
    # (dir, tail vertex) identifies an edge uniquely.  The concatenated
    # per-direction tail-key arrays are each sorted (monotone shift of
    # the row-major cell order), so packing dir into the top bits makes
    # ONE globally sorted array whose positions ARE edge ids — each
    # successor-candidate lookup is a single searchsorted probe.
    vk_all = (dirs << 60) | (ty << _KSH) | tx
    hk = ((ty + dy) << _KSH) | (tx + dx)
    pref = np.array(_PREF, dtype=np.int64)[dirs]          # (n, 3)

    def edge_at(dir_arr: np.ndarray) -> np.ndarray:
        probe = (dir_arr << 60) | hk
        idx = np.searchsorted(vk_all, probe)
        ok = idx < n
        ok[ok] = vk_all[idx[ok]] == probe[ok]
        return np.where(ok, idx, -1)

    e1 = edge_at(pref[:, 0])
    e2 = edge_at(pref[:, 1])
    e3 = edge_at(pref[:, 2])
    succ = np.where(e1 >= 0, e1, np.where(e2 >= 0, e2, e3)).tolist()
    gxl = (tx + x0).tolist()
    gyl = (ty + y0).tolist()
    cl = contrib.tolist()
    visited = bytearray(n)
    loops, areas = [], []
    for s in range(n):
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
        loops.append(loop)
        areas.append(a)
    return loops, areas


#: field widths of the batched cell key: band << 46 | ly << 23 | lx.
#: Local (bbox-shifted) vertex coords must fit 23 bits (asserted in
#: batch_invariants); the band index gets the 16 bits between bit 46 and
#: the 2-bit direction field of the uint64 edge key, so one call takes
#: at most MAX_BATCH_BANDS bands (callers slice larger Arrow batches).
_BSH_BAND = 46
_BSH_Y = 23
_BMASK = (1 << _BSH_Y) - 1
MAX_BATCH_BANDS = 1 << 16


def batch_invariants(band: np.ndarray, gx: np.ndarray, gy: np.ndarray,
                     n_bands: int, seg: np.ndarray):
    """Per-band dissolve invariants for MANY bands in one vectorized
    pass: returns (n_shells, n_holes_neg, area2_all, q1, q3, qd,
    has_neg) int64 arrays of length ``n_bands``.

    ``band`` assigns every cell to its band row; ``seg`` holds the
    band segment boundaries (cells of band b are gx[seg[b]:seg[b+1]],
    REQUIRED contiguous).  The successor construction is the same turn
    rule as :func:`_trace_loops_keys`, run over all bands at once by
    packing the band index into the cell key (probes never cross bands
    — a borrow out of the coordinate fields lands on a nonexistent
    key).  The per-edge Python cycle walk is replaced by min-label
    pointer doubling over the successor permutation — O(E log L) numpy
    gathers (L = longest ring) instead of a per-edge interpreted chase,
    which owned the dissolve kernel's CPU at bench volume (~4 edges per
    ring, ~190 rings per band: the walk cost ~26 s CPU per 23k bands).

    Ring VERTEX SEQUENCES are never materialized, so this path computes
    shells/holes/areas only; ``area2_all`` sums every cycle (shells +
    and holes −) and ``n_holes_neg`` counts negative-area cycles.
    Callers needing the reference hole-ATTACHMENT semantics (a hole
    that no shell contains is dropped) must fall back to the per-band
    ring path for bands with ``has_neg`` — attachment needs ring
    geometry.  Zero-area degenerate cycles count as neither, exactly
    like the ring path.
    """
    if n_bands > MAX_BATCH_BANDS:
        # band index must fit the 16-bit field of the packed edge key;
        # callers slice batches to MAX_BATCH_BANDS (color.py)
        raise ValueError(f"batch_invariants: {n_bands} bands > 2^16 per batch")
    n_cells = len(gx)
    if n_cells == 0:
        z = np.zeros(n_bands, dtype=np.int64)
        return z, z.copy(), z.copy(), z.copy(), z.copy(), z.copy(), np.zeros(n_bands, dtype=bool)
    gx = np.asarray(gx, dtype=np.int64)
    gy = np.asarray(gy, dtype=np.int64)
    band = np.asarray(band, dtype=np.int64)
    # per-band bbox origin (segments are contiguous)
    x0b = np.minimum.reduceat(gx, seg[:-1])
    y0b = np.minimum.reduceat(gy, seg[:-1])
    lx = gx - x0b[band]
    ly = gy - y0b[band]
    # boundary vertices reach lx + 1 / ly + 1; a local span past the
    # 23-bit field would carry into the next field and corrupt keys
    if int(lx.max()) >= _BMASK or int(ly.max()) >= _BMASK:
        raise AssertionError(
            "batch_invariants: band bbox span outside the 23-bit key field"
        )
    ck = np.unique((band << _BSH_BAND) | (ly << _BSH_Y) | lx)
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
    zb = np.zeros(n_bands, dtype=np.int64)
    if n == 0:
        shells = zb
        holes = zb.copy()
        area2 = zb.copy()
        has_neg = np.zeros(n_bands, dtype=bool)
    else:
        offs = np.concatenate(([0], np.cumsum(counts)))
        tx = np.concatenate(txs)
        ty = np.concatenate(tys)
        eb = np.concatenate(bnds)
        dirs = np.repeat(np.arange(4), counts)
        contrib = np.empty(n, dtype=np.int64)
        contrib[dirs == 0] = -ty[dirs == 0]
        contrib[dirs == 1] = tx[dirs == 1]
        contrib[dirs == 2] = ty[dirs == 2]
        contrib[dirs == 3] = -tx[dirs == 3]
        dx = np.array([o[0] for o in _DXY])[dirs]
        dy = np.array([o[1] for o in _DXY])[dirs]
        # (dir, band, tail vertex) identifies an edge uniquely; each
        # per-direction block is sorted (monotone shift of row-major
        # cell order) and dir-major concatenation keeps the whole array
        # sorted, so packing dir into the top 2 bits (uint64 — dir 2/3
        # would hit int64's sign bit) makes positions = edge ids and one
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

        # probe the preferred turn for every edge, the fallbacks only
        # for the misses (the sharpest turn exists at most vertices)
        succ = edge_at(pref[:, 0], hk)
        miss = np.flatnonzero(succ < 0)
        if len(miss):
            succ[miss] = edge_at(pref[miss, 1], hk[miss])
            miss2 = miss[succ[miss] < 0]
            if len(miss2):
                succ[miss2] = edge_at(pref[miss2, 2], hk[miss2])
        # min-label pointer doubling: lbl converges to the cycle-min id
        lbl = np.arange(n)
        s = succ
        while True:
            lbl = np.minimum(lbl, lbl[s])
            if (lbl == lbl[succ]).all():
                break
            s = s[s]
        # cycle representatives are exactly the self-labeled edges and
        # arrive pre-sorted, so factorization is one searchsorted — no
        # full np.unique sort of the label array
        reps = np.flatnonzero(lbl == np.arange(n))
        inv = np.searchsorted(reps, lbl)
        # per-cycle shoelace sums: contribs are small ints, cycle sums
        # stay far inside float64's exact-integer range
        a2 = np.rint(np.bincount(inv, weights=contrib)).astype(np.int64)
        cyc_band = eb[reps]
        shells = np.bincount(cyc_band[a2 > 0], minlength=n_bands)
        holes = np.bincount(cyc_band[a2 < 0], minlength=n_bands)
        area2 = np.bincount(cyc_band, weights=a2, minlength=n_bands)
        area2 = np.rint(area2).astype(np.int64)
        has_neg = holes > 0
    # vertex-centric quad counts over the same keys (see _quad_counts_keys)
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
    return shells, holes, area2, q1, q3, qd, has_neg


def _signed_area2(loop) -> int:
    """Twice the shoelace signed area (integer-exact)."""
    s = 0
    n = len(loop)
    for i in range(n):
        x1, y1 = loop[i]
        x2, y2 = loop[(i + 1) % n]
        s += x1 * y2 - x2 * y1
    return s


def _point_in_loop(px: float, py: float, loop) -> bool:
    inside = False
    n = len(loop)
    for i in range(n):
        x1, y1 = loop[i]
        x2, y2 = loop[(i + 1) % n]
        if (y1 > py) != (y2 > py):
            xint = x1 + (py - y1) / (y2 - y1) * (x2 - x1)
            if px < xint:
                inside = not inside
    return inside


def _loop_arrays(loop):
    """(x1, y1, x2, y2) edge arrays of a loop (not closed) — cached per
    shell by the hole-attachment pass."""
    a = np.asarray(loop, dtype=np.float64)
    b = np.roll(a, -1, axis=0)
    return a[:, 0], a[:, 1], b[:, 0], b[:, 1]


def _point_in_loop_np(px: float, py: float, arrs) -> bool:
    """Vectorized twin of :func:`_point_in_loop`: identical per-edge
    float arithmetic, crossing-parity count — order-independent, so the
    boolean matches the scalar loop exactly."""
    x1, y1, x2, y2 = arrs
    cross = (y1 > py) != (y2 > py)
    if not cross.any():
        return False
    xint = x1[cross] + (py - y1[cross]) / (y2[cross] - y1[cross]) * (x2[cross] - x1[cross])
    return bool(int((px < xint).sum()) & 1)


def _dense_grid(gx: np.ndarray, gy: np.ndarray):
    """Boolean occupancy grid over the cell bbox + its origin."""
    x0 = int(gx.min())
    y0 = int(gy.min())
    g = np.zeros((int(gy.max()) - y0 + 1, int(gx.max()) - x0 + 1), dtype=bool)
    g[gy - y0, gx - x0] = True
    return g, x0, y0


def dissolve_pixels_rings(gx: np.ndarray, gy: np.ndarray):
    """Union of unit squares at integer grid cells (gx, gy), with areas.

    Returns ``(polys, areas2)``: ``polys`` is a list of polygons, each a
    list of rings (first = outer shell CCW, rest = holes CW), each ring
    a list of integer (x, y) grid-corner vertices, closed (first ==
    last); ``areas2`` mirrors the structure with twice the shoelace
    signed area of every ring (shell +, hole −) — already computed by
    the tracer, so callers never re-walk ring vertices for areas.
    """
    ck, x0, y0 = _cell_keys(gx, gy)
    return _dissolve_rings_keys(ck, x0, y0)


def _dissolve_rings_keys(ck: np.ndarray, x0: int, y0: int):
    """Ring-assembly body over sorted-unique local cell keys (shared
    with :func:`_quad_counts_keys` by kernels that need both)."""
    loops, la = _trace_loops_keys(ck, x0, y0)
    shells = [(lp, a) for lp, a in zip(loops, la) if a > 0]
    holes = [(lp, a) for lp, a in zip(loops, la) if a < 0]

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


def dissolve_pixels(gx: np.ndarray, gy: np.ndarray):
    """Union of unit squares at integer grid cells (gx, gy).

    Returns a list of polygons; each polygon is a list of rings
    (first = outer shell CCW, rest = holes CW); each ring is a list of
    integer (x, y) grid-corner vertices, closed (first == last).
    """
    return dissolve_pixels_rings(gx, gy)[0]


def _n_components(g: np.ndarray, conn: int) -> int:
    """Connected components of a boolean grid (conn ∈ {4, 8}) — adjacency
    pairs extracted with numpy shifts, merged with union-find.  Python
    touches only the O(#adjacencies) pair list, never the full grid.

    Scale note: band groups are bounded by a single polygon's pixel
    count (the operator shards by (poly_id, height_base)); the 100 TB
    path keeps per-group labeling local exactly because of that bound.
    """
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


#: popcount of a 4-bit quadrant mask (see quad_counts)
_POP4 = np.array([bin(i).count("1") for i in range(16)], dtype=np.int8)


def quad_counts(gx: np.ndarray, gy: np.ndarray) -> tuple[int, int, int]:
    """Gray's 2×2 window counts over the cell set — vertex-centric:
    (Q1, Q3, QD) with QD = diagonal two-pixel windows.  Euler numbers
    follow as χ4 = (Q1 − Q3 + 2·QD)/4 = C4 − H8 and
    χ8 = (Q1 − Q3 − 2·QD)/4 = C8 − H4 (property-tested against
    :func:`label_counts` in tests/test_geometry_dissolve.py).

    Every occupied cell contributes a quadrant bit to exactly 4 vertex
    windows (a=top-left…d=bottom-right of the 2×2); grouping the 4·n
    (window, bit) pairs by packed window key and OR-reducing gives each
    touched window's occupancy mask — O(n log n) in the CELL count,
    where the former dense-grid form was O(bbox area) per band (a,b,c,d
    grids + pad; ~23 bands re-scan each polygon's bbox).  Windows with
    no occupied cell have mask 0 and contribute to no count, exactly as
    in the grid form.  QD ⇔ mask ∈ {6, 9}: two occupied cells on a
    diagonal (a·d = 9, b·c = 6) — identical to ``n==2 & (a==d)``.
    """
    ck, _, _ = _cell_keys(gx, gy)
    return _quad_counts_keys(ck)


def _quad_counts_keys(ck: np.ndarray) -> tuple[int, int, int]:
    """Quad-count body over sorted-unique local cell keys."""
    if len(ck) == 0:
        return 0, 0, 0
    # cell (cx,cy) is quadrant a of window (cy+1,cx+1), b of (cy+1,cx),
    # c of (cy,cx+1), d of (cy,cx); window key packs (wy, wx)
    row = 1 << _KSH
    keys = np.concatenate((ck + row + 1, ck + row, ck + 1, ck))
    vals = np.repeat(_QBITS, len(ck))
    order = np.argsort(keys, kind="stable")
    ks = keys[order]
    vs = vals[order]
    starts = np.flatnonzero(np.concatenate(([True], ks[1:] != ks[:-1])))
    masks = np.bitwise_or.reduceat(vs, starts)
    pc = _POP4[masks]
    q1 = int((pc == 1).sum())
    q3 = int((pc == 3).sum())
    qd = int(((masks == 6) | (masks == 9)).sum())
    return q1, q3, qd


def dissolve_area_px(polys) -> float:
    """Total area (in pixel units) of a dissolve result — for tests."""
    total = 0.0
    for rings in polys:
        for i, ring in enumerate(rings):
            a = _signed_area2(ring[:-1]) / 2.0
            total += a
    return total
