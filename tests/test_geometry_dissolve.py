import numpy as np

from openelevationservice_spark.functions.dissolve import (_quad_counts, batch_invariants,
                                                           batch_rings)
from openelevationservice_spark.functions.geometry import points_in_ring
from tests.references import (_signed_area2, dissolve_area_px, dissolve_pixels,
                              dissolve_pixels_rings, label_counts, one_band_keys,
                              ring_to_arrays)


def _batch(bands):
    """(band, gx, gy, n_bands, seg) of a list of (gx, gy) cell sets."""
    band = np.repeat(np.arange(len(bands)), [len(b[0]) for b in bands])
    gx = np.concatenate([b[0] for b in bands]).astype(np.int64)
    gy = np.concatenate([b[1] for b in bands]).astype(np.int64)
    seg = np.concatenate(([0], np.cumsum([len(b[0]) for b in bands])))
    return band, gx, gy, len(bands), seg


def batched_polys(bands):
    """``batch_rings`` of one batch of (gx, gy) cell sets, nested per band
    as the reference walk's ``(polys, areas2)``, except that a polygon's
    areas are one total (shell minus holes) instead of one per ring."""
    band, gx, gy, _, seg = _batch(bands)
    f_band, f_area2, rings_per_f, pts_per_ring, x, y = batch_rings(band, gx, gy, seg)
    xy = list(zip(x.tolist(), y.tolist()))
    ends = np.cumsum(pts_per_ring).tolist()
    rings = [xy[e - n:e] for e, n in zip(ends, pts_per_ring.tolist())]
    polys = [([], []) for _ in bands]
    r = 0
    for b, n, a2 in zip(f_band.tolist(), rings_per_f.tolist(), f_area2.tolist()):
        polys[b][0].append(rings[r:r + n])
        polys[b][1].append(a2)
        r += n
    return polys


def rings_of(gx, gy):
    """The package's rings of one band (list of polygons of closed rings)."""
    return batched_polys([(np.asarray(gx), np.asarray(gy))])[0][0]


def test_pip_square_inclusive_boundary():
    rx, ry = ring_to_arrays([(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)])
    px = np.array([2.0, 0.0, 4.0, 2.0, 5.0, -0.1, 2.0])
    py = np.array([2.0, 2.0, 2.0, 0.0, 2.0, 2.0, 4.0])
    got = points_in_ring(px, py, rx, ry)
    assert got.tolist() == [True, True, True, True, False, False, True]


def test_pip_concave():
    # L-shape: unit squares (0,0) and (1,0) and (0,1)
    ring = [(0, 0), (2, 0), (2, 1), (1, 1), (1, 2), (0, 2), (0, 0)]
    rx, ry = ring_to_arrays(ring)
    got = points_in_ring(
        np.array([0.5, 1.5, 0.5, 1.5]), np.array([0.5, 0.5, 1.5, 1.5]), rx, ry
    )
    assert got.tolist() == [True, True, True, False]


def test_pip_dict_ring():
    rx, ry = ring_to_arrays([{"lon": 0, "lat": 0}, {"lon": 1, "lat": 0},
                             {"lon": 1, "lat": 1}, {"lon": 0, "lat": 1},
                             {"lon": 0, "lat": 0}])
    assert points_in_ring(np.array([0.5]), np.array([0.5]), rx, ry)[0]


def test_dissolve_single_pixel():
    polys = rings_of(np.array([3]), np.array([7]))
    assert len(polys) == 1
    assert len(polys[0]) == 1  # no holes
    shell = polys[0][0]
    assert shell[0] == shell[-1]
    assert set(shell[:-1]) == {(3, 7), (4, 7), (4, 8), (3, 8)}
    assert dissolve_area_px(polys) == 1.0


def test_dissolve_block_with_hole():
    # 3x3 block minus center → 1 polygon, 1 hole, area 8
    cells = [(x, y) for x in range(3) for y in range(3) if (x, y) != (1, 1)]
    polys = rings_of(np.array([c[0] for c in cells]), np.array([c[1] for c in cells]))
    assert len(polys) == 1
    assert len(polys[0]) == 2  # shell + hole
    assert dissolve_area_px(polys) == 8.0


def test_dissolve_corner_touch_splits():
    # two pixels sharing only a corner → two polygons
    polys = rings_of(np.array([0, 1]), np.array([0, 1]))
    assert len(polys) == 2
    assert dissolve_area_px(polys) == 2.0


def test_dissolve_two_regions():
    polys = rings_of(np.array([0, 1, 5]), np.array([0, 0, 5]))
    assert len(polys) == 2
    assert dissolve_area_px(polys) == 3.0


def test_dissolve_big_random_area_matches_count():
    rng = np.random.default_rng(5)
    pts = {(int(x), int(y)) for x, y in zip(rng.integers(0, 30, 300), rng.integers(0, 30, 300))}
    gx = np.array([p[0] for p in pts])
    gy = np.array([p[1] for p in pts])
    polys = rings_of(gx, gy)
    assert dissolve_area_px(polys) == float(len(pts))


def test_label_counts_basic():
    # single cell
    assert label_counts(np.array([0]), np.array([0])) == (1, 1, 0, 0)
    # two diagonal cells: 2 comps at 4-conn, 1 at 8-conn, no holes
    assert label_counts(np.array([0, 1]), np.array([0, 1])) == (2, 1, 0, 0)
    # 3x3 ring with centre hole
    ys, xs = np.nonzero(np.array([[1, 1, 1], [1, 0, 1], [1, 1, 1]]))
    assert label_counts(xs, ys) == (1, 1, 1, 1)


def test_loops_match_labeling_random_grids():
    """Property: traced shells == C4; GEOS ring holes ∈ [H8, H4];
    shoelace area == pixel count — on 300 random grids."""
    rng = np.random.default_rng(7)
    for _ in range(300):
        h, w = rng.integers(1, 11, 2)
        g = rng.random((h, w)) < rng.uniform(0.2, 0.85)
        if not g.any():
            continue
        gy, gx = np.nonzero(g)
        polys = dissolve_pixels(gx, gy)
        n_shells = len(polys)
        n_holes = sum(len(r) - 1 for r in polys)
        area2 = sum(_signed_area2(r[:-1]) for rings in polys for r in rings)
        c4, c8, h4, h8 = label_counts(gx, gy)
        assert c4 == n_shells
        assert h8 <= n_holes <= h4
        assert area2 == 2 * len(gx)


def test_quad_counts_match_labeling():
    """χ4/χ8 from the one-pass quad counts equal the labeling-derived
    Euler numbers on random grids (the in-kernel sandwich relies on it)."""
    rng = np.random.default_rng(21)
    for _ in range(200):
        h, w = rng.integers(1, 11, 2)
        g = rng.random((h, w)) < rng.uniform(0.2, 0.85)
        if not g.any():
            continue
        gy, gx = np.nonzero(g)
        c4, c8, h4, h8 = label_counts(gx, gy)
        q1, q3, qd = (int(q[0]) for q in _quad_counts(one_band_keys(gx, gy)[0], 1))
        assert (q1 - q3 + 2 * qd) // 4 == c4 - h8
        assert (q1 - q3 - 2 * qd) // 4 == c8 - h4
        polys = dissolve_pixels(gx, gy)
        n_shells = len(polys)
        n_holes = sum(len(r) - 1 for r in polys)
        assert c8 - h4 <= n_shells - n_holes <= c4 - h8


def _holey_bands():
    """Bands whose hole count depends on connectivity: a donut, a hole
    pinched to the outside at one corner, and two holes that touch at a
    corner."""
    donut = np.ones((5, 5), bool)
    donut[2, 2] = False
    pinch = np.ones((3, 3), bool)
    pinch[1, 1] = pinch[2, 2] = False
    pair = np.ones((4, 4), bool)
    pair[1, 1] = pair[2, 2] = False
    return [np.nonzero(g)[::-1] for g in (donut, pinch, pair)]


def test_batch_invariants_match_labeling():
    """The batched invariants (one vectorized pass over many bands,
    min-label doubling instead of the per-edge walk) against grid
    labeling on random bands plus the holey bands: shells == C4,
    H8 <= holes <= H4, area2 == 2 * cells, Euler numbers from the quad
    counts; shell and hole counts also equal the rings of
    ``dissolve_pixels``."""
    rng = np.random.default_rng(99)
    bands = []
    for _ in range(60):
        h, w = rng.integers(1, 14, 2)
        g = rng.random((h, w)) < rng.uniform(0.2, 0.9)
        if not g.any():
            continue
        gy, gx = np.nonzero(g)
        off = rng.integers(0, 500, 2)
        bands.append((gx + off[0], gy + off[1]))
    bands += [(gx + 40, gy + 17) for gx, gy in _holey_bands()]

    sh, ho, a2, q1, q3, qd = batch_invariants(*_batch(bands))
    assert ho[-3:].tolist() == [1, 0, 1]  # pinched holes join a ring (GEOS)
    for b, (bx, by) in enumerate(bands):
        c4, c8, h4, h8 = label_counts(bx, by)
        assert sh[b] == c4
        assert h8 <= ho[b] <= h4
        assert a2[b] == 2 * len(bx)
        assert (q1[b] - q3[b] + 2 * qd[b]) // 4 == c4 - h8
        assert (q1[b] - q3[b] - 2 * qd[b]) // 4 == c8 - h4
        polys = dissolve_pixels(bx, by)
        assert sh[b] == len(polys)
        assert ho[b] == sum(len(rings) - 1 for rings in polys)


def _oversized_batch():
    """One Arrow batch of (poly_id, height_base, subs) band rows: 65,537
    single-cell bands, then the holey bands.  Returns the batch, the
    single cells' (gx, gy) and the holey bands' cells as placed."""
    import pyarrow as pa

    from openelevationservice_spark.operators.color import _SUB_GX_SHIFT, _SUB_GY_SHIFT

    n = (1 << 16) + 1
    i = np.arange(n, dtype=np.int64)
    gx, gy = 3 * (i % 1000), 3 * (i // 1000)
    packed = ((gy << _SUB_GY_SHIFT) | (gx << _SUB_GX_SHIFT) | 1).astype("<i8")
    subs = [[packed[k:k + 1].tobytes()] for k in range(n)]
    holey = [(hx + 9, hy + 7) for hx, hy in _holey_bands()]
    for hx, hy in holey:
        # one unit subrun per cell, split over two partial buffers
        cells = ((hy << _SUB_GY_SHIFT) | (hx << _SUB_GX_SHIFT) | 1).astype("<i8")
        subs.append([cells[:3].tobytes(), cells[3:].tobytes()])
    n_all = n + len(holey)
    batch = pa.RecordBatch.from_pydict({
        "poly_id": pa.array(np.zeros(n_all, dtype=np.int64)),
        "height_base": pa.array(np.arange(n_all, dtype=np.int64)),
        "subs": pa.array(subs, pa.list_(pa.binary())),
    })
    return batch, (gx, gy), holey


def test_invariants_partition_slices_oversized_batches():
    """An Arrow batch holding more bands than the 16-bit band field of
    the batched key (maxRecordsPerBatch is a deployment setting) is
    sliced, not rejected: 65,537 single-cell bands in ONE batch each
    come back as one unit square (area 1, Euler numbers 1).  The holey
    bands that follow them in the batch come back with area = cell
    count and the labeling's Euler numbers."""
    import pandas as pd

    from openelevationservice_spark.operators.color import _invariants_partition_subs

    batch, (gx, _), holey = _oversized_batch()
    n, n_all = len(gx), batch.num_rows
    frames = list(_invariants_partition_subs(iter([batch])))
    assert len(frames) == 2
    out = pd.concat([f.to_pandas() for f in frames], ignore_index=True)
    assert out["height_base"].tolist() == list(range(n_all))
    single = out.iloc[:n]
    assert (single["area_px"] == 1).all()
    assert (single["euler4"] == 1).all() and (single["euler8"] == 1).all()
    for (hx, hy), row in zip(holey, out.iloc[n:].itertuples()):
        c4, c8, h4, h8 = label_counts(hx, hy)
        assert row.area_px == len(hx)
        assert (row.euler4, row.euler8) == (c4 - h8, c8 - h4)


def _nest(n: int, step: np.ndarray) -> np.ndarray:
    """Concentric square rings of set and unset cells: shells, holes,
    islands inside holes, and holes inside those islands."""
    g = np.zeros((n, n), bool)
    k, on = 0, True
    for s in step:
        if 2 * k >= n:
            break
        g[k:n - k, k:n - k] = on
        k, on = k + int(s), not on
    return g


def test_batched_rings_equal_reference_walk():
    """Property: ``batch_rings`` over seeded random batches of many bands
    returns, band by band, exactly the reference walk's polygons — the
    same loops in the same order, each from the same start vertex in
    the same direction, holes under the same shells — and its feature
    areas are the walk's ring areas summed.  The bands mix random grids
    (holes, pinch vertices), concentric nests (islands inside holes)
    and nests with random cells dropped."""
    rng = np.random.default_rng(2020)
    n_holes = n_levels = 0
    for _ in range(120):
        bands = []
        for _ in range(int(rng.integers(1, 12))):
            kind = rng.random()
            if kind < 0.3:
                g = _nest(int(rng.integers(5, 24)), rng.integers(1, 3, 24))
                if kind < 0.1:
                    g &= rng.random(g.shape) < 0.9
            else:
                h, w = rng.integers(1, 20, 2)
                g = rng.random((h, w)) < rng.uniform(0.2, 0.95)
            if not g.any():
                g[0, 0] = True
            gy, gx = np.nonzero(g)
            perm = rng.permutation(len(gx))           # cell order is free
            off = rng.integers(0, 1000, 2)
            bands.append(((gx + off[0])[perm], (gy + off[1])[perm]))
        for (bx, by), (polys, areas2) in zip(bands, batched_polys(bands)):
            want, want_a2 = dissolve_pixels_rings(bx, by)
            assert polys == want
            assert areas2 == [sum(a) for a in want_a2]
            n_holes += sum(len(p) - 1 for p in want)
            # a nest has holey polygons at more than one level
            n_levels += sum(len(a) > 1 for a in want_a2) > 1
    assert n_holes > 1000 and n_levels > 50


def test_features_partition_slices_oversized_batches():
    """The features kernel slices an Arrow batch holding more bands than
    the 16-bit band field as the invariants kernel does: each of 65,537
    single-cell bands comes back as one unit-square feature, and the
    holey bands after them come back ring for ring as the reference
    walk traces them."""
    import pandas as pd

    from openelevationservice_spark.constants import PX, WORLD_X0, WORLD_Y0
    from openelevationservice_spark.operators.color import _dissolve_partition_subs

    batch, (gx, gy), holey = _oversized_batch()
    frames = list(_dissolve_partition_subs(iter([batch])))
    assert len(frames) == 2
    out = pd.concat([f.to_pandas() for f in frames], ignore_index=True)
    n = len(gx)
    single = out.iloc[:n]
    assert single["height_base"].tolist() == list(range(n))
    assert (single["feature_idx"] == 0).all() and (single["n_rings"] == 1).all()
    assert (single["area_px"] == 1.0).all()
    for (x, y), rings in zip(zip(gx.tolist(), gy.tolist()), single["rings"]):
        assert [(p["x"], p["y"]) for p in rings[0]] == [
            (WORLD_X0 + cx * PX, WORLD_Y0 - cy * PX)
            for cx, cy in ((x, y), (x + 1, y), (x + 1, y + 1), (x, y + 1), (x, y))]
    rest = out.iloc[n:]
    for b, (hx, hy) in enumerate(holey):
        feats = rest[rest["height_base"] == n + b]
        want, want_a2 = dissolve_pixels_rings(hx, hy)
        assert feats["feature_idx"].tolist() == list(range(len(want)))
        assert feats["area_px"].tolist() == [sum(a) / 2.0 for a in want_a2]
        got = [[[(p["x"], p["y"]) for p in ring] for ring in rings] for rings in feats["rings"]]
        assert got == [[[(WORLD_X0 + x * PX, WORLD_Y0 - y * PX) for x, y in ring]
                        for ring in rings] for rings in want]
