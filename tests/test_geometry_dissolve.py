import numpy as np

from openelevationservice_spark.functions.dissolve import (_one_band_keys, _quad_counts,
                                                           batch_invariants)
from openelevationservice_spark.functions.geometry import points_in_ring
from tests.references import (_signed_area2, dissolve_area_px, dissolve_pixels, label_counts,
                              ring_to_arrays)


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
    polys = dissolve_pixels(np.array([3]), np.array([7]))
    assert len(polys) == 1
    assert len(polys[0]) == 1  # no holes
    shell = polys[0][0]
    assert shell[0] == shell[-1]
    assert set(shell[:-1]) == {(3, 7), (4, 7), (4, 8), (3, 8)}
    assert dissolve_area_px(polys) == 1.0


def test_dissolve_block_with_hole():
    # 3x3 block minus center → 1 polygon, 1 hole, area 8
    cells = [(x, y) for x in range(3) for y in range(3) if (x, y) != (1, 1)]
    polys = dissolve_pixels(np.array([c[0] for c in cells]), np.array([c[1] for c in cells]))
    assert len(polys) == 1
    assert len(polys[0]) == 2  # shell + hole
    assert dissolve_area_px(polys) == 8.0


def test_dissolve_corner_touch_splits():
    # two pixels sharing only a corner → two polygons
    polys = dissolve_pixels(np.array([0, 1]), np.array([0, 1]))
    assert len(polys) == 2
    assert dissolve_area_px(polys) == 2.0


def test_dissolve_two_regions():
    polys = dissolve_pixels(np.array([0, 1, 5]), np.array([0, 0, 5]))
    assert len(polys) == 2
    assert dissolve_area_px(polys) == 3.0


def test_dissolve_big_random_area_matches_count():
    rng = np.random.default_rng(5)
    pts = {(int(x), int(y)) for x, y in zip(rng.integers(0, 30, 300), rng.integers(0, 30, 300))}
    gx = np.array([p[0] for p in pts])
    gy = np.array([p[1] for p in pts])
    polys = dissolve_pixels(gx, gy)
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
        q1, q3, qd = (int(q[0]) for q in _quad_counts(_one_band_keys(gx, gy)[0], 1))
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

    band = np.repeat(np.arange(len(bands)), [len(b[0]) for b in bands])
    gx = np.concatenate([b[0] for b in bands]).astype(np.int64)
    gy = np.concatenate([b[1] for b in bands]).astype(np.int64)
    seg = np.concatenate(([0], np.cumsum([len(b[0]) for b in bands])))
    sh, ho, a2, q1, q3, qd = batch_invariants(band, gx, gy, len(bands), seg)
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


def test_invariants_partition_slices_oversized_batches():
    """An Arrow batch holding more bands than the 16-bit band field of
    the batched key (maxRecordsPerBatch is a deployment setting) is
    sliced, not rejected: 65,537 single-cell bands in ONE batch each
    come back as one unit square (area 1, Euler numbers 1).  The holey
    bands that follow them in the batch come back with area = cell
    count and the labeling's Euler numbers."""
    import pandas as pd
    import pyarrow as pa

    from openelevationservice_spark.operators.color import (
        _SUB_GX_SHIFT,
        _SUB_GY_SHIFT,
        _invariants_partition_subs,
    )

    n = (1 << 16) + 1
    i = np.arange(n, dtype=np.int64)
    gx, gy = 3 * (i % 1000), 3 * (i // 1000)
    packed = ((gy << _SUB_GY_SHIFT) | (gx << _SUB_GX_SHIFT) | 1).astype("<i8")
    subs = [[packed[k:k + 1].tobytes()] for k in range(n)]
    holey = _holey_bands()
    for hx, hy in holey:
        # one unit subrun per cell, split over two partial buffers
        cells = ((hy + 7) << _SUB_GY_SHIFT) | ((hx + 9) << _SUB_GX_SHIFT) | 1
        cells = cells.astype("<i8")
        subs.append([cells[:3].tobytes(), cells[3:].tobytes()])
    n_all = n + len(holey)
    batch = pa.RecordBatch.from_pydict({
        "poly_id": pa.array(np.zeros(n_all, dtype=np.int64)),
        "height_base": pa.array(np.arange(n_all, dtype=np.int64)),
        "subs": pa.array(subs, pa.list_(pa.binary())),
    })
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
