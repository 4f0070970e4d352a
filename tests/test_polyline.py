"""Byte-exact codec goldens from the reference test suite
(reference ``openelevationservice/tests/test_codec.py:7-43`` and
``tests/test_api_line.py:45-88``).  World-independent — must hold verbatim.
"""

from openelevationservice_spark.functions import polyline as pl

COORDS_3D = [(13.331302, 38.108433, 112.92), (13.331273, 38.10849, 1503.0932)]


def test_encode_3d_precision5_golden():
    assert pl.encode(COORDS_3D, precision=5, is3d=True) == "u`rgFswjpAw`UKDqonG"


def test_encode_3d_precision6_golden():
    assert pl.encode(COORDS_3D, precision=6, is3d=True) == "ap}tgAkutlXw`UqBx@qonG"


def test_decode_2d_precision5_golden():
    got = pl.decode("u`rgFswjpAKD", precision=5)
    assert got == [(13.3313, 38.10843), (13.33127, 38.10849)]


def test_decode_2d_precision6_golden():
    got = pl.decode("ap}tgAkutlXqBx@", precision=6)
    assert got == [(13.331302, 38.108433), (13.331273, 38.10849)]


def test_roundtrip_3d():
    enc = pl.encode(COORDS_3D, precision=6, is3d=True)
    dec = pl.decode(enc, precision=6, is3d=True)
    for (x, y, z), (dx, dy, dz) in zip(COORDS_3D, dec):
        assert abs(x - dx) < 1e-6 and abs(y - dy) < 1e-6 and abs(z - dz) < 0.01


def test_api_line_golden_output_shape():
    # reference test_api_line golden: input 'u`rgFswjpAKD' (p5, 2D) becomes
    # output 'u`rgFswjpA_aMKD?' (3D with z values); verify our codec
    # reproduces the output string from its decoded coordinates
    dec = pl.decode("u`rgFswjpA_aMKD?", precision=5, is3d=True)
    assert len(dec) == 2
    assert pl.encode(dec, precision=5, is3d=True) == "u`rgFswjpA_aMKD?"
    # '_aM' → varint 14400 → 7200/100 = 72.0 m at the Sicily test coord
    assert dec[0][2] == 72.0


def test_negative_and_zero_deltas():
    coords = [(-0.5, -0.25), (-0.5, -0.25), (0.0, 0.0)]
    enc = pl.encode(coords, precision=5)
    assert pl.decode(enc, precision=5) == coords


def test_py2_rounding_half_away_from_zero():
    # 0.000005 at p5 → 0.5 → rounds to 1 (away from zero), not 0 (banker's)
    enc_pos = pl.encode([(0.000005, 0.0)], precision=5)
    assert pl.decode(enc_pos, precision=5) == [(1e-05, 0.0)]
    enc_neg = pl.encode([(-0.000005, 0.0)], precision=5)
    assert pl.decode(enc_neg, precision=5) == [(-1e-05, 0.0)]
