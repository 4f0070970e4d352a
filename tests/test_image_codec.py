import numpy as np
import pytest

from openelevationservice_spark.functions import image_codec as ic


@pytest.fixture
def grid():
    rng = np.random.default_rng(7)
    g = rng.integers(-32768, 32768, size=(50, 50)).astype(np.int16)
    g[0, 0] = -32768
    g[49, 49] = 32767
    return g


def test_raw16_roundtrip(grid):
    assert (ic.decode_raw16(ic.encode_raw16(grid), 50, 50) == grid).all()


def test_png16_roundtrip(grid):
    data = ic.encode_png16(grid)
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    assert (ic.decode_png16(data, 50, 50) == grid).all()


@pytest.mark.parametrize("w, h", [(40, 50), (50, 60)])
def test_png16_size_mismatch_raises(grid, w, h):
    """A PNG whose header disagrees with its row's w/h is an error, as it
    is for raw16: the pixel gather indexes the decoded array with the
    row's w."""
    with pytest.raises(ValueError, match=f"50x50 .* {w}x{h}"):
        ic.decode(ic.encode_png16(grid), "png16", w, h)
    with pytest.raises(ValueError):
        ic.decode(ic.encode_raw16(grid), "raw16", w, h)


def test_png16_is_parseable_by_stdlib_structure(grid):
    # chunk walk must terminate at IEND with valid CRCs
    import struct
    import zlib

    data = ic.encode_png16(grid)
    pos = 8
    tags = []
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        payload = data[pos + 8:pos + 8 + length]
        (crc,) = struct.unpack(">I", data[pos + 8 + length:pos + 12 + length])
        assert crc == zlib.crc32(tag + payload) & 0xFFFFFFFF
        tags.append(tag)
        pos += 12 + length
    assert tags == [b"IHDR", b"IDAT", b"IEND"]


def test_psnr(grid):
    assert ic.psnr(grid, grid) == float("inf")
    noisy = grid.astype(np.int32) + 1
    p = ic.psnr(grid, noisy)
    assert 90 < p < 100  # 20*log10(65535) ≈ 96.3 dB for unit error


def test_phash_deterministic_and_sensitive(grid):
    h1 = ic.phash64(grid)
    assert h1 == ic.phash64(grid.copy())
    other = grid.copy().astype(np.int32)
    other[:25, :] += 5000
    other = np.clip(other, -32768, 32767).astype(np.int16)
    assert ic.phash64(other) != h1


def test_roundtrip_check(grid):
    for fmt in ("raw16", "png16"):
        ok, p, ph = ic.roundtrip_check(ic.encode(grid, fmt), fmt, 50, 50)
        assert ok and p == float("inf") and ph == ic.phash64(grid)


def test_unknown_fmt_raises(grid):
    with pytest.raises(NotImplementedError):
        ic.encode(grid, "jpegxl")
    with pytest.raises(NotImplementedError):
        ic.decode(b"", "jpegxl", 50, 50)
