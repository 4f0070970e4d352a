"""Seeded workload inputs and the answers they imply.

Every generator takes the seed explicitly; the package under test only
ever receives the DataFrames or request geometries built here.  The
numpy side (``Grid`` and the expected counts) is the independent answer
the output checks compare against.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from openelevationservice_spark.constants import COORD_PRECISION, NODATA, PX, TILE_PX
from openelevationservice_spark.sources import fixtures as fx

# Volumes per size and workload.  "full" is the measured benchmark: on 4
# cores each operation takes about 1-6 s, most of it fixed per-query cost
# (planning, scheduling, broadcast, Python workers).  Prepare ingests a
# 16x16-tile world eight times over: the same 2048 tiles as 32x32 twice,
# with a quarter of the tiles to generate and decode in each set-up.
# "tiny" is the smoke-test size.
SIZES = {
    "full": {
        "replay": dict(world=32, points=4_800_000, lines=150_000, polygons=1_000,
                       dissolve_polygons=200),
        "prepare": dict(world=16, tile_reps=8, docs=5_000, vectors=10_000, queries=8, topk=10),
    },
    "tiny": {
        "replay": dict(world=4, points=6_000, lines=1_500, polygons=10, dissolve_polygons=5),
        "prepare": dict(world=4, tile_reps=2, docs=500, vectors=500, queries=4, topk=5),
    },
}


def world_for(n: int) -> fx.World:
    return fx.World(tx0=4636, ty0=1242, nx=n, ny=n)


class Grid:
    """The world's elevation field as one numpy array (the check oracle)."""

    def __init__(self, world: fx.World):
        self.world = world
        self.gx0, self.gy0 = world.tx0 * TILE_PX, world.ty0 * TILE_PX
        self.w, self.h = world.nx * TILE_PX, world.ny * TILE_PX
        gx = self.gx0 + np.arange(self.w, dtype=np.int64)
        gy = self.gy0 + np.arange(self.h, dtype=np.int64)
        self.z = fx.z_field(gx[None, :], gy[:, None])
        valid = (self.z != NODATA).astype(np.int64)
        self._csum = np.zeros((self.h + 1, self.w + 1), dtype=np.int64)
        self._csum[1:, 1:] = valid.cumsum(0).cumsum(1)

    def z_at(self, gx, gy) -> np.ndarray:
        return self.z[np.asarray(gy) - self.gy0, np.asarray(gx) - self.gx0]

    def valid_in(self, lx0, ly0, w, h):
        """Non-NODATA pixel count of local rectangles (prefix sums)."""
        c = self._csum
        return c[ly0 + h, lx0 + w] - c[ly0, lx0 + w] - c[ly0 + h, lx0] + c[ly0, lx0]

    def lon(self, lx) -> np.ndarray:
        """Longitude of local pixel column ``lx`` (pass lx + 0.5 for centres)."""
        return self.world.min_x + np.asarray(lx, dtype=np.float64) * PX

    def lat(self, ly) -> np.ndarray:
        return self.world.max_y - np.asarray(ly, dtype=np.float64) * PX


def densify_counts(x1, y1, x2, y2) -> np.ndarray:
    """Vertices a 2-point line densifies to: the same IEEE operations in
    the same order as the reference's ST_Segmentize at COORD_PRECISION."""
    dx, dy = x2 - x1, y2 - y1
    ln = np.sqrt(dx * dx + dy * dy)
    with np.errstate(divide="ignore"):
        frac = np.where(ln == 0.0, 1.0, np.minimum(1.0, COORD_PRECISION / ln))
    ni = np.where(ln == 0.0, 0.0, np.floor(1.0 / frac)).astype(np.int64)
    tl = ni * frac
    tail = (tl >= 1.0) | ((x1 + tl * dx == x2) & (y1 + tl * dy == y2))
    n_keep = np.where(ni >= 1, ni - tail.astype(np.int64), 0)
    return 1 + n_keep + ((x2 != x1) | (y2 != y1)).astype(np.int64)


@dataclass
class Rects:
    """Axis-aligned pixel-edge rectangles in local pixel coordinates."""

    lx0: np.ndarray
    ly0: np.ndarray
    w: np.ndarray
    h: np.ndarray

    def rings(self, g: Grid) -> list[list[tuple[float, float]]]:
        x0, x1 = g.lon(self.lx0), g.lon(self.lx0 + self.w)
        y1, y0 = g.lat(self.ly0), g.lat(self.ly0 + self.h)
        return [[(a, c), (b, c), (b, d), (a, d), (a, c)]
                for a, b, c, d in zip(x0, x1, y0, y1)]

    def expected_pixels(self, g: Grid) -> np.ndarray:
        return g.valid_in(self.lx0, self.ly0, self.w, self.h)


def _spread(rng, n: int, lo: int, hi: int, steps: tuple[int, ...]) -> list[np.ndarray]:
    """Per step, n values covering [lo, hi) evenly, in one seeded order:
    every seed gets the same multiset of tuples, so the work an input
    implies does not vary with the seed."""
    k = rng.permutation(n).astype(np.int64)
    return [lo + k * step % (hi - lo) for step in steps]


def random_rects(rng, g: Grid, n: int, lo: int, hi: int) -> Rects:
    w, h = _spread(rng, n, lo, hi, (37, 53))
    return Rects(rng.integers(0, g.w - w), rng.integers(0, g.h - h), w, h)


def fixed_rects(rng, g: Grid, n: int, side: int) -> Rects:
    w = np.full(n, side)
    return Rects(rng.integers(0, g.w - side, n), rng.integers(0, g.h - side, n), w, w)


def rects_df(spark, rects: Rects, g: Grid):
    rings = [[{"lon": x, "lat": y} for x, y in r] for r in rects.rings(g)]
    pdf = pd.DataFrame({"poly_id": np.arange(len(rings), dtype=np.int64),
                        "ring": rings})
    return spark.createDataFrame(
        pdf, schema="poly_id long, ring array<struct<lon:double,lat:double>>")


def points_df(spark, g: Grid, n: int, seed: int, parts: int):
    """n points at pixel centres, generated on the executors.

    ``point_id`` encodes the local pixel (id * W*H + gy*W + gx) so the
    check can recover where each point was aimed."""
    wpx, hpx = g.w, g.h
    gx = F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(wpx))
    gy = F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 1)), F.lit(hpx))
    base = spark.range(0, n, 1, parts).select("id", gx.alias("gx"), gy.alias("gy"))
    return base.select(
        (F.col("id") * (wpx * hpx) + F.col("gy") * wpx + F.col("gx")).alias("point_id"),
        (F.lit(g.world.min_x) + (F.col("gx") + F.lit(0.5)) * F.lit(PX)).alias("lon"),
        (F.lit(g.world.max_y) - (F.col("gy") + F.lit(0.5)) * F.lit(PX)).alias("lat"),
    )


def line_endpoints(rng, g: Grid, n: int, reach: int = 60):
    """2-vertex lines between pixel centres at most ``reach`` px apart."""
    dx, dy = _spread(rng, n, -reach, reach + 1, (7919, 104729))
    ax = rng.integers(np.maximum(0, -dx), g.w - np.maximum(0, dx))
    ay = rng.integers(np.maximum(0, -dy), g.h - np.maximum(0, dy))
    return (g.lon(ax + 0.5), g.lat(ay + 0.5),
            g.lon(ax + dx + 0.5), g.lat(ay + dy + 0.5))


# --- corpus -------------------------------------------------------------

_SYL = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
_WORDS = sorted({a + b for a in _SYL for b in _SYL})[::7]
_STOP = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "dans", "pour"],
}


def make_docs(rng, n: int) -> pd.DataFrame:
    """Documents with ~15% planted near-duplicates (1-2 tokens edited)."""
    langs = rng.choice(["en", "en", "en", "de", "fr"], n)
    texts: list[str] = []
    for i in range(n):
        if i > 16 and rng.random() < 0.15:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                toks[int(rng.integers(0, len(toks)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            length = int(rng.integers(10, 101))
            stop = rng.random(length) < 0.25
            toks = [(_STOP[langs[i]][int(rng.integers(0, 10))] if s
                     else _WORDS[int(rng.integers(0, len(_WORDS)))]) for s in stop]
        texts.append(" ".join(toks))
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts})


def make_vectors(rng, n: int, dim: int = 64) -> np.ndarray:
    return rng.standard_normal((n, dim)).astype(np.float32)
