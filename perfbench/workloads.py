"""The workloads: batch replay and table preparation.

Each workload is a closed loop: one query or job in flight at a time.
A workload builds its seeded inputs once and then yields *cycles* of
operations; every operation returns the number of output rows it
produced and raises ``CheckFailed`` when its output is wrong.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from openelevationservice_spark import api
from openelevationservice_spark.constants import NUM_RANGES, NODATA, PX, TILE_PX, WORLD_X0, WORLD_Y0
from openelevationservice_spark.functions import image_codec
from openelevationservice_spark.functions.dissolve import batch_invariants
from openelevationservice_spark.operators import dedup, similarity
from openelevationservice_spark.operators.color import (polygon_color_features,
                                                        polygon_color_invariants)
from openelevationservice_spark.operators.line import line_vertices_elevation
from openelevationservice_spark.operators.multimodal import image_metadata
from openelevationservice_spark.operators.point import point_elevation
from openelevationservice_spark.operators.polygon import polygon_pixels
from openelevationservice_spark.plans.cache import release_all
from openelevationservice_spark.plans.pipeline import curate_documents
from openelevationservice_spark.sources.snapshots import SnapshotStore
from openelevationservice_spark.sources.tiles import write_tile_index

from . import inputs as inp

SAMPLE_MOD = 997  # ~0.1% of batch output rows are z-checked


class CheckFailed(Exception):
    """An operation's output disagrees with the answer its inputs imply."""


def _check(ok, msg: str) -> None:
    if not ok:
        raise CheckFailed(msg)


@dataclass
class Op:
    kind: str
    run: Callable  # (tracer) -> output rows


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def _sampled(df, key_cols, cols):
    """One action: row count plus a hash-sampled list of output rows."""
    pick = F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(SAMPLE_MOD)) == 0
    return df.agg(F.count(F.lit(1)).alias("n"),
                  F.collect_list(F.when(pick, F.struct(*cols))).alias("s"))


def _tile_xy(image_ids) -> tuple[np.ndarray, np.ndarray]:
    tx = np.array([int(s[5:10]) for s in image_ids], dtype=np.int64)
    ty = np.array([int(s[11:16]) for s in image_ids], dtype=np.int64)
    return tx, ty


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Workload:
    name = ""
    kinds: tuple[str, ...] = ()
    units: dict[str, str] = {}  # what a kind's output counts, if not rows

    def __init__(self, size: str, seed: int, tmp_dir: str):
        self.p = inp.SIZES[size][self.name]
        self.seed = seed
        self.tmp_dir = tmp_dir
        self.world = inp.world_for(self.p["world"])
        self.grid = inp.Grid(self.world)
        self.digests: dict[str, str] = {}
        self.layer: dict[str, list] = {}   # per-layer samples, trace runs only
        self.touched_bytes: dict[str, int] = {}  # kind -> tile bytes its ops covered
        self._cached: list = []

    def note(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(value)

    def same_digest(self, kind: str, rows) -> None:
        """Outputs of one seed must not change between executions."""
        d = _digest(rows)
        _check(self.digests.setdefault(kind, d) == d,
               f"{kind} digest {d} differs from {self.digests[kind]}")

    def build_inputs(self, spark, images, pix) -> None:
        self.spark, self.images, self.pix = spark, images, pix
        self.parts = spark.sparkContext.defaultParallelism * 2
        sizes = images.select("image_id", F.length("bytes")).collect()
        self.tile_size = {r[0]: r[1] for r in sizes}
        self.tile_bytes = sum(self.tile_size.values())
        self._generate(np.random.default_rng([self.seed, len(self.name)]))
        self._build()

    def _generate(self, rng) -> None:
        """Seeded host-side inputs and their expected answers."""

    def _build(self) -> None:
        """Load the inputs into Spark."""

    def touch(self, kind: str, rects) -> None:
        """Count the unique tile bytes under ``rects`` against ``kind``."""
        tiles = set()
        for lx0, ly0, w, h in zip(rects.lx0, rects.ly0, rects.w, rects.h):
            for ty in range((self.grid.gy0 + ly0) // TILE_PX,
                            (self.grid.gy0 + ly0 + h - 1) // TILE_PX + 1):
                for tx in range((self.grid.gx0 + lx0) // TILE_PX,
                                (self.grid.gx0 + lx0 + w - 1) // TILE_PX + 1):
                    tiles.add(f"tile_{tx:05d}_{ty:05d}")
        self.touched_bytes[kind] = (self.touched_bytes.get(kind, 0)
                                    + sum(self.tile_size[t] for t in tiles))

    def hold(self, df):
        """Keep ``df`` persisted until the next ``release``."""
        self._cached.append(df)
        return df

    def _persist(self, df):
        df = df.persist()
        df.count()
        return self.hold(df)

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached = []
        release_all()

    def cycle(self, i: int) -> list[Op]:
        raise NotImplementedError

    def traced_extras(self) -> list[Op]:
        """Operations run after the timed window in traced runs only."""
        return []

    def probe_kernels(self) -> None:
        """Trace runs: time kernel bodies in the driver on workload inputs."""
        tiles = self.images.select("bytes", "fmt", "w", "h").collect()
        for fmt in ("raw16", "png16"):
            sel = [r for r in tiles if r["fmt"] == fmt]
            t0 = time.perf_counter()
            for r in sel:
                image_codec.decode(r["bytes"], fmt, r["w"], r["h"])
            self.note(f"image_codec.decode_us_per_tile.{fmt}",
                      (time.perf_counter() - t0) / max(len(sel), 1) * 1e6)


class Replay(Workload):
    """The reference's query shapes at batch volume."""

    name = "replay"
    kinds = ("point", "line", "polygon", "dissolve")

    def _generate(self, rng):
        g, p = self.grid, self.p
        x1, y1, x2, y2 = inp.line_endpoints(rng, g, p["lines"])
        self.n_vertices = int(inp.densify_counts(x1, y1, x2, y2).sum())
        self.lines_pdf = pd.DataFrame({"line_id": np.arange(p["lines"], dtype=np.int64),
                                       "x1": x1, "y1": y1, "x2": x2, "y2": y2})
        self.rects = inp.random_rects(rng, g, p["polygons"], 40, 160)
        self.drects = inp.random_rects(rng, g, p["dissolve_polygons"], 40, 160)

    def _build(self):
        g, p = self.grid, self.p
        self.n_points = p["points"]
        self.pts = inp.points_df(self.spark, g, p["points"], self.seed, self.parts)
        self.lines = self._persist(
            self.spark.createDataFrame(self.lines_pdf).repartition(self.parts))
        self.polys = self._persist(inp.rects_df(self.spark, self.rects, g))
        self.dpolys = self._persist(inp.rects_df(self.spark, self.drects, g))
        self.api = ApiRequests(self)

    def cycle(self, i):
        return [Op("point", self.point), Op("line", self.line),
                Op("polygon", self.polygon), Op("dissolve", self.dissolve)]

    def traced_extras(self):
        return [op for i in range(ApiRequests.ROUNDS) for op in self.api.ops(i)]

    def point(self, t):
        g = self.grid
        with t.span("operators.point"):
            q = _sampled(point_elevation(self.pts, self.images, pix_index_df=self.pix),
                         ["point_id"], ["point_id", "image_id", "ix", "iy", "z"])
        with t.span("engine.action"):
            r = q.collect()[0]
        with t.span("bench.check"):
            _check(r["n"] == self.n_points, f"point rows {r['n']} != {self.n_points}")
            s = r["s"]
            pid = np.array([x["point_id"] for x in s], dtype=np.int64) % (g.w * g.h)
            tx, ty = _tile_xy([x["image_id"] for x in s])
            gx = tx * TILE_PX + np.array([x["ix"] for x in s], dtype=np.int64)
            gy = ty * TILE_PX + np.array([x["iy"] for x in s], dtype=np.int64)
            _check(np.array_equal(gx - g.gx0, pid % g.w)
                   and np.array_equal(gy - g.gy0, pid // g.w), "point landed off its pixel")
            _check(np.array_equal(np.array([x["z"] for x in s]), g.z_at(gx, gy)),
                   "point z differs from the elevation field")
        return r["n"]

    def line(self, t):
        with t.span("operators.line"):
            q = _sampled(line_vertices_elevation(self.lines, self.images, pix_index_df=self.pix),
                         ["line_id", "seq"], ["x", "y", "image_id", "ix", "iy", "z"])
        with t.span("engine.action"):
            r = q.collect()[0]
        with t.span("bench.check"):
            _check(r["n"] == self.n_vertices, f"line rows {r['n']} != {self.n_vertices}")
            self._check_vertices(r["s"])
        return r["n"]

    def _check_vertices(self, s):
        g = self.grid
        tx, ty = _tile_xy([x["image_id"] for x in s])
        gx = tx * TILE_PX + np.array([x["ix"] for x in s], dtype=np.int64)
        gy = ty * TILE_PX + np.array([x["iy"] for x in s], dtype=np.int64)
        x = np.array([v["x"] for v in s])
        y = np.array([v["y"] for v in s])
        off_x = np.abs(x - g.lon(gx - g.gx0 + 0.5))
        off_y = np.abs(y - g.lat(gy - g.gy0 + 0.5))
        _check(np.all(off_x <= 0.5 * PX * (1 + 1e-9)) and np.all(off_y <= 0.5 * PX * (1 + 1e-9)),
               "vertex sampled from a pixel it does not lie in")
        _check(np.array_equal(np.array([v["z"] for v in s]), g.z_at(gx, gy)),
               "vertex z differs from the elevation field")

    def polygon(self, t):
        g, rc = self.grid, self.rects
        with t.span("operators.polygon"):
            q = _sampled(polygon_pixels(self.polys, self.images),
                         ["poly_id", "gx", "gy"], ["poly_id", "gx", "gy", "z"])
        with t.span("engine.action"):
            r = q.collect()[0]
        with t.span("bench.check"):
            self.touch("polygon", rc)
            want = int(rc.expected_pixels(g).sum())
            _check(r["n"] == want, f"polygon rows {r['n']} != {want}")
            s = r["s"]
            pid = np.array([x["poly_id"] for x in s], dtype=np.int64)
            lx = np.array([x["gx"] for x in s], dtype=np.int64) - g.gx0
            ly = np.array([x["gy"] for x in s], dtype=np.int64) - g.gy0
            _check(np.all((lx >= rc.lx0[pid]) & (lx < rc.lx0[pid] + rc.w[pid])
                          & (ly >= rc.ly0[pid]) & (ly < rc.ly0[pid] + rc.h[pid])),
                   "pixel outside its polygon")
            _check(np.array_equal(np.array([x["z"] for x in s]), g.z[ly, lx]),
                   "pixel z differs from the elevation field")
        return r["n"]

    def dissolve(self, t):
        with t.span("operators.color"):
            df = polygon_color_invariants(self.dpolys, self.images)
        with t.span("engine.action"):
            rows = [tuple(r) for r in df.collect()]
        with t.span("bench.check"):
            self.touch("dissolve", self.drects)
            area = np.zeros(len(self.drects.w), dtype=np.int64)
            np.add.at(area, np.array([r[0] for r in rows], dtype=np.int64),
                      np.array([r[2] for r in rows], dtype=np.int64))
            _check(np.array_equal(area, self.drects.expected_pixels(self.grid)),
                   "dissolve band areas do not add up to the polygon pixels")
            self.same_digest("dissolve", rows)
        return len(rows)

    def probe_kernels(self):
        super().probe_kernels()
        g, rc = self.grid, self.drects
        band_id, gxs, gys, n_bands = [], [], [], 0
        for i in range(len(rc.w)):
            ly, lx = np.mgrid[rc.ly0[i]:rc.ly0[i] + rc.h[i], rc.lx0[i]:rc.lx0[i] + rc.w[i]]
            z = g.z[ly, lx].ravel()
            keep = z != NODATA
            z, lx, ly = z[keep], lx.ravel()[keep], ly.ravel()[keep]
            lo, hi = int(z.min()), int(z.max())
            div = (hi - lo + 1) / float(NUM_RANGES)
            hb = np.ceil(np.floor((z - lo) / div) * div + lo).astype(np.int64)
            order = np.lexsort((lx, ly, hb))
            _, first = np.unique(hb[order], return_index=True)
            b = np.repeat(np.arange(len(first)), np.diff(np.append(first, len(order))))
            band_id.append(b + n_bands)
            gxs.append(lx[order] + g.gx0)
            gys.append(ly[order] + g.gy0)
            n_bands += len(first)
        band = np.concatenate(band_id)
        seg = np.append(np.flatnonzero(np.diff(band, prepend=-1)), len(band))
        t0 = time.perf_counter()
        out = batch_invariants(band, np.concatenate(gxs), np.concatenate(gys), n_bands, seg)
        self.note("dissolve.batch_invariants_us_per_band",
                  (time.perf_counter() - t0) / n_bands * 1e6)
        _check(int(out[2].sum()) == 2 * int(rc.expected_pixels(g).sum()),
               "batch_invariants areas do not add up to the polygon pixels")
        self.api.probe_parse()


class Prepare(Workload):
    """Jobs that produce tables: tile ingest and corpus curation."""

    name = "prepare"
    kinds = ("ingest", "dedup", "ann", "curate")
    units = {"ingest": "tiles", "dedup": "docs", "ann": "vectors", "curate": "docs"}

    def _generate(self, rng):
        p, g = self.p, self.grid
        reps = p["tile_reps"]
        self.n_tiles = self.world.n_tiles
        self.want_meta = (reps * self.n_tiles, reps * int(g.z.astype(np.int64).sum()),
                          reps * int((g.z == NODATA).sum()))
        self.docs_pdf = inp.make_docs(rng, p["docs"])
        self.doc_bytes = int(self.docs_pdf["text"].str.len().sum())
        vecs = inp.make_vectors(rng, p["vectors"])
        self.emb_pdf = pd.DataFrame({"vec_id": np.arange(len(vecs), dtype=np.int64),
                                     "embedding": list(vecs)})
        unit = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float64)
        self.unit = unit
        nq = p["queries"]
        self.kth = -np.sort(-(unit[:nq] @ unit.T), axis=1)[:, p["topk"] - 1]

    def _build(self):
        p, reps = self.p, self.p["tile_reps"]
        big = (self.images
               .withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(reps - 1))))
               .withColumn("image_id", F.concat_ws("#", "image_id", "rep")).drop("rep"))
        self.imgs_big = big.repartition(self.parts)  # replicated inside each ingest query
        self.docs = self._persist(
            self.spark.createDataFrame(self.docs_pdf).repartition(self.parts))
        emb = self.spark.createDataFrame(self.emb_pdf,
                                         schema="vec_id long, embedding array<float>")
        self.queries = self._persist(emb.filter(F.col("vec_id") < p["queries"]).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")))
        self.corpus = self._persist(similarity.pack_vectors(emb.repartition(self.parts)))

    def cycle(self, i):
        return [Op("ingest", lambda t: self.ingest(t, i)), Op("dedup", self.dedup),
                Op("ann", self.ann), Op("curate", lambda t: self.curate(t, i))]

    def _store(self, name: str) -> SnapshotStore:
        root = os.path.join(self.tmp_dir, name)
        shutil.rmtree(root, ignore_errors=True)
        return SnapshotStore(root)

    def ingest(self, t, i):
        with t.span("operators.multimodal"):
            q = image_metadata(self.imgs_big).agg(
                F.count(F.lit(1)), F.sum("sum_v"), F.sum("n_nodata"))
        with t.span("engine.action"):
            r = tuple(int(v) for v in q.collect()[0])
        with t.span("bench.check"):
            _check(r == self.want_meta, f"tile metadata {r} != {self.want_meta}")
            self.touched_bytes["ingest"] = (self.touched_bytes.get("ingest", 0)
                                            + self.p["tile_reps"] * self.tile_bytes)
        store = self._store(f"ingest-{i}")
        with t.span("sources.snapshot_write") as s:
            m = write_tile_index(self.images, store)
        with t.span("bench.check"):
            _check(m["total_rows"] == self.n_tiles,
                   f"tile index rows {m['total_rows']} != {self.n_tiles}")
            if s is not None:
                self.note("sources.snapshot_write_s", s["end"] - s["start"])
                self.note("sources.snapshot_bytes_per_input_byte",
                          _dir_bytes(store.root) / self.tile_bytes)
            shutil.rmtree(store.root, ignore_errors=True)
        return r[0] + m["total_rows"]

    def traced_extras(self):
        return [Op("dedup.split", self.dedup_split)]

    def dedup(self, t):
        with t.span("operators.dedup"):
            df = dedup.dedup_clusters(self.docs, n_hashes=8, bands=4)
        with t.span("engine.action"):
            rows = [tuple(r) for r in df.collect()]
        with t.span("bench.check"):
            _check(len(rows) == self.p["docs"], f"dedup rows {len(rows)} != {self.p['docs']}")
            ids = np.array([r[0] for r in rows])
            rep = np.array([r[1] for r in rows])
            size = np.array([r[2] for r in rows])
            _check(len(np.unique(ids)) == len(ids) and np.all(rep <= ids),
                   "dedup: duplicate ids or a representative above its member")
            reps, counts = np.unique(rep, return_counts=True)
            _check(np.array_equal(size, counts[np.searchsorted(reps, rep)]),
                   "dedup cluster sizes disagree with the assignment")
            self.same_digest("dedup", rows)
        return len(rows)

    def dedup_split(self, t):
        """The two halves of ``dedup_clusters`` timed apart (traced runs,
        after the timed cycle), to locate the minhash tail."""
        with t.span("operators.dedup.lsh_pairs") as s1:
            pairs = dedup.lsh_candidate_pairs(self.docs, n_hashes=8, bands=4).persist()
            n_pairs = pairs.count()
        with t.span("operators.dedup.components") as s2:
            n = dedup.connected_components(pairs, self.docs.select("doc_id"), "doc_id",
                                           with_sizes=True, ids_unique=True).count()
        pairs.unpersist()
        _check(n == self.p["docs"], f"dedup components rows {n} != {self.p['docs']}")
        self.note("dedup.lsh_pairs_s", s1["end"] - s1["start"])
        self.note("dedup.components_s", s2["end"] - s2["start"])
        self.note("dedup.candidate_pairs", n_pairs)
        self.note("dedup.candidate_pairs_per_doc", n_pairs / self.p["docs"])
        return n

    def ann(self, t):
        k = self.p["topk"]
        with t.span("operators.similarity"):
            df = similarity.cosine_topk(self.corpus, self.queries, k=k)
        with t.span("engine.action"):
            rows = [(r["q_id"], r["rank"], r["vec_id"]) for r in df.collect()]
        with t.span("bench.check"):
            nq = self.p["queries"]
            _check(len(rows) == nq * k, f"ann rows {len(rows)} != {nq * k}")
            q = np.array([r[0] for r in rows])
            v = np.array([r[2] for r in rows])
            _check(sorted((r[0], r[1]) for r in rows)
                   == [(a, b) for a in range(nq) for b in range(1, k + 1)],
                   "ann ranks are not 1..k per query")
            got = np.einsum("ij,ij->i", self.unit[q], self.unit[v])
            _check(np.all(got >= self.kth[q] - 1e-5), "ann returned a vector outside the top k")
            self.same_digest("ann", rows)
        return self.p["vectors"]

    def curate(self, t, i):
        store = self._store(f"curate-{i}")
        with t.span("plans.pipeline") as s:
            curated, manifests = curate_documents(self.spark, self.docs, store)
        with t.span("engine.action"):
            ids = [r[0] for r in curated.select("doc_id").collect()]
        with t.span("bench.check"):
            stages = [m["stage"] for m in manifests]
            _check(stages == ["quality", "langid", "dedup_exact", "curated"],
                   f"pipeline stages {stages}")
            rows = [m["total_rows"] for m in manifests]
            _check(rows == sorted(rows, reverse=True) and rows[-1] == len(ids) > 0,
                   f"pipeline stage rows {rows} (curated {len(ids)})")
            self.same_digest("curate", [(x,) for x in ids])
            if s is not None:
                prev = s["start"]
                for m in manifests:
                    done = m["created_ms"] / 1e3
                    self.note(f"pipeline.stage_s.{m['stage']}", done - prev)
                    prev = done
                self.note("sources.snapshot_bytes_per_input_byte.curate",
                          _dir_bytes(store.root) / self.doc_bytes)
            shutil.rmtree(store.root, ignore_errors=True)
        return self.p["docs"]


class ApiRequests:
    """ElevationService requests, one of each kind, sent one at a time.

    Replay's traced runs send ``ROUNDS`` such blocks after the timed
    window to measure the API layer: each request is followed by the
    same operator plus collect on the same 1-row input, so the layer's
    own overhead can be separated."""

    KINDS = ("point", "line", "polygon", "colorpolygon")
    ROUNDS = 1
    LINE_DX, LINE_DY, SIDE = 40, 30, 24

    def __init__(self, wl: Workload):
        self.wl, self.grid = wl, wl.grid
        self.svc = api.ElevationService(wl.spark, wl.images, _pix=wl.pix)

    def ops(self, i: int) -> list[Op]:
        rng = np.random.default_rng([self.wl.seed, 3, i + 1])
        return [op for k in self.KINDS for op in self._request(k, rng)]

    def _request(self, kind, rng) -> tuple[Op, Op]:
        geom, fmt, check, rc = self._geometry(kind, rng)

        def request(t):
            with t.span("api") as s:
                reply = getattr(self.svc, kind)(geom, fmt)
            with t.span("bench.check"):
                rows = check(reply["geometry"])
            self.wl.note(f"api.request_ms.{kind}", (s["end"] - s["start"]) * 1e3)
            return rows
        return (Op(f"api.{kind}", request),
                Op(f"api.{kind}.operator_only",
                   lambda t: self._operator_only(t, kind, geom, rc)))

    def _geometry(self, kind, rng):
        """(geometry, format_in, reply check, rectangle) of one request."""
        g = self.grid
        if kind == "point":
            lx, ly = int(rng.integers(0, g.w)), int(rng.integers(0, g.h))
            geom = [float(g.lon(lx + 0.5)), float(g.lat(ly + 0.5))]
            return geom, "point", lambda rep: self._check_point(rep, lx, ly), None
        if kind == "line":
            dx = self.LINE_DX * int(rng.choice([-1, 1]))
            dy = self.LINE_DY * int(rng.choice([-1, 1]))
            ax = int(rng.integers(max(0, -dx), g.w - max(0, dx)))
            ay = int(rng.integers(max(0, -dy), g.h - max(0, dy)))
            pts = [[float(g.lon(ax + 0.5)), float(g.lat(ay + 0.5))],
                   [float(g.lon(ax + dx + 0.5)), float(g.lat(ay + dy + 0.5))]]
            want = int(inp.densify_counts(*(np.array([v]) for v in pts[0] + pts[1]))[0])
            return ({"type": "LineString", "coordinates": pts}, "geojson",
                    lambda rep: self._check_line(rep, want), None)
        rc = inp.fixed_rects(rng, g, 1, self.SIDE)
        ring = [list(p) for p in rc.rings(g)[0]]
        want = int(rc.expected_pixels(g)[0])
        check = self._check_polygon if kind == "polygon" else self._check_color

        def checked(reply):
            self.wl.touch(f"api.{kind}", rc)
            return check(reply, want)
        return ring, "polygon", checked, rc

    def _operator_only(self, t, kind, geom, rc):
        wl, spark = self.wl, self.wl.spark
        if kind == "point":
            df = spark.createDataFrame(pd.DataFrame({"point_id": [0], "lon": [geom[0]],
                                                     "lat": [geom[1]]}))
            run = lambda: point_elevation(df, wl.images, how="left",  # noqa: E731
                                          pix_index_df=wl.pix).collect()
        elif kind == "line":
            (x1, y1), (x2, y2) = geom["coordinates"]
            df = spark.createDataFrame(pd.DataFrame({"line_id": [0], "x1": [x1], "y1": [y1],
                                                     "x2": [x2], "y2": [y2]}))
            run = lambda: line_vertices_elevation(  # noqa: E731
                df, wl.images, pix_index_df=wl.pix).orderBy("seq").collect()
        elif kind == "polygon":
            df = inp.rects_df(spark, rc, self.grid)
            run = lambda: polygon_pixels(df, wl.images, spread=False).orderBy(  # noqa: E731
                "x", "y").select("x", "y", "z").collect()
        else:
            df = inp.rects_df(spark, rc, self.grid)
            run = lambda: polygon_color_features(  # noqa: E731
                df, wl.images, spread=False).toPandas()
        with t.span("engine.action") as s:
            rows = len(run())
        wl.note(f"api.operator_ms.{kind}", (s["end"] - s["start"]) * 1e3)
        return rows

    def _z_check(self, coords) -> None:
        """z of reply vertices against the field; a vertex within 1e-6 px
        of a pixel edge may belong to either neighbour."""
        g = self.grid
        c = np.asarray(coords, dtype=np.float64)
        fx = (c[:, 0] - g.world.min_x) / PX
        fy = (g.world.max_y - c[:, 1]) / PX
        ok = np.zeros(len(c), dtype=bool)
        for ex in (-1e-6, 0.0, 1e-6):
            for ey in (-1e-6, 0.0, 1e-6):
                lx = np.clip(np.floor(fx + ex).astype(np.int64), 0, g.w - 1)
                ly = np.clip(np.floor(fy + ey).astype(np.int64), 0, g.h - 1)
                ok |= g.z[ly, lx] == c[:, 2]
        _check(ok.all(), "reply z differs from the elevation field")

    def _check_point(self, geom, lx, ly):
        _check(geom["coordinates"][2] == self.grid.z[ly, lx], "point reply z is wrong")
        return 1

    def _check_line(self, geom, want):
        coords = geom["coordinates"]
        _check(len(coords) == want, f"line reply has {len(coords)} vertices, not {want}")
        self._z_check(coords)
        return len(coords)

    def _check_polygon(self, coords, want):
        _check(len(coords) == want, f"polygon reply has {len(coords)} pixels, not {want}")
        self._z_check(coords)
        return len(coords)

    def _check_color(self, fc, want):
        area = 0
        for f in fc["features"]:
            for j, ring in enumerate(f["geometry"]["coordinates"]):
                r = np.asarray(ring, dtype=np.float64)
                x = np.rint((r[:, 0] - WORLD_X0) / PX).astype(np.int64)
                y = np.rint((WORLD_Y0 - r[:, 1]) / PX).astype(np.int64)
                a2 = abs(int(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1])))
                area += a2 if j == 0 else -a2
        _check(area == 2 * want, f"colorpolygon area {area / 2} != {want} pixels")
        return len(fc["features"])

    def probe_parse(self):
        rng = np.random.default_rng([self.wl.seed, 4])
        reqs = [self._geometry(k, rng)[:2] for k in self.KINDS * 50]
        t0 = time.perf_counter()
        for geom, fmt in reqs:
            api.parse_geometry(geom, fmt)
        self.wl.note("api.parse_us", (time.perf_counter() - t0) / len(reqs) * 1e6)


WORKLOADS = {w.name: w for w in (Replay, Prepare)}
