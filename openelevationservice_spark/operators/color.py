"""Color-polygon pipeline: elevation-band bucketing + grid dissolve.

Reference (``server/api/querybuilder.py:56-102`` +
``server/api/elevation_query_area_union.py:32-76``): fetch all pixel
polygons, then **client-side** min/max/avg, 23-band bucketing

    range_div   = (max - min + 1) / NUM_RANGES
    color_range = floor((height - min) / range_div)
    height_base = ceil(color_range * range_div + min)

and a shapely ``unary_union`` per band.  At continental polygons that
pixel list explodes driver memory (SURVEY.md §3.3) — here the whole
pipeline stays distributed, and pixel values never become JVM rows:

    rasterize → scanline runs (the run table of the pixel dump,
                operators/polygon.py ``polygon_pixel_runs``)
              → per-polygon stats as codegen'd ``array_min``/``array_max``
                aggregates over the runs (G1, ``run_stats``)
              → vectorized band-split kernel → packed band-subruns,
                partially aggregated per (poly_id, height_base) map-side
              → hash exchange on (poly_id, height_base) → one row per band
              → exact grid dissolve kernel (G3): one batched boundary
                trace per Arrow batch, reduced to the invariants or
                emitted as the GeoJSON features' rings

The band arithmetic has one implementation, the numpy band-split
(:func:`_subrun_partial_batch`), and both band oracles check it: the
contract's ``polygon_bands`` reads each band's pixel count off
:func:`polygon_color_invariants` (``area_px``), and ``color_dissolve``
checks the dissolve on the same bands.

Bands dissolve independently, exactly as the reference unions per band,
so the largest polygon's bands spread across tasks.  Only the final
FeatureCollection is collected.  This is the one physical shape of both
:func:`polygon_color_features` and :func:`polygon_color_invariants`.
The polygon × tile join is :func:`.polygon.polygon_tile_join`'s, so
Spark's planner broadcasts or shuffles it by its size estimate; only the
per-polygon stats (one small row per polygon) are broadcast by hint.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..constants import NUM_RANGES, PX, WORLD_X0, WORLD_Y0
from ..functions.arrow_batches import (binary_array, binary_buffers, list_array,
                                       list_offsets, record_batch)
from ..functions.dissolve import MAX_BATCH_BANDS, batch_invariants, batch_rings
from ..plans.cache import lease
from .polygon import polygon_pixel_runs, run_stats


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("poly_id", T.LongType()),
        T.StructField("height_base", T.LongType()),
        T.StructField("feature_idx", T.IntegerType()),
        T.StructField("n_rings", T.IntegerType()),
        T.StructField("area_px", T.DoubleType()),
        T.StructField(
            "rings",
            T.ArrayType(T.ArrayType(T.StructType(
                [T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())]
            ))),
        ),
    ]
)
_FEATURE_ARROW = to_arrow_schema(FEATURE_SCHEMA)


def _dissolve_partitions(df: DataFrame) -> int:
    """Partition count for the dissolve exchange: 2 tasks per core —
    cores-proportional (never volume-tuned).  r6 sweep at bench volume,
    interleaved minima: 4× 5.90 s, 2× 5.19 s, 1× 8.56 s (straggler
    tail) — with the batched invariants kernel the per-task python
    dispatch outweighs 4×'s extra balance slack, while 1× loses the
    skew headroom outright.  The sweep predates the zip-import cache of
    ``plans/worker.py``, which cut that per-task dispatch."""
    return df.sparkSession.sparkContext.defaultParallelism * 2


#: subrun packing: one long per band-subrun, gy<<40 | gx0<<16 | len.
#: gx gets 24 bits (16.7M cells); gy gets 23 — bits 40..62 — so the
#: packed value stays inside SIGNED int64 (a 24-bit gy would reach the
#: sign bit and numpy would wrap silently past the assertion — round-5
#: ADVICE).  A global grid at SRTM-like resolution is 432k cells per
#: axis (constants.NCELL_X * TILE_PX), 19x inside the tighter bound.
#: len is a scanline-run fragment, <= TILE_PX (50) by construction.
#: Bounds are asserted in the kernel, not assumed.
_SUB_GY_SHIFT = 40
_SUB_GX_SHIFT = 16
_SUB_G_MAX = 1 << 24
_SUB_GY_MAX = 1 << 23
_SUB_LEN_MAX = 1 << 16

#: map-side-partial subrun rows: ``subs`` is the group's packed int64
#: subruns as ONE little-endian binary buffer — binary crosses the
#: Arrow boundary as a buffer memcpy where ``array<long>`` pays a
#: per-element write on the way out of the kernel and a per-element
#: read on the way back in (the measured r5/r6 transfer term).
SUBRUN_SCHEMA = T.StructType(
    [
        T.StructField("poly_id", T.LongType()),
        T.StructField("height_base", T.LongType()),
        T.StructField("subs", T.BinaryType()),
    ]
)


_SUBRUN_ARROW = to_arrow_schema(SUBRUN_SCHEMA)


def _subrun_partial_batch(pid_run, gy_run, gx0_run, lens, z,
                          minz_run, maxz_run):
    """Vectorized band-split of flat run arrays → map-side-partial
    subrun batch (one row per (poly, band) group of the batch, subruns
    packed).  ``z`` is the int64 concat of every run's values in run
    order; per-run scalars are expanded with one np.repeat."""
    total = len(z)
    if total == 0:
        return None
    n_runs = len(lens)
    rep = np.repeat(np.arange(n_runs), lens)
    min_z = minz_run.astype(np.float64)[rep]
    max_z = maxz_run.astype(np.float64)[rep]
    range_div = (max_z - min_z + 1.0) / float(NUM_RANGES)
    color_range = np.floor((z - min_z) / range_div)
    hb = np.ceil(color_range * range_div + min_z).astype(np.int64)
    starts0 = np.concatenate(([0], np.cumsum(lens)[:-1]))
    gx = gx0_run[rep] + (np.arange(total) - starts0[rep])
    gy = gy_run[rep]
    new = np.empty(total, dtype=bool)
    new[0] = True
    new[1:] = (hb[1:] != hb[:-1]) | (rep[1:] != rep[:-1])
    s = np.flatnonzero(new)
    ln = np.diff(np.append(s, total))
    gy_s, gx_s = gy[s], gx[s]
    if len(gy_s) and not (gy_s.max() < _SUB_GY_MAX
                          and gx_s.max() + ln.max() < _SUB_G_MAX
                          and ln.max() < _SUB_LEN_MAX):
        raise AssertionError(
            "band-subrun outside the 23/24/16-bit packing bound"
        )
    sub = (gy_s << _SUB_GY_SHIFT) | (gx_s << _SUB_GX_SHIFT) | ln
    pid_s = np.asarray(pid_run)[rep][s]
    hb_s = hb[s]
    # map-side partial: group the batch's subruns by (poly, band); each
    # group's packed longs are one contiguous slice of ONE buffer
    order = np.lexsort((hb_s, pid_s))
    pid_o, hb_o, sub_o = pid_s[order], hb_s[order], sub[order]
    grp = np.flatnonzero(np.concatenate(
        ([True], (pid_o[1:] != pid_o[:-1]) | (hb_o[1:] != hb_o[:-1]))))
    return record_batch(_SUBRUN_ARROW, [
        pa.array(pid_o[grp]), pa.array(hb_o[grp]),
        binary_array(8 * np.diff(np.append(grp, len(sub_o))),
                     sub_o.astype("<i8", copy=False))])


def _band_subrun_kernel(batches):
    """Vectorized band-split of scanline runs → packed band-subruns.

    Input rows: (poly_id, gy, gx0, zs, min_z, max_z), the run table of
    :func:`~.polygon.polygon_pixel_runs` joined with the broadcast
    per-polygon stats.  ``gy``, ``gx0`` and every run's z values are
    read through the ``zs`` list offsets and its one int16 values
    buffer, then the exact reference band arithmetic
    (``querybuilder.py:56-102``; the same IEEE-double expression as the
    contract's band oracle SQL) splits runs at band-change boundaries
    in one vectorized pass per batch.  Terrain is locally smooth, so
    subrun count ~ run count, not pixel count.

    The packed subruns are PARTIALLY AGGREGATED before they leave the
    kernel (guide §2.3 "aggregate before you shuffle"): one output row
    per (poly_id, height_base) group *of the batch*, carrying that
    group's subruns as one binary value — per-subrun rows would
    re-create the per-pixel row volume on the exchange (the synthetic
    z field band-splits almost every step).  The final gather
    concatenates the partials (same multiset of packed longs; every
    consumer rasterizes, so order never matters)."""
    for rb in batches:
        if not rb.num_rows:
            continue
        zs = rb.column("zs")
        off = list_offsets(zs)
        out = _subrun_partial_batch(
            rb.column("poly_id").to_numpy(), rb.column("gy").to_numpy(),
            rb.column("gx0").to_numpy(), np.diff(off),
            zs.values.to_numpy()[off[0]:off[-1]].astype(np.int64),
            rb.column("min_z").to_numpy(), rb.column("max_z").to_numpy())
        if out is not None:
            yield out


def _gather_bands(subs: DataFrame) -> DataFrame:
    """(poly, band)-exchange + gather of the map-side subrun partials.
    The gathered column is ``array<binary>`` (one packed value per
    partial); the kernels read a whole batch of it through the list and
    binary offsets (:func:`_expand_subrun_batch`) — no per-element JVM
    work anywhere in the gather."""
    return (
        subs.repartition(_dissolve_partitions(subs), "poly_id", "height_base")
        .groupBy("poly_id", "height_base")
        .agg(F.collect_list("subs").alias("subs"))
    )


def _banded_subruns(runs: DataFrame) -> DataFrame:
    """One row per (poly_id, height_base): the band's packed subruns.
    The per-polygon stats are codegen'd aggregates over the run table
    (:func:`~.polygon.run_stats`), broadcast back, and the band-split
    reads the runs in Python — z values cross the Arrow boundary as one
    int16 values buffer per batch."""
    stats = run_stats(runs).select("poly_id", "min_z", "max_z")
    j = (runs.join(F.broadcast(stats), "poly_id")
         .select("poly_id", "gy", "gx0", "zs", "min_z", "max_z"))
    subs = j.mapInArrow(_band_subrun_kernel, SUBRUN_SCHEMA)
    return _gather_bands(subs)


def _expand_subrun_batch(subs: pa.Array):
    """Batch-expand the ``subs`` column (``array<binary>``) of one Arrow
    batch of (poly_id, height_base, subs) band rows into flat cell
    arrays: (band_of_cell, gx, gy, seg) with ``seg`` the per-band
    segment bounds (band b's cells contiguous at gx[seg[b]:seg[b+1]]).
    A row's partials are consecutive values of the list's binary child,
    so its packed longs are one contiguous slice of the child's data
    buffer, found through the list offsets and then the binary offsets:
    the whole batch is one ``frombuffer`` and ONE np.repeat, with no
    per-band join or copy."""
    off, data = binary_buffers(subs.values)
    row_bytes = off[list_offsets(subs)]
    n_rows = len(subs)
    ln_rows = np.diff(row_bytes) // 8
    arr = data[row_bytes[0]:row_bytes[-1]].view("<i8").astype(np.int64)
    gy0 = arr >> _SUB_GY_SHIFT
    gx0 = (arr >> _SUB_GX_SHIFT) & (_SUB_G_MAX - 1)
    ln = arr & (_SUB_LEN_MAX - 1)
    total = int(ln.sum())
    rep = np.repeat(np.arange(len(arr)), ln)
    starts0 = np.concatenate(([0], np.cumsum(ln)[:-1]))
    gx = gx0[rep] + (np.arange(total) - starts0[rep])
    gy = gy0[rep]
    row_of_sub = np.repeat(np.arange(n_rows), ln_rows)
    band = row_of_sub[rep]
    cells_per_band = np.bincount(band, minlength=n_rows).astype(np.int64)
    seg = np.concatenate(([0], np.cumsum(cells_per_band)))
    return band, gx, gy, seg


def _band_slices(batches):
    """Every Arrow batch in slices of at most ``MAX_BATCH_BANDS`` bands:
    the dissolve packs the band index into a 16-bit key field, while
    the Arrow batch size (``spark.sql.execution.arrow.
    maxRecordsPerBatch``) is a deployment setting."""
    for rb in batches:
        for start in range(0, rb.num_rows, MAX_BATCH_BANDS):
            yield rb.slice(start, MAX_BATCH_BANDS)


def _features_batch(rb: pa.RecordBatch) -> pa.RecordBatch:
    """FEATURE_SCHEMA rows of every band of one slice: the cells
    re-expanded from packed subruns (:func:`_expand_subrun_batch`), the
    rings of all bands traced at once (``batch_rings``), and the vertices
    converted to degrees at once; they leave as one double buffer per
    coordinate plus two offsets arrays.  collect_list order is
    nondeterministic, but the tracer sorts the cells into keys first —
    order-invariant by construction."""
    f_band, f_area2, rings_per_f, pts_per_ring, x, y = batch_rings(
        *_expand_subrun_batch(rb.column("subs")))
    f_idx = np.arange(len(f_band)) - np.searchsorted(f_band, f_band)
    points = pa.StructArray.from_arrays(
        [pa.array(WORLD_X0 + x * PX), pa.array(WORLD_Y0 - y * PX)], names=["x", "y"])
    return record_batch(_FEATURE_ARROW, [
        pa.array(rb.column("poly_id").to_numpy()[f_band]),
        pa.array(rb.column("height_base").to_numpy()[f_band]),
        pa.array(f_idx.astype(np.int32)), pa.array(rings_per_f.astype(np.int32)),
        pa.array(f_area2 / 2.0),
        list_array(rings_per_f, list_array(pts_per_ring, points))])


def _dissolve_partition_subs(batches):
    for rb in _band_slices(batches):
        yield _features_batch(rb)


def polygon_color_features(polygons_df: DataFrame, images_df: DataFrame,
                           *, spread: bool = True,
                           runs_df: DataFrame | None = None) -> DataFrame:
    """Distributed equivalent of ``group_and_union_geometries``.

    Returns one row per dissolved feature:
    (poly_id, height_base, feature_idx, n_rings, area_px, rings).

    Pass ``runs_df`` (an already-built — typically already-persisted —
    ``polygon_pixel_runs`` result for the same polygons) to reuse one
    rasterization across :func:`~.polygon.run_stats` and the dissolve;
    the caller then owns its cache lifecycle and this operator takes no
    lease of its own.  ``spread`` is ignored: it is kept only because
    existing benchmark calls pass it.
    """
    runs = runs_df
    if runs is None:
        runs = polygon_pixel_runs(polygons_df, images_df)
        lease("color_features", runs)
    return _banded_subruns(runs).mapInArrow(
        _dissolve_partition_subs, schema=FEATURE_SCHEMA
    )


INVARIANT_SCHEMA = T.StructType(
    [
        T.StructField("poly_id", T.LongType()),
        T.StructField("height_base", T.LongType()),
        T.StructField("area_px", T.LongType()),
        T.StructField("euler4", T.LongType()),
        T.StructField("euler8", T.LongType()),
    ]
)
_INVARIANT_ARROW = to_arrow_schema(INVARIANT_SCHEMA)


def _invariants_partition_subs(batches):
    """Batched invariants: one vectorized pass per Arrow batch over
    EVERY band (functions.dissolve.batch_invariants — successor
    permutation + min-label doubling, no per-edge Python walk, no ring
    vertex lists), reduced to three SQL-checkable invariants:

    - ``area_px``  — Σ shoelace area of the traced loops (holes
      negative); equals the band's pixel count iff the tracer is exact.
    - ``euler4``   — C4 − H8 = Gray quad formula (Q1 − Q3 + 2·QD)/4.
    - ``euler8``   — C8 − H4 = (Q1 − Q3 − 2·QD)/4.

    The traced loops are cross-asserted against the quad counts
    (shells = C4 and holes ∈ [H8, H4], established against grid
    labeling in tests/test_geometry_dissolve.py, give the sandwich
    χ8 ≤ shells − holes ≤ χ4), so a tracer bug fails the query instead
    of shipping wrong areas."""
    for rb in _band_slices(batches):
        yield _invariants_batch(rb)


def _invariants_batch(rb: pa.RecordBatch) -> pa.RecordBatch:
    """INVARIANT_SCHEMA rows for one slice of ≤ MAX_BATCH_BANDS bands."""
    band, gx, gy, seg = _expand_subrun_batch(rb.column("subs"))
    n_bands = rb.num_rows
    shells, holes, area2, q1, q3, qd = batch_invariants(
        band, gx, gy, n_bands, seg)
    euler4 = (q1 - q3 + 2 * qd) // 4
    euler8 = (q1 - q3 - 2 * qd) // 4
    ok = ((euler8 <= shells - holes) & (shells - holes <= euler4)
          & (area2 % 2 == 0))
    if not ok.all():
        b = int(np.flatnonzero(~ok)[0])
        raise AssertionError(
            f"dissolve/quad mismatch: shells={int(shells[b])} "
            f"holes={int(holes[b])} euler4={int(euler4[b])} "
            f"euler8={int(euler8[b])} area2={int(area2[b])}"
        )
    return record_batch(_INVARIANT_ARROW, [
        rb.column("poly_id"), rb.column("height_base"),
        pa.array(area2 // 2), pa.array(euler4), pa.array(euler8)])


def polygon_color_invariants(polygons_df: DataFrame, images_df: DataFrame) -> DataFrame:
    """Per-band dissolve invariants (poly_id, height_base, area_px,
    euler4, euler8) — the oracle-checkable face of the dissolve (G3).
    Same plan shape as :func:`polygon_color_features`."""
    runs = polygon_pixel_runs(polygons_df, images_df)
    lease("color_invariants", runs)
    return _banded_subruns(runs).mapInArrow(
        _invariants_partition_subs, schema=INVARIANT_SCHEMA
    )


def feature_collection(features_pdf: pd.DataFrame) -> dict:
    """Driver-side GeoJSON assembly (formatting layer, not distributed)."""
    feats = []
    for _, r in features_pdf.iterrows():
        coords = [[[p["x"], p["y"]] for p in ring] for ring in r["rings"]]
        feats.append({
            "type": "Feature",
            "geometry": {"type": "Polygon", "coordinates": coords},
            "properties": {"heightBase": int(r["height_base"])},
        })
    return {"type": "FeatureCollection", "features": feats}
