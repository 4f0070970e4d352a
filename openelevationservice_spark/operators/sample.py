"""Elevation gather — the Spark replacement for ``ST_Value``.

``ST_Value(rast, geom)`` samples the pixel containing a point with no
interpolation (reference ``server/api/querybuilder.py:218,286``): pixel
index is ``ix = floor((x - ul_x)/px)``, ``iy = floor((ul_y - y)/px)``
from the upper-left origin.

One physical shape serves every point-sampling operator (point, line
vertices, kNN, streaming): :func:`pixel_index` decodes each tile ONCE
into a flat ``array<smallint>`` column riding the tile index, the
operators join it on ``cell_id`` (broadcast, or shuffled once the index
outgrows the broadcast threshold — ``index_strategy="shuffle"``), and
:func:`gather_z_jvm` samples it with a codegen'd ``element_at``.  The
index arithmetic and the gather are plain Columns; the tile decode is
the only Python stage.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import image_codec


def is_broadcast(index_strategy: str) -> bool:
    """True for ``"broadcast"``, False for ``"shuffle"``; any other
    ``index_strategy`` (a typo included) raises."""
    if index_strategy not in ("broadcast", "shuffle"):
        raise ValueError(f"unknown index strategy {index_strategy!r}")
    return index_strategy == "broadcast"


def pixel_index(images_df: DataFrame) -> DataFrame:
    """Tile index + decoded pixels as a flat ``array<smallint>`` column.

    Decoding runs ONCE per tile (Arrow batches); downstream queries
    sample pixels entirely JVM-side via ``element_at`` inside the same
    whole-stage-codegen'd projection as the broadcast join — no Python
    and no Arrow transfer anywhere in the per-query hot path.
    """
    from ..sources.tiles import tile_index

    idx = tile_index(images_df, with_bytes=True)
    schema = T.StructType(
        [f for f in idx.schema.fields if f.name != "bytes"]
        + [T.StructField("pix", T.ArrayType(T.ShortType()), False)]
    )
    cols = [f.name for f in schema.fields]

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["pix"] = [
                image_codec.decode(b, f, int(w), int(h)).ravel()
                for b, f, w, h in zip(pdf["bytes"], pdf["fmt"], pdf["w"], pdf["h"])
            ]
            yield pdf[cols]

    return idx.mapInPandas(decode, schema=schema)


def gather_z_jvm(df: DataFrame, z_col: str = "z") -> DataFrame:
    """JVM pixel sample over a join that already carries ``pix``.

    ``df`` must carry (pix, w, h, ix, iy).  Out-of-range / missing-tile
    rows get NULL (ANSI-safe: element_at is guarded).
    """
    in_range = (
        F.col("pix").isNotNull()
        & (F.col("ix") >= 0) & (F.col("ix") < F.col("w"))
        & (F.col("iy") >= 0) & (F.col("iy") < F.col("h"))
    )
    z = F.when(
        in_range,
        F.element_at(F.col("pix"), (F.col("iy") * F.col("w") + F.col("ix") + 1).cast("int")),
    )
    return df.withColumn(z_col, z.cast("int")).drop("pix")
