"""Image-column plumbing: opaque binary payloads + typed metadata.

Tiles are carried as ``binary`` columns with typed metadata and
processed by ``mapInArrow`` kernels that read the bytes through the
binary column's buffers.  The raster codecs
(raw16/png16) are real; ``image_codec.decode`` raises
``NotImplementedError`` for any other format.
"""

from __future__ import annotations

import json
from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions import image_codec
from ..functions.arrow_batches import binary_buffers, join_binary, record_batch

META_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("min_v", T.IntegerType()),
        T.StructField("max_v", T.IntegerType()),
        T.StructField("sum_v", T.LongType()),
        T.StructField("n_nodata", T.IntegerType()),
        T.StructField("mean_v", T.DoubleType()),
        T.StructField("phash", T.LongType()),
    ]
)

_META_ARROW = to_arrow_schema(META_SCHEMA)


def image_metadata(images_df: DataFrame) -> DataFrame:
    """Decode + feature-extract per image (Arrow batches)."""
    def extract(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            grids = image_codec.decode_rows(rb)
            off, _ = binary_buffers(rb.column("bytes"))
            yield record_batch(_META_ARROW, [
                rb.column("image_id"), rb.column("fmt"),
                pa.array(np.diff(off).astype(np.int32)),
                rb.column("w"), rb.column("h"),
                pa.array([int(g.min()) for g in grids], pa.int32()),
                pa.array([int(g.max()) for g in grids], pa.int32()),
                pa.array([int(g.astype(np.int64).sum()) for g in grids], pa.int64()),
                pa.array([int((g == -32768).sum()) for g in grids], pa.int32()),
                pa.array([float(g.mean()) for g in grids], pa.float64()),
                pa.array([image_codec.phash64(g) for g in grids], pa.int64()),
            ])

    return images_df.select("image_id", "bytes", "fmt", "w", "h").mapInArrow(
        extract, schema=META_SCHEMA
    )


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
    ]
)
_RESIZE_ARROW = to_arrow_schema(RESIZE_SCHEMA)


def resize(images_df: DataFrame, factor: int = 2) -> DataFrame:
    """Block-mean downsample by an integer factor (real, numpy), written
    as ``raw16``."""
    def rs(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            small = []
            for g in image_codec.decode_rows(rb):
                h2, w2 = g.shape[0] // factor, g.shape[1] // factor
                blocks = g[: h2 * factor, : w2 * factor].reshape(h2, factor, w2, factor)
                small.append(blocks.mean(axis=(1, 3)).astype(np.int16))
            yield record_batch(_RESIZE_ARROW, [
                rb.column("image_id"),
                join_binary([image_codec.encode(g, "raw16") for g in small]),
                pa.array([g.shape[1] for g in small], pa.int32()),
                pa.array([g.shape[0] for g in small], pa.int32()),
                pa.array(["raw16"] * len(small), pa.string()),
            ])

    return images_df.select("image_id", "bytes", "fmt", "w", "h").mapInArrow(
        rs, schema=RESIZE_SCHEMA
    )


ROUNDTRIP_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("ok", T.BooleanType()),
    T.StructField("psnr_db", T.DoubleType()),
    T.StructField("phash_match", T.BooleanType()),
    T.StructField("caption_ok", T.BooleanType()),
])
_ROUNDTRIP_ARROW = to_arrow_schema(ROUNDTRIP_SCHEMA)


def _caption_names(caption: str, image_id: str) -> bool:
    """Whether a caption parses as JSON and names ``image_id``."""
    try:
        return json.loads(caption).get("name") == image_id
    except Exception:
        return False


def roundtrip_invariant(images_df: DataFrame) -> DataFrame:
    """Per-row input_hint invariant: decode→encode→decode PSNR (``ok``
    at ``image_codec.MIN_PSNR_DB``) + phash + caption equality.  Returns
    (image_id, ok, psnr_db, phash_match, caption_ok)."""
    def check(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            off, data = binary_buffers(rb.column("bytes"))
            ids = rb.column("image_id").to_pylist()
            res = [image_codec.roundtrip_check(data[off[i]:off[i + 1]].tobytes(),
                                               fmt, int(w), int(h))
                   for i, (fmt, w, h) in enumerate(zip(rb.column("fmt").to_pylist(),
                                                       rb.column("w").to_numpy(),
                                                       rb.column("h").to_numpy()))]
            yield record_batch(_ROUNDTRIP_ARROW, [
                rb.column("image_id"),
                pa.array([bool(ok) for ok, _, _ in res], pa.bool_()),
                # inf → large finite for parquet
                pa.array([min(p, 1e9) for _, p, _ in res], pa.float64()),
                pa.array([ph == want for (_, _, ph), want in
                          zip(res, rb.column("phash").to_pylist())], pa.bool_()),
                pa.array([_caption_names(c, i) for c, i in
                          zip(rb.column("caption").to_pylist(), ids)], pa.bool_()),
            ])

    return images_df.select("image_id", "bytes", "fmt", "w", "h", "caption",
                            "phash").mapInArrow(check, schema=ROUNDTRIP_SCHEMA)
