"""Image-column plumbing: opaque binary payloads + typed metadata.

Tiles are carried as ``binary`` columns with typed metadata and
processed through ``mapInPandas`` Arrow batches.  The raster codecs
(raw16/png16) are real; ``image_codec.decode`` raises
``NotImplementedError`` for any other format.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions import image_codec

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

def image_metadata(images_df: DataFrame) -> DataFrame:
    """Decode + feature-extract per image (Arrow batches)."""
    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # column-wise iteration, not iterrows: the per-row Series
            # construction cost exceeded the 50x50 decode itself
            out: dict[str, list] = {f.name: [] for f in META_SCHEMA.fields}
            for img, data, fmt, w, h in zip(
                pdf["image_id"], pdf["bytes"], pdf["fmt"], pdf["w"], pdf["h"]
            ):
                g = image_codec.decode(data, fmt, int(w), int(h))
                out["image_id"].append(img)
                out["fmt"].append(fmt)
                out["n_bytes"].append(len(data))
                out["w"].append(int(w))
                out["h"].append(int(h))
                out["min_v"].append(int(g.min()))
                out["max_v"].append(int(g.max()))
                out["sum_v"].append(int(g.astype(np.int64).sum()))
                out["n_nodata"].append(int((g == -32768).sum()))
                out["mean_v"].append(float(g.mean()))
                out["phash"].append(image_codec.phash64(g))
            yield pd.DataFrame(out, columns=[f.name for f in META_SCHEMA.fields])

    return images_df.select("image_id", "bytes", "fmt", "w", "h").mapInPandas(
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


def resize(images_df: DataFrame, factor: int = 2) -> DataFrame:
    """Block-mean downsample by an integer factor (real, numpy), written
    as ``raw16``."""
    def rs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in RESIZE_SCHEMA.fields}
            for img, data, fmt, w0, h0 in zip(
                pdf["image_id"], pdf["bytes"], pdf["fmt"], pdf["w"], pdf["h"]
            ):
                g = image_codec.decode(data, fmt, int(w0), int(h0))
                h, w = g.shape
                h2, w2 = h // factor, w // factor
                blocks = g[: h2 * factor, : w2 * factor].reshape(h2, factor, w2, factor)
                small = blocks.mean(axis=(1, 3)).astype(np.int16)
                out["image_id"].append(img)
                out["bytes"].append(image_codec.encode(small, "raw16"))
                out["w"].append(w2)
                out["h"].append(h2)
                out["fmt"].append("raw16")
            yield pd.DataFrame(out, columns=[f.name for f in RESIZE_SCHEMA.fields])

    return images_df.select("image_id", "bytes", "fmt", "w", "h").mapInPandas(
        rs, schema=RESIZE_SCHEMA
    )


def roundtrip_invariant(images_df: DataFrame) -> DataFrame:
    """Per-row input_hint invariant: decode→encode→decode PSNR (``ok``
    at ``image_codec.MIN_PSNR_DB``) + phash + caption equality.  Returns
    (image_id, ok, psnr_db, phash_match, caption_ok)."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("ok", T.BooleanType()),
        T.StructField("psnr_db", T.DoubleType()),
        T.StructField("phash_match", T.BooleanType()),
        T.StructField("caption_ok", T.BooleanType()),
    ])

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import json
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                ok, p, ph = image_codec.roundtrip_check(
                    r["bytes"], r["fmt"], int(r["w"]), int(r["h"])
                )
                try:
                    cap = json.loads(r["caption"])
                    cap_ok = cap.get("name") == r["image_id"]
                except Exception:
                    cap_ok = False
                rows.append({
                    "image_id": r["image_id"], "ok": bool(ok),
                    "psnr_db": min(p, 1e9),  # inf → large finite for parquet
                    "phash_match": bool(ph == r["phash"]),
                    "caption_ok": bool(cap_ok),
                })
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return images_df.mapInPandas(check, schema=schema)
