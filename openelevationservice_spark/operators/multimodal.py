"""Multimodal-column plumbing: opaque binary payloads + typed metadata.

Images/audio/video are carried as ``binary`` columns with typed
metadata, processed through ``mapInPandas`` Arrow batches.  The raster
codecs (raw16/png16) are real; container formats that need native
libraries (JPEG, WAV, MP4) are STUBBED — ``image_codec.decode`` raises
``NotImplementedError`` for any other format — with the Spark-side
plumbing (schema, partitioning, UDF signature, batch shape) fully real
and tested via the raster formats.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
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


def resize(images_df: DataFrame, factor: int = 2, out_fmt: str = "raw16") -> DataFrame:
    """Block-mean downsample by an integer factor (real, numpy)."""
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
                out["bytes"].append(image_codec.encode(small, out_fmt))
                out["w"].append(w2)
                out["h"].append(h2)
                out["fmt"].append(out_fmt)
            yield pd.DataFrame(out, columns=[f.name for f in RESIZE_SCHEMA.fields])

    return images_df.select("image_id", "bytes", "fmt", "w", "h").mapInPandas(
        rs, schema=RESIZE_SCHEMA
    )


def frame_sample(videos_df: DataFrame, every_n: int = 30) -> DataFrame:
    """Video frame sampling — STUB: schema + signature only.

    Raises at execution (not at plan time) because no video decoder is
    available offline.  The plumbing (binary column in, exploded frame
    rows out) is the real contract.
    """
    schema = T.StructType([
        T.StructField("video_id", T.StringType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ])

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                raise NotImplementedError(
                    "video decode requires native libs not in this sandbox"
                )
            yield pd.DataFrame({"video_id": [], "frame_idx": [], "frame": []})

    return videos_df.mapInPandas(sample, schema=schema)


def audio_features(audio_df: DataFrame, frame_ms: int = 25) -> DataFrame:
    """Audio feature extraction over opaque binary payloads.

    Real Spark plumbing (binary column + typed metadata in, framed
    feature rows out via Arrow batches); the codec itself is a
    deterministic fake for ``fmt == 'pcm16'`` (raw little-endian int16
    samples — decodable with numpy alone) and a clearly-marked STUB for
    compressed formats (no audio libs in this sandbox).  Input schema:
    (audio_id string, bytes binary, sample_rate int, fmt string).
    Output: one row per ``frame_ms`` frame with RMS + peak.
    """
    schema = T.StructType([
        T.StructField("audio_id", T.StringType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.IntegerType()),
    ])

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                if r["fmt"] != "pcm16":
                    raise NotImplementedError(
                        f"audio decode for {r['fmt']!r} requires native "
                        "libs not in this sandbox"
                    )
                samples = np.frombuffer(r["bytes"], dtype="<i2")
                spf = max(1, int(r["sample_rate"]) * frame_ms // 1000)
                n_frames = len(samples) // spf
                if not n_frames:
                    continue
                fr = samples[: n_frames * spf].reshape(n_frames, spf).astype(np.float64)
                rows.append(pd.DataFrame({
                    "audio_id": r["audio_id"],
                    "frame_idx": np.arange(n_frames, dtype=np.int32),
                    "rms": np.sqrt((fr * fr).mean(axis=1)),
                    "peak": np.abs(fr).max(axis=1).astype(np.int32),
                }))
            yield (pd.concat(rows, ignore_index=True) if rows
                   else pd.DataFrame({f.name: [] for f in schema.fields}))

    return audio_df.select("audio_id", "bytes", "sample_rate", "fmt").mapInPandas(
        feats, schema=schema
    )


def roundtrip_invariant(images_df: DataFrame, min_psnr: float = 40.0) -> DataFrame:
    """Per-row input_hint invariant: decode→encode→decode PSNR + phash +
    caption equality.  Returns (image_id, ok, psnr_db, phash_match,
    caption_ok)."""
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
                    r["bytes"], r["fmt"], int(r["w"]), int(r["h"]), min_psnr
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
