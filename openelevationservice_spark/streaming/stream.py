"""Structured-Streaming composition of the batch operators.

The reference is strictly request/response (SURVEY.md §2.9) — nothing
streaming is required for parity — but the batch operators are written
``mapInPandas``-first precisely so a ``readStream`` source composes.
This module provides the streaming point-elevation pipeline (a stream
of query points joined against the static pixel index, the batch
operator's one physical shape) and a windowed throughput metric
stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.cells import cell_id_col
from ..operators.point import point_elevation
from ..operators.sample import pixel_index
from ..plans.cache import lease

POINTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("point_id", T.LongType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def streaming_point_elevation(points_stream: DataFrame, images_df: DataFrame,
                              index_strategy: str = "broadcast",
                              pix_index_df: DataFrame | None = None) -> DataFrame:
    """Stream of points → stream of (point_id, lon, lat, ts, image_id, z).

    Delegates to the batch :func:`~..operators.point.point_elevation`,
    so the stream runs the batch plan: a stream-static join against the
    decoded pixel index and a codegen'd ``element_at`` gather, no
    Python in the stream's hot path.  Without a caller-supplied
    ``pix_index_df`` the index is built here and persisted under the
    ``streaming_pix_index`` lease, so micro-batches reuse the decoded
    tiles instead of decoding them again; a newer call's lease releases
    the previous one.  ``index_strategy="shuffle"`` exchanges the index
    side instead of broadcasting it — the regime where the index no
    longer fits the broadcast threshold.
    """
    if pix_index_df is None:
        pix_index_df = pixel_index(images_df)
        lease("streaming_pix_index", pix_index_df)
    out = point_elevation(points_stream, images_df, how="left",
                          index_strategy=index_strategy,
                          pix_index_df=pix_index_df)
    return out.select("point_id", "lon", "lat", "ts", "image_id", "z")


def windowed_query_counts(points_stream: DataFrame, window: str = "10 seconds",
                          watermark: str = "30 seconds") -> DataFrame:
    """Event-time tumbling-window query counts with late-data watermark."""
    return (
        points_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window))
        .agg(F.count(F.lit(1)).alias("n_queries"))
        .select(F.col("window.start").alias("win_start"), "n_queries")
    )


HOT_CELL_OUTPUT = "cell_id bigint, n_queries bigint, hot boolean"
HOT_CELL_STATE = "n bigint"


def hot_cell_monitor(points_stream: DataFrame, threshold: int = 100) -> DataFrame:
    """Custom stateful operator: running per-cell query counts.

    ``applyInPandasWithState`` keyed by ``cell_id`` — the state (a
    running hit count per cell) persists across micro-batches in the
    state store.  Cells crossing ``threshold`` are flagged ``hot``;
    downstream this feeds the salting decision for skewed tiles
    (plans/exec.py): a cell flagged hot in the monitor is exactly the
    cell whose equi-join key needs salt at replay time.

    The reference has no streaming surface at all (SURVEY.md §2.9) —
    this is part of the engine's scale story, not parity.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    import pandas as pd

    def update(key, pdfs, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame(
            {"cell_id": [key[0]], "n_queries": [n], "hot": [n >= threshold]}
        )

    pts = points_stream.withColumn("cell_id", cell_id_col(F.col("lon"), F.col("lat")))
    return pts.groupBy("cell_id").applyInPandasWithState(
        update,
        outputStructType=HOT_CELL_OUTPUT,
        stateStructType=HOT_CELL_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
