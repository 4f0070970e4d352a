"""SparkSession factory with the engine's scale-tuned defaults.

Local mode is the sandbox proxy for a multi-executor cluster; the same
configs apply on a real cluster via ``spark-submit --py-files`` (see
``plans/submit.py``).  AQE + skew-join handling are on by default per
the north rule (skewed dense tiles).  Every Python kernel of the
package is a ``mapInArrow`` function over Arrow batches (no
``pandas_udf``, no ``mapInPandas``); Arrow is also on for the driver's
pandas conversions (``toPandas``/``createDataFrame``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(app: str = "oes-spark", cpus: int | None = None,
                  extra: dict[str, str] | None = None) -> SparkSession:
    """A ``local[cpus]`` session; ``extra`` settings apply last, so they
    override the defaults below."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        # partitions proportional to cores: right-sized shuffles at both
        # local[8] and local[32] (scaling-efficiency protocol).
        .config("spark.sql.shuffle.partitions", str(max(2 * cpus, 8)))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("OES_DRIVER_MEM", "24g"))
        # size the WHOLE JVM to the requested core count: local[N] caps
        # task slots only — GC, JIT and Netty pools otherwise size to the
        # physical machine, which silently gives a local[2] "cluster"
        # 32-core garbage collection (distorts N-vs-4N scaling evidence)
        .config("spark.driver.extraJavaOptions",
                f"-XX:ActiveProcessorCount={cpus}")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
