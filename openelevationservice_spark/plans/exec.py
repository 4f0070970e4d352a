"""Physical-layout helpers: skew salting and plan checks.

The reference has no skew story — a polygon over dense terrain simply
ships more rows (SURVEY.md §4.1).  At 10^12 images the replay workload
is Zipf-ish over tiles (cities, popular regions), so the north rule
demands explicit handling: AQE skew-join is enabled in the session
factory; these helpers add a deterministic salt and a salted two-phase
count for the case AQE can't rewrite (skewed ``groupBy`` keys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int, salt_col: str = "salt") -> DataFrame:
    """Uniform random-ish salt derived from a stable hash of the full row id.

    Deterministic (no rand()) so retries/resumes produce identical
    partitioning: salt = pmod(xxhash64(all columns), n_salts).
    """
    return df.withColumn(salt_col, F.pmod(F.xxhash64(*df.columns), F.lit(n_salts)).cast("int"))


def two_phase_count(df: DataFrame, key: str, n_salts: int = 16) -> DataFrame:
    """Skew-safe count per key: partial agg on (key, salt), final on key."""
    return (
        with_salt(df, n_salts)
        .groupBy(key, "salt")
        .agg(F.count(F.lit(1)).alias("_partial"))
        .groupBy(key)
        .agg(F.sum("_partial").alias("count"))
    )


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as a string (for assertions in tests/bench)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def assert_broadcast_join(df: DataFrame) -> None:
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan, f"expected broadcast join, got:\n{plan}"


def assert_no_cartesian(df: DataFrame) -> None:
    plan = explain_str(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, (
        f"plan contains a cross join:\n{plan}"
    )
