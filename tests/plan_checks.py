"""Physical-plan assertions shared by the plan-shape tests."""

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as a string."""
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


def assert_join_regime(df: DataFrame, regime: str) -> None:
    """``"broadcast"``: the plan has a broadcast hash join; ``"shuffle"``:
    it has none.  Call after an action, so the final adaptive plan is
    the one checked."""
    plan = explain_str(df)
    assert ("BroadcastHashJoin" in plan) == (regime == "broadcast"), (
        f"expected the {regime} regime, got:\n{plan}")
