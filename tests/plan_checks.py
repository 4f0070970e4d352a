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


def _seq(jseq) -> list:
    """A Scala ``Seq`` as a Python list."""
    return [jseq.apply(i) for i in range(jseq.size())]


def kernel_nodes(df: DataFrame, kernel: str) -> int:
    """How many ``MapInArrow`` nodes run the Python function ``kernel``
    in the optimized plan of ``df``.  A cached relation's plan is
    walked once however many times the plan reads that cache, since
    its kernel runs once."""
    jvm = df._sc._jvm
    seen, count = set(), 0
    todo = [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "InMemoryRelation":
            builder = node.cacheBuilder()
            key = jvm.System.identityHashCode(builder)
            if key not in seen:
                seen.add(key)
                todo.append(builder.cachedPlan())
        elif cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        elif node.nodeName() == "MapInArrow":
            count += node.simpleString(25).startswith(f"MapInArrow {kernel}(")
        todo += _seq(node.children())
    return count
