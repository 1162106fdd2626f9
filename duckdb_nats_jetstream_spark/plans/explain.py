"""Plan-inspection helpers: assert that the physical plan Catalyst produced
is the plan we *want* at 100 TB — filters pushed into the parquet scan,
small dimensions broadcast, no stray cartesian products, codegen on.

Used by tests (`tests/test_plans.py`) to fail the build when a change
silently degrades a plan, the same way a correctness test fails on values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from duckdb_nats_jetstream_spark.session import scoped_conf


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def assert_pushed_filter(df: DataFrame, fragment: str) -> None:
    plan = physical_plan(df)
    assert "PushedFilters: [" in plan, f"no pushed filters in plan:\n{plan}"
    assert fragment in plan, f"expected pushed filter on {fragment!r}:\n{plan}"


def assert_broadcast_join(df: DataFrame) -> None:
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        f"expected a broadcast join:\n{plan}"
    )


def assert_no_cartesian(df: DataFrame) -> None:
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan, f"cartesian product in plan:\n{plan}"


def assert_wholestage_codegen(build_fn, spark) -> None:
    """``build_fn() -> DataFrame``; asserted with AQE off, because under AQE
    the codegen spans only materialize inside runtime query stages and never
    appear in the top-level plan string."""
    with scoped_conf(spark, "spark.sql.adaptive.enabled", "false"):
        plan = physical_plan(build_fn())
    # codegen'd operators are prefixed "*(id)" in the plan string
    assert "*(" in plan, f"no whole-stage codegen:\n{plan}"


def assert_read_schema_pruned(df: DataFrame, must_not_contain: list[str]) -> None:
    """Column pruning: the parquet ReadSchema must exclude unused columns."""
    plan = physical_plan(df)
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, f"no ReadSchema in plan:\n{plan}"
    read_cols = m.group(1)
    for c in must_not_contain:
        assert f"{c}:" not in read_cols, (
            f"column {c!r} read but unused (ReadSchema: {read_cols})"
        )
