"""Physical-plan audits: assert the plans we designed are the plans we run.

Used by tests and by ``tools/explain_audit.py`` to keep the scale
properties honest: broadcast joins stay broadcast, filters/projections
reach the parquet scan, hot paths stay inside WholeStageCodegen, and no
accidental Python UDF creeps into a JVM-only operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def assert_broadcast_join(df: DataFrame) -> None:
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, \
        f"expected a broadcast join in:\n{plan[:2000]}"


def assert_no_python_udf(df: DataFrame) -> None:
    plan = executed_plan(df)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "MapInArrow", "FlatMapGroupsInPandas"):
        assert marker not in plan, f"unexpected {marker} in:\n{plan[:2000]}"


def assert_pushed_filters(df: DataFrame, fragment: str) -> None:
    """The parquet scan must carry PushedFilters mentioning ``fragment``."""
    plan = executed_plan(df)
    assert "PushedFilters: [" in plan, f"no pushed filters in:\n{plan[:2000]}"
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any(fragment in ln for ln in pushed), \
        f"filter {fragment!r} not pushed; got: {pushed}"


def assert_pruned_schema(df: DataFrame, max_cols: int) -> None:
    """The scan's ReadSchema must not read more than ``max_cols`` columns."""
    plan = executed_plan(df)
    for ln in plan.splitlines():
        if "ReadSchema" in ln:
            schema = ln.split("ReadSchema:", 1)[1]
            n = schema.count(":")
            assert n <= max_cols, f"scan reads {n} columns (> {max_cols}): {schema}"
            return
    raise AssertionError("no ReadSchema found in plan")


def in_wholestage_codegen(df: DataFrame) -> bool:
    """Codegen'd operators print as '*(n) Op' in the executed plan."""
    plan = executed_plan(df)
    return "WholeStageCodegen" in plan or "*(" in plan
