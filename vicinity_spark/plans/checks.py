"""Physical-plan introspection helpers.

Scale hygiene is a plan property, not a hope: filters must reach the
parquet scan (PushedFilters), projections must prune the read schema
(ReadSchema), small dims must broadcast, and nothing should produce an
un-asked-for CartesianProduct. These helpers make those properties
assertable in tests (tests/test_plans.py) so regressions show up as
red tests, not as slow clusters.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def plan_summary(df: DataFrame) -> "list[str]":
    """Physical operator names, outermost first."""
    s = explain_str(df, "simple")
    ops = []
    for line in s.splitlines():
        m = re.match(r"^[\s:+*\-(]*(\d+\)\s*)?([A-Za-z][A-Za-z0-9]+)", line)
        if m:
            ops.append(m.group(2))
    return ops


def pushed_filters(df: DataFrame) -> "list[str]":
    """All PushedFilters entries across scans."""
    s = explain_str(df, "formatted")
    return re.findall(r"PushedFilters: \[([^\]]*)\]", s)


def read_schema_cols(df: DataFrame) -> "list[list[str]]":
    """Column names each parquet scan actually reads (pruning check)."""
    s = explain_str(df, "formatted")
    out = []
    for m in re.findall(r"ReadSchema: struct<([^>]*)>", s):
        cols = [c.split(":")[0].strip() for c in m.split(",") if c.strip()]
        out.append(cols)
    return out


def has_broadcast_join(df: DataFrame) -> bool:
    s = explain_str(df, "simple")
    return "BroadcastHashJoin" in s or "BroadcastNestedLoopJoin" in s


def assert_no_cartesian(df: DataFrame) -> None:
    s = explain_str(df, "simple")
    if "CartesianProduct" in s:
        raise AssertionError("plan contains CartesianProduct:\n" + s)


def python_rdd_scans(df: DataFrame) -> "list[str]":
    """Leaves of ``df``'s optimized plan that scan an RDD built in
    Python — ``spark.createDataFrame(<list>)``, ``rdd.toDF()``. Each
    evaluation of such a leaf runs one Python task per partition, and
    its plan has no ``maxRows``. A checkpointed frame also plans as
    ``Scan ExistingRDD`` but runs no Python, so it is not reported; a
    cached frame shows as its cache, not its source."""
    out = []
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.nodeName() == "LogicalRDD" and "PythonRDD" in leaf.rdd().toDebugString():
            out.append(leaf.toString().strip())
    return out
