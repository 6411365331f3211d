from vicinity_spark.plans.checks import (
    assert_no_cartesian,
    explain_str,
    has_broadcast_join,
    plan_summary,
    pushed_filters,
    python_rdd_scans,
    read_schema_cols,
)

__all__ = [
    "assert_no_cartesian",
    "explain_str",
    "has_broadcast_join",
    "plan_summary",
    "pushed_filters",
    "python_rdd_scans",
    "read_schema_cols",
]
