"""Plan-inspection helpers: assert physical-plan properties in tests.

The 100 TB contract is plan-shaped: Python must stay out of the hot loop.
These helpers make that assertable (tests/test_plan_properties.py) instead
of eyeballed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def explain_formatted(df: DataFrame) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def python_eval_nodes(df: DataFrame) -> int:
    """Count of Arrow/Batch Python evaluation nodes in the plan text.
    NOTE: cached (InMemoryRelation) subtrees reprint per reference — compare
    against a baseline, don't treat the absolute number as executions."""
    plan = explain_formatted(df)
    return plan.count("ArrowEvalPython") + plan.count("BatchEvalPython")
