"""Physical-plan inspection helpers: the scale posture is only real if the
executed plan shows it (SURVEY.md section 4). Used by tests/test_plans.py
and ad-hoc .explain audits."""
from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()

