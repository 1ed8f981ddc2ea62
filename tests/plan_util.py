"""One way for tests to read a DataFrame's query plan as text."""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_text(df: DataFrame, stage: str = "executed") -> str:
    """The plan of ``df`` as a string: ``executed`` (the physical plan),
    ``optimized`` (the optimized logical plan) or ``formatted`` (the
    ``explain("formatted")`` text)."""
    qe = df._jdf.queryExecution()
    if stage == "executed":
        return qe.executedPlan().toString()
    if stage == "optimized":
        return qe.optimizedPlan().toString()
    if stage == "formatted":
        jvm = df.sparkSession._jvm
        return qe.explainString(
            jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
    raise ValueError(f"unknown plan stage {stage!r}")
