"""Physical-plan inspection helpers.

Plan quality IS correctness at 100 TB: a filter that misses the parquet
scan, a column that isn't pruned, or a small join side that isn't
broadcast each turn into terabytes of wasted IO. These helpers let tests
(test_plans.py and others) pin the plan properties we rely on, so a refactor
that silently regresses them fails CI — the Spark analogue of the
reference's golden-fixture tests (SURVEY.md section 5).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def explain_formatted(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters lists that appear in parquet scan nodes."""
    plan = explain_formatted(df)
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan)


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every file scan (column/field pruning evidence)."""
    plan = explain_formatted(df)
    return re.findall(r"ReadSchema: (struct<[^\n]*)", plan)


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in executed_plan(df) or (
        "BroadcastNestedLoopJoin" in executed_plan(df)
    )

def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the executed plan (AQE not yet
    applied — this is the static plan's shuffle budget)."""
    return executed_plan(df).count("Exchange hashpartitioning") + (
        executed_plan(df).count("Exchange rangepartitioning")
    )


def exchange_inputs(df: DataFrame) -> list[str]:
    """The Input column list of every Exchange node — shuffle AND
    broadcast — in the formatted plan.

    Lets tests pin WHAT crosses each exchange, not just how many
    exchanges exist — e.g. "the pixel column never crosses an exchange"
    stays true in both extraction regimes even though the cold-media
    plan has more exchanges than the hot-media one. BroadcastExchange
    must be covered too: collecting a blob column to the driver and
    re-shipping it to every executor is the WORST way for it to cross
    an exchange, and a shuffle-only regex would be blind to it.
    """
    plan = explain_formatted(df)
    return re.findall(
        r"\(\d+\) (?:Broadcast)?Exchange[^\n]*\nInput \[\d+\]: \[([^\]]*)\]",
        plan,
    )

