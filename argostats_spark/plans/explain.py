"""Physical-plan inspection helpers (SURVEY.md §4).

The reference's optimizations are manual (spatial pruning, pushdown,
column pruning — atlas.py:234-253, X1-X10); Catalyst provides them, and
these helpers make that *checkable*: tests assert the plan actually
pushed a filter to the parquet scan, pruned columns, or broadcast the
small join side — so a regression in plan shape fails CI, not a 100 TB
run.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section of every parquet scan in the plan."""
    plan = formatted_plan(df)
    return "\n".join(line.strip() for line in plan.splitlines() if "PushedFilters" in line)


def scan_read_schema(df: DataFrame) -> str:
    plan = formatted_plan(df)
    return "\n".join(line.strip() for line in plan.splitlines() if "ReadSchema" in line)


def assert_filter_pushed(df: DataFrame, column: str) -> None:
    pf = pushed_filters(df)
    assert column in pf, f"filter on {column} not pushed to scan; got: {pf or '<none>'}"


def assert_column_pruned(df: DataFrame, column: str) -> None:
    rs = scan_read_schema(df)
    assert column not in rs, f"column {column} read but not needed: {rs}"


def assert_broadcast_join(df: DataFrame) -> None:
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        "expected a broadcast join in:\n" + plan[:2000]
    )


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan — the scale
    currency. Assert it doesn't grow when refactoring an operator."""
    plan = physical_plan(df)
    return sum(
        1 for line in plan.splitlines() if "Exchange" in line and "Broadcast" not in line
    )
