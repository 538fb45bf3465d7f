"""Physical-plan assertions for tests: pushdown reached the scan,
dimensions broadcast, no row-at-a-time Python in the plan.  Catalyst is
this engine's optimizer; these helpers check that a query actually gets
its optimizations instead of assuming them.  The final-plan duplicate
detector the registry sweep uses is `tools/check_oracle.dup_signatures`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (DataFrame.explain only prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def has_pushed_filters(df: DataFrame) -> bool:
    """True if the parquet scan carries at least one pushed filter."""
    s = explain_str(df)
    return "PushedFilters: [" in s and "PushedFilters: []" not in s


def read_schema_columns(df: DataFrame) -> list[str]:
    """Column names the scan actually reads (pruning check)."""
    s = explain_str(df)
    cols: list[str] = []
    for line in s.splitlines():
        line = line.strip()
        if line.startswith("ReadSchema:"):
            inner = line.split("struct<", 1)[-1].rsplit(">", 1)[0]
            cols.extend(f.split(":")[0].strip() for f in inner.split(",") if f)
    return cols


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df)

def has_shuffle_join(df: DataFrame) -> bool:
    s = explain_str(df)
    return "SortMergeJoin" in s or "ShuffledHashJoin" in s


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the plan (lower is better; broadcast
    exchanges are excluded)."""
    s = explain_str(df, "simple")
    return sum(
        1
        for line in s.splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line
    )


def uses_python_eval(df: DataFrame) -> bool:
    """True if the plan row-trips through Python (BatchEvalPython — the
    slow path; ArrowEvalPython/MapInPandas are the sanctioned ones)."""
    return "BatchEvalPython" in explain_str(df)
