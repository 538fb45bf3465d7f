"""Physical-plan inspection: the tooling used to keep operators honest at
scale.  The reference has no optimizer (SURVEY.md §4); our optimizer is
Catalyst, and these helpers assert we actually GET its optimizations —
pushdown reached the scan, dimensions broadcast, no pipeline runs twice —
instead of assuming them.
"""

from __future__ import annotations

import re
from collections import Counter

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


def dup_signatures(plan: str) -> dict[str, int]:
    """Duplicated-pipeline smell detector over a FINAL (post-AQE) plan
    string: Generate/FileScan/Python-eval lines that appear 2+ times,
    at any depth or branch of the tree, once their ids are normalized — expr ids (`#12`, `#12L`), exchange plan
    ids (`plan_id=7`), whole-stage-codegen ids (`*(3)`) and the
    process-wide counter in lambda variable names (`lambda x_21`).
    Literals, bracketed ones like `tok#3[0]` included, stay as they are.

    Pass the executedPlan of a QueryExecution that has run (collect() on
    the DataFrame itself — a separate noop-write command builds a fresh
    QE and leaves isFinalPlan=false).  explain() cannot do this job: AQE
    ReuseExchange only shows in the executed plan, and the r15 audit
    found both error directions in initial-plan reasoning — self-joins
    that DO reuse at runtime, and shared code that column pruning
    silently re-expands into duplicate full pipelines (q38/q145/q106).

    Spark cuts a scan's file list at `spark.sql.maxMetadataStringLength`
    (100 chars by default), which can make reads of two versions of one
    table print alike; raise it before planning for an exact answer.  A
    returned key drops the scan's table identifier and file list (temp
    staging roots, data dirs, version hashes), so a pinned result holds
    on any host; lines are matched with both."""
    final = plan.split("== Initial Plan ==")[0]
    sigs = Counter(
        re.sub(r"(#|plan_id=|\*\(|lambda \w+_)\d+L?", r"\1x", line.lstrip(" :+-"))
        for line in final.splitlines()
        if "Generate explode" in line
        or "FileScan" in line
        or "ArrowEvalPython" in line
        or "BatchEvalPython" in line
    )
    dups: Counter[str] = Counter()
    for sig, n in sigs.items():
        if n > 1:
            key = re.sub(r"^(FileScan \w+ )[^\[ ]+\[", r"\1[", sig)
            key = re.sub(r"Location: (\w+)\(.*?(?=, PartitionFilters: )", r"Location: \1", key)
            dups[key] += n
    return dict(dups)
