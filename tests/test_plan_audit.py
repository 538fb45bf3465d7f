"""Plan-audit gates.  The registry-wide checks (scale red flags before
execution, duplicated pipelines in the final plan) run once per query in
the sweep — tools/check_oracle.py, tests/test_oracle_parity.py.  Here:
q103's required plan shape, and the duplicate-signature normalizer on
plan-line strings (no Spark)."""

from __future__ import annotations

from tools.check_oracle import dup_signatures

_SCAN = (
    "FileScan parquet [l_orderkey#{},l_quantity#{}L] Batched: true, DataFilters: [], "
    "Format: Parquet, Location: InMemoryFileIndex(1 paths)[file:/data/lineitem.parquet], "
    "PartitionFilters: [], PushedFilters: [], ReadSchema: struct<l_orderkey:bigint>"
)


def test_q103_vocab_topv_is_distributed(sf_dir, spark):
    """q103's vocab ranking must NOT be an unpartitioned window over the
    full distinct-token table (a single-executor sort of 1e8-1e9 rows at
    100 TB).  The required shape: a TakeOrderedAndProject (distributed
    top-V) BELOW the row_number Window, so the window only ever sees V
    rows.  Children print below parents in the plan string."""
    from tinymr_spark.operators.text import q103_vocab_encode

    plan = (
        q103_vocab_encode(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan, "top-V must lower to TakeOrderedAndProject"
    wi = plan.find("Window [row_number")
    ti = plan.find("TakeOrderedAndProject")
    assert wi != -1 and ti > wi, "row_number Window must sit above the top-V limit"


def test_dup_signatures_ignore_ids():
    gen = "Generate explode(filter(split(text#{}, \\s+, -1), lambdafunction(NOT " \
        "(lambda x_{}#{} = ), lambda x_{}#{}, false))), false, [tok#{}]"
    plan = "\n".join([
        "*(3) Project [a#1]",
        "   :  +- *(1) " + gen.format(14, 21, 30, 21, 30, 20),
        "   +- *(2) " + gen.format(91, 90, 92, 90, 92, 95),
        "   +- Exchange hashpartitioning(a#1, 32), ENSURE_REQUIREMENTS, [plan_id=7]",
        "      :- " + _SCAN.format(5, 6),
        "      +- " + _SCAN.format(105, 106),
        "      +- ArrowEvalPython [f(x#3)#4], [pythonUDF0#5], 200, [plan_id=11]",
        "      +- ArrowEvalPython [f(x#8)#9], [pythonUDF0#10], 200, [plan_id=12]",
    ])
    dups = dup_signatures(plan)
    assert dups == {
        "*(x) " + gen.format(*"x" * 6): 2,
        # the key keeps the columns and filters but not the host's paths
        "FileScan parquet [l_orderkey#x,l_quantity#x] Batched: true, DataFilters: [], "
        "Format: Parquet, Location: InMemoryFileIndex, PartitionFilters: [], "
        "PushedFilters: [], ReadSchema: struct<l_orderkey:bigint>": 2,
        "ArrowEvalPython [f(x#x)#x], [pythonUDF0#x], 200, [plan_id=x]": 2,
    }


def test_dup_signatures_keep_bracketed_literals():
    plan = "\n".join([
        "+- Generate explode(array(arr#12[0], arr#12[1])), false, [v#30]",
        "+- Generate explode(array(arr#12[0], arr#12[2])), false, [v#31]",
        ":- " + _SCAN.format(5, 6),
        "+- " + _SCAN.format(5, 6).replace("lineitem.parquet", "lineitem_v2.parquet"),
    ])
    assert dup_signatures(plan) == {}


def test_dup_signatures_read_only_the_final_plan():
    line = "+- Generate explode(split(text#14, \\s+, -1)), false, [tok#20]"
    plan = "\n".join(["== Final Plan ==", line, "== Initial Plan ==", line])
    assert dup_signatures(plan) == {}
