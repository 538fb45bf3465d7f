"""The registry sweep at sf0.001: every declared query built and
collected ONCE and checked on that one execution — no scale red flag in
its plan, exactly the pinned duplicated final-plan signatures, and rows
equal to its DuckDB oracle (the in-repo mirror of the external
correctness gate: rowcount + column set + order-insensitive normalized
values).
tools/check_oracle.py runs the same check_query."""

from __future__ import annotations

import pytest

from tools.check_oracle import (
    ALLOW_BNLJ,
    DYNAMIC,
    EXPECTED_DUPS,
    check_query,
    sweep_queries,
)

SWEEP = sweep_queries()


@pytest.mark.parametrize("name", sorted(SWEEP))
def test_query_matches_oracle(spark, duck, sf_dir, name):
    fn, oracle = SWEEP[name]
    c = check_query(spark, duck, sf_dir, name, fn, oracle)
    assert c.reds == [], "scale red flags in the plan"
    assert c.dups == EXPECTED_DUPS.get(name, {}), (
        "duplicated Generate/FileScan/Python-eval signatures in the final "
        "plan differ from the pinned set (fix the plan, or pin it in "
        "EXPECTED_DUPS with a reason)"
    )
    assert c.mismatch is None


def test_exemptions_name_sweep_entries():
    """Every plan exemption names a query the sweep still runs: an entry
    left behind by a deleted query would silently exempt a future query
    that reuses the name."""
    stale = (ALLOW_BNLJ | DYNAMIC | set(EXPECTED_DUPS)) - set(SWEEP)
    assert stale == set()
