"""The __spark_entry__ wrapper must hold its contract on a session the
harness owns: even if the surrounding session was reconfigured to a
non-UTC timezone, wrapped queries pin UTC (the NTZ->LTZ cast in the
loader is value-preserving only under UTC) and still match the oracle."""

from __future__ import annotations

import pytest

from tools.check_oracle import table_hash


@pytest.mark.parametrize("name", ["q70_tumbling_window", "q90_stream_tumbling"])
def test_wrapper_pins_utc_on_foreign_session(spark, duck, sf_dir, name):
    import __spark_entry__ as entrymod

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        sdf = entrymod.queries()[name](spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    rel = duck.sql(entrymod.oracle_sql()[name])
    assert table_hash(srows, scols) == table_hash(rel.fetchall(), rel.columns)


def test_module_execution_surface_prints_version():
    """Reference CI parity: `python -m tinymr_spark --version` must work
    (reference tests.yml:44 runs `python3 -m tinymr --version`)."""
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "-m", "tinymr_spark", "--version"],
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    )
    import tinymr_spark

    assert out.stdout.strip() == tinymr_spark.__version__


def test_gate_rotation_orders_reworked_then_stalest():
    """The driver's correctness gate hashes the FIRST 50 queries()
    entries; the rotation must front (a) anything never driver-verified,
    (b) anything semantically REWORKED this round (prior verification no
    longer attests current behavior), then backfill least-recently-
    verified first.  A regression here silently starves stale queries of
    re-verification."""
    from tinymr_spark.operators import (
        _REWORKED_THIS_ROUND,
        _verified_rounds,
        all_queries,
    )

    order = list(all_queries())
    verified = _verified_rounds()
    fresh = [n for n in order if n not in verified or n in _REWORKED_THIS_ROUND]
    # every fresh/reworked entry precedes every verified backlog entry
    assert order[: len(fresh)] == fresh
    # the backlog is non-decreasing in last-verified round
    rounds = [verified[n] for n in order[len(fresh):]]
    assert rounds == sorted(rounds)
    # and every reworked name actually exists in the registry
    assert _REWORKED_THIS_ROUND <= set(order)


def test_verified_rounds_derived_from_correctness_files(tmp_path):
    """The rotation's last-verified round is the highest CORRECTNESS_rNN
    whose entry hash-matched: a later failed check does not erase it, and
    a name that never hash-matched stays unverified."""
    import json

    from tinymr_spark.operators import _verified_rounds

    def entry(ok):
        return {"rows_match": True, "schema_match": True, "hash_match": ok}

    (tmp_path / "CORRECTNESS_r03.json").write_text(
        json.dumps({"q01_a": entry(True), "q03_c": entry(True)})
    )
    (tmp_path / "CORRECTNESS_r05.json").write_text(
        json.dumps({"q01_a": entry(False), "q02_b": entry(False), "q03_c": entry(True)})
    )
    (tmp_path / "CORRECTNESS_r05_c8.json").write_text(json.dumps({"q04_d": entry(True)}))
    assert _verified_rounds(tmp_path) == {"q01_a": 3, "q03_c": 5}
