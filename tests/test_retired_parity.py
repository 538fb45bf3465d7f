"""Retired queries that stay in the package as machinery.

Near-duplicate queries were retired from the driver-gated registry, each
superseded by a strictly-more-general survivor.  Four of them remain in
the package because their survivors build on them:

    q43 simhash                -> q47 banded simhash (reuses q43's signature)
    q53 LSH buckets            -> q55 LSH dedup + q159 streaming sign-buckets
    q105 small-file compaction -> q173 OPTIMIZE binpack (the lakehouse verb)
    q130 z-order layout        -> q200 ZORDER verb + q203 clustered compaction

THIS file keeps their oracle assertions running in CI — out of the
driver gate and the bench line, never out of the test suite.  The other
retired names were deleted outright; the registry test below pins that
none of them comes back.
"""

from __future__ import annotations

import importlib.util
import os

import pytest

_spec = importlib.util.spec_from_file_location(
    "check_oracle",
    os.path.join(os.path.dirname(__file__), "..", "tools", "check_oracle.py"),
)
check_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracle)


def _retired():
    from tinymr_spark.operators import dedup, scale, similarity

    return {
        "q43_dedup_simhash": (dedup.q43_dedup_simhash, dedup.ORACLE_Q43),
        "q53_lsh_buckets": (similarity.q53_lsh_buckets, similarity.ORACLE_Q53),
        "q105_compact_small_files": (
            scale.q105_compact_small_files, scale.ORACLE_Q105,
        ),
        "q130_zorder_layout": (scale.q130_zorder_layout, scale.ORACLE_Q130),
    }


RETIRED = _retired()

DELETED = (
    "q42_dedup_minhash",
    "q51_ann_bucketed",
    "q56_normalize_quantize",
    "q164_change_feed",
    "q165_incremental_mv",
    "q166_merge_upsert",
    "q174_optimize_zorder",
    "q191_null_scrub_delete",
    "q204_stream_change_feed",
)


@pytest.mark.parametrize("name", sorted(RETIRED))
def test_retired_query_still_matches_oracle(spark, duck, sf_dir, name):
    fn, oracle = RETIRED[name]
    sdf = fn(spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(oracle)
    dcols = rel.columns
    drows = rel.fetchall()
    assert len(srows) == len(drows), f"rowcount {len(srows)} vs {len(drows)}"
    assert sorted(scols) == sorted(dcols)
    assert check_oracle.table_hash(srows, scols) == check_oracle.table_hash(
        drows, dcols
    )


def test_retired_names_absent_from_registry():
    from tinymr_spark.operators import all_oracles, all_queries

    qs, oracles = set(all_queries()), set(all_oracles())
    for name in list(RETIRED) + list(DELETED):
        assert name not in qs and name not in oracles, name
