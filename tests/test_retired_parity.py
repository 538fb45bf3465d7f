"""Retired queries that stay in the package as machinery.

Near-duplicate queries were retired from the driver-gated registry, each
superseded by a strictly-more-general survivor.  Four of them remain in
the package because their survivors build on them:

    q43 simhash                -> q47 banded simhash (reuses q43's signature)
    q53 LSH buckets            -> q55 LSH dedup + q159 streaming sign-buckets
    q105 small-file compaction -> q173 OPTIMIZE binpack (the lakehouse verb)
    q130 z-order layout        -> q200 ZORDER verb + q203 clustered compaction

Their oracle and plan checks run in the registry sweep
(tools/check_oracle.py, tests/test_oracle_parity.py) — out of the driver
gate and the bench line, never out of the test suite.  The other retired
names were deleted outright; the registry test below pins that none of
them comes back.
"""

from __future__ import annotations

RETIRED = (
    "q43_dedup_simhash",
    "q53_lsh_buckets",
    "q105_compact_small_files",
    "q130_zorder_layout",
)

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


def test_retired_names_absent_from_registry():
    from tinymr_spark.operators import all_oracles, all_queries

    qs, oracles = set(all_queries()), set(all_oracles())
    for name in list(RETIRED) + list(DELETED):
        assert name not in qs and name not in oracles, name
