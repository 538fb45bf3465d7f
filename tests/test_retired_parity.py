"""Retired queries stay retired.

Near-duplicate queries were retired from the driver-gated registry, each
superseded by a strictly-more-general survivor, and deleted.  Two of them
live on only as private helpers of the queries that build on them:

    q43 simhash     -> dedup._simhash_signatures (q47 banded simhash)
    q53 LSH buckets -> similarity._lsh_buckets (q55 LSH dedup, q140 and
                       q159's lake vector index)

and are checked through those queries' oracles.  The tests below pin
that no deleted name comes back and that every module-level query
callable is registered, so the registry sweep (tools/check_oracle.py,
tests/test_oracle_parity.py) covers all query code in the package.
"""

from __future__ import annotations

import re

DELETED = (
    "q42_dedup_minhash",
    "q43_dedup_simhash",
    "q51_ann_bucketed",
    "q53_lsh_buckets",
    "q56_normalize_quantize",
    "q105_compact_small_files",
    "q130_zorder_layout",
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
    for name in DELETED:
        assert name not in qs and name not in oracles, name


def test_every_query_callable_is_registered():
    from tinymr_spark.operators import all_queries, registry_modules

    defined = {
        name
        for mod in registry_modules()
        for name, obj in vars(mod).items()
        if re.fullmatch(r"q\d+_\w+", name) and callable(obj)
    }
    assert defined - set(all_queries()) == set()
