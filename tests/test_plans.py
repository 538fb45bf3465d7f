"""Plan-shape assertions: correctness tests prove WHAT is computed; these
prove HOW — pushdown reaches the scan, dimensions broadcast, no accidental
Python row-tripping, shuffle counts stay minimal.  These are the
100 TB-readiness gates."""

from __future__ import annotations

import pytest

from tinymr_spark.operators import relational, text
from _plans import (
    count_exchanges,
    explain_str,
    has_broadcast_join,
    has_pushed_filters,
    has_shuffle_join,
    read_schema_columns,
    uses_python_eval,
)


def test_q02_filter_pushdown_and_pruning(spark, sf_dir):
    df = relational.q02_filter_project(spark, sf_dir)
    assert has_pushed_filters(df)
    cols = read_schema_columns(df)
    # 11-column table: the scan must read only what the query touches
    assert set(cols) <= {
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        "l_discount",
        "l_quantity",
        "l_returnflag",
        "l_shipdate",
    }
    assert "l_comment" not in cols and "l_partkey" not in cols


def test_q01_scan_prunes_columns(spark, sf_dir):
    df = relational.q01_pricing_summary(spark, sf_dir)
    cols = read_schema_columns(df)
    assert "l_orderkey" not in cols and "l_partkey" not in cols


def test_q03_broadcasts_dimension(spark, sf_dir):
    df = relational.q03_join_broadcast(spark, sf_dir)
    assert has_broadcast_join(df)
    assert not has_shuffle_join(df)


def test_q04_star_join_single_fact_shuffle_pair(spark, sf_dir):
    df = relational.q04_star_join_revenue(spark, sf_dir)
    assert has_broadcast_join(df)
    # lineitem x orders is the only shuffle join allowed
    s_joins = sum(
        1
        for line in explain_str(df, "simple").splitlines()
        if "SortMergeJoin" in line or "ShuffledHashJoin" in line
    )
    assert s_joins <= 1


def test_q05_semi_join_stays_semi(spark, sf_dir):
    df = relational.q05_semi_join(spark, sf_dir)
    assert "LeftSemi" in explain_str(df)


def test_no_python_eval_in_builtin_queries(spark, sf_dir):
    # Everything except the explicitly-Python operators (mapInPandas
    # decode, MR-face) must stay JVM-side.
    for name, fn in relational.QUERIES.items():
        assert not uses_python_eval(fn(spark, sf_dir)), name
    for name, fn in text.QUERIES.items():
        assert not uses_python_eval(fn(spark, sf_dir)), name


def test_q01_exchange_budget(spark, sf_dir):
    # one shuffle for the aggregate (plus AQE reads); no join exchanges
    df = relational.q01_pricing_summary(spark, sf_dir)
    assert count_exchanges(df) <= 1


def test_q07_topk_is_take_ordered(spark, sf_dir):
    df = relational.q07_global_topk(spark, sf_dir)
    assert "TakeOrderedAndProject" in explain_str(df)


def test_q42_minhash_partial_aggregation(spark, sf_dir):
    """The signature groupBy must pre-aggregate map-side: the shuffle
    carries one row per doc, not one per shingle (the whole point of the
    8-parallel-min design)."""
    from tinymr_spark.operators import dedup

    df = dedup._minhash_signature(spark, sf_dir)
    plan = explain_str(df)
    assert "partial_min" in plan, plan[:1000]


def test_q41_no_inlined_token_pipeline(spark, sf_dir):
    """Regression guard for the InferFiltersFromGenerate trap: a filter
    that re-derives the token array inline (`size(filter(split(text`)
    re-splits the text per element_at — O(tokens^2) per doc."""
    from tinymr_spark.operators import dedup

    plan = explain_str(dedup.q41_dedup_jaccard(spark, sf_dir), "simple")
    assert "size(filter(split(" not in plan.replace(" ", "")


def test_q54_ivf_broadcasts_codebook(spark, sf_dir):
    from tinymr_spark.operators import similarity

    df = similarity.q54_ann_ivf(spark, sf_dir)
    assert has_broadcast_join(df)
    assert not uses_python_eval(df)


def test_q54_codebook_computed_once(spark, sf_dir):
    """The r15 checkpoint: the IVF codebook's collect_list fold is
    non-deterministic, so without the localCheckpoint q54's two consumer
    branches each recomputed the full-scan codebook aggregation (plan:
    4 parquet scans, 4 ObjectHashAggregate).  Checkpointed, the codebook
    is a one-row ExistingRDD leaf computed once — the main plan carries
    exactly the two data scans (corpus + query-filtered) and zero
    codebook aggregations."""
    from tinymr_spark.operators import similarity

    plan = explain_str(similarity.q54_ann_ivf(spark, sf_dir), "simple")
    assert "Scan ExistingRDD" in plan, "codebook localCheckpoint cut missing"
    n_scans = plan.count("Scan parquet")
    assert n_scans <= 2, f"codebook aggregation duplicated again: {n_scans} scans"
    assert "ObjectHashAggregate" not in plan


def test_q49_mode_count_is_sorted_run_fold(spark, sf_dir):
    """q49's top_token_frac must ride q87's shared sorted-run fold
    (O(n log n) per row), not the O(unique * n) nested-HOF mode count —
    quadratic for exactly the repetitive docs the gate flags."""
    from tinymr_spark.operators import dedup

    plan = explain_str(dedup.q49_corpus_pipeline(spark, sf_dir), "simple")
    flat = plan.replace(" ", "")
    assert "array_max(transform(array_distinct" not in flat
    assert "aggregate(array_sort" in flat


def test_q76_interval_join_is_hash_not_nested_loop(spark, sf_dir):
    """The equi-key must make this a hash/sort-merge join; a nested-loop
    or cartesian plan means the range predicate swallowed the equi-key."""
    from tinymr_spark.operators import events

    plan = explain_str(events.q76_interval_join(spark, sf_dir), "simple")
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_q38_tf_materialized_once(spark, sf_dir):
    """q38's tf table must be localCheckpoint-materialized: although df_
    derives from tf in code, column pruning rewrites the df branch into a
    bare (doc_id, tok) distinct — a different subtree under the exchange
    — which blocks AQE ReuseExchange and re-ran the full corpus
    tokenize+explode+shuffle once per consumer (executed plan before the
    r15 fix: 2 Generates, 2 full text scans).  With the cut, the result
    plan reads tf as an ExistingRDD leaf and the only parquet scan left
    is the zero-column n_docs count."""
    from tinymr_spark.operators import text as text_ops

    plan = explain_str(text_ops.q38_tfidf(spark, sf_dir), "simple")
    assert "Scan ExistingRDD" in plan, "tf localCheckpoint cut missing"
    assert "Generate" not in plan, "tokenize pipeline re-expanded into the result plan"
    assert plan.count("Scan parquet") <= 1, plan


def test_q145_shard_tokenized_once(spark, sf_dir):
    """q145's shard postings (tf_s) must be localCheckpoint-materialized:
    its three consumers (merged-postings probe, dl_s, df_s) each got a
    structurally different pruned copy of the subtree, so the executed
    plan tokenized the shard THREE times (3 text scans / 3 Generates)
    before the r15 fix.  With the cut, no explode survives in the result
    plan — the lake sides are pre-tokenized written indexes and the shard
    side is the one materialized table."""
    from tinymr_spark.operators import text as text_ops

    plan = explain_str(text_ops.q145_incremental_bm25(spark, sf_dir), "simple")
    assert "Scan ExistingRDD" in plan, "tf_s localCheckpoint cut missing"
    assert "Generate" not in plan, "shard tokenize re-expanded into the result plan"


def test_q49_corpus_tokenized_once(spark, sf_dir):
    """q49's corpus must be tokenized ONCE: the funnel projection, the
    two disjoint 4-gram explodes, and the q45 shingle leg each re-scanned
    and re-tokenized `documents` (4 parquet scans / 4 tokenize pipelines
    in the r15 executed plan).  With the (doc_id, lang, fp, toks)
    localCheckpoint, every consumer reads the same ExistingRDD leaf and
    no parquet scan survives in the result plan — the one corpus scan
    happens inside the checkpoint's construction job."""
    from tinymr_spark.operators import dedup as dedup_ops

    plan = explain_str(dedup_ops.q49_corpus_pipeline(spark, sf_dir), "simple")
    assert "Scan ExistingRDD" in plan, "token-table localCheckpoint cut missing"
    assert "Scan parquet" not in plan, plan
    # filter(split(text)) appearing anywhere means a consumer re-expanded
    # its own tokenize pipeline instead of reading the checkpoint
    assert "split(text" not in plan, "a consumer re-tokenizes the corpus"


def test_q106_span_pipeline_exchanged_once(spark, sf_dir):
    """q106's span pipeline (K element_ats + md5 per position) must be
    computed ONCE: the dup-gram aggregation and the back-join probe share
    one explicit gh exchange via AQE ReuseExchange.  Before the r15 fix
    the executed plan ran the explode twice — the aggregation built its
    own exchange while AQE broadcast a second full copy of the exploded
    stream (under the 64 MB threshold at sf0.1; ruinous at scale).  Two
    load-bearing details pinned here: the stream carries no per-doc
    column the aggregation side would prune (that de-canonicalizes the
    exchange copies), and the vacuous isnotnull(gh) is stated BELOW the
    repartition so the join's one-sided inferred filter cannot
    de-canonicalize them either."""
    from tinymr_spark.operators import dedup

    df = dedup.q106_substring_dedup(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==", 1)[0]
    assert "isFinalPlan=true" in final, final[:200]
    assert final.count("Generate") == 1, (
        f"span explode ran {final.count('Generate')}x:\n{final[:2000]}"
    )
    assert final.count("ReusedExchange") >= 1, final


def test_q146_checkpoint_bounds_iteration_lineage(spark, sf_dir):
    """PageRank's per-round lineage must be CUT by localCheckpoint: the
    final printed plan may contain only the rounds since the LAST
    checkpoint, not the whole 5-round history repeating the persisted
    edge subtree each time.  Without the cut the sf0.001 plan printed
    29 edge-cache scans across 68 exchanges; with PR_CHECKPOINT_EVERY=2
    it printed 7 / 33, with K=3 (r13 — half the eager-cut cost, same
    O(K) bound) 14.  The bound is derived from the cadence so a future
    re-tune fails here only if the cut disappears or the per-round scan
    count grows."""
    from tinymr_spark.operators import graph

    plan = explain_str(graph.q146_pagerank(spark, sf_dir), "simple")
    assert "Scan ExistingRDD" in plan, "no localCheckpoint cut in the plan"
    k, n = graph.PR_CHECKPOINT_EVERY, graph.N_PAGERANK_ITERS
    assert k, "cadence disabled — this test pins the cut"
    live_rounds = n - k * ((n - 1) // k)  # rounds after the last cut
    bound = 7 * live_rounds + 3
    assert plan.count("InMemoryTableScan") <= bound, (
        f"iteration lineage not truncated: "
        f"{plan.count('InMemoryTableScan')} cached-subtree scans > {bound}"
    )
