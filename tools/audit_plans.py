"""Scale-readiness audit: compile every queries() entry and scan its
physical plan for patterns that break at 100 TB.

Red flags:
  CartesianProduct           — all-pairs blowup
  BroadcastNestedLoopJoin    — non-equi join fallback (O(n*m) probe)
  BatchEvalPython            — row-at-a-time Python UDF in the plan
Informational:
  ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas — Python, but
  Arrow-batched (the sanctioned escape hatch)
  exchanges                  — shuffle count per plan

Streaming queries (q9x) execute on construction; they are planned but
flagged `dynamic` and skipped for plan-string checks where construction
would run the stream.

Usage: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

RED = ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython")
INFO = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")

# queries whose construction executes jobs (streaming drives to a sink)
# — planned on their RESULT table, so exchange counts reflect the final
# read, not the pipeline.  q46 runs its star-contraction rounds on
# construction too, but its returned plan is the real distributed
# star-forest read and passes the red-flag checks unexempted.  The
# entries below (two foreachBatch sinks, the memory-sink Python-source
# stream, and the state-store reader that first drives its checkpointed
# aggregate) are here for the same reason the q9x streams
# are skipped: constructing them replays the whole multi-batch stream,
# and the returned plan is only the final state-table read — there is
# no static batch plan to audit, not an unauditable red flag.
DYNAMIC = {"q122_stream_upsert_sink", "q124_stream_delta_compact",
           "q136_python_stream_source", "q138_statestore_reader"}

# Queries whose CONSTRUCTION executes one-time BUILD jobs (a versioned
# table / DML history staged under a done marker, or an iterative
# algorithm driven to convergence): the audited plan below is the final
# summary READ — real, and still red-flag-checked — but its exchange
# count does not describe the build's work (k-core peel rounds,
# OPTIMIZE bin-pack rewrites, ZORDER clustering, MERGE/DELETE rewrite
# jobs, commit-log checkpoint folds).  Those are scale-audited by the
# build-time asserts inside each query (tier splits, O(small-bytes)
# contracts, replay-open bounds) — the `build-once` tag here marks that
# `exchanges=N` is the read, not the pipeline.
BUILD_ONCE = {
    "q162_time_travel", "q167_data_skipping", "q170_bloom_skipping",
    "q172_kcore_peel", "q173_optimize_binpack",
    "q177_delete_where", "q178_delete_null_safety", "q179_log_checkpoint",
    "q180_table_evolution", "q181_change_feed_dml",
    "q182_incremental_mv_dml", "q183_restore_version",
    "q184_deletion_vectors", "q185_check_constraints", "q186_shallow_clone",
    "q188_update_where", "q189_partition_retention", "q190_column_mapping",
    "q192_merge_accumulate",
    "q193_table_history", "q194_convert_in_place",
    "q195_stream_partitioned_ingest", "q196_stream_expectations",
    "q197_lakehouse_pipeline", "q198_generated_columns",
    "q199_identity_columns", "q200_zorder_verb", "q201_replace_where",
    "q202_merge_schema_evolution", "q203_clustered_compaction",
    "q205_stream_cdc_full_dml", "q206_row_tracking",
    "q207_stream_admission", "q208_merge_conditional",
}

# BroadcastNestedLoopJoin is acceptable ONLY when the broadcast side is
# O(1) rows — then the "nested loop" is a constant-size per-row loop, the
# intended plan, not a blowup:
#   q38_tfidf          — crossJoin(broadcast(1-row corpus doc count))
#   q50_ann_bruteforce — per-corpus-row loop over N_QUERY=5 broadcast
#                        queries IS the brute-force contract
#   q54_ann_ivf        — crossJoin(broadcast(1-row folded codebook))
#   q57_kmeans_iteration — same folded-codebook assignment as q54
#   q59_product_quantization — same folded-codebook assignment, one row
#   q58_ann_pq_adc     — codebook row + N_QUERY=5 broadcast ADC tables
ALLOW_BNLJ = {"q38_tfidf", "q50_ann_bruteforce", "q54_ann_ivf",
              "q57_kmeans_iteration", "q59_product_quantization",
              "q58_ann_pq_adc",
              # one-row broadcast of the smallest-source token cap
              "q102_domain_mixture",
              # crossJoin(broadcast(1-row corpus token total))
              "q109_unigram_logprob",
              # crossJoin of two 1-row sketch-estimate aggregates
              "q112_hll_sketch_merge",
              # crossJoin(broadcast(1-row (n_docs, avgdl) BM25 stats))
              "q125_bm25_topk",
              # crossJoin(broadcast(1-row max-Morton-code aggregate))
              "q130_zorder_layout",
              # crossJoin(broadcast(1-row bloom-size parameter aggregate))
              "q134_bloom_semi_join",
              # crossJoin(broadcast(1-row (n_docs, avgdl))) via the shared
              # BM25 scorer — same loop as q125
              "q145_incremental_bm25",
              # crossJoin(broadcast(1-row node count)) per PageRank round
              "q146_pagerank",
              # broadcast(N_QUERY-row query set) joined on vec_id != query_id
              # — q50's shape for both rankers
              "q147_hybrid_rrf",
              # crossJoin of three 1-row constraint-metric aggregates
              "q148_quality_constraints",
              # crossJoin(5-row per-type totals x 16-row bin spine)
              "q153_psi_drift",
              # crossJoin(broadcast(1-row total-weight aggregate))
              "q160_weighted_sample",
              # crossJoin of three 1-row graph-metric aggregates
              "q168_triangle_count"}
# (q157's folded-codebook crossJoin lives in its standing-index BUILD,
# which runs once per corpus version during construction; the audited
# probe plan is the bucketed self-join and needs no allowance.)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    import __spark_entry__ as entrymod
    from tinymr_spark.session import get_session

    spark = get_session()
    spark.sparkContext.setLogLevel("ERROR")
    failures = []
    for name, fn in entrymod.queries().items():
        dynamic = name in DYNAMIC or name.startswith("q9")
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        reds = [
            p for p in RED
            if p in plan and not (p == "BroadcastNestedLoopJoin" and name in ALLOW_BNLJ)
        ]
        infos = [p for p in INFO if p in plan]
        nex = (
            plan.count("Exchange hashpartitioning")
            + plan.count("Exchange rangepartitioning")
            # explicit repartition(n) — a real shuffle too (r15: the
            # multimodal decode stages repartition their tiny metadata
            # input so CPU-bound Python work doesn't inherit a one-file
            # scan's single partition)
            + plan.count("Exchange RoundRobinPartitioning")
        )
        tag = " dynamic" if dynamic else (" build-once" if name in BUILD_ONCE else "")
        notes = (" RED:" + ",".join(reds)) if reds else ""
        if infos:
            notes += " arrow:" + ",".join(infos)
        print(f"{name:32s} exchanges={nex}{tag}{notes}")
        if reds and not dynamic:
            failures.append((name, reds))
    if failures:
        print("\nRED FLAGS:")
        for name, reds in failures:
            print(f"  {name}: {', '.join(reds)}")
        return 1
    print("\nno red flags")
    return 0


if __name__ == "__main__":
    sys.exit(main())
