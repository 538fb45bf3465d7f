"""Scale-pattern proofs: salting is result-identical to direct
aggregation; bucketed tables join without exchanges (q113); explicit
repartitioning is reused across downstream aggregations."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tinymr_spark.operators.scale import salted_agg
from _plans import explain_str
from tinymr_spark.sources import load_table


def test_salted_agg_matches_direct(spark):
    # skewed data: one key holds 90% of rows
    rows = [("hot", float(i % 7)) for i in range(9000)] + [
        (f"k{i % 50}", float(i)) for i in range(1000)
    ]
    df = spark.createDataFrame(rows, "key string, v double")
    direct = {
        r["key"]: (r["total"], r["n"], r["mx"])
        for r in df.groupBy("key")
        .agg(F.sum("v").alias("total"), F.count("v").alias("n"), F.max("v").alias("mx"))
        .collect()
    }
    salted = {
        r["key"]: (r["total"], r["n"], r["mx"])
        for r in salted_agg(
            df,
            "key",
            [("sum", "v", "total"), ("count", "v", "n"), ("max", "v", "mx")],
            n_salts=8,
        ).collect()
    }
    assert salted == direct
    assert salted["hot"][1] == 9000


def test_salted_agg_rejects_non_mergeable(spark):
    df = spark.createDataFrame([("a", 1.0)], "key string, v double")
    with pytest.raises(ValueError):
        salted_agg(df, "key", [("avg", "v", "a")])


def test_hash_repartition_reused_downstream(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    pre = li.repartition(8, F.col("l_orderkey"))
    agg = pre.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
    plan = explain_str(agg, "simple")
    # the groupBy must reuse the explicit partitioning: exactly the one
    # repartition exchange, no second exchange for the aggregate
    assert plan.count("Exchange hashpartitioning") == 1


def test_partitioned_layout_prunes(spark, sf_dir, tmp_path):
    from tinymr_spark.operators.scale import write_partitioned

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "docs_by_lang")
    write_partitioned(docs, path, ["lang"])
    back = spark.read.parquet(path)
    one_lang = back.where(F.col("lang") == "en").select("doc_id")
    plan = explain_str(one_lang, "formatted")
    # the lang predicate must prune at the DIRECTORY level, not post-scan
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters", 1)[1].split("\n", 1)[0], plan
    expected = docs.where(F.col("lang") == "en").count()
    assert one_lang.count() == expected and expected > 0


def test_q113_join_plan_is_exchange_free(spark, sf_dir):
    """The q113 query's OWN staged tables must join without any shuffle —
    the whole point of paying the bucketed write.  At test SF Catalyst
    prefers a broadcast join (also shuffle-free, also correct); disabling
    broadcast exposes the big-big path the layout exists for: a
    SortMergeJoin reading matching buckets pairwise, no Exchange below."""
    from tinymr_spark.operators.scale import q113_bucketed_join

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = q113_bucketed_join(spark, sf_dir)
        plan = explain_str(df, "formatted")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan, plan
    # tree section: children of the join (the two bucketed scans) render
    # after the SortMergeJoin line; no shuffle may appear among them
    tree = plan.split("(1) Scan", 1)[0]
    below_join = tree.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in below_join, plan
    assert plan.count("Bucketed: true") == 2, plan


def test_q114_scan_has_partition_filter(spark, sf_dir):
    from tinymr_spark.operators.scale import q114_partition_pruned_scan

    df = q114_partition_pruned_scan(spark, sf_dir)
    plan = explain_str(df, "formatted")
    assert "PartitionFilters" in plan, plan
    first_line = plan.split("PartitionFilters", 1)[1].split("\n", 1)[0]
    assert "event_type" in first_line, plan


def test_q134_bloom_never_misses_members(spark, sf_dir):
    """The bloom contract: a member key can never be pruned ('missed'
    status must be structurally absent), and the filter must actually
    prune a majority of the probe side at this selectivity."""
    from tinymr_spark.operators.scale import q134_bloom_semi_join

    rows = {r["status"]: r["n_keys"] for r in q134_bloom_semi_join(spark, sf_dir).collect()}
    assert "missed" not in rows, rows
    total = sum(rows.values())
    assert rows.get("pruned", 0) > total / 2, rows


def test_q131_histogram_quantile_error_bounded_by_bin_width(spark, sf_dir):
    """The sketch's accuracy contract: any quantile read off the
    cumulative histogram is within one bin width of the exact value —
    the bound that justifies replacing a global sort with counters at
    100 TB."""
    from pyspark.sql import functions as F

    from tinymr_spark.operators.scale import (
        HIST_BIN_W,
        q131_histogram_quantiles,
    )
    from tinymr_spark.sources import load_table

    hist = sorted(
        (r["bin"], r["hi"], r["cum_n"])
        for r in q131_histogram_quantiles(spark, sf_dir).collect()
    )
    total = hist[-1][2]

    def est(p):
        target = p * total
        for _bin, hi, cum in hist:
            if cum >= target:
                return hi
        return hist[-1][1]

    exact = (
        load_table(spark, sf_dir, "events")
        .agg(F.expr("percentile(value, array(0.5, 0.9, 0.99))").alias("q"))
        .collect()[0]["q"]
    )
    top_bin_hi = hist[-1][1]
    checked = 0
    for p, ex in zip((0.5, 0.9, 0.99), exact):
        e = est(p)
        if e >= top_bin_hi:
            # the clamped overflow bin collapses the tail — no width
            # bound holds there by construction; skip rather than assert
            # a falsehood if a regenerated corpus widens the value range
            continue
        checked += 1
        # 2 bins of slack: one for the bin quantization itself, one for
        # the rank convention (est reads rank ceil(p*n), percentile()
        # interpolates at p*(n-1)) straddling a bin boundary
        assert abs(e - ex) <= 2 * HIST_BIN_W, (p, e, ex)
    assert checked, "every probed quantile fell in the clamped top bin"


def test_q142_aqe_skew_join_fires(spark, sf_dir, tmp_path):
    """The runtime skew path must actually FIRE, not just be enabled:
    with detection thresholds lowered to local scale (cluster defaults
    are sized for 256 MB executor partitions) and a MULTI-FILE fact
    copy (AQE splits a skewed reduce partition by mapper ranges, and
    the driver's single-row-group parquet yields one mapper — a real
    cluster has thousands), executing q142 must produce a final
    adaptive plan whose sort-merge join is marked skew=true — AQE
    observed the oversized partition (the collapsed key 0 owns ~half of
    lineitem) and split it across tasks.  Also re-checks result
    identity against the default run: the split is an execution detail,
    not a semantics change."""
    from tinymr_spark.operators.scale import q142_aqe_skew_join
    from tinymr_spark.sources import load_table

    multi = str(tmp_path / "li_multi")
    load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    ).repartition(12).write.parquet(multi)

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # sized for the test SF (sf0.001: the skewed partition is ~70KB,
        # uniform ones ~1KB); cluster defaults are 256MB
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = q142_aqe_skew_join(spark, sf_dir, fact_source=spark.read.parquet(multi))
        with_aqe = sorted(map(tuple, df.collect()))
        final_plan = df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)

    plain = sorted(map(tuple, q142_aqe_skew_join(spark, sf_dir).collect()))
    assert with_aqe == plain


def test_q41_hot_shingle_cap_suppresses_boilerplate(spark, tmp_path):
    """A shingle hotter than HOT_SHINGLE_DF_CAP must be dropped from the
    inverted index: pairs whose ONLY overlap is boilerplate disappear
    (the d^2-bucket guard for skewed corpora), while genuine near-dups
    sharing >= 2 non-hot shingles are still found."""
    from tinymr_spark.operators.dedup import HOT_SHINGLE_DF_CAP, q41_dedup_jaccard

    boiler = "all rights reserved worldwide"
    n_hot = HOT_SHINGLE_DF_CAP + 6  # both pure-boiler shingles exceed the cap
    rows = [
        (i, f"unique{i}a unique{i}b unique{i}c {boiler}", "en", "web", 40)
        for i in range(n_hot)
    ]
    # a genuine near-dup pair: 2 shared non-hot shingles
    rows.append((1000, "alpha beta gamma delta epsilon", "en", "web", 30))
    rows.append((1001, "alpha beta gamma delta zeta", "en", "web", 27))
    fixture = str(tmp_path / "hotshingle")
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).coalesce(1).write.parquet(f"{fixture}/documents.parquet")

    pairs = {(r["doc_a"], r["doc_b"]): r for r in q41_dedup_jaccard(spark, fixture).collect()}
    # without the cap the boiler block alone yields n_hot*(n_hot-1)/2 pairs
    assert set(pairs) == {(1000, 1001)}
    assert pairs[(1000, 1001)]["n_common"] == 2
    assert pairs[(1000, 1001)]["jaccard"] == 0.5


def test_q41_n_sh_computed_below_the_explode(spark, sf_dir):
    """n_sh (the doc's distinct-shingle count) must be computed in the
    projection BELOW the Generate, once per doc.  The pre-r15-opt shape
    put size(<ngram pipeline>) in the Project ABOVE the explode, where
    it rebuilt the whole distinct-ngram array per EXPLODED ROW —
    O(tokens^2) per doc whenever a consumer evaluates n_sh (the noop
    sink measured q41 at ~16s vs ~3s at sf0.1; count() prunes n_sh,
    which is why the bench missed it).  The bad shape's signature is a
    single Project computing BOTH n_sh and hm (hm only exists after the
    explode).  Since the r16 index checkpoint the pipeline no longer
    appears in q41's own result plan (it runs inside the checkpoint
    construction job), so the pin asserts on the shared helper that all
    of q41/q45/q46 build from."""
    from tinymr_spark.operators.dedup import _hashed_shingles

    df = _hashed_shingles(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        assert not ("AS n_sh#" in line and "AS hm#" in line), line
    # the fix keeps n_sh riding along at all (the Jaccard denominators)
    assert "AS n_sh#" in plan


def test_q41_plan_shares_one_index_exchange(spark, sf_dir):
    """q41's index must be exchanged by hm ONCE, with the second
    self-join side reading it via AQE ReuseExchange rather than
    re-scanning/re-hashing the corpus.  On a corpus with NO hot shingle
    (sf0.001) AQE goes one better: the empty broadcast side ELIMINATES
    the anti join entirely (PropagateEmptyRelation) — assert that too.
    Guards the r14 plan rework."""
    from tinymr_spark.operators.dedup import q41_dedup_jaccard

    df = q41_dedup_jaccard(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==", 1)[0] if "== Initial Plan ==" in plan else plan
    assert "isFinalPlan=true" in final, final[:200]
    # the b side's index exchange resolves to reuse
    assert final.count("ReusedExchange") >= 1, final
    # index + df-agg + pair-agg; a 4th hash exchange means a consumer
    # stopped reusing the index
    real_exchanges = final.count("+- Exchange hashpartitioning")
    assert real_exchanges <= 3, f"{real_exchanges} non-reused exchanges:\n{final}"
    assert "ShuffledHashJoin" in final, final


def test_q41_hot_corpus_plan_keeps_broadcast_anti(spark, tmp_path):
    """With an actually-hot shingle the anti join must survive as a
    BroadcastHashJoin LeftAnti fed by a map-side-combined df count, and
    the index exchange must still be shared across the self-join."""
    from tinymr_spark.operators.dedup import HOT_SHINGLE_DF_CAP, q41_dedup_jaccard

    boiler = "all rights reserved worldwide"
    rows = [
        (i, f"u{i}a u{i}b u{i}c {boiler}", "en", "web", 30)
        for i in range(HOT_SHINGLE_DF_CAP + 6)
    ]
    # one genuine near-dup pair so the result is non-empty — otherwise
    # AQE's PropagateEmptyRelation collapses the whole plan and there is
    # no join left to assert on
    rows.append((1000, "alpha beta gamma delta epsilon", "en", "web", 30))
    rows.append((1001, "alpha beta gamma delta zeta", "en", "web", 27))
    fixture = str(tmp_path / "hotplan")
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).coalesce(1).write.parquet(f"{fixture}/documents.parquet")

    df = q41_dedup_jaccard(spark, fixture)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==", 1)[0] if "== Initial Plan ==" in plan else plan
    assert "BroadcastHashJoin" in final and "LeftAnti" in final, final
    assert "partial_count" in final, final  # map-side combine on the df branch
    assert final.count("ReusedExchange") >= 1, final


def test_exact_group_percentiles_matches_builtin_bit_for_bit(spark):
    """q21/q152's distinct-value percentile rewrite must reproduce
    Spark's `percentile`/`median` EXACTLY (same doubles, not just close):
    duplicates, NULLs (ignored), an all-NULL group (NULL out), a
    single-value group, and fractional/integral interpolation positions."""
    from tinymr_spark.operators.relational import exact_group_percentiles

    rows = (
        [("a", float(v)) for v in (3, 1, 2, 2, 9, 7)]
        + [("a", None)]
        + [("b", 5.5)]
        + [("c", None), ("c", None)]
        + [("d", 0.1 * i) for i in range(101)]  # fractional positions
    )
    df = spark.createDataFrame(rows, "k string, x double")
    ps = [(0.25, "p25"), (0.5, "p50"), (0.9, "p90")]
    old = {
        r["k"]: r
        for r in df.groupBy("k")
        .agg(
            F.expr("percentile(x, 0.25)").alias("p25"),
            F.median("x").alias("p50"),
            F.expr("percentile(x, 0.9)").alias("p90"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    new = {
        r["k"]: r
        for r in exact_group_percentiles(df, "k", "x", ps)
        .withColumnRenamed("_n_all", "n")
        .collect()
    }
    assert set(old) == set(new)
    for k in old:
        for c in ("p25", "p50", "p90", "n"):
            o, n = old[k][c], new[k][c]
            # bit-for-bit: repr equality, not approx
            assert repr(o) == repr(n), (k, c, o, n)


def test_q21_plan_has_no_object_hash_aggregate(spark, sf_dir):
    """The rewrite's point: exact percentiles without `percentile`'s
    ObjectHashAggregate value->count buffers — the plan must be codegen'd
    hash aggregates + one per-group window over distinct values."""
    from tinymr_spark.operators.relational import q21_percentiles

    plan = explain_str(q21_percentiles(spark, sf_dir), "formatted")
    assert "ObjectHashAggregate" not in plan, plan
    assert "Window" in plan, plan


def test_q43_simhash_single_aggregation_pass(spark, sf_dir):
    """The r15 fold: per-bit sums are 16 agg columns in ONE
    groupBy(doc_id), not an explode(sequence(0,15)) through an extra
    (doc_id, j) exchange — the plan must carry exactly one Generate (the
    token explode) per simhash branch and no 16-row sequence blowup."""
    from tinymr_spark.operators.dedup import _simhash_signatures

    plan = explain_str(_simhash_signatures(spark, sf_dir), "formatted")
    assert "sequence(" not in plan, plan
    # ") Generate"/") Exchange" match the numbered detail headers, one
    # per physical node (the tree repeats each node a second time)
    assert plan.count(") Generate") == 1, plan
    # token-tf aggregation + the 16-sum per-doc aggregation: 2 exchanges
    assert plan.count(") Exchange") <= 2, plan
    # q47 keeps the streamed self-join (the HOF pair-array variant was
    # measured worse: it materializes O(|bucket|^2) structs per task)
    from tinymr_spark.operators.dedup import q47_dedup_simhash_banded

    plan47 = explain_str(q47_dedup_simhash_banded(spark, sf_dir), "formatted")
    assert "ShuffledHashJoin" in plan47, plan47
    assert "collect_list" not in plan47, plan47


def test_pq_codebook_is_deterministic_aggregation(spark, sf_dir):
    """The r15 codebook fold: K positional max(when(vec_id == k)) agg
    columns instead of sort_array(collect_list) — value-identical, but
    deterministic (collect_list is non-deterministic, which blocked
    exchange/stage canonicalization so q58's two codebook consumers each
    paid their own scan+aggregate+broadcast) and free of collect_list's
    ObjectHashAggregate object buffer."""
    from tinymr_spark.operators.similarity import (
        q58_ann_pq_adc,
        q59_product_quantization,
    )

    for fn in (q58_ann_pq_adc, q59_product_quantization):
        plan = explain_str(fn(spark, sf_dir), "formatted")
        assert "collect_list" not in plan, plan
        assert "ObjectHashAggregate" not in plan, plan


def test_pair_dot_udf_single_python_boundary_crossing(spark, sf_dir):
    """The r15 §4.4 fence: q44/q157 project the Arrow pair-dot then
    filter on the projected value, and CollapseProject was inlining the
    UDF into the Filter as a SECOND ArrowEvalPython — every candidate
    pair crossed the JVM->Python boundary twice. asNondeterministic()
    (the function is pure; the marking is an optimizer fence) must keep
    it to exactly one ArrowEvalPython per plan."""
    from tinymr_spark.operators.dedup import q44_dedup_embedding, q157_semdedup

    for fn in (q44_dedup_embedding, q157_semdedup):
        plan = explain_str(fn(spark, sf_dir), "formatted")
        assert plan.count(") ArrowEvalPython") == 1, plan
