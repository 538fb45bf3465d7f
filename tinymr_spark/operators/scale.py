"""Scale patterns: the shuffle-discipline utilities a 100 TB deployment
needs — key salting for skewed aggregations and bucketed table layout for
co-located (exchange-free) joins.

These are engine API, not queries: they parameterize HOW other operators
execute.  tests/test_scale_patterns.py proves the salted aggregate is
result-identical to the direct one and that bucketed joins plan without
exchanges.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    key: str,
    aggs: list[tuple[str, str, str]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage aggregation for skewed keys.

    Stage 1 groups by (key, random salt) so a hot key's rows spread over
    ``n_salts`` reducers; stage 2 merges the partials by key.  ``aggs`` is
    a list of (agg_fn, column, alias) with agg_fn in {sum, count, min,
    max} — the merge of each is itself (count merges with sum).

    AQE's skew handling covers sort-merge JOINS; skewed AGGREGATES still
    need salting because a hash aggregate sends every row of a key to one
    reducer.
    """
    mergers = {"sum": "sum", "count": "sum", "min": "min", "max": "max"}
    for fn, _, _ in aggs:
        if fn not in mergers:
            raise ValueError(f"unsupported agg for salting: {fn}")

    salted = df.withColumn("_salt", (F.rand(seed=0) * n_salts).cast("int"))
    partial = salted.groupBy(key, "_salt").agg(
        *[getattr(F, fn)(col).alias(alias) for fn, col, alias in aggs]
    )
    return partial.groupBy(key).agg(
        *[getattr(F, mergers[fn])(alias).alias(alias) for fn, _, alias in aggs]
    )


def _min_versions(n: int, *siblings: str):
    """A `sources.staged` ready check for a minitable history: at least
    `n` commits and every `path + sibling` dir present.  A crashed or
    raced build that left a short log must never be served: the queries
    address those versions."""
    import os

    from tinymr_spark.sources import minitable

    return lambda path: len(minitable.versions(path)) >= n and all(
        os.path.isdir(path + s) for s in siblings
    )


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Persist hive-style directory-partitioned parquet
    (``path/col=value/...``).

    Partition pruning is the coarsest and cheapest data-skipping layer at
    100 TB: a filter on a partition column never LISTS the other
    directories, let alone reads them — it shows up in the scan as
    ``PartitionFilters`` (asserted by tests/test_scale_patterns.py).
    Choose low-cardinality columns that dominate query predicates (date,
    region, language); high-cardinality partitioning creates a
    small-files problem instead.
    """
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


# ---------------------------------------------------------------------------
# q110 — salted (skew-safe) JOIN: the join-side counterpart of
# salted_agg.  A hash join sends every fact row of a key to the one
# partition owning that key, so a hot orderkey (a viral order, a null-ish
# default, a bot user) turns one reducer into the stage's straggler.
# Salting replicates each DIM row S times (one per salt id) and routes
# each FACT row to a deterministic salt — the hot key's rows now spread
# over S partitions, each finding its own dim replica.  The result is
# provably identical to the unsalted join (each fact row matches exactly
# one replica), which is what the oracle checks: it runs the PLAIN join.
#
# AQE's skew-join split covers sort-merge joins after the fact; explicit
# salting is the a-priori fix that also works for hash joins and for
# skew AQE's size heuristics miss.  S=8 multiplies the dim shuffle by 8
# — salt only when a skew profile says so.
# ---------------------------------------------------------------------------
JOIN_SALTS = 8


def q110_salted_skew_join(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    dim = orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.explode(F.sequence(F.lit(0), F.lit(JOIN_SALTS - 1))).alias("_salt"),
    )
    # The fact-side salt must be high-entropy WITHIN a hot key, or the hot
    # key's rows still land on one reducer: hashing only l_linenumber
    # (<= 7 distinct values) would defeat the whole pattern.  Hash the
    # row's non-key attributes — deterministic, and rows of one orderkey
    # spread across all salts.
    fact = li.select(
        "l_orderkey",
        "l_extendedprice",
        "l_discount",
        F.pmod(
            F.xxhash64("l_partkey", "l_extendedprice", "l_linenumber"),
            F.lit(JOIN_SALTS),
        )
        .cast("int")
        .alias("_salt"),
    )
    return (
        fact.join(
            dim,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (fact["_salt"] == dim["_salt"]),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
    )


ORACLE_Q110 = """
SELECT o_orderpriority, COUNT(*) AS n_items,
       SUM(l_extendedprice * (1 - l_discount)) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# q142 — AQE-native skew join: the OTHER answer to q110's problem, and
# the one a 100 TB operator reaches for FIRST.  q110 salts a-priori
# (correct, but multiplies the dim shuffle by S and needs a skew
# profile); `spark.sql.adaptive.skewJoin` instead detects an oversized
# shuffle partition at RUNTIME from actual map-output sizes and splits
# it across tasks, each re-reading the matching dim partition — no
# query rewrite, no replication when there is no skew.  The query joins
# on a deliberately skewed key (every even orderkey collapses to 0, so
# one key owns ~half of lineitem; the dim keeps odd orders plus one
# literal HOT row, staying UNIQUE per key) with a merge-join hint
# (broadcast would bypass the shuffle the demo is about — and at lake
# scale the dim side wouldn't fit anyway); the skew split is
# result-invariant, so the oracle runs the PLAIN join.
#
# TWO plan-shape constraints learned by measurement (each one a 100 TB
# operating lesson, both pinned by tests/test_scale_patterns.py):
#   1. OptimizeSkewedJoin only matches a join whose children are BARE
#      shuffle stages (Sort over ShuffleQueryStage) — an aggregate
#      between the shuffle and the join (the first draft deduped the
#      dim with a groupBy) makes the partition non-splittable and the
#      rule never fires.  Keep the skewed join's inputs
#      shuffle-at-the-boundary, or AQE cannot help.
#   2. AQE splits a skewed REDUCE partition by MAPPER ranges
#      (PartialReducerPartitionSpec), so with a single map task there
#      is nothing to split: the driver's one-file single-row-group
#      parquet yields exactly one mapper and the rule is a no-op
#      locally no matter the thresholds.  A real cluster has thousands
#      of mappers, so cluster defaults
#      (skewedPartitionThresholdInBytes=256M) fire on real skew; the
#      plan test stages a multi-file fact via `fact_source` to give
#      AQE mappers to split, lowers the thresholds to local scale,
#      executes, and asserts the final plan marks the join skew=true —
#      proof the runtime path actually fires, not just that the flag
#      is set.
# ---------------------------------------------------------------------------
def q142_aqe_skew_join(spark, sf_dir: str, fact_source: DataFrame | None = None) -> DataFrame:
    from tinymr_spark.sources import load_table

    li = fact_source if fact_source is not None else load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    skew_key = F.when(F.col("l_orderkey") % 2 == 0, F.lit(0)).otherwise(
        F.col("l_orderkey")
    )
    fact = li.select(
        skew_key.alias("k"), "l_extendedprice", "l_discount"
    )
    hot = spark.createDataFrame([(0, "HOT")], "k bigint, prio string")
    dim = (
        orders.where(F.col("o_orderkey") % 2 == 1)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderpriority").alias("prio"),
        )
        .unionAll(hot)
    )
    contrib = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")), 6
    ).cast("decimal(18,6)")
    return (
        fact.join(dim.hint("merge"), "k")
        .groupBy("prio")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(contrib).cast("double").alias("revenue"),
        )
    )


ORACLE_Q142 = """
WITH fact AS (
    SELECT CASE WHEN l_orderkey % 2 = 0 THEN 0 ELSE l_orderkey END AS k,
           l_extendedprice, l_discount
    FROM lineitem
),
dim AS (
    SELECT o_orderkey AS k, o_orderpriority AS prio
    FROM orders WHERE o_orderkey % 2 = 1
    UNION ALL
    SELECT 0, 'HOT'
)
SELECT prio, COUNT(*) AS n_items,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 6)
                AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM fact JOIN dim USING (k)
GROUP BY prio
"""


# ---------------------------------------------------------------------------
# q156 — CROSS-FORMAT federated join: one plan over three storage
# formats — lineitem from PARQUET, orders from the staged ORC copy
# (q135's artifact), customer from the staged Avro copy (q141's
# tinyavro artifact) — the migration-era reality where a lake holds
# last year's ORC next to this year's parquet next to a partner's Avro
# drop, and the engine must plan across them as one graph.  Format is a
# scan-level detail: Catalyst broadcasts the small Avro customer side,
# sort-merge-joins the two big sides, and pushdown/pruning apply per
# scan exactly as in the single-format queries.  The oracle runs the
# same join over the original parquet, so the hash gate proves all
# three format paths byte-preserve their tables inside one composed
# query, not just in isolation.
# ---------------------------------------------------------------------------
def q156_federated_join(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import load_table, tinyavro

    tinyavro.register(spark)
    li = load_table(spark, sf_dir, "lineitem")
    orders = spark.read.orc(
        _staged_format_copy(
            spark, sf_dir, "orders", "orc",
            lambda df, d: df.write.mode("overwrite").orc(d),
        )
    )
    cust = spark.read.format("tinyavro").load(
        _staged_format_copy(
            spark, sf_dir, "customer", "avro",
            lambda df, d: df.write.mode("overwrite").format("tinyavro").save(d),
        )
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_mktsegment", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")), 6
                ).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("revenue"),
            F.count_distinct("o_orderkey").alias("n_orders"),
        )
    )


ORACLE_Q156 = """
SELECT c_mktsegment, o_orderstatus, COUNT(*) AS n_items,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 6)
                AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       COUNT(DISTINCT o_orderkey) AS n_orders
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q155 — CORRUPT-RECORD ingest (PERMISSIVE mode): real feeds contain
# malformed rows, and the ingest contract is "quarantine, never crash,
# never silently drop".  A JSON landing file is staged once per source
# version with every 7th order emitted as a deliberately broken line
# (truncated JSON — the classic upstream-writer-died shape); the read
# declares the schema plus the `_corrupt_record` rescue column, so good
# rows parse and bad lines land intact in the rescue column for
# reprocessing.  The aggregate reports per-status order counts from the
# GOOD rows plus one quarantine row counting the bad — and because the
# corruption rule is deterministic, the oracle reproduces both halves
# from the original table, proving no row was lost to either bucket.
# At 100 TB this is the difference between a nightly feed landing and a
# nightly feed failing at 3am on one bad line.
# ---------------------------------------------------------------------------
def q155_corrupt_ingest(spark, sf_dir: str) -> DataFrame:
    import os

    from tinymr_spark.sources import (
        load_table,
        staged,
        table_path,
    )

    src = table_path(sf_dir, "orders")

    def build(stage):
        orders = load_table(spark, sf_dir, "orders")
        # good rows as JSON lines; every 7th line truncated mid-object
        line = F.concat(
            F.lit('{"o_orderkey":'), F.col("o_orderkey").cast("string"),
            F.lit(',"o_orderstatus":"'), F.col("o_orderstatus"),
            F.lit('","o_totalprice":'), F.col("o_totalprice").cast("string"),
            F.lit("}"),
        )
        broken = F.pmod(F.col("o_orderkey"), F.lit(7)) == 0
        out = orders.select(
            F.when(broken, F.substring(line, 1, 20)).otherwise(line).alias("value")
        )
        out.write.mode("overwrite").text(os.path.join(stage, "data"))

    stage = staged("tinymr_spark_corrupt", src, build)
    # Spark refuses to answer queries that reference ONLY the rescue
    # column of an uncached semi-structured parse (the parser prunes the
    # data columns and the rescue column would be trivially non-null);
    # its own guidance is to cache the parsed result first — done here
    # with the standard per-version session-cache lifecycle.
    from tinymr_spark.sources import session_cache

    cache = session_cache(spark, "_tinymr_corrupt_cache")
    ckey = (src, stage)  # stage path embeds the version hash
    if ckey not in cache:
        parsed = (
            spark.read.schema(
                "o_orderkey bigint, o_orderstatus string, o_totalprice double, "
                "_corrupt_record string"
            )
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .json(os.path.join(stage, "data"))
            .persist()
        )
        # evict only SUPERSEDED versions of this source (the repo's
        # session-cache convention) — other scale factors stay live
        for stale in [k for k in cache if k[0] == src and k != ckey]:
            cache.pop(stale).unpersist()
        cache[ckey] = parsed
    parsed = cache[ckey]
    good = parsed.where(F.col("_corrupt_record").isNull())
    bad = parsed.where(F.col("_corrupt_record").isNotNull())
    report = good.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )
    quarantine = bad.agg(
        F.lit("_QUARANTINED").alias("status"),
        F.count(F.lit(1)).alias("n_orders"),
        F.lit(None).cast("double").alias("total_price"),
    )
    return report.unionByName(quarantine)


ORACLE_Q155 = """
SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders WHERE o_orderkey % 7 <> 0
GROUP BY 1
UNION ALL
SELECT '_QUARANTINED', COUNT(*), NULL
FROM orders WHERE o_orderkey % 7 = 0
"""


# ---------------------------------------------------------------------------
# q153 — PSI distribution drift (population stability index): THE
# production monitoring metric for "did this feature's distribution
# move between snapshots" — the check that gates retraining and flags
# upstream breakage.  Two snapshots of the event value distribution are
# compared per event type: the observed corpus vs a drifted twin
# (purchase values scaled 2x — the realistic drift of a price
# change), binned into fixed-width buckets (no percentile dependence —
# bin edges must be STABLE across snapshots or the metric measures the
# binning, not the data).  PSI = sum((p-q) * ln(p/q)) with Laplace
# smoothing ((n+1)/(N+B) — exact integer ratios, so p and q are
# identical doubles in both engines); per-bin contributions are rounded
# to 9 decimals and decimal-summed (the q109 recipe) so the final PSI
# hash-matches bit-for-bit.  The drifted type reports PSI >> the
# conventional 0.2 alarm line while undrifted types sit near 0 — the
# report demonstrably separates them.  Scale shape: two
# map-side-combined binned aggregations + a broadcast-size join on
# (event_type, bin).
# ---------------------------------------------------------------------------
PSI_BIN_W = 10
PSI_BINS = 16  # values land in [0, 160); the last bin absorbs overflow


def q153_psi_drift(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    drifted = ev.select(
        "event_type",
        F.when(
            F.col("event_type") == "purchase", F.col("value") * 2.0
        ).otherwise(F.col("value")).alias("value"),
    )

    def binned(df):
        b = F.least(
            F.lit(PSI_BINS - 1), F.floor(F.col("value") / PSI_BIN_W)
        ).cast("int")
        return df.groupBy("event_type", b.alias("bin")).agg(
            F.count(F.lit(1)).alias("n")
        )

    old_b = binned(ev).withColumnRenamed("n", "n_old")
    new_b = binned(drifted).withColumnRenamed("n", "n_new")
    tot = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("total"))
    # full bin spine per type so empty bins smooth instead of vanishing
    spine = tot.crossJoin(
        spark.range(PSI_BINS).select(F.col("id").cast("int").alias("bin"))
    )
    j = (
        spine.join(old_b, ["event_type", "bin"], "left")
        .join(new_b, ["event_type", "bin"], "left")
        .select(
            "event_type",
            "total",
            F.coalesce("n_old", F.lit(0)).alias("n_old"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
    )
    p = (F.col("n_old") + 1) / (F.col("total") + PSI_BINS)
    q = (F.col("n_new") + 1) / (F.col("total") + PSI_BINS)
    contrib = F.round((p - q) * F.log(p / q), 9).cast("decimal(18,9)")
    return (
        j.groupBy("event_type")
        .agg(F.sum(contrib).cast("double").alias("psi"))
        .select(
            "event_type", "psi", (F.col("psi") > 0.2).alias("drift_alarm")
        )
    )


ORACLE_Q153 = f"""
WITH ev AS (SELECT event_type, value FROM events),
drifted AS (
    SELECT event_type,
           CASE WHEN event_type = 'purchase' THEN value * 2.0 ELSE value END AS value
    FROM events
),
old_b AS (
    SELECT event_type,
           LEAST({PSI_BINS - 1}, CAST(FLOOR(value / {PSI_BIN_W}) AS INT)) AS bin,
           COUNT(*) AS n_old
    FROM ev GROUP BY 1, 2
),
new_b AS (
    SELECT event_type,
           LEAST({PSI_BINS - 1}, CAST(FLOOR(value / {PSI_BIN_W}) AS INT)) AS bin,
           COUNT(*) AS n_new
    FROM drifted GROUP BY 1, 2
),
tot AS (SELECT event_type, COUNT(*) AS total FROM ev GROUP BY 1),
spine AS (
    SELECT t.event_type, t.total, CAST(g.bin AS INT) AS bin
    FROM tot t, generate_series(0, {PSI_BINS - 1}) AS g(bin)
),
j AS (
    SELECT s.event_type, s.total,
           COALESCE(o.n_old, 0) AS n_old, COALESCE(n.n_new, 0) AS n_new
    FROM spine s
    LEFT JOIN old_b o ON o.event_type = s.event_type AND o.bin = s.bin
    LEFT JOIN new_b n ON n.event_type = s.event_type AND n.bin = s.bin
),
c AS (
    SELECT event_type,
           CAST(ROUND(
               ((n_old + 1.0) / (total + {PSI_BINS})
                - (n_new + 1.0) / (total + {PSI_BINS}))
               * LN(((n_old + 1.0) / (total + {PSI_BINS}))
                    / ((n_new + 1.0) / (total + {PSI_BINS}))),
           9) AS DECIMAL(18,9)) AS contrib
    FROM j
)
SELECT event_type, CAST(SUM(contrib) AS DOUBLE) AS psi,
       CAST(SUM(contrib) AS DOUBLE) > 0.2 AS drift_alarm
FROM c
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# q152 — IQR outlier QUARANTINE: the numeric-cleaning pass every
# training-data pipeline runs before aggregating a measure column —
# per-group Tukey fences (p25/p75 +- 1.5*IQR on event value), rows
# outside the fence quarantined, and the report carries the fences and
# the kept-range so downstream can audit what was dropped.  Exact
# (sort-based) percentiles with linear interpolation are arithmetic-
# identical in Spark (`percentile`) and DuckDB (`quantile_cont`) —
# pos = p*(n-1), a + (b-a)*frac on the same doubles — so fences,
# classifications, and counts all hash-match without rounding tricks;
# interpolated fences never sit on a rounding boundary.  Scale shape:
# the 5-row fence table broadcasts back onto the fact scan — one
# narrow distinct-value pass (exact_group_percentiles: codegen'd
# (group, value) counting + cumulative window, replacing `percentile`'s
# per-task value->count ObjectHashAggregate buffer — optimization guide
# §2.3; same doubles, bit-identical interpolation), no fact shuffle
# beyond it.
# ---------------------------------------------------------------------------
IQR_FENCE = 1.5


def q152_outlier_quarantine(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.operators.relational import exact_group_percentiles
    from tinymr_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    fences = exact_group_percentiles(
        ev, "event_type", "value", [(0.25, "p25"), (0.75, "p75")]
    ).select("event_type", "p25", "p75")
    lo = F.col("p25") - IQR_FENCE * (F.col("p75") - F.col("p25"))
    hi = F.col("p75") + IQR_FENCE * (F.col("p75") - F.col("p25"))
    flagged = ev.join(F.broadcast(fences), "event_type").select(
        "event_type",
        "value",
        ((F.col("value") < lo) | (F.col("value") > hi)).alias("is_outlier"),
        lo.alias("lo"),
        hi.alias("hi"),
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("is_outlier"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_quarantined"),
        F.round(F.min("lo"), 6).alias("fence_lo"),
        F.round(F.max("hi"), 6).alias("fence_hi"),
        F.round(F.min(F.when(~F.col("is_outlier"), F.col("value"))), 6).alias(
            "kept_min"
        ),
        F.round(F.max(F.when(~F.col("is_outlier"), F.col("value"))), 6).alias(
            "kept_max"
        ),
    )


ORACLE_Q152 = f"""
WITH fences AS (
    SELECT event_type,
           quantile_cont(value, 0.25) AS p25,
           quantile_cont(value, 0.75) AS p75
    FROM events GROUP BY event_type
),
flagged AS (
    SELECT e.event_type, e.value,
           (e.value < f.p25 - {IQR_FENCE} * (f.p75 - f.p25)
            OR e.value > f.p75 + {IQR_FENCE} * (f.p75 - f.p25)) AS is_outlier,
           f.p25 - {IQR_FENCE} * (f.p75 - f.p25) AS lo,
           f.p75 + {IQR_FENCE} * (f.p75 - f.p25) AS hi
    FROM events e JOIN fences f USING (event_type)
)
SELECT event_type, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN is_outlier THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
       ROUND(MIN(lo), 6) AS fence_lo,
       ROUND(MAX(hi), 6) AS fence_hi,
       ROUND(MIN(CASE WHEN NOT is_outlier THEN value END), 6) AS kept_min,
       ROUND(MAX(CASE WHEN NOT is_outlier THEN value END), 6) AS kept_max
FROM flagged
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# q151 — SCHEMA EVOLUTION read (mergeSchema): the lake reality no
# static-schema demo covers — a table whose early partitions were
# written BEFORE a column existed.  Two generations of the orders table
# are staged once per source version: gen v1 without o_orderpriority,
# gen v2 with it; `spark.read.option("mergeSchema", true)` reconciles
# the footers into the union schema and the missing column reads as
# NULL for v1 rows (never a default, never an error).  The aggregate
# groups by the evolved column with counts per generation, so the hash
# gate proves both the NULL semantics and that no rows were dropped or
# duplicated across generations.  At 100 TB this is why schema changes
# are append-only column ADDS: readers reconcile footers per file and
# old data is never rewritten.
# ---------------------------------------------------------------------------
def q151_schema_evolution(spark, sf_dir: str) -> DataFrame:
    import os

    from tinymr_spark.sources import (
        load_table,
        staged,
        table_path,
    )

    src = table_path(sf_dir, "orders")

    def build(stage):
        orders = load_table(spark, sf_dir, "orders")
        v1 = orders.where(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        v2 = orders.where(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
        )
        v1.write.mode("overwrite").parquet(os.path.join(stage, "gen=1"))
        v2.write.mode("overwrite").parquet(os.path.join(stage, "gen=2"))

    stage = staged("tinymr_spark_evolve", src, build)
    evolved = (
        spark.read.option("mergeSchema", "true")
        .option("basePath", stage)
        .parquet(os.path.join(stage, "gen=1"), os.path.join(stage, "gen=2"))
    )
    return (
        evolved.groupBy(
            F.coalesce("o_orderpriority", F.lit("<pre-schema>")).alias("priority")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count_distinct("gen").alias("n_generations"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


ORACLE_Q151 = """
WITH evolved AS (
    SELECT o_orderkey, o_totalprice, 1 AS gen, NULL AS o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice, 2, o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 1
)
SELECT COALESCE(o_orderpriority, '<pre-schema>') AS priority,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT gen) AS n_generations,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM evolved
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q150 — shuffle-skew PROFILE: the diagnostic that decides BETWEEN
# q110's a-priori salting and q142's AQE splitting.  Before re-keying a
# 100 TB join you measure how a hash partitioning of the candidate key
# WOULD distribute: bucket every row by an engine-agnostic uniform hash
# of the key (the repo's md5-int60 primitive — Spark's own murmur3 is
# not oracle-reproducible, and a profile needs A uniform hash, not the
# engine's exact one), aggregate per bucket, and report per key the
# bucket count, total, max-bucket load, and the imbalance factor
# max/avg in exact integer permille (uniform ~= 1000; a key where one
# value owns half the rows profiles at ~16000 over 32 buckets).  Both a
# healthy key (l_orderkey) and q142's deliberately collapsed key are
# profiled in one output, so the report demonstrably separates them.
# Scale shape: one map-side-combined aggregation per profiled key —
# shuffle carries at most n_buckets rows per executor.
# ---------------------------------------------------------------------------
SKEW_PROFILE_BUCKETS = 32


def q150_skew_profile(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.operators.text import md5_int60
    from tinymr_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    keys = {
        "l_orderkey": F.col("l_orderkey").cast("string"),
        "collapsed_even": F.when(F.col("l_orderkey") % 2 == 0, F.lit(0))
        .otherwise(F.col("l_orderkey"))
        .cast("string"),
    }
    profiles = []
    for name, expr in keys.items():
        bucket = F.pmod(md5_int60(expr), F.lit(SKEW_PROFILE_BUCKETS))
        per_bucket = (
            li.select(bucket.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        profiles.append(
            per_bucket.agg(
                F.count(F.lit(1)).alias("n_buckets"),
                F.sum("n").cast("bigint").alias("total_rows"),
                F.max("n").alias("max_bucket_rows"),
            ).select(
                F.lit(name).alias("key_name"),
                "n_buckets",
                "total_rows",
                "max_bucket_rows",
                F.expr(
                    "max_bucket_rows * n_buckets * 1000 div total_rows"
                ).alias("imbalance_permille"),
            )
        )
    out = profiles[0]
    for p in profiles[1:]:
        out = out.unionByName(p)
    return out


ORACLE_Q150 = f"""
WITH k AS (
    SELECT CAST(l_orderkey AS VARCHAR) AS key_str, 'l_orderkey' AS key_name
    FROM lineitem
    UNION ALL
    SELECT CAST(CASE WHEN l_orderkey % 2 = 0 THEN 0 ELSE l_orderkey END AS VARCHAR),
           'collapsed_even'
    FROM lineitem
),
b AS (
    SELECT key_name,
           CAST(('0x' || substr(md5(key_str), 1, 15)) AS BIGINT)
               % {SKEW_PROFILE_BUCKETS} AS bucket,
           COUNT(*) AS n
    FROM k GROUP BY 1, 2
)
SELECT key_name, COUNT(*) AS n_buckets,
       CAST(SUM(n) AS BIGINT) AS total_rows,
       MAX(n) AS max_bucket_rows,
       MAX(n) * COUNT(*) * 1000 // CAST(SUM(n) AS BIGINT) AS imbalance_permille
FROM b GROUP BY key_name
"""


# ---------------------------------------------------------------------------
# q112 — HyperLogLog sketch merge (Apache DataSketches via Spark 3.5+
# hll_sketch_agg / hll_union_agg): the mergeable-summary pattern that
# makes COUNT DISTINCT feasible at 100 TB.  Exact distinct needs a
# shuffle of every distinct value; a HLL sketch is a fixed-size (~KB)
# commutative summary, so shards sketch independently and a union of
# sketches equals the sketch of the union.  The query proves that
# algebra on real data: per-source sketches union-merged give the SAME
# estimate as one direct pass (merge_ok), and the estimate lands within
# 5% of the exact count (within_bound).  The oracle computes the exact
# count and literal TRUEs — a driver hash match certifies both claims.
# ---------------------------------------------------------------------------
HLL_REL_ERR = 0.05


def q112_hll_sketch_merge(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split("text", r"\s+")).alias("tok")
    ).where(F.col("tok") != "")
    shard = toks.groupBy("source").agg(F.hll_sketch_agg("tok").alias("sk"))
    merged = shard.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged")
    )
    direct = toks.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("tok")).alias("est_direct"),
        F.count_distinct("tok").alias("exact_distinct"),
    )
    return merged.crossJoin(direct).select(
        "exact_distinct",
        (F.col("est_merged") == F.col("est_direct")).alias("merge_ok"),
        (
            F.abs(F.col("est_merged") - F.col("exact_distinct"))
            / F.col("exact_distinct")
            <= HLL_REL_ERR
        ).alias("within_bound"),
    )


ORACLE_Q112 = r"""
SELECT COUNT(DISTINCT tok) AS exact_distinct,
       TRUE AS merge_ok,
       TRUE AS within_bound
FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS tok FROM documents)
WHERE tok <> ''
"""


# ---------------------------------------------------------------------------
# q113 — bucketed co-located join: the recurring-join layout decision.
# Both fact tables are persisted bucketed AND sorted by the join key, so
# the join planner reads matching buckets pairwise — ZERO exchanges in
# the join plan (tests/test_scale_patterns.py asserts it on these same
# staged tables).  At 100 TB this converts every nightly fact-fact join
# from two full shuffles into a co-located merge; the price is paid once
# at write time.  Both tables are standing indexes (sources.
# standing_index): written once per source version and builder code,
# reused across sessions.
# ---------------------------------------------------------------------------
N_BUCKETS = 8


def q113_bucketed_join(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import load_table, standing_index, table_path

    def bucketed(name: str, key: str) -> DataFrame:
        return standing_index(
            spark, f"q113{name}", [table_path(sf_dir, name)],
            lambda: load_table(spark, sf_dir, name), [key], n_buckets=N_BUCKETS,
        )

    li, orders = bucketed("lineitem", "l_orderkey"), bucketed("orders", "o_orderkey")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("l_quantity").alias("sum_qty"),
        )
    )


ORACLE_Q113 = """
SELECT o_orderstatus, COUNT(*) AS n_items, SUM(l_quantity) AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# q114 — partition-pruned scan: hive-style directory partitioning as a
# query-visible contract.  The events table is staged partitioned by
# event_type; the purchase-only aggregate then never LISTS the other
# four type directories — the scan shows PartitionFilters and reads ~1/5
# of the bytes (tests/test_scale_patterns.py asserts the pruning on this
# same staged layout).  At 100 TB partition pruning is the difference
# between touching a day and touching the archive; the oracle runs the
# same aggregate over the unpartitioned source, proving the layout
# changed nothing but the I/O.
# ---------------------------------------------------------------------------
def _partitioned_events(spark, sf_dir: str) -> str:
    from tinymr_spark.sources import load_table, staged, table_path

    def build(path):
        write_partitioned(load_table(spark, sf_dir, "events"), path, ["event_type"])

    return staged("tinymr_spark_part_events", table_path(sf_dir, "events"), build)


def q114_partition_pruned_scan(spark, sf_dir: str) -> DataFrame:
    path = _partitioned_events(spark, sf_dir)
    ev = spark.read.parquet(path)
    return (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


ORACLE_Q114 = """
SELECT user_id, COUNT(*) AS n_purchases, ROUND(SUM(value), 2) AS total_value
FROM events
WHERE event_type = 'purchase'
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# q117 — table content fingerprint: the anti-entropy primitive of a
# replicated/migrated lake.  Comparing two copies of a 100 TB table
# row-by-row costs a full cross-cluster join; comparing per-shard
# (n_rows, XOR-of-row-hashes) costs one scan each side and a KB of
# output.  XOR is commutative, associative, and self-inverse, so the
# fingerprint is independent of row order AND partitioning — identical
# copies agree no matter how they're laid out — and any single-row
# divergence flips it.  Row hash = md5 over a canonical '|'-joined
# projection, reduced to a 60-bit int (same cross-engine reduction as
# the dedup family), so the oracle recomputes the identical fingerprint.
# ---------------------------------------------------------------------------
def doc_row_hash() -> Column:
    """Canonical 60-bit content hash of a documents row.  NULLs serialize
    as an explicit token: concat_ws SKIPS nulls, which would both diverge
    from the oracle's NULL-propagating '||' and make (a, NULL, b) collide
    with (a, b, NULL) — a divergence the fingerprint exists to catch."""
    fields = [
        F.coalesce(c.cast("string"), F.lit("\x00NULL"))
        for c in (
            F.col("doc_id"),
            F.col("text"),
            F.col("lang"),
            F.col("source"),
            F.col("n_chars"),
        )
    ]
    return F.conv(
        F.substring(F.md5(F.concat_ws("|", *fields)), 1, 15), 16, 10
    ).cast("bigint")


def q117_table_fingerprint(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("source", doc_row_hash().alias("rh"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_rows"),
            F.bit_xor("rh").alias("xor_fp"),
        )
    )


ORACLE_Q117 = """
SELECT source, COUNT(*) AS n_rows,
       BIT_XOR(CAST(('0x' || substr(md5(
           COALESCE(CAST(doc_id AS VARCHAR), chr(0) || 'NULL') || '|' ||
           COALESCE(text, chr(0) || 'NULL') || '|' ||
           COALESCE(lang, chr(0) || 'NULL') || '|' ||
           COALESCE(source, chr(0) || 'NULL') || '|' ||
           COALESCE(CAST(n_chars AS VARCHAR), chr(0) || 'NULL')), 1, 15)) AS BIGINT)) AS xor_fp
FROM documents
GROUP BY source
"""


# ---------------------------------------------------------------------------
# q131 — mergeable HISTOGRAM quantile sketch: the deterministic 100 TB
# quantile answer.  Exact percentiles (q21) need a global sort or a full
# value shuffle; percentile_approx's t-digest is engine-internal and not
# reproducible across engines.  A fixed-width histogram is both: per-
# shard partial histograms are plain counters, merging is addition
# (exact, order-independent), and any quantile reads off the cumulative
# counts with bounded error = bin width.  The query proves the
# mergeability contract the way q107 does for MinHash and q112 for HLL:
# shard-partial histograms merged == the direct single-pass histogram,
# per bin, with the cumulative count alongside (the quantile lookup
# table).  The cumulative window runs over NBINS=32 rows — bounded by
# construction, the q103 rule.
# ---------------------------------------------------------------------------
HIST_BIN_W = 20.0
HIST_NBINS = 32
HIST_SHARDS = 4


def q131_histogram_quantiles(spark, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from tinymr_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    bin_ = F.least(
        F.floor(F.col("value") / HIST_BIN_W), F.lit(HIST_NBINS - 1)
    ).cast("int")
    rows = ev.select(
        bin_.alias("bin"), F.pmod(F.col("event_id"), F.lit(HIST_SHARDS)).alias("shard")
    )
    direct = rows.groupBy("bin").agg(F.count("*").alias("n_direct"))
    merged = (
        rows.groupBy("shard", "bin")
        .agg(F.count("*").alias("pn"))
        .groupBy("bin")
        .agg(F.sum("pn").alias("n_merged"))
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    return (
        direct.join(merged, "bin")
        .select(
            "bin",
            F.round(F.col("bin") * HIST_BIN_W, 2).alias("lo"),
            F.round((F.col("bin") + 1) * HIST_BIN_W, 2).alias("hi"),
            F.col("n_merged").alias("n"),
            (F.col("n_merged") == F.col("n_direct")).alias("merge_ok"),
        )
        .withColumn("cum_n", F.sum("n").over(w))
    )


ORACLE_Q131 = f"""
WITH rows_ AS (
    SELECT CAST(LEAST(FLOOR(value / {HIST_BIN_W}), {HIST_NBINS - 1}) AS INT) AS bin,
           event_id % {HIST_SHARDS} AS shard
    FROM events
),
direct AS (SELECT bin, COUNT(*) AS n_direct FROM rows_ GROUP BY 1),
merged AS (
    SELECT bin, SUM(pn) AS n_merged
    FROM (SELECT shard, bin, COUNT(*) AS pn FROM rows_ GROUP BY 1, 2)
    GROUP BY 1
)
SELECT d.bin,
       ROUND(d.bin * CAST({HIST_BIN_W} AS DOUBLE), 2) AS lo,
       ROUND((d.bin + 1) * CAST({HIST_BIN_W} AS DOUBLE), 2) AS hi,
       CAST(m.n_merged AS BIGINT) AS n,
       m.n_merged = d.n_direct AS merge_ok,
       CAST(SUM(m.n_merged) OVER (ORDER BY d.bin
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n
FROM direct d JOIN merged m USING (bin)
"""


# ---------------------------------------------------------------------------
# q132 — count-min sketch: mergeable heavy-hitter FREQUENCY estimation,
# rounding out the sketch family (HLL q112 = cardinality, MinHash q107 =
# similarity, histogram q131 = quantiles).  D=4 universal hash rows x
# W=64 counters; every counter is a plain sum, so per-shard sketches
# merge by addition (exact) and the whole build is one map-side-combined
# aggregation producing D*W rows — fixed size regardless of corpus
# scale.  Estimates read min over rows of counter[d][h_d(token)] and are
# provably >= the true count (collisions only ADD) — the query emits
# est/exact side by side for every token in the corpus so the
# overestimate property is hash-checked, not asserted.  Hashes reuse the
# md5-reduced token value (cross-engine-identical, the dedup-family
# reduction).
# ---------------------------------------------------------------------------
CM_W = 64
CM_SEEDS = [(1103515245, 12345), (1664525, 1013904223),
            (22695477, 1), (69069, 362437)]
_CM_P = 2147483647


def q132_countmin_sketch(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.operators.text import _tokens, md5_int60
    from tinymr_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    hm = (md5_int60(F.col("tok")) % _CM_P).alias("hm")
    toks = docs.select(F.explode(_tokens(F.col("text"))).alias("tok")).select(
        "tok", hm
    )
    cols = [
        ((F.lit(a) * F.col("hm") + F.lit(b)) % _CM_P % CM_W).alias(f"c{d}")
        for d, (a, b) in enumerate(CM_SEEDS)
    ]
    hashed = toks.select("tok", *cols)
    # TWO corpus passes total, not 1+D: one pass builds ALL D sketch
    # rows (explode each token into its (row, counter) coordinates —
    # the result is D*W <= 256 rows), one pass builds the exact counts.
    # The estimate then MELTS the exact side into (tok, d, c) rows and
    # takes the min matched counter in ONE broadcast join + one
    # vocab-sized aggregation; joining D filtered slices of the sketch
    # instead would plant the sketch subtree (and its corpus scan) D
    # times in the plan.
    coords = F.posexplode(
        F.array(*[F.col(f"c{d}") for d in range(len(CM_SEEDS))])
    ).alias("d", "c")
    sketch = hashed.select(coords).groupBy("d", "c").agg(F.count("*").alias("n"))
    exact = hashed.groupBy("tok", *[f"c{d}" for d in range(len(CM_SEEDS))]).agg(
        F.count("*").alias("exact_n")
    )
    melted = exact.select("tok", "exact_n", coords)
    return (
        melted.join(F.broadcast(sketch), ["d", "c"])
        .groupBy("tok")
        .agg(
            F.min("exact_n").alias("exact_n"),
            F.min("n").alias("est_n"),
        )
        .select(
            "tok",
            "exact_n",
            "est_n",
            (F.col("est_n") >= F.col("exact_n")).alias("never_under"),
        )
    )


_CM_COLS_SQL = ", ".join(
    f"(({a} * hm + {b}) % {_CM_P}) % {CM_W} AS c{d}"
    for d, (a, b) in enumerate(CM_SEEDS)
)
_CM_JOIN_SQL = " ".join(
    f"JOIN (SELECT c{d}, COUNT(*) AS n{d} FROM hashed GROUP BY 1) s{d} USING (c{d})"
    for d in range(len(CM_SEEDS))
)

ORACLE_Q132 = rf"""
WITH toks AS (
    SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
    FROM documents
),
hm AS (
    SELECT tok,
           CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % {_CM_P} AS hm
    FROM toks
),
hashed AS (SELECT tok, {_CM_COLS_SQL} FROM hm),
exact AS (
    SELECT tok, c0, c1, c2, c3, COUNT(*) AS exact_n
    FROM hashed GROUP BY 1, 2, 3, 4, 5
)
SELECT e.tok, e.exact_n,
       LEAST(s0.n0, s1.n1, s2.n2, s3.n3) AS est_n,
       LEAST(s0.n0, s1.n1, s2.n2, s3.n3) >= e.exact_n AS never_under
FROM exact e {_CM_JOIN_SQL}
"""


# ---------------------------------------------------------------------------
# q134 — Bloom-filter semi-join pruning: the runtime-filter pattern that
# saves a 100 TB shuffle.  A semi join against a selective build side
# normally shuffles the ENTIRE probe side; shipping a KB-scale bloom
# filter of the build keys to the probe scan instead prunes most rows
# before any exchange (what Spark's runtime bloom-filter pushdown and
# every warehouse's RF do internally — rebuilt here explicitly so the
# structure itself is oracle-checkable).  The filter is SIZED FROM THE
# BUILD CARDINALITY — ~10 bits per key via the integer-exact formula
# nbits = ((n_keys*10) div 63 + 1) * 63, computed in-plan as a 1-row
# broadcast (a fixed size saturates as the build side grows: at sf0.1's
# 1393 keys a hard-coded 1008-bit filter is ~98% full and prunes
# nothing).  K=3 md5-derived universal hashes -> FP ~1.7% at 10
# bits/key at EVERY scale; build is one aggregation (bit_or of
# single-bit masks per word), probe checks its K (word, mask)
# coordinates against the broadcast filter.  Output classifies every
# probe key: pruned (bloom says definitely-absent), false_positive
# (bloom passes, true semi join says absent — the measured FP rate), or
# passes_and_matches.  'missed' (member but pruned) is structurally
# impossible — no false negatives — and tests assert it never appears.
# Bit 63 is unused: DuckDB's `<<` throws on 1<<63, so each word carries
# 63 usable bits.
# ---------------------------------------------------------------------------
BLOOM_BITS_PER_WORD = 63
BLOOM_BITS_PER_KEY = 10
BLOOM_SEEDS = [(1103515245, 12345), (1664525, 1013904223), (22695477, 1)]
BLOOM_PRICE_MIN = 495000.0  # ~p99 per order -> ~10% of customers are members
_BLOOM_NBITS = (
    f"((nk * {BLOOM_BITS_PER_KEY}) div {BLOOM_BITS_PER_WORD} + 1)"
    f" * {BLOOM_BITS_PER_WORD}"
)


def _bloom_hm(key: Column) -> Column:
    from tinymr_spark.operators.text import md5_int60

    return md5_int60(key.cast("string")) % _CM_P


def q134_bloom_semi_join(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    build = (
        orders.where(F.col("o_totalprice") > BLOOM_PRICE_MIN)
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )

    params = build.agg(F.count("*").alias("nk"))

    def coords(df):
        pos = [
            F.expr(f"(({a} * hm + {b}) % {_CM_P}) % ({_BLOOM_NBITS})").alias(
                f"p{i}"
            )
            for i, (a, b) in enumerate(BLOOM_SEEDS)
        ]
        structs = F.array(
            *[
                F.struct(
                    F.expr(f"cast(p{i} div {BLOOM_BITS_PER_WORD} as int)").alias(
                        "word"
                    ),
                    # expr form: the shiftleft() Python wrapper only takes a
                    # literal shift, the SQL builtin takes a column
                    F.expr(
                        f"shiftleft(cast(1 as bigint), "
                        f"cast(p{i} % {BLOOM_BITS_PER_WORD} as int))"
                    ).alias("mask"),
                )
                for i in range(len(BLOOM_SEEDS))
            ]
        )
        return (
            df.crossJoin(F.broadcast(params))
            .withColumn("hm", _bloom_hm(F.col("k")))
            .select("k", *pos)
            .select("k", F.explode(structs).alias("s"))
            .select("k", F.col("s.word").alias("word"), F.col("s.mask").alias("mask"))
        )

    bloom = coords(build).groupBy("word").agg(F.bit_or("mask").alias("bits"))
    probe = customer.select(F.col("c_custkey").alias("k"))
    checked = (
        coords(probe)
        .join(F.broadcast(bloom), "word", "left")
        .groupBy("k")
        .agg(
            (
                F.sum(
                    (
                        (
                            F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(
                                F.col("mask")
                            )
                        )
                        == F.col("mask")
                    ).cast("int")
                )
                == len(BLOOM_SEEDS)
            ).alias("bloom_pass")
        )
    )
    member = build.withColumn("is_member", F.lit(True))
    status = (
        F.when(~F.col("bloom_pass") & F.col("is_member"), F.lit("missed"))
        .when(~F.col("bloom_pass"), F.lit("pruned"))
        .when(F.col("is_member"), F.lit("passes_and_matches"))
        .otherwise(F.lit("false_positive"))
    )
    return (
        checked.join(member, "k", "left")
        .withColumn("is_member", F.coalesce("is_member", F.lit(False)))
        .groupBy(status.alias("status"))
        .agg(F.count("*").alias("n_keys"), F.min("k").alias("min_key"))
    )


_BLOOM_NBITS_SQL = (
    f"((nk * {BLOOM_BITS_PER_KEY}) // {BLOOM_BITS_PER_WORD} + 1)"
    f" * {BLOOM_BITS_PER_WORD}"
)
_BLOOM_POS_SQL = ", ".join(
    f"(({a} * hm + {b}) % {_CM_P}) % ({_BLOOM_NBITS_SQL}) AS p{i}"
    for i, (a, b) in enumerate(BLOOM_SEEDS)
)
_BLOOM_COORD_UNION = " UNION ALL ".join(
    f"SELECT k, CAST(p{i} // {BLOOM_BITS_PER_WORD} AS INT) AS word, "
    f"CAST(1 AS BIGINT) << CAST(p{i} % {BLOOM_BITS_PER_WORD} AS INT) AS mask "
    f"FROM POSED"
    for i in range(len(BLOOM_SEEDS))
)

ORACLE_Q134 = f"""
WITH build AS (
    SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > {BLOOM_PRICE_MIN}
),
params AS (SELECT COUNT(*) AS nk FROM build),
bhm AS (
    SELECT k, CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) % {_CM_P} AS hm
    FROM build
),
bpos AS (SELECT k, {_BLOOM_POS_SQL} FROM bhm, params),
bcoords AS ({_BLOOM_COORD_UNION.replace("POSED", "bpos")}),
bloom AS (SELECT word, BIT_OR(mask) AS bits FROM bcoords GROUP BY 1),
probe AS (SELECT c_custkey AS k FROM customer),
phm AS (
    SELECT k, CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) % {_CM_P} AS hm
    FROM probe
),
ppos AS (SELECT k, {_BLOOM_POS_SQL} FROM phm, params),
pcoords AS ({_BLOOM_COORD_UNION.replace("POSED", "ppos")}),
checked AS (
    SELECT p.k,
           SUM(CASE WHEN (COALESCE(b.bits, 0) & p.mask) = p.mask THEN 1 ELSE 0 END)
               = {len(BLOOM_SEEDS)} AS bloom_pass
    FROM pcoords p LEFT JOIN bloom b USING (word)
    GROUP BY p.k
),
classified AS (
    SELECT c.k,
           CASE WHEN NOT c.bloom_pass AND bu.k IS NOT NULL THEN 'missed'
                WHEN NOT c.bloom_pass THEN 'pruned'
                WHEN bu.k IS NOT NULL THEN 'passes_and_matches'
                ELSE 'false_positive' END AS status
    FROM checked c LEFT JOIN build bu ON c.k = bu.k
)
SELECT status, COUNT(*) AS n_keys, MIN(k) AS min_key
FROM classified
GROUP BY status
"""


# ---------------------------------------------------------------------------
# q133 — snapshot diff: q117's fingerprint says two table versions
# DIVERGED; this localizes the divergence — the added/removed/changed
# accounting every lake migration and replication job reports.  Two
# corpus snapshots are derived deterministically from `documents` (the
# "old" snapshot lacks every 11th doc; the "new" one drops every 17th
# and carries an edit to every 13th), then diffed by a full-outer join
# on doc_id comparing the
# canonical row hash — content comparison costs one 60-bit int per row,
# not the full row.  Output is the per-status summary (n, id range) a
# migration report shows; at 100 TB both sides shuffle once on doc_id
# and everything else is the one aggregation.
# ---------------------------------------------------------------------------
def q133_snapshot_diff(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    old = docs.where(F.pmod(F.col("doc_id"), F.lit(11)) != 0)
    new = docs.where(F.pmod(F.col("doc_id"), F.lit(17)) != 0).withColumn(
        "text",
        F.when(
            F.pmod(F.col("doc_id"), F.lit(13)) == 0,
            F.concat(F.col("text"), F.lit(" EDITED")),
        ).otherwise(F.col("text")),
    )
    oh = old.select(F.col("doc_id"), doc_row_hash().alias("old_h"))
    nh = new.select(F.col("doc_id"), doc_row_hash().alias("new_h"))
    status = (
        F.when(F.col("old_h").isNull(), F.lit("added"))
        .when(F.col("new_h").isNull(), F.lit("removed"))
        .when(F.col("old_h") != F.col("new_h"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        oh.join(nh, "doc_id", "full_outer")
        .select("doc_id", status.alias("status"))
        .groupBy("status")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


_Q133_HASH_OLD = ORACLE_Q117[
    ORACLE_Q117.index("BIT_XOR(") + len("BIT_XOR(") : ORACLE_Q117.index(") AS xor_fp")
]

ORACLE_Q133 = f"""
WITH old_ AS (
    SELECT doc_id, {_Q133_HASH_OLD} AS h
    FROM documents WHERE doc_id % 11 <> 0
),
new_base AS (
    SELECT doc_id,
           CASE WHEN doc_id % 13 = 0 THEN text || ' EDITED' ELSE text END AS text,
           lang, source, n_chars
    FROM documents WHERE doc_id % 17 <> 0
),
new_ AS (
    SELECT doc_id, {_Q133_HASH_OLD} AS h
    FROM new_base
),
diff AS (
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.h IS NULL THEN 'added'
                WHEN n.h IS NULL THEN 'removed'
                WHEN o.h <> n.h THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM old_ o FULL OUTER JOIN new_ n ON o.doc_id = n.doc_id
)
SELECT status, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM diff
GROUP BY status
"""


# ---------------------------------------------------------------------------
# q148 — declarative data-quality constraint suite (the Deequ/Great-
# Expectations pattern): a lake ingests nothing without a validation
# report, and the report must cost ONE aggregation pass per table plus
# one join per referential rule — never a pass per constraint.  Five
# constraint families over orders/lineitem, each a row of
# (constraint, metric, passed): completeness (null fraction),
# uniqueness (distinct/count on the key), range (l_discount in
# [0, 0.1]), accepted values (l_returnflag in A/N/R), and referential
# integrity (every l_orderkey resolves in orders — a LEFT ANTI count,
# the only rule needing a join).  All metrics are exact ratios of
# bigint counts (same IEEE division in both engines — no rounding
# needed); `passed` re-derives from the metric so the report cannot
# contradict itself.  Scale shape: constraint evaluation COMPOSES into
# the minimum passes (two table aggs + one anti join) regardless of how
# many rules are declared per table.
# ---------------------------------------------------------------------------
def q148_quality_constraints(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    li_agg = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("l_discount").alias("n_disc"),  # count() skips nulls
        F.sum(
            F.when(
                (F.col("l_discount") >= 0) & (F.col("l_discount") <= 0.1), 1
            ).otherwise(0)
        ).alias("n_disc_in_range"),
        F.sum(
            F.when(F.col("l_returnflag").isin("A", "N", "R"), 1).otherwise(0)
        ).alias("n_flag_ok"),
        # a deliberately violated rule: proves the report carries real
        # measured fractions and FAILED verdicts, not vacuous 1.0s
        F.sum(
            F.when(F.col("l_quantity") <= 25, 1).otherwise(0)
        ).alias("n_qty_le25"),
    )
    o_agg = orders.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count("o_orderkey").alias("n_key"),
        F.count_distinct("o_orderkey").alias("n_key_distinct"),
    )
    n_orphans = (
        li.select("l_orderkey")
        .join(orders.select("o_orderkey"),
              F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("n_orphan"))
    )
    m = li_agg.crossJoin(o_agg).crossJoin(n_orphans)

    def rule(name, metric, threshold=1.0):
        return m.select(
            F.lit(name).alias("rule_name"),
            metric.cast("double").alias("metric"),
            (metric >= threshold).alias("passed"),
        )

    return (
        rule("completeness(o_orderkey)", F.col("n_key") / F.col("n_orders"))
        .unionByName(
            rule("uniqueness(o_orderkey)", F.col("n_key_distinct") / F.col("n_key"))
        )
        .unionByName(
            rule("range(l_discount,[0,0.1])", F.col("n_disc_in_range") / F.col("n_disc"))
        )
        .unionByName(
            rule("accepted(l_returnflag,{A,N,R})", F.col("n_flag_ok") / F.col("n"))
        )
        .unionByName(
            rule("referential(l_orderkey->orders)", 1 - F.col("n_orphan") / F.col("n"))
        )
        .unionByName(
            rule("range(l_quantity,<=25)", F.col("n_qty_le25") / F.col("n"))
        )
    )


ORACLE_Q148 = """
WITH li AS (
    SELECT COUNT(*) AS n,
           COUNT(l_discount) AS n_disc,
           SUM(CASE WHEN l_discount >= 0 AND l_discount <= 0.1 THEN 1 ELSE 0 END) AS n_disc_in_range,
           SUM(CASE WHEN l_returnflag IN ('A','N','R') THEN 1 ELSE 0 END) AS n_flag_ok,
           SUM(CASE WHEN l_quantity <= 25 THEN 1 ELSE 0 END) AS n_qty_le25
    FROM lineitem
),
o AS (
    SELECT COUNT(*) AS n_orders, COUNT(o_orderkey) AS n_key,
           COUNT(DISTINCT o_orderkey) AS n_key_distinct
    FROM orders
),
orph AS (
    SELECT COUNT(*) AS n_orphan
    FROM lineitem l LEFT JOIN orders og ON l.l_orderkey = og.o_orderkey
    WHERE og.o_orderkey IS NULL
),
m AS (SELECT * FROM li, o, orph)
SELECT 'completeness(o_orderkey)' AS rule_name,
       CAST(n_key AS DOUBLE) / n_orders AS metric,
       CAST(n_key AS DOUBLE) / n_orders >= 1.0 AS passed FROM m
UNION ALL
SELECT 'uniqueness(o_orderkey)',
       CAST(n_key_distinct AS DOUBLE) / n_key,
       CAST(n_key_distinct AS DOUBLE) / n_key >= 1.0 FROM m
UNION ALL
SELECT 'range(l_discount,[0,0.1])',
       CAST(n_disc_in_range AS DOUBLE) / n_disc,
       CAST(n_disc_in_range AS DOUBLE) / n_disc >= 1.0 FROM m
UNION ALL
SELECT 'accepted(l_returnflag,{A,N,R})',
       CAST(n_flag_ok AS DOUBLE) / n,
       CAST(n_flag_ok AS DOUBLE) / n >= 1.0 FROM m
UNION ALL
SELECT 'referential(l_orderkey->orders)',
       1 - CAST(n_orphan AS DOUBLE) / n,
       1 - CAST(n_orphan AS DOUBLE) / n >= 1.0 FROM m
UNION ALL
SELECT 'range(l_quantity,<=25)',
       CAST(n_qty_le25 AS DOUBLE) / n,
       CAST(n_qty_le25 AS DOUBLE) / n >= 1.0 FROM m
"""


# ---------------------------------------------------------------------------
# q128 — observe()/Observation metrics: pipeline instrumentation that
# rides the SAME pass as the work.  A 100 TB job must account for what
# it scanned and dropped (rows in, value mass, per-class counts) — and a
# second aggregation pass to find out doubles the job.  observe()
# attaches accumulator-style aggregates to a point IN the plan
# (collected on the driver via the query-execution listener when any
# action runs), so the audit numbers are measured on the pre-filter
# stream at zero extra cost.  In production the sink write is the action
# the metrics piggyback on; here the driver collects the returned
# DataFrame separately, so the pipeline runs a pilot action to surface
# the metrics and caches the finished result per corpus version (same
# lifecycle policy as the q46 group table) — repeat calls are free.
# The decimal cast keeps the observed value mass reduction-order-exact
# (q109's trick), so the metrics hash-match the oracle bit-for-bit.
# ---------------------------------------------------------------------------
def q128_observe_metrics(spark, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql import Observation

    from tinymr_spark.sources import file_version, load_table, session_cache

    cache = session_cache(spark, "_tinymr_observe_cache")
    key = (sf_dir, file_version(os.path.join(sf_dir, "events.parquet")))
    if key not in cache:
        ev = load_table(spark, sf_dir, "events")
        obs = Observation()
        observed = ev.observe(
            obs,
            F.count(F.lit(1)).alias("n_scanned"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("value_scanned"),
            F.count_if(F.col("event_type") == "purchase").alias("n_purchases"),
        )
        out = (
            observed.where(F.col("event_type") != "view")
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_value"),
            )
            .persist()
        )
        out.count()  # the pilot action that materializes out + fills obs
        m = obs.get
        for stale in [k for k in cache if k[0] == sf_dir and k != key]:
            cache.pop(stale)[1].unpersist()
        cache[key] = (
            out.select(
                "event_type",
                "n",
                "total_value",
                F.lit(m["n_scanned"]).cast("long").alias("n_scanned"),
                F.lit(float(m["value_scanned"])).alias("value_scanned"),
                F.lit(m["n_purchases"]).cast("long").alias("n_purchases"),
            ),
            out,
        )
    return cache[key][0]


ORACLE_Q128 = """
WITH m AS (
    SELECT COUNT(*) AS n_scanned,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_scanned,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases
    FROM events
),
g AS (
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events WHERE event_type <> 'view'
    GROUP BY 1
)
SELECT g.event_type, g.n, g.total_value, m.n_scanned, m.value_scanned, m.n_purchases
FROM g, m
"""


# ---------------------------------------------------------------------------
# q135 — ORC source/sink round trip: the second columnar format of the
# lake world (Hive/Trino shops standardize on ORC the way Spark shops
# do parquet; a migration engine must read both).  The query stages the
# orders table as ORC once per source version (same freshness keying as
# every staged artifact), reads it back through Spark's built-in ORC
# scan — predicate pushdown and column pruning work the same as parquet
# and the plan tests' assertions apply — and aggregates FROM THE ORC
# COPY; the oracle computes from the original parquet, so the hash gate
# proves the format round trip preserved every row and value bit-exactly.
# ---------------------------------------------------------------------------
def _staged_format_copy(spark, sf_dir: str, table: str, fmt: str, write) -> str:
    """Stage `table` in a foreign format once per SOURCE VERSION (the
    freshness key every staged artifact uses) and return the directory;
    `write(df, dir)` does the format-specific write.  Superseded source
    versions' staged copies are pruned by `staged`."""
    from tinymr_spark.sources import (
        load_table,
        staged,
        table_path,
    )

    src = table_path(sf_dir, table)

    def build(stage):
        write(load_table(spark, sf_dir, table), stage)

    return staged(f"tinymr_spark_{fmt}", src, build)


def q135_orc_source(spark, sf_dir: str) -> DataFrame:
    stage = _staged_format_copy(
        spark, sf_dir, "orders", "orc",
        lambda df, d: df.write.mode("overwrite").orc(d),
    )
    orders = spark.read.orc(stage)
    return (
        orders.where(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
            F.min("o_orderdate").alias("first_date"),
            F.max("o_orderdate").alias("last_date"),
        )
    )


ORACLE_Q135 = """
SELECT o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
       MIN(o_orderdate) AS first_date,
       MAX(o_orderdate) AS last_date
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# q137 — XML source/sink round trip (Spark 4 ships the former spark-xml
# as a built-in format): the interchange format of enterprise feeds and
# document archives.  Same contract as the ORC trip (q135): stage the
# part table as XML once per source version, read it back through the
# built-in reader (rowTag row discipline, schema re-declared explicitly
# — XML carries no types), aggregate FROM THE XML COPY against a
# parquet-derived oracle, so the hash gate proves parse fidelity —
# numerics, strings, and escaping — end to end.
# ---------------------------------------------------------------------------
def q137_xml_source(spark, sf_dir: str) -> DataFrame:
    stage = _staged_format_copy(
        spark, sf_dir, "part", "xml",
        lambda df, d: df.write.mode("overwrite")
        .format("xml")
        .option("rowTag", "part")
        .save(d),
    )
    part = (
        spark.read.format("xml")
        .option("rowTag", "part")
        .schema(
            "p_partkey bigint, p_name string, p_brand string, "
            "p_type string, p_size int, p_retailprice double"
        )
        .load(stage)
    )
    return (
        part.groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("p_size").cast("bigint").alias("total_size"),
            F.sum(F.col("p_retailprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
            F.min("p_name").alias("first_name"),
        )
    )


ORACLE_Q137 = """
SELECT p_brand, COUNT(*) AS n_parts,
       CAST(SUM(p_size) AS BIGINT) AS total_size,
       CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
       MIN(p_name) AS first_name
FROM part
GROUP BY p_brand
"""


# ---------------------------------------------------------------------------
# q141 — AVRO round trip through the `tinyavro` Python DataSource
# (sources/tinyavro.py): the last mainstream lake format after
# parquet/ORC/XML, and the only one this environment ships NO engine
# for (no spark-avro jar, no Python avro lib) — so the engine carries a
# minimal spec-compliant Object Container File codec behind a custom
# format that exercises BOTH halves of the Spark 4 Python DataSource
# API: partition-parallel executor-side writes (one container file per
# task, driver commit publishes a manifest so failed-task orphans stay
# invisible) and partition-per-file executor-side reads.  The customer
# table (all-primitive columns) is staged as Avro once per source
# version; the aggregate computes FROM THE AVRO COPY while the oracle
# computes from the original parquet, so the hash gate proves the
# format round-tripped every row and value bit-exactly.  Decimal-summed
# acctbal keeps the money total order-independent across engines.
# ---------------------------------------------------------------------------
def q141_avro_source(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import tinyavro

    tinyavro.register(spark)
    stage = _staged_format_copy(
        spark, sf_dir, "customer", "avro",
        lambda df, d: df.write.mode("overwrite").format("tinyavro").save(d),
    )
    cust = spark.read.format("tinyavro").load(stage)
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_acctbal"),
            F.count_distinct("c_nationkey").alias("n_nations"),
            F.min("c_custkey").alias("first_cust"),
            F.max("c_custkey").alias("last_cust"),
        )
    )


ORACLE_Q141 = """
SELECT c_mktsegment, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal,
       COUNT(DISTINCT c_nationkey) AS n_nations,
       MIN(c_custkey) AS first_cust,
       MAX(c_custkey) AS last_cust
FROM customer
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# q121 — custom Python DataSource read (Spark 4 pyspark.sql.datasource):
# `spark.read.format("synthevents")` backed by plain Python, partition-
# parallel.  The source is deterministic (each row a pure function of
# its row id — sources/pydatasource.py), so DuckDB reproduces the whole
# table from generate_series and the oracle verifies the format end to
# end: registration, partition planning, executor-side generation, and
# the aggregate over it.  Integer cents keep the money sum exact.
# ---------------------------------------------------------------------------
PYDS_ROWS, PYDS_PARTS = 20_000, 8


def q121_python_datasource(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import pydatasource

    pydatasource.register(spark)
    ev = (
        spark.read.format("synthevents")
        .option("rows", str(PYDS_ROWS))
        .option("partitions", str(PYDS_PARTS))
        .load()
    )
    return ev.groupBy("kind").agg(
        F.count("*").alias("n"),
        F.sum("amount_cents").cast("bigint").alias("total_cents"),
        F.count_distinct("user_id").alias("n_users"),
    )


ORACLE_Q121 = f"""
WITH ev AS (
    SELECT rid AS row_id,
           (rid * {2_654_435_761}) % {1_000} AS user_id,
           ['view', 'click', 'purchase', 'signup', 'error'][rid % 5 + 1] AS kind,
           (rid * 97) % {10_000} AS amount_cents
    FROM (SELECT UNNEST(range(0, {PYDS_ROWS})) AS rid)
)
SELECT kind, COUNT(*) AS n,
       CAST(SUM(amount_cents) AS BIGINT) AS total_cents,
       COUNT(DISTINCT user_id) AS n_users
FROM ev
GROUP BY kind
"""


# ---------------------------------------------------------------------------
# q144 — FILTER PUSHDOWN into the Python DataSource (Spark 4.1
# `pushFilters`, gated by spark.sql.python.filterPushdown.enabled —
# session.py): the reader natively evaluates row_id range bounds and
# kind equality/IN by inverting its own row->value mapping, so pushed
# predicates shrink GENERATION (each partition walks only the matching
# rid range and skips non-matching kinds by modulus before building the
# row) — the same contract a database/API source implements, here on a
# source whose pushdown is exactly verifiable.  Residual predicates
# (user_id math) are returned to Spark per the API.  The oracle applies
# the same predicates in SQL over the reproduced row sequence, so the
# hash gate proves the pushed filters DROP exactly the right rows — a
# wrongly-inverted bound would change the aggregate.
# tests/test_sources_sinks.py additionally asserts reader-level
# semantics: which filters are retained vs absorbed, and that read()
# yields only matching rows.
# ---------------------------------------------------------------------------
Q144_LO, Q144_HI = 5_000, 15_000


def q144_pushdown_datasource(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import pydatasource

    pydatasource.register(spark)
    ev = (
        spark.read.format("synthevents")
        .option("rows", str(PYDS_ROWS))
        .option("partitions", str(PYDS_PARTS))
        .load()
    )
    return (
        ev.where(
            F.col("kind").isin("purchase", "error")
            & (F.col("row_id") >= Q144_LO)
            & (F.col("row_id") < Q144_HI)
            & (F.col("user_id") % 3 == 0)  # NOT pushable: Spark evaluates
        )
        .groupBy("kind")
        .agg(
            F.count("*").alias("n"),
            F.sum("amount_cents").cast("bigint").alias("total_cents"),
            F.min("row_id").alias("first_row"),
            F.max("row_id").alias("last_row"),
        )
    )


ORACLE_Q144 = f"""
WITH ev AS (
    SELECT rid AS row_id,
           (rid * {2_654_435_761}) % {1_000} AS user_id,
           ['view', 'click', 'purchase', 'signup', 'error'][rid % 5 + 1] AS kind,
           (rid * 97) % {10_000} AS amount_cents
    FROM (SELECT UNNEST(range(0, {PYDS_ROWS})) AS rid)
)
SELECT kind, COUNT(*) AS n,
       CAST(SUM(amount_cents) AS BIGINT) AS total_cents,
       MIN(row_id) AS first_row,
       MAX(row_id) AS last_row
FROM ev
WHERE kind IN ('purchase', 'error')
  AND row_id >= {Q144_LO} AND row_id < {Q144_HI}
  AND user_id % 3 = 0
GROUP BY kind
"""


# ---------------------------------------------------------------------------
# q160 — deterministic WEIGHTED sampling (PPS systematic sampling):
# draw ~K documents with probability proportional to size (n_chars),
# the curation step behind quality-weighted subsampling of a corpus.
# Unlike rand()-based sampling this is row-pure and replica-identical
# (q116's determinism argument), and unlike q27/q102's hash-threshold
# draws the inclusion probability here is WEIGHT-proportional: lay the
# documents end to end on the cumulative-weight axis (doc_id order),
# drop a grid of K evenly spaced points (step = total div K, first point
# at step div 2), and select every document whose weight interval
# contains a grid point — a document with w > step is selected with
# multiplicity (n_hits), the classic PPS-with-replacement accounting.
#
# Scale shape: the global cumulative sum is TWO-PHASE (q101's pattern
# generalized to a global axis): a within-shard window over contiguous
# doc_id ranges (doc_id div 1024) plus a shard-offset window over the
# SHARD COUNT (thousands of rows at 100 TB, never the corpus), with
# offsets and the 1-row total broadcast back — one corpus pass, no
# global sort.  EVERY quantity is exact int64 and every division is on
# provably non-negative operands, sidestepping the Spark-trunc vs
# DuckDB-floor integer-division divergence on negatives: the grid-count
# function g(x) = (x - offset + step) div step is written so its
# argument stays positive for all x >= 0 (offset < step).
# ---------------------------------------------------------------------------
PPS_K = 37  # target sample size (grid points)
PPS_SPAN = 1024  # contiguous doc_id range per cumsum shard


def q160_weighted_sample(spark, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from tinymr_spark.sources import load_table

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.col("n_chars").cast("bigint").alias("w"))
        .where(F.col("w") > 0)
    )
    part = docs.withColumn("shard", F.floor(F.col("doc_id") / PPS_SPAN))
    w_in = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = part.withColumn("cum_in", F.sum("w").over(w_in))
    offs = (
        part.groupBy("shard")
        .agg(F.sum("w").alias("stot"))
        .withColumn(
            "off",
            F.coalesce(
                F.sum("stot").over(
                    Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("shard", "off")
    )
    tot = docs.agg(F.sum("w").alias("total"))
    return (
        local.join(F.broadcast(offs), "shard")
        .crossJoin(F.broadcast(tot))
        .withColumn("step", F.greatest(F.expr(f"total div {PPS_K}"), F.lit(1)))
        .withColumn("offset", F.expr("step div 2"))
        .withColumn("cum_hi", F.col("off") + F.col("cum_in"))
        .withColumn("cum_lo", F.col("cum_hi") - F.col("w"))
        .withColumn(
            "n_hits",
            F.expr(
                "(cum_hi - offset + step) div step - (cum_lo - offset + step) div step"
            ),
        )
        .where(F.col("n_hits") > 0)
        .select("doc_id", "w", "cum_lo", "n_hits")
    )


ORACLE_Q160 = f"""
WITH base AS (
    SELECT doc_id, CAST(n_chars AS BIGINT) AS w FROM documents WHERE n_chars > 0
),
cum AS (
    SELECT doc_id, w,
           CAST(SUM(w) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_hi
    FROM base
),
tot AS (SELECT CAST(SUM(w) AS BIGINT) AS total FROM base),
par AS (
    SELECT GREATEST(total // {PPS_K}, 1) AS step,
           GREATEST(total // {PPS_K}, 1) // 2 AS "offset"
    FROM tot
)
SELECT doc_id, w, cum_hi - w AS cum_lo,
       CAST((cum_hi - "offset" + step) // step
            - (cum_hi - w - "offset" + step) // step AS BIGINT) AS n_hits
FROM cum, par
WHERE (cum_hi - "offset" + step) // step
      - (cum_hi - w - "offset" + step) // step > 0
"""


# ---------------------------------------------------------------------------
# q162 — snapshot-isolation TIME TRAVEL over a versioned table
# (sources/minitable.py, the lakehouse commit-log primitive): a four-
# commit history of orders — v0 initial load (overwrite), v1 daily
# append, v2 COMPACTION (overwrite with identical rows, rewritten from
# an AS-OF read of v1), v3 second append — read back AS OF every
# version and aggregated per version in one result.
#
# What the hash gate proves: (a) AS-OF resolution replays the log
# correctly (each version's aggregate matches the oracle's membership
# rule); (b) compaction is INVISIBLE to readers (the v2 row equals the
# v1 row despite every underlying file changing); (c) appends never
# perturb history (v0/v1 rows are computed from the SAME log after v3
# exists).  Builds once per corpus version (`sources.staged`); the
# per-version reads are ordinary parquet scans over the
# resolved file lists, so pushdown/pruning are intact at any scale and
# the log itself stays O(commits) driver-side JSON.
# ---------------------------------------------------------------------------
def q162_time_travel(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import (
        load_table,
        minitable,
        staged,
        table_path,
    )

    src = table_path(sf_dir, "orders")

    def build(table):
        orders = load_table(spark, sf_dir, "orders")
        k = F.col("o_orderkey") % 3
        minitable.write(spark, orders.where(k == 0), table, "overwrite")  # v0
        minitable.write(spark, orders.where(k == 1), table, "append")  # v1
        # v2: compaction — same rows as v1, rewritten into fresh files
        minitable.write(spark, minitable.read(spark, table, 1), table, "overwrite")
        minitable.write(spark, orders.where(k == 2), table, "append")  # v3

    table = staged("tinymr_spark_minitable", src, build)
    per_version = [
        minitable.read(spark, table, v)
        .agg(
            F.lit(v).cast("int").alias("version"),
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        for v in minitable.versions(table)
    ]
    out = per_version[0]
    for df in per_version[1:]:
        out = out.unionByName(df)
    return out


ORACLE_Q162 = """
WITH v AS (
    SELECT * FROM (VALUES (0), (1), (2), (3)) AS t(version)
),
member AS (
    SELECT v.version, o.o_orderkey, o.o_totalprice
    FROM v JOIN orders o
      ON (v.version = 0 AND o.o_orderkey % 3 = 0)
      OR (v.version IN (1, 2) AND o.o_orderkey % 3 IN (0, 1))
      OR (v.version = 3)
)
SELECT CAST(version AS INT) AS version,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM member
GROUP BY version
"""


# ---------------------------------------------------------------------------
# q167 — DATA-SKIPPING scan over commit-log file stats: the planning-time
# half of the lakehouse story (Delta/Iceberg min-max skipping).  The
# orders table is written key-clustered (repartitionByRange on
# o_orderkey, 8 files) with per-file [min,max] key stats in the commit
# record; a range predicate (first quarter of the key space) then plans
# a parquet scan over ONLY the files whose stats admit matches — file
# pruning happens in the log, before Spark ever lists a path, and the
# residual filter + parquet row-group pushdown still run inside the kept
# files.  At 100 TB this is THE scan lever: predicate selectivity turns
# into proportional I/O instead of a full-table scan.
#
# The hash gate proves pruning never changes results (the oracle filters
# the raw table); the "fewer files actually scanned" half is pinned by
# tests/test_sources_sinks.py::test_minitable_scan_prunes_files.
# ---------------------------------------------------------------------------
def q167_data_skipping(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import (
        load_table,
        minitable,
        staged,
        table_path,
    )

    src_path = table_path(sf_dir, "orders")

    def build(table):
        orders = load_table(spark, sf_dir, "orders")
        minitable.write(
            spark,
            orders.repartitionByRange(8, "o_orderkey"),
            table,
            "overwrite",
            stats_cols=["o_orderkey"],
        )

    table = staged("tinymr_spark_minitable_skip", src_path, build)
    maxk = load_table(spark, sf_dir, "orders").agg(F.max("o_orderkey")).collect()[0][0]
    cut = int(maxk) // 4  # both engines: floor div of non-negative ints
    return minitable.scan(spark, table, [("o_orderkey", "<=", cut)]).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.count_distinct("o_custkey").alias("n_customers"),
    )


ORACLE_Q167 = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key,
       COUNT(DISTINCT o_custkey) AS n_customers
FROM orders
WHERE o_orderkey <= (SELECT MAX(o_orderkey) // 4 FROM orders)
"""


# ---------------------------------------------------------------------------
# q170 — BLOOM-FILTER file skipping on an UNCLUSTERED column: the data-
# skipping gap q167's min/max ranges cannot close.  The table is
# clustered by o_orderkey (32 range files), so o_custkey is scattered —
# every file's custkey range spans the whole domain and range stats
# prune NOTHING for a customer point-lookup.  The commit log therefore
# carries a small per-file bloom filter on o_custkey
# (sources/minitable.py, blake2b double-hashing, ~10 bits/row): the
# point predicate skips every file whose bloom proves absence, reading
# only the handful of files that hold the customer's orders (a
# ~13-order customer touches <=13 of 32 files).  This is Delta/Iceberg's
# secondary-key skipping story: point-lookup I/O proportional to the
# entity's footprint, not the table — at 100 TB the difference between
# a seconds lookup and a full scan.  Hash gate: the oracle filters the
# raw table, proving bloom skipping (false-positive-only by
# construction) never changes results.
# ---------------------------------------------------------------------------
def q170_bloom_skipping(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import (
        load_table,
        minitable,
        staged,
        table_path,
    )

    src_path = table_path(sf_dir, "orders")

    def build(table):
        orders = load_table(spark, sf_dir, "orders")
        minitable.write(
            spark,
            orders.repartitionByRange(32, "o_orderkey"),
            table,
            "overwrite",
            stats_cols=["o_orderkey"],
            bloom_cols=["o_custkey"],
        )

    table = staged("tinymr_spark_minitable_bloom", src_path, build)
    maxc = load_table(spark, sf_dir, "orders").agg(F.max("o_custkey")).collect()[0][0]
    probe = int(maxc) // 3  # deterministic mid-domain customer, both engines
    return minitable.scan(spark, table, [("o_custkey", "=", probe)]).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


ORACLE_Q170 = """
SELECT COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM orders
WHERE o_custkey = (SELECT MAX(o_custkey) // 3 FROM orders)
"""


# ---------------------------------------------------------------------------
# q173 — OPTIMIZE (bin-packing compaction) on the versioned minitable:
# the maintenance operation the q163 streaming sink makes necessary.  A
# table built as one healthy initial load (2 range files, half the
# rows) plus six dribbled appends (1 small file each — the small-file
# problem) is optimized: only files under the size threshold are
# bin-packed into ~target-size files and swapped in ONE atomic merge
# commit; the healthy initial files are never read or rewritten
# (O(small bytes), not O(table) — the difference from q162's
# read-everything compaction).  Thresholds derive from the
# live files' actual sizes (half the largest / half the small total),
# so the same structure falls out at every SF.
#
# What the hash gate proves: optimize is INVISIBLE to readers — the
# post-optimize per-version aggregate row equals the pre-optimize row —
# and history stays exact (v0..v6 are computed from the same log AFTER
# the optimize commit exists).  The structural claims (initial files
# untouched, small files all replaced by fewer packed files) are
# asserted in-function and unit-pinned in tests/test_sources_sinks.py.
# ---------------------------------------------------------------------------
def q173_optimize_binpack(spark, sf_dir: str) -> DataFrame:
    import os

    from tinymr_spark.sources import (
        load_table,
        minitable,
        staged,
        table_path,
    )

    src_path = table_path(sf_dir, "orders")

    def build(table):
        orders = load_table(spark, sf_dir, "orders")
        m = F.col("o_orderkey") % 16
        minitable.write(  # v0: healthy initial load, 2 range files
            spark,
            orders.where(m <= 7).repartitionByRange(2, "o_orderkey"),
            table,
            "overwrite",
            stats_cols=["o_orderkey"],
        )
        for s in range(8, 14):  # v1..v6: six small appends
            minitable.write(
                spark,
                orders.where(m == s).coalesce(1),
                table,
                "append",
                stats_cols=["o_orderkey"],
            )
        pre = minitable.snapshot(table)
        sizes = [os.path.getsize(f) for f in pre]
        small_cut = max(sizes) // 2  # appends are ~1/4 the initial files
        small_total = sum(sz for sz in sizes if sz < small_cut)
        res = minitable.optimize(  # v7: pack the six appends into ~2 bins
            spark,
            table,
            small_bytes=small_cut,
            target_bytes=(small_total * 11) // 20,
            stats_cols=["o_orderkey"],
        )
        post = minitable.snapshot(table)
        initial = set(minitable.snapshot(table, 0))
        assert res is not None and res["n_small"] == 6, res
        assert initial <= set(post), "optimize rewrote healthy files"
        assert not (set(pre) - initial) & set(post), "a small file survived"
        assert len(post) < len(pre), (len(post), len(pre))

    table = staged("tinymr_spark_minitable_opt", src_path, build)
    per_version = [
        minitable.read(spark, table, v)
        .agg(
            F.lit(v).cast("int").alias("version"),
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        for v in minitable.versions(table)
    ]
    out = per_version[0]
    for df in per_version[1:]:
        out = out.unionByName(df)
    return out


ORACLE_Q173 = """
WITH v AS (
    SELECT * FROM (VALUES (0), (1), (2), (3), (4), (5), (6), (7)) AS t(version)
),
member AS (
    SELECT v.version, o.o_orderkey, o.o_totalprice
    FROM v JOIN orders o
      ON o.o_orderkey % 16 <= 7 + LEAST(v.version, 6)
)
SELECT CAST(version AS INT) AS version,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM member
GROUP BY version
"""


# ---------------------------------------------------------------------------
# q175 — distributed ORDINARY LEAST SQUARES by the normal equations: the
# classic "ML training as one aggregation" shape.  Fit document length
# structure over the corpus — n_chars ~ b0 + b1*n_words + b2*n_e (word
# count from the literal-space split, 'e'-occurrence count as the
# second text feature; R² ≈ 0.99, a real fit): ONE narrow map-side-
# combined pass computes the ten moment sums (n, Σx, Σxx', Σxy, Σyy —
# X'X and X'y for the 3-param model), then the 3x3 system solves in
# closed form (Cramer) on the one-row aggregate — no iteration, no
# second data pass; even R² falls out of the same moments
# (SSE = Σyy - 2b·X'y + b'X'Xb).  At 100 TB the shuffle carries one
# 10-number partial per task, the textbook mergeable-statistic argument
# (q109/q111/q161) applied to model fitting; this is exactly how
# MLlib's normal-equation solver (WeightedLeastSquares) structures the
# computation.
#
# Cross-engine exactness: the features are INTEGERS (codepoint-count
# arithmetic over literal replace — no regex, no case mapping), so
# every moment is an exact DECIMAL(38,0) sum in both engines; the solve
# arithmetic is generated ONCE as shared formula text over the
# double-cast sums, so both engines evaluate the same IEEE expression
# tree, and final coefficients round to 6 (full-precision doubles:
# boundary risk measure-zero).
# ---------------------------------------------------------------------------
_OLS_FEATURES = {  # engine-shared SQL text over `documents`
    "x1": "length(text) - length(replace(text, ' ', '')) + 1",  # words
    "x2": "length(text) - length(replace(text, 'e', ''))",  # 'e' count
    "y": "n_chars",
}
_OLS_TERMS = {  # moment name -> product expression over the features
    "s1": "x1",
    "s2": "x2",
    "sy": "y",
    "s11": "x1*x1",
    "s12": "x1*x2",
    "s22": "x2*x2",
    "s1y": "x1*y",
    "s2y": "x2*y",
    "syy": "y*y",
}


def _ols_formulas() -> dict[str, str]:
    """Closed-form solve of [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]] b =
    [sy,s1y,s2y] by Cramer's rule, plus R²; one string per output so the
    Spark projection and the oracle SQL share identical expression text."""
    det = "(n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2))"
    d0 = "(sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y))"
    d1 = "(n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2))"
    d2 = "(n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2))"
    b0, b1, b2 = f"({d0}/{det})", f"({d1}/{det})", f"({d2}/{det})"
    sse = (
        f"(syy - 2*({b0}*sy + {b1}*s1y + {b2}*s2y)"
        f" + ({b0}*(n*{b0} + s1*{b1} + s2*{b2})"
        f" + {b1}*(s1*{b0} + s11*{b1} + s12*{b2})"
        f" + {b2}*(s2*{b0} + s12*{b1} + s22*{b2})))"
    )
    sst = "(syy - sy*sy/n)"
    return {
        "beta0": f"round({b0}, 6) + 0.0",
        "beta1": f"round({b1}, 6) + 0.0",
        "beta2": f"round({b2}, 6) + 0.0",
        "r2": f"round(1 - {sse}/{sst}, 6) + 0.0",
    }


def q175_linear_regression(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select(
        *[F.expr(sql).alias(name) for name, sql in _OLS_FEATURES.items()]
    )
    moments = feats.agg(
        F.count("*").alias("n_rows"),
        *[
            F.sum(F.expr(f"cast({expr} as decimal(38,0))")).alias(name)
            for name, expr in _OLS_TERMS.items()
        ],
    )
    doubles = moments.select(
        "n_rows",
        F.col("n_rows").cast("double").alias("n"),
        *[F.col(c).cast("double").alias(c) for c in _OLS_TERMS],
    )
    return doubles.select(
        "n_rows",
        *[F.expr(sql).alias(name) for name, sql in _ols_formulas().items()],
    )


ORACLE_Q175 = f"""
WITH f AS (
    SELECT {", ".join(f"{sql} AS {name}" for name, sql in _OLS_FEATURES.items())}
    FROM documents
),
s AS (
    SELECT COUNT(*) AS n_rows,
           CAST(COUNT(*) AS DOUBLE) AS n,
           {", ".join(
               f"CAST(SUM(CAST({expr} AS DECIMAL(38,0))) AS DOUBLE) AS {name}"
               for name, expr in _OLS_TERMS.items()
           )}
    FROM f
)
SELECT n_rows,
       {", ".join(f"{sql} AS {name}" for name, sql in _ols_formulas().items())}
FROM s
"""


# ---------------------------------------------------------------------------
# q176 — GROUPED OLS: one model per segment from ONE aggregation.  The
# q175 moment recipe with a groupBy("lang") key fits an independent
# n_chars ~ words + 'e'-count regression per language — the "thousands
# of per-segment models in a single pass" shape (per-store demand
# curves, per-tenant capacity fits): the shuffle still carries one
# 10-number partial per (task, group), the Cramer solve runs rowwise on
# the tiny grouped aggregate, and adding groups never adds passes.
# Languages whose letter mix starves a feature (e.g. few 'e's) just get
# different — still exactly determined — coefficients; a singular
# system would surface as NULL betas in both engines identically.
# Exactness story identical to q175: integer features, DECIMAL(38,0)
# moments, shared formula text, round-to-6 on full-precision doubles.
# ---------------------------------------------------------------------------
def q176_grouped_regression(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select(
        "lang", *[F.expr(sql).alias(name) for name, sql in _OLS_FEATURES.items()]
    )
    moments = feats.groupBy("lang").agg(
        F.count("*").alias("n_rows"),
        *[
            F.sum(F.expr(f"cast({expr} as decimal(38,0))")).alias(name)
            for name, expr in _OLS_TERMS.items()
        ],
    )
    doubles = moments.select(
        "lang",
        "n_rows",
        F.col("n_rows").cast("double").alias("n"),
        *[F.col(c).cast("double").alias(c) for c in _OLS_TERMS],
    )
    return doubles.select(
        "lang",
        "n_rows",
        *[F.expr(sql).alias(name) for name, sql in _ols_formulas().items()],
    )


ORACLE_Q176 = f"""
WITH f AS (
    SELECT lang,
           {", ".join(f"{sql} AS {name}" for name, sql in _OLS_FEATURES.items())}
    FROM documents
),
s AS (
    SELECT lang,
           COUNT(*) AS n_rows,
           CAST(COUNT(*) AS DOUBLE) AS n,
           {", ".join(
               f"CAST(SUM(CAST({expr} AS DECIMAL(38,0))) AS DOUBLE) AS {name}"
               for name, expr in _OLS_TERMS.items()
           )}
    FROM f
    GROUP BY lang
)
SELECT lang, n_rows,
       {", ".join(f"{sql} AS {name}" for name, sql in _ols_formulas().items())}
FROM s
"""


# ---------------------------------------------------------------------------
# q177 — predicate DELETE on the versioned minitable, completing the DML
# triad (q162 append/overwrite, q208 keyed MERGE, q177 DELETE WHERE):
# the retention / right-to-erasure verb.  DELETE WHERE o_orderkey <= cut
# against the key-clustered table exercises all three of Delta's file
# cost tiers in one commit — files provably all-matching drop WHOLE
# (commit-log removes: no read, no write — why a retention delete on a
# clustered 100 TB table is O(1) I/O), the one straddling boundary file
# is probed (predicate column only) and rewritten with the inverse
# filter, and provably-unmatching files are untouched.  Build-time
# asserts pin the tier split (>=1 whole drop, <=2 rewrites, >=1
# untouched, post-file-count arithmetic).  The hash gate proves v0
# still reads complete AFTER the delete commit exists (history) and v1
# equals the oracle's surviving-rows aggregate (exactness).
# ---------------------------------------------------------------------------
def q177_delete_where(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import (
        load_table,
        minitable,
        staged,
        table_path,
    )

    src_path = table_path(sf_dir, "orders")
    orders = load_table(spark, sf_dir, "orders")
    maxk = int(orders.agg(F.max("o_orderkey")).collect()[0][0])
    cut = maxk // 3

    def build(table):
        minitable.write(  # v0: 8 key-range files
            spark,
            orders.repartitionByRange(8, "o_orderkey"),
            table,
            "overwrite",
            stats_cols=["o_orderkey"],
        )
        pre = minitable.snapshot(table)
        res = minitable.delete(  # v1
            spark, table, [("o_orderkey", "<=", cut)], stats_cols=["o_orderkey"]
        )
        assert res is not None
        _v, s = res
        assert s["dropped_whole"] >= 1 and s["rewritten"] <= 2 and s["untouched"] >= 1, s
        assert len(minitable.snapshot(table)) == s["untouched"] + s["rewritten"]
        assert set(minitable.snapshot(table, 0)) == set(pre)  # history intact

    table = staged("tinymr_spark_minitable_del", src_path, build)
    per_version = [
        minitable.read(spark, table, v)
        .agg(
            F.lit(v).cast("int").alias("version"),
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        for v in minitable.versions(table)
    ]
    return per_version[0].unionByName(per_version[1])


ORACLE_Q177 = """
WITH v AS (SELECT * FROM (VALUES (0), (1)) AS t(version)),
member AS (
    SELECT v.version, o.o_orderkey, o.o_totalprice
    FROM v JOIN orders o
      ON v.version = 0
      OR o.o_orderkey > (SELECT MAX(o_orderkey) // 3 FROM orders)
)
SELECT CAST(version AS INT) AS version,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM member
GROUP BY version
"""


# ---------------------------------------------------------------------------
# q178 — DELETE with NULLs in the predicate column: the correctness
# boundary data skipping must never cross.  Parquet min/max stats IGNORE
# nulls, so a file whose non-null values all satisfy `ck <= cut` looks
# "fully matching" by range alone — whole-dropping it would delete NULL
# rows that SQL's `WHERE ck <= cut` does NOT match; and the straddle
# rewrite's `~cond` evaluates to NULL (not TRUE) on those rows, silently
# filtering them out of the rewrite.  The fixed tiers (minitable.delete)
# require a proven null_count == 0 for a whole drop and coalesce the
# rewrite's keep-filter, so NULL rows survive both paths.  The table
# range-partitions on the nullified column — Spark clusters the NULLs
# into the lowest file, exactly the file the buggy fast path would have
# dropped.  The hash gate proves v1 == the oracle's
# `NOT coalesce(ck <= cut, false)` survivors, NULL rows included, and v0
# still reads complete.  Build-time asserts pin that NULL rows survived
# and at least one whole-drop still fired on a null-free file.
# ---------------------------------------------------------------------------
def q178_delete_null_safety(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import (
        load_table,
        minitable,
        staged,
        table_path,
    )

    src_path = table_path(sf_dir, "orders")
    orders = load_table(spark, sf_dir, "orders")

    def build(table):
        # build-only driver aggregates: inside the marker so steady-state
        # (benchmarked) invocations pay zero extra scans
        maxck = int(orders.agg(F.max("o_custkey")).collect()[0][0])
        cut = maxck // 2
        n_null_expected = orders.where(F.col("o_orderkey") % 7 == 0).count()
        base = orders.select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 7 != 0, F.col("o_custkey")).alias("ck"),
            "o_totalprice",
        )
        minitable.write(  # v0: ck-range files; NULL ck rows cluster lowest
            spark,
            base.repartitionByRange(8, "ck"),
            table,
            "overwrite",
            stats_cols=["ck"],
        )
        res = minitable.delete(spark, table, [("ck", "<=", cut)], stats_cols=["ck"])
        assert res is not None
        _v, s = res
        # the null-free low-range files still whole-drop; the NULL file
        # takes the rewrite path instead of being wrongly dropped
        assert s["dropped_whole"] >= 1, s
        assert s["rewritten"] >= 1, s
        survivors = minitable.read(spark, table)
        assert survivors.where(F.col("ck").isNull()).count() == n_null_expected

    table = staged("tinymr_spark_minitable_delnull", src_path, build)
    per_version = [
        minitable.read(spark, table, v)
        .agg(
            F.lit(v).cast("int").alias("version"),
            F.count("*").alias("n_rows"),
            F.count(F.when(F.col("ck").isNull(), 1)).alias("n_null"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        for v in minitable.versions(table)
    ]
    return per_version[0].unionByName(per_version[1])


ORACLE_Q178 = """
WITH base AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 <> 0 THEN o_custkey END AS ck,
           o_totalprice
    FROM orders
),
v AS (SELECT * FROM (VALUES (0), (1)) AS t(version)),
member AS (
    SELECT v.version, b.o_orderkey, b.ck, b.o_totalprice
    FROM v JOIN base b
      ON v.version = 0
      OR NOT COALESCE(b.ck <= (SELECT MAX(o_custkey) // 2 FROM orders), FALSE)
)
SELECT CAST(version AS INT) AS version,
       COUNT(*) AS n_rows,
       COUNT(CASE WHEN ck IS NULL THEN 1 END) AS n_null,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM member
GROUP BY version
"""


# ---------------------------------------------------------------------------
# q179 — COMMIT-LOG CHECKPOINTING, the metadata-scale lever of the
# lakehouse tier: a long-lived table (q163's streaming ingest commits
# once per micro-batch) would otherwise make EVERY read replay every
# version JSON — O(commits) driver file-opens that grow without bound.
# minitable folds the live file list into `ckpt-v{N}.json` every 10th
# commit (Delta's `_last_checkpoint` pattern); readers start at the
# newest checkpoint <= the requested version and replay only the tail.
# This table: 24 append commits (auto-checkpoints land at v10, v20).
# Build-time asserts pin the replay bound — the head read opens ckpt@20
# + 4 tail records, never 25 — and that a checkpoint-hidden from-scratch
# replay resolves the IDENTICAL file list.  The hash gate proves both
# read paths stay exact: the head read (through ckpt@20) equals the
# oracle's full table, and the AS-OF v11 read (through ckpt@10 + tail)
# equals the oracle's first-12-slices membership rule.
# ---------------------------------------------------------------------------
def q179_log_checkpoint(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import (
        load_table,
        minitable,
        staged,
        table_path,
    )

    src_path = table_path(sf_dir, "orders")

    def build(table):
        orders = load_table(spark, sf_dir, "orders")
        for i in range(24):  # v0..v23; auto-checkpoints at v10, v20
            minitable.write(
                spark,
                orders.where(F.col("o_orderkey") % 24 == i).coalesce(1),
                table,
                "append",
            )
        assert minitable.checkpoint_versions(table) == [10, 20]
        before = minitable._replay_opens
        assert len(minitable._live_entries(table)) == 24
        assert minitable._replay_opens - before == 3  # tail v21..v23 only
        hidden = minitable.checkpoint_versions
        try:  # from-scratch replay must resolve the identical snapshot
            minitable.checkpoint_versions = lambda _p: []
            scratch = minitable._live_entries(table)
        finally:
            minitable.checkpoint_versions = hidden
        assert minitable._live_entries(table) == scratch

    table = staged("tinymr_spark_minitable_ckpt", src_path, build)
    per_version = [
        minitable.read(spark, table, v)
        .agg(
            F.lit(v).cast("int").alias("version"),
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        for v in (11, 23)  # through ckpt@10 + tail, and through ckpt@20
    ]
    return per_version[0].unionByName(per_version[1])


ORACLE_Q179 = """
WITH v AS (SELECT * FROM (VALUES (11), (23)) AS t(version)),
member AS (
    SELECT v.version, o.o_orderkey, o.o_totalprice
    FROM v JOIN orders o ON o.o_orderkey % 24 <= v.version
)
SELECT CAST(version AS INT) AS version,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM member
GROUP BY version
"""


# ---------------------------------------------------------------------------
# q180 — SCHEMA EVOLUTION as a commit-log action (ADD COLUMN), the last
# everyday Delta verb the lakehouse tier lacked: v0 writes the base
# three-column table; v1 appends a slice carrying a NEW column with
# merge_schema=True, which commits the UNION schema to the log; v2's
# DELETE rewrites straddling files — including pre-evolution ones — and
# must preserve the union.  Readers type the scan from the LOG's schema
# record (never footer sniffing, Delta's model): files written before
# the evolution serve NULL for the new column by Spark's name-based
# parquet reconciliation, and the AS-OF v0 read serves the OLD schema
# (asserted at build).  The hash gate proves all three versions: v0 ==
# the oracle's base slice with zero flags, v1 == union rows where ONLY
# post-evolution rows carry flags, v2 == the surviving rows with flags
# intact through the rewrite.
# ---------------------------------------------------------------------------
def q180_table_evolution(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import (
        load_table,
        minitable,
        staged,
        table_path,
    )

    src_path = table_path(sf_dir, "orders")
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_totalprice")

    def build(table):
        cut = int(orders.agg(F.max("o_orderkey")).collect()[0][0]) // 4
        minitable.write(  # v0: base schema
            spark,
            base.where(F.col("o_orderkey") % 3 == 0).repartitionByRange(4, "o_orderkey"),
            table,
            "overwrite",
            stats_cols=["o_orderkey"],
        )
        minitable.write(  # v1: ADD COLUMN ofl via additive append
            spark,
            base.where(F.col("o_orderkey") % 3 == 1)
            .withColumn("ofl", F.col("o_orderkey") % 5)
            .repartitionByRange(4, "o_orderkey"),
            table,
            "append",
            stats_cols=["o_orderkey"],
            merge_schema=True,
        )
        assert minitable.read(spark, table, 0).columns == ["o_orderkey", "o_totalprice"]
        assert minitable.read(spark, table, 1).columns == [
            "o_orderkey", "o_totalprice", "ofl",
        ]
        res = minitable.delete(  # v2: rewrite straddlers, union preserved
            spark, table, [("o_orderkey", "<=", cut)], stats_cols=["o_orderkey"]
        )
        assert res is not None

    table = staged("tinymr_spark_minitable_evo", src_path, build)

    def agg(v: int) -> DataFrame:
        df = minitable.read(spark, table, v)
        has = "ofl" in df.columns
        return df.agg(
            F.lit(v).cast("int").alias("version"),
            F.count("*").alias("n_rows"),
            (F.count("ofl") if has else F.lit(0).cast("long")).alias("n_flag"),
            (
                F.coalesce(F.sum("ofl"), F.lit(0)).cast("long")
                if has
                else F.lit(0).cast("long")
            ).alias("sum_flag"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )

    out = agg(0)
    for v in (1, 2):
        out = out.unionByName(agg(v))
    return out


ORACLE_Q180 = """
WITH base AS (
    SELECT o_orderkey, o_totalprice,
           CASE WHEN o_orderkey % 3 = 1 THEN o_orderkey % 5 END AS ofl,
           o_orderkey % 3 AS slice
    FROM orders
),
v AS (SELECT * FROM (VALUES (0), (1), (2)) AS t(version)),
member AS (
    SELECT v.version, b.o_orderkey, b.o_totalprice, b.ofl
    FROM v JOIN base b
      ON (v.version = 0 AND b.slice = 0)
      OR (v.version = 1 AND b.slice IN (0, 1))
      OR (v.version = 2 AND b.slice IN (0, 1)
          AND b.o_orderkey > (SELECT MAX(o_orderkey) // 4 FROM orders))
)
SELECT CAST(version AS INT) AS version,
       COUNT(*) AS n_rows,
       COUNT(ofl) AS n_flag,
       CAST(COALESCE(SUM(ofl), 0) AS BIGINT) AS sum_flag,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM member
GROUP BY version
"""


def _cdf_demo_table(spark, sf_dir: str) -> str:
    """The shared q181/q182 table: a full-DML history with row-level
    change tracking.  v0 overwrites the %4 in (0,1,2) slice of orders
    (key, price); v1 appends the %4==3 slice; v2 is a MERGE with
    collect_cdf=True — updates %10==0 rows to 2x price, deletes %10==5
    rows via delete_where, inserts shifted keys (o_orderkey + 2*maxk)
    for %10==1 rows at price+1; v3 is a predicate DELETE of
    o_orderkey <= maxk//4 (its commit records the predicate, so the
    feed reconstructs deletes from the removed files — no change data
    written).  Returns the table path."""
    from tinymr_spark.sources import (
        load_table,
        minitable,
        staged,
        table_path,
    )

    src_path = table_path(sf_dir, "orders")
    orders = load_table(spark, sf_dir, "orders")

    def build(table):
        maxk = int(orders.agg(F.max("o_orderkey")).collect()[0][0])
        cut = maxk // 4
        base = orders.select("o_orderkey", "o_totalprice")
        k = F.col("o_orderkey")
        minitable.write(  # v0
            spark,
            base.where(k % 4 != 3).repartitionByRange(6, "o_orderkey"),
            table,
            "overwrite",
            stats_cols=["o_orderkey"],
        )
        minitable.write(  # v1
            spark,
            base.where(k % 4 == 3).repartitionByRange(2, "o_orderkey"),
            table,
            "append",
            stats_cols=["o_orderkey"],
        )
        source = (
            base.where(k % 10 == 0)
            .select(k.alias("o_orderkey"), (F.col("o_totalprice") * 2).alias("o_totalprice"))
            .unionByName(base.where(k % 10 == 5))
            .unionByName(
                base.where(k % 10 == 1).select(
                    (k + 2 * maxk).alias("o_orderkey"),
                    (F.col("o_totalprice") + 1).alias("o_totalprice"),
                )
            )
        )
        minitable.merge(  # v2: CDF-opted upsert+delete
            spark,
            source,
            table,
            "o_orderkey",
            delete_where="o_orderkey % 10 = 5",
            stats_cols=["o_orderkey"],
            collect_cdf=True,
        )
        res = minitable.delete(  # v3: predicate delete, feed from removes
            spark, table, [("o_orderkey", "<=", cut)], stats_cols=["o_orderkey"]
        )
        assert res is not None

    table = staged(
        "tinymr_spark_minitable_dml", src_path, build, ready=_min_versions(4)
    )
    return table


# ---------------------------------------------------------------------------
# q181 — CHANGE DATA FEED over the full DML surface (Delta CDF semantics,
# closing changes()'s append-only restriction): one feed query returns
# row-level `_change_type` records for an append (insert), a CDF-opted
# MERGE (update_preimage/update_postimage/delete/insert — change rows
# staged alongside the rewrite, O(touched+source)), and a predicate
# DELETE whose deletes are RECONSTRUCTED by reading the commit's removed
# files filtered to the recorded predicate — O(touched files), nothing
# extra written.  OPTIMIZE commits are data_change=false and emit
# nothing.  The hash gate proves every (version, change_type) class —
# counts, price sums, key bounds — against the oracle's from-first-
# principles reconstruction of each class.
# ---------------------------------------------------------------------------
def q181_change_feed_dml(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import minitable

    table = _cdf_demo_table(spark, sf_dir)
    feed = minitable.change_feed(spark, table, 0, 3)
    return (
        feed.groupBy("_commit_version", "_change_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        .select(
            F.col("_commit_version").alias("commit_version"),
            F.col("_change_type").alias("change_type"),
            "n_rows",
            "sum_price",
            "min_key",
            "max_key",
        )
    )


ORACLE_Q181 = """
WITH mk AS (SELECT MAX(o_orderkey) AS maxk, MAX(o_orderkey) // 4 AS cut FROM orders),
ev AS (
    SELECT 1 AS commit_version, 'insert' AS change_type,
           o_orderkey AS k, o_totalprice AS p
    FROM orders WHERE o_orderkey % 4 = 3
    UNION ALL
    SELECT 2, 'update_preimage', o_orderkey, o_totalprice
    FROM orders WHERE o_orderkey % 10 = 0
    UNION ALL
    SELECT 2, 'update_postimage', o_orderkey, o_totalprice * 2
    FROM orders WHERE o_orderkey % 10 = 0
    UNION ALL
    SELECT 2, 'delete', o_orderkey, o_totalprice
    FROM orders WHERE o_orderkey % 10 = 5
    UNION ALL
    SELECT 2, 'insert', o_orderkey + 2 * (SELECT maxk FROM mk), o_totalprice + 1
    FROM orders WHERE o_orderkey % 10 = 1
    UNION ALL
    SELECT 3, 'delete', o_orderkey,
           CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2 ELSE o_totalprice END
    FROM orders
    WHERE o_orderkey <= (SELECT cut FROM mk) AND o_orderkey % 10 <> 5
)
SELECT CAST(commit_version AS INT) AS commit_version,
       change_type,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       MIN(k) AS min_key,
       MAX(k) AS max_key
FROM ev
GROUP BY commit_version, change_type
"""


# ---------------------------------------------------------------------------
# q182 — INCREMENTAL MATERIALIZED VIEW over the FULL DML feed: an
# append-only delta-merge generalized to updates and deletes.  The MV
# (per-bucket count + price sum) advances from its v0 base by one pass
# over change_feed(0, 3): insert/update_postimage rows add, delete/
# update_preimage rows subtract — the classic counting-algebra MV
# maintenance (each aggregate a commutative group, so one signed
# aggregation applies the whole delta; O(delta), never O(table)).
# Build asserts pin incremental == full rebuild row-for-row; the hash
# gate proves the incremental result equals the oracle's from-scratch
# final state.
# ---------------------------------------------------------------------------
def q182_incremental_mv_dml(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import minitable

    table = _cdf_demo_table(spark, sf_dir)
    bucket = (F.col("o_orderkey") % 7).alias("bucket")

    def mv(df: DataFrame) -> DataFrame:
        return df.groupBy(bucket).agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("sum_p"),
        )

    base = mv(minitable.read(spark, table, 0)).alias("b")
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    delta = (
        minitable.change_feed(spark, table, 0, 3)
        .groupBy(bucket)
        .agg(
            F.sum(sign).alias("n_d"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)") * sign).alias("s_d"),
        )
        .alias("d")
    )
    inc = (
        base.join(delta, "bucket", "full_outer")
        .select(
            "bucket",
            (F.coalesce(F.col("n_orders"), F.lit(0)) + F.coalesce(F.col("n_d"), F.lit(0))).alias("n_orders"),
            (
                F.coalesce(F.col("sum_p"), F.lit(0).cast("decimal(18,2)"))
                + F.coalesce(F.col("s_d"), F.lit(0).cast("decimal(18,2)"))
            ).alias("sum_p"),
        )
        .where(F.col("n_orders") > 0)
    )
    # a sibling of the staged table: wiped whenever that table is rebuilt
    check = table + "._mv_checked"
    import os

    if not os.path.exists(check):
        rebuilt = mv(minitable.read(spark, table, 3))
        a = inc.select("bucket", "n_orders", F.col("sum_p").cast("decimal(18,2)"))
        b = rebuilt.select("bucket", "n_orders", F.col("sum_p").cast("decimal(18,2)"))
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, (
            "incremental MV diverged from full rebuild"
        )
        open(check, "w").close()
    return inc.select(
        "bucket",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("sum_p").cast("double").alias("sum_price"),
    )


ORACLE_Q182 = """
WITH mk AS (SELECT MAX(o_orderkey) AS maxk, MAX(o_orderkey) // 4 AS cut FROM orders),
final AS (
    SELECT o_orderkey AS k,
           CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2
                ELSE o_totalprice END AS p
    FROM orders
    WHERE o_orderkey % 10 <> 5 AND o_orderkey > (SELECT cut FROM mk)
    UNION ALL
    SELECT o_orderkey + 2 * (SELECT maxk FROM mk), o_totalprice + 1
    FROM orders WHERE o_orderkey % 10 = 1
)
SELECT k % 7 AS bucket,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM final
GROUP BY k % 7
"""


# ---------------------------------------------------------------------------
# q183 — RESTORE TABLE ... TO VERSION (Delta's rollback verb), the
# disaster-recovery story the commit log exists for: a bad job lands an
# overwrite that loses most of the table (v2 here); restore(v1) commits
# a new overwrite whose file list IS v1's — ZERO data bytes move (parts
# are immutable and only vacuum deletes them), the rollback is itself a
# new auditable version, and the bad version stays readable AS-OF for
# forensics.  Build-time asserts pin the zero-copy property (v3's added
# relpaths == v1's live relpaths, no new part files on disk) and the
# vacuumed-target refusal.  The hash gate proves the timeline: v1 the
# good state, v2 the loss, v3 == v1 row-for-row through the restore.
# ---------------------------------------------------------------------------
def q183_restore_version(spark, sf_dir: str) -> DataFrame:
    import os

    from tinymr_spark.sources import (
        load_table,
        minitable,
        staged,
        table_path,
    )

    src_path = table_path(sf_dir, "orders")

    def build(table):
        orders = load_table(spark, sf_dir, "orders")
        base = orders.select("o_orderkey", "o_totalprice")
        k = F.col("o_orderkey")
        minitable.write(spark, base.where(k % 5 <= 1), table, "overwrite")  # v0
        minitable.write(spark, base.where(k % 5 == 2), table, "append")     # v1
        minitable.write(spark, base.where(k % 5 == 0), table, "overwrite")  # v2: the bad job
        good = set(minitable.snapshot(table, 1))
        pre_files = {
            os.path.join(r, f)
            for r, _d, fs in os.walk(table)
            for f in fs
            if f.endswith(".parquet")
        }
        v = minitable.restore(table, 1)                                     # v3
        assert v == 3
        assert set(minitable.snapshot(table, 3)) == good  # the SAME files
        post_files = {
            os.path.join(r, f)
            for r, _d, fs in os.walk(table)
            for f in fs
            if f.endswith(".parquet")
        }
        assert post_files == pre_files  # zero data bytes moved

    table = staged(
        "tinymr_spark_minitable_restore", src_path, build, ready=_min_versions(4)
    )
    per_version = [
        minitable.read(spark, table, v)
        .agg(
            F.lit(v).cast("int").alias("version"),
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        for v in (1, 2, 3)
    ]
    out = per_version[0]
    for df in per_version[1:]:
        out = out.unionByName(df)
    return out


ORACLE_Q183 = """
WITH v AS (SELECT * FROM (VALUES (1), (2), (3)) AS t(version)),
member AS (
    SELECT v.version, o.o_orderkey, o.o_totalprice
    FROM v JOIN orders o
      ON (v.version IN (1, 3) AND o.o_orderkey % 5 <= 2)
      OR (v.version = 2 AND o.o_orderkey % 5 = 0)
)
SELECT CAST(version AS INT) AS version,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM member
GROUP BY version
"""


# ---------------------------------------------------------------------------
# q184 — DELETE via DELETION VECTORS (Delta 3.x merge-on-read), the
# write-cheap sibling of q177's copy-on-write delete: matched rows are
# recorded as (file, row_index) pairs in a sidecar parquet and the
# commit points at it — ZERO data files rewritten (asserted at build:
# the live file set after both deletes is a SUBSET of v0's), write cost
# O(matched rows), readers apply the vector as a broadcast anti join on
# the `_metadata` columns.  Two OVERLAPPING deletes prove the cumulative
# union (a newer vector replaces the older; re-deleted rows count once)
# and the change feed's DV-DIFF reconstruction (each commit reports only
# ITS rows — the overlap is not double-reported; asserted at build).
# The hash gate proves all three version reads: v0 complete, v1 and v2
# serving exactly the anti-joined survivors.
# ---------------------------------------------------------------------------
def q184_deletion_vectors(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import (
        load_table,
        minitable,
        staged,
        table_path,
    )

    src_path = table_path(sf_dir, "orders")

    def build(table):
        orders = load_table(spark, sf_dir, "orders")
        maxk = int(orders.agg(F.max("o_orderkey")).collect()[0][0])
        cut1, cut2 = maxk // 3, maxk // 2
        minitable.write(  # v0: 8 key-range files
            spark,
            orders.select("o_orderkey", "o_totalprice").repartitionByRange(8, "o_orderkey"),
            table,
            "overwrite",
            stats_cols=["o_orderkey"],
        )
        files_v0 = set(minitable.snapshot(table))
        res1 = minitable.delete_dv(spark, table, [("o_orderkey", "<=", cut1)])  # v1
        assert res1 is not None
        _v1, s1 = res1
        assert s1["dropped_whole"] >= 1 and s1["vectorized"] >= 1, s1
        res2 = minitable.delete_dv(spark, table, [("o_orderkey", "<=", cut2)])  # v2
        assert res2 is not None
        # ZERO data files rewritten across both deletes
        assert set(minitable.snapshot(table)) <= files_v0
        # the feed reports each commit's own rows exactly once
        feed = minitable.change_feed(spark, table, 0, 2)
        n1 = feed.where("_commit_version = 1").count()
        n2 = feed.where("_commit_version = 2").count()
        total = int(orders.count())
        le1 = int(orders.where(F.col("o_orderkey") <= cut1).count())
        le2 = int(orders.where(F.col("o_orderkey") <= cut2).count())
        assert n1 == le1 and n2 == le2 - le1, (n1, n2, le1, le2)
        assert minitable.read(spark, table).count() == total - le2

    table = staged(
        "tinymr_spark_minitable_dv", src_path, build, ready=_min_versions(3)
    )
    per_version = [
        minitable.read(spark, table, v)
        .agg(
            F.lit(v).cast("int").alias("version"),
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        for v in minitable.versions(table)
    ]
    out = per_version[0]
    for df in per_version[1:]:
        out = out.unionByName(df)
    return out


ORACLE_Q184 = """
WITH mk AS (
    SELECT MAX(o_orderkey) // 3 AS cut1, MAX(o_orderkey) // 2 AS cut2 FROM orders
),
v AS (SELECT * FROM (VALUES (0), (1), (2)) AS t(version)),
member AS (
    SELECT v.version, o.o_orderkey, o.o_totalprice
    FROM v JOIN orders o
      ON v.version = 0
      OR (v.version = 1 AND o.o_orderkey > (SELECT cut1 FROM mk))
      OR (v.version = 2 AND o.o_orderkey > (SELECT cut2 FROM mk))
)
SELECT CAST(version AS INT) AS version,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM member
GROUP BY version
"""


# ---------------------------------------------------------------------------
# q185 — CHECK CONSTRAINTS as a commit-log contract (Delta's ALTER TABLE
# ADD CONSTRAINT): the write-time data-quality gate the q148 suite
# measures after the fact, enforced BEFORE any byte lands.  v0 writes
# half of orders; v1 records `o_totalprice > 0` in a data_change=false
# `meta` commit (add-time validation scans the existing table once and
# refuses if current rows violate); a corrupted batch (negated prices)
# is REJECTED loudly with zero commits (asserted at build, log length
# unchanged); the clean second half then lands.  SQL three-valued
# semantics — NULL passes, only FALSE violates.  The hash gate proves
# the final table is exactly both clean halves and nothing of the
# rejected batch.
# ---------------------------------------------------------------------------
def q185_check_constraints(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import (
        load_table,
        minitable,
        staged,
        table_path,
    )

    src_path = table_path(sf_dir, "orders")

    def build(table):
        orders = load_table(spark, sf_dir, "orders")
        base = orders.select("o_orderkey", "o_totalprice")
        k = F.col("o_orderkey")
        minitable.write(spark, base.where(k % 2 == 0), table, "overwrite")  # v0
        minitable.add_constraint(spark, table, "price_positive", "o_totalprice > 0")
        corrupted = base.where(k % 2 == 1).withColumn(
            "o_totalprice", -F.col("o_totalprice")
        )
        try:
            minitable.write(spark, corrupted, table, "append")
            raise AssertionError("corrupted batch must be rejected")
        except ValueError as e:
            assert "price_positive" in str(e)
        assert len(minitable.versions(table)) == 2  # nothing committed
        minitable.write(spark, base.where(k % 2 == 1), table, "append")  # v2

    table = staged(
        "tinymr_spark_minitable_check", src_path, build, ready=_min_versions(3)
    )
    return (
        minitable.read(spark, table)
        .groupBy((F.col("o_orderkey") % 4).alias("bucket"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


ORACLE_Q185 = """
SELECT o_orderkey % 4 AS bucket,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM orders
GROUP BY o_orderkey % 4
"""


# ---------------------------------------------------------------------------
# q186 — SHALLOW CLONE (Delta's zero-copy table fork): the clone's v0 is
# one commit record referencing the source's live files by absolute
# path — no data moves (asserted at build: zero parquet under the clone
# before its own DML) — after which the tables diverge COPY-ON-WRITE: a
# predicate DELETE on the clone whole-drops/rewrites only its own view,
# staging rewritten survivors locally and swapping the borrowed refs
# out, while the source remains byte-identical (asserted).  This is the
# dev/test-against-production-data verb: fork a 100 TB table for one
# commit record, experiment destructively, throw it away.  The hash
# gate proves both heads: the source still the full table, the clone
# exactly the post-delete survivors.
# ---------------------------------------------------------------------------
def q186_shallow_clone(spark, sf_dir: str) -> DataFrame:
    import os

    from tinymr_spark.sources import (
        load_table,
        minitable,
        retire_artifact_roots,
        staged,
        table_path,
    )

    src_path = table_path(sf_dir, "orders")
    # the clone is the source table's ".fork" sibling; sweep the kind
    # it was once staged under
    retire_artifact_roots(spark, staging_kinds=("tinymr_spark_minitable_clonedst",))

    def build(table):
        fork = table + ".fork"
        orders = load_table(spark, sf_dir, "orders")
        maxk = int(orders.agg(F.max("o_orderkey")).collect()[0][0])
        cut = maxk // 3
        minitable.write(
            spark,
            orders.select("o_orderkey", "o_totalprice").repartitionByRange(6, "o_orderkey"),
            table,
            "overwrite",
            stats_cols=["o_orderkey"],
        )
        n_src = minitable.read(spark, table).count()
        minitable.clone(table, fork)
        local = [
            f for r, _d, fs in os.walk(fork) for f in fs
            if f.endswith(".parquet") and "_log" not in r
        ]
        assert local == [], "a shallow clone must move zero data bytes"
        res = minitable.delete(  # diverge: delete on the CLONE only
            spark, fork, [("o_orderkey", "<=", cut)], stats_cols=["o_orderkey"]
        )
        assert res is not None
        assert minitable.read(spark, table).count() == n_src  # source untouched

    table = staged(
        "tinymr_spark_minitable_clonesrc", src_path, build,
        ready=lambda t: bool(minitable.versions(t + ".fork")),
    )
    fork = table + ".fork"

    def agg(path: str, tag: str) -> DataFrame:
        return minitable.read(spark, path).agg(
            F.lit(tag).alias("side"),
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )

    return agg(table, "source").unionByName(agg(fork, "clone"))


ORACLE_Q186 = """
WITH v AS (SELECT * FROM (VALUES ('source'), ('clone')) AS t(side)),
member AS (
    SELECT v.side, o.o_orderkey, o.o_totalprice
    FROM v JOIN orders o
      ON v.side = 'source'
      OR o.o_orderkey > (SELECT MAX(o_orderkey) // 3 FROM orders)
)
SELECT side,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM member
GROUP BY side
"""


# ---------------------------------------------------------------------------
# q188 — UPDATE ... SET ... WHERE (Delta's UPDATE verb), the last
# everyday DML verb: previously only expressible as a self-MERGE.  Two-
# phase touched-file shape (minitable.update): stats bound the candidate
# files, a probe (predicate columns only) confirms and counts matches
# per file, and ONLY matching files are rewritten with the per-row
# `CASE WHEN matched THEN expr ELSE old END` projection — O(touched
# files) on a clustered 100 TB table, never O(table).  The build drives
# it through a live DELETION VECTOR (v1's delete_dv): the update neither
# updates nor resurrects logically-deleted rows, and collect_cdf stages
# update_preimage/update_postimage rows the change feed serves (both
# asserted at build).  The hash gate proves the three-version timeline:
# v0 complete, v1 post-DV, v2 with exactly the in-scope rows updated by
# the SQL expression evaluated over OLD values.
# ---------------------------------------------------------------------------
def q188_update_where(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import (
        load_table,
        minitable,
        staged,
        table_path,
    )

    src_path = table_path(sf_dir, "orders")

    def build(table):
        orders = load_table(spark, sf_dir, "orders")
        maxk = int(orders.agg(F.max("o_orderkey")).collect()[0][0])
        cut1, cut2 = maxk // 5, maxk // 2
        minitable.write(  # v0: 6 key-range files
            spark,
            orders.select("o_orderkey", "o_totalprice").repartitionByRange(6, "o_orderkey"),
            table,
            "overwrite",
            stats_cols=["o_orderkey"],
        )
        res = minitable.delete_dv(spark, table, [("o_orderkey", "<=", cut1)])  # v1
        assert res is not None
        res = minitable.update(  # v2: exact-IEEE expression over OLD values
            spark,
            table,
            {"o_totalprice": "o_totalprice * 2 + 1"},
            [("o_orderkey", "<=", cut2)],
            stats_cols=["o_orderkey"],
            collect_cdf=True,
        )
        assert res is not None
        v2, summary = res
        # stats kept the high-key files out of the rewrite entirely
        assert summary["untouched"] >= 1, summary
        n_scope = int(
            orders.where(
                (F.col("o_orderkey") > cut1) & (F.col("o_orderkey") <= cut2)
            ).count()
        )
        # DV-deleted rows (<= cut1) are not updated
        assert summary["rows_updated"] == n_scope, (summary, n_scope)
        # the feed serves one pre + one post image per updated row
        feed = minitable.change_feed(spark, table, 1, v2)
        assert feed.count() == 2 * n_scope

    table = staged(
        "tinymr_spark_minitable_upd", src_path, build, ready=_min_versions(3)
    )
    per_version = [
        minitable.read(spark, table, v)
        .agg(
            F.lit(v).cast("int").alias("version"),
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        for v in (0, 1, 2)
    ]
    out = per_version[0]
    for df in per_version[1:]:
        out = out.unionByName(df)
    return out


ORACLE_Q188 = """
WITH mk AS (
    SELECT MAX(o_orderkey) // 5 AS cut1, MAX(o_orderkey) // 2 AS cut2 FROM orders
),
v AS (SELECT * FROM (VALUES (0), (1), (2)) AS t(version)),
member AS (
    SELECT v.version, o.o_orderkey,
           CASE
               WHEN v.version = 2 AND o.o_orderkey <= (SELECT cut2 FROM mk)
               THEN o.o_totalprice * 2 + 1
               ELSE o.o_totalprice
           END AS p
    FROM v JOIN orders o
      ON v.version = 0
      OR o.o_orderkey > (SELECT cut1 FROM mk)
)
SELECT CAST(version AS INT) AS version,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM member
GROUP BY version
"""


# ---------------------------------------------------------------------------
# q189 — PARTITION COLUMNS (the hive/Delta layout idiom): write(...,
# partition_by=["om"]) stages orders hive-style (one directory per
# order month) and records each file's partition value as an EXACT
# [v, v] range with proven zero nulls — partition values AS perfect
# stats (Delta's partitionValues add-action metadata, expressed through
# the existing skipping machinery, zero new read logic).  The build
# pins the two 100 TB payoffs: a partition-pruned scan plans exactly
# the partition's files from the log alone (no storage I/O), and the
# retention DELETE (`om <= 2`) drops whole partitions as PURE commit-
# log removes — dropped_whole == 3, rewritten == 0, the O(1)-I/O
# `DELETE WHERE ds < X` every large lake relies on.  The hash gate
# proves the timeline: v0 the full table, v1 the post-retention state,
# plus a partition-pruned scan of one month.
# ---------------------------------------------------------------------------
def q189_partition_retention(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import (
        load_table,
        minitable,
        staged,
        table_path,
    )

    src_path = table_path(sf_dir, "orders")

    def build(table):
        orders = load_table(spark, sf_dir, "orders")
        minitable.write(  # v0: hive-partitioned by order month
            spark,
            orders.select(
                "o_orderkey",
                "o_totalprice",
                F.month("o_orderdate").cast("int").alias("om"),
            ).repartition("om"),
            table,
            "overwrite",
            partition_by=["om"],
            stats_cols=["o_orderkey"],
        )
        n_parts = len(minitable.snapshot(table))
        # partition-pruned scan: exactly the month's files, log-decided
        kept, total = minitable.prune(table, [("om", "=", 5)])
        assert total == n_parts and 1 <= len(kept) < total, (len(kept), total)
        res = minitable.delete(spark, table, [("om", "<=", 2)])  # v1: retention
        assert res is not None
        _v, summary = res
        # whole-partition drops, ZERO rewrites — pure metadata I/O
        assert summary["rewritten"] == 0 and summary["dropped_whole"] >= 1, summary

    table = staged(
        "tinymr_spark_minitable_part", src_path, build, ready=_min_versions(2)
    )

    def agg(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.lit(tag).alias("phase"),
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
            F.min("om").alias("min_month"),
            F.max("om").alias("max_month"),
        )

    return (
        agg(minitable.read(spark, table, 0), "v0")
        .unionByName(agg(minitable.read(spark, table, 1), "v1_retention"))
        .unionByName(
            agg(minitable.scan(spark, table, [("om", "=", 5)], 1), "scan_m5")
        )
    )


ORACLE_Q189 = """
WITH base AS (
    SELECT o_orderkey, o_totalprice, CAST(MONTH(o_orderdate) AS INT) AS om
    FROM orders
),
v AS (SELECT * FROM (VALUES ('v0'), ('v1_retention'), ('scan_m5')) AS t(phase)),
member AS (
    SELECT v.phase, b.o_totalprice, b.om
    FROM v JOIN base b
      ON v.phase = 'v0'
      OR (v.phase = 'v1_retention' AND b.om > 2)
      OR (v.phase = 'scan_m5' AND b.om = 5)
)
SELECT phase,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       MIN(om) AS min_month,
       MAX(om) AS max_month
FROM member
GROUP BY phase
"""


# ---------------------------------------------------------------------------
# q190 — RENAME/DROP COLUMN via COLUMN MAPPING (Delta's column-mapping
# mode), completing q180's ADD-only evolution story: the commit log
# carries a {logical: physical} map, data files always hold the stable
# PHYSICAL names, so a rename is one meta commit that re-points the map
# (zero bytes move — asserted: the parquet file set is unchanged across
# both ALTERs) and a drop narrows the logical schema while time travel
# before the change still serves the old names (asserted).  Appends
# after the rename stage under the stable physical name; stats pruning,
# DML predicates, and the change feed all translate through the map.
# The hash gate proves the three-phase timeline: v0 under the original
# names, the post-rename/append state under the new name, and the
# post-drop head where the dropped column is gone.
# ---------------------------------------------------------------------------
def q190_column_mapping(spark, sf_dir: str) -> DataFrame:
    import os

    from tinymr_spark.sources import (
        load_table,
        minitable,
        staged,
        table_path,
    )

    src_path = table_path(sf_dir, "orders")

    def build(table):
        orders = load_table(spark, sf_dir, "orders")
        k = F.col("o_orderkey")
        minitable.write(  # v0: even keys, original names
            spark,
            orders.where(k % 2 == 0).select(
                "o_orderkey", "o_totalprice", "o_orderpriority"
            ).repartitionByRange(3, "o_orderkey"),
            table,
            "overwrite",
            stats_cols=["o_orderkey"],
        )
        def parquets():
            return {
                os.path.join(r, f)
                for r, _d, fs in os.walk(table)
                for f in fs
                if f.endswith(".parquet")
            }
        before = parquets()
        minitable.rename_column(table, "o_totalprice", "price")      # v1
        assert parquets() == before  # rename moved ZERO data bytes
        assert minitable.read(spark, table, 0).columns == [
            "o_orderkey", "o_totalprice", "o_orderpriority",
        ]
        minitable.write(  # v2: odd keys appended under the NEW name
            spark,
            orders.where(k % 2 == 1).select(
                "o_orderkey",
                F.col("o_totalprice").alias("price"),
                "o_orderpriority",
            ).repartitionByRange(3, "o_orderkey"),
            table,
            "append",
            stats_cols=["o_orderkey"],
        )
        before = parquets()
        minitable.drop_column(table, "o_orderpriority")               # v3
        assert parquets() == before  # drop moved ZERO data bytes
        assert minitable.read(spark, table).columns == ["o_orderkey", "price"]

    table = staged(
        "tinymr_spark_minitable_colmap", src_path, build, ready=_min_versions(4)
    )

    def agg(df: DataFrame, tag: str, price_col: str, has_prio: bool) -> DataFrame:
        return df.agg(
            F.lit(tag).alias("phase"),
            F.count("*").alias("n_orders"),
            F.sum(F.col(price_col).cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
            (
                F.count_distinct("o_orderpriority")
                if has_prio
                else F.lit(0).cast("long")
            ).alias("n_prio"),
        )

    return (
        agg(minitable.read(spark, table, 0), "v0_original", "o_totalprice", True)
        .unionByName(agg(minitable.read(spark, table, 2), "v2_renamed", "price", True))
        .unionByName(agg(minitable.read(spark, table, 3), "v3_dropped", "price", False))
    )


ORACLE_Q190 = """
WITH v AS (
    SELECT * FROM (VALUES ('v0_original'), ('v2_renamed'), ('v3_dropped')) AS t(phase)
),
member AS (
    SELECT v.phase, o.o_totalprice, o.o_orderpriority
    FROM v JOIN orders o
      ON (v.phase = 'v0_original' AND o.o_orderkey % 2 = 0)
      OR v.phase IN ('v2_renamed', 'v3_dropped')
)
SELECT phase,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       CASE WHEN phase = 'v3_dropped' THEN 0
            ELSE COUNT(DISTINCT o_orderpriority) END AS n_prio
FROM member
GROUP BY phase
"""


# ---------------------------------------------------------------------------
# q192 — ACCUMULATE-MERGE via column-level UPDATE SET (Delta's `WHEN
# MATCHED THEN UPDATE SET col = expr`): a per-customer rollup table is
# maintained incrementally — the day's delta rollup merges in with
# `total = t.total + s.total, n = t.n + s.n` — the canonical
# incremental-aggregation pattern for a 100 TB fact stream (merge cost
# O(touched files + delta), never a table rebuild).  Exactness: the
# accumulated column is DECIMAL(18,2), so half+half == whole by
# associativity (doubles would drift).  Build asserts incremental ==
# from-scratch rebuild row-for-row; the hash gate proves the final
# per-bucket state against the oracle's whole-table rollup.
# ---------------------------------------------------------------------------
def q192_merge_accumulate(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import (
        load_table,
        minitable,
        staged,
        table_path,
    )

    src_path = table_path(sf_dir, "orders")
    orders = load_table(spark, sf_dir, "orders")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("total"),
            F.count("*").alias("n"),
        )


    def build(table):
        maxk = int(orders.agg(F.max("o_orderkey")).collect()[0][0])
        half = maxk // 2
        k = F.col("o_orderkey")
        minitable.write(  # v0: first-half rollup
            spark,
            rollup(orders.where(k <= half)).repartitionByRange(4, "o_custkey"),
            table,
            "overwrite",
            stats_cols=["o_custkey"],
        )
        minitable.merge(  # v1: second-half delta accumulates in
            spark,
            rollup(orders.where(k > half)),
            table,
            "o_custkey",
            update_set={"total": "t.total + s.total", "n": "t.n + s.n"},
            stats_cols=["o_custkey"],
        )
        inc = minitable.read(spark, table)
        full = rollup(orders)
        assert inc.exceptAll(full).count() == 0 and full.exceptAll(inc).count() == 0, (
            "accumulate-merge diverged from the from-scratch rollup"
        )

    table = staged(
        "tinymr_spark_minitable_accum", src_path, build, ready=_min_versions(2)
    )
    return (
        minitable.read(spark, table)
        .groupBy((F.col("o_custkey") % 10).alias("bucket"))
        .agg(
            F.count("*").alias("n_cust"),
            F.sum("n").alias("n_orders"),
            F.sum("total").cast("double").alias("sum_total"),
        )
    )


ORACLE_Q192 = """
WITH per_cust AS (
    SELECT o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS total,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_custkey
)
SELECT o_custkey % 10 AS bucket,
       COUNT(*) AS n_cust,
       CAST(SUM(n) AS BIGINT) AS n_orders,
       CAST(SUM(total) AS DOUBLE) AS sum_total
FROM per_cust
GROUP BY o_custkey % 10
"""


# ---------------------------------------------------------------------------
# q193 — DESCRIBE HISTORY: the audit face of the commit log — one row
# per version with its action and data_change flag (Delta's DESCRIBE
# HISTORY), joined against AS-OF row counts so the hash gate proves the
# whole q181 DML timeline (overwrite -> append -> CDF merge -> predicate
# delete) as DATA, not just metadata: each version's recorded action
# matches the row count the snapshot actually serves.  History is a
# driver-side O(commits) metadata read returned as a DataFrame, so it
# composes with ordinary queries.
# ---------------------------------------------------------------------------
def q193_table_history(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import minitable

    table = _cdf_demo_table(spark, sf_dir)
    hist = minitable.history(spark, table).select(
        "version", "action", "data_change"
    )
    counts = None
    for v in minitable.versions(table):
        c = minitable.read(spark, table, v).agg(
            F.lit(v).cast("int").alias("version"),
            F.count("*").alias("n_rows"),
        )
        counts = c if counts is None else counts.unionByName(c)
    return (
        hist.join(counts, "version")
        .select("version", "action", "data_change", "n_rows")
    )


ORACLE_Q193 = """
WITH mk AS (SELECT MAX(o_orderkey) AS maxk, MAX(o_orderkey) // 4 AS cut FROM orders),
n AS (
    SELECT
        (SELECT COUNT(*) FROM orders WHERE o_orderkey % 4 IN (0, 1, 2)) AS n0,
        (SELECT COUNT(*) FROM orders) AS nall,
        (SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 5) AS n5,
        (SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 1) AS n1,
        (SELECT COUNT(*) FROM orders
         WHERE o_orderkey > (SELECT cut FROM mk) AND o_orderkey % 10 <> 5) AS nkeep
)
SELECT * FROM (
    SELECT CAST(0 AS INT) AS version, 'overwrite' AS action, TRUE AS data_change,
           n0 AS n_rows FROM n
    UNION ALL
    SELECT 1, 'append', TRUE, nall FROM n
    UNION ALL
    SELECT 2, 'merge', TRUE, nall - n5 + n1 FROM n
    UNION ALL
    SELECT 3, 'merge', TRUE, nkeep + n1 FROM n
)
"""


# ---------------------------------------------------------------------------
# q194 — CONVERT TO minitable (Delta's CONVERT TO DELTA): an existing
# plain-parquet directory becomes a versioned table for the cost of ONE
# commit record referencing its files in place by absolute path — zero
# bytes move (asserted: the table dir holds no parquet after convert),
# the inferred schema is recorded so reads are log-typed, and every DML
# verb works from then on with copy-on-write: the append stages locally,
# the predicate delete whole-drops/rewrites only the table's view while
# the ORIGINAL directory's file set stays byte-identical (asserted).
# This is the migration story for a 100 TB raw lake — adopt the log
# without a rewrite.  The hash gate proves the three-phase timeline.
# ---------------------------------------------------------------------------
def q194_convert_in_place(spark, sf_dir: str) -> DataFrame:
    import os

    from tinymr_spark.sources import (
        load_table,
        minitable,
        retire_artifact_roots,
        staged,
        table_path,
    )

    src_path = table_path(sf_dir, "orders")
    # the plain lake dir is the table's ".plain" sibling; sweep the kind
    # it was once staged under
    retire_artifact_roots(spark, staging_kinds=("tinymr_spark_plainlake",))
    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")

    def build(table):
        plain = table + ".plain"
        maxk = int(orders.agg(F.max("o_orderkey")).collect()[0][0])
        cut = maxk // 3
        (
            orders.where(k % 2 == 0)
            .select("o_orderkey", "o_totalprice")
            .repartitionByRange(4, "o_orderkey")
            .write.parquet(plain)
        )  # the pre-existing PLAIN lake directory

        def listing(d):
            return sorted(
                os.path.join(r, f)
                for r, _dd, fs in os.walk(d)
                for f in fs
                if f.endswith(".parquet")
            )

        before = listing(plain)
        minitable.convert_parquet_dir(  # v0: one commit, zero copies
            spark, plain, table, stats_cols=["o_orderkey"]
        )
        assert listing(table) == []  # borrowed refs only, no local bytes
        minitable.write(  # v1: append lands locally
            spark,
            orders.where(k % 2 == 1).select("o_orderkey", "o_totalprice")
            .repartitionByRange(2, "o_orderkey"),
            table,
            "append",
            stats_cols=["o_orderkey"],
        )
        res = minitable.delete(  # v2: retention delete, copy-on-write
            spark, table, [("o_orderkey", "<=", cut)], stats_cols=["o_orderkey"]
        )
        assert res is not None
        assert listing(plain) == before  # originals never touched

    table = staged(
        "tinymr_spark_minitable_convert", src_path, build, ready=_min_versions(3)
    )
    per_version = [
        minitable.read(spark, table, v)
        .agg(
            F.lit(v).cast("int").alias("version"),
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        for v in (0, 1, 2)
    ]
    out = per_version[0]
    for df in per_version[1:]:
        out = out.unionByName(df)
    return out


ORACLE_Q194 = """
WITH mk AS (SELECT MAX(o_orderkey) // 3 AS cut FROM orders),
v AS (SELECT * FROM (VALUES (0), (1), (2)) AS t(version)),
member AS (
    SELECT v.version, o.o_orderkey, o.o_totalprice
    FROM v JOIN orders o
      ON (v.version = 0 AND o.o_orderkey % 2 = 0)
      OR v.version = 1
      OR (v.version = 2 AND o.o_orderkey > (SELECT cut FROM mk))
)
SELECT CAST(version AS INT) AS version,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM member
GROUP BY version
"""


# ---------------------------------------------------------------------------
# q198 — GENERATED COLUMNS (Delta's `GENERATED ALWAYS AS (expr)`), the
# everyday write-side feature closing the minitable verb set: the event
# day `ed` is DECLARED once as `CAST(day(ts) AS INT)` and never computed
# by a writer again.  write() materializes it at ingest and partitions
# by it (hive layout + exact [v, v] stats = partition values as perfect
# metadata); the expression is recorded in the schema's field metadata,
# so it rides the schema timeline and appends inherit it.  UPDATE
# refuses to SET `ed` directly and RECOMPUTES it when `ts` changes —
# the updated rows migrate to their new day partition with exact stats
# intact — and the retention delete then drops whole day partitions as
# pure metadata (rewritten == 0 asserted) THROUGH the generated column.
# Build-time pins: prune() resolves `ed` predicates log-only; a batch
# providing a WRONG `ed` value is rejected like a CHECK violation.
# The hash gate proves the three-version timeline (ingest / recompute
# update / retention) against the oracle's reconstruction from raw
# events.  100 TB: every phase is O(touched files) or metadata-only —
# the generated column is what makes the retention path metadata-only,
# because writers can't drift from the declared partition derivation.
# ---------------------------------------------------------------------------
def q198_generated_columns(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import (
        load_table,
        minitable,
        staged,
        table_path,
    )

    src_path = table_path(sf_dir, "events")

    def build(table):
        events = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", F.col("value").cast("double")
        )
        minitable.write(  # v0: `ed` never appears in the writer's frame
            spark,
            events.repartition(F.expr("CAST(day(ts) AS INT)")),
            table,
            "overwrite",
            generated={"ed": "CAST(day(ts) AS INT)"},
            partition_by=["ed"],
            stats_cols=["event_id"],
        )
        assert minitable.table_generated(table) == {"ed": "CAST(day(ts) AS INT)"}
        # partition pruning THROUGH the generated column, log-decided
        kept, total = minitable.prune(table, [("ed", "=", 15)])
        assert 1 <= len(kept) < total, (len(kept), total)
        # a writer supplying a wrong `ed` is rejected (CHECK semantics)
        bad = events.limit(1).withColumn("ed", F.lit(99))
        try:
            minitable.write(spark, bad, table, "append")
            raise AssertionError("wrong generated value must be rejected")
        except ValueError:
            pass
        # v1: UPDATE shifts ts by a day -> `ed` recomputes and the rows
        # migrate partitions (SET ed directly is refused)
        try:
            minitable.update(spark, table, {"ed": "99"})
            raise AssertionError("SET on a generated column must be refused")
        except ValueError:
            pass
        res = minitable.update(
            spark, table, {"ts": "ts + INTERVAL 1 DAY"},
            [("event_id", "<", 100)],
        )
        assert res is not None and res[1]["rows_updated"] == 100, res
        # v2: retention by generated day partition — pure metadata
        res2 = minitable.delete(spark, table, [("ed", "<=", 5)])
        assert res2 is not None
        assert res2[1]["rewritten"] == 0 and res2[1]["dropped_whole"] >= 1, res2[1]

    table = staged(
        "tinymr_spark_minitable_gencol", src_path, build, ready=_min_versions(3)
    )

    def agg(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.lit(tag).alias("phase"),
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
            F.min("ed").alias("min_day"),
            F.max("ed").alias("max_day"),
            F.count_distinct("ed").alias("n_days"),
        )

    return (
        agg(minitable.read(spark, table, 0), "v0_ingest")
        .unionByName(agg(minitable.read(spark, table, 1), "v1_recompute"))
        .unionByName(agg(minitable.read(spark, table, 2), "v2_retention"))
    )


ORACLE_Q198 = """
WITH v0 AS (
    SELECT event_id, CAST(value AS DOUBLE) AS value,
           CAST(day(ts) AS INT) AS ed
    FROM events
),
v1 AS (
    SELECT event_id, CAST(value AS DOUBLE) AS value,
           CAST(day(CASE WHEN event_id < 100
                         THEN ts + INTERVAL 1 DAY ELSE ts END) AS INT) AS ed
    FROM events
),
member AS (
    SELECT 'v0_ingest' AS phase, value, ed FROM v0
    UNION ALL
    SELECT 'v1_recompute' AS phase, value, ed FROM v1
    UNION ALL
    SELECT 'v2_retention' AS phase, value, ed FROM v1 WHERE ed > 5
)
SELECT phase,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       MIN(ed) AS min_day,
       MAX(ed) AS max_day,
       COUNT(DISTINCT ed) AS n_days
FROM member
GROUP BY phase
"""


# ---------------------------------------------------------------------------
# q199 — IDENTITY COLUMNS (Delta's GENERATED ALWAYS AS IDENTITY), the
# companion of q198's expression-generated columns: surrogate key `rid`
# is declared once as identity (start=1, step=1) and NEVER supplied by
# any writer — write() assigns values densely from the table's recorded
# high-water mark with a shuffle-free two-phase pass (per-partition
# counts -> driver prefix offsets -> one Arrow mapInPandas), appends
# continue the sequence without re-declaring, and MERGE hands fresh ids
# to its INSERT rows while matched rows keep theirs (asserted row by
# row in the build).  The allocation state rides the commit log
# (`identity_hwm`, newest record wins, checkpoint-folded), concurrent
# allocators conflict on rebase, and restore rolls the marks back with
# the data.  Because assignment is dense, every phase's id set is
# EXACTLY 1..n — so min/max/sum of the engine-assigned ids are
# SQL-derivable from row counts alone, and the hash gate proves the
# allocator end-to-end (v0 ingest / v1 append continuation / v2 merge
# with preserved-vs-fresh ids) against the oracle's closed forms.
# 100 TB: the only non-data cost is one O(partitions) driver exchange
# per identity write — no global window, no driver row loop.
# ---------------------------------------------------------------------------
def q199_identity_columns(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import (
        load_table,
        minitable,
        staged,
        table_path,
    )

    src_path = table_path(sf_dir, "events")

    def build(table):
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", F.col("value").cast("double")
        )
        even = ev.where(F.col("event_id") % 2 == 0)
        minitable.write(  # v0: `rid` never appears in any writer's frame
            spark, even.repartition(4), table, "overwrite",
            identity={"rid": (1, 1)}, stats_cols=["event_id"],
        )
        v0 = minitable.read(spark, table).agg(
            F.count("*"), F.min("rid"), F.max("rid"), F.count_distinct("rid")
        ).collect()[0]
        assert v0[1] == 1 and v0[2] == v0[0] == v0[3], v0  # dense 1..n
        # v1: append continues the sequence, spec inherited from the log
        minitable.write(
            spark, ev.where(F.col("event_id") % 2 == 1), table, "append"
        )
        v1 = minitable.read(spark, table).agg(
            F.count("*"), F.max("rid"), F.count_distinct("rid")
        ).collect()[0]
        assert v1[1] == v1[0] == v1[2], v1
        # v2: merge — matched rows KEEP ids, the 3 inserts get fresh ones
        before = {
            r["event_id"]: r["rid"]
            for r in minitable.read(spark, table)
            .where("event_id < 50").collect()
        }
        upd = ev.where(F.col("event_id") < 50).withColumn(
            "value", F.col("value") + 1000.0
        )
        fresh = spark.createDataFrame(
            [(1000000000, "click", 7.5), (1000000001, "view", 8.5),
             (1000000002, "error", 9.5)],
            "event_id bigint, event_type string, value double",
        )
        minitable.merge(
            spark, upd.unionByName(fresh), table, "event_id",
            stats_cols=["event_id"],
        )
        after = {
            r["event_id"]: r["rid"]
            for r in minitable.read(spark, table)
            .where("event_id < 50").collect()
        }
        assert after == before, "matched rows must keep their identity values"
        v2 = minitable.read(spark, table).agg(
            F.count("*"), F.max("rid"), F.count_distinct("rid")
        ).collect()[0]
        assert v2[1] == v2[0] == v2[2], v2  # still dense after the merge

    table = staged(
        "tinymr_spark_minitable_identity", src_path, build, ready=_min_versions(3)
    )

    def agg(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.lit(tag).alias("phase"),
            F.count("*").alias("n_rows"),
            F.min("rid").alias("min_id"),
            F.max("rid").alias("max_id"),
            F.sum("rid").cast("bigint").alias("sum_id"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )

    return (
        agg(minitable.read(spark, table, 0), "v0_ingest")
        .unionByName(agg(minitable.read(spark, table, 1), "v1_append"))
        .unionByName(agg(minitable.read(spark, table, 2), "v2_merge"))
    )


ORACLE_Q199 = """
WITH c AS (
    SELECT
        CAST(COUNT(*) FILTER (WHERE event_id % 2 = 0) AS BIGINT) AS c0,
        CAST(COUNT(*) AS BIGINT) AS t,
        SUM(CASE WHEN event_id % 2 = 0 THEN CAST(value AS DECIMAL(18,2)) END) AS sv0,
        SUM(CAST(value AS DECIMAL(18,2))) AS svt,
        CAST(COUNT(*) FILTER (WHERE event_id < 50) AS BIGINT) AS cupd
    FROM events
)
SELECT 'v0_ingest' AS phase, c0 AS n_rows,
       CAST(1 AS BIGINT) AS min_id, c0 AS max_id,
       CAST(c0 * (c0 + 1) // 2 AS BIGINT) AS sum_id,
       CAST(sv0 AS DOUBLE) AS sum_value
FROM c
UNION ALL
SELECT 'v1_append', t, CAST(1 AS BIGINT), t,
       CAST(t * (t + 1) // 2 AS BIGINT),
       CAST(svt AS DOUBLE)
FROM c
UNION ALL
SELECT 'v2_merge', t + 3, CAST(1 AS BIGINT), t + 3,
       CAST((t + 3) * (t + 4) // 2 AS BIGINT),
       CAST(svt + CAST(1000.00 AS DECIMAL(18,2)) * cupd
            + CAST(25.50 AS DECIMAL(18,2)) AS DOUBLE)
FROM c
"""


# ---------------------------------------------------------------------------
# q200 — the Z-ORDER DML VERB (minitable.zorder — Delta's `OPTIMIZE ...
# ZORDER BY` as an engine verb) on a LIVE table mid-history, which is
# what separates it from a writer-side overwrite pattern: such a
# layout is something a writer builds once with domain knowledge (a
# hand-normalized Morton code, a fresh overwrite, no concurrent-writer
# story); zorder() is something the TABLE does to itself — boundaries
# come from a bounded reservoir sample (RangePartitioner's design, no
# max-key knowledge, skew-proof quantile buckets), live DELETION
# VECTORS are materialized out and retired by the rewrite, the commit
# is row-invariant (`data_change=False`: AS-OF before it still plans
# the original files WITH their DV masks, the change feed skips it,
# concurrent appends auto-rebase), and per-file min/max stats on the
# clustered dimensions are force-collected as the product.  Lifecycle
# proven by the hash gate: v0 random-layout ingest -> v1 DV scrub
# (logical delete, bytes untouched) -> v2 OPTIMIZE ZORDER (vectors
# retired, both dims now prune; asserted <= half the files at build) ->
# v3 append restating the scrubbed rows (the table round-trips to the
# full corpus) -> a final 2-D pruned scan whose aggregate must equal
# the oracle's raw filter.  100 TB: reclustering is a deliberate
# O(scope) investment — the `where` scope (tested in
# tests/test_sources_sinks.py) bounds it to hot partitions, and every
# later scan on EITHER key pays O(matching rectangles) instead of
# O(table).
# ---------------------------------------------------------------------------
def q200_zorder_verb(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import (
        load_table,
        minitable,
        staged,
        table_path,
    )

    src_path = table_path(sf_dir, "lineitem")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    r = li.agg(
        F.max("l_orderkey"), F.max("l_partkey"), F.max("l_suppkey")
    ).collect()[0]
    k, mp, ms = int(r[0]) // 10, int(r[1]), int(r[2])

    def build(table):
        minitable.write(  # v0: random 16-file layout — nothing prunes
            spark, li.repartition(16), table, "overwrite",
            stats_cols=["l_orderkey", "l_partkey", "l_suppkey"],
        )
        # v1: logical scrub — deletion vectors only, zero bytes rewritten
        minitable.delete_dv(
            spark, table, [("l_orderkey", "<", k)], stats_cols=["l_orderkey"]
        )
        assert minitable._replay(table, None)[2], "expected live DVs"
        sk = [("l_suppkey", "<=", ms // 5)]
        pk = [("l_partkey", "<=", mp // 5)]
        kept0, tot0 = minitable.prune(table, sk)
        assert len(kept0) == tot0, "random layout must not prune"
        # v2: the verb — recluster in place, retire the vectors
        res = minitable.zorder(
            spark, table, by=["l_partkey", "l_suppkey"],
            stats_cols=["l_orderkey"], n_files=16,
        )
        assert res is not None and res["n_in"] == 16
        assert not minitable._replay(table, None)[2], "DVs must retire"
        for w in (sk, pk):
            kept, tot = minitable.prune(table, w)
            assert len(kept) * 2 <= tot, (w, len(kept), tot)
        # row-invariant: the rewrite changed nothing a reader can see
        assert (
            minitable.read(spark, table, 1).count()
            == minitable.read(spark, table, 2).count()
        )
        assert minitable.changes(spark, table, 1, 2).count() == 0
        # v3: restate the scrubbed rows — append commutes with the layout
        minitable.write(
            spark, li.where(F.col("l_orderkey") < k), table, "append",
            stats_cols=["l_orderkey", "l_partkey", "l_suppkey"],
        )

    table = staged(
        "tinymr_spark_minitable_zverb", src_path, build, ready=_min_versions(4)
    )

    def agg(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.lit(tag).alias("phase"),
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
            F.min("l_orderkey").alias("min_key"),
            F.max("l_orderkey").alias("max_key"),
        )

    head = minitable.scan(
        spark, table,
        [("l_partkey", "<=", mp // 5), ("l_suppkey", "<=", ms // 5)],
    )
    out = agg(minitable.read(spark, table, 0), "v0_ingest")
    for v, tag in ((1, "v1_dv_delete"), (2, "v2_zorder"), (3, "v3_append")):
        out = out.unionByName(agg(minitable.read(spark, table, v), tag))
    return out.unionByName(agg(head, "head_2d_scan"))


ORACLE_Q200 = """
WITH m AS (
    SELECT MAX(l_orderkey) // 10 AS k,
           MAX(l_partkey) // 5 AS pk,
           MAX(l_suppkey) // 5 AS sk
    FROM lineitem
),
phases AS (
    SELECT 'v0_ingest' AS phase, l_quantity, l_orderkey FROM lineitem
    UNION ALL
    SELECT 'v1_dv_delete', l_quantity, l_orderkey
    FROM lineitem, m WHERE l_orderkey >= k
    UNION ALL
    SELECT 'v2_zorder', l_quantity, l_orderkey
    FROM lineitem, m WHERE l_orderkey >= k
    UNION ALL
    SELECT 'v3_append', l_quantity, l_orderkey FROM lineitem
    UNION ALL
    SELECT 'head_2d_scan', l_quantity, l_orderkey
    FROM lineitem, m WHERE l_partkey <= pk AND l_suppkey <= sk
)
SELECT phase,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       MIN(l_orderkey) AS min_key,
       MAX(l_orderkey) AS max_key
FROM phases
GROUP BY phase
"""


# ---------------------------------------------------------------------------
# q201 — REPLACE WHERE (minitable.replace_where — Delta's
# `.option("replaceWhere", pred)` overwrite): the backfill idiom that
# delete()+write() cannot express safely — "recompute this partition
# and swap it in" as ONE atomic commit, so readers never see the range
# missing and a crash never loses it.  The scenario is the everyday
# scrub-restatement: partition 3-MEDIUM is replaced by its own
# deduplicated recomputation (even order keys only), while the other
# four partitions are untouched BY PROOF — the partition-aligned scope
# pays the metadata-only tier (build-asserted: dropped_whole >= 1,
# rewritten == 0, everything else untouched), the incoming batch is
# validated to fall entirely inside the replaced range (the contract
# that makes restatements idempotent), and the commit stages explicit
# CDF rows because its added files mix rewrite survivors with new rows
# — the feed's deletes are the partition's 3003 old rows, its inserts
# the 1502 restated ones, both hash-gated below alongside the five
# per-partition states before and after.  100 TB: a daily-partition
# backfill is O(new data staged) + O(1) commit-log metadata — zero old
# bytes read, zero old bytes rewritten.
# ---------------------------------------------------------------------------
def q201_replace_where(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import (
        load_table,
        minitable,
        staged,
        table_path,
    )

    src_path = table_path(sf_dir, "orders")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.col("o_totalprice").cast("double")
    )

    def build(table):
        minitable.write(  # v0: priority-partitioned ingest
            spark, orders, table, "overwrite",
            partition_by=["o_orderpriority"], stats_cols=["o_orderkey"],
        )
        restated = orders.where(
            (F.col("o_orderpriority") == "3-MEDIUM")
            & (F.col("o_orderkey") % 2 == 0)
        )
        v, s = minitable.replace_where(  # v1: atomic partition restatement
            spark, restated, table,
            [("o_orderpriority", "=", "3-MEDIUM")],
            stats_cols=["o_orderkey"],
        )
        # partition-aligned scope = metadata-only delete tier
        assert s["rewritten"] == 0 and s["dropped_whole"] >= 1, s
        assert s["untouched"] >= 4, s

    table = staged(
        "tinymr_spark_minitable_rw", src_path, build, ready=_min_versions(2)
    )

    def agg(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy(
            F.lit(tag).alias("phase"),
            F.col("o_orderpriority").alias("pri"),
        ).agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )

    feed = minitable.change_feed(spark, table, 0, 1)
    feed_rows = feed.groupBy(
        F.concat(F.lit("feed_"), F.col("_change_type")).alias("phase"),
        F.col("o_orderpriority").alias("pri"),
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )
    return (
        agg(minitable.read(spark, table, 0), "v0_ingest")
        .unionByName(agg(minitable.read(spark, table, 1), "v1_restated"))
        .unionByName(feed_rows)
    )


ORACLE_Q201 = """
WITH member AS (
    SELECT 'v0_ingest' AS phase, o_orderpriority AS pri, o_totalprice
    FROM orders
    UNION ALL
    SELECT 'v1_restated', o_orderpriority, o_totalprice
    FROM orders
    WHERE o_orderpriority <> '3-MEDIUM'
       OR o_orderkey % 2 = 0
    UNION ALL
    SELECT 'feed_delete', o_orderpriority, o_totalprice
    FROM orders WHERE o_orderpriority = '3-MEDIUM'
    UNION ALL
    SELECT 'feed_insert', o_orderpriority, o_totalprice
    FROM orders WHERE o_orderpriority = '3-MEDIUM' AND o_orderkey % 2 = 0
)
SELECT phase, pri,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM member
GROUP BY phase, pri
"""


# ---------------------------------------------------------------------------
# q202 — MERGE SCHEMA EVOLUTION (merge(merge_schema=True), Delta's
# `withSchemaEvolution`): the enrichment-merge idiom — a narrow upsert
# that ATTACHES a new column to the table as it lands.  v0 ingests part
# as (p_partkey, p_retailprice); v1 merges an enrichment source that
# carries p_brand for every 10th part (whole-row update: price
# restated verbatim, brand attached) plus 20 brand-new parts — the
# merge commit records the UNION schema, so untouched old files serve
# NULL p_brand through the evolved read, matched rows carry their
# source brand, AS-OF v0 still reads the two-column era (asserted at
# build), and the evolution costs exactly the merge's own two-phase
# O(touched files + source) — no table rewrite, no separate ALTER.
# Rebase is schema-guarded (tests): a concurrent different-schema
# commit conflicts rather than being silently rolled back by
# last-record-wins replay; same-schema appends commute.  The hash gate
# proves the whole landing: final-state counts, decimal-exact price
# sum (original prices restated + the 20 inserts), branded-row count
# and distinct-brand count vs the oracle's reconstruction.
# ---------------------------------------------------------------------------
def q202_merge_schema_evolution(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import (
        load_table,
        minitable,
        staged,
        table_path,
    )

    src_path = table_path(sf_dir, "part")
    part = load_table(spark, sf_dir, "part")
    mp = int(part.agg(F.max("p_partkey")).collect()[0][0])

    def build(table):
        minitable.write(  # v0: the narrow two-column era
            spark,
            part.select("p_partkey", F.col("p_retailprice").cast("double")),
            table, "overwrite", stats_cols=["p_partkey"],
        )
        enrich = part.where(F.col("p_partkey") % 10 == 0).select(
            "p_partkey", F.col("p_retailprice").cast("double"), "p_brand"
        )
        fresh = spark.range(1, 21).select(
            (F.lit(mp) + F.col("id")).alias("p_partkey"),
            F.lit(1.0).alias("p_retailprice"),
            F.lit("NEW").alias("p_brand"),
        )
        v = minitable.merge(  # v1: upsert + ADD COLUMN in one commit
            spark, enrich.unionByName(fresh), table, "p_partkey",
            stats_cols=["p_partkey"], merge_schema=True,
        )
        assert minitable.read(spark, table, 0).columns == [
            "p_partkey", "p_retailprice",
        ], "AS-OF v0 must serve the pre-evolution schema"
        assert minitable.table_schema(table, v)["fields"][-1]["name"] == "p_brand"

    table = staged(
        "tinymr_spark_minitable_msc", src_path, build, ready=_min_versions(2)
    )

    def agg(df: DataFrame, tag: str, branded) -> DataFrame:
        return df.agg(
            F.lit(tag).alias("phase"),
            F.count("*").alias("n_rows"),
            F.sum(F.col("p_retailprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
            branded[0].alias("n_branded"),
            branded[1].alias("n_brands"),
        )

    zero = (F.lit(0).cast("bigint"), F.lit(0).cast("bigint"))
    head = minitable.read(spark, table)
    return agg(
        minitable.read(spark, table, 0), "v0_ingest", zero
    ).unionByName(
        agg(
            head, "v1_evolved",
            (F.count("p_brand"), F.count_distinct("p_brand")),
        )
    )


ORACLE_Q202 = """
WITH m AS (SELECT MAX(p_partkey) AS mp FROM part),
head AS (
    SELECT p_retailprice,
           CASE WHEN p_partkey % 10 = 0 THEN p_brand END AS b
    FROM part
    UNION ALL
    SELECT 1.0 AS p_retailprice, 'NEW' AS b
    FROM m, unnest(range(1, 21)) AS t(i)
)
SELECT 'v0_ingest' AS phase,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       CAST(0 AS BIGINT) AS n_branded,
       CAST(0 AS BIGINT) AS n_brands
FROM part
UNION ALL
SELECT 'v1_evolved',
       COUNT(*),
       CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE),
       COUNT(b),
       COUNT(DISTINCT b)
FROM head
"""


# ---------------------------------------------------------------------------
# q203 — RECORDED CLUSTERING KEYS (Delta's liquid-clustering pattern):
# the composition q200 + q173 could not make on their own.  zorder()
# RECORDS its `by` list in the commit log (newest record wins,
# checkpoint-folded, rename-following, drop-refusing, carried by
# restore/clone, reset by overwrite — all pinned in tests); OPTIMIZE
# then consults it and folds streaming dribble back ALONG the curve
# instead of first-fit packing in log order — which would interleave
# unrelated key ranges and wreck the very per-file stats the one-time
# recluster bought.  Lifecycle under the gate: v1 zorder (keys
# recorded) -> four small unclustered appends (the streaming-sink
# shape) -> clustering-aware OPTIMIZE (build-asserted: summary carries
# clustered_by, exactly the 4 dribble files rewritten, and slab
# predicates on BOTH clustered dims still prune past the compaction).
# The hash gate proves content: the head equals lineitem plus the
# re-appended 4% slice, and the 2-D pruned scan aggregates identically
# to the oracle's raw filter.  100 TB: maintenance cost stays
# O(small bytes) — the table never re-pays the full recluster to keep
# its layout, which is the entire liquid-clustering argument.
# ---------------------------------------------------------------------------
def q203_clustered_compaction(spark, sf_dir: str) -> DataFrame:
    import os

    from tinymr_spark.sources import (
        load_table,
        minitable,
        staged,
        table_path,
    )

    src_path = table_path(sf_dir, "lineitem")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    r = li.agg(F.max("l_partkey"), F.max("l_suppkey")).collect()[0]
    mp, ms = int(r[0]), int(r[1])

    def build(table):
        minitable.write(  # v0: random layout
            spark, li.repartition(16), table, "overwrite",
            stats_cols=["l_partkey", "l_suppkey"],
        )
        res = minitable.zorder(  # v1: recluster AND record the keys
            spark, table, by=["l_partkey", "l_suppkey"], n_files=16
        )
        assert res is not None
        assert minitable.table_cluster_by(table) == ["l_partkey", "l_suppkey"]
        z_sizes = [os.path.getsize(f) for f in minitable.snapshot(table)]
        for i in range(4):  # v2..v5: small unclustered dribble
            minitable.write(
                spark,
                li.where(F.col("l_orderkey") % 100 == i).coalesce(1),
                table, "append", stats_cols=["l_partkey", "l_suppkey"],
            )
        res2 = minitable.optimize(  # v6: clustering-aware compaction
            spark, table,
            # strictly below the smallest z file: exactly the dribble
            small_bytes=min(z_sizes), target_bytes=1 << 26,
        )
        assert res2 is not None and res2["n_small"] == 4, res2
        assert res2["clustered_by"] == ["l_partkey", "l_suppkey"], res2
        for w in (
            [("l_partkey", "<=", mp // 5)],
            [("l_suppkey", "<=", ms // 5)],
        ):
            kept, total = minitable.prune(table, w)
            assert len(kept) * 5 <= total * 3, (w, len(kept), total)

    table = staged(
        "tinymr_spark_minitable_liquid", src_path, build, ready=_min_versions(6)
    )

    def agg(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.lit(tag).alias("phase"),
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
            F.count_distinct("l_partkey").alias("n_parts"),
        )

    scan = minitable.scan(
        spark, table,
        [("l_partkey", "<=", mp // 5), ("l_suppkey", "<=", ms // 5)],
    )
    return agg(minitable.read(spark, table), "head").unionByName(
        agg(scan, "scan_2d")
    )


ORACLE_Q203 = """
WITH m AS (
    SELECT MAX(l_partkey) // 5 AS pk, MAX(l_suppkey) // 5 AS sk
    FROM lineitem
),
head AS (
    SELECT l_partkey, l_suppkey, l_quantity FROM lineitem
    UNION ALL
    SELECT l_partkey, l_suppkey, l_quantity
    FROM lineitem WHERE l_orderkey % 100 < 4
)
SELECT 'head' AS phase,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       COUNT(DISTINCT l_partkey) AS n_parts
FROM head
UNION ALL
SELECT 'scan_2d',
       COUNT(*),
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE),
       COUNT(DISTINCT l_partkey)
FROM head, m
WHERE l_partkey <= pk AND l_suppkey <= sk
"""




# ---------------------------------------------------------------------------
# q205 — STREAMING CDC over the FULL DML HISTORY (Delta's streaming
# readChangeFeed over arbitrary DML), closing round 10's one named
# feature gap: commits that wrote NO change data no longer refuse —
# predicate deletes re-scan their removed files executor-side filtered
# to the recorded (physical-name) conjunction via vectorized
# pyarrow.compute masks, and deletion-vector commits stream whole-drop
# live rows plus per-file DV DIFFS (new vector minus previous, a
# positional set difference on sidecars read executor-side).  The plan
# stays one-partition-per-committed-file with no joins and no table
# byte through the driver (minitable_stream.py).  Build: v0 orders
# ingest -> snapshot drain -> v1 append (%10==3 slice) -> v2
# replace_where backfill of the low quarter's evens (EXPLICIT change
# data streamed verbatim — the retired q204's path) -> v3 DV delete
# (200 bounded keys ≡7 mod 100 above the backfill scope, marked in
# sidecars — zero rewrites) -> v4 predicate delete (k < kk/2, its feed
# reconstructed from the removed files) -> delta drain; the build pins
# stream == batch change_feed() row-for-row, and the gate hash-checks
# per-(change_type, version) counts and decimal-exact sums against the
# oracle's SQL replay.
# ---------------------------------------------------------------------------
def q205_stream_cdc_full_dml(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import (
        load_table,
        minitable,
        minitable_stream,
        retire_artifact_roots,
        staged,
        table_path,
    )

    # q205 superseded q204 in r11; sweep the retired query's orphaned
    # staging trees (review r11) — no-op once clean
    retire_artifact_roots(spark, staging_kinds=("tinymr_spark_minitable_cdc",))
    src_path = table_path(sf_dir, "orders")

    def build(table):
        landed = table + ".landed"
        ckpt = table + ".ckpt"
        minitable_stream.register(spark)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", F.col("o_totalprice").cast("double")
        )
        kk = int(orders.agg(F.max("o_orderkey")).collect()[0][0]) // 4
        dv_keys = [
            int(r[0])
            for r in orders.where(
                (F.col("o_orderkey") % 100 == 7) & (F.col("o_orderkey") > kk)
            )
            .select("o_orderkey").orderBy("o_orderkey").limit(200).collect()
        ]  # BOUNDED driver list (review r11: an O(rows/100) in-list would
        # bloat the commit JSON and per-file IN evaluation at scale), and
        # bounded FROM ABOVE kk (second-pass review: the 200 smallest ≡7
        # keys overall all land <= kk at sf0.1, where v2's restatement
        # already killed them — delete_dv would match nothing and commit
        # no version, breaking the build exactly at the bench scale)
        assert dv_keys, (
            "q205 needs at least one o_orderkey = 7 (mod 100) above "
            f"max/4={kk} — corpus too small; a silent empty in-list "
            "would loop this build forever (third-pass review)"
        )
        minitable.write(
            spark, orders.repartition(4), table, "overwrite",
            stats_cols=["o_orderkey"],
        )

        def drain():
            def sink(bdf, _bid):
                bdf.write.mode("append").parquet(landed)

            q = (
                spark.readStream.format("tinymr_minitable_stream")
                .option("path", table)
                .option("columns", "o_orderkey,o_totalprice")
                .option("mode", "cdf").load()
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start()
            )
            q.awaitTermination()

        drain()  # snapshot as inserts, _commit_version = 0
        minitable.write(  # v1: append the %10==3 slice
            spark, orders.where(F.col("o_orderkey") % 10 == 3),
            table, "append", stats_cols=["o_orderkey"],
        )
        minitable.replace_where(  # v2: backfill restating the evens of
            # the low quarter — stages EXPLICIT change-data files, which
            # stream VERBATIM (the retired q204's path, absorbed here)
            spark,
            orders.where(
                (F.col("o_orderkey") <= kk) & (F.col("o_orderkey") % 2 == 0)
            ),
            table, [("o_orderkey", "<=", kk)], stats_cols=["o_orderkey"],
        )
        minitable.delete_dv(  # v3: sidecar-only delete (no cdf, no
            # rewrites) — only keys > kk are still live to match
            spark, table, [("o_orderkey", "in", dv_keys)]
        )
        minitable.delete(  # v4: predicate delete (records the conjunction
            # only — its feed is reconstructed from the removed files)
            spark, table, [("o_orderkey", "<", kk // 2)],
            stats_cols=["o_orderkey"],
        )
        drain()  # v1 inserts + v2 explicit CDF + v3 DV diffs + v4 rebuilt
        got = spark.read.parquet(landed).where("_commit_version > 0")
        feed = minitable.change_feed(spark, table, 0, 4).select(
            "o_orderkey", "o_totalprice", "_change_type", "_commit_version"
        )
        assert sorted(tuple(r) for r in got.collect()) == sorted(
            tuple(r) for r in feed.collect()
        ), "stream/batch feed divergence"

    table = staged(
        "tinymr_spark_minitable_cdc_dml", src_path, build,
        ready=_min_versions(5, ".landed"),
    )
    return (
        spark.read.parquet(table + ".landed")
        .groupBy(
            F.col("_change_type").alias("change_type"),
            F.col("_commit_version").cast("int").alias("commit_version"),
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
    )


# The SQL replay.  v2 (replace_where <= kk, restating the evens) emits
# explicit CDF: deletes = every live in-scope row (base + the appended
# %10==3 copies), inserts = the evens.  v3's DV delete can only match
# keys > kk (in-scope keys ≡7 mod 100 are odd, and the low quarter holds
# only evens after v2).  v4's reconstruction is the evens below kk/2 —
# the only live rows there.
ORACLE_Q205 = """
WITH m AS (SELECT MAX(o_orderkey) // 4 AS kk FROM orders),
seven AS (
    SELECT o_orderkey, o_totalprice FROM orders, m
    WHERE o_orderkey % 100 = 7 AND o_orderkey > kk
    ORDER BY o_orderkey LIMIT 200
),
member AS (
    SELECT 'insert' AS change_type, 0 AS commit_version, o_totalprice
    FROM orders
    UNION ALL
    SELECT 'insert', 1, o_totalprice
    FROM orders WHERE o_orderkey % 10 = 3
    UNION ALL
    SELECT 'delete', 2, o_totalprice
    FROM orders, m WHERE o_orderkey <= kk
    UNION ALL
    SELECT 'delete', 2, o_totalprice
    FROM orders, m WHERE o_orderkey <= kk AND o_orderkey % 10 = 3
    UNION ALL
    SELECT 'insert', 2, o_totalprice
    FROM orders, m WHERE o_orderkey <= kk AND o_orderkey % 2 = 0
    UNION ALL
    SELECT 'delete', 3, o_totalprice
    FROM seven
    UNION ALL
    SELECT 'delete', 4, o_totalprice
    FROM orders, m WHERE o_orderkey < kk // 2 AND o_orderkey % 2 = 0
)
SELECT change_type,
       CAST(commit_version AS INT) AS commit_version,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM member
GROUP BY change_type, commit_version
"""


# ---------------------------------------------------------------------------
# q206 — ROW TRACKING (Delta's row-id table feature): write(
# row_tracking=True) materializes a hidden `_row_id` — an IDENTITY
# column whose field metadata marks it row-tracked, so read() hides it
# unless asked (read(row_ids=True), Delta's `_metadata.row_id` UX) —
# assigned densely at write by the shuffle-free two-phase pass and
# STABLE across every rewrite: update keeps ids (its CASE projection
# never touches the column), merge's matched rows keep theirs while
# inserts draw fresh ids from the recorded high-water mark, and
# OPTIMIZE carries rows verbatim.  The build drives exactly that
# update -> merge -> optimize history on an orders-derived table,
# asserts per-key stability with AS-OF self-joins (time travel serves
# each era's ids), and the gate hash-checks the closed forms engine-
# assigned ids must satisfy — ids 1..n dense at creation, inserts
# n+1..n+100 (sum = 100n + 5050), hwm = n + 100 — plus the decimal-
# exact post-DML price sum, all reproducible by the oracle from the
# orders table alone.  Scale: id assignment is O(partitions) driver
# state + one Arrow pass (minitable.py _assign_identity); stability is
# free (rewrites already carry columns verbatim).
# ---------------------------------------------------------------------------
def q206_row_tracking(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import (
        load_table,
        minitable,
        staged,
        table_path,
    )

    src_path = table_path(sf_dir, "orders")

    def build(table):
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", F.col("o_totalprice").cast("double")
        )
        mx = int(orders.agg(F.max("o_orderkey")).collect()[0][0])
        minitable.write(
            spark, orders.repartition(4), table, "overwrite",
            stats_cols=["o_orderkey"], row_tracking=True,
        )  # v0: ids 1..n dense
        minitable.update(  # v1: rewrite ~25% of rows — ids must not move
            spark, table, {"o_totalprice": "o_totalprice + 100"},
            [("o_orderkey", "<", mx // 4)], stats_cols=["o_orderkey"],
        )
        src = (  # matched updates (%10==5 -> price 0) + 100 inserts
            orders.where(F.col("o_orderkey") % 10 == 5)
            .select("o_orderkey", F.lit(0.0).alias("o_totalprice"))
            .unionAll(
                spark.range(1, 101).select(
                    (F.col("id") + mx).alias("o_orderkey"),
                    F.col("id").cast("double").alias("o_totalprice"),
                )
            )
        )
        minitable.merge(spark, src, table, "o_orderkey", stats_cols=["o_orderkey"])
        minitable.optimize(spark, table, small_bytes=1 << 22, target_bytes=1 << 26)
        # per-key stability across the whole history, via time travel
        v0 = minitable.read(spark, table, 0, row_ids=True).select(
            "o_orderkey", F.col("_row_id").alias("id0")
        )
        head = minitable.read(spark, table, row_ids=True).select(
            "o_orderkey", F.col("_row_id").alias("id1")
        )
        movers = v0.join(head, "o_orderkey").where("id0 <> id1").count()
        assert movers == 0, f"{movers} rows changed _row_id across DML"

    # >= 3 versions = overwrite + update + merge; the optimize commit is
    # NOT counted — optimize() legitimately returns None (no commit) when
    # fewer than two sub-threshold files exist (review r11: requiring it
    # would tear down and rebuild forever at SFs with big files)
    table = staged(
        "tinymr_spark_minitable_rowtrack", src_path, build, ready=_min_versions(3)
    )

    from tinymr_spark.sources import load_table as _lt

    n = _lt(spark, sf_dir, "orders").count()
    mx = int(
        _lt(spark, sf_dir, "orders").agg(F.max("o_orderkey")).collect()[0][0]
    )
    live = minitable.read(spark, table, row_ids=True)
    ins = F.col("o_orderkey") > mx  # the 100 merge-inserted rows
    # ONE map-side-combined aggregation — no scalar crossJoins (a
    # 1-row x 1-row crossJoin plans BroadcastNestedLoopJoin, the plan
    # audit's red flag; conditional aggregates fold the three row
    # classes into a single scan)
    return live.agg(
        F.count("*").alias("n_live"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double").alias("sum_price"),
        F.count(F.when(~ins & F.col("_row_id").between(1, n), 1))
        .alias("orig_ids_in_range"),
        F.count(F.when(ins, 1)).alias("inserted_cnt"),
        F.sum(F.when(ins, F.col("_row_id"))).alias("inserted_id_sum"),
        F.max(F.when(ins, F.col("_row_id"))).alias("id_hwm"),
    )


# closed forms: n = COUNT(orders); original rows keep ids 1..n, the 100
# merge inserts draw n+1..n+100 (sum = 100n + 5050, hwm = n + 100);
# prices: +100 below max/4, zeroed at %10==5 (merge wins over the
# earlier update), inserts sum to 5050.
ORACLE_Q206 = """
WITH m AS (SELECT COUNT(*) AS n, MAX(o_orderkey) AS mx FROM orders),
final_price AS (
    SELECT CASE
             WHEN o_orderkey % 10 = 5 THEN CAST(0.0 AS DECIMAL(18,2))
             WHEN o_orderkey < mx // 4
               THEN CAST(o_totalprice + 100 AS DECIMAL(18,2))
             ELSE CAST(o_totalprice AS DECIMAL(18,2))
           END AS p
    FROM orders, m
)
SELECT CAST(n + 100 AS BIGINT) AS n_live,
       CAST((SELECT SUM(p) FROM final_price)
            + CAST(5050.0 AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
       CAST(n AS BIGINT) AS orig_ids_in_range,
       CAST(100 AS BIGINT) AS inserted_cnt,
       CAST(100 * n + 5050 AS BIGINT) AS inserted_id_sum,
       CAST(n + 100 AS BIGINT) AS id_hwm
FROM m
"""


# ---------------------------------------------------------------------------
# q207 — STREAM ADMISSION CONTROL (Delta's startingVersion +
# maxFilesPerTrigger + maxBytesPerTrigger on the table-stream source):
# a CDC subscription that (a) starts from a chosen VERSION instead of
# the snapshot — the feed-from-history pattern — and (b) caps each
# micro-batch at a planned FILE or BYTE budget with FILE-GRANULAR
# offsets ({"v": N, "f": K} — Delta's file-granular admission), so a
# restarted consumer with a long backlog catches up in bounded batches
# and a single oversized commit SPLITS across micro-batches instead of
# forcing one unbounded batch (the 100-TB concern: months of commits,
# or one compaction-sized commit, must never become one giant batch).
# Build: orders ingest (v0) + three appended slices (v1 staged as TWO
# files, v2-v3 one each), then one drain with startingVersion=1 +
# maxFilesPerTrigger=1 — the build asserts v1 split across two
# micro-batches, no batch spans two commits, versions only move
# forward, and v0's snapshot never streamed; driver-level probes then
# pin the byte budget (admitted bytes <= maxBytesPerTrigger unless a
# batch is a single file) and the persisted `streamId` high-water mark
# (a FRESH runner's first latestOffset answers within one budget of
# the last committed offset — the bounded first post-restart batch).
# The gate hash-checks per-(change_type, commit_version) counts and
# decimal sums against the oracle's slice replay.  Every offset shape
# is a pure function of the immutable log, so checkpoint replay purity
# is untouched (sources/minitable_stream.py module docstring).
# ---------------------------------------------------------------------------
def q207_stream_admission(spark, sf_dir: str) -> DataFrame:
    import os

    from tinymr_spark.sources import (
        load_table,
        minitable,
        minitable_stream,
        staged,
        table_path,
    )

    src_path = table_path(sf_dir, "orders")

    def build(table):
        landed = table + ".landed"
        ckpt = table + ".ckpt"
        minitable_stream.register(spark)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", F.col("o_totalprice").cast("double")
        )
        minitable.write(spark, orders.repartition(2), table, "overwrite")
        # v1: TWO files — the oversized commit the file budget must
        # split; v2/v3: one file each
        minitable.write(
            spark,
            orders.where(F.col("o_orderkey") % 10 == 1).repartition(2),
            table,
        )
        for m in (2, 3):
            minitable.write(
                spark,
                orders.where(F.col("o_orderkey") % 10 == m).coalesce(1),
                table,
            )

        fed = []

        def sink(bdf, bid):
            out = bdf.withColumn("_batch", F.lit(bid))
            out.write.mode("append").parquet(landed)
            vs = [
                r["_commit_version"]
                for r in out.select("_commit_version").distinct().collect()
            ]
            if vs:
                fed.append((bid, sorted(vs)))

        q = (
            spark.readStream.format("tinymr_minitable_stream")
            .option("path", table)
            .option("columns", "o_orderkey,o_totalprice")
            .option("mode", "cdf")
            .option("startingVersion", "1")
            .option("maxFilesPerTrigger", "1")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="100 milliseconds")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        # file-granular admission: v1's two files took TWO batches, no
        # batch spans two commits, versions never move backward
        assert all(len(vs) == 1 for _b, vs in fed), fed
        seq = [vs[0] for _b, vs in fed]
        assert seq == [1, 1, 2, 3], seq  # v0 snapshot never streamed
        # ---- driver-level probes: byte budget + persisted HWM -------
        import json

        from tinymr_spark.sources.minitable_stream import (
            MinitableStreamReader,
        )

        rec1 = json.load(open(minitable._version_file(table, 1)))
        budget = max(rec1["sizes"].values())  # one v1 file fits, two don't
        rb = MinitableStreamReader(
            {"path": table, "columns": "o_orderkey,o_totalprice",
             "mode": "cdf", "startingversion": "1",
             "maxbytespertrigger": str(budget)}
        )
        rb.initialOffset()
        prev = {"v": 0}
        while True:
            end = rb.latestOffset()
            if end == prev:
                break
            parts = [p for p in rb.partitions(prev, end) if p.path]
            admitted = sum(os.path.getsize(p.path) for p in parts)
            assert admitted <= budget or len(parts) == 1, (admitted, budget)
            rb.commit(end)
            prev = end
        assert prev == {"v": 3}, prev  # the whole backlog drained
        # persisted HWM: a FRESH runner's first latestOffset stays
        # within one file budget of the last committed offset
        hopts = {
            "path": table, "columns": "o_orderkey,o_totalprice",
            "mode": "cdf", "startingversion": "1",
            "maxfilespertrigger": "1", "streamid": "q207",
        }
        rh = MinitableStreamReader(hopts)
        rh.initialOffset()
        first = rh.latestOffset()
        rh.commit(first)
        fresh = MinitableStreamReader(hopts)
        nxt = fresh.latestOffset()  # FIRST call on a fresh runner
        assert nxt == {"v": 1}, (first, nxt)  # bounded: one more file

    table = staged(
        "tinymr_spark_minitable_admission2", src_path, build,
        ready=_min_versions(4, ".landed"),
    )
    return (
        spark.read.parquet(table + ".landed")
        .groupBy(
            F.col("_change_type").alias("change_type"),
            F.col("_commit_version").cast("int").alias("commit_version"),
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
    )


ORACLE_Q207 = """
WITH member AS (
    SELECT 'insert' AS change_type, 1 AS commit_version, o_totalprice
    FROM orders WHERE o_orderkey % 10 = 1
    UNION ALL
    SELECT 'insert', 2, o_totalprice FROM orders WHERE o_orderkey % 10 = 2
    UNION ALL
    SELECT 'insert', 3, o_totalprice FROM orders WHERE o_orderkey % 10 = 3
)
SELECT change_type,
       CAST(commit_version AS INT) AS commit_version,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM member
GROUP BY change_type, commit_version
"""


# ---------------------------------------------------------------------------
# q208 — CONDITIONAL-MATCHED MERGE (Delta's `WHEN MATCHED AND <cond>
# THEN UPDATE` per-clause condition).  One merge carries all four
# outcomes at once: matched rows hitting delete_where DELETE (clause
# precedence), matched rows passing update_where (a predicate over BOTH
# the target row `t` and the source row `s`) UPDATE whole-row, matched
# rows failing it PASS THROUGH untouched — neither rewritten nor
# re-inserted, and files whose matches ALL fail are never rewritten at
# all (the condition probe reads only the key + the t-columns the
# predicate names) — and unmatched source rows INSERT.  The result
# hashes BOTH the final table state and the merge's change feed, so a
# pass-through row leaking into the CDF, a ghost insert, or a
# mis-gated SET all break the oracle.  Plain unconditional upsert is
# its degenerate no-condition case.
#
# Scale: the same two-phase touched-file shape as every merge
# (minitable.py merge docstring) — the clause condition only SHRINKS
# the rewrite set, never widens a scan.
# ---------------------------------------------------------------------------
def q208_merge_conditional(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import (
        load_table,
        minitable,
        staged,
        table_path,
    )

    src_path = table_path(sf_dir, "orders")

    def build(table):
        orders = load_table(spark, sf_dir, "orders")
        minitable.write(
            spark,
            orders.repartitionByRange(8, "o_orderkey"),
            table,
            "overwrite",
            stats_cols=["o_orderkey"],
        )
        maxk = orders.agg(F.max("o_orderkey")).collect()[0][0]
        # odd matched keys carry a HIGHER source price (condition
        # fires), even ones a lower price (pass through)
        updates = orders.where(F.col("o_orderkey") % 5 == 0).withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 2 == 1,
                F.col("o_totalprice") + F.lit(100.0),
            ).otherwise(F.col("o_totalprice") - F.lit(100.0)),
        )
        inserts = orders.where(F.col("o_orderkey") % 11 == 3).withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(int(maxk))
        )
        minitable.merge(
            spark,
            updates.unionByName(inserts),
            table,
            "o_orderkey",
            delete_where="o_orderpriority = '1-URGENT'",
            update_where="s.o_totalprice > t.o_totalprice "
            "AND t.o_orderstatus <> 'F'",
            collect_cdf=True,
            stats_cols=["o_orderkey"],
        )

    table = staged(
        "tinymr_spark_minitable_merge_cond", src_path, build, ready=_min_versions(2)
    )
    price = F.sum(
        F.col("o_totalprice").cast("decimal(18,2)")
    ).cast("double").alias("sum_price")
    state = (
        minitable.read(spark, table)
        .groupBy(F.col("o_orderstatus").alias("grp"))
        .agg(F.count("*").alias("n_rows"), price)
        .select(F.lit("state").alias("section"), "grp", "n_rows", "sum_price")
    )
    cdf = (
        minitable.change_feed(spark, table, 0, 1)
        .groupBy(F.col("_change_type").alias("grp"))
        .agg(F.count("*").alias("n_rows"), price)
        .select(F.lit("cdf").alias("section"), "grp", "n_rows", "sum_price")
    )
    return state.unionByName(cdf)


ORACLE_Q208 = """
WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
fired AS (
    SELECT o_orderkey FROM orders
    WHERE o_orderkey % 5 = 0 AND o_orderpriority <> '1-URGENT'
          AND o_orderkey % 2 = 1 AND o_orderstatus <> 'F'
),
state AS (
    SELECT o_orderstatus AS grp,
           CASE WHEN o_orderkey IN (SELECT o_orderkey FROM fired)
                THEN CAST(o_totalprice AS DECIMAL(18,2)) + CAST(100 AS DECIMAL(18,2))
                ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS price
    FROM orders
    WHERE NOT (o_orderkey % 5 = 0 AND o_orderpriority = '1-URGENT')
    UNION ALL
    SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2))
    FROM orders WHERE o_orderkey % 11 = 3
),
cdf AS (
    SELECT 'delete' AS grp, CAST(o_totalprice AS DECIMAL(18,2)) AS price
    FROM orders WHERE o_orderkey % 5 = 0 AND o_orderpriority = '1-URGENT'
    UNION ALL
    SELECT 'update_preimage', CAST(o_totalprice AS DECIMAL(18,2))
    FROM orders WHERE o_orderkey IN (SELECT o_orderkey FROM fired)
    UNION ALL
    SELECT 'update_postimage',
           CAST(o_totalprice AS DECIMAL(18,2)) + CAST(100 AS DECIMAL(18,2))
    FROM orders WHERE o_orderkey IN (SELECT o_orderkey FROM fired)
    UNION ALL
    SELECT 'insert', CAST(o_totalprice AS DECIMAL(18,2))
    FROM orders WHERE o_orderkey % 11 = 3
)
SELECT 'state' AS section, grp, COUNT(*) AS n_rows,
       CAST(SUM(price) AS DOUBLE) AS sum_price
FROM state GROUP BY grp
UNION ALL
SELECT 'cdf', grp, COUNT(*), CAST(SUM(price) AS DOUBLE)
FROM cdf GROUP BY grp
"""


# ---------------------------------------------------------------------------
# q209 — COLUMN DEFAULT VALUES (Delta's allowColumnDefaults / Spark's
# `ALTER TABLE ADD COLUMN ... DEFAULT`): rows written BEFORE the column
# existed serve the DEFAULT, not NULL — via Spark's own EXISTS_DEFAULT
# existence-default fill, decided per file footer executor-side, so a
# post-ADD file carrying a real NULL still serves NULL.  The history:
# v0 overwrite (pre-ADD rows), v1/v2 ADD COLUMN seg DEFAULT 'unassigned'
# and boost DEFAULT 0.25 (pure-metadata meta commits), v3 an append that
# OMITS both (write() materializes the defaults — the CURRENT_DEFAULT
# INSERT rule), v4 an append that PROVIDES them with real NULLs mixed
# in, v5 a DELETE whose predicate names the defaulted column — pre-ADD
# rows must match through the default.  Hashed: the AS-OF aggregate at
# every era (v0 serves the OLD schema; the defaults never bleed
# backwards) plus the delete's change-feed reconstruction (version 99),
# whose rows also serve the defaults.
#
# Scale: the ADD is O(1) metadata; the default fill is JVM-side in the
# parquet reader (no coalesce projection, no per-file driver work), and
# the delete keeps the usual three-tier plan — stats-missing pre-ADD
# files go to the probe, never a blind rewrite.  boost values are exact
# binary quarters so double sums are order-independent bit-for-bit.
# ---------------------------------------------------------------------------
def q209_column_defaults(spark, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import (
        load_table,
        minitable,
        staged,
        table_path,
    )

    src_path = table_path(sf_dir, "orders")

    def build(table):
        orders = load_table(spark, sf_dir, "orders")
        base = orders.select("o_orderkey", "o_totalprice")
        k = F.col("o_orderkey")
        cut = int(orders.agg(F.max("o_orderkey")).collect()[0][0]) // 2
        minitable.write(  # v0: pre-ADD rows
            spark,
            base.where(k % 3 == 0).repartitionByRange(4, "o_orderkey"),
            table, "overwrite", stats_cols=["o_orderkey"],
        )
        minitable.add_column(table, "seg", "string", default="unassigned")  # v1
        minitable.add_column(table, "boost", "double", default=0.25)  # v2
        minitable.write(  # v3: OMITS both -> materialized defaults
            spark,
            base.where(k % 3 == 1).repartitionByRange(4, "o_orderkey"),
            table, "append", stats_cols=["o_orderkey"],
        )
        minitable.write(  # v4: PROVIDES both, real NULLs on even keys
            spark,
            base.where(k % 3 == 2)
            .withColumn("seg", F.when(k % 2 == 1, F.lit("named")))
            .withColumn("boost", (k % 7) / F.lit(4.0))
            .repartitionByRange(4, "o_orderkey"),
            table, "append", stats_cols=["o_orderkey", "seg"],
        )
        res = minitable.delete(  # v5: predicate ON the defaulted column
            spark, table,
            [("seg", "=", "unassigned"), ("o_orderkey", "<=", cut)],
            stats_cols=["o_orderkey", "seg"],
        )
        assert res is not None

    table = staged(
        "tinymr_spark_minitable_defaults", src_path, build, ready=_min_versions(6)
    )

    def agg(df: DataFrame, version: int) -> DataFrame:
        has = "seg" in df.columns
        return df.agg(
            F.lit(version).cast("int").alias("version"),
            F.count("*").alias("n_rows"),
            (
                F.count(F.when(F.col("seg").isNull(), 1))
                if has else F.lit(0).cast("long")
            ).alias("n_null_seg"),
            (
                F.count(F.when(F.col("seg") == "unassigned", 1))
                if has else F.lit(0).cast("long")
            ).alias("n_default_seg"),
            (
                F.coalesce(F.sum("boost"), F.lit(0.0))
                if has else F.lit(0.0)
            ).cast("double").alias("sum_boost"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").alias("sum_price"),
        )

    out = agg(minitable.read(spark, table, 0), 0)
    for v in (2, 3, 4, 5):
        out = out.unionByName(agg(minitable.read(spark, table, v), v))
    # the delete's CDF reconstruction serves the defaults too
    return out.unionByName(agg(minitable.change_feed(spark, table, 4, 5), 99))


ORACLE_Q209 = """
WITH mk AS (SELECT MAX(o_orderkey) // 2 AS cut FROM orders),
base AS (
    SELECT o_orderkey, o_totalprice, o_orderkey % 3 AS slice,
           CASE WHEN o_orderkey % 3 = 2
                THEN CASE WHEN o_orderkey % 2 = 1 THEN 'named' END
                ELSE 'unassigned' END AS seg,
           CASE WHEN o_orderkey % 3 = 2 THEN (o_orderkey % 7) / 4.0
                ELSE 0.25 END AS boost
    FROM orders
),
v AS (SELECT * FROM (VALUES (0), (2), (3), (4), (5)) AS t(version)),
member AS (
    SELECT v.version, b.o_orderkey, b.o_totalprice, b.seg, b.boost
    FROM v JOIN base b ON
         (v.version IN (0, 2) AND b.slice = 0)
      OR (v.version = 3 AND b.slice IN (0, 1))
      OR (v.version = 4)
      OR (v.version = 5 AND NOT (COALESCE(b.seg = 'unassigned', FALSE)
          AND b.o_orderkey <= (SELECT cut FROM mk)))
)
SELECT CAST(version AS INT) AS version,
       COUNT(*) AS n_rows,
       CAST(CASE WHEN version = 0 THEN 0
            ELSE COUNT(CASE WHEN seg IS NULL THEN 1 END) END AS BIGINT)
           AS n_null_seg,
       CAST(CASE WHEN version = 0 THEN 0
            ELSE COUNT(CASE WHEN seg = 'unassigned' THEN 1 END) END AS BIGINT)
           AS n_default_seg,
       CAST(CASE WHEN version = 0 THEN 0.0 ELSE SUM(boost) END AS DOUBLE)
           AS sum_boost,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM member
GROUP BY version
UNION ALL
SELECT 99, COUNT(*), 0, COUNT(*), CAST(SUM(boost) AS DOUBLE),
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
FROM base
WHERE slice IN (0, 1) AND o_orderkey <= (SELECT cut FROM mk)
"""


QUERIES = {
    "q110_salted_skew_join": q110_salted_skew_join,
    "q112_hll_sketch_merge": q112_hll_sketch_merge,
    "q113_bucketed_join": q113_bucketed_join,
    "q114_partition_pruned_scan": q114_partition_pruned_scan,
    "q117_table_fingerprint": q117_table_fingerprint,
    "q121_python_datasource": q121_python_datasource,
    "q128_observe_metrics": q128_observe_metrics,
    "q131_histogram_quantiles": q131_histogram_quantiles,
    "q132_countmin_sketch": q132_countmin_sketch,
    "q133_snapshot_diff": q133_snapshot_diff,
    "q134_bloom_semi_join": q134_bloom_semi_join,
    "q135_orc_source": q135_orc_source,
    "q137_xml_source": q137_xml_source,
    "q141_avro_source": q141_avro_source,
    "q142_aqe_skew_join": q142_aqe_skew_join,
    "q144_pushdown_datasource": q144_pushdown_datasource,
    "q148_quality_constraints": q148_quality_constraints,
    "q150_skew_profile": q150_skew_profile,
    "q151_schema_evolution": q151_schema_evolution,
    "q152_outlier_quarantine": q152_outlier_quarantine,
    "q153_psi_drift": q153_psi_drift,
    "q155_corrupt_ingest": q155_corrupt_ingest,
    "q156_federated_join": q156_federated_join,
    "q160_weighted_sample": q160_weighted_sample,
    "q162_time_travel": q162_time_travel,
    "q167_data_skipping": q167_data_skipping,
    "q170_bloom_skipping": q170_bloom_skipping,
    "q173_optimize_binpack": q173_optimize_binpack,
    "q175_linear_regression": q175_linear_regression,
    "q176_grouped_regression": q176_grouped_regression,
    "q177_delete_where": q177_delete_where,
    "q178_delete_null_safety": q178_delete_null_safety,
    "q179_log_checkpoint": q179_log_checkpoint,
    "q180_table_evolution": q180_table_evolution,
    "q181_change_feed_dml": q181_change_feed_dml,
    "q182_incremental_mv_dml": q182_incremental_mv_dml,
    "q183_restore_version": q183_restore_version,
    "q184_deletion_vectors": q184_deletion_vectors,
    "q185_check_constraints": q185_check_constraints,
    "q186_shallow_clone": q186_shallow_clone,
    "q188_update_where": q188_update_where,
    "q189_partition_retention": q189_partition_retention,
    "q190_column_mapping": q190_column_mapping,
    "q192_merge_accumulate": q192_merge_accumulate,
    "q193_table_history": q193_table_history,
    "q194_convert_in_place": q194_convert_in_place,
    "q198_generated_columns": q198_generated_columns,
    "q199_identity_columns": q199_identity_columns,
    "q200_zorder_verb": q200_zorder_verb,
    "q201_replace_where": q201_replace_where,
    "q202_merge_schema_evolution": q202_merge_schema_evolution,
    "q203_clustered_compaction": q203_clustered_compaction,
    "q205_stream_cdc_full_dml": q205_stream_cdc_full_dml,
    "q206_row_tracking": q206_row_tracking,
    "q207_stream_admission": q207_stream_admission,
    "q208_merge_conditional": q208_merge_conditional,
    "q209_column_defaults": q209_column_defaults,
}

ORACLE = {
    "q110_salted_skew_join": ORACLE_Q110,
    "q112_hll_sketch_merge": ORACLE_Q112,
    "q113_bucketed_join": ORACLE_Q113,
    "q114_partition_pruned_scan": ORACLE_Q114,
    "q117_table_fingerprint": ORACLE_Q117,
    "q121_python_datasource": ORACLE_Q121,
    "q128_observe_metrics": ORACLE_Q128,
    "q131_histogram_quantiles": ORACLE_Q131,
    "q132_countmin_sketch": ORACLE_Q132,
    "q133_snapshot_diff": ORACLE_Q133,
    "q134_bloom_semi_join": ORACLE_Q134,
    "q135_orc_source": ORACLE_Q135,
    "q137_xml_source": ORACLE_Q137,
    "q141_avro_source": ORACLE_Q141,
    "q142_aqe_skew_join": ORACLE_Q142,
    "q144_pushdown_datasource": ORACLE_Q144,
    "q148_quality_constraints": ORACLE_Q148,
    "q150_skew_profile": ORACLE_Q150,
    "q151_schema_evolution": ORACLE_Q151,
    "q152_outlier_quarantine": ORACLE_Q152,
    "q153_psi_drift": ORACLE_Q153,
    "q155_corrupt_ingest": ORACLE_Q155,
    "q156_federated_join": ORACLE_Q156,
    "q160_weighted_sample": ORACLE_Q160,
    "q162_time_travel": ORACLE_Q162,
    "q167_data_skipping": ORACLE_Q167,
    "q170_bloom_skipping": ORACLE_Q170,
    "q173_optimize_binpack": ORACLE_Q173,
    "q175_linear_regression": ORACLE_Q175,
    "q176_grouped_regression": ORACLE_Q176,
    "q177_delete_where": ORACLE_Q177,
    "q178_delete_null_safety": ORACLE_Q178,
    "q179_log_checkpoint": ORACLE_Q179,
    "q180_table_evolution": ORACLE_Q180,
    "q181_change_feed_dml": ORACLE_Q181,
    "q182_incremental_mv_dml": ORACLE_Q182,
    "q183_restore_version": ORACLE_Q183,
    "q184_deletion_vectors": ORACLE_Q184,
    "q185_check_constraints": ORACLE_Q185,
    "q186_shallow_clone": ORACLE_Q186,
    "q188_update_where": ORACLE_Q188,
    "q189_partition_retention": ORACLE_Q189,
    "q190_column_mapping": ORACLE_Q190,
    "q192_merge_accumulate": ORACLE_Q192,
    "q193_table_history": ORACLE_Q193,
    "q194_convert_in_place": ORACLE_Q194,
    "q198_generated_columns": ORACLE_Q198,
    "q199_identity_columns": ORACLE_Q199,
    "q200_zorder_verb": ORACLE_Q200,
    "q201_replace_where": ORACLE_Q201,
    "q202_merge_schema_evolution": ORACLE_Q202,
    "q203_clustered_compaction": ORACLE_Q203,
    "q205_stream_cdc_full_dml": ORACLE_Q205,
    "q206_row_tracking": ORACLE_Q206,
    "q207_stream_admission": ORACLE_Q207,
    "q208_merge_conditional": ORACLE_Q208,
    "q209_column_defaults": ORACLE_Q209,
}
