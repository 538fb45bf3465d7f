"""Similarity search over the `embeddings` table (array<float>, 64-dim).

Brute-force cosine top-k is the correctness baseline; the scale path is
bucketed candidate generation (label blocking here, sign-projection LSH as
the general variant) so that at 100 TB the cross product never
materializes.  Distance math stays in built-in higher-order functions
(zip_with/aggregate — JVM, no Python), with double accumulation in a fixed
order so the DuckDB oracle reproduces values bit-for-bit before rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tinymr_spark.operators.dedup import _dot
from tinymr_spark.sources import load_table

N_QUERY = 5  # query vectors for the top-k demos
TOP_K = 3


# ---------------------------------------------------------------------------
# Brute-force cosine top-k: small query set x full corpus, ranked per query.
# The query side is broadcast — the corpus is scanned once, never shuffled
# until the (tiny) per-query top-k aggregation.
# ---------------------------------------------------------------------------
def q50_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding",
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("norm"),
    )
    queries = emb.where(F.col("vec_id") < N_QUERY).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    # norms precomputed per vector (not per pair) — same bits, O(dim) less
    # work per candidate
    sim = F.round(
        _dot(F.col("qv"), F.col("embedding")) / (F.col("qnorm") * F.col("norm")), 6
    )
    scored = (
        emb.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            sim.alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 4).alias("cos_sim"))
    )


ORACLE_Q50 = f"""
WITH scored AS (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           ROUND(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
                 / (SQRT(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
                    * SQRT(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))),
                 6) AS cos_sim
    FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERY}
),
ranked AS (
    SELECT query_id, neighbor_id, cos_sim,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, rank, ROUND(cos_sim, 4) AS cos_sim
FROM ranked WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# Centroids per label: positional average of the vectors — the k-means /
# IVF building block.  posexplode + groupBy(label, pos).
# ---------------------------------------------------------------------------
def q52_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 4).alias("centroid_v"),
             F.count("*").alias("n_vecs"))
    )


ORACLE_Q52 = """
SELECT label, pos,
       ROUND(AVG(CAST(v AS DOUBLE)), 4) AS centroid_v,
       COUNT(*) AS n_vecs
FROM (SELECT label,
             unnest(embedding) AS v,
             CAST(unnest(range(0, len(embedding))) AS INT) AS pos
      FROM embeddings)
GROUP BY label, pos
"""


# ---------------------------------------------------------------------------
# Sign-projection LSH buckets: 8 deterministic md5-derived hyperplanes of
# +-1 weights; bucket = 8-bit sign signature.  Fully portable (no RNG):
# q55's oracle checks the bucketing itself through its `bucket` column,
# and q140/q159 probe the same buckets.
# ---------------------------------------------------------------------------
N_PLANES = 8


def lsh_plane_weights(dim: int) -> list[list[float]]:
    """The LSH hyperplane weights as plain Python floats — THE single
    home of the weight rule (+1 if the first md5 nibble of "plane-pos"
    is even, else -1; hashlib.md5 is bit-identical to Spark's and
    DuckDB's md5).  _lsh_buckets' column expression, _SQL_BUCKET_VECS,
    and q159's stream-side literal arrays all follow this rule; change
    it here and in the two SQL renderings together.
    tests/test_similarity_recall.py::test_row_local_bucket_matches_q53
    pins the three-way agreement over the real corpus."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{p}-{i}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1.0
            for i in range(dim)
        ]
        for p in range(N_PLANES)
    ]


def _lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    expanded = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "vec_id",
        "pos",
        "v",
        F.explode(F.sequence(F.lit(0), F.lit(N_PLANES - 1))).alias("plane"),
    )
    # weight = +1 if first md5 nibble of "plane-pos" is even else -1
    nib = F.conv(
        F.substring(F.md5(F.concat_ws("-", "plane", "pos")), 1, 1), 16, 10
    ).cast("int")
    w = F.when(nib % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))
    dots = (
        expanded.select(
            "vec_id", "plane", (F.col("v").cast("double") * w).alias("c")
        )
        .groupBy("vec_id", "plane")
        .agg(F.sum("c").alias("dot"))
    )
    return (
        dots.select(
            "vec_id",
            F.when(F.col("dot") > 0, F.pow(F.lit(2), F.col("plane")).cast("long"))
            .otherwise(F.lit(0))
            .alias("bitval"),
        )
        .groupBy("vec_id")
        .agg(F.sum("bitval").alias("bucket"))
    )


# ---------------------------------------------------------------------------
# True IVF (inverted-file) ANN: a k-entry codebook partitions the corpus
# into cells by nearest centroid; a query probes only its own cell.  The
# codebook here is the deterministic seed-vector variant (centroid =
# embedding of the min vec_id per label, i.e. a k-means-style init) so
# both engines derive bit-identical cells with no float accumulation:
# squared distance decomposes into the three dot products
# |v|^2 - 2<v,c> + |c|^2, each computed with the same left-to-right
# double fold the oracle's list_dot_product uses.
#
# Scale shape: the codebook (k rows) is folded into ONE row holding an
# array<struct<cell,cvec,cnorm2>> and broadcast; cell assignment is then a
# per-row transform+array_min over that array — NO corpus shuffle, NO
# window, no driver round trip.  Two earlier formulations were measured
# and rejected: crossJoin(broadcast(codebook)) + row_number over vec_id
# shuffles corpus x k rows (an extra full-corpus exchange at 100 TB), and
# inlining the codebook as k literal-array expressions compiled a 10x
# bigger codegen unit (~3s one-time cost per plan).  array_min on
# (d2, cell) structs == the oracle's ORDER BY d2 ASC, cell ASC.  The probe
# then joins on the cell id — candidates never leave their bucket, the
# classic IVF contract.
# ---------------------------------------------------------------------------
def _ivf_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every vector assigned to its nearest seed-codebook cell — the
    shared IVF building block (see q54's header comment for the plan
    rationale: one-row folded broadcast codebook, no corpus shuffle)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding",
        _dot(F.col("embedding"), F.col("embedding")).alias("norm2"),
    )
    # min_by fetches the embedding of the min-vec_id row per label (the
    # seed-vector codebook) in one aggregation; collect_list folds the k
    # cells into a single array row for broadcast.
    cb = (
        emb.groupBy(F.col("label").alias("cell"))
        .agg(F.min_by("embedding", "vec_id").alias("cvec"))
        .select(
            F.struct(
                F.col("cell"),
                F.transform("cvec", lambda x: x.cast("double")).alias("cvec"),
                _dot(F.col("cvec"), F.col("cvec")).alias("cnorm2"),
            ).alias("c")
        )
        .agg(F.sort_array(F.collect_list("c")).alias("cb"))
    )
    # Materialize the one-row codebook (localCheckpoint, guide §5): the
    # collect_list fold is marked non-deterministic, which blocks
    # exchange/stage canonicalization, so every branch that consumes
    # `assigned` would otherwise recompute the full-scan codebook
    # aggregation AND re-broadcast it — q54 (corpus + query branches)
    # paid the scan+aggregate+broadcast twice, the semdedup index build
    # three times.  The checkpoint truncates the plan at a one-row RDD:
    # computed once per query construction (inside the bench's timed
    # region — construction is timed with the action), identical leaf in
    # every branch, so ReuseExchange dedupes the broadcast.  The fold's
    # sort_array makes the VALUE deterministic; only the optimizer
    # marker, not the data, was ever non-deterministic — and unlike
    # q58's PQ codebook the cell domain here is data-dependent
    # (groupBy(label)), so the K-positional-columns rewrite that fixed
    # q58 cannot apply without assuming a label-domain contract.
    cb = cb.localCheckpoint()

    def _d2_struct(c):
        dot = F.aggregate(
            F.zip_with(
                F.col("embedding"), c["cvec"], lambda x, y: x.cast("double") * y
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return F.struct(
            (F.col("norm2") - 2 * dot + c["cnorm2"]).alias("d2"),
            c["cell"].alias("cell"),
        )

    return (
        emb.crossJoin(F.broadcast(cb))
        .select(
            "vec_id", "embedding", "norm2",
            F.array_min(F.transform(F.col("cb"), _d2_struct))["cell"].alias("cell"),
        )
    )


# ---------------------------------------------------------------------------
# q59 — product quantization (PQ): the compression half of a production
# ANN stack (IVF-PQ).  Each 64-dim vector splits into M=4 16-dim
# subvectors; each subvector is assigned the nearest of K=8 per-subspace
# centroids (seeded from the first K vectors, same deterministic-seed
# policy as the IVF codebook); the vector is stored as 4 small codes +
# its reconstruction error.  Same scale shape as q54: the codebook folds
# into ONE broadcast row, assignment is a narrow map over the corpus
# (zero shuffles), and d2 uses the norm2 - 2·dot + cnorm2 expansion so
# the DuckDB oracle reproduces every double bit-for-bit.
# ---------------------------------------------------------------------------
PQ_M, PQ_SUB, PQ_K = 4, 16, 8


def _pq_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per vector: the M subvectors (double) and their squared norms."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    parts = base.select(
        "vec_id",
        *[F.slice("v", m * PQ_SUB + 1, PQ_SUB).alias(f"s{m}") for m in range(PQ_M)],
    )
    return parts.select(
        "vec_id",
        *[f"s{m}" for m in range(PQ_M)],
        *[_dot(F.col(f"s{m}"), F.col(f"s{m}")).alias(f"n{m}") for m in range(PQ_M)],
    )


def _pq_codebook(parts: DataFrame) -> DataFrame:
    """The K per-subspace centroids folded into ONE broadcastable row,
    array index i holding code i-1.

    Built as K positional ``max(when(vec_id == k, row))`` agg columns
    (K is a compile-time constant; vec_id is unique so each max sees
    exactly one row) instead of ``sort_array(collect_list(row))`` —
    value-identical, but deterministic and codegen'd: collect_list is an
    ObjectHashAggregate AND is marked non-deterministic, which blocks
    exchange canonicalization, so q58's two codebook consumers each paid
    their own scan+aggregate+broadcast; the deterministic form lets
    ReuseExchange collapse the second copy."""
    row = F.struct(
        F.col("vec_id").cast("int").alias("code"),
        *[F.col(f"s{m}").alias(f"cs{m}") for m in range(PQ_M)],
        *[F.col(f"n{m}").alias(f"cn{m}") for m in range(PQ_M)],
    )
    return parts.where(F.col("vec_id") < PQ_K).agg(
        F.array(
            *[F.max(F.when(F.col("vec_id") == k, row)) for k in range(PQ_K)]
        ).alias("cb")
    )


def _pq_sub_d2(m: int, c):
    """Exact squared distance of this row's m-th subvector to codebook
    entry `c`, via the norm2 - 2·dot + cnorm2 expansion (oracle-exact)."""
    dot = F.aggregate(
        F.zip_with(F.col(f"s{m}"), c[f"cs{m}"], lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.col(f"n{m}") - 2 * dot + c[f"cn{m}"]


def _pq_coded(
    spark: SparkSession,
    sf_dir: str,
    parts: DataFrame | None = None,
    cb: DataFrame | None = None,
) -> DataFrame:
    """Every vector encoded: b0..b{M-1} structs of (d2, code).

    Callers that also build their own codebook (q58's query tables) pass
    the SAME `parts`/`cb` objects so both branches share one logical
    subtree: collect_list is non-deterministic, which blocks exchange
    canonicalization across separately-built copies, so without the
    shared object the codebook scan+aggregate+broadcast runs twice.
    """
    if parts is None:
        parts = _pq_parts(spark, sf_dir)
    if cb is None:
        cb = _pq_codebook(parts)

    def _best(m):
        return F.array_min(
            F.transform(
                F.col("cb"),
                lambda c: F.struct(
                    _pq_sub_d2(m, c).alias("d2"), c["code"].alias("code")
                ),
            )
        )

    return parts.crossJoin(F.broadcast(cb)).select(
        "vec_id", *[_best(m).alias(f"b{m}") for m in range(PQ_M)]
    )


def q59_product_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    coded = _pq_coded(spark, sf_dir)
    recon = F.col("b0")["d2"] + F.col("b1")["d2"] + F.col("b2")["d2"] + F.col("b3")["d2"]
    return coded.select(
        "vec_id",
        *[F.col(f"b{m}")["code"].alias(f"code{m}") for m in range(PQ_M)],
        recon.alias("recon_err"),
    )


ORACLE_Q59 = f"""
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
partn AS (
    SELECT vec_id,
           v[1:16] AS s0, v[17:32] AS s1, v[33:48] AS s2, v[49:64] AS s3,
           list_dot_product(v[1:16], v[1:16])  AS n0,
           list_dot_product(v[17:32], v[17:32]) AS n1,
           list_dot_product(v[33:48], v[33:48]) AS n2,
           list_dot_product(v[49:64], v[49:64]) AS n3
    FROM emb
),
long AS (
              SELECT vec_id, 0 AS m, s0 AS s, n0 AS n FROM partn
    UNION ALL SELECT vec_id, 1, s1, n1 FROM partn
    UNION ALL SELECT vec_id, 2, s2, n2 FROM partn
    UNION ALL SELECT vec_id, 3, s3, n3 FROM partn
),
cb AS (SELECT CAST(vec_id AS INT) AS code, m, s AS cs, n AS cn
       FROM long WHERE vec_id < {PQ_K}),
scored AS (
    SELECT l.vec_id, l.m, c.code,
           l.n - 2 * list_dot_product(l.s, c.cs) + c.cn AS d2,
           ROW_NUMBER() OVER (
               PARTITION BY l.vec_id, l.m
               ORDER BY l.n - 2 * list_dot_product(l.s, c.cs) + c.cn ASC,
                        c.code ASC) AS rn
    FROM long l JOIN cb c ON c.m = l.m
),
chosen AS (SELECT vec_id, m, code, d2 FROM scored WHERE rn = 1)
SELECT vec_id,
       MAX(CASE WHEN m = 0 THEN code END) AS code0,
       MAX(CASE WHEN m = 1 THEN code END) AS code1,
       MAX(CASE WHEN m = 2 THEN code END) AS code2,
       MAX(CASE WHEN m = 3 THEN code END) AS code3,
       MAX(CASE WHEN m = 0 THEN d2 END) + MAX(CASE WHEN m = 1 THEN d2 END)
         + MAX(CASE WHEN m = 2 THEN d2 END) + MAX(CASE WHEN m = 3 THEN d2 END) AS recon_err
FROM chosen
GROUP BY vec_id
"""


# ---------------------------------------------------------------------------
# q58 — ADC (asymmetric distance computation) search over the PQ codes:
# the payoff of q59 and the query path of a real IVF-PQ index.  Each
# query precomputes its exact distance to every per-subspace centroid
# (an M×K lookup table — 32 doubles here); a corpus vector's approximate
# distance is then FOUR table lookups + three adds, independent of the
# 64 raw dims.  At 100 TB the corpus side carries only the codes (4
# bytes/vector vs 256), never shuffles, and streams once past the
# broadcast query tables.  Ranking is over the approximation — the
# oracle checks the ADC math itself, recall vs exact is q54/q50's job.
#
# Honesty note on THIS dataset: measured recall@3 vs q50 is ~0.13-0.2
# (normalizing first changes nothing) — the synthetic embeddings are
# near-orthogonal with no cluster structure, so M*log2(K)=12 bits cannot
# preserve neighborhoods; q54's IVF reaches 0.93 only because its cells
# come from the label column, which does correlate with geometry.  On
# real embedding corpora (which are clustered) the identical plan is the
# standard recall/compression trade; here the query's value is the
# oracle-exact ADC plumbing.
# ---------------------------------------------------------------------------
def q58_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    parts = _pq_parts(spark, sf_dir)
    cb = _pq_codebook(parts)
    coded = _pq_coded(spark, sf_dir, parts=parts, cb=cb).select(
        "vec_id", *[F.col(f"b{m}")["code"].alias(f"code{m}") for m in range(PQ_M)]
    )
    def _qtable(m):
        # single-arg lambda on purpose: a 2-arg transform lambda would
        # receive (element, index) and shadow the bound m
        return F.transform(F.col("cb"), lambda c: _pq_sub_d2(m, c)).alias(f"t{m}")

    qtables = (
        parts.where(F.col("vec_id") < N_QUERY)
        .crossJoin(F.broadcast(cb))
        .select(
            F.col("vec_id").alias("query_id"),
            # cb is sorted by code, so table index i holds code i-1
            *[_qtable(m) for m in range(PQ_M)],
        )
    )
    approx = (
        F.element_at("t0", F.col("code0") + 1)
        + F.element_at("t1", F.col("code1") + 1)
        + F.element_at("t2", F.col("code2") + 1)
        + F.element_at("t3", F.col("code3") + 1)
    )
    scored = (
        coded.crossJoin(F.broadcast(qtables))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            approx.alias("approx_d2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "approx_d2")
    )


ORACLE_Q58 = f"""
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
partn AS (
    SELECT vec_id,
           v[1:16] AS s0, v[17:32] AS s1, v[33:48] AS s2, v[49:64] AS s3,
           list_dot_product(v[1:16], v[1:16])  AS n0,
           list_dot_product(v[17:32], v[17:32]) AS n1,
           list_dot_product(v[33:48], v[33:48]) AS n2,
           list_dot_product(v[49:64], v[49:64]) AS n3
    FROM emb
),
long AS (
              SELECT vec_id, 0 AS m, s0 AS s, n0 AS n FROM partn
    UNION ALL SELECT vec_id, 1, s1, n1 FROM partn
    UNION ALL SELECT vec_id, 2, s2, n2 FROM partn
    UNION ALL SELECT vec_id, 3, s3, n3 FROM partn
),
cb AS (SELECT CAST(vec_id AS INT) AS code, m, s AS cs, n AS cn
       FROM long WHERE vec_id < {PQ_K}),
scored0 AS (
    SELECT l.vec_id, l.m, c.code,
           l.n - 2 * list_dot_product(l.s, c.cs) + c.cn AS d2,
           ROW_NUMBER() OVER (
               PARTITION BY l.vec_id, l.m
               ORDER BY l.n - 2 * list_dot_product(l.s, c.cs) + c.cn ASC,
                        c.code ASC) AS rn
    FROM long l JOIN cb c ON c.m = l.m
),
chosen AS (SELECT vec_id, m, code FROM scored0 WHERE rn = 1),
qd AS (
    SELECT l.vec_id AS query_id, l.m, c.code,
           l.n - 2 * list_dot_product(l.s, c.cs) + c.cn AS d2
    FROM long l JOIN cb c ON c.m = l.m
    WHERE l.vec_id < {N_QUERY}
),
approx AS (
    SELECT q.query_id, ch.vec_id AS neighbor_id,
           MAX(CASE WHEN ch.m = 0 THEN q.d2 END) + MAX(CASE WHEN ch.m = 1 THEN q.d2 END)
             + MAX(CASE WHEN ch.m = 2 THEN q.d2 END) + MAX(CASE WHEN ch.m = 3 THEN q.d2 END)
               AS approx_d2
    FROM chosen ch
    JOIN qd q ON q.m = ch.m AND q.code = ch.code
    WHERE ch.vec_id <> q.query_id
    GROUP BY q.query_id, ch.vec_id
),
ranked AS (
    SELECT query_id, neighbor_id, approx_d2,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY approx_d2 ASC, neighbor_id ASC) AS INT) AS rank
    FROM approx
)
SELECT query_id, neighbor_id, rank, approx_d2
FROM ranked WHERE rank <= {TOP_K}
"""


def q54_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    assigned = _ivf_assigned(spark, sf_dir)
    queries = assigned.where(F.col("vec_id") < N_QUERY).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.sqrt("norm2").alias("qnorm"),
        F.col("cell").alias("qcell"),
    )
    sim = F.round(
        _dot(F.col("qv"), F.col("embedding")) / (F.col("qnorm") * F.sqrt("norm2")), 6
    )
    scored = assigned.join(
        F.broadcast(queries),
        (F.col("cell") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), "cell", sim.alias("cos_sim")
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= TOP_K)
        .select(
            "query_id", "neighbor_id", "cell", "rank",
            F.round("cos_sim", 4).alias("cos_sim"),
        )
    )


ORACLE_Q54 = f"""
WITH emb AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
           list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS norm2
    FROM embeddings
),
seed_ids AS (SELECT label, MIN(vec_id) AS seed_id FROM emb GROUP BY label),
codebook AS (
    SELECT e.label AS cell, e.v AS cvec, e.norm2 AS cnorm2
    FROM seed_ids s JOIN emb e ON e.vec_id = s.seed_id
),
assigned AS (
    SELECT vec_id, v, norm2, cell FROM (
        SELECT e.vec_id, e.v, e.norm2, c.cell,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY e.norm2 - 2 * list_dot_product(e.v, c.cvec) + c.cnorm2 ASC,
                            c.cell ASC) AS rn
        FROM emb e CROSS JOIN codebook c
    ) WHERE rn = 1
),
scored AS (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, e.cell,
           ROUND(list_dot_product(q.v, e.v) / (SQRT(q.norm2) * SQRT(e.norm2)), 6) AS cos_sim
    FROM assigned q JOIN assigned e
      ON e.cell = q.cell AND e.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERY}
),
ranked AS (
    SELECT query_id, neighbor_id, cell, cos_sim,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, cell, rank, ROUND(cos_sim, 4) AS cos_sim
FROM ranked WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# LSH-bucketed embedding near-dup: candidate pairs share a sign-
# projection bucket of _lsh_buckets (self-contained — no label attribute
# needed), exact cosine only on candidates.  This is the embedding twin
# of the q45 banded-minhash pipeline: bucket key is an 8-bit signature, so the
# self-join shuffles on a tiny key and the cross product never appears.
# ---------------------------------------------------------------------------
SIM_THRESHOLD = 0.30  # synthetic embeddings are near-orthogonal; ~p95 of in-bucket pairs


def q55_embedding_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    buckets = _lsh_buckets(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding",
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("norm"),
    )
    vecs = emb.join(buckets, "vec_id")
    a = vecs.alias("a")
    b = vecs.hint("shuffle_hash").alias("b")
    sim = _dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.norm") * F.col("b.norm")
    )
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.bucket").alias("bucket"),
            F.round(sim, 4).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= SIM_THRESHOLD)
    )


# DuckDB twin of the sign-bucketed vector table (_lsh_buckets joined to
# the normed embeddings) — shared by every oracle probing the buckets.
_SQL_BUCKET_VECS = f"""
WITH flat AS (
    SELECT vec_id,
           CAST(unnest(embedding) AS DOUBLE) AS v,
           CAST(unnest(range(0, len(embedding))) AS INT) AS pos
    FROM embeddings
),
expanded AS (
    SELECT vec_id, pos, v, plane
    FROM flat, generate_series(0, {N_PLANES - 1}) AS g(plane)
),
dots AS (
    SELECT vec_id, plane,
           SUM(v * (CASE WHEN (strpos('0123456789abcdef',
                       substr(md5(plane || '-' || pos), 1, 1)) - 1) % 2 = 0
                    THEN 1.0 ELSE -1.0 END)) AS dot
    FROM expanded
    GROUP BY vec_id, plane
),
buckets AS (
    SELECT vec_id,
           CAST(SUM(CASE WHEN dot > 0 THEN CAST(POW(2, plane) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
    FROM dots
    GROUP BY vec_id
),
vecs AS (
    SELECT e.vec_id, b.bucket, CAST(e.embedding AS DOUBLE[]) AS v,
           SQRT(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) AS norm
    FROM embeddings e JOIN buckets b ON b.vec_id = e.vec_id
)"""

ORACLE_Q55 = (
    _SQL_BUCKET_VECS
    + f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket AS bucket,
       ROUND(list_dot_product(a.v, b.v) / (a.norm * b.norm), 4) AS cos_sim
FROM vecs a JOIN vecs b
  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.v, b.v) / (a.norm * b.norm), 4) >= {SIM_THRESHOLD}
"""
)


# ---------------------------------------------------------------------------
# q140 — incremental shard-vs-lake EMBEDDING dedup: the vector twin of
# q123.  A new shard of embeddings (vec_id % 5 == 0) is admitted against
# the standing corpus: candidates are lake vectors sharing a
# sign-projection bucket (inverted-index probe, never shard x lake), the
# exact cosine runs only on candidates, and each shard vector reports
# its verdict with the best-matching lake vector (max cosine, min-id
# tie-break via the max-struct argmax) and the candidate fan-out.  In
# production the lake's bucket table is the standing vector index the
# daily shard probes — the same lifecycle as q123's fingerprint lake,
# and like q123's it is a WRITTEN artifact here: _lake_vec_index
# persists (vec_id, embedding, norm, bucket) as a parquet table
# bucketed by the sign-projection bucket once per embeddings version,
# so the probe join reads a bucketed scan with no lake-side exchange —
# only the shard shuffles (plan-asserted in tests/test_scale_patterns).
# ---------------------------------------------------------------------------
def _lake_vec_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import standing_index, table_path

    src = table_path(sf_dir, "embeddings")

    def build() -> DataFrame:
        buckets = _lsh_buckets(spark, sf_dir)
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding",
            F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("norm"),
        )
        return emb.join(buckets, "vec_id").where(
            F.pmod(F.col("vec_id"), F.lit(5)) != 0
        )

    return standing_index(
        spark, "lakevecs", [src], build, ["bucket"],
        sort_cols=["bucket", "vec_id"],
    )


def q140_incremental_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    buckets = _lsh_buckets(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding",
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("norm"),
    )
    is_new = F.pmod(F.col("vec_id"), F.lit(5)) == 0
    s = emb.join(buckets, "vec_id").where(is_new).alias("s")
    lk = _lake_vec_index(spark, sf_dir).alias("l")
    sim = F.round(
        _dot(F.col("s.embedding"), F.col("l.embedding"))
        / (F.col("s.norm") * F.col("l.norm")),
        4,
    )
    per = (
        s.join(lk, F.col("s.bucket") == F.col("l.bucket"))
        .select(
            F.col("s.vec_id").alias("vec_id"),
            F.col("l.vec_id").alias("lake_id"),
            sim.alias("cos_sim"),
        )
        .groupBy("vec_id")
        .agg(
            F.count("*").alias("n_candidates"),
            F.max(
                F.struct(
                    F.col("cos_sim").alias("c"), (-F.col("lake_id")).alias("ni")
                )
            ).alias("m"),
        )
        .select(
            "vec_id",
            "n_candidates",
            F.col("m.c").alias("best_cos"),
            (-F.col("m.ni")).alias("best_lake_id"),
        )
    )
    shard = emb.where(is_new).select("vec_id")
    status = F.when(
        F.col("best_cos") >= SIM_THRESHOLD, F.lit("near_dup_lake")
    ).otherwise(F.lit("kept"))
    return shard.join(per, "vec_id", "left").select(
        "vec_id",
        status.alias("status"),
        F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
        "best_lake_id",
        "best_cos",
    )


ORACLE_Q140 = (
    _SQL_BUCKET_VECS
    + f""",
cand AS (
    SELECT s.vec_id, l.vec_id AS lake_id,
           ROUND(list_dot_product(s.v, l.v) / (s.norm * l.norm), 4) AS cos_sim
    FROM vecs s JOIN vecs l ON s.bucket = l.bucket
    WHERE s.vec_id % 5 = 0 AND l.vec_id % 5 <> 0
),
per AS (
    SELECT vec_id, COUNT(*) AS n_candidates, MAX(cos_sim) AS best_cos
    FROM cand GROUP BY vec_id
),
best AS (
    SELECT c.vec_id, MIN(c.lake_id) AS best_lake_id
    FROM cand c JOIN per p ON c.vec_id = p.vec_id AND c.cos_sim = p.best_cos
    GROUP BY c.vec_id
)
SELECT sh.vec_id,
       CASE WHEN p.best_cos >= {SIM_THRESHOLD} THEN 'near_dup_lake'
            ELSE 'kept' END AS status,
       COALESCE(p.n_candidates, 0) AS n_candidates,
       b.best_lake_id, p.best_cos
FROM (SELECT vec_id FROM embeddings WHERE vec_id % 5 = 0) sh
LEFT JOIN per p USING (vec_id)
LEFT JOIN best b USING (vec_id)
"""
)


# ---------------------------------------------------------------------------
# Embedding int8 quantization: unit-normalize (so cosine == dot), then
# symmetric int8 quantization at scale 127.  Pure per-row array math —
# transform() lambdas evaluate JVM-side.  clamp(round(x/norm * 127))
# matches DuckDB exactly away from .5 boundaries, which the
# near-orthogonal double values never hit.
# ---------------------------------------------------------------------------
def _int8_quantize(vec_col, norm_col):
    """Symmetric int8 quantization of a unit-normalized vector —
    clamp(round(x/norm * 127)) — q147's quantized ranker.  The DuckDB
    twin below must stay the same expression."""
    return F.transform(
        vec_col,
        lambda x: F.greatest(
            F.lit(-127),
            F.least(
                F.lit(127),
                F.round(x.cast("double") / norm_col * 127).cast("int"),
            ),
        ),
    )


# DuckDB twin of _int8_quantize, used by ORACLE_Q147.
_SQL_INT8_QUANTIZE = (
    "list_transform(v, x -> CAST(GREATEST(-127, LEAST(127, "
    "ROUND(x / norm * 127))) AS INT))"
)


# ---------------------------------------------------------------------------
# q147 — hybrid rank fusion (RRF): combine a full-precision cosine
# ranking with an int8-quantized ranking via reciprocal-rank fusion —
# the standard retrieval pattern for (a) fusing heterogeneous rankers
# and (b) validating that a quantized index ranks like the exact one.
# Each ranker contributes its top-RRF_DEPTH per query; the fused score
# over the union is sum(1e9/(60+rank)) in INTEGER units (every
# denominator 61..70 rounds away from a .5 boundary, and integers
# compare identically in both engines — no float-summation hazard by
# construction), ties broken by neighbor id, final top-RRF_TOP kept.
# The quantized ranker's dot product is itself exact: int8 x int8 sums
# stay far under 2^53, so Spark's bigint aggregate and DuckDB's
# double list_dot_product produce the same integer regardless of
# order.  Scale shape: both rankers are broadcast-query x corpus scans
# (no corpus shuffle, q50's shape), the fusion is a self-outer-join of
# two tiny top-DEPTH tables.
# ---------------------------------------------------------------------------
RRF_K = 60
RRF_DEPTH = 10
RRF_TOP = 5


def q147_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding",
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("norm"),
    )
    base = emb.select(
        "vec_id", "embedding", "norm",
        _int8_quantize(F.col("embedding"), F.col("norm")).alias("qe"),
    )
    queries = base.where(F.col("vec_id") < N_QUERY).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("norm").alias("qnorm"),
        F.col("qe").alias("qqe"),
    )
    paired = base.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))

    dense_sim = F.round(
        _dot(F.col("qv"), F.col("embedding")) / (F.col("qnorm") * F.col("norm")), 6
    )
    int_dot = F.aggregate(
        F.zip_with(F.col("qqe"), F.col("qe"), lambda a, b: (a * b).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    scored = paired.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        dense_sim.alias("dsim"),
        int_dot.alias("qdot"),
    )
    w_dense = Window.partitionBy("query_id").orderBy(
        F.col("dsim").desc(), F.col("neighbor_id").asc()
    )
    w_quant = Window.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("neighbor_id").asc()
    )
    top_d = (
        scored.withColumn("rank_dense", F.row_number().over(w_dense))
        .where(F.col("rank_dense") <= RRF_DEPTH)
        .select("query_id", "neighbor_id", "rank_dense")
    )
    top_q = (
        scored.withColumn("rank_quant", F.row_number().over(w_quant))
        .where(F.col("rank_quant") <= RRF_DEPTH)
        .select("query_id", "neighbor_id", "rank_quant")
    )
    rrf_term = lambda r: F.coalesce(  # noqa: E731
        F.round(F.lit(1_000_000_000) / (F.lit(RRF_K) + r)).cast("bigint"),
        F.lit(0).cast("bigint"),
    )
    fused = (
        top_d.join(top_q, ["query_id", "neighbor_id"], "full_outer")
        .select(
            "query_id",
            "neighbor_id",
            "rank_dense",
            "rank_quant",
            (rrf_term(F.col("rank_dense")) + rrf_term(F.col("rank_quant"))).alias(
                "rrf_u"
            ),
        )
    )
    w_fused = Window.partitionBy("query_id").orderBy(
        F.col("rrf_u").desc(), F.col("neighbor_id").asc()
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w_fused))
        .where(F.col("fused_rank") <= RRF_TOP)
    )


ORACLE_Q147 = f"""
WITH base AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           SQRT(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS norm
    FROM embeddings
),
qz AS (
    SELECT vec_id, v, norm,
           {{Q}} AS qe
    FROM base
),
scored AS (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           ROUND(list_dot_product(q.v, e.v) / (q.norm * e.norm), 6) AS dsim,
           CAST(list_dot_product(CAST(q.qe AS DOUBLE[]), CAST(e.qe AS DOUBLE[])) AS BIGINT) AS qdot
    FROM qz q JOIN qz e ON e.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERY}
),
top_d AS (
    SELECT query_id, neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dsim DESC, neighbor_id) AS INT) AS rank_dense
    FROM scored QUALIFY rank_dense <= {RRF_DEPTH}
),
top_q AS (
    SELECT query_id, neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qdot DESC, neighbor_id) AS INT) AS rank_quant
    FROM scored QUALIFY rank_quant <= {RRF_DEPTH}
),
fused AS (
    SELECT COALESCE(d.query_id, q.query_id) AS query_id,
           COALESCE(d.neighbor_id, q.neighbor_id) AS neighbor_id,
           d.rank_dense, q.rank_quant,
           COALESCE(CAST(ROUND(1000000000.0 / ({RRF_K} + d.rank_dense)) AS BIGINT), 0)
           + COALESCE(CAST(ROUND(1000000000.0 / ({RRF_K} + q.rank_quant)) AS BIGINT), 0) AS rrf_u
    FROM top_d d FULL JOIN top_q q
      ON d.query_id = q.query_id AND d.neighbor_id = q.neighbor_id
)
SELECT query_id, neighbor_id, rank_dense, rank_quant, rrf_u,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf_u DESC, neighbor_id) AS INT) AS fused_rank
FROM fused
QUALIFY fused_rank <= {RRF_TOP}
""".replace("{Q}", _SQL_INT8_QUANTIZE)


# ---------------------------------------------------------------------------
# q57 — one k-means (Lloyd) iteration: assign every vector to its nearest
# seed centroid (the q54 assignment — broadcast codebook, no corpus
# shuffle), then recompute each cell's centroid as the positional mean.
# This is THE iterative-ML building block on an engine: iterating it is
# k-means; the per-iteration cost is one narrow pass + one groupBy
# (posexplode -> partial-aggregated avg), so an iteration at 100 TB
# shuffles only k*dim partial sums per executor, not the corpus.
# ---------------------------------------------------------------------------
def q57_kmeans_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned = _ivf_assigned(spark, sf_dir)
    return (
        assigned.select("cell", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("cell", "pos")
        .agg(
            F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid_v"),
            F.count("*").alias("n_members"),
        )
    )


# the assigned CTE is exactly q54's oracle prefix
_ORACLE_ASSIGNED = ORACLE_Q54.split(",\nscored AS")[0].replace(
    "WITH emb AS", "WITH emb AS"
)

ORACLE_Q57 = _ORACLE_ASSIGNED + """
SELECT cell, pos,
       ROUND(AVG(v_elem), 6) AS centroid_v,
       COUNT(*) AS n_members
FROM (SELECT cell,
             unnest(v) AS v_elem,
             CAST(unnest(range(0, len(v))) AS INT) AS pos
      FROM assigned)
GROUP BY cell, pos
"""


# ---------------------------------------------------------------------------
# q111 — per-dimension corpus statistics: the profiling pass every
# embedding pipeline runs before whitening, quantization-range selection,
# or drift monitoring.  posexplode flattens (vector -> 64 (dim, value)
# rows); ONE aggregation keyed on the 64 dims — partial (map-side)
# aggregation reduces each executor's contribution to 64 rows, so at
# 100 TB the shuffle carries n_executors*64 rows no matter the corpus
# size.  Per-dim value SUMS are made reduction-order-independent the
# same way as q109: round each value to 6 decimals, sum exactly in
# DECIMAL — so Spark's partial aggregation and DuckDB's serial scan
# produce bit-identical sums.  min/max/count are order-free already.
# ---------------------------------------------------------------------------
def q111_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(F.posexplode("embedding").alias("dim", "x")).select(
        "dim",
        F.round(F.col("x").cast("double"), 6).cast("decimal(18,6)").alias("xq"),
        F.col("x").cast("double").alias("xd"),
    )
    return flat.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("xq").cast("double").alias("sum_v"),
        (F.sum("xq").cast("double") / F.count("*")).alias("mean_v"),
        F.min("xd").alias("min_v"),
        F.max("xd").alias("max_v"),
    )


ORACLE_Q111 = """
WITH flat AS (
    SELECT i - 1 AS dim,
           CAST(ROUND(CAST(embedding[i] AS DOUBLE), 6) AS DECIMAL(18,6)) AS xq,
           CAST(embedding[i] AS DOUBLE) AS xd
    FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
)
SELECT dim, COUNT(*) AS n,
       CAST(SUM(xq) AS DOUBLE) AS sum_v,
       CAST(SUM(xq) AS DOUBLE) / COUNT(*) AS mean_v,
       MIN(xd) AS min_v,
       MAX(xd) AS max_v
FROM flat
GROUP BY dim
"""


# ---------------------------------------------------------------------------
# q161 — the embedding GRAM/COVARIANCE matrix: the distributed
# linear-algebra pass behind whitening, PCA, and ZCA preprocessing of an
# embedding corpus (q111's per-dimension stats generalized to pairwise).
# One narrow corpus pass expands each vector into its dim*(dim+1)/2
# upper-triangle products INSIDE codegen (nested HOF transform — no
# join, no per-row Python) and ONE map-side-combined aggregation keys on
# (i, j): every executor's contribution collapses to 2080 partial rows,
# so at 100 TB the shuffle carries n_executors * 2080 rows no matter the
# corpus size — the same partial-aggregation argument as q111/q109.
# Per-dim sums join back broadcast (64 rows) to center the covariance.
#
# Cross-engine exactness: products round to 6 decimals and sum EXACTLY
# — executor-side as int64 units of 1e-6 inside an Arrow batch (numpy
# einsum outer products; per-product HALF-AWAY-FROM-ZERO unit rounding
# `sign*floor(abs*1e6+0.5)` matches Spark's ROUND(x,6) and DuckDB's on
# every real product, 0 mismatches over 5.2M — pinned by
# tests/test_similarity_recall.py::test_gram_unit_rounding_matches_round6),
# then Spark-side as DECIMAL(38,0) unit sums (int64 would overflow past
# ~1e12 rows).  The first cut used a nested HOF pair expansion — same
# values, but HOFs are CodegenFallback (interpreted per element) and
# 2080 interpreted products/row was the measured hot path (6.4s at
# sf0.1; the Arrow partials run ~20x faster and, at 100 TB, each
# executor ships 2080 partial rows whatever its data size).  The final
# covariance divides full-precision doubles and rounds to 6 (boundaries
# measure-zero).  `+ 0.0` normalizes IEEE -0.0 — Spark's and DuckDB's
# ROUND can disagree on the ZERO SIGN for tiny negative covariances
# (measured: DuckDB ROUND(-1e-9, 6) = -0.0), which is numerically equal
# but hash-distinct.
# ---------------------------------------------------------------------------
EMB_DIM = 64  # embeddings table vector width (TESTDATA.md)
_GRAM_CHUNK = 512  # rows per einsum block: 512*64*64*8B = 16 MB peak


def _gram_partials(batches):
    """mapInPandas worker: per Arrow batch, the upper-triangle sums of
    per-product 1e-6 units (exact int64) — one 2080-row partial per
    batch regardless of batch size."""
    import numpy as np
    import pandas as pd

    iu, ju = np.triu_indices(EMB_DIM)
    for pdf in batches:
        if not len(pdf):
            continue
        m = np.stack(pdf["embedding"].values).astype(np.float64)
        acc = np.zeros(len(iu), dtype=np.int64)
        for s in range(0, len(m), _GRAM_CHUNK):
            blk = m[s : s + _GRAM_CHUNK]
            p = np.einsum("ni,nj->nij", blk, blk)[:, iu, ju]
            acc += (np.sign(p) * np.floor(np.abs(p) * 1e6 + 0.5)).astype(
                np.int64
            ).sum(axis=0)
        yield pd.DataFrame(
            {
                "i": iu.astype("int32"),
                "j": ju.astype("int32"),
                "cnt": np.full(len(iu), len(m), dtype="int64"),
                "u": acc,
            }
        )


def q161_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    parts = emb.select("embedding").mapInPandas(
        _gram_partials, "i int, j int, cnt bigint, u bigint"
    )
    gram = (
        parts.groupBy("i", "j")
        .agg(
            F.sum("cnt").alias("n"),
            # exact decimal unit sum -> scale shift by 1e6 is an exact
            # decimal operation; equals the oracle's SUM(DECIMAL(18,6))
            (F.sum(F.col("u").cast("decimal(38,0)")).cast("decimal(38,6)") / 1000000)
            .alias("sp"),
        )
    )
    dims = (
        emb.select(F.posexplode("embedding").alias("d", "xv"))
        .groupBy("d")
        .agg(
            F.sum(
                F.round(F.col("xv").cast("double"), 6).cast("decimal(18,6)")
            ).alias("s")
        )
    )
    di = dims.select(F.col("d").alias("i"), F.col("s").alias("si"))
    dj = dims.select(F.col("d").alias("j"), F.col("s").alias("sj"))
    cov = (
        F.col("sp").cast("double")
        - F.col("si").cast("double") * F.col("sj").cast("double") / F.col("n")
    ) / F.col("n")
    return (
        gram.join(F.broadcast(di), "i")
        .join(F.broadcast(dj), "j")
        .select(
            "i",
            "j",
            "n",
            F.col("sp").cast("double").alias("sum_xy"),
            (F.round(cov, 6) + F.lit(0.0)).alias("cov"),
        )
    )


ORACLE_Q161 = f"""
WITH flat AS (
    SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
           CAST(ROUND(CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[j+1] AS DOUBLE), 6)
                AS DECIMAL(18,6)) AS p
    FROM embeddings,
         UNNEST(range(0, {EMB_DIM})) t1(i), UNNEST(range(0, {EMB_DIM})) t2(j)
    WHERE j >= i
),
gram AS (SELECT i, j, COUNT(*) AS n, SUM(p) AS sp FROM flat GROUP BY 1, 2),
dims AS (
    SELECT CAST(d AS INT) AS d,
           SUM(CAST(ROUND(CAST(embedding[d+1] AS DOUBLE), 6) AS DECIMAL(18,6))) AS s
    FROM embeddings, UNNEST(range(0, {EMB_DIM})) t(d)
    GROUP BY 1
)
SELECT g.i, g.j, g.n, CAST(g.sp AS DOUBLE) AS sum_xy,
       ROUND((CAST(g.sp AS DOUBLE)
              - CAST(di.s AS DOUBLE) * CAST(dj.s AS DOUBLE) / g.n) / g.n, 6)
       + 0.0 AS cov
FROM gram g JOIN dims di ON di.d = g.i JOIN dims dj ON dj.d = g.j
"""


QUERIES = {
    "q50_ann_bruteforce": q50_ann_bruteforce,
    "q52_label_centroids": q52_label_centroids,
    "q54_ann_ivf": q54_ann_ivf,
    "q55_embedding_lsh_dedup": q55_embedding_lsh_dedup,
    "q147_hybrid_rrf": q147_hybrid_rrf,
    "q57_kmeans_iteration": q57_kmeans_iteration,
    "q161_embedding_covariance": q161_embedding_covariance,
    "q58_ann_pq_adc": q58_ann_pq_adc,
    "q59_product_quantization": q59_product_quantization,
    "q111_embedding_dim_stats": q111_embedding_dim_stats,
    "q140_incremental_embedding_dedup": q140_incremental_embedding_dedup,
}

ORACLE = {
    "q50_ann_bruteforce": ORACLE_Q50,
    "q52_label_centroids": ORACLE_Q52,
    "q54_ann_ivf": ORACLE_Q54,
    "q55_embedding_lsh_dedup": ORACLE_Q55,
    "q147_hybrid_rrf": ORACLE_Q147,
    "q57_kmeans_iteration": ORACLE_Q57,
    "q161_embedding_covariance": ORACLE_Q161,
    "q58_ann_pq_adc": ORACLE_Q58,
    "q59_product_quantization": ORACLE_Q59,
    "q111_embedding_dim_stats": ORACLE_Q111,
    "q140_incremental_embedding_dedup": ORACLE_Q140,
}
