"""Deduplication operators over `documents` / `embeddings` — exact,
shingle-Jaccard, MinHash, SimHash, embedding-cosine.  Beyond-reference
scope (SURVEY.md §2.5): the reference can only express these as
hand-written mapper/reducer code; here each is a declarative DataFrame
pipeline designed for the 100 TB layout:

* candidate generation is always inverted-index / banding (shuffle on a
  small key), never an all-pairs cross join;
* hashes are md5 (identical in Spark and DuckDB) so the oracle can verify
  signatures bit-for-bit;
* per-pair verification joins happen only on the candidate set.
"""

from __future__ import annotations

import pandas as pd  # module-level so PEP-563 stringified UDF type hints resolve

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tinymr_spark.operators.text import ngrams, with_tokens
from tinymr_spark.sources import load_table, spread_scan

HASH_P = 2147483647  # 2^31-1 — modulus of the universal hash family

# Fixed (a, b) pairs for the per-seed universal hashes (a*h + b) % HASH_P.
# Both operands stay under 2^31, so a*h < 2^62 is exact int64 arithmetic
# in Spark and DuckDB alike — no overflow, no hugeint promotion.
MINHASH_SEEDS = [
    (1103515245, 12345),
    (1664525, 1013904223),
    (22695477, 1),
    (69069, 362437),
    (214013, 2531011),
    (134775813, 7),
    (747796405, 1185372425),
    (1103527639, 54321),
]


def _hashed_shingles(spark, sf_dir, n=3, docs=None):
    """(doc_id, n_sh, hm) rows over distinct shingles: hm is the
    shingle's 60-bit md5 prefix reduced mod 2^31-1 — an 8-byte
    shuffle/join key instead of a 32-byte hex string, and md5 runs ONCE
    per shingle (per-seed minhashes derive from hm arithmetically).
    n_sh, the doc's distinct-shingle count, rides along so Jaccard needs
    no separate size join.

    `docs`: an already-tokenized (doc_id, toks) frame to shingle instead
    of re-scanning and re-tokenizing the corpus — q49 passes its
    checkpointed token table so its q45 leg shares the one tokenize pass.

    PLAN TRAP: the shingle array must stay an anonymous expression fed
    straight into explode().  Naming it in its own projection makes
    InferFiltersFromGenerate synthesize a size()>0 filter on the column,
    which predicate pushdown then inlines BELOW the token projection —
    re-evaluating filter(split(text)) per element_at, O(tokens^2) per
    doc (measured 4x slowdown end-to-end).  Hashing happens on the flat
    post-explode rows for the same reason."""
    if docs is None:
        docs = with_tokens(load_table(spark, sf_dir, "documents"))
    arr = F.array_distinct(ngrams(F.col("toks"), n))
    # n_sh is computed in its OWN projection BELOW the explode: size()
    # and explode() in one select puts the size expression in the
    # Project ABOVE the Generate, where it rebuilds the whole distinct-
    # ngram array per EXPLODED ROW — O(tokens^2) per doc whenever a
    # consumer actually evaluates n_sh (count() prunes it, which is why
    # the bench never saw it; the noop sink measured q41 at ~16s of
    # per-shingle recompute vs ~3s without, round-15 opt).  As a named
    # scalar attribute it crosses the Generate untouched and the array
    # pipeline runs twice per doc (size + explode), never per shingle.
    # The array itself stays anonymous inside both calls — naming IT
    # triggers the InferFiltersFromGenerate trap documented above.
    return docs.select("doc_id", F.size(arr).alias("n_sh"), "toks").select(
        "doc_id", "n_sh", F.explode(arr).alias("sh")
    ).select(
        "doc_id",
        "n_sh",
        (
            F.conv(F.substring(F.md5("sh"), 1, 15), 16, 10).cast("bigint") % HASH_P
        ).alias("hm"),
    )


def _minhash_signature(spark, sf_dir, docs=None):
    """One row per doc with columns mh0..mh7.  The mins are plain
    aggregates, so Spark's partial (map-side) aggregation shrinks the
    shuffle from n_shingles*n_seeds rows to n_docs rows."""
    hs = _hashed_shingles(spark, sf_dir, docs=docs)
    return hs.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("hm") + F.lit(b)) % HASH_P).alias(f"mh{i}")
            for i, (a, b) in enumerate(MINHASH_SEEDS)
        ]
    )


_SQL_SHINGLES = r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok,
               unnest(range(1, len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) + 1)) AS pos
        FROM documents
    ),
    shingles AS (
        SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS sh
        FROM toks a
        JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
    )
"""

_SQL_SEEDS_ROWS = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(MINHASH_SEEDS)
)

# DuckDB twin of _hashed_shingles + _minhash_signature.  CAST('0x'||hex)
# in DuckDB equals Spark's conv(hex,16,10) — verified bit-for-bit.  No
# DISTINCT after hashing: shingles is already distinct on the string, and
# a (vanishingly rare) hm collision must duplicate identically in both
# engines for exact parity.
_SQL_HASHED = (
    _SQL_SHINGLES
    + f"""
    , hashed AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) % {HASH_P} AS hm
        FROM shingles
    ),
    seeds AS (SELECT * FROM (VALUES {_SQL_SEEDS_ROWS}) AS t(seed, a, b)),
    sigs AS (
        SELECT doc_id, seed, MIN((a * hm + b) % {HASH_P}) AS mh
        FROM hashed, seeds
        GROUP BY doc_id, seed
    )
"""
)


# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy on a content fingerprint.  At 100 TB this is one
# shuffle on a 32-byte key; the representative (min doc_id) makes the result
# deterministic.
# ---------------------------------------------------------------------------
def q40_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


ORACLE_Q40 = """
SELECT md5(text) AS fp, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup: inverted index on 3-word shingles -> candidate
# pairs sharing >= 2 shingles -> exact Jaccard on candidates only.
# ---------------------------------------------------------------------------
# Boilerplate suppression (round 14; VERDICT r13 task 4): a shingle whose
# document frequency exceeds this cap is dropped from the inverted index
# before the self-join.  Without it one boilerplate shingle ("all rights
# reserved...") appearing in d docs makes a d^2 bucket — quadratic in the
# corpus on a real web crawl even though sf0.1's max bucket is only 25.
# This is the standard trade: a hot shingle carries ~no similarity signal
# (IDF ~ 0), so dropping it from candidate generation AND the n_common
# count makes the estimate conservative on boilerplate overlap, which is
# the point.  Set sizes (the Jaccard denominators) stay the TRUE distinct
# shingle counts — the cap prunes the index, it does not shrink the sets.
HOT_SHINGLE_DF_CAP = 64


def q41_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join on the 8-byte shingle hash; each exploded row carries its
    doc's set size, so |A| and |B| fall out of the pair aggregation and no
    separate size-lookup join is needed.

    Hot shingles (df > HOT_SHINGLE_DF_CAP) are removed first via a
    df-aggregate and a broadcast ANTI join.  Plan shape as built (pinned
    by tests/test_scale_patterns.py::test_q41_plan_shares_one_index_exchange;
    plans/r16/q41_executed.txt):
    the (doc_id, n_sh, hm) index is tokenized and localCheckpoint-ed
    UNPARTITIONED — the checkpoint job is map-side only (scan, tokenize,
    explode, hash; zero shuffles), so the result plan holds no FileScan
    and the corpus is tokenized once.  Three exchanges follow, all over
    the materialized index: the df-agg exchange (partial (hm, count)
    rows; the hot survivors broadcast into the anti join — tiny by
    construction), the self-join's hm exchange, which the b side REUSES
    (ReusedExchange — the index is shuffled once, not twice), and the
    pair-agg exchange on (doc_a, doc_b).  The worst join bucket is
    hard-capped by HOT_SHINGLE_DF_CAP, so the join stays sub-quadratic on
    a skewed 100 TB corpus by construction.

    The ``shuffle_hash`` hint matters: left alone, Catalyst broadcasts one
    side (the subtree is under the 10 MB threshold), which COMPUTES THE
    TOKENIZE+MD5 PIPELINE TWICE — once for the build, once for the probe.
    As a shuffled hash join, both sides are identical exchanges, AQE's
    ReuseExchange runs the pipeline once, and the pair aggregation reuses
    the join's output partitioning (measured 3.7s -> 1.9s at sf0.1; same
    hint applied to every self-join in this family: q45/q47/q55).  At
    cluster scale the per-partition build side is bounded by
    n_shingle_rows / shuffle_partitions — size partitions accordingly;
    SHJ beats SMJ here because inverted-index buckets are tiny and
    uniform (max 25 docs/shingle at sf0.1 — and now hard-capped at
    HOT_SHINGLE_DF_CAP by construction), so no sort is needed."""
    # No repartition before the cut: the checkpoint job is then pure
    # map-side (scan+tokenize+explode+hash, zero shuffles) and the
    # self-join's own hm exchange — reused by its b side — is the ONLY
    # full shuffle of the index.  (Checkpointing AFTER a repartition was
    # measured to shuffle the index twice: the LogicalRDD does not
    # surface the stored partitioning to the join, which adds an
    # ENSURE_REQUIREMENTS exchange on top — plans/r16/q41_executed.txt
    # captures the shape that matters: 0 FileScans in the result plan.)
    hs = _hashed_shingles(spark, sf_dir).localCheckpoint()
    # The df counts read the materialized index with map-side partial
    # counting — one tiny (hm, count) shuffle — and the hot survivors
    # broadcast (tiny by construction).
    hot = (
        hs.groupBy("hm")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > HOT_SHINGLE_DF_CAP)
        .select("hm")
    )
    idx = hs.join(F.broadcast(hot), "hm", "left_anti")
    a = idx.alias("a")
    b = idx.hint("shuffle_hash").alias("b")
    return (
        a.join(
            b,
            (F.col("a.hm") == F.col("b.hm")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count("*").alias("n_common"),
            F.min("a.n_sh").alias("na"),
            F.min("b.n_sh").alias("nb"),
        )
        .where(F.col("n_common") >= 2)
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.round(
                F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")), 4
            ).alias("jaccard"),
        )
    )


ORACLE_Q41 = (
    _SQL_HASHED
    + f"""
    , sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM hashed GROUP BY doc_id),
    dfreq AS (SELECT hm, COUNT(*) AS df FROM hashed GROUP BY hm),
    idx AS (
        SELECT h.doc_id, h.hm
        FROM hashed h JOIN dfreq USING (hm)
        WHERE df <= {HOT_SHINGLE_DF_CAP}
    ),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM idx a JOIN idx b ON a.hm = b.hm AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    )
SELECT doc_a, doc_b, n_common,
       ROUND(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
FROM common
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
"""
)


# ---------------------------------------------------------------------------
# SimHash: 16-bit signature from md5 nibbles of each token, weighted by
# term frequency — the blocking key of q47.  Bit math is done with
# div/mod so the identical computation runs on both engines.
# ---------------------------------------------------------------------------
def _simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tinymr_spark.operators.text import _tokens

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("w"))
        .withColumn("h", F.md5(F.col("tok")))
    )

    # One weighted contribution expression per bit j — the bit index is a
    # compile-time constant, so all 16 per-doc sums land in ONE
    # groupBy(doc_id) with 16 partially-aggregated sum columns instead of
    # exploding sequence(0,15) (a 16x row blowup through an extra
    # Exchange on (doc_id, j) plus a second Exchange on doc_id).  Each
    # sum is the identical integer total the exploded shape produced for
    # that (doc, j) group; summation order cannot change exact ints.
    def _contrib(j: int):
        # nibble value of hex char j/4, bit j%4 of it
        nib = F.conv(F.substring(F.col("h"), j // 4 + 1, 1), 16, 10).cast("int")
        bit = F.floor(nib / F.pow(F.lit(2), F.lit(j % 4))).cast("int") % 2
        return F.col("w") * (bit * 2 - 1)

    sums = tf.groupBy("doc_id").agg(
        *[F.sum(_contrib(j)).alias(f"s{j}") for j in range(16)]
    )
    bitvals = [
        F.when(F.col(f"s{j}") > 0, F.pow(F.lit(2), F.lit(j)).cast("long"))
        .otherwise(F.lit(0))
        for j in range(16)
    ]
    simhash = bitvals[0]
    for bv in bitvals[1:]:
        simhash = simhash + bv
    return sums.select("doc_id", simhash.cast("long").alias("simhash"))


# DuckDB twin of _simhash_signatures: a CTE chain ending in
# `sig(doc_id, simhash)`, which ORACLE_Q47 pairs on.
_SQL_SIMHASH_SIGS = r"""
WITH tf AS (
    SELECT doc_id, tok, COUNT(*) AS w, md5(tok) AS h
    FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS tok
          FROM documents)
    WHERE tok <> ''
    GROUP BY doc_id, tok
),
bits AS (
    SELECT doc_id, j,
           w * (((CAST(strpos('0123456789abcdef', substr(h, (j // 4) + 1, 1)) - 1 AS INT)
                 // CAST(POW(2, j % 4) AS INT)) % 2) * 2 - 1) AS c
    FROM tf, generate_series(0, 15) AS g(j)
),
sums AS (SELECT doc_id, j, SUM(c) AS s FROM bits GROUP BY doc_id, j),
sig AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN CAST(POW(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
    FROM sums
    GROUP BY doc_id
)"""


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup: candidate restriction by label (the cheap
# blocking key), exact cosine in double precision on candidates.
# ---------------------------------------------------------------------------
def _dot(a, b):
    """Left-to-right double dot product of two float-array columns.

    Deliberately the higher-order-function fold, NOT an unrolled
    ``a[0]*b[0] + a[1]*b[1] + ...`` expression chain: unrolling 64 terms
    was measured 4-8x SLOWER end-to-end (q44 10.9s -> 2.6s, q54 8.2s ->
    1.2s at sf0.1 on reverting) — the giant expression tree blows past
    whole-stage-codegen method limits and falls back to per-term
    interpreted eval, while ArrayAggregate evaluates the fold in one tight
    JVM loop over the unsafe array.  The fold's left-to-right IEEE
    accumulation order also matches DuckDB's ``list_dot_product``
    bit-for-bit, which the oracle hash-checks rely on.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pandas_dot():
    """Arrow-vectorized pair dot product, bit-identical to ``_dot``.

    ``np.cumsum(..., axis=1)`` accumulates strictly left-to-right in
    float64, so the last column equals the HOF fold's ``acc + a[i]*b[i]``
    sequence bit-for-bit (same products, same addition order) — the
    DuckDB ``list_dot_product`` parity that the oracle hash-checks is
    preserved.  Unlike the fold (CodegenFallback: ~4 us per 64-dim dot,
    interpreted per element), this runs one C loop per Arrow batch —
    measured 2.4x end-to-end on q44's ~200k candidate pairs at sf0.1.
    Built lazily: module-level @pandas_udf needs a SparkContext at import
    time, which executors don't have when unpickling this module.
    """
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def pdot(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = np.stack(a.values).astype(np.float64)
        mb = np.stack(b.values).astype(np.float64)
        return pd.Series(np.cumsum(ma * mb, axis=1)[:, -1])

    # The function is pure; the marking is an optimizer fence.  Both
    # consumers project the dot then filter on the projected value, and
    # CollapseProject was inlining the UDF into the Filter as a SECOND
    # ArrowEvalPython — every candidate pair crossed the Python boundary
    # twice (q44/q157 plans: 2 ArrowEvalPython nodes each).
    return pdot.asNondeterministic()


COS_DUP_THRESHOLD = 0.25  # synthetic embeddings are near-orthogonal (pair max
# ~0.51, p99 ~0.29); 0.25 keeps the verify step non-vacuous at every SF


def q44_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair volume here is O(sum of bucket^2) — the one similarity query
    whose dot products run at CANDIDATE scale, not corpus scale — so the
    pair dot uses the Arrow-vectorized ``_pandas_dot`` while the per-row
    norms stay on the JVM fold (corpus-scale, cheap, shares the subtree
    with the join sides)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Precompute each vector's norm ONCE before the join — computing it per
    # candidate pair would redo O(dim) work candidate-count times (the norm
    # value is bit-identical either way, so the oracle is unaffected).
    with_norm = emb.select(
        "vec_id", "label", "embedding",
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("norm"),
    )
    a = with_norm.alias("a")
    b = with_norm.alias("b")
    pdot = _pandas_dot()
    sim = pdot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.norm") * F.col("b.norm")
    )
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            F.round(sim, 4).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= COS_DUP_THRESHOLD)
    )


ORACLE_Q44 = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
       ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             / (SQRT(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                * SQRT(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))),
             4) AS cos_sim
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
            / (SQRT(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
               * SQRT(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))),
            4) >= {COS_DUP_THRESHOLD}
"""



# ---------------------------------------------------------------------------
# Banded MinHash (the canonical shingle -> minhash -> band -> bucket-join
# pipeline): r=2 rows per band, b=4 bands over the 8-seed signature of
# _minhash_signature.  A pair is a candidate iff ALL rows of some band
# match — r tunes precision against recall.  Band keys are md5 of the
# concatenated row values, so the bucket join key is a fixed 32-byte
# string regardless of r, and banding is pure per-row array math on the
# one-row-per-doc signature (no extra shuffle beyond the signature
# groupBy).
# ---------------------------------------------------------------------------
BAND_R = 2
BAND_B = 4


def _band_rows(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bandkey) rows from a one-row-per-doc signature —
    pure per-row array math, no shuffle beyond the signature's own."""
    bandkeys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"mh{band * BAND_R + r}").cast("string")
                        for r in range(BAND_R)
                    ],
                )
            )
            for band in range(BAND_B)
        ]
    )
    return sig.select("doc_id", F.posexplode(bandkeys).alias("band", "bandkey"))


def q45_dedup_minhash_banded(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    bands = _band_rows(_minhash_signature(spark, sf_dir, docs=docs))
    a = bands.alias("a")
    b = bands.hint("shuffle_hash").alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bandkey") == F.col("b.bandkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_bands"))
    )


# DuckDB twin of _band_rows — shared by every oracle that joins on the
# banded signature (q45/q46-via-replace/q123).
_SQL_BANDS_CTE = f"""
    , bands AS (
        SELECT doc_id, seed // {BAND_R} AS band,
               md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS bandkey
        FROM sigs
        GROUP BY doc_id, band
    )"""

ORACLE_Q45 = (
    _SQL_HASHED
    + _SQL_BANDS_CTE
    + """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_bands
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bandkey = b.bandkey AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""
)

# ---------------------------------------------------------------------------
# Transitive dedup groups: connected components over the q45 LSH candidate
# pairs — the step that turns pairwise candidates into actual dedup
# decisions (keep one doc per component).
#
# Algorithm: alternating large-star / small-star contraction (Kiveris et
# al.) — each round is two groupBy+join passes and the edge set stays
# partitioned end to end; see connected_components below for the full
# contract, convergence test, and checkpoint rationale.  Every node ends
# pointing at its component's MINIMUM doc_id — exactly the oracle's
# min-reachable-id fixpoint (a recursive CTE), with no tie-break
# ambiguity.
# ---------------------------------------------------------------------------
def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round: every node connects its strictly-larger
    neighbors to the minimum of its closed neighborhood."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("mv", F.col("u")).alias("m"))
    )
    # The distinct is load-bearing at scale: a dup CLIQUE of size k emits
    # O(k^2) copies of (child, min) across overlapping neighborhoods, and
    # without collapsing them here the next round's join shuffles k^2
    # rows for a k-doc group (map-side partial agg can't save a join
    # probe side the way it saves a groupBy).
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient edges large->small, then connect every
    smaller neighbor (and the center) to the minimum neighbor."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    moved = (
        oriented.join(mins, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    centers = mins.select("u", F.col("m").alias("v"))
    return moved.union(centers).distinct()


def connected_components(edges: DataFrame) -> DataFrame:
    """Distributed connected components over an undirected edge list
    (columns u, v), via alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14).  Returns (doc_id, group_id) for every node that appears in
    an edge — a node whose only edges are self-loops forms its own
    singleton component — with group_id = the component's minimum node
    id.

    Each round is two groupBy+join passes; the edge set converges to a
    star forest — every node pointing at its component's minimum — in
    O(log^2 n) rounds w.h.p.  Nothing collects to the driver: the edge
    set stays partitioned the whole way; the only per-round driver
    traffic is one (count, checksum) row for the convergence test (a
    checksum collision between successive DISTINCT edge sets is ~2^-64
    per round).

    localCheckpoint (not persist) between rounds: each star round
    references its input ~4x, so under persist alone the LOGICAL plan
    still quadruples per round and Catalyst re-analysis dominates by
    round 3 (measured 1.5s -> 6.4s/round at sf0.1).  Checkpointing
    truncates the plan to a scan of the materialized partitions.  On a
    cluster, executor loss during the loop costs a recompute from the
    last checkpoint — the standard trade for iterative graph algorithms
    (GraphX checkpoints the same way); swap for reliable checkpoint() on
    unstable fleets.
    """
    base = edges.select("u", "v").distinct().localCheckpoint(eager=True)
    # Self-loops carry no connectivity and the star rounds' v > u
    # orientation would silently drop a node whose ONLY edge is a
    # self-loop; strip them from the contraction and re-add such nodes as
    # their own singleton components at the end.  Both scans read the
    # checkpointed partitions, not the upstream pipeline.
    self_nodes = base.where(F.col("u") == F.col("v")).select(
        F.col("u").alias("node")
    )
    edges = base.where(F.col("u") != F.col("v"))
    sig = None
    while True:
        nxt = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        row = nxt.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal accumulator: a bigint sum of 64-bit hashes overflows
            # under ANSI mode
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        edges = nxt
        if sig == (row["n"], row["h"]):
            break
        sig = (row["n"], row["h"])
    # At the fixed point each non-root node carries exactly one edge to
    # its root; the min-agg is an identity pass kept as a structural
    # guarantee, and roots map to themselves (min-reachable-id semantics
    # include the root node).
    children = edges.groupBy("u").agg(F.min("v").alias("group_id"))
    roots = edges.select("v").distinct().withColumn("group_id", F.col("v"))
    out = children.select(F.col("u").alias("doc_id"), "group_id").union(
        roots.select(F.col("v").alias("doc_id"), "group_id")
    )
    singletons = self_nodes.join(
        out, self_nodes["node"] == out["doc_id"], "left_anti"
    ).select(F.col("node").alias("doc_id"), F.col("node").alias("group_id"))
    return out.union(singletons).select(
        F.col("doc_id").cast("long"), F.col("group_id").cast("long")
    )


def q46_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate groups: connected components over the q45 LSH
    candidate graph — fully distributed (the previous finish was a
    driver-side union-find over a collected spanning forest, which is
    O(nodes-in-dup-groups) driver memory: billions of rows at 100 TB
    with a 30% dup rate).

    The contraction runs its rounds eagerly (localCheckpoint), so the
    group table is cached per (sf_dir, corpus file version) on the
    session — the lake contract: dup groups are materialized once per
    immutable corpus snapshot and reused by every downstream consumer
    (q118's representative selection, plan tooling), same freshness
    keying as the ML-LSH index and the staged layouts."""
    import os

    from tinymr_spark.sources import file_version, session_cache

    cache = session_cache(spark, "_tinymr_cc_groups_cache")
    key = (sf_dir, file_version(os.path.join(sf_dir, "documents.parquet")))
    if key not in cache:
        pairs = q45_dedup_minhash_banded(spark, sf_dir)
        grp = connected_components(
            pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        ).persist()
        # A regenerated corpus file at the same path supersedes the old
        # snapshot: pop and release its entry (same stale-eviction policy
        # as the ML-LSH index cache below) so the superseded persisted
        # partitions — and, once unreferenced, the contraction's
        # localCheckpoint blocks behind them — don't accumulate for the
        # session's lifetime.
        for stale in [k for k in cache if k[0] == sf_dir and k != key]:
            cache.pop(stale).unpersist()
        cache[key] = grp
    return cache[key]


ORACLE_Q46 = (
    ORACLE_Q45.replace("WITH toks AS", "WITH RECURSIVE toks AS", 1)
    .replace(
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_bands\nFROM bands a JOIN bands b\n  ON a.band = b.band AND a.bandkey = b.bandkey AND a.doc_id < b.doc_id\nGROUP BY 1, 2",
        """, pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bandkey = b.bandkey AND a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, r) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, reach.r
        FROM edges e JOIN reach ON reach.node = e.src
    )
SELECT node AS doc_id, MIN(r) AS group_id
FROM reach
GROUP BY node""",
    )
)


# ---------------------------------------------------------------------------
# q49 — the full corpus-prep funnel, the composed pipeline a 100 TB
# pretraining corpus actually runs: language filter -> quality gate
# (tokens + stopword ratio, q33/q39) -> repetition gate (q87's
# unique/top-token/dup-bigram signals) -> benchmark decontamination
# (q88's 4-gram overlap) -> exact dedup (q40's fingerprint, keep min
# doc_id) -> greedy near-dup drop (any doc with an EARLIER q45 LSH
# candidate partner goes; single-pass policy, the transitive version is
# q46).  Output is the funnel itself: docs surviving each stage.
#
# Scale shape — ONE pass over the corpus, not one per stage: each doc
# gets cumulative survival flags, its funnel depth = their sum, and
# explode(sequence(0, depth)) + groupBy counts every stage in a single
# aggregation.  The decontamination and near-dup sets are tiny by
# construction and enter as broadcast anti-join flags; the only
# full-width exchange is the fingerprint window (the same shuffle exact
# dedup pays anyway).
# ---------------------------------------------------------------------------
TOP_TOKEN_MAX = 0.2
DUP_BIGRAM_MAX = 0.1

_STAGES = ["all", "lang", "quality", "repetition", "decontaminated",
           "exact_dedup", "near_dedup"]


def q49_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from tinymr_spark.operators.text import (
        MAX_STOP_RATIO,
        MIN_TOKENS,
        STOPWORDS,
        mode_token_count,
    )

    # Tokenize the corpus ONCE (guide §2.4 / the q38 localCheckpoint
    # pattern): the funnel projection, the two disjoint 4-gram explodes
    # (bench 1/97 + probe 96/97), and q45's shingle pipeline each
    # re-scanned and re-tokenized `documents` — 4 executed-plan parquet
    # scans + tokenizes per run.  Materializing (doc_id, lang, fp, toks)
    # bounds the checkpoint at one pass of the token table (fp = md5 of
    # text is folded in first so the raw text bytes are NOT
    # materialized) and every consumer reads the same ExistingRDD leaf.
    # At 100 TB this trades three repeated scan+split passes for one
    # sequential local-disk materialization of the columns all four
    # consumers need anyway.
    docs = (
        with_tokens(load_table(spark, sf_dir, "documents"))
        .select("doc_id", "lang", F.md5("text").alias("fp"), "toks")
        .localCheckpoint()
    )
    toks = F.col("toks")
    n_tok = F.size(toks)
    staged = docs.withColumn("bigrams", ngrams(toks, 2)).select(
        "doc_id",
        "lang",
        "fp",
        n_tok.alias("n_tokens"),
        (F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))) / n_tok).alias("stop_ratio"),
        # Mode count via q87's shared sorted-run fold (O(n log n) per row
        # vs the old O(unique*n) nested-HOF shape; value-identical — max
        # frequency == max sorted-run length).  Still conditional: docs
        # dead after the cheap gates skip it (funnel counts unaffected:
        # c3 is already false there).
        F.when(
            (F.col("lang") == "en") & (n_tok >= MIN_TOKENS),
            mode_token_count(toks).cast("double") / n_tok,
        ).alias("top_token_frac"),
        F.when(
            F.size("bigrams") > 0,
            F.lit(1.0) - F.size(F.array_distinct(F.col("bigrams"))).cast("double")
            / F.size("bigrams"),
        )
        .otherwise(0.0)
        .alias("dup_bigram_frac"),
    )

    grams = docs.select(
        "doc_id", F.explode(F.array_distinct(ngrams(toks, 4))).alias("ngram")
    )
    bench = grams.where(F.col("doc_id") % 97 == 0).select("ngram").distinct()
    contaminated = (
        grams.where(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), "ngram")
        .select("doc_id")
        .distinct()
        .withColumn("is_cont", F.lit(True))
    )
    dup_b = (
        q45_dedup_minhash_banded(spark, sf_dir, docs=docs)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )

    flagged = staged.join(F.broadcast(contaminated), "doc_id", "left").join(
        F.broadcast(dup_b), "doc_id", "left"
    )
    c1 = F.col("lang") == "en"
    c2 = c1 & (F.col("n_tokens") >= MIN_TOKENS) & (F.col("stop_ratio") <= MAX_STOP_RATIO)
    c3 = c2 & (F.col("top_token_frac") <= TOP_TOKEN_MAX) & (
        F.col("dup_bigram_frac") <= DUP_BIGRAM_MAX
    )
    c4 = c3 & (F.col("doc_id") % 97 != 0) & F.col("is_cont").isNull()
    flagged = flagged.withColumn("c4", c4).withColumn(
        # windows can't appear inside the later explode projection —
        # materialize the per-fingerprint representative id first
        "keep_id",
        F.min(F.when(F.col("c4"), F.col("doc_id"))).over(Window.partitionBy("fp")),
    )
    c5 = F.col("c4") & (F.col("doc_id") == F.col("keep_id"))
    c6 = c5 & F.col("is_dup").isNull()
    depth = sum(
        (c.cast("int") for c in (c1, c2, c3, F.col("c4"), c5, c6)), F.lit(0)
    )
    names = F.array(*[F.lit(s) for s in _STAGES])
    return (
        flagged.select(F.explode(F.sequence(F.lit(0), depth)).alias("stage_ord"))
        .groupBy("stage_ord")
        .agg(F.count("*").alias("n_docs"))
        .select(
            F.col("stage_ord").cast("int").alias("stage_ord"),
            F.element_at(names, F.col("stage_ord") + 1).alias("stage"),
            "n_docs",
        )
    )


def _oracle_q49() -> str:
    from tinymr_spark.operators.text import MAX_STOP_RATIO, MIN_TOKENS

    return (
        r"""
WITH staged AS (
    SELECT doc_id, lang, md5(text) AS fp, len(toks) AS n_tokens,
           CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
               / len(toks) AS stop_ratio,
           CAST(list_max(list_transform(list_distinct(toks),
                    tk -> len(list_filter(toks, x -> x = tk)))) AS DOUBLE)
               / len(toks) AS top_token_frac,
           CASE WHEN len(bigrams) > 0
                THEN 1 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams)
                ELSE 0.0 END AS dup_bigram_frac
    FROM (SELECT doc_id, lang, text, toks,
                 list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bigrams
          FROM (SELECT doc_id, lang, text,
                       list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
                FROM documents))
),
g4 AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(range(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS ngram
    FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
          FROM documents)
),
contaminated AS (
    SELECT DISTINCT g.doc_id
    FROM g4 g JOIN (SELECT DISTINCT ngram FROM g4 WHERE doc_id % 97 = 0) b USING (ngram)
    WHERE g.doc_id % 97 <> 0
),
dup_b AS (
    SELECT DISTINCT doc_b AS doc_id FROM (
"""
        + ORACLE_Q45
        + r"""
    )
),
k1 AS (SELECT * FROM staged WHERE lang = 'en'),
k2 AS (SELECT * FROM k1 WHERE n_tokens >= """
        + f"{MIN_TOKENS} AND stop_ratio <= {MAX_STOP_RATIO}"
        + r"""),
k3 AS (SELECT * FROM k2 WHERE top_token_frac <= """
        + f"{TOP_TOKEN_MAX} AND dup_bigram_frac <= {DUP_BIGRAM_MAX}"
        + r"""),
k4 AS (SELECT * FROM k3
       WHERE doc_id % 97 <> 0
         AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
k5 AS (SELECT fp, MIN(doc_id) AS doc_id FROM k4 GROUP BY fp),
k6 AS (SELECT * FROM k5 WHERE doc_id NOT IN (SELECT doc_id FROM dup_b))
SELECT CAST(0 AS INT) AS stage_ord, 'all' AS stage, (SELECT COUNT(*) FROM documents) AS n_docs
UNION ALL SELECT 1, 'lang', (SELECT COUNT(*) FROM k1)
UNION ALL SELECT 2, 'quality', (SELECT COUNT(*) FROM k2)
UNION ALL SELECT 3, 'repetition', (SELECT COUNT(*) FROM k3)
UNION ALL SELECT 4, 'decontaminated', (SELECT COUNT(*) FROM k4)
UNION ALL SELECT 5, 'exact_dedup', (SELECT COUNT(*) FROM k5)
UNION ALL SELECT 6, 'near_dedup', (SELECT COUNT(*) FROM k6)
"""
    )


ORACLE_Q49 = _oracle_q49()


# ---------------------------------------------------------------------------
# SimHash-banded near-dup: the pairing step on top of _simhash_signatures'
# 16-bit signatures.  Pigeonhole blocking — split the signature into two 8-bit
# halves; any pair within hamming distance <= 3 of BOTH-half corruption
# still shares at least one intact half when <= floor(16/2/... ) — here
# the standard guarantee: distance <= 1 per half, so candidates = pairs
# sharing either half, verified with an exact popcount(xor) <= HAMMING_MAX
# filter.  Join key is a (band, 8-bit value) pair — tiny, uniform; the
# cross product never materializes.
# ---------------------------------------------------------------------------
HAMMING_MAX = 3


def q47_dedup_simhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = _simhash_signatures(spark, sf_dir)  # (doc_id, simhash)
    halves = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band"), (F.col("simhash") / 256).cast("int").alias("hv")),
                F.struct(F.lit(1).alias("band"), (F.col("simhash") % 256).cast("int").alias("hv")),
            )
        ).alias("h"),
    ).select("doc_id", "simhash", F.col("h.band").alias("band"), F.col("h.hv").alias("hv"))
    # Pairing stays a (band, hv)-keyed self-JOIN deliberately: an
    # alternative that collect_lists each bucket and generates pairs with
    # array HOFs was built and measured this round — it runs the simhash
    # pipeline once instead of twice, but it materializes a bucket's
    # entire O(|bucket|^2) pair array in memory before exploding where
    # the join STREAMS the probe side (sf0.1 has 540k candidate pairs:
    # noop 3.06s -> 4.41s, count 3.29s -> 7.09s with multi-second GC
    # spreads).  The streamed join is the scale-safe shape; the
    # double-computed upstream is now half as expensive (see
    # _simhash_signatures' single-aggregation fold).
    a = halves.alias("a")
    b = halves.hint("shuffle_hash").alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.hv") == F.col("b.hv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.min(hamming).alias("hamming"))
        .where(F.col("hamming") <= HAMMING_MAX)
    )


ORACLE_Q47 = (
    _SQL_SIMHASH_SIGS
    + f""",
halves AS (
    SELECT doc_id, simhash, 0 AS band, simhash // 256 AS hv FROM sig
    UNION ALL
    SELECT doc_id, simhash, 1 AS band, simhash % 256 AS hv FROM sig
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(MIN(bit_count(xor(a.simhash, b.simhash))) AS INT) AS hamming
FROM halves a JOIN halves b
  ON a.band = b.band AND a.hv = b.hv AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING MIN(bit_count(xor(a.simhash, b.simhash))) <= {HAMMING_MAX}
"""
)


# ---------------------------------------------------------------------------
# Content-defined chunking dedup (q48): sub-document dedup — the CDC
# technique from backup/storage systems applied to the token stream.  A
# token is a chunk BOUNDARY when its md5 falls in 1/CDC_DIV of hash
# space; chunk id = running count of boundaries before each position
# (a window running sum — the one shuffle, on doc_id).  Because
# boundaries depend only on token CONTENT, shared passages between
# documents chunk identically regardless of their offset — exactly why
# CDC beats fixed-size blocks — and duplicate chunks are then a plain
# fingerprint groupBy.  Returns cross-document duplicated chunks with
# their source count (the "dedupable bytes" report).
# ---------------------------------------------------------------------------
CDC_DIV = 8       # ~1/8 of tokens are boundaries -> expected chunk ~8 tokens
CDC_MIN_TOKENS = 4  # ignore trivial chunks


def q48_dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = with_tokens(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.posexplode("toks").alias("pos", "tok"))
    boundary = (
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint") % CDC_DIV == 0
    ).cast("int")
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = toks.select(
        "doc_id", "pos", "tok",
        F.coalesce(F.sum(boundary).over(w), F.lit(0)).alias("chunk_no"),
    )
    # collect_list order is NOT guaranteed across exchanges — sort the
    # (pos, tok) structs explicitly so the fingerprint is deterministic
    # under any physical plan (matches the oracle's ORDER BY pos).
    ordered_toks = F.transform(
        F.sort_array(F.collect_list(F.struct("pos", "tok"))), lambda s: s["tok"]
    )
    chunks = (
        chunked.groupBy("doc_id", "chunk_no")
        .agg(
            F.count("*").alias("n_tokens"),
            F.md5(F.array_join(ordered_toks, " ")).alias("chunk_fp"),
        )
        .where(F.col("n_tokens") >= CDC_MIN_TOKENS)
    )
    return (
        chunks.groupBy("chunk_fp")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("n_tokens").alias("n_tokens"),
        )
        .where(F.col("n_docs") >= 2)
    )


ORACLE_Q48 = rf"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok,
           unnest(range(0, len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')))) AS pos
    FROM documents
),
flagged AS (
    SELECT doc_id, pos, tok,
           CASE WHEN CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % {CDC_DIV} = 0
                THEN 1 ELSE 0 END AS b
    FROM toks
),
chunked AS (
    SELECT doc_id, pos, tok,
           COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_no
    FROM flagged
),
chunks AS (
    SELECT doc_id, chunk_no, COUNT(*) AS n_tokens,
           md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_fp
    FROM chunked
    GROUP BY doc_id, chunk_no
    HAVING COUNT(*) >= {CDC_MIN_TOKENS}
)
SELECT chunk_fp,
       COUNT(*) AS n_occurrences,
       COUNT(DISTINCT doc_id) AS n_docs,
       MIN(n_tokens) AS n_tokens
FROM chunks
GROUP BY chunk_fp
HAVING COUNT(DISTINCT doc_id) >= 2
"""


# ---------------------------------------------------------------------------
# q104 — MinHash LSH via pyspark.ml (the library-native counterpart of the
# hand-rolled q45): shingles -> binary HashingTF vectors ->
# MinHashLSH.approxSimilarityJoin.  Deterministic under the fixed seed,
# but the minhash functions are the library's own, so there is no SQL
# oracle — the driver records the rows-only check and
# tests/test_similarity_recall.py gates recall against q41's exact-Jaccard
# ground truth.  Same scale shape as q45: band buckets join-side,
# candidate verification distributed; the ml.Model itself holds only the
# hash coefficients (broadcast-sized).
# ---------------------------------------------------------------------------
ML_LSH_DIST_MAX = 0.6  # Jaccard distance cutoff (similarity >= 0.4)
# OR-amplification width.  Swept 8/6/5/4 at sf0.1 + sf0.001: recall vs
# exact-Jaccard truth (>= 0.45 sim) was 1.0 at EVERY width and the final
# pair set identical — the join cost is what varies (k=8: 3.9s, k=6:
# 1.4s, k=4: 1.0s at sf0.1; candidate volume scales with k).  6 keeps
# the theoretical per-pair candidacy floor at the gate boundary
# 1-(1-0.45)^6 = 0.97 (k=4 would thin it to 0.91 — too close to the 0.9
# recall gate to survive a corpus regeneration).
ML_LSH_TABLES = 6


class _JavaRandom:
    """java.util.Random's LCG (the JDK-documented algorithm) — enough to
    re-derive pyspark.ml MinHashLSH's hash-family coefficients from its
    seed: MinHashLSH.fit draws them as `new scala.util.Random(seed)` →
    java.util.Random, `(1 + nextInt(HASH_PRIME-1), nextInt(HASH_PRIME-1))`
    per table (Spark ml/feature/MinHashLSH.scala).  Verified bit-exact
    against the library (tests/test_similarity_recall.py)."""

    def __init__(self, seed: int):
        self.seed = (seed ^ 0x5DEECE66D) & ((1 << 48) - 1)

    def _next(self, bits: int) -> int:
        self.seed = (self.seed * 0x5DEECE66D + 0xB) & ((1 << 48) - 1)
        return self.seed >> (48 - bits)

    def next_int(self, bound: int) -> int:
        if bound <= 0:
            raise ValueError("bound must be positive")
        if (bound & -bound) == bound:  # power of two
            return (bound * self._next(31)) >> 31
        while True:
            bits = self._next(31)
            val = bits % bound
            if bits - val + (bound - 1) < (1 << 31):
                return val


_ML_LSH_PRIME = 2038074743  # MinHashLSH.HASH_PRIME
_ML_LSH_SEED = 42


def _ml_lsh_coefficients() -> list[tuple[int, int]]:
    rand = _JavaRandom(_ML_LSH_SEED)
    return [
        (1 + rand.next_int(_ML_LSH_PRIME - 1), rand.next_int(_ML_LSH_PRIME - 1))
        for _ in range(ML_LSH_TABLES)
    ]


def _mm3_16_sql_ctes() -> str:
    """Murmur3_x86_32(seed=42) of a FIXED 16-ASCII-char `term` column as
    a chain of MATERIALIZED CTEs from `ml_terms(doc_id, term)` to
    `ml_mm(doc_id, mm3)`.  16 bytes = exactly four little-endian words
    and NO tail, where Spark's hashUnsafeBytes/hashUnsafeBytes2 variants
    agree, so this is HashingTF's term index function whenever terms are
    md5-hex-16 strings (q104 feeds it exactly those).

    32-bit ops are emulated on BIGINT with explicit masks;
    multiplications split 16/16 so no intermediate exceeds 2^49 (DuckDB
    BIGINT overflow throws).  One MATERIALIZED CTE per mixing round is
    load-bearing, not style: a 32-bit op references its operand 2-3
    times, so a single straight-line expression (or inlined single-use
    CTEs) compounds to ~3^22 leaf nodes under DuckDB's substitution —
    the materialization barrier caps each round's expansion at ~10^2
    column references.  Verified bit-exact over random terms
    (tests/test_similarity_recall.py)."""

    def mul32(a: str, c: int) -> str:
        return (
            f"((({a}) % 65536) * {c} + "
            f"((((({a}) // 65536) * {c}) % 65536) * 65536)) % 4294967296"
        )

    def rotl(x: str, r: int) -> str:
        return f"((({x}) * {1 << r}) % 4294967296 + (({x}) // {1 << (32 - r)}))"

    def xor(a: str, b: str) -> str:
        return f"xor(CAST({a} AS BIGINT), CAST({b} AS BIGINT))"

    def mix_round(h_in: str, w: str) -> str:
        k = mul32(rotl(mul32(w, 0xCC9E2D51), 15), 0x1B873593)
        hx = rotl(xor(h_in, k), 13)
        return f"(({mul32(hx, 5)}) + 3864292196) % 4294967296"

    words = ", ".join(
        f"ascii(substr(term, {4 * i + 1}, 1)) + "
        f"ascii(substr(term, {4 * i + 2}, 1)) * 256 + "
        f"ascii(substr(term, {4 * i + 3}, 1)) * 65536 + "
        f"ascii(substr(term, {4 * i + 4}, 1)) * 16777216 AS w{i}"
        for i in range(4)
    )
    ctes = [f"ml_w AS MATERIALIZED (SELECT doc_id, {words} FROM ml_terms)"]
    prev, h = "ml_w", str(_ML_LSH_SEED)
    for i in range(4):
        carry = ", ".join(f"w{j}" for j in range(i + 1, 4))
        carry = f", {carry}" if carry else ""
        ctes.append(
            f"ml_h{i} AS MATERIALIZED (SELECT doc_id{carry}, "
            f"{mix_round(h, f'w{i}')} AS h FROM {prev})"
        )
        prev, h = f"ml_h{i}", "h"
    # fmix(h, lengthInBytes=16), split at the multiplications
    ctes.append(
        "ml_f0 AS MATERIALIZED (SELECT doc_id, "
        + mul32(xor(xor("h", "16"), f"({xor('h', '16')}) // 65536"), 0x85EBCA6B)
        + " AS h FROM ml_h3)"
    )
    ctes.append(
        "ml_f1 AS MATERIALIZED (SELECT doc_id, "
        + mul32(xor("h", "h // 8192"), 0xC2B2AE35)
        + " AS h FROM ml_f0)"
    )
    ctes.append("ml_mm AS (SELECT doc_id, " + xor("h", "h // 65536") + " AS mm3 FROM ml_f1)")
    return ",\n    ".join(ctes)


def _ml_lsh_index(spark: SparkSession, sf_dir: str):
    """The LSH index as two WRITTEN bucketed standing tables (the
    q123/q125/q140 artifact lifecycle, sources.standing_index) instead of
    a per-session persisted DataFrame — an LSH index is built once per
    CORPUS SNAPSHOT and queried many times, across sessions:

      * `mllsh_bands` (doc_id, entry, h) bucketed+sorted by (entry, h) —
        one row per (doc, hash table) with the pyspark.ml MinHashLSH
        minhash value (seed=42, the library's own coefficients).  The
        candidate self-join keys on (entry, h), which the scan already
        hash-partitions, so BOTH join sides plan with no shuffle
        exchange.
      * `mllsh_sets` (doc_id, shset) bucketed by doc_id — the distinct
        shingle set xxhash64-encoded to fixed 8-byte keys.  Pair
        verification joins candidates against it twice; the index side
        scans exchange-free, only the (small) candidate set shuffles
        into the bucket count.

    Freshness/GC follows standing_index: a regenerated documents file
    yields a new version hash, superseded versions are dropped from
    catalog and disk (tests/test_cache_staleness.py)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH
    from pyspark.ml.functions import vector_to_array

    from tinymr_spark.sources import (
        retire_artifact_roots,
        standing_index,
        table_path,
    )

    # r11 bumped the tags (md5-16 terms); sweep the r10 names' orphaned
    # trees + catalog entries (review r11) — no-op once clean
    retire_artifact_roots(
        spark, index_tags=(f"mllsh{ML_LSH_TABLES}_bands", "mllsh_sets")
    )
    path = table_path(sf_dir, "documents")

    docs = with_tokens(load_table(spark, sf_dir, "documents"))
    # MinHashLSH rejects all-zero vectors, so empty shingle sets must
    # be filtered — but on the CHEAP precondition (size(toks) >= 3),
    # not on size(shingles): a filter naming the shingle array gets
    # pushed below the projection and re-evaluates the O(tokens^2)
    # ngram expression per row (the _hashed_shingles plan trap;
    # measured 9.7s -> 1.3s at sf0.1 for this stage).  Persisted (lazily
    # — costs nothing when both tables already exist) so a fresh-version
    # rebuild pays the shingling corpus pass ONCE across the two
    # builders, not once each; released after both tables resolve.
    # Terms are FIXED 16-hex-char md5 prefixes of the raw shingles (not
    # the raw strings): HashingTF's murmur3 over 16 ASCII bytes is four
    # aligned words with no tail, which the DuckDB oracle reproduces as
    # straight-line SQL (_mm3_16_sql_ctes) — this is what upgraded q104
    # from rows-only to a full value-hash gate (round 11).  md5 is
    # bit-identical across Spark/DuckDB/Python; 64 bits of prefix keep
    # within-doc collisions negligible (and both engines would have to
    # collide IDENTICALLY to diverge).
    shingled = docs.where(F.size("toks") >= 3).select(
        "doc_id",
        F.array_distinct(
            F.transform(
                ngrams(F.col("toks"), 3),
                lambda s: F.substring(F.md5(s), 1, 16),
            )
        ).alias("shingles"),
    ).persist()

    def _build_bands() -> DataFrame:
        vec = HashingTF(
            inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True
        ).transform(shingled)
        model = MinHashLSH(
            inputCol="features", outputCol="hashes", numHashTables=ML_LSH_TABLES, seed=42
        ).fit(vec)
        # each hash table emits a length-1 vector; store its value as a
        # clean int64 join key (minhash values are integral doubles)
        return (
            model.transform(vec)
            .select("doc_id", F.posexplode("hashes").alias("entry", "hv"))
            .select("doc_id", "entry", vector_to_array("hv")[0].cast("bigint").alias("h"))
        )

    try:
        bands = standing_index(
            spark,
            f"mllsh{ML_LSH_TABLES}md5_bands",  # tag bump: md5-16 terms (r11)
            [path],
            _build_bands,
            key_cols=["entry", "h"],
            sort_cols=["entry", "h", "doc_id"],
        )
        sets = standing_index(
            spark,
            "mllshmd5_sets",  # tag bump: md5-16 terms (r11)
            [path],
            lambda: shingled.select(
                "doc_id",
                F.transform("shingles", lambda s: F.xxhash64(s)).alias("shset"),
            ),
            key_cols=["doc_id"],
        )
    finally:
        shingled.unpersist()
    return bands, sets


def q104_ml_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pyspark.ml MinHashLSH candidates (band table self-join — the same
    OR-amplified collision rule approxSimilarityJoin applies) verified by
    EXACT distinct-shingle Jaccard.  Deviation from the pre-r7 vector
    path: keyDistance measured Jaccard on the HashingTF index sets, where
    2^18-feature collisions could nudge a pair across the boundary; the
    standing-index migration verifies on the exact shingle sets instead.

    FULLY hash-gated since round 11 (previously the one rows-only query):
    ORACLE_Q104 replays the library's exact pipeline in DuckDB SQL —
    HashingTF's murmur3 term index (straight-line, possible because the
    terms are fixed 16-char md5 prefixes: _mm3_16_sql_ctes) and the
    MinHashLSH hash family with coefficients re-derived from the seed
    via java.util.Random's LCG (_ml_lsh_coefficients) — then the same
    band join and exact-Jaccard verification.  The recall gate vs q41's
    exact-Jaccard truth (>= 0.9, tests/test_similarity_recall.py) still
    runs on top."""
    bands, sets = _ml_lsh_index(spark, sf_dir)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.entry") == F.col("b.entry"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("shset").alias("set_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("shset").alias("set_b"))
    jdist = 1.0 - (
        F.size(F.array_intersect("set_a", "set_b"))
        / F.size(F.array_union("set_a", "set_b"))
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(jdist, 4).alias("jdist"))
        .where(F.col("jdist") <= ML_LSH_DIST_MAX)
    )


# ---------------------------------------------------------------------------
# q118 — duplicate-group representative selection: the step AFTER
# clustering that actually edits the corpus.  q46 resolves transitive
# duplicate groups; this picks each group's canonical survivor by a
# quality criterion (longest content here; any scalar score plugs in)
# with a deterministic doc_id tie-break, so re-runs and replicas keep
# the same documents.  ONE aggregation on group_id does everything: the
# argmax is a max over (n_chars, -doc_id) structs — struct ordering is
# lexicographic, so max score wins and the LOWEST doc_id breaks ties —
# with partial (map-side) aggregation keeping the shuffle at one struct
# per (partition, group).  No window, no second pass, no join-back.
# ---------------------------------------------------------------------------
def q118_group_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    groups = q46_dedup_groups(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    members = groups.join(docs, "doc_id")
    best = F.max(
        F.struct(F.col("n_chars").alias("c"), (-F.col("doc_id")).alias("nd"))
    )
    return (
        members.groupBy("group_id")
        .agg(F.count("*").alias("n_members"), best.alias("m"))
        .select(
            "group_id",
            (-F.col("m.nd")).alias("rep_doc_id"),
            "n_members",
            F.col("m.c").alias("max_chars"),
        )
    )


ORACLE_Q118 = f"""
WITH m AS (
    SELECT g.group_id, g.doc_id, d.n_chars
    FROM ({ORACLE_Q46}) g JOIN documents d USING (doc_id)
),
mx AS (
    SELECT group_id, MAX(n_chars) AS max_chars, COUNT(*) AS n_members
    FROM m GROUP BY group_id
)
SELECT mx.group_id, MIN(m.doc_id) AS rep_doc_id, mx.n_members, mx.max_chars
FROM m JOIN mx ON m.group_id = mx.group_id AND m.n_chars = mx.max_chars
GROUP BY mx.group_id, mx.n_members, mx.max_chars
"""


# ---------------------------------------------------------------------------
# q106 — exact-substring (span-level) dedup: which documents CONTAIN long
# token runs that also appear verbatim in other documents.  This is the
# span-level counterpart of q40's whole-document dedup: training corpora
# are full of documents that are not duplicates as a whole but share
# boilerplate paragraphs (licenses, navigation chrome, quoted posts), and
# the standard remedy (Lee et al., "Deduplicating Training Data Makes
# Language Models Better") keys on fixed-length token windows.
#
# Every K-token window (with multiplicity — positions, not distinct
# grams) is reduced to an 8-byte md5-derived key; a window is DUPLICATED
# when its gram occurs in >= 2 distinct documents.  Output: per document
# with any duplicated span, the span counts and duplicated fraction.
#
# Scale: the gram aggregation and the spans-to-dup-grams join both
# shuffle on the 8-byte hash — never the gram text; grams per doc =
# tokens-K+1, so the exploded stream is ~K bytes/token of input.  At
# 100 TB the gram->n_docs table (only grams with n_docs>=2 survive the
# HAVING) is far smaller than the span stream and AQE picks a broadcast
# for the back-join; the fallback is a plain hash join on the same key
# the aggregation just used.  No reference counterpart (the reference
# has no dedup at all, /root/reference/tinymr.py).
# ---------------------------------------------------------------------------
SUBSTR_K = 8


def q106_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = load_table(spark, sf_dir, "documents")
    # The span explosion (K element_ats + md5 per position) is the CPU
    # hotspot and runs in the SCAN stage — whose parallelism is the
    # parquet split count.  A small corpus in one file yields ONE split,
    # serializing the whole pipeline on one core (measured 3.0s -> 0.9s
    # at sf0.1 from this spread).  At 100 TB the scan itself provides
    # >= cores splits and this is a no-op.
    raw = spread_scan(spark, raw)
    docs = with_tokens(raw)
    # Anonymous array fed straight into explode — naming it trips the
    # InferFiltersFromGenerate O(tokens^2) plan trap (see _hashed_shingles).
    # n_spans must NOT be size(arr): Generate keeps `toks` in scope and a
    # sibling size(<gram array>) gets re-evaluated PER EXPLODED ROW —
    # rebuilding the whole K-gram array once per span, O(tokens^2 * K) per
    # doc (measured 21s -> 0.9s at sf0.1).  size(toks) is an O(1) length
    # read, and the span count follows arithmetically.
    arr = ngrams(F.col("toks"), SUBSTR_K)
    spans = docs.select(
        "doc_id",
        F.explode(arr).alias("gram"),
    ).select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10).cast("bigint") % HASH_P
        ).alias("gh"),
    )
    # ONE gh exchange computed once and read by BOTH consumers (the
    # dup-gram aggregation and the back-join probe): the previous shape
    # ran the span pipeline (K element_ats + md5 per position) TWICE in
    # the executed plan — the aggregation built its own exchange while
    # AQE broadcast a second full copy of the exploded stream for the
    # back-join (it fit under the 64 MB threshold at sf0.1; at 100 TB
    # that estimate explodes).  Two ingredients make the reuse stick:
    # the explicit repartition("gh") gives both consumers the same
    # exchange to canonicalize against, and the stream carries ONLY
    # (doc_id, gh) — a per-doc n_spans column here de-canonicalizes the
    # copies because the aggregation side prunes it (measured; same
    # failure mode as q38).  n_spans is re-derived below as the span
    # count per doc, which a LEFT join against the dup-gram set exposes
    # in the same aggregation that counts the duplicated spans.
    #
    # The isNotNull is vacuously true (gh = md5 of a non-null gram) but
    # load-bearing: the join infers isnotnull(gh) on its INNER side only,
    # and that one-sided filter would land above the aggregation branch's
    # copy of the exchange and de-canonicalize it (measured: both
    # REPARTITION exchanges materialized as separate stages).  Stated
    # explicitly below the repartition, both branches merge onto the
    # identical filtered child.
    spans = spans.where(F.col("gh").isNotNull()).repartition("gh")
    dup_grams = (
        spans.groupBy("gh")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
    )
    # LEFT join keeps every span row (dup_grams is distinct on gh, so no
    # row multiplication): count(*) per doc = n_spans exactly (a doc in
    # the output has >= 1 span by construction), count(n_docs) counts the
    # matched — duplicated — spans, and the n_dup_spans >= 1 filter
    # reproduces the inner join's doc set.  Values, schema, and types
    # match the previous shape (n_spans was size-derived int; the count
    # is cast back).
    return (
        spans.join(dup_grams, "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_spans"),
            F.count("n_docs").alias("n_dup_spans"),
        )
        .where(F.col("n_dup_spans") >= 1)
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            (F.col("n_dup_spans") / F.col("n_spans")).alias("dup_frac"),
        )
    )


ORACLE_Q106 = rf"""
WITH d AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
    FROM documents
),
spans AS (
    SELECT doc_id,
           len(toks) - {SUBSTR_K} + 1 AS n_spans,
           CAST(('0x' || substr(md5(array_to_string(toks[i:i + {SUBSTR_K} - 1], ' ')), 1, 15))
                AS BIGINT) % {HASH_P} AS gh
    FROM d, UNNEST(range(1, greatest(len(toks) - {SUBSTR_K} + 2, 1))) AS t(i)
),
dup_grams AS (
    SELECT gh FROM spans GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT doc_id, n_spans, COUNT(*) AS n_dup_spans,
       COUNT(*) / CAST(n_spans AS DOUBLE) AS dup_frac
FROM spans JOIN dup_grams USING (gh)
GROUP BY doc_id, n_spans
"""


# ---------------------------------------------------------------------------
# q107 — sketch mergeability, the algebraic property every 100 TB
# aggregation rests on: a corpus-level minhash signature computed by
# (a) sketching each (lang, source) shard independently and min-merging
# the partials is EXACTLY the signature computed by (b) one direct pass
# over the whole language slice — because min is associative and
# commutative, which is precisely why Spark can push it map-side and why
# shard-parallel sketching over 1000 executors is lossless.  The query
# emits both routes' signatures and the equality verdict per language;
# the oracle computes route (b) only and a literal TRUE, so a driver
# hash match proves the merged route reproduced it bit-for-bit.
# ---------------------------------------------------------------------------
def q107_minhash_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_tokens(load_table(spark, sf_dir, "documents"))
    arr = F.array_distinct(ngrams(F.col("toks"), 3))
    hashed = docs.select("lang", "source", F.explode(arr).alias("sh")).select(
        "lang",
        "source",
        (
            F.conv(F.substring(F.md5("sh"), 1, 15), 16, 10).cast("bigint") % HASH_P
        ).alias("hm"),
    )
    mins = [
        (i, F.min((F.lit(a) * F.col("hm") + F.lit(b)) % HASH_P))
        for i, (a, b) in enumerate(MINHASH_SEEDS)
    ]
    # route (a): per-shard partial sketches, then min-merge up to lang
    shard = hashed.groupBy("lang", "source").agg(
        *[m.alias(f"p{i}") for i, m in mins]
    )
    merged = shard.groupBy("lang").agg(
        *[F.min(f"p{i}").alias(f"m{i}") for i, _ in mins]
    )
    # route (b): one direct pass per lang
    direct = hashed.groupBy("lang").agg(*[m.alias(f"mh{i}") for i, m in mins])
    same = [F.col(f"m{i}") == F.col(f"mh{i}") for i, _ in mins]
    merge_ok = same[0]
    for c in same[1:]:
        merge_ok = merge_ok & c
    return merged.join(direct, "lang").select(
        "lang",
        *[F.col(f"mh{i}") for i, _ in mins],
        merge_ok.alias("merge_ok"),
    )


_SQL_SEEDS_EXPR = ", ".join(
    f"MIN(({a} * hm + {b}) % {HASH_P}) AS mh{i}"
    for i, (a, b) in enumerate(MINHASH_SEEDS)
)

ORACLE_Q107 = rf"""
WITH toks AS (
    SELECT doc_id, lang,
           list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
    FROM documents
),
shingles AS (
    SELECT DISTINCT doc_id, lang,
           array_to_string(toks[i:i + 2], ' ') AS sh
    FROM toks, UNNEST(range(1, greatest(len(toks) - 1, 1))) AS t(i)
),
hashed AS (
    SELECT lang,
           CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) % {HASH_P} AS hm
    FROM shingles
)
SELECT lang, {_SQL_SEEDS_EXPR}, TRUE AS merge_ok
FROM hashed
GROUP BY lang
"""


# ---------------------------------------------------------------------------
# q123 — incremental shard-vs-lake dedup: the pattern every production
# training-data pipeline runs daily.  The corpus lake is immutable and
# already deduplicated; a NEW shard of documents arrives and each new doc
# must be admitted or dropped against (a) the lake's exact fingerprints,
# (b) earlier docs in the same shard, and (c) the lake's near-dup LSH
# bands — WITHOUT re-deduplicating the lake.  No reference counterpart
# (the 345-line reference has no dedup at all); extends SURVEY §2.5.
#
# Shard split: doc_id % INC_SHARD_MOD == 0 plays the newly-arrived shard
# (~20% of docs) — a modular split rather than a doc_id cutoff so the
# definition is scale-invariant across SF dirs and literal in the oracle.
#
# Scale shape: the shard is small relative to the lake (a day's crawl vs
# years of corpus), and every decision is a key join AGAINST the lake,
# never a lake self-join:
#   * exact-vs-lake: join on the 16-byte md5 fingerprint — the lake side
#     IS a materialized fingerprint table bucketed by fp
#     (_lake_doc_index, written once per corpus version), so its scan
#     carries the hash partitioning and only the shard shuffles.
#   * exact-within-shard: min-doc_id-per-fp over the shard only (first
#     arrival wins, deterministic).
#   * near-vs-lake: q45's banded MinHash buckets (r=2, b=4), shard bands
#     probing the lake band table — likewise a WRITTEN standing index
#     bucketed by (band, bandkey); per-band buckets are tiny so the join
#     is an inverted-index probe, never all-pairs.
# The index derivation is oracle-equivalent to deriving inline (same
# corpus, same expressions), so the DuckDB twin still checks the whole
# flow end-to-end — now THROUGH the written artifact.
# Verdict precedence: exact_dup_lake > exact_dup_shard > near_dup_lake >
# kept, with ref_doc_id = the responsible lake/shard doc (min id, so the
# result is deterministic) and n_near_lake = how many distinct lake docs
# share a band (the review-queue signal).
# ---------------------------------------------------------------------------
INC_SHARD_MOD = 5


def _lake_doc_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """q123's standing LAKE indexes as WRITTEN bucketed tables (built
    once per corpus version via sources.standing_index): the exact
    fingerprint table bucketed by fp, and the LSH band table bucketed by
    (band, bandkey).  Each daily shard probe then joins against a
    bucketed SCAN — no exchange on the lake side, only the shard
    shuffles into the bucket count (plan-asserted in
    tests/test_scale_patterns.py) — which is the artifact lifecycle a
    production lake runs: pay the index write once per snapshot, not
    once per probing query."""
    from tinymr_spark.sources import standing_index, table_path

    src = table_path(sf_dir, "documents")
    is_lake = F.pmod(F.col("doc_id"), F.lit(INC_SHARD_MOD)) != 0

    def build_fp() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return (
            docs.where(is_lake)
            .select("doc_id", F.md5("text").alias("fp"))
            .groupBy("fp")
            .agg(F.min("doc_id").alias("lake_exact_id"))
        )

    def build_bands() -> DataFrame:
        return _band_rows(_minhash_signature(spark, sf_dir)).where(is_lake)

    lake_fp = standing_index(spark, "lakefp", [src], build_fp, ["fp"])
    lake_bands = standing_index(
        spark, "lakebands", [src], build_bands,
        ["band", "bandkey"], sort_cols=["band", "bandkey", "doc_id"],
    )
    return lake_fp, lake_bands


def q123_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    lake_fp, lake_bands = _lake_doc_index(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    is_new = F.pmod(F.col("doc_id"), F.lit(INC_SHARD_MOD)) == 0
    shard = docs.where(is_new).select("doc_id", F.md5("text").alias("fp"))
    shard_first = shard.groupBy("fp").agg(F.min("doc_id").alias("first_new_id"))
    ex = shard.join(lake_fp, "fp", "left").join(
        shard_first.hint("shuffle_hash"), "fp"
    )

    sb = (
        _band_rows(_minhash_signature(spark, sf_dir))
        .where(F.pmod(F.col("doc_id"), F.lit(INC_SHARD_MOD)) == 0)
        .alias("s")
    )
    lb = lake_bands.alias("l")
    near = (
        sb.join(
            lb,
            (F.col("s.band") == F.col("l.band"))
            & (F.col("s.bandkey") == F.col("l.bandkey")),
        )
        .groupBy(F.col("s.doc_id").alias("doc_id"))
        .agg(
            F.min(F.col("l.doc_id")).alias("near_lake_id"),
            F.countDistinct(F.col("l.doc_id")).alias("n_near_lake"),
        )
    )
    status = (
        F.when(F.col("lake_exact_id").isNotNull(), F.lit("exact_dup_lake"))
        .when(F.col("first_new_id") < F.col("doc_id"), F.lit("exact_dup_shard"))
        .when(F.col("near_lake_id").isNotNull(), F.lit("near_dup_lake"))
        .otherwise(F.lit("kept"))
    )
    ref = (
        F.when(F.col("lake_exact_id").isNotNull(), F.col("lake_exact_id"))
        .when(F.col("first_new_id") < F.col("doc_id"), F.col("first_new_id"))
        .otherwise(F.col("near_lake_id"))
    )
    return ex.join(near, "doc_id", "left").select(
        "doc_id",
        status.alias("status"),
        ref.alias("ref_doc_id"),
        F.coalesce("n_near_lake", F.lit(0)).alias("n_near_lake"),
    )


ORACLE_Q123 = (
    _SQL_HASHED
    + _SQL_BANDS_CTE
    + f""",
    fps AS (
        SELECT doc_id, md5(text) AS fp, doc_id % {INC_SHARD_MOD} = 0 AS is_new
        FROM documents
    ),
    shard AS (SELECT doc_id, fp FROM fps WHERE is_new),
    lake_fp AS (
        SELECT fp, MIN(doc_id) AS lake_exact_id FROM fps WHERE NOT is_new GROUP BY fp
    ),
    shard_first AS (SELECT fp, MIN(doc_id) AS first_new_id FROM shard GROUP BY fp),
    near AS (
        SELECT s.doc_id, MIN(l.doc_id) AS near_lake_id,
               COUNT(DISTINCT l.doc_id) AS n_near_lake
        FROM bands s JOIN bands l ON s.band = l.band AND s.bandkey = l.bandkey
        WHERE s.doc_id % {INC_SHARD_MOD} = 0 AND l.doc_id % {INC_SHARD_MOD} <> 0
        GROUP BY s.doc_id
    )
SELECT sh.doc_id,
       CASE WHEN lf.lake_exact_id IS NOT NULL THEN 'exact_dup_lake'
            WHEN sf.first_new_id < sh.doc_id THEN 'exact_dup_shard'
            WHEN nr.near_lake_id IS NOT NULL THEN 'near_dup_lake'
            ELSE 'kept' END AS status,
       CASE WHEN lf.lake_exact_id IS NOT NULL THEN lf.lake_exact_id
            WHEN sf.first_new_id < sh.doc_id THEN sf.first_new_id
            ELSE nr.near_lake_id END AS ref_doc_id,
       CAST(COALESCE(nr.n_near_lake, 0) AS BIGINT) AS n_near_lake
FROM shard sh
JOIN shard_first sf USING (fp)
LEFT JOIN lake_fp lf USING (fp)
LEFT JOIN near nr ON nr.doc_id = sh.doc_id
"""
)


# ---------------------------------------------------------------------------
# q127 — cross-source contamination matrix: WHICH sources duplicate each
# other, not just which documents.  Corpus curation runs this to decide
# source precedence (keep the canonical source, drop mirrors) and to
# detect benchmark bleed between crawls; it is the aggregate VIEW over
# the q45 near-dup pair table.  Pairs are keyed by the unordered source
# pair (least/greatest, so (A,B) and (B,A) accumulate together) and each
# cell reports the pair count plus how many distinct documents are
# entangled.  Scale shape: two small aggregations over the candidate
# pair table (already inverted-index-bounded); the doc-side distinct
# count explodes each pair into its two members first — a 2x row factor,
# not a join.
# ---------------------------------------------------------------------------
def q127_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = q45_dedup_minhash_banded(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    pw = (
        pairs.join(
            src.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "source", "source_a"
            ),
            "doc_a",
        )
        .join(
            src.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "source", "source_b"
            ),
            "doc_b",
        )
        .select(
            F.least("source_a", "source_b").alias("source_lo"),
            F.greatest("source_a", "source_b").alias("source_hi"),
            "doc_a",
            "doc_b",
        )
    )
    # ONE aggregation over the exploded members: each pair contributes
    # exactly two rows, so n_pairs = count/2 (always even — exact), and
    # the distinct-doc count reads off the same rows.  Two separate
    # aggregations over the unpersisted pw would run the whole
    # minhash-band self-join pipeline twice.
    return (
        pw.select(
            "source_lo", "source_hi", F.explode(F.array("doc_a", "doc_b")).alias("d")
        )
        .groupBy("source_lo", "source_hi")
        .agg(
            (F.count("*") / 2).cast("bigint").alias("n_pairs"),
            F.countDistinct("d").alias("n_docs"),
        )
    )


ORACLE_Q127 = f"""
WITH p AS ({ORACLE_Q45}),
pw AS (
    SELECT LEAST(sa.source, sb.source) AS source_lo,
           GREATEST(sa.source, sb.source) AS source_hi,
           p.doc_a, p.doc_b
    FROM p
    JOIN documents sa ON sa.doc_id = p.doc_a
    JOIN documents sb ON sb.doc_id = p.doc_b
),
np AS (
    SELECT source_lo, source_hi, COUNT(*) AS n_pairs
    FROM pw GROUP BY 1, 2
),
nd AS (
    SELECT source_lo, source_hi, COUNT(DISTINCT d) AS n_docs
    FROM (
        SELECT source_lo, source_hi, doc_a AS d FROM pw
        UNION ALL
        SELECT source_lo, source_hi, doc_b AS d FROM pw
    )
    GROUP BY 1, 2
)
SELECT np.source_lo, np.source_hi, np.n_pairs, nd.n_docs
FROM np JOIN nd USING (source_lo, source_hi)
"""


# ---------------------------------------------------------------------------
# q157 — SemDeDup-style semantic dedup (Abbas et al. 2023,
# arXiv:2303.09540): cluster embeddings, then within each cluster flag
# cosine-near-duplicates and keep ONE representative.  This is the modern
# embedding-space dedup used on web-scale pretraining corpora, composed
# entirely from pieces already in the engine (the reference's own
# "compose small tasks" ethos, /root/reference/docs.rst idioms):
#
#   1. cluster assignment = q54's `_ivf_assigned` (ONE-row broadcast
#      codebook, narrow map over the corpus — zero corpus shuffle);
#   2. cluster centroids = q57's positional-mean aggregation (map-side
#      combined: the shuffle carries k*dim partial sums per executor,
#      never the corpus), rounded to 6 decimals so both engines dot the
#      exact same centroid;
#   3. the intra-cluster pair block is HARD-BOUNDED: cells larger than
#      SEM_MAX_CLUSTER split into ceil(n/SEM_MAX_CLUSTER) deterministic
#      shards (vec_id % n_shards) before the self-join, so no all-pairs
#      block ever exceeds ~SEM_MAX_CLUSTER^2 pairs regardless of skew —
#      and the sharded assignment table is a WRITTEN standing index
#      bucketed by (cell, shard) (_semdedup_index), so the probe
#      self-join plans with NO shuffle exchange on either side and every
#      join block is bounded.
#      Cross-shard near-dups inside one cell are forgone — the same
#      recall-for-tractability trade SemDeDup itself makes at cluster
#      granularity (the oracle applies the identical sharding, so the
#      check is exact);
#   4. keeper rule = the paper's: within a duplicate pair, KEEP the
#      vector with the LOWER similarity-to-centroid (it preserves more
#      diversity), deterministic vec_id tie-break — q118's
#      any-scalar-plugs-in representative convention with csim as the
#      scalar.
#
# Output: one row per REMOVED vector with its cluster, shard, its
# similarity to the cluster centroid, the strongest duplicate edge that
# condemned it, and the keeper hint (lowest winning vec_id).  Pair
# cosine reuses q44's exact-verdict arithmetic (Arrow-vectorized pair
# dot, bit-identical to DuckDB's list_dot_product), rounded to 4.
# ---------------------------------------------------------------------------
SEM_DUP_THRESHOLD = 0.28  # ~p99 of intra-cell pair cosine on the synthetic
# near-orthogonal embeddings — non-vacuous at every SF without flagging half
# the corpus
SEM_MAX_CLUSTER = 128  # hard cap on any all-pairs block (128^2/2 pairs)


def _semdedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cluster-assignment table as a WRITTEN bucketed standing index
    (the q104/q123/q125 artifact lifecycle): (cell, shard, vec_id,
    embedding, norm, csim) bucketed+sorted by (cell, shard), built once
    per corpus snapshot.  The build pays the corpus passes (assignment,
    centroid aggregation, size counting); every probe SELF-JOINS the
    written table on exactly its bucketing, so both join sides plan with
    no shuffle exchange and the per-query cost drops from three corpus
    scans + 13 exchanges to two bucket scans + the final aggregation.
    Parquet round-trips float arrays and rounded doubles bit-exactly, so
    probing the copy is hash-identical to recomputing."""
    from tinymr_spark.operators.similarity import _ivf_assigned
    from tinymr_spark.sources import standing_index, table_path

    def _build() -> DataFrame:
        assigned = _ivf_assigned(spark, sf_dir)  # vec_id, embedding, norm2, cell
        # Exact positional-mean centroids, rounded: k*dim rows after the
        # map-side-combined aggregation, folded back into one array per
        # cell (struct sort on pos) — a broadcastable k-row table.
        cent = (
            assigned.select("cell", F.posexplode("embedding").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("cv"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                    lambda s: s["cv"],
                ).alias("cvec")
            )
            .select(
                "cell", "cvec", F.sqrt(_dot(F.col("cvec"), F.col("cvec"))).alias("cnorm")
            )
        )
        # Cell sizes -> shard counts: k rows, broadcast back (no corpus
        # shuffle).
        sizes = assigned.groupBy("cell").agg(
            F.ceil(F.count("*") / F.lit(float(SEM_MAX_CLUSTER)))
            .cast("bigint")
            .alias("n_shards")
        )
        return (
            assigned.join(F.broadcast(sizes), "cell")
            .join(F.broadcast(cent), "cell")
            .select(
                "cell",
                "vec_id",
                "embedding",
                F.sqrt("norm2").alias("norm"),
                (F.col("vec_id") % F.col("n_shards")).alias("shard"),
                F.round(
                    _dot(F.col("embedding"), F.col("cvec"))
                    / (F.sqrt("norm2") * F.col("cnorm")),
                    6,
                ).alias("csim"),
            )
        )

    return standing_index(
        spark,
        "semdedup",
        [table_path(sf_dir, "embeddings")],
        _build,
        key_cols=["cell", "shard"],
        sort_cols=["cell", "shard", "vec_id"],
    )


def q157_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    sharded = _semdedup_index(spark, sf_dir)
    a, b = sharded.alias("a"), sharded.alias("b")
    pdot = _pandas_dot()
    sim = F.round(
        pdot(F.col("a.embedding"), F.col("b.embedding"))
        / (F.col("a.norm") * F.col("b.norm")),
        4,
    )
    # a.vec_id < b.vec_id generates each pair once; the LOSER (removed
    # side) is the member with the HIGHER (csim, vec_id) — ties on the
    # rounded csim fall to the higher vec_id, so with a<b the tie loser
    # is b and the rule is total and deterministic.
    a_loses = (F.col("a.csim") > F.col("b.csim")) | (
        (F.col("a.csim") == F.col("b.csim")) & (F.col("a.vec_id") > F.col("b.vec_id"))
    )
    pairs = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.shard") == F.col("b.shard"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.cell").alias("cell"),
            F.col("a.shard").alias("shard"),
            sim.alias("cos_sim"),
            F.when(a_loses, F.col("a.vec_id")).otherwise(F.col("b.vec_id")).alias("removed"),
            F.when(a_loses, F.col("a.csim")).otherwise(F.col("b.csim")).alias("csim"),
            F.when(a_loses, F.col("b.vec_id")).otherwise(F.col("a.vec_id")).alias("keeper"),
        )
        .where(F.col("cos_sim") >= SEM_DUP_THRESHOLD)
    )
    return (
        pairs.groupBy(F.col("removed").alias("vec_id"), "cell", "shard", "csim")
        .agg(
            F.min("keeper").alias("keeper_hint"),
            F.max("cos_sim").alias("max_sim"),
            F.count("*").alias("n_dup_edges"),
        )
    )


ORACLE_Q157 = f"""
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
cents AS (
    SELECT cell, list(cv ORDER BY pos) AS cvec FROM (
        SELECT cell, pos, ROUND(AVG(x), 6) AS cv FROM (
            SELECT cell, unnest(v) AS x,
                   CAST(unnest(range(0, len(v))) AS INT) AS pos
            FROM assigned)
        GROUP BY cell, pos)
    GROUP BY cell
),
cent_n AS (
    SELECT cell, cvec, SQRT(list_dot_product(cvec, cvec)) AS cnorm FROM cents
),
sizes AS (
    SELECT cell, CAST(CEIL(COUNT(*) / {float(SEM_MAX_CLUSTER)}) AS BIGINT) AS n_shards
    FROM assigned GROUP BY cell
),
sharded AS (
    SELECT a.cell, a.vec_id, a.v, SQRT(a.norm2) AS norm,
           a.vec_id % s.n_shards AS shard,
           ROUND(list_dot_product(a.v, c.cvec) / (SQRT(a.norm2) * c.cnorm), 6) AS csim
    FROM assigned a JOIN sizes s USING (cell) JOIN cent_n c USING (cell)
),
pairs AS (
    SELECT a.cell, a.shard,
           ROUND(list_dot_product(a.v, b.v) / (a.norm * b.norm), 4) AS cos_sim,
           CASE WHEN (a.csim > b.csim) OR (a.csim = b.csim AND a.vec_id > b.vec_id)
                THEN a.vec_id ELSE b.vec_id END AS removed,
           CASE WHEN (a.csim > b.csim) OR (a.csim = b.csim AND a.vec_id > b.vec_id)
                THEN a.csim ELSE b.csim END AS csim,
           CASE WHEN (a.csim > b.csim) OR (a.csim = b.csim AND a.vec_id > b.vec_id)
                THEN b.vec_id ELSE a.vec_id END AS keeper
    FROM sharded a JOIN sharded b
      ON a.cell = b.cell AND a.shard = b.shard AND a.vec_id < b.vec_id
    WHERE ROUND(list_dot_product(a.v, b.v) / (a.norm * b.norm), 4) >= {SEM_DUP_THRESHOLD}
)
SELECT removed AS vec_id, cell, shard, csim,
       MIN(keeper) AS keeper_hint,
       MAX(cos_sim) AS max_sim,
       COUNT(*) AS n_dup_edges
FROM pairs
GROUP BY removed, cell, shard, csim
"""


QUERIES = {
    "q40_dedup_exact": q40_dedup_exact,
    "q41_dedup_jaccard": q41_dedup_jaccard,
    "q44_dedup_embedding": q44_dedup_embedding,
    "q45_dedup_minhash_banded": q45_dedup_minhash_banded,
    "q46_dedup_groups": q46_dedup_groups,
    "q49_corpus_pipeline": q49_corpus_pipeline,
    "q47_dedup_simhash_banded": q47_dedup_simhash_banded,
    "q48_dedup_cdc_chunks": q48_dedup_cdc_chunks,
    "q104_ml_minhash_lsh": q104_ml_minhash_lsh,
    "q106_substring_dedup": q106_substring_dedup,
    "q107_minhash_merge": q107_minhash_merge,
    "q118_group_representatives": q118_group_representatives,
    "q123_incremental_dedup": q123_incremental_dedup,
    "q127_contamination_matrix": q127_contamination_matrix,
    "q157_semdedup": q157_semdedup,
}

# DuckDB twin of the FULL library pipeline (see q104 docstring): terms,
# murmur3 feature indices, seed-derived minhash coefficients, band
# self-join, exact-Jaccard verify.  The threshold filters on the ROUNDED
# jdist exactly like the Spark side.
_ML_COEF_ROWS = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(_ml_lsh_coefficients())
)
ORACLE_Q104 = (
    _SQL_SHINGLES
    + f"""
    , ml_terms AS MATERIALIZED (
        SELECT DISTINCT doc_id, substr(md5(sh), 1, 16) AS term FROM shingles
    ),
    {_mm3_16_sql_ctes()},
    ml_feats AS (SELECT DISTINCT doc_id, mm3 % 262144 AS elem FROM ml_mm),
    ml_coefs AS (SELECT * FROM (VALUES {_ML_COEF_ROWS}) AS t(tbl, a, b)),
    ml_hashes AS (
        SELECT doc_id, tbl, MIN(((1 + elem) * a + b) % {_ML_LSH_PRIME}) AS h
        FROM ml_feats, ml_coefs
        GROUP BY doc_id, tbl
    ),
    ml_cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM ml_hashes x JOIN ml_hashes y
          ON x.tbl = y.tbl AND x.h = y.h AND x.doc_id < y.doc_id
    ),
    ml_sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
    ml_common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
SELECT doc_a, doc_b, jdist FROM (
    SELECT c.doc_a, c.doc_b,
           ROUND(1.0 - CAST(COALESCE(m.n_common, 0) AS DOUBLE)
                 / (sa.n_sh + sb.n_sh - COALESCE(m.n_common, 0)), 4) AS jdist
    FROM ml_cand c
    JOIN ml_sizes sa ON c.doc_a = sa.doc_id
    JOIN ml_sizes sb ON c.doc_b = sb.doc_id
    LEFT JOIN ml_common m ON c.doc_a = m.doc_a AND c.doc_b = m.doc_b
)
WHERE jdist <= {ML_LSH_DIST_MAX}
"""
)


ORACLE = {
    "q104_ml_minhash_lsh": ORACLE_Q104,
    "q40_dedup_exact": ORACLE_Q40,
    "q41_dedup_jaccard": ORACLE_Q41,
    "q44_dedup_embedding": ORACLE_Q44,
    "q45_dedup_minhash_banded": ORACLE_Q45,
    "q46_dedup_groups": ORACLE_Q46,
    "q49_corpus_pipeline": ORACLE_Q49,
    "q47_dedup_simhash_banded": ORACLE_Q47,
    "q48_dedup_cdc_chunks": ORACLE_Q48,
    "q106_substring_dedup": ORACLE_Q106,
    "q107_minhash_merge": ORACLE_Q107,
    "q118_group_representatives": ORACLE_Q118,
    "q123_incremental_dedup": ORACLE_Q123,
    "q127_contamination_matrix": ORACLE_Q127,
    "q157_semdedup": ORACLE_Q157,
}
