"""ANN accuracy gate: the IVF index (q54) is hash-checked against its own
oracle for plan mechanics, but an index can be mechanically correct and
useless — recall against the exact brute-force top-k (q50) is the number
that matters.  Measured 1.0 at sf0.001 and 0.93 at sf0.01 (single-probe,
label-seeded codebook); the floor below is the regression tripwire, not
the spec.

The recall computation itself stays distributed (join + aggregate; one
scalar collected) — the same computation a 100 TB evaluation would run.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from tinymr_spark.operators.similarity import (
    TOP_K,
    q50_ann_bruteforce,
    q54_ann_ivf,
)

RECALL_FLOOR = 0.79


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    truth = q50_ann_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    approx = q54_ann_ivf(spark, sf_dir).select("query_id", "neighbor_id")
    hits = truth.join(approx, ["query_id", "neighbor_id"]).groupBy("query_id").count()
    recall = (
        truth.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(F.coalesce("count", F.lit(0)).alias("h"))
        .agg((F.sum("h") / (F.count("*") * TOP_K)).alias("recall"))
        .collect()[0][0]
    )
    assert recall >= RECALL_FLOOR, f"IVF recall@{TOP_K} degraded to {recall:.3f}"


def test_ml_minhash_lsh_recall_vs_exact_jaccard(spark, sf_dir):
    """q104 (pyspark.ml MinHashLSH) must recover nearly all pairs the
    exact shingle-Jaccard join (q41) scores well above its similarity
    cutoff.  With ML_LSH_TABLES single-hash tables a pair at similarity
    s is emitted with probability 1-(1-s)^k (>= 0.97 at s=0.45, k=6);
    the floor allows for HashingTF collisions shifting a few pairs
    across the boundary.  Measured 1.0 at k in {4,5,6,8} at sf0.001 and
    sf0.1 — this gate is what bounds how far the join width can be
    tuned down."""
    from tinymr_spark.operators.dedup import q41_dedup_jaccard, q104_ml_minhash_lsh

    truth = (
        q41_dedup_jaccard(spark, sf_dir)
        .where(F.col("jaccard") >= 0.45)
        .select("doc_a", "doc_b")
    )
    got = q104_ml_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    n_truth = truth.count()
    if n_truth == 0:
        return  # no strong pairs at this SF — nothing to gate
    n_hit = truth.join(got, ["doc_a", "doc_b"]).count()
    recall = n_hit / n_truth
    assert recall >= 0.9, f"ML MinHashLSH recall degraded to {recall:.3f}"


def test_row_local_bucket_matches_q53(spark, sf_dir):
    """Three-way pin of the sign-projection weight rule: the stream-side
    per-row fold (literal weights from similarity.lsh_plane_weights) must
    reproduce _lsh_buckets' posexplode+groupBy bucket for EVERY corpus
    vector — if the rule or the addition order ever drifts, this points at
    the cause instead of an opaque q159-vs-oracle hash mismatch."""
    from tinymr_spark.operators.similarity import _lsh_buckets
    from tinymr_spark.sources import load_table
    from tinymr_spark.streaming import _row_local_bucket

    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])
    folded = emb.select("vec_id", _row_local_bucket(dim).alias("bucket_fold"))
    ref = _lsh_buckets(spark, sf_dir)
    joined = folded.join(ref, "vec_id")
    n = joined.count()
    assert n == emb.count()
    mismatches = joined.where(F.col("bucket_fold") != F.col("bucket")).count()
    assert mismatches == 0


def test_gram_unit_rounding_matches_round6(spark, sf_dir):
    """q161's Arrow partials round each product to int64 1e-6 units with
    sign*floor(abs*1e6+0.5); this must equal Spark's ROUND(x, 6) (and
    DuckDB's, which the oracle uses) on EVERY real product — pins the
    half-away-from-zero equivalence so a corpus regeneration or numpy
    change that breaks it fails here, not as an opaque oracle hash
    mismatch."""
    import numpy as np

    from tinymr_spark.operators.similarity import EMB_DIM
    from tinymr_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    x = F.col("embedding")
    pairs = F.explode(
        F.flatten(
            F.transform(
                F.sequence(F.lit(0), F.lit(EMB_DIM - 1)),
                lambda i: F.transform(
                    F.sequence(i, F.lit(EMB_DIM - 1)),
                    lambda j: F.round(x[i].cast("double") * x[j].cast("double"), 6),
                ),
            )
        )
    )
    sp_units = np.round(
        np.array([r[0] for r in emb.select(pairs.alias("p")).collect()]) * 1e6
    ).astype(np.int64)
    m = np.stack([r["embedding"] for r in emb.select("embedding").collect()]).astype(
        np.float64
    )
    iu, ju = np.triu_indices(EMB_DIM)
    p = np.einsum("ni,nj->nij", m, m)[:, iu, ju].ravel()
    np_units = (np.sign(p) * np.floor(np.abs(p) * 1e6 + 0.5)).astype(np.int64)
    assert (np_units == sp_units).all()


def test_ml_lsh_hash_family_reproduced_bit_exact(spark):
    """The q104 oracle's re-derivation of pyspark.ml MinHashLSH is
    bit-exact: java.util.Random LCG coefficients (_ml_lsh_coefficients)
    + straight-line murmur3 over 16-char terms equal the library's own
    hash values, and the DuckDB CTE chain (_mm3_16_sql_ctes) equals the
    Python murmur3 over random terms."""
    import hashlib

    import duckdb
    from pyspark.ml.feature import HashingTF, MinHashLSH
    from pyspark.ml.functions import vector_to_array
    from pyspark.sql import functions as F

    from tinymr_spark.operators.dedup import (
        _ML_LSH_PRIME,
        _ml_lsh_coefficients,
        _mm3_16_sql_ctes,
    )

    MASK = 0xFFFFFFFF

    def mul32(a, b):
        return (a * b) & MASK

    def rotl(x, r):
        return ((x << r) | (x >> (32 - r))) & MASK

    def mm3_16(term: str) -> int:
        bs = term.encode()
        h = 42
        for i in range(4):
            w = bs[4 * i] | (bs[4 * i + 1] << 8) | (bs[4 * i + 2] << 16) | (
                bs[4 * i + 3] << 24
            )
            k = mul32(w, 0xCC9E2D51)
            k = rotl(k, 15)
            k = mul32(k, 0x1B873593)
            h = (h ^ k) & MASK
            h = rotl(h, 13)
            h = (mul32(h, 5) + 0xE6546B64) & MASK
        h ^= 16
        h ^= h >> 16
        h = mul32(h, 0x85EBCA6B)
        h ^= h >> 13
        h = mul32(h, 0xC2B2AE35)
        h ^= h >> 16
        return h

    # 1) python murmur3 == DuckDB CTE chain over random md5-16 terms
    # (parallel unnests zip, giving each term a distinct doc_id; the
    # generator's chain starts from ml_terms(doc_id, term))
    terms = [hashlib.md5(f"t{i}".encode()).hexdigest()[:16] for i in range(500)]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ml_terms AS SELECT unnest(?) AS term, "
        "unnest(range(1, ? + 1)) AS doc_id", [terms, len(terms)],
    )
    rows = con.execute(
        "WITH " + _mm3_16_sql_ctes()
        + " SELECT t.term, m.mm3 FROM ml_mm m JOIN ml_terms t USING (doc_id)"
    ).fetchall()
    assert len(rows) == len(terms)
    bad = [(t, got, mm3_16(t)) for t, got in rows if got != mm3_16(t)]
    assert not bad, bad[:3]

    # 2) coefficients + hash values == the library's, end to end
    data = [
        (1, sorted({hashlib.md5(s.encode()).hexdigest()[:16]
                    for s in ("a b c", "x y z", "q w e")})),
        (2, sorted({hashlib.md5(s.encode()).hexdigest()[:16]
                    for s in ("a b c", "m n o")})),
    ]
    df = spark.createDataFrame(data, "doc_id int, terms array<string>")
    vec = HashingTF(
        inputCol="terms", outputCol="features", numFeatures=1 << 18, binary=True
    ).transform(df)
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=6, seed=42
    ).fit(vec)
    got = {
        r["doc_id"]: [int(x) for x in r["hv"]]
        for r in model.transform(vec).select(
            "doc_id",
            F.transform(
                "hashes", lambda v: vector_to_array(v)[0].cast("bigint")
            ).alias("hv"),
        ).collect()
    }
    coefs = _ml_lsh_coefficients()
    for d, ts in data:
        elems = {mm3_16(t) % (1 << 18) for t in ts}
        mine = [min(((1 + e) * a + b) % _ML_LSH_PRIME for e in elems)
                for a, b in coefs]
        assert mine == got[d], (d, mine, got[d])
