"""Text-analysis operators over the `documents` table.

Word count is the reference's flagship computation
(/root/reference/docs.rst:137-159); everything else generalizes it the way
a large-scale training-data pipeline needs: token stats, quality scoring,
language-ID heuristics, fingerprinting, n-gram frequencies.

All built-in pyspark.sql.functions (JVM/codegen, no Python UDFs in the hot
path) — at 100 TB these run entirely inside whole-stage codegen with the
parquet scan pruned to the columns used.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tinymr_spark.sources import load_table

# Tokenization shared by every query: split on whitespace, drop empties.
_TOKENIZE = r"\s+"

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


def _tokens(col):
    return F.filter(F.split(col, _TOKENIZE), lambda x: x != "")


def md5_int60(col):
    """60-bit integer reduction of md5(col) — the repo's cross-engine
    hash primitive (DuckDB twin:
    ``CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)``, verified
    bit-identical)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def with_tokens(df, src: str = "text", out: str = "toks"):
    """Materialize the token array as its own projection.

    Referencing `_tokens(text)` many times inside one expression tree
    (size guards, element_at per n-gram position) re-evaluates the
    split+filter per reference — O(tokens^2) work per row.  A separate
    projection makes downstream references plain attribute reads;
    Catalyst's CollapseProject keeps non-cheap multiply-referenced
    aliases in their own stage, so the split runs once per row.
    """
    return df.withColumn(out, _tokens(F.col(src)))


def mode_token_count(toks):
    """Per-row mode (most-frequent-token) COUNT as the longest run in the
    SORTED token array — one O(n log n) sort + one O(n) fold per row,
    replacing the nested-HOF shape (array_max over per-distinct-token
    filters), which is O(unique * n) comparisons per row and quadratic
    for exactly the low-vocabulary docs a repetition gate exists to flag.
    Zero shuffles — a per-row statistic stays per-row.  The empty-string
    accumulator seed cannot collide because `with_tokens` drops empty
    tokens.  Equivalence (max frequency == max sorted-run length) was
    checked exhaustively on sf0.1 before the q87 swap; q49 reuses the
    identical expression against the identical oracle arithmetic."""
    sorted_toks = F.array_sort(toks)
    acc0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def _run_step(acc, t):
        run = F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            t.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(sorted_toks, acc0, _run_step, lambda acc: acc["best"])


# ---------------------------------------------------------------------------
# Word count: explode + count — the distributed I1.
# ---------------------------------------------------------------------------
def q30_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


ORACLE_Q30 = r"""
SELECT word, COUNT(*) AS n
FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents)
WHERE word <> ''
GROUP BY word
"""


# ---------------------------------------------------------------------------
# Top-k words (reference idiom I2 — Counter.most_common).
# ---------------------------------------------------------------------------
def q31_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        q30_wordcount(spark, sf_dir)
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(15)
    )


ORACLE_Q31 = r"""
SELECT word, COUNT(*) AS n
FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents)
WHERE word <> ''
GROUP BY word
ORDER BY n DESC, word ASC
LIMIT 15
"""


# ---------------------------------------------------------------------------
# Per-document token statistics.
# ---------------------------------------------------------------------------
def q32_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_tokens(load_table(spark, sf_dir, "documents"))
    toks = F.col("toks")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        # exact integer half-up rounding (the q33 halfway class, r13):
        # char-count / token-count can land exactly on a 4-decimal
        # halfway point, where Spark and DuckDB round doubles apart
        (
            F.expr(
                "(length(regexp_replace(text, '\\\\s+', '')) * 20000L"
                " + size(toks)) div (2L * size(toks))"
            )
            / 10000.0
        ).alias("avg_token_len"),
        F.length("text").alias("text_len"),
    )


ORACLE_Q32 = r"""
SELECT doc_id,
       CAST(len(toks) AS INT)                 AS n_tokens,
       CAST(len(list_distinct(toks)) AS INT)  AS n_distinct_tokens,
       ((LENGTH(regexp_replace(text, '\s+', '', 'g')) * 20000
         + len(toks)) // (2 * len(toks))) / 10000.0 AS avg_token_len,
       CAST(LENGTH(text) AS INT)              AS text_len
FROM (SELECT doc_id, text,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
      FROM documents)
"""


# ---------------------------------------------------------------------------
# Quality scoring: stopword ratio, distinct-token ratio, length features —
# the standard cheap filters of an LLM data pipeline.
# ---------------------------------------------------------------------------
def q33_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 4-decimal rounding by EXACT INTEGER HALF-UP — round(a/b, 4) =
    # (a*20000 + b) div (2b), then /10000.0.  ROUND(double, 4) lands on
    # halfway cases here (quality_score is a mean of /n_tok ratios:
    # 37/160 = .23125 at sf0.1) where Spark and DuckDB round the
    # non-dyadic double in opposite directions BY DESIGN — the same
    # divergence class graph.py's fixed-point note documents, surfaced
    # by the r13 full-registry sf0.1 sweep.  Integer div is identical
    # everywhere; the final /10000.0 maps both engines to the same
    # nearest double.
    docs = with_tokens(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        "lang",
        F.size(F.col("toks")).alias("n_tokens"),
        (
            F.expr(
                "(size(filter(toks, x -> x in "
                "('the','a','of','and','to','in','is'))) * 20000L + size(toks))"
                " div (2L * size(toks))"
            )
            / 10000.0
        ).alias("stopword_ratio"),
        (
            F.expr(
                "(size(array_distinct(toks)) * 20000L + size(toks))"
                " div (2L * size(toks))"
            )
            / 10000.0
        ).alias("diversity"),
        (
            F.expr(
                "((size(filter(toks, x -> x in "
                "('the','a','of','and','to','in','is')))"
                " + size(array_distinct(toks))) * 20000L + 2L * size(toks))"
                " div (4L * size(toks))"
            )
            / 10000.0
        ).alias("quality_score"),
    )


ORACLE_Q33 = r"""
SELECT doc_id, lang,
       CAST(len(toks) AS INT) AS n_tokens,
       ((len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) * 20000
         + len(toks)) // (2 * len(toks))) / 10000.0 AS stopword_ratio,
       ((len(list_distinct(toks)) * 20000 + len(toks)) // (2 * len(toks)))
         / 10000.0 AS diversity,
       (((len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is')))
          + len(list_distinct(toks))) * 20000 + 2 * len(toks)) // (4 * len(toks)))
         / 10000.0 AS quality_score
FROM (SELECT doc_id, lang,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
      FROM documents)
"""


# ---------------------------------------------------------------------------
# Language-ID heuristic: stopword-hit scoring per language family.  (The
# testdata text is synthetic so the guess is mostly constant — the operator
# shape, not the linguistics, is the point.)
# ---------------------------------------------------------------------------
def q34_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_tokens(load_table(spark, sf_dir, "documents"))
    toks = F.col("toks")
    en = F.size(F.filter(toks, lambda x: x.isin("the", "a", "of", "and")))
    de = F.size(F.filter(toks, lambda x: x.isin("der", "die", "das", "und")))
    es = F.size(F.filter(toks, lambda x: x.isin("el", "la", "de", "y")))
    guess = (
        F.when((en >= de) & (en >= es), "en")
        .when(de >= es, "de")
        .otherwise("es")
    )
    return docs.select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        en.alias("en_hits"),
        de.alias("de_hits"),
        es.alias("es_hits"),
        guess.alias("lang_guess"),
    )


ORACLE_Q34 = r"""
SELECT doc_id, lang AS declared_lang,
       CAST(en AS INT) AS en_hits, CAST(de AS INT) AS de_hits, CAST(es AS INT) AS es_hits,
       CASE WHEN en >= de AND en >= es THEN 'en'
            WHEN de >= es THEN 'de'
            ELSE 'es' END AS lang_guess
FROM (SELECT doc_id, lang,
             len(list_filter(toks, x -> x IN ('the','a','of','and'))) AS en,
             len(list_filter(toks, x -> x IN ('der','die','das','und'))) AS de,
             len(list_filter(toks, x -> x IN ('el','la','de','y'))) AS es
      FROM (SELECT doc_id, lang,
                   list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
            FROM documents))
"""


# ---------------------------------------------------------------------------
# Document fingerprinting: content hash for exact-dup detection at scale.
# ---------------------------------------------------------------------------
def q35_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.lower(F.col("text"))).alias("fp_md5"),
        F.sha2(F.col("text"), 256).alias("fp_sha256"),
    )


ORACLE_Q35 = """
SELECT doc_id,
       md5(LOWER(text))  AS fp_md5,
       sha256(text)      AS fp_sha256
FROM documents
"""


# ---------------------------------------------------------------------------
# Bigram frequency.  Built array-natively (transform over the token array,
# then one explode) — NO self-join: a join on (doc_id, pos) would shuffle
# the entire token stream twice at 100 TB for what is a per-row operation.
# ---------------------------------------------------------------------------
def ngrams(toks, n: int = 2):
    """n-grams of a token-array column.  Pass a MATERIALIZED column (see
    with_tokens) — passing a raw expression re-evaluates it per element."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def q36_bigram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_tokens(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(F.explode(ngrams(F.col("toks"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(15)
    )


ORACLE_Q36 = r"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok,
           unnest(range(1, len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) + 1)) AS pos
    FROM documents
)
SELECT a.tok || ' ' || b.tok AS bigram, COUNT(*) AS n
FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
GROUP BY 1
ORDER BY n DESC, bigram ASC
LIMIT 15
"""


# ---------------------------------------------------------------------------
# BPE-ish token counting: a GPT-2-style pretokenizer regex (contraction
# suffixes, space-prefixed letter runs, digit runs, punctuation runs,
# whitespace runs) — the token-budget estimator of an LLM data pipeline.
# The pattern is lookahead-free on purpose: Spark compiles Java regex,
# DuckDB compiles RE2, and only the lookahead-free common subset behaves
# identically in both.
# ---------------------------------------------------------------------------
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def q37_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pieces = F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), 0)
    return docs.select(
        "doc_id",
        F.size(pieces).alias("n_bpe_tokens"),
        F.size(F.filter(pieces, lambda p: p.rlike(r"^\s+$") == F.lit(False))).alias(
            "n_content_tokens"
        ),
        F.length("text").alias("text_len"),
    )


_BPE_SQL = BPE_PATTERN.replace("'", "''")

ORACLE_Q37 = rf"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_BPE_SQL}')) AS INT) AS n_bpe_tokens,
       CAST(len(list_filter(regexp_extract_all(text, '{_BPE_SQL}'),
                            p -> NOT regexp_full_match(p, '\s+'))) AS INT) AS n_content_tokens,
       CAST(LENGTH(text) AS INT) AS text_len
FROM documents
"""


# ---------------------------------------------------------------------------
# TF-IDF: the canonical two-aggregation text-weighting pipeline.  The
# document-frequency side is a tiny per-term table — broadcast — and the
# corpus size N is a broadcast scalar, so the only real shuffle is the
# (doc, term) term-frequency aggregation.
# ---------------------------------------------------------------------------
def q38_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = with_tokens(docs).select("doc_id", F.explode("toks").alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    # Materialize tf ONCE: although df_ derives from tf in code, column
    # pruning rewrites the df branch's copy into a bare (doc_id, tok)
    # distinct — a different subtree under the (doc_id, tok) exchange —
    # which de-canonicalizes the exchanges, blocks AQE ReuseExchange, and
    # re-expanded the whole tokenize+explode+shuffle pipeline once per
    # consumer (executed plan: 2 Generates / 2 full corpus scans; a
    # count("tf") rewrite does NOT survive — NullPropagation folds count
    # of a non-null column back to count(1) and pruning recurs).  The
    # checkpoint truncates the plan at a materialized tf read by both
    # consumers — tf is the same magnitude as this query's own result
    # (one row per (doc, term)), so the materialization is bounded by the
    # output the query must produce anyway, and it replaces a second full
    # corpus tokenize at 100 TB.  MEMORY_AND_DISK, spills gracefully.
    tf = tf.localCheckpoint()
    df_ = tf.groupBy("tok").agg(F.count("*").alias("n_df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    return (
        tf.join(F.broadcast(df_), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            "tf",
            "n_df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("n_df")), 4
            ).alias("tfidf"),
        )
    )


ORACLE_Q38 = r"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
    FROM documents
),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT tok, COUNT(*) AS n_df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT doc_id, tok, tf, n_df,
       ROUND(tf * LN(CAST(n_docs AS DOUBLE) / n_df), 4) AS tfidf
FROM tf JOIN df USING (tok), n
"""


# ---------------------------------------------------------------------------
# q39 — the composed training-data prep pipeline: language filter ->
# quality gate (token count + stopword ratio) -> exact dedup (md5
# fingerprint, keep min doc_id) -> per-kept-doc token stats.  One
# declarative plan: the filters reach the parquet scan, dedup is a single
# shuffle on the 32-byte fingerprint, and everything downstream of the
# scan stays in whole-stage codegen.  This is the query a 100 TB corpus
# actually runs nightly; the pieces (q33/q35/q40) are its unit tests.
# ---------------------------------------------------------------------------
MIN_TOKENS = 20
MAX_STOP_RATIO = 0.5


def q39_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_tokens(load_table(spark, sf_dir, "documents"))
    toks = F.col("toks")
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    staged = docs.select(
        "doc_id",
        "lang",
        F.md5("text").alias("fp"),
        n_tok.alias("n_tokens"),
        (n_stop / n_tok).alias("stop_ratio"),
        # per-row exact integer half-up 4dp twin: MIN of rounded equals
        # ROUND of min (rounding is monotone), and the per-row integer
        # form cannot hit the cross-engine double-halfway divergence
        # (the q33 class, r13)
        (
            F.expr(
                "(size(filter(toks, x -> x in "
                "('the','a','of','and','to','in','is'))) * 20000L"
                " + size(toks)) div (2L * size(toks))"
            )
            / 10000.0
        ).alias("stop_r4"),
    ).where(
        (F.col("lang") == "en")
        & (F.col("n_tokens") >= MIN_TOKENS)
        & (F.col("stop_ratio") <= MAX_STOP_RATIO)
    )
    return staged.groupBy("fp").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count("*").alias("n_copies"),
        F.min("n_tokens").alias("n_tokens"),
        F.min("stop_r4").alias("stop_ratio"),
    )


ORACLE_Q39 = rf"""
WITH staged AS (
    SELECT doc_id, lang, md5(text) AS fp,
           CAST(len(toks) AS INT) AS n_tokens,
           CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
               / len(toks) AS stop_ratio,
           ((len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) * 20000
             + len(toks)) // (2 * len(toks))) / 10000.0 AS stop_r4
    FROM (SELECT doc_id, lang, text,
                 list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
          FROM documents)
)
SELECT fp, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies,
       MIN(n_tokens) AS n_tokens, MIN(stop_r4) AS stop_ratio
FROM staged
WHERE lang = 'en' AND n_tokens >= {MIN_TOKENS} AND stop_ratio <= {MAX_STOP_RATIO}
GROUP BY fp
"""




# ---------------------------------------------------------------------------
# q86 — sentence segmentation + per-document readability stats: split on
# terminal punctuation runs ([.!?]+), keep non-blank sentences, report
# sentence count / mean words-per-sentence — the quality signals used for
# training-data readability filtering.  Same regex dialect in Spark
# (Java regex) and DuckDB (RE2): no lookarounds, just a character-class
# split, so both engines segment identically.  Narrow per-row work; the
# only exchange is the final nothing (per-doc output).
# ---------------------------------------------------------------------------
def q86_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sents = F.filter(
        F.transform(F.split(F.col("text"), r"[.!?]+"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    words_per = F.transform(
        sents, lambda s: F.size(F.filter(F.split(s, r"\s+"), lambda w: w != ""))
    )
    total_words = F.aggregate(words_per, F.lit(0).cast("long"), lambda a, b: a + b)
    n_sents = F.size(sents).cast("long")
    return docs.select(
        "doc_id",
        F.size(sents).alias("n_sentences"),
        # exact integer half-up 4dp (the q33 halfway class, r13):
        # round(words/sentences, 4) as (a*20000 + b) div (2b) / 10000.0
        F.when(
            F.size(sents) > 0,
            ((total_words * 20000 + n_sents) - F.pmod(
                total_words * 20000 + n_sents, 2 * n_sents
            )) / (2 * n_sents) / F.lit(10000.0),
        )
        .otherwise(F.lit(0.0))
        .alias("avg_words_per_sentence"),
    )


ORACLE_Q86 = r"""
WITH segs AS (
    SELECT doc_id,
           list_filter(list_transform(regexp_split_to_array(text, '[.!?]+'),
                                      s -> trim(s)),
                       s -> s <> '') AS sents
    FROM documents
)
SELECT doc_id,
       CAST(len(sents) AS INT) AS n_sentences,
       CASE WHEN len(sents) > 0
            THEN ((list_sum(COALESCE(list_transform(sents,
                    s -> len(list_filter(regexp_split_to_array(s, '\s+'),
                                         w -> w <> ''))), [])) * 20000
                   + len(sents)) // (2 * len(sents))) / 10000.0
            ELSE 0.0 END AS avg_words_per_sentence
FROM segs
"""


# ---------------------------------------------------------------------------
# q87 — repetition signals (Gopher-style quality filters): per document,
# the unique-token fraction, the most-frequent-token fraction, and the
# duplicated-bigram fraction — the standard knobs for dropping
# boilerplate/spam from a pretraining corpus.  Entirely per-row array
# work (ZERO shuffles — the output is already per-doc): embarrassingly
# parallel at 100 TB, and the parquet scan reads only (doc_id, text).
# Fractions are emitted as raw int/int double divisions (no rounding) —
# IEEE division is bit-identical across Spark and DuckDB, so the oracle
# hash matches without the half-even rounding hazards of ROUND().
# ---------------------------------------------------------------------------
def q87_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_tokens(load_table(spark, sf_dir, "documents"))
    toks = F.col("toks")
    staged = docs.withColumn("bigrams", ngrams(toks, 2))
    n, nb = F.size(toks), F.size(F.col("bigrams"))
    # Per-doc mode count via the shared sorted-run fold (see
    # mode_token_count — replaced the r11 O(unique * n) nested-HOF shape,
    # measured 2.2x slower at sf0.1 and quadratic in doc length at 100 TB).
    top_cnt = mode_token_count(toks)
    return staged.select(
        "doc_id",
        n.alias("n_tokens"),
        F.when(n > 0, F.size(F.array_distinct(toks)).cast("double") / n)
        .otherwise(0.0)
        .alias("unique_token_frac"),
        F.when(n > 0, top_cnt.cast("double") / n)
        .otherwise(0.0)
        .alias("top_token_frac"),
        F.when(
            nb > 0,
            F.lit(1.0) - F.size(F.array_distinct(F.col("bigrams"))).cast("double") / nb,
        )
        .otherwise(0.0)
        .alias("dup_bigram_frac"),
    )


ORACLE_Q87 = r"""
WITH t AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
    FROM documents
), b AS (
    SELECT doc_id, toks,
           list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bigrams
    FROM t
)
SELECT doc_id,
       CAST(len(toks) AS INT) AS n_tokens,
       CASE WHEN len(toks) > 0
            THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
            ELSE 0.0 END AS unique_token_frac,
       CASE WHEN len(toks) > 0
            THEN CAST(list_max(list_transform(list_distinct(toks),
                     tk -> len(list_filter(toks, x -> x = tk)))) AS DOUBLE) / len(toks)
            ELSE 0.0 END AS top_token_frac,
       CASE WHEN len(bigrams) > 0
            THEN 1 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams)
            ELSE 0.0 END AS dup_bigram_frac
FROM b
"""


# ---------------------------------------------------------------------------
# q88 — benchmark decontamination: flag corpus documents sharing an exact
# n-gram with a held-out benchmark set (here a deterministic slice,
# doc_id % 97 == 0, standing in for an eval suite; real pipelines use
# 8-13-grams — 4 here only because the synthetic vocabulary is tiny).
# The benchmark n-gram set is small by construction → DISTINCT then
# broadcast-hash-join against the corpus n-gram stream: at 100 TB the
# corpus side never shuffles, each task probes a shared hash map, and the
# per-doc hit count comes from a partial-aggregated groupBy on doc_id.
# ---------------------------------------------------------------------------
def q88_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_tokens(load_table(spark, sf_dir, "documents"))
    grams = docs.select(
        "doc_id", F.explode(F.array_distinct(ngrams(F.col("toks"), 4))).alias("ngram")
    )
    bench = grams.where(F.col("doc_id") % 97 == 0).select("ngram").distinct()
    return (
        grams.where(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), "ngram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )


ORACLE_Q88 = r"""
WITH t AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
    FROM documents
), g AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(range(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS ngram
    FROM t
), bench AS (
    SELECT DISTINCT ngram FROM g WHERE doc_id % 97 = 0
)
SELECT g.doc_id, COUNT(*) AS n_hits
FROM g JOIN bench USING (ngram)
WHERE g.doc_id % 97 <> 0
GROUP BY g.doc_id
"""


# ---------------------------------------------------------------------------
# q101 — sequence packing (concat-and-chunk): the training-batch
# construction step.  Docs are concatenated in doc_id order within each
# source shard and split into fixed CONTEXT_TOKENS windows; a doc belongs
# to the window its first token lands in.  The cumsum window is
# partitioned by source, so every shard packs in parallel and nothing
# needs a global order — at 100 TB the input shard is the packing unit,
# exactly how pretraining pipelines batch.  (No reference counterpart —
# the reference has no notion of sequences, /root/reference/tinymr.py.)
# ---------------------------------------------------------------------------
CONTEXT_TOKENS = 256


def q101_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = with_tokens(load_table(spark, sf_dir, "documents"))
    # ROWS frame pinned explicitly: the orderBy default is a RANGE frame,
    # which treats duplicate doc_ids as peers and would diverge from the
    # oracle's ROWS cumsum if ids ever repeated.
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = docs.select(
        "doc_id", "source", F.size("toks").alias("n_tok")
    ).withColumn("start", F.sum("n_tok").over(w) - F.col("n_tok"))
    return (
        staged.withColumn("seq_id", F.floor(F.col("start") / CONTEXT_TOKENS))
        .groupBy("source", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


ORACLE_Q101 = f"""
WITH toks AS (
    SELECT doc_id, source,
           len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS n_tok
    FROM documents
),
staged AS (
    SELECT doc_id, source, n_tok,
           SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS start
    FROM toks
)
SELECT source, CAST(FLOOR(start / {CONTEXT_TOKENS}) AS BIGINT) AS seq_id,
       COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM staged
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q102 — domain-mixture sampling: reweight the corpus so every source
# contributes an equal token share (the downsample-to-smallest policy).
# Per-source keep rate = cap / source_tokens with cap = smallest source;
# membership is decided by a deterministic md5(doc_id) draw (the q27
# idiom) compared in EXACT arithmetic — h*source_tokens < cap*MOD — so
# both engines make bit-identical keep decisions with no float rounding
# at the boundary.  The products run as DECIMAL(38,0) on Spark and
# HUGEINT on DuckDB: at 100 TB a source holds ~2e13 tokens, so
# h*source_tokens (~1e6 * 2e13 = 2e19) overflows int64 — and Spark with
# ANSI off would WRAP SILENTLY while DuckDB errors.  Totals broadcast
# (20 sources); the corpus pass is shuffle-free until the final
# per-source rollup.
# ---------------------------------------------------------------------------
MIX_MOD = 1_000_000


def q102_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_tokens(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "source", F.size("toks").alias("n_tok")
    )
    totals = docs.groupBy("source").agg(
        F.sum("n_tok").cast("bigint").alias("source_tokens")
    )
    cap = totals.agg(F.min("source_tokens").alias("cap"))
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast(
        "bigint"
    ) % MIX_MOD
    dec = "decimal(38,0)"
    return (
        docs.join(F.broadcast(totals), "source")
        .crossJoin(F.broadcast(cap))
        .where(
            h.cast(dec) * F.col("source_tokens").cast(dec)
            < F.col("cap").cast(dec) * F.lit(MIX_MOD).cast(dec)
        )
        .groupBy("source")
        .agg(
            F.max("source_tokens").alias("source_tokens"),
            F.count("*").alias("n_kept"),
            F.sum("n_tok").cast("bigint").alias("kept_tokens"),
        )
    )


ORACLE_Q102 = f"""
WITH toks AS (
    SELECT doc_id, source,
           len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS n_tok
    FROM documents
),
totals AS (
    SELECT source, CAST(SUM(n_tok) AS BIGINT) AS source_tokens FROM toks GROUP BY 1
),
cap AS (SELECT MIN(source_tokens) AS cap FROM totals)
SELECT t.source, CAST(MAX(tt.source_tokens) AS BIGINT) AS source_tokens,
       COUNT(*) AS n_kept, CAST(SUM(t.n_tok) AS BIGINT) AS kept_tokens
FROM toks t JOIN totals tt USING (source), cap
WHERE CAST(CAST('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 15) AS BIGINT) % {MIX_MOD} AS HUGEINT)
      * CAST(tt.source_tokens AS HUGEINT)
      < CAST(cap.cap AS HUGEINT) * CAST({MIX_MOD} AS HUGEINT)
GROUP BY t.source
"""


# ---------------------------------------------------------------------------
# q103 — vocabulary encoding: build a top-V vocab by corpus frequency
# (deterministic tie-break: count desc, token asc) and dictionary-encode
# every document to id sequences; out-of-vocab -> -1.  The top-V selection
# is DISTRIBUTED: orderBy(...).limit(V) lowers to TakeOrderedAndProject
# (per-partition top-V heaps merged on one reducer holding only V rows),
# so no task ever sorts the full distinct-token table — at 100 TB that
# table is 1e8-1e9 rows and an unpartitioned row_number over it would be
# a single-executor sort.  Ranks are then assigned by row_number over the
# V-row result only (V is bounded by design: real tokenizers are ~100k
# entries, broadcast-sized).  The encode join broadcasts the vocab and
# the corpus pass stays shuffle-free; positions are re-assembled
# order-preservingly with array_sort over (pos, id) structs.  ids_prefix
# is JSON-canonical: an array cell reaches pandas as a numpy array from
# Spark but a list from DuckDB, so only the JSON string hashes alike.
# ---------------------------------------------------------------------------
VOCAB_SIZE = 16


def q103_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = with_tokens(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.posexplode("toks").alias("pos0", "tok")).select(
        "doc_id", (F.col("pos0") + 1).alias("pos"), "tok"
    )
    top_v = (
        toks.groupBy("tok")
        .count()
        .orderBy(F.desc("count"), F.asc("tok"))
        .limit(VOCAB_SIZE)  # TakeOrderedAndProject: distributed top-V
    )
    vocab = top_v.withColumn(
        "id",
        F.row_number().over(Window.orderBy(F.desc("count"), F.asc("tok"))) - 1,
    ).select("tok", "id")
    enc = toks.join(F.broadcast(vocab), "tok", "left").select(
        "doc_id", "pos", F.coalesce(F.col("id"), F.lit(-1)).alias("id")
    )
    ids_by_pos = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "id"))), lambda s: s["id"]
    )
    return enc.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum((F.col("id") == -1).cast("int")).cast("bigint").alias("n_oov"),
        F.to_json(F.slice(ids_by_pos, 1, 8)).alias("ids_prefix"),
        F.sum(F.col("id") * F.col("pos")).cast("bigint").alias("id_dot_pos"),
    )


ORACLE_Q103 = f"""
WITH tok AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS tok,
           unnest(range(1, len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) + 1)) AS pos
    FROM documents
),
vocab AS (
    SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok ASC) - 1 AS id
    FROM tok GROUP BY tok
    QUALIFY id < {VOCAB_SIZE}
),
enc AS (
    SELECT t.doc_id, t.pos, COALESCE(v.id, -1) AS id
    FROM tok t LEFT JOIN vocab v USING (tok)
)
SELECT doc_id, COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN id = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(to_json(list_slice(list(id ORDER BY pos), 1, 8)) AS VARCHAR) AS ids_prefix,
       CAST(SUM(id * pos) AS BIGINT) AS id_dot_pos
FROM enc
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# q109 — unigram language-model log-probability: the cheapest model-based
# quality score (the same shape CCNet/KenLM filtering uses — docs whose
# tokens are improbable under the corpus unigram LM are outliers).  Two
# aggregations reusing ONE shuffle lineage: tf per (doc, token), then the
# vocabulary (token -> corpus count) derived FROM tf, broadcast back.
#
# Determinism across engines: a per-doc SUM of doubles is summation-
# order-dependent, and Spark and DuckDB reduce in different orders.  Each
# per-term contribution tf*ln(c/N) is therefore rounded to 6 decimals and
# cast to DECIMAL(18,6) BEFORE the sum — decimal addition is exact and
# associative, so both engines produce bit-identical totals regardless of
# reduction order.  The same trick is how a 1000-executor job makes a
# float aggregate reproducible run-to-run.
# ---------------------------------------------------------------------------
def q109_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    vocab = tf.groupBy("tok").agg(F.sum("tf").alias("c"))
    n = vocab.agg(F.sum("c").alias("n_corpus"))
    term = (
        tf.join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("c") / F.col("n_corpus")), 6
            )
            .cast("decimal(18,6)")
            .alias("term_lp"),
        )
    )
    return term.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        F.sum("term_lp").cast("double").alias("sum_lp"),
        (F.sum("term_lp").cast("double") / F.sum("tf")).alias("avg_lp"),
    )


ORACLE_Q109 = r"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
    FROM documents
),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
vocab AS (SELECT tok, SUM(tf) AS c FROM tf GROUP BY 1),
n AS (SELECT SUM(c) AS n_corpus FROM vocab),
term AS (
    SELECT doc_id, tf,
           CAST(ROUND(tf * LN(CAST(c AS DOUBLE) / n_corpus), 6)
                AS DECIMAL(18,6)) AS term_lp
    FROM tf JOIN vocab USING (tok), n
)
SELECT doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_tokens,
       CAST(SUM(term_lp) AS DOUBLE) AS sum_lp,
       CAST(SUM(term_lp) AS DOUBLE) / CAST(SUM(tf) AS BIGINT) AS avg_lp
FROM term
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# q116 — deterministic train/val/test split: the reproducibility contract
# of every training-data pipeline.  Assignment is a pure function of the
# ROW (md5 of doc_id mod 100 -> 80/10/10), not of partitioning, sampling
# order, or run count — so the split is identical on 1 executor or 1000,
# survives re-runs and backfills, and a doc never migrates between splits
# when the corpus grows.  Zero shuffle until the final per-(lang, split)
# count — the assignment itself is row-local.  Contrast randomSplit(),
# whose assignment depends on partition layout and is NOT stable across
# repartitioning.
# ---------------------------------------------------------------------------
SPLIT_TRAIN_PCT, SPLIT_VAL_PCT = 80, 10


def q116_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    slot = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint") % 100
    )
    split = (
        F.when(slot < SPLIT_TRAIN_PCT, F.lit("train"))
        .when(slot < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select("lang", split.alias("split"), "n_chars")
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
    )


ORACLE_Q116 = f"""
WITH assigned AS (
    SELECT lang, n_chars,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS slot
    FROM documents
)
SELECT lang,
       CASE WHEN slot < {SPLIT_TRAIN_PCT} THEN 'train'
            WHEN slot < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM assigned
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q125 — BM25 top-k retrieval: score a fixed query set against the corpus
# with Okapi BM25 and return each query's top-K documents.  This is the
# lexical-search operator of the training-data stack (hard-negative
# mining, benchmark decontamination by retrieval, RAG corpus QA) — q38's
# tf-idf generalized with document-length normalization and saturating
# term frequency.
#
# Scale shape: the query table broadcasts onto the (doc, term)
# term-frequency aggregate, so only postings of QUERY terms survive the
# probe (the inverted-index contract — never a corpus-wide score).  The
# per-term df table and the one-row (n_docs, avgdl) stats broadcast.
# Top-K per query is the TWO-STAGE exact pattern: stage 1 ranks within
# (query_id, physical partition) — each partition sorts only its own
# slice — and keeps K; stage 2 ranks the surviving K*P rows per query.
# A single unpartitioned-by-doc window per query would sort each query's
# ENTIRE candidate set (10^9+ docs at 100 TB) in one task — the q103
# trap; two stages bound every sort at max(partition-slice, K*P).  The
# result is partitioning-invariant: every partition's local top-K
# contains any global top-K member by dominance.
#
# Cross-engine determinism: each per-term contribution is rounded to 6
# decimals and summed as DECIMAL(18,6) (exact, order-independent — the
# q109 trick), so scores and therefore ranks are bit-identical in Spark
# and DuckDB; ties break by doc_id.
# ---------------------------------------------------------------------------
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 5
BM25_QUERIES = [
    (1, "stream"), (1, "window"),
    (2, "vector"), (2, "fast"),
    (3, "join"), (3, "merge"),
]


def _bm25_index(spark: SparkSession, sf_dir: str):
    """The standing inverted index, WRITTEN once per corpus version as
    bucketed parquet tables (sources.standing_index — the same
    write-then-probe lifecycle as q123's fingerprint lake): tf postings
    bucketed+sorted by tok (so an IN-list of query terms prunes whole
    buckets at the scan — a search index is probed, not re-derived, per
    query batch), doc lengths bucketed by doc_id (the score join's key,
    no dl-side exchange), and per-term document frequencies bucketed by
    tok.  dl and df build FROM the written postings table, so the
    tokenize+explode corpus pass runs exactly once per corpus version;
    the 2-value stats row derives per query (one tiny agg over dl).
    Stale corpus versions drop their tables and staged directories
    (tests/test_cache_staleness.py)."""
    from tinymr_spark.sources import standing_index, table_path

    src = table_path(sf_dir, "documents")

    def build_tf() -> DataFrame:
        docs = with_tokens(load_table(spark, sf_dir, "documents"))
        toks = docs.select("doc_id", F.explode("toks").alias("tok"))
        return toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))

    tf = standing_index(
        spark, "bm25tf", [src], build_tf, ["tok"], sort_cols=["tok", "doc_id"]
    )
    dl = standing_index(
        spark, "bm25dl", [src],
        lambda: tf.groupBy("doc_id").agg(F.sum("tf").alias("dl")),
        ["doc_id"],
    )
    df_ = standing_index(
        spark, "bm25df", [src],
        lambda: tf.groupBy("tok").agg(F.count("*").alias("n_df")),
        ["tok"],
    )
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    return tf, dl, stats, df_


def _bm25_score_topk(spark: SparkSession, tf, dl, stats, df_) -> DataFrame:
    """Score BM25_QUERIES against an index (tf/dl/stats/df_) and return
    the exact two-stage top-K — shared by q125 (standing index) and
    q145 (incrementally merged index), so 'merged scores == recomputed
    scores' is a statement about the INDEX, not the scorer."""
    from pyspark.sql import Window

    q = spark.createDataFrame(BM25_QUERIES, "query_id int, term string")
    # Static IN-list of the batch's terms: redundant with the inner join
    # on term below, but as a literal filter it reaches the bucketed
    # postings scan and prunes whole buckets (SelectedBucketsCount,
    # asserted in tests/test_scale_patterns.py) — at 100 TB the probe
    # reads only the buckets its terms hash to.
    terms = sorted({t for _, t in BM25_QUERIES})
    tf = tf.where(F.col("tok").isin(terms))
    df_ = df_.where(F.col("tok").isin(terms))

    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("n_df") + 0.5) / (F.col("n_df") + 0.5)
    )
    norm = F.col("tf") * (BM25_K1 + 1) / (
        F.col("tf")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    contrib = F.round(idf * norm, 6).cast("decimal(18,6)")
    scored = (
        tf.join(F.broadcast(q), tf["tok"] == q["term"])
        .join(F.broadcast(df_), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(contrib).cast("double").alias("score"))
    )
    w_local = Window.partitionBy("query_id", "pid").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    w_global = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("pid", F.spark_partition_id())
        .withColumn("r1", F.row_number().over(w_local))
        .where(F.col("r1") <= BM25_TOP_K)
        .drop("r1", "pid")
        .withColumn("rank", F.row_number().over(w_global))
        .where(F.col("rank") <= BM25_TOP_K)
    )


def q125_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf, dl, stats, df_ = _bm25_index(spark, sf_dir)
    return _bm25_score_topk(spark, tf, dl, stats, df_)


_BM25_Q_ROWS = ", ".join(f"({i}, '{t}')" for i, t in BM25_QUERIES)

ORACLE_Q125 = rf"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
    FROM documents
),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
df AS (SELECT tok, COUNT(*) AS n_df FROM tf GROUP BY 1),
q(query_id, term) AS (VALUES {_BM25_Q_ROWS}),
terms AS (
    SELECT q.query_id, t.doc_id,
           CAST(ROUND(
               LN(1 + (s.n_docs - d.n_df + 0.5) / (d.n_df + 0.5))
               * t.tf * ({BM25_K1} + 1)
               / (t.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * l.dl / s.avgdl)),
           6) AS DECIMAL(18,6)) AS c
    FROM q
    JOIN tf t ON t.tok = q.term
    JOIN df d ON d.tok = t.tok
    JOIN dl l ON l.doc_id = t.doc_id, stats s
),
scored AS (
    SELECT query_id, doc_id, CAST(SUM(c) AS DOUBLE) AS score
    FROM terms GROUP BY 1, 2
)
SELECT query_id, doc_id, score,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS INT) AS rank
FROM scored
QUALIFY rank <= {BM25_TOP_K}
"""


# ---------------------------------------------------------------------------
# q145 — INCREMENTAL BM25 index maintenance: the daily production shape
# for the retrieval index, completing the q123/q140 shard-vs-lake arc
# for text search.  The corpus lake's postings/doclens/term-dfs are
# WRITTEN standing indexes built once per corpus version from lake docs
# only (doc_id % 5 != 0 — the same split as q123); a new shard arrives
# and ONLY the shard is tokenized.  Because a BM25 index over disjoint
# doc sets is a mergeable algebra — postings and doclens concatenate,
# per-term dfs ADD, n_docs/avgdl recompute from the merged doclens —
# the merged index is assembled with two unions and one small
# tok-keyed aggregation, never touching lake text.  Scoring the merged
# index with the SAME scorer as q125 must equal scoring a full
# recompute, which is exactly what the oracle checks: ORACLE_Q145 is
# the full-corpus recomputation.  At 100 TB this is the difference
# between re-tokenizing years of corpus nightly and processing one
# day's shard.
# ---------------------------------------------------------------------------
def _bm25_lake_index(spark: SparkSession, sf_dir: str):
    """Lake-only postings/doclen/df as written bucketed standing
    indexes (built once per corpus version, q123's artifact
    lifecycle)."""
    from tinymr_spark.sources import standing_index, table_path

    from tinymr_spark.operators.dedup import INC_SHARD_MOD

    src = table_path(sf_dir, "documents")
    is_lake = F.pmod(F.col("doc_id"), F.lit(INC_SHARD_MOD)) != 0

    def build_tf() -> DataFrame:
        docs = with_tokens(load_table(spark, sf_dir, "documents").where(is_lake))
        toks = docs.select("doc_id", F.explode("toks").alias("tok"))
        return toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))

    tf = standing_index(
        spark, "bm25lake_tf", [src], build_tf, ["tok"], sort_cols=["tok", "doc_id"]
    )
    dl = standing_index(
        spark, "bm25lake_dl", [src],
        lambda: tf.groupBy("doc_id").agg(F.sum("tf").alias("dl")),
        ["doc_id"],
    )
    df_ = standing_index(
        spark, "bm25lake_df", [src],
        lambda: tf.groupBy("tok").agg(F.count("*").alias("n_df")),
        ["tok"],
    )
    return tf, dl, df_


def q145_incremental_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf_lake, dl_lake, df_lake = _bm25_lake_index(spark, sf_dir)

    # only the SHARD is tokenized at query time
    from tinymr_spark.operators.dedup import INC_SHARD_MOD

    shard = with_tokens(
        load_table(spark, sf_dir, "documents").where(
            F.pmod(F.col("doc_id"), F.lit(INC_SHARD_MOD)) == 0
        )
    )
    toks_s = shard.select("doc_id", F.explode("toks").alias("tok"))
    tf_s = toks_s.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    # Materialize the shard postings ONCE: tf_s has three consumers (the
    # merged-postings probe, dl_s, df_s) and column pruning gives each a
    # structurally different copy of the subtree, so the executed plan
    # tokenized the shard THREE times (3 scans / 3 Generates; same
    # de-canonicalization as q38).  The checkpoint is shard-sized — "only
    # the shard is tokenized" is this query's own 100 TB contract — and
    # all three consumers now read the one materialized table (the
    # terms IN-list still prunes before the scorer join).
    tf_s = tf_s.localCheckpoint()
    dl_s = tf_s.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    df_s = tf_s.groupBy("tok").agg(F.count("*").alias("n_df"))

    # mergeable-index algebra: disjoint docs -> concatenate postings and
    # doclens; dfs add; corpus stats recompute from merged doclens
    tf = tf_lake.select("doc_id", "tok", "tf").unionByName(tf_s)
    dl = dl_lake.select("doc_id", "dl").unionByName(dl_s)
    df_ = (
        df_lake.select("tok", "n_df")
        .unionByName(df_s)
        .groupBy("tok")
        .agg(F.sum("n_df").cast("bigint").alias("n_df"))
    )
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    return _bm25_score_topk(spark, tf, dl, stats, df_)


# ---------------------------------------------------------------------------
# q126 — deterministic shard shuffle manifest: the "write the training
# shards" stage.  Every document gets a pseudo-random but fully
# deterministic position key (md5 of its doc_id — row-pure, so the
# assignment is identical run-to-run and executor-count-invariant, the
# q116 property) and a shard = position-key mod N_SHARDS; the output is
# the per-shard MANIFEST (doc count, token mass, position-key range, an
# order-independent content checksum) a downstream trainer validates
# before reading.  In production the same keys drive
# repartition(shard) + sortWithinPartitions(poskey) parquet writes; the
# manifest here is one map-side-combined aggregation — no windows, no
# per-shard sort, nothing driver-side.
# ---------------------------------------------------------------------------
N_SHARDS = 8


def q126_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_tokens(load_table(spark, sf_dir, "documents"))
    poskey = md5_int60(F.col("doc_id").cast("string"))
    return (
        docs.select(
            "doc_id",
            F.size("toks").alias("n_tok"),
            poskey.alias("poskey"),
        )
        .withColumn("shard", F.pmod(F.col("poskey"), F.lit(N_SHARDS)).cast("int"))
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.min("poskey").alias("min_poskey"),
            F.max("poskey").alias("max_poskey"),
            # XOR of the 60-bit position keys, NOT a sum of squares: at
            # 1e9 docs an int64 sum-of-squares overflows (ANSI throws,
            # DuckDB's hugeint silently diverges); XOR is the q117
            # overflow-free order-independent membership checksum.
            F.bit_xor("poskey").alias("checksum"),
        )
    )


ORACLE_Q126 = rf"""
WITH d AS (
    SELECT doc_id,
           len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_tok,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS poskey
    FROM documents
)
SELECT CAST(poskey % {N_SHARDS} AS INT) AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       MIN(poskey) AS min_poskey,
       MAX(poskey) AS max_poskey,
       BIT_XOR(poskey) AS checksum
FROM d
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q158 — BPE tokenizer TRAINING iterations (Sennrich et al. 2016): learn
# the first K merge rules from the corpus — the learning-side counterpart
# of q37's fixed-ruleset token counting, and (with q146) the second
# iterative driver-loop operator family.  Classic BPE: words become
# character sequences; each round counts adjacent symbol pairs weighted
# by word frequency (with multiplicity, overlapping occurrences included
# — the standard implementation's counting), merges the most frequent
# pair corpus-wide, repeats.
#
# Scale shape — why this works at 100 TB: the corpus is touched ONCE (the
# word-frequency aggregation, map-side combined); every iteration after
# that runs on the DISTINCT-WORD table (vocab-sized — ~1e6 rows no matter
# the corpus size), so K merges cost K vocab-table passes + K one-row
# argmax collects (the per-iteration driver collect is a single
# aggregate row, the same pattern as k-means/PageRank convergence
# checks, not a data path).
#
# Cross-engine determinism: symbol sequences are encoded as
# '|sym1||sym2||...|' strings (words containing '|' are excluded from
# training in both engines), a merge of pair (a,b) is the plain-string
# replace of '|a||b|' with '|ab|' — leftmost non-overlapping in Spark,
# DuckDB, and Python alike, which IS greedy BPE merge order — and the
# per-round argmax tie-breaks deterministically by (count, a, b)
# descending.  Counts are exact bigints.
# ---------------------------------------------------------------------------
BPE_MERGES = 5


def _bpe_cache(spark: SparkSession, sf_dir: str) -> tuple[list[tuple], DataFrame]:
    """(merges, encoded) trained once per corpus version: `merges` is the
    learned rule list [(step, a, b, count, merged)], `encoded` the
    distinct-word table (w, enc, freq) AFTER all merges — i.e. the
    trained tokenizer APPLIED to the whole vocabulary, which is what the
    training loop's final state is for free.  q158 reports the rules;
    q169 consumes the encoding.  The table is localCheckpointed (strings
    + bigints, exact) so both consumers and repeated bench passes reuse
    one materialization; stale corpus generations pop+unpersist like
    every session cache (tests/test_cache_staleness.py)."""
    from tinymr_spark.sources import file_version, session_cache, table_path

    cache = session_cache(spark, "_tinymr_bpe_cache")
    key = (sf_dir, file_version(table_path(sf_dir, "documents")))
    if key not in cache:
        docs = with_tokens(load_table(spark, sf_dir, "documents"))
        words = (
            docs.select(F.explode("toks").alias("w"))
            .where(~F.col("w").contains("|"))
            .groupBy("w")
            .agg(F.count("*").alias("freq"))
        )
        enc0 = words.select(
            "w",
            F.concat(
                F.lit("|"),
                F.array_join(
                    F.transform(
                        F.sequence(F.lit(1), F.length("w")),
                        lambda i: F.col("w").substr(i, F.lit(1)),
                    ),
                    "||",
                ),
                F.lit("|"),
            ).alias("enc"),
            "freq",
        ).persist()  # the one corpus pass; iterations re-read this vocab table
        cur = enc0
        merges: list[tuple] = []
        try:
            for step in range(1, BPE_MERGES + 1):
                syms = F.split(F.expr("substring(enc, 2, length(enc) - 2)"), r"\|\|")
                n = F.size(syms)
                pairs = cur.select(
                    "freq",
                    F.explode(
                        F.zip_with(
                            F.slice(syms, 1, n - 1),
                            F.slice(syms, 2, n - 1),
                            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                        )
                    ).alias("p"),
                )
                row = (
                    pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
                    .agg(F.sum("freq").alias("cnt"))
                    .agg(F.max(F.struct("cnt", "a", "b")).alias("m"))
                ).collect()[0]["m"]
                if row is None:  # degenerate corpus: nothing left to merge
                    break
                cnt, a, b = int(row["cnt"]), row["a"], row["b"]
                merges.append((step, a, b, cnt, a + b))
                cur = cur.withColumn(
                    "enc",
                    F.replace(F.col("enc"), F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|")),
                )
            encoded = cur.localCheckpoint(eager=True)
        finally:
            enc0.unpersist()
        for stale in [k for k in cache if k[0] == sf_dir and k != key]:
            cache.pop(stale)[1].unpersist()
        cache[key] = (merges, encoded)
    return cache[key]


def q158_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges, _encoded = _bpe_cache(spark, sf_dir)
    return spark.createDataFrame(
        merges, "step int, sym_a string, sym_b string, pair_count bigint, merged string"
    )


def _oracle_bpe() -> str:
    sql = r"""
WITH words AS (
    SELECT w, COUNT(*) AS freq FROM (
        SELECT unnest(regexp_split_to_array(text, '\s+')) AS w FROM documents)
    WHERE w <> '' AND w NOT LIKE '%|%'
    GROUP BY w
),
enc0 AS (
    SELECT '|' || array_to_string(list_transform(range(1, length(w) + 1), i -> w[i:i]), '||') || '|' AS enc,
           freq
    FROM words
)"""
    prev = "enc0"
    selects = []
    for step in range(1, BPE_MERGES + 1):
        sql += f""",
p{step} AS (
    SELECT syms[i] AS a, syms[i+1] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
    FROM (SELECT freq, string_split(substr(enc, 2, length(enc) - 2), '||') AS syms FROM {prev}),
         UNNEST(range(1, len(syms))) AS t(i)
    GROUP BY 1, 2
),
t{step} AS (SELECT a, b, cnt FROM p{step} ORDER BY cnt DESC, a DESC, b DESC LIMIT 1),
enc{step} AS (
    SELECT replace(enc, '|' || a || '||' || b || '|', '|' || a || b || '|') AS enc, freq
    FROM {prev}, t{step}
)"""
        selects.append(
            f"SELECT {step} AS step, a AS sym_a, b AS sym_b, cnt AS pair_count, "
            f"a || b AS merged FROM t{step}"
        )
        prev = f"enc{step}"
    return sql + "\n" + "\nUNION ALL\n".join(selects)


ORACLE_Q158 = _oracle_bpe()


# ---------------------------------------------------------------------------
# q169 — BPE tokenizer APPLICATION: encode the corpus vocabulary with the
# q158-trained merge rules and report the token-length distribution —
# the inference-side counterpart of q158's training (together they are
# the full tokenizer lifecycle: learn rules -> encode corpus).  Because
# greedy BPE applies merges in training order, the training loop's final
# vocab state IS the encoding, so the trained artifact is shared
# (_bpe_cache) and this query costs one aggregation over the
# vocab-sized table — no corpus re-read, no re-training.
#
# Output: for each post-BPE token count, how many distinct words, their
# corpus occurrences (weighting by word frequency = the corpus-level
# token statistics a tokenizer eval reports), and total characters.
# All exact bigints; the oracle re-trains AND re-encodes from scratch in
# generated SQL (the q158 CTE chain with the word column threaded
# through), so the hash gate proves train+apply end-to-end.
# ---------------------------------------------------------------------------
def q169_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    _merges, encoded = _bpe_cache(spark, sf_dir)
    n_tok = F.size(F.split(F.expr("substring(enc, 2, length(enc) - 2)"), r"\|\|"))
    return (
        encoded.select(
            n_tok.alias("n_tokens"), "freq", (F.length("w") * F.col("freq")).alias("wchars")
        )
        .groupBy("n_tokens")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("freq").cast("bigint").alias("n_occurrences"),
            F.sum("wchars").cast("bigint").alias("total_chars"),
        )
    )


def _oracle_bpe_encode() -> str:
    sql = r"""
WITH words AS (
    SELECT w, COUNT(*) AS freq FROM (
        SELECT unnest(regexp_split_to_array(text, '\s+')) AS w FROM documents)
    WHERE w <> '' AND w NOT LIKE '%|%'
    GROUP BY w
),
enc0 AS (
    SELECT w,
           '|' || array_to_string(list_transform(range(1, length(w) + 1), i -> w[i:i]), '||') || '|' AS enc,
           freq
    FROM words
)"""
    prev = "enc0"
    for step in range(1, BPE_MERGES + 1):
        sql += f""",
p{step} AS (
    SELECT syms[i] AS a, syms[i+1] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
    FROM (SELECT freq, string_split(substr(enc, 2, length(enc) - 2), '||') AS syms FROM {prev}),
         UNNEST(range(1, len(syms))) AS t(i)
    GROUP BY 1, 2
),
t{step} AS (SELECT a, b, cnt FROM p{step} ORDER BY cnt DESC, a DESC, b DESC LIMIT 1),
enc{step} AS (
    SELECT w, replace(enc, '|' || a || '||' || b || '|', '|' || a || b || '|') AS enc, freq
    FROM {prev}, t{step}
)"""
        prev = f"enc{step}"
    return (
        sql
        + f"""
SELECT CAST(len(string_split(substr(enc, 2, length(enc) - 2), '||')) AS INT) AS n_tokens,
       COUNT(*) AS n_words,
       CAST(SUM(freq) AS BIGINT) AS n_occurrences,
       CAST(SUM(length(w) * freq) AS BIGINT) AS total_chars
FROM {prev}
GROUP BY 1
"""
    )


ORACLE_Q169 = _oracle_bpe_encode()



# ---------------------------------------------------------------------------
# q187 — RAG sliding-window chunking: the retrieval-prep counterpart of
# q101's training-side sequence packing.  Every document splits into
# overlapping W=64-token windows on a S=48 stride (16-token overlap, the
# standard recipe so no answer span straddles a chunk boundary unseen),
# each chunk carrying a stable (doc_id, chunk_id) identity and an
# md5 content fingerprint (the dedup/index key a vector store would
# use).  Shape: one posexplode over a per-row `sequence(0, n-1, S)` —
# pure JVM codegen, no Python — then ONE map-side-combined aggregation
# by chunk ordinal; at 100 TB the explode is embarrassingly parallel
# and the groupBy carries max-chunks-per-doc rows per task.  The gate
# proves the window algebra (counts, token sums, full-window tallies)
# and the fingerprints (distinct-chunk counts) against DuckDB's
# list-slice reconstruction.
# ---------------------------------------------------------------------------
def q187_rag_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    W, S = 64, 48
    docs = with_tokens(load_table(spark, sf_dir, "documents"))
    n = F.size("toks")
    chunks = (
        docs.where(n > 0)
        .select(
            "doc_id",
            "toks",
            F.posexplode(F.sequence(F.lit(0), n - 1, F.lit(S))).alias(
                "chunk_id", "start"
            ),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.slice("toks", F.col("start") + 1, W).alias("ctoks"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.size("ctoks").alias("clen"),
            F.md5(F.concat_ws(" ", "ctoks")).alias("fp"),
        )
    )
    return chunks.groupBy("chunk_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum("clen").cast("bigint").alias("sum_tokens"),
        F.count(F.when(F.col("clen") == W, 1)).alias("n_full"),
        F.countDistinct("fp").alias("n_unique_chunks"),
    )


ORACLE_Q187 = r"""
WITH d AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
    FROM documents
),
starts AS (
    SELECT doc_id, toks, unnest(range(0, len(toks), 48)) AS s
    FROM d WHERE len(toks) > 0
),
chunks AS (
    SELECT doc_id,
           CAST(s // 48 AS INT) AS chunk_id,
           toks[s + 1 : s + 64] AS ctoks
    FROM starts
)
SELECT chunk_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(len(ctoks)) AS BIGINT) AS sum_tokens,
       COUNT(CASE WHEN len(ctoks) = 64 THEN 1 END) AS n_full,
       COUNT(DISTINCT md5(array_to_string(ctoks, ' '))) AS n_unique_chunks
FROM chunks
GROUP BY chunk_id
"""


QUERIES = {
    "q30_wordcount": q30_wordcount,
    "q31_top_words": q31_top_words,
    "q32_token_stats": q32_token_stats,
    "q33_quality_score": q33_quality_score,
    "q34_lang_id": q34_lang_id,
    "q35_fingerprint": q35_fingerprint,
    "q36_bigram_freq": q36_bigram_freq,
    "q37_bpe_token_count": q37_bpe_token_count,
    "q38_tfidf": q38_tfidf,
    "q39_prep_pipeline": q39_prep_pipeline,
    "q86_sentence_stats": q86_sentence_stats,
    "q87_repetition_signals": q87_repetition_signals,
    "q88_decontaminate": q88_decontaminate,
    "q101_sequence_packing": q101_sequence_packing,
    "q102_domain_mixture": q102_domain_mixture,
    "q103_vocab_encode": q103_vocab_encode,
    "q109_unigram_logprob": q109_unigram_logprob,
    "q116_train_val_split": q116_train_val_split,
    "q125_bm25_topk": q125_bm25_topk,
    "q145_incremental_bm25": q145_incremental_bm25,
    "q126_shard_manifest": q126_shard_manifest,
    "q158_bpe_merges": q158_bpe_merges,
    "q169_bpe_encode": q169_bpe_encode,
    "q187_rag_chunking": q187_rag_chunking,
}

ORACLE = {
    "q30_wordcount": ORACLE_Q30,
    "q31_top_words": ORACLE_Q31,
    "q32_token_stats": ORACLE_Q32,
    "q33_quality_score": ORACLE_Q33,
    "q34_lang_id": ORACLE_Q34,
    "q35_fingerprint": ORACLE_Q35,
    "q36_bigram_freq": ORACLE_Q36,
    "q37_bpe_token_count": ORACLE_Q37,
    "q38_tfidf": ORACLE_Q38,
    "q39_prep_pipeline": ORACLE_Q39,
    "q86_sentence_stats": ORACLE_Q86,
    "q87_repetition_signals": ORACLE_Q87,
    "q88_decontaminate": ORACLE_Q88,
    "q101_sequence_packing": ORACLE_Q101,
    "q102_domain_mixture": ORACLE_Q102,
    "q103_vocab_encode": ORACLE_Q103,
    "q109_unigram_logprob": ORACLE_Q109,
    "q116_train_val_split": ORACLE_Q116,
    "q125_bm25_topk": ORACLE_Q125,
    "q145_incremental_bm25": ORACLE_Q125,  # merged index == full recompute
    "q126_shard_manifest": ORACLE_Q126,
    "q158_bpe_merges": ORACLE_Q158,
    "q169_bpe_encode": ORACLE_Q169,
    "q187_rag_chunking": ORACLE_Q187,
}
