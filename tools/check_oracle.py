"""One sweep over the registry: execute each query once and check it.

`check_query` builds a query's DataFrame once, reads its plan before
execution (scale red flags, shuffle exchange count), collects it once,
reads the final AQE plan of that same QueryExecution for duplicated
pipelines, and compares the rows with the query's DuckDB oracle — the
driver's correctness gate: row count, column names, and an
order-insensitive value hash (floats rounded to 9 significant digits,
timestamps to ISO micros).  tests/test_oracle_parity.py runs it per query
at sf0.001; this CLI runs it over the registry and prints one line per
query.

Red flags (fail):
  CartesianProduct           — all-pairs blowup
  BroadcastNestedLoopJoin    — non-equi join fallback (O(n*m) probe)
  BatchEvalPython            — row-at-a-time Python UDF in the plan
Informational: ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas
(Python, but Arrow-batched — the sanctioned escape hatch) and the
shuffle exchange count.

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import hashlib
import math
import re
import sys
import time
from collections import Counter
from dataclasses import dataclass
from datetime import date, datetime
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

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

# query -> the exact duplicated final-plan signatures that are the
# design or an accepted cost (signature -> count, one reason per entry).
# Every other query must have none; a new duplicate, or one that has
# been fixed, fails the sweep.
EXPECTED_DUPS: dict[str, dict[str, int]] = {
    # big_spenders feeds both the INTERSECT and the EXCEPT ALL branch,
    # planned as different joins, so each reads the filtered orders
    "q14_set_ops": {
        "FileScan parquet [o_custkey#x,o_totalprice#x] Batched: true, "
        "DataFilters: [isnotnull(o_totalprice#x), (o_totalprice#x > "
        "450000.0)], Format: Parquet, Location: InMemoryFileIndex, "
        "PartitionFilters: [], PushedFilters: [IsNotNull(o_totalprice), "
        "GreaterThan(o_totalprice,450000.0)], ReadSchema: "
        "struct<o_custkey:bigint,o_totalprice:double>": 2,
    },
    # label self-join: AQE broadcasts one side and streams the other,
    # so each side reads embeddings
    "q44_dedup_embedding": {
        "FileScan parquet [vec_id#x,embedding#x,label#x] Batched: true, "
        "DataFilters: [isnotnull(label#x), isnotnull(vec_id#x)], Format: "
        "Parquet, Location: InMemoryFileIndex, PartitionFilters: [], "
        "PushedFilters: [IsNotNull(label), IsNotNull(vec_id)], ReadSchema: "
        "struct<vec_id:bigint,embedding:array<float>,label:int>": 2,
    },
    # bucketed band-index self-join, shuffle-free by design: each side
    # reads the index
    "q104_ml_minhash_lsh": {
        "FileScan parquet [doc_id#x,entry#x,h#x] Batched: true, Bucketed: "
        "true, DataFilters: [isnotnull(entry#x), isnotnull(h#x), "
        "isnotnull(doc_id#x)], Format: Parquet, Location: "
        "InMemoryFileIndex, PartitionFilters: [], PushedFilters: "
        "[IsNotNull(entry), IsNotNull(h), IsNotNull(doc_id)], ReadSchema: "
        "struct<doc_id:bigint,entry:int,h:bigint>, SelectedBucketsCount: 8 "
        "out of 8": 2,
    },
    # the new-document shard is read for its fingerprints and again for
    # shard_first, the first id per fingerprint, joined back to it
    "q123_incremental_dedup": {
        "FileScan parquet [doc_id#x,text#x] Batched: true, DataFilters: "
        "[isnotnull(doc_id#x), (pmod(doc_id#x, 5) = 0), "
        "isnotnull(md5(cast(text#x as binary)))], Format: Parquet, "
        "Location: InMemoryFileIndex, PartitionFilters: [], PushedFilters: "
        "[IsNotNull(doc_id)], ReadSchema: struct<doc_id:bigint,text:string>": 2,
    },
    # the sketch and the exact counts are the two designed passes over
    # the token stream (see q132)
    "q132_countmin_sketch": {
        "Generate explode(filter(split(text#x, \\s+, -1), lambdafunction(NOT"
        " (lambda x_x#x = ), lambda x_x#x, false))), false, [tok#x]": 2,
        "FileScan parquet [text#x] Batched: true, DataFilters: [], Format: "
        "Parquet, Location: InMemoryFileIndex, PartitionFilters: [], "
        "PushedFilters: [], ReadSchema: struct<text:string>": 2,
    },
    # the scored pairs feed both the dense and the quantized ranking
    # window, so the corpus and the query set are read once per ranker
    "q147_hybrid_rrf": {
        "FileScan parquet [vec_id#x,embedding#x] Batched: true, "
        "DataFilters: [isnotnull(vec_id#x)], Format: Parquet, Location: "
        "InMemoryFileIndex, PartitionFilters: [], PushedFilters: "
        "[IsNotNull(vec_id)], ReadSchema: "
        "struct<vec_id:bigint,embedding:array<float>>": 2,
        "FileScan parquet [vec_id#x,embedding#x] Batched: true, "
        "DataFilters: [isnotnull(vec_id#x), (vec_id#x < 5)], Format: "
        "Parquet, Location: InMemoryFileIndex, PartitionFilters: [], "
        "PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,5)], "
        "ReadSchema: struct<vec_id:bigint,embedding:array<float>>": 2,
    },
    # each rule row re-selects the cross-joined 1-row metrics; AQE
    # reuses most copies, but rule-specific column pruning leaves second
    # reads of lineitem (row count, orphan anti-join) and orders (key count)
    "q148_quality_constraints": {
        "FileScan parquet [] Batched: true, DataFilters: [], Format: "
        "Parquet, Location: InMemoryFileIndex, PartitionFilters: [], "
        "PushedFilters: [], ReadSchema: struct<>": 2,
        "FileScan parquet [o_orderkey#x] Batched: true, DataFilters: [], "
        "Format: Parquet, Location: InMemoryFileIndex, PartitionFilters: "
        "[], PushedFilters: [], ReadSchema: struct<o_orderkey:bigint>": 2,
        "FileScan parquet [l_orderkey#x] Batched: true, DataFilters: [], "
        "Format: Parquet, Location: InMemoryFileIndex, PartitionFilters: "
        "[], PushedFilters: [], ReadSchema: struct<l_orderkey:bigint>": 2,
    },
    # one pass over lineitem per profiled key (raw and collapsed-even)
    "q150_skew_profile": {
        "FileScan parquet [l_orderkey#x] Batched: true, DataFilters: [], "
        "Format: Parquet, Location: InMemoryFileIndex, PartitionFilters: "
        "[], PushedFilters: [], ReadSchema: struct<l_orderkey:bigint>": 2,
    },
    # events is read for the per-type IQR fences and again for the rows
    # flagged against them
    "q152_outlier_quarantine": {
        "FileScan parquet [event_type#x,value#x] Batched: true, "
        "DataFilters: [isnotnull(event_type#x)], Format: Parquet, Location:"
        " InMemoryFileIndex, PartitionFilters: [], PushedFilters: "
        "[IsNotNull(event_type)], ReadSchema: "
        "struct<event_type:string,value:double>": 2,
    },
    # the baseline and the drifted histograms each bin their own pass
    # over events
    "q153_psi_drift": {
        "FileScan parquet [event_type#x,value#x] Batched: true, "
        "DataFilters: [isnotnull(event_type#x)], Format: Parquet, Location:"
        " InMemoryFileIndex, PartitionFilters: [], PushedFilters: "
        "[IsNotNull(event_type)], ReadSchema: "
        "struct<event_type:string,value:double>": 2,
    },
    # the persisted JSON parse prints under both InMemoryTableScans (good
    # and quarantined rows); the file is read once into the cache
    "q155_corrupt_ingest": {
        "FileScan json "
        "[o_orderkey#x,o_orderstatus#x,o_totalprice#x,_corrupt_record#x] "
        "Batched: false, DataFilters: [], Format: JSON, Location: "
        "InMemoryFileIndex, PartitionFilters: [], PushedFilters: [], "
        "ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string,o_totalp"
        "rice:double,_corrupt_record:string>": 2,
    },
    # bucketed cell-index self-join, q104's shape
    "q157_semdedup": {
        "FileScan parquet "
        "[cell#x,vec_id#x,embedding#x,norm#x,shard#x,csim#x] Batched: true,"
        " Bucketed: true, DataFilters: [isnotnull(cell#x), "
        "isnotnull(shard#x), isnotnull(vec_id#x)], Format: Parquet, "
        "Location: InMemoryFileIndex, PartitionFilters: [], PushedFilters: "
        "[IsNotNull(cell), IsNotNull(shard), IsNotNull(vec_id)], "
        "ReadSchema: struct<cell:int,vec_id:bigint,embedding:array<float>,n"
        "orm:double,shard:bigint,csim:double>, SelectedBucketsCount: 8 out "
        "of 8": 2,
    },
}


def dup_signatures(plan: str) -> dict[str, int]:
    """Duplicated-pipeline smell detector over a FINAL (post-AQE) plan
    string: Generate/FileScan/Python-eval lines that appear 2+ times,
    at any depth or branch of the tree, once their ids are normalized —
    expr ids (`#12`, `#12L`), exchange plan ids (`plan_id=7`),
    whole-stage-codegen ids (`*(3)`) and the process-wide counter in
    lambda variable names (`lambda x_21`).
    Literals, bracketed ones like `tok#3[0]` included, stay as they are.

    Pass the executedPlan of a QueryExecution that has run (collect() on
    the DataFrame itself — a separate noop-write command builds a fresh
    QE and leaves isFinalPlan=false).  explain() cannot do this job: AQE
    ReuseExchange only shows in the executed plan, and the r15 audit
    found both error directions in initial-plan reasoning — self-joins
    that DO reuse at runtime, and shared code that column pruning
    silently re-expands into duplicate full pipelines (q38/q145/q106).

    Spark cuts a scan's file list at `spark.sql.maxMetadataStringLength`
    (100 chars by default), which can make reads of two versions of one
    table print alike; raise it before planning for an exact answer.  A
    returned key drops the scan's table identifier and file list (temp
    staging roots, data dirs, version hashes), so a pinned result holds
    on any host; lines are matched with both."""
    final = plan.split("== Initial Plan ==")[0]
    sigs = Counter(
        re.sub(r"(#|plan_id=|\*\(|lambda \w+_)\d+L?", r"\1x", line.lstrip(" :+-"))
        for line in final.splitlines()
        if "Generate explode" in line
        or "FileScan" in line
        or "ArrowEvalPython" in line
        or "BatchEvalPython" in line
    )
    dups: Counter[str] = Counter()
    for sig, n in sigs.items():
        if n > 1:
            key = re.sub(r"^(FileScan \w+ )[^\[ ]+\[", r"\1[", sig)
            key = re.sub(r"Location: (\w+)\(.*?(?=, PartitionFilters: )", r"Location: \1", key)
            dups[key] += n
    return dict(dups)


def norm_cell(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return f"b:{int(v)}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        if v == 0:
            return "f:0"
        return f"f:{v:.9g}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, datetime):
        return "t:" + v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, date):
        return "d:" + v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={norm_cell(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (bytes, bytearray)):
        return "x:" + bytes(v).hex()
    return "s:" + str(v)


def _lines(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)


def table_hash(rows, colnames):
    h = hashlib.sha256()
    for line in _lines(rows, colnames):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_mismatch(srows, scols, drows, dcols) -> str | None:
    """None when Spark's rows equal the oracle's, else what differs."""
    if len(srows) != len(drows):
        return f"rowcount {len(srows)} vs {len(drows)}"
    if sorted(scols) != sorted(dcols):
        return f"cols {sorted(scols)} vs {sorted(dcols)}"
    if table_hash(srows, scols) == table_hash(drows, dcols):
        return None
    s, d = set(_lines(srows, scols)), set(_lines(drows, dcols))
    return (f"value-hash mismatch; spark-only: {sorted(s - d)[:3]}; "
            f"duck-only: {sorted(d - s)[:3]}")


@dataclass
class Check:
    name: str
    rows: int
    exchanges: int
    arrow: list[str]
    reds: list[str]
    dups: dict[str, int]
    mismatch: str | None

    def problems(self) -> list[str]:
        out = [f"red flags {self.reds}"] if self.reds else []
        pinned = EXPECTED_DUPS.get(self.name, {})
        if self.dups != pinned:
            out.append(f"dup signatures {self.dups} (pinned {pinned})")
        if self.mismatch:
            out.append(self.mismatch)
        return out


def check_query(spark, con, sf_dir: str, name: str, fn, oracle: str) -> Check:
    """Build `fn` once, read its plan, collect it once, read the final
    plan of the same QueryExecution, and compare with `oracle` on DuckDB
    connection `con`."""
    # Spark cuts a scan's file list at 100 chars by default, so reads of
    # two versions of one table would print alike
    key = "spark.sql.maxMetadataStringLength"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(1 << 20))
    try:
        df = fn(spark, sf_dir)
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        scols = df.columns
        srows = [tuple(r) for r in df.collect()]
        dups = dup_signatures(qe.executedPlan().toString())
    finally:
        spark.conf.set(key, prev)
    # streams and foreachBatch sinks ran on construction; their plan is
    # the result-table read (see DYNAMIC), so red flags do not apply
    dynamic = name in DYNAMIC or name.startswith("q9")
    reds = [] if dynamic else [
        p for p in RED
        if p in plan and not (p == "BroadcastNestedLoopJoin" and name in ALLOW_BNLJ)
    ]
    exchanges = (
        plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning")
        # explicit repartition(n) — a real shuffle too (the multimodal
        # decode stages repartition their tiny metadata input so
        # CPU-bound Python work doesn't inherit a one-file scan's single
        # partition)
        + plan.count("Exchange RoundRobinPartitioning")
    )
    rel = con.sql(oracle)
    return Check(
        name, len(srows), exchanges, [p for p in INFO if p in plan], reds, dups,
        oracle_mismatch(srows, scols, rel.fetchall(), rel.columns),
    )


def sweep_queries() -> dict:
    """name -> (query fn, oracle SQL): every `__spark_entry__.queries()`
    entry with its `oracle_sql()` twin, nothing else."""
    import __spark_entry__ as entrymod

    osql = entrymod.oracle_sql()
    return {name: (fn, osql[name]) for name, fn in entrymod.queries().items()}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    from tinymr_spark.session import get_session

    spark = get_session(app_name="oracle-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    failures = []
    queries = {n: q for n, q in sweep_queries().items() if not only or n in only}
    for name, (fn, oracle) in queries.items():
        t0 = time.time()
        try:
            c = check_query(spark, con, sf_dir, name, fn, oracle)
            problems = c.problems()
        except Exception as e:
            c, problems = None, [f"error: {type(e).__name__}: {str(e)[:200]}"]
        if problems:
            print(f"FAIL  {name:32s} {'; '.join(p[:400] for p in problems)}")
            failures.append(name)
            continue
        arrow = f" arrow:{','.join(c.arrow)}" if c.arrow else ""
        dups = f" dups:{sum(c.dups.values())}" if c.dups else ""
        print(f"ok    {name:32s} rows={c.rows} exchanges={c.exchanges}{arrow}{dups}"
              f"  ({time.time() - t0:.1f}s)")

    print()
    print(f"{len(queries) - len(failures)}/{len(queries)} queries pass")
    if failures:
        print(f"FAILURES: {failures}")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
