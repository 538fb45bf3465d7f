"""Embeddings-family scaling probe: the ANN/covariance rows at 1x vs 125x.

The main scaling probe (tools/scaling_probe.py) deliberately leaves the
embeddings table unscaled — pair-based dedup over duplicated vectors
changes the ANSWER quadratically.  But three embeddings operators scale
honestly under vec_id-offset row copies with the vectors UNCHANGED, and
their 100 TB claims deserve the same 125x check the fact tables got:

* q161 covariance is duplication-invariant (mean and second moments are
  unchanged by exact replication), so the answer stays fixed while the
  work grows 125x.  Its design claim — the shuffle carries
  O(partitions x 2080) Gram-partial rows at ANY corpus size, never
  O(rows) — is counted empirically here, not just argued.
* q50 brute-force and q54 IVF pin their query sets to copy-0 vec_ids
  (vec_id < N_QUERY), so the candidate corpus grows 125x with the query
  count fixed: per-query scan work linear by construction, output still
  TOP_K rows per query (no semantic blowup).

Usage: python tools/probe_embeddings_scale.py   (idle box; ~2-3 min)
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools import scaling_probe as SP  # noqa: E402  (its 1x-vs-Nx loop)
from tools.runner import stage_copies  # noqa: E402

BASE = SP.BASE
N_COPIES = int(os.environ.get("SPARK_GRAFT_PROBE_COPIES", "125"))


def _vec_copy(emb, c):
    return emb.select(
        (emb.vec_id + c * SP.KEY_OFFSET).alias("vec_id"), "embedding", "label"
    )


def main() -> None:
    from tinymr_spark.operators.similarity import (
        _gram_partials,
        q161_embedding_covariance,
    )
    from tinymr_spark.session import get_session
    from tinymr_spark.sources import load_table

    spark = get_session(app_name="probe-embeddings-scale")
    spark.sparkContext.setLogLevel("ERROR")
    staged = stage_copies(
        spark, "tinymr_spark_emb_scale", BASE, N_COPIES,
        {"embeddings": _vec_copy}, repartition=32,
    )
    SP.battery_ratios(
        spark, ["q161_embedding_covariance", "q50_ann_bruteforce", "q54_ann_ivf"], staged
    )

    # the bounded-shuffle count: Gram-partial rows entering q161's
    # groupBy must track the PARTITION count (x2080 each), not the row
    # count — this is the number that stays flat on a 1000-executor
    # cluster reading 100 TB.
    for label, d in (("1x", BASE), (f"{N_COPIES}x", staged)):
        emb = load_table(spark, d, "embeddings")
        nrows = emb.count()
        nparts = emb.select("embedding").rdd.getNumPartitions()
        npartial = (
            emb.select("embedding")
            .mapInPandas(_gram_partials, "i int, j int, cnt bigint, u bigint")
            .count()
        )
        print(
            f"q161 partials at {label}: {npartial} shuffle rows from "
            f"{nrows} vectors in {nparts} partitions "
            f"(= partitions x 2080: {npartial == nparts * 2080})"
        )
    # duplication invariance doubles as a correctness check: the staged
    # covariance must equal the base covariance exactly (same mean and
    # second moments; only n differs)
    a = {
        (r["i"], r["j"]): r["cov"]
        for r in q161_embedding_covariance(spark, BASE).collect()
    }
    b = {
        (r["i"], r["j"]): r["cov"]
        for r in q161_embedding_covariance(spark, staged).collect()
    }
    same = sum(1 for k in a if abs(a[k] - b[k]) < 1e-6)
    print(f"covariance duplication-invariance: {same}/{len(a)} cells equal")
    spark.stop()


if __name__ == "__main__":
    main()
