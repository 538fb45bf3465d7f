"""Per-query core-scaling evidence at 125x (VERDICT r15 item 6).

The driver's 8-vs-32-core block at sf0.1 is uninformative: every row is
dominated by fixed per-query costs (planning, Python workers, micro-batch
machinery), and several rows run FASTER at 8 cores.  This probe re-asks
the question at 125x staged data, where data time dominates, for the
query families that scale honestly by key-offset copying:

- the linear-class battery from tools/scaling_probe.py (fact-table
  aggregations/windows/joins + per-doc-linear corpus ops);
- the iterative graph family, on a SEPARATE staging in which BOTH edge
  endpoints are offset per copy (125 disjoint copies of the graph — the
  shared scaling_probe staging offsets only l_orderkey, which would give
  one graph with 125x parallel edges, a different question).

The pair-based dedup family stays excluded here as everywhere: key-offset
copies of the same text are cross-copy near-duplicates, so 125x input
changes the ANSWER quadratically, not the engine behavior — its honest
scale evidence is tools/probe_q41_hotshingle.py and
tools/probe_embeddings_scale.py.  Streaming rows are excluded because
their replay-to-completion cost is the per-batch machinery floor
(plans/r16/measure_stream_startstop.json).

Usage:
  SPARK_GRAFT_PROBE_COPIES=125 SPARK_GRAFT_CPUS=32 python tools/core_scaling_probe.py
  SPARK_GRAFT_PROBE_COPIES=125 SPARK_GRAFT_CPUS=8  python tools/core_scaling_probe.py
Writes plans/r16/core_scaling_<cpus>cpu.json; combine with
tools/core_scaling_report.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import scaling_probe as SP  # noqa: E402  (reuses its staging + battery)

GRAPH_STAGE = f"/tmp/tinymr_spark_scalegraph{SP.N_COPIES}x"

GRAPH_BATTERY = ["q146_pagerank", "q168_triangle_count", "q172_kcore_peel"]


def stage_graph(spark) -> None:
    from pyspark.sql import functions as F

    from tinymr_spark.sources import load_table

    done = os.path.join(GRAPH_STAGE, "_STAGED")
    if os.path.exists(done):
        return
    os.makedirs(GRAPH_STAGE, exist_ok=True)
    li = load_table(spark, SP.BASE, "lineitem")
    copies = []
    for i in range(SP.N_COPIES):
        off = F.lit(i * SP.KEY_OFFSET)
        copies.append(
            li.withColumn("l_partkey", F.col("l_partkey") + off)
            .withColumn("l_suppkey", F.col("l_suppkey") + off)
            .withColumn("l_orderkey", F.col("l_orderkey") + off)
        )
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    out.write.mode("overwrite").parquet(os.path.join(GRAPH_STAGE, "lineitem.parquet"))
    open(done, "w").close()


def main() -> None:
    import __spark_entry__ as entrymod
    from tinymr_spark.session import get_session

    spark = get_session(app_name="core-scaling-probe")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism
    qs = entrymod.queries()
    from tinymr_spark.operators import scale as _scale_mod

    qs.setdefault("q130_zorder_layout", _scale_mod.q130_zorder_layout)

    SP.stage(spark)
    stage_graph(spark)

    def timed_min2(fn, sf):
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, sf).count()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    rows: dict[str, dict] = {}
    for name in SP.BATTERY:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"core-scaling {name}")
        fn(spark, SP.BASE).count()  # warm plan/codegen
        t1 = timed_min2(fn, SP.BASE)
        fn(spark, SP.STAGE).count()
        tn = timed_min2(fn, SP.STAGE)
        rows[name] = {"t_1x": t1, f"t_{SP.N_COPIES}x": tn}
        print(f"{name:30s} 1x={t1:7.2f} {SP.N_COPIES}x={tn:7.2f}")
    for name in GRAPH_BATTERY:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"core-scaling {name}")
        fn(spark, SP.BASE).count()
        t1 = timed_min2(fn, SP.BASE)
        fn(spark, GRAPH_STAGE).count()  # builds the 125x edge cache (cold)
        tn = timed_min2(fn, GRAPH_STAGE)  # warm-cache passes, like the bench
        rows[name] = {"t_1x": t1, f"t_{SP.N_COPIES}x": tn, "staging": "disjoint-graph"}
        print(f"{name:30s} 1x={t1:7.2f} {SP.N_COPIES}x={tn:7.2f} (disjoint graph)")
    spark.sparkContext.setJobDescription(None)

    out = {
        "cpus": cpus,
        "n_copies": SP.N_COPIES,
        "rows": rows,
    }
    rnd = os.environ.get("PLANS_ROUND", "r16")
    path = f"/root/repo/plans/{rnd}/core_scaling_{cpus}cpu.json"
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"# wrote {path}")


if __name__ == "__main__":
    main()
