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
Writes plans/$PLANS_ROUND/core_scaling_<cpus>cpu.json (default r16);
combine with tools/core_scaling_report.py.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from tools import scaling_probe as SP  # noqa: E402  (its staging + battery)
from tools.runner import stage_copies  # noqa: E402

GRAPH_BATTERY = ["q146_pagerank", "q168_triangle_count", "q172_kcore_peel"]


def main() -> None:
    from tinymr_spark.session import get_session

    spark = get_session(app_name="core-scaling-probe")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism

    stage = stage_copies(spark, "tinymr_spark_scale", SP.BASE, SP.N_COPIES, SP.TABLES)
    graph_stage = stage_copies(
        spark, "tinymr_spark_scalegraph", SP.BASE, SP.N_COPIES,
        {"lineitem": SP.offset_keys("l_partkey", "l_suppkey", "l_orderkey")},
    )

    key = f"t_{SP.N_COPIES}x"
    rows = {
        name: {"t_1x": round(t1, 3), key: round(tn, 3)}
        for name, (t1, tn) in SP.battery_ratios(spark, SP.BATTERY, stage).items()
    }
    # The first staged pass of a graph query builds the Nx edge cache
    # (cold); the timed passes hit it warm, like the bench.
    print("graph battery on the disjoint-graph staging:")
    for name, (t1, tn) in SP.battery_ratios(spark, GRAPH_BATTERY, graph_stage).items():
        rows[name] = {"t_1x": round(t1, 3), key: round(tn, 3), "staging": "disjoint-graph"}

    out = {
        "cpus": cpus,
        "n_copies": SP.N_COPIES,
        "rows": rows,
    }
    plans_dir = ROOT / "plans" / os.environ.get("PLANS_ROUND", "r16")
    plans_dir.mkdir(exist_ok=True)
    path = plans_dir / f"core_scaling_{cpus}cpu.json"
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"# wrote {path}")


if __name__ == "__main__":
    main()
