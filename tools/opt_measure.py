"""Round-15 optimization measurement harness (guide §1).

For each named query (default: the top-cost rows from BENCH_DETAIL):
  - builds the DataFrame once (construction time = staging/caches),
  - times the computation through the noop sink (guide §1.4 — computes
    every column of every row, no sink cost, no count() column pruning),
  - times `.count()` as well (the bench's historical methodology, kept
    for comparability),
  - writes `.explain("formatted")` to plans/r15/<query>_<tag>.txt.

Usage:
  python tools/opt_measure.py [--tag before|after] [--reps N] [q41 q47 ...]

Timings are min-of-N (default 2) on a warm session, taken by
tools/runner.time_query, which labels every job with its query name.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

DEFAULT_TARGETS = [
    "q41_dedup_jaccard",
    "q47_dedup_simhash_banded",
    "q49_corpus_pipeline",
    "q55_embedding_lsh_dedup",
    "q146_pagerank",
    "q145_incremental_bm25",
    "q147_hybrid_rrf",
    "q127_contamination_matrix",
    "q110_salted_skew_join",
    "q104_ml_minhash_lsh",
    "q83_mr_secondary_sort",
    "q172_kcore_peel",
]


def main() -> None:
    args = [a for a in sys.argv[1:]]
    tag = "before"
    reps = 2
    if "--tag" in args:
        i = args.index("--tag")
        tag = args[i + 1]
        del args[i : i + 2]
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    targets = args or DEFAULT_TARGETS

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entrymod
    from tinymr_spark.session import get_session
    from tools.runner import time_query

    spark = get_session(app_name="tinymr-opt-measure")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    plans_dir = ROOT / "plans" / os.environ.get("PLANS_ROUND", "r16")
    os.makedirs(plans_dir, exist_ok=True)

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    out = {}
    for name in targets:
        fn = qs[name]
        # Warm pass at tiny SF primes codegen for this plan shape.
        try:
            time_query(spark, name, fn, "/root/testdata/sf0.001")
        except Exception as e:
            print(f"# warm fail {name}: {e}", file=sys.stderr)

        # Construction time, and the plan capture (cheap, no execution).
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            ((t_construct, _),) = time_query(
                spark, f"{name}: construct", fn, sf_dir,
                action=lambda df: df.explain("formatted"),
            )
        short = name.split("_", 1)[0]
        with open(plans_dir / f"{short}_{tag}.txt", "w") as f:
            f.write(f"# {name} @ {sf_dir} ({tag})\n")
            f.write(buf.getvalue())

        noop_times, count_times = [], []
        for rep in range(reps):
            for times, label, action in (
                (noop_times, "noop", noop), (count_times, "count", None)
            ):
                ((b, a),) = time_query(
                    spark, f"{name}: {label} rep{rep}", fn, sf_dir, action=action
                )
                times.append(round(b + a, 4))
        out[name] = {
            "construct": round(t_construct, 4),
            "noop": noop_times,
            "count": count_times,
            "noop_min": min(noop_times),
            "count_min": min(count_times),
        }
        print(f"{name:32s} noop={min(noop_times):6.2f} count={min(count_times):6.2f} "
              f"(all noop={noop_times} count={count_times})")

    path = plans_dir / f"measure_{tag}.json"
    with open(path, "w") as f:
        json.dump({"sf": sf_dir, "rows": out}, f, indent=1)
    print(f"# wrote {path}")


if __name__ == "__main__":
    main()
