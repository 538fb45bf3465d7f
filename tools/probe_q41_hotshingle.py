"""Hot-shingle scaling probe for q41 (VERDICT r13 task 4 done-criterion).

Stages K-times-scaled copies of sf0.1 `documents` with:

* per-copy-UNIQUE tokens (every token suffixed with the copy id), so
  each copy contributes its own shingles and pairs — work and output
  scale LINEARLY by construction, the honest way to scale a pair-based
  operator (the main scaling_probe deliberately excludes dedup because
  naive row copies change the answer quadratically);
* a DELIBERATELY HOT boilerplate sentence appended to every document in
  every copy — its pure-interior 3-gram shingles have df = total corpus
  size, exactly the d^2 bucket HOT_SHINGLE_DF_CAP exists to suppress
  (at 25x that bucket alone would be ~125k^2/2 = 7.8e9 candidate pairs).

Prints min-of-2 wall times at 1x/5x/25x; sub-linear per-doc time (ratio
growth <= copy growth) is the pass signal.  Run on an idle box.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools.runner import stage_copies, time_query  # noqa: E402

BASE = "/root/testdata/sf0.1"
BOILER = " all rights reserved worldwide respectively"
COPIES = (1, 5, 25)


def _hot_copy(docs, c):
    from pyspark.sql import functions as F

    return docs.select(
        (F.col("doc_id") + c * 1_000_000_000).alias("doc_id"),
        F.concat(
            F.regexp_replace(F.col("text"), r"(\S+)", f"$1x{c}"),
            F.lit(BOILER),
        ).alias("text"),
        "lang",
        "source",
        (F.col("n_chars") + len(BOILER)).alias("n_chars"),
    )


def main() -> None:
    from tinymr_spark.operators.dedup import q41_dedup_jaccard
    from tinymr_spark.session import get_session

    spark = get_session(app_name="probe-q41-hotshingle")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for n in COPIES:
        sf_dir = stage_copies(
            spark, "tinymr_spark_q41_hotshingle", BASE, n,
            {"documents": _hot_copy}, repartition=32,
        )
        counts = []
        # the first pass warms codegen/workers; min of the other two
        passes = time_query(
            spark, "q41_dedup_jaccard", q41_dedup_jaccard, sf_dir, reps=3,
            action=lambda df: counts.append(df.count()),
        )
        t = min(b + a for b, a in passes[1:])
        rows.append((n, t))
        print(f"{n:3d}x  min {t:7.2f} s   pairs={counts[-1]}")
    t1 = rows[0][1]
    for n, t in rows[1:]:
        print(f"ratio {n}x/1x: {t / t1:.2f} (copies grew {n}x)")
    spark.stop()


if __name__ == "__main__":
    main()
