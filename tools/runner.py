"""The one query runner and the one copy-stager that bench.py and the
scale probes share.

`time_query` is every timed query pass: build the DataFrame, run one
action on it, under a job description naming the query.  `stage_copies`
is every scaled input: N transformed copies of each source table,
staged once per source version and transform code by `sources.staged`.
"""

from __future__ import annotations

import os
import shutil
import time
from functools import reduce


def time_query(spark, name, fn, sf_dir, reps=1, action=None):
    """Run `reps` passes of query `fn` at `sf_dir` and return one
    `(build_s, action_s)` pair per pass: `fn(spark, sf_dir)` is timed as
    construction (staging checks, standing indexes, eager caches), then
    `action(df)` — `df.count()` by default, the bench's methodology.

    Every pass runs under `sc.setJobDescription(name)`, cleared
    afterwards even when the query raises.  Job descriptions, not job
    tags: PySpark 4.1's query-started event fails on tagged jobs, and
    streaming rows run through here too."""
    sc = spark.sparkContext
    act = action or (lambda df: df.count())
    out = []
    for _ in range(reps):
        sc.setJobDescription(name)
        try:
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            act(df)
            out.append((t1 - t0, time.perf_counter() - t1))
        finally:
            sc.setJobDescription(None)
    return out


def stage_copies(spark, kind, src_dir, n, tables, repartition=None) -> str:
    """Stage `n` copies of each table of `src_dir` and return the staged
    sf dir, a `sources.staged` artifact of kind `<kind>_<n>x`.

    `tables` maps a table name to `transform(df, i) -> DataFrame` for
    copy `i` (the copies are written as one union), or to None for a
    table copied byte for byte, once.  `repartition` sets the written
    file count of the unions.  The staging is keyed by the
    `file_version` of every source, this stager's code, the code of
    every transform and `repartition`: a regenerated source or an edited
    transform restages from scratch, never served stale.  `n` is in the
    kind, not the key, so stagings at several N live side by side."""
    from tinymr_spark.sources import load_table, retire_artifact_roots, staged, table_path

    retire_artifact_roots(spark, staging_kinds=(kind,))  # the old `<kind>/<n>x` layout

    def build(out):
        os.makedirs(out)
        for t, transform in tables.items():
            if transform is None:
                shutil.copyfile(table_path(src_dir, t), table_path(out, t))
                continue
            df = load_table(spark, src_dir, t)
            union = reduce(
                lambda a, b: a.unionByName(b), (transform(df, i) for i in range(n))
            )
            if repartition:
                union = union.repartition(repartition)
            union.write.parquet(table_path(out, t))

    return staged(
        f"{kind}_{n}x", [table_path(src_dir, t) for t in tables], build,
        key=(repartition, *tables.values()),
    )
