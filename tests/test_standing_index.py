"""The write-then-probe standing-index lifecycle (sources.standing_index)
and its plan contract: q123/q140/q125 probe WRITTEN bucketed tables, so
the lake/index side of every probe join must consume the scan's bucket
partitioning directly — NO exchange on the index side, only the shard
shuffles — and a literal term filter must prune whole buckets."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from tinymr_spark.plans import explain_str
from tinymr_spark.sources import session_cache, staged, staging_root, standing_index


def _clone_sf(sf_dir: str, tmp_path) -> str:
    dst = str(tmp_path / "sf")
    os.makedirs(dst)
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(sf_dir, f), os.path.join(dst, f))
    return dst


def _bump(path: str) -> None:
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))


def _dirs(root: str) -> list[str]:
    """The subdirectories of a staging dir (not its records or markers)."""
    return [d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))]


def test_standing_index_builds_once_and_prunes_stale_versions(spark, sf_dir, tmp_path):
    import uuid

    # unique tag per run: pytest keeps prior tmp roots alive, so a fixed
    # tag would see still-live src dirs from earlier test sessions
    tag = f"t_lifecycle_{uuid.uuid4().hex[:8]}"
    src = str(tmp_path / "src.parquet")
    spark.range(100).selectExpr("id", "id % 7 AS k").write.parquet(src)
    builds = []

    def build():
        builds.append(1)
        return spark.read.parquet(src).groupBy("k").agg(F.count("*").alias("n"))

    idx1 = standing_index(spark, tag, [src], build, ["k"])
    assert idx1.count() == 7 and builds == [1]
    # same version: no rebuild, same table
    standing_index(spark, tag, [src], build, ["k"]).collect()
    assert builds == [1]
    cache = session_cache(spark, "_tinymr_index_cache")
    old_name = next(v for k, v in cache.items() if k[0] == tag)

    # regenerated source (new mtime): rebuild; stale table dropped from
    # the catalog AND its staged version dir removed
    _bump(src)
    standing_index(spark, tag, [src], build, ["k"]).collect()
    assert builds == [1, 1]
    assert not spark.catalog.tableExists(old_name)
    keys = [k for k in cache if k[0] == tag]
    assert len(keys) == 1
    tag_root = staging_root(f"tinymr_spark_index_{tag}")
    src_dirs = _dirs(tag_root)
    assert len(src_dirs) == 1
    ver_dirs = _dirs(os.path.join(tag_root, src_dirs[0]))
    assert len(ver_dirs) == 1, f"superseded version dirs retained: {ver_dirs}"


def test_standing_index_reregisters_across_sessions_without_rebuild(spark, tmp_path):
    """The artifact must be build-once per CORPUS SNAPSHOT, not per
    session: when the (session-scoped, in-memory) catalog lacks the
    table but the version dir already holds the written files, the
    index is re-registered as an external CLUSTERED BY table — no
    rebuild — and the re-registered table still scans with bucket
    metadata (bucket pruning fires on a key filter)."""
    import uuid

    tag = f"t_rereg_{uuid.uuid4().hex[:8]}"
    src = str(tmp_path / "src.parquet")
    spark.range(100).selectExpr("id", "id % 7 AS k").write.parquet(src)
    builds = []

    def build():
        builds.append(1)
        return spark.read.parquet(src).groupBy("k").agg(F.count("*").alias("n"))

    standing_index(spark, tag, [src], build, ["k"]).collect()
    assert builds == [1]
    cache = session_cache(spark, "_tinymr_index_cache")
    key = next(k for k in cache if k[0] == tag)
    name = cache.pop(key)
    spark.sql(f"DROP TABLE {name}")  # simulate a fresh session's catalog

    idx = standing_index(spark, tag, [src], build, ["k"])
    assert builds == [1], "index was rebuilt despite existing files"
    assert idx.count() == 7
    # bucket metadata survived re-registration: an aggregation on the
    # bucket key consumes the scan's hash partitioning — no exchange
    # (a bare filter scan would disable bucketed reading by design)
    agg_plan = explain_str(idx.groupBy("k").agg(F.sum("n").alias("t")), "simple")
    assert "Exchange hashpartitioning" not in agg_plan, agg_plan
    detail = spark.sql(f"DESCRIBE TABLE EXTENDED {cache[key]}").collect()
    assert any("Num Buckets" in r[0] and "8" in r[1] for r in detail), detail


def test_standing_index_gcs_dead_source_dirs(spark, tmp_path):
    """An index whose SOURCE file no longer exists (deleted sf clone) is
    reclaimed on the next build of any index under the same tag."""
    import uuid

    tag = f"t_gc_{uuid.uuid4().hex[:8]}"
    src_a = str(tmp_path / "a.parquet")
    src_b = str(tmp_path / "b.parquet")
    for p in (src_a, src_b):
        spark.range(10).selectExpr("id", "id % 3 AS k").write.parquet(p)

    def build(p):
        return lambda: spark.read.parquet(p).groupBy("k").agg(F.count("*").alias("n"))

    standing_index(spark, tag, [src_a], build(src_a), ["k"]).collect()
    standing_index(spark, tag, [src_b], build(src_b), ["k"]).collect()
    tag_root = staging_root(f"tinymr_spark_index_{tag}")
    assert len(_dirs(tag_root)) == 2  # both sources live -> both kept

    shutil.rmtree(src_a)
    _bump(src_b)  # new dir mtime -> new version -> prune pass runs
    standing_index(spark, tag, [src_b], build(src_b), ["k"]).collect()
    assert len(_dirs(tag_root)) == 1, "dead-source index dir not reclaimed"


def test_standing_index_rebuilds_when_builder_module_changes(spark, tmp_path):
    """The index is keyed by the code that builds it: editing the module
    that defines `build` (a new process sees the new file hash) rebuilds
    the index instead of serving the old code's table, and prunes the
    old version dir."""
    import importlib.util
    import uuid

    from tinymr_spark import sources

    tag = f"t_code_{uuid.uuid4().hex[:8]}"
    src = str(tmp_path / "src.parquet")
    spark.range(100).selectExpr("id", "id % 7 AS k").write.parquet(src)
    mod_path = tmp_path / f"builder_{tag}.py"

    def builder(version: int):
        mod_path.write_text(
            "def make(spark, src):\n"
            f"    return lambda: spark.read.parquet(src).selectExpr('k', '{version} AS v')\n"
        )
        spec = importlib.util.spec_from_file_location(f"builder_{tag}_{version}", mod_path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod.make(spark, src)

    def versions():
        idx = standing_index(spark, tag, [src], builder_fn, ["k"])
        return {r.v for r in idx.select("v").distinct().collect()}

    builder_fn = builder(1)
    assert versions() == {1}
    cache = session_cache(spark, "_tinymr_index_cache")
    old_name = next(v for k, v in cache.items() if k[0] == tag)

    builder_fn = builder(2)
    sources._file_hash.cache_clear()  # the hash is read once per process
    assert versions() == {2}, "edited builder served the old code's index"
    assert not spark.catalog.tableExists(old_name)
    tag_root = staging_root(f"tinymr_spark_index_{tag}")
    (src_dir,) = _dirs(tag_root)
    ver_dirs = _dirs(os.path.join(tag_root, src_dir))
    assert len(ver_dirs) == 1, f"superseded version dirs retained: {ver_dirs}"


def _counting_build(builds: list):
    def build(path):
        builds.append(path)
        os.makedirs(path)

    return build


def test_staged_prunes_superseded_versions(tmp_path):
    """Staged format copies / stream checkpoints keyed by source version
    must not leak one directory per corpus regeneration: resolving the
    current version prunes superseded sibling version dirs AND their
    dot-suffixed marker files."""
    src = str(tmp_path / "src.bin")
    open(src, "w").write("v1")
    build = _counting_build([])
    d1 = staged("tinymr_test_stage", src, build)
    assert os.path.isdir(d1) and os.path.exists(d1 + "._done")

    _bump(src)
    d2 = staged("tinymr_test_stage", src, build)
    assert d2 != d1
    assert not os.path.exists(d1), "superseded staged dir retained"
    assert not os.path.exists(d1 + "._done"), "superseded marker retained"
    # same version again: current dir untouched
    open(os.path.join(d2, "kept"), "w").close()
    assert staged("tinymr_test_stage", src, build) == d2
    assert os.path.isfile(os.path.join(d2, "kept"))


def test_staged_builds_once_per_source_version(tmp_path):
    src = str(tmp_path / "src.bin")
    open(src, "w").write("v1")
    builds = []
    build = _counting_build(builds)
    path = staged("tinymr_test_stage", src, build)
    assert builds == [path]
    assert staged("tinymr_test_stage", src, build) == path
    assert builds == [path], "built twice for one source version"
    _bump(src)
    assert len({staged("tinymr_test_stage", src, build), path}) == 2
    assert len(builds) == 2


def test_staged_rebuilds_when_builder_module_changes(tmp_path):
    """The staged dir is keyed by the code that builds it: editing the
    module that defines `build` (a new process sees the new file hash)
    rebuilds into a new version dir and prunes the old one."""
    import importlib.util
    import uuid

    from tinymr_spark import sources

    src = str(tmp_path / "src.bin")
    open(src, "w").write("v1")
    mod_path = tmp_path / f"stage_builder_{uuid.uuid4().hex[:8]}.py"

    def builder(version: int):
        mod_path.write_text(
            "import os\n"
            "def build(path):\n"
            "    os.makedirs(path)\n"
            f"    open(os.path.join(path, 'v'), 'w').write('{version}')\n"
        )
        spec = importlib.util.spec_from_file_location(f"{mod_path.stem}_{version}", mod_path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod.build

    old = staged("tinymr_test_stage", src, builder(1))
    new_build = builder(2)
    sources._file_hash.cache_clear()  # the hash is read once per process
    new = staged("tinymr_test_stage", src, new_build)
    assert new != old
    assert open(os.path.join(new, "v")).read() == "2", "edited builder served the old build"
    assert sorted(os.listdir(os.path.dirname(new))) == sorted(
        os.path.basename(p) for p in (new, new + "._done")
    ), "superseded version dir retained"


def test_staged_gcs_dead_source_roots(tmp_path):
    """Every staged kind reclaims the roots of sources that no longer
    exist (deleted sf clones, removed corpora) when it next builds."""
    import uuid

    kind = f"tinymr_test_gc_{uuid.uuid4().hex[:8]}"
    src_a, src_b = str(tmp_path / "a.bin"), str(tmp_path / "b.bin")
    for p in (src_a, src_b):
        open(p, "w").write("v1")
    build = _counting_build([])
    try:
        root_a = os.path.dirname(staged(kind, src_a, build))
        staged(kind, src_b, build)
        assert len(_dirs(staging_root(kind))) == 2  # both sources live -> both kept

        os.remove(src_a)
        _bump(src_b)
        staged(kind, src_b, build)
        assert not os.path.exists(root_a), "dead-source staged root not reclaimed"
        assert len(_dirs(staging_root(kind))) == 1
    finally:
        shutil.rmtree(staging_root(kind), ignore_errors=True)


def test_staged_failed_build_leaves_no_marker(tmp_path):
    """A build that raises is never served: no marker is written, and the
    next call wipes the partial dir and its `path.*` siblings before
    building again."""
    import pytest

    src = str(tmp_path / "src.bin")
    open(src, "w").write("v1")
    calls = []

    def build(path):
        # the wipe: no leftovers of the crashed attempt are visible
        assert not os.path.exists(path) and not os.path.exists(path + ".ckpt")
        calls.append(path)
        os.makedirs(path)
        os.makedirs(path + ".ckpt")
        if len(calls) == 1:
            raise RuntimeError("crashed mid-build")

    with pytest.raises(RuntimeError):
        staged("tinymr_test_stage", src, build)
    (path,) = calls
    assert os.path.isdir(path) and os.path.isdir(path + ".ckpt")
    assert not os.path.exists(path + "._done"), "a crashed build left a marker"
    assert staged("tinymr_test_stage", src, build) == path
    assert len(calls) == 2 and os.path.exists(path + "._done")


def test_staged_failed_ready_check_forces_rebuild(tmp_path):
    src = str(tmp_path / "src.bin")
    open(src, "w").write("v1")
    builds = []
    build = _counting_build(builds)
    path = staged("tinymr_test_stage", src, build, ready=lambda p: True)
    assert os.path.exists(path + "._done") and len(builds) == 1
    staged("tinymr_test_stage", src, build, ready=lambda p: True)
    assert len(builds) == 1
    # the marker is present, but the completeness check fails: rebuild
    assert staged("tinymr_test_stage", src, build, ready=lambda p: False) == path
    assert len(builds) == 2
    assert os.path.exists(path + "._done")


def test_staged_is_the_only_marker_protocol():
    """Operators, streaming queries and the tools stage artifacts only
    through `sources.staged`, and `sources` itself keeps no second
    protocol: no private done-marker, `_STAGED`/`_SUCCESS` check or
    index GC may come back."""
    import glob
    import re

    repo = os.path.join(os.path.dirname(__file__), os.pardir)
    pkg = os.path.join(repo, "tinymr_spark")
    legacy = r'"_STAGED"|"_SUCCESS"|_write_index_marker|_gc_dead_source_indexes'
    callers = (
        glob.glob(os.path.join(pkg, "operators", "*.py"))
        + glob.glob(os.path.join(repo, "tools", "*.py"))
        + [os.path.join(pkg, "streaming", "__init__.py")]
    )
    checks = [
        (f, re.compile(legacy + r'|versioned_staging_dir\(|"\._done|open\(done'))
        for f in callers
    ] + [(os.path.join(pkg, "sources", "__init__.py"), re.compile(legacy))]
    hits = [
        f"{os.path.relpath(f, repo)}:{n}: {line.strip()}"
        for f, pattern in checks
        for n, line in enumerate(open(f), 1)
        if pattern.search(line)
    ]
    assert len(callers) > 10 and hits == [], hits


def _assert_index_scans_exchange_free(plan: str) -> int:
    """Walk the physical-plan tree: from every `idx_` table scan upward,
    no SHUFFLE Exchange may appear before the enclosing join — the
    bucketed index side must plug into the join as-is.  A
    BroadcastExchange is allowed: broadcasting a bucket-pruned index
    slice (q125's 5-term df table) moves no data through a shuffle and
    is itself a scale-sound probe shape.  Returns the number of index
    scans checked."""

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-*"))

    lines = plan.splitlines()
    checked = 0
    for i, line in enumerate(lines):
        if "Scan parquet" in line and "default.idx_" in line:
            checked += 1
            cur = depth(line)
            for j in range(i - 1, -1, -1):
                d = depth(lines[j])
                if d < cur:
                    cur = d
                    if "Join" in lines[j]:
                        break
                    # Violations are REPARTITIONING shuffles of index
                    # data (hash/range).  Allowed: BroadcastExchange
                    # (q125's 5-term df slice) and Exchange
                    # SinglePartition (the 2-value global stats agg) —
                    # neither re-shuffles the index into a join.
                    is_shuffle = "Exchange hashpartitioning" in lines[j] or (
                        "Exchange rangepartitioning" in lines[j]
                    )
                    assert not is_shuffle, (
                        f"shuffle Exchange above index scan:\n{lines[j]}\n\n{plan}"
                    )
    return checked


def test_incremental_probes_plan_index_side_exchange_free(spark, sf_dir):
    """q123 (fingerprint + band lakes) and q140 (vector lake): with
    broadcast disabled (exposing the big-big path the layout exists
    for), every standing-index scan feeds its join without an Exchange —
    only the shard side shuffles."""
    from tinymr_spark.operators.dedup import q123_incremental_dedup
    from tinymr_spark.operators.similarity import q140_incremental_embedding_dedup

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p123 = explain_str(q123_incremental_dedup(spark, sf_dir), "simple")
        p140 = explain_str(q140_incremental_embedding_dedup(spark, sf_dir), "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert _assert_index_scans_exchange_free(p123) >= 2  # lakefp + lakebands
    assert _assert_index_scans_exchange_free(p140) >= 1  # lakevecs


def test_ml_lsh_probes_plan_index_side_exchange_free(spark, sf_dir):
    """q104 (r7 migration): the band-table SELF-join must plug both sides
    in on the (entry, h) bucketing and the two set-table verification
    joins must scan exchange-free — with broadcast disabled, the only
    shuffles left are the candidate-pair distinct and the candidate side
    of the verification joins."""
    from tinymr_spark.operators.dedup import q104_ml_minhash_lsh

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = explain_str(q104_ml_minhash_lsh(spark, sf_dir), "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert _assert_index_scans_exchange_free(plan) >= 4  # bands x2 + sets x2


def test_semdedup_probe_plans_index_side_exchange_free(spark, sf_dir):
    """q157: the (cell, shard)-bucketed assignment table must plug BOTH
    sides of the intra-cluster self-join in on its bucketing — the only
    shuffle left in the probe is the final removed-vector aggregation."""
    from tinymr_spark.operators.dedup import q157_semdedup

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = explain_str(q157_semdedup(spark, sf_dir), "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert _assert_index_scans_exchange_free(plan) >= 2  # both self-join sides
    assert plan.count("Exchange hashpartitioning") <= 1


def test_bm25_postings_scan_prunes_buckets(spark, sf_dir):
    """q125's literal term IN-list must reach the bucketed postings scan
    and select a strict subset of buckets — the probe reads only the
    buckets its terms hash to."""
    from tinymr_spark.operators.text import q125_bm25_topk

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = explain_str(q125_bm25_topk(spark, sf_dir), "formatted")
        simple = explain_str(q125_bm25_topk(spark, sf_dir), "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    import re

    pruned = [
        (int(m.group(1)), int(m.group(2)))
        for m in re.finditer(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    ]
    assert any(sel < total for sel, total in pruned), plan
    assert _assert_index_scans_exchange_free(simple) >= 1
