"""Sources: the reference has none — I/O lives in user code (the caller
streams any iterable in, /root/reference/tinymr.py:156, docs.rst:343-347).
Here scans move inside the engine as Spark DataFrame readers so Catalyst
owns predicate pushdown / column pruning / partition pruning.

The driver testdata is one parquet file per table (TESTDATA.md); on a real
deployment these would be partitioned directories — the API is identical.
"""

from __future__ import annotations

import functools
import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def file_version(path: str) -> tuple[int, int]:
    """(mtime_ns, size) of `path` — the cache-key component that changes
    whenever the driver regenerates a testdata file in place (it did
    between rounds 2 and 3)."""
    st = os.stat(path)
    return (st.st_mtime_ns, st.st_size)


def session_cache(spark: SparkSession, attr: str) -> dict:
    """A dict stored ON the SparkSession object itself: it dies with the
    session, so a recycled `id()` from a later session can never resurrect
    stale entries (the hazard a module-level dict keyed by id(spark)
    carries)."""
    cache = getattr(spark, attr, None)
    if cache is None:
        cache = {}
        setattr(spark, attr, cache)
    return cache


def staging_root(name: str) -> str:
    """Per-user staging root under the system tmp dir: predictable shared
    paths would let two users on one host collide (EACCES or silently
    reading each other's staged data)."""
    import tempfile

    uid = getattr(os, "getuid", lambda: "u")()
    return os.path.join(tempfile.gettempdir(), f"{name}_{uid}")


@functools.lru_cache(maxsize=None)
def _file_hash(path: str) -> str:
    """Content hash of a source file, read once per process."""
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def _builder_hash(build) -> str:
    """Hash of the source file that defines `build` ("" when it was not
    defined in a file, e.g. at an interactive prompt)."""
    path = getattr(getattr(build, "__code__", None), "co_filename", "")
    return _file_hash(path) if os.path.isfile(path) else ""


def standing_index(
    spark: SparkSession,
    tag: str,
    source_paths: list[str],
    build,
    key_cols: list[str],
    n_buckets: int = 8,
    sort_cols: list[str] | None = None,
) -> DataFrame:
    """A WRITTEN bucketed standing index, built once per source version —
    the production artifact lifecycle behind every incremental query
    (daily shard vs standing lake): the index is a parquet table
    persisted `bucketBy(n_buckets, key_cols)` + sorted, and every probe
    READS the table, whose scan already carries
    HashPartitioning(key_cols, n_buckets) — so a shard join against it
    plans with NO exchange on the index side; only the (small) shard
    shuffles, into the bucket count.  At 100 TB the index write is paid
    once per corpus snapshot, not once per probing query, and the table
    outlives any one session.

    `build` is a zero-arg callable returning the index DataFrame —
    called only when this (tag, source version, builder code) has no
    written table yet; the builder code is the content of the source
    file that defines `build`, so editing it rebuilds the index.
    Freshness follows the session-cache policy (the q46/BM25
    lifecycle): a regenerated source file yields a new version hash; the
    superseded catalog table is dropped and its staged directory
    removed, so corpus regenerations never leak index copies for the
    machine's lifetime (on-disk analog of pop+unpersist; see
    tests/test_cache_staleness.py)."""
    import shutil

    cache = session_cache(spark, "_tinymr_index_cache")
    srcs = tuple(source_paths)
    ver = tuple(file_version(p) for p in source_paths)
    # The BUCKET SPEC and the BUILDER CODE are part of the version
    # identity: a code change to n_buckets/key_cols/sort_cols must never
    # re-register a previous session's files written under the old spec
    # (CLUSTERED BY INTO N over M-bucket files would silently
    # mis-prune), and an edited build fn must never be served the index
    # its old code wrote.
    spec = (n_buckets, tuple(key_cols), tuple(sort_cols or key_cols), _builder_hash(build))
    key = (tag, srcs, (ver, spec))
    if key in cache:
        return spark.table(cache[key])
    # Two hash levels: same (tag, sources) at different SCALE FACTORS are
    # independent live indexes (distinct src_h); only superseded VERSIONS
    # of the same sources (distinct ver_h under one src_h) are pruned.
    src_h = hashlib.md5(repr((tag, srcs)).encode()).hexdigest()[:10]
    ver_h = hashlib.md5(repr((ver, spec)).encode()).hexdigest()[:10]
    name = f"idx_{tag}_{src_h}_{ver_h}"
    root = os.path.join(staging_root("tinymr_spark_index"), tag, src_h)
    path = os.path.join(root, ver_h)
    if not spark.catalog.tableExists(name):
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            # A PREVIOUS SESSION already wrote this version: the default
            # in-memory catalog died with it, but the bucketed files did
            # not — re-register them as an external CLUSTERED BY table
            # instead of re-running the build (bucket ids live in the
            # file names, so the re-registered table scans with the same
            # hash partitioning and bucket pruning; asserted in
            # tests/test_standing_index.py).  This is what makes the
            # index genuinely build-once PER CORPUS SNAPSHOT, not per
            # session.
            ddl = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in spark.read.parquet(path).schema.fields
            )
            spark.sql(
                f"CREATE TABLE {name} ({ddl}) USING parquet "
                f"CLUSTERED BY ({', '.join(key_cols)}) "
                f"SORTED BY ({', '.join(sort_cols or key_cols)}) "
                f"INTO {n_buckets} BUCKETS "
                f"LOCATION '{path}'"
            )
        else:
            writer = (
                build()
                .write.mode("overwrite")
                .option("path", path)
                .bucketBy(n_buckets, *key_cols)
                .sortBy(*(sort_cols or key_cols))
            )
            writer.saveAsTable(name)
        _write_index_marker(os.path.dirname(root), src_h, srcs)
    # Prune superseded versions: session-cache entries + catalog tables
    # (external: DROP leaves files) + any sibling staged version dirs,
    # including ones left by earlier sessions.
    for stale in [k for k in cache if k[:2] == (tag, srcs) and k != key]:
        spark.sql(f"DROP TABLE IF EXISTS {cache.pop(stale)}")
    if os.path.isdir(root):
        for d in os.listdir(root):
            if d not in (ver_h, "_sources.json"):
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    _gc_dead_source_indexes(os.path.dirname(root), keep=src_h)
    cache[key] = name
    return spark.table(name)


def retire_artifact_roots(spark: SparkSession, index_tags=(), staging_kinds=()):
    """One-shot cleanup for RENAMED artifact names (review r11): both
    standing_index and versioned_staging_dir GC only within their own
    tag/kind, so a tag bump (builder-logic change) or a staging-kind
    rename orphans the OLD name's on-disk trees and catalog tables
    forever.  Renaming callers invoke this with the legacy names; a
    no-op once clean, so it is safe to call on every resolve."""
    import shutil

    idx_root = staging_root("tinymr_spark_index")
    for tag in index_tags:
        p = os.path.join(idx_root, tag)
        if not os.path.isdir(p):
            continue  # already clean — the common case must cost one stat,
            # not a catalog enumeration per resolve (review r11 2nd pass)
        # catalog first, THEN the tree: a crash between the two leaves the
        # dir present, so the next resolve retries the drops — the reverse
        # order would strand catalog entries behind the isdir short-circuit
        # (review r11 3rd pass)
        for t in spark.catalog.listTables():
            if t.name.startswith(f"idx_{tag}_"):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")
        shutil.rmtree(p, ignore_errors=True)
    for kind in staging_kinds:
        p = staging_root(kind)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)


def versioned_staging_dir(kind: str, src: str) -> str:
    """A staged-artifact directory keyed by source path THEN source
    version (`<tmp>/<kind>_<uid>/<md5(src)>/<md5(version)>`); resolving
    the current version PRUNES sibling version dirs and their
    `<ver>.*`-suffixed marker files — superseded corpus generations must
    not leak staged ORC/XML/checkpoint copies for the machine's
    lifetime (the on-disk analog of the session caches' pop+unpersist).
    The caller owns creating/filling the returned dir and its own
    done-marker protocol."""
    import hashlib
    import shutil

    root = os.path.join(
        staging_root(kind), hashlib.md5(src.encode()).hexdigest()[:12]
    )
    ver = hashlib.md5(repr(file_version(src)).encode()).hexdigest()[:12]
    if os.path.isdir(root):
        for s in os.listdir(root):
            if s == ver or s.startswith(ver + "."):
                continue
            p = os.path.join(root, s)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                try:
                    os.remove(p)
                except OSError:
                    pass
    os.makedirs(root, exist_ok=True)
    return os.path.join(root, ver)


def _write_index_marker(tag_root: str, src_h: str, srcs: tuple) -> None:
    """Record which source files an index src-dir derives from, so later
    sessions can garbage-collect indexes whose sources no longer exist
    (pytest sf-clones under tmp, removed corpora)."""
    import json

    with open(os.path.join(tag_root, src_h, "_sources.json"), "w") as f:
        json.dump(list(srcs), f)


def _gc_dead_source_indexes(tag_root: str, keep: str) -> None:
    """Remove sibling src-dirs whose recorded source files are gone —
    the index outlives a session by design, but must not outlive its
    corpus."""
    import json
    import shutil

    if not os.path.isdir(tag_root):
        return
    for d in os.listdir(tag_root):
        if d == keep:
            continue
        marker = os.path.join(tag_root, d, "_sources.json")
        try:
            with open(marker) as f:
                dead = not all(os.path.exists(p) for p in json.load(f))
        except (OSError, ValueError):
            dead = True  # unreadable marker: unidentifiable, reclaim
        if dead:
            shutil.rmtree(os.path.join(tag_root, d), ignore_errors=True)


def parquet_has_nanos(path: str) -> bool:
    """True when the parquet footer stores TIMESTAMP(NANOS) — the only
    case that needs `spark.sql.legacy.parquet.nanosAsLong`.  Checking the
    footer keeps that session-wide conf untouched for data that doesn't
    need it (a NANOS column in some *other* table would otherwise be
    silently read as long)."""
    import pyarrow.parquet as pq

    if not os.path.isfile(path):
        return True  # directory scan: can't cheaply inspect; keep legacy on
    try:
        return any(
            str(f.type).startswith("timestamp[ns")
            for f in pq.read_schema(path)
        )
    except Exception:
        return True


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Column pruning + predicate pushdown happen at this
    scan when callers select/filter before actions (verify with
    .explain: PushedFilters / ReadSchema).

    DataFrames are immutable logical plans, so the resolved scan for a
    given path version is handed to every caller: without the cache, each
    of the ~100 queries re-lists the path and re-reads the parquet footer
    during analysis — pure fixed overhead at any scale.

    `events.ts` normalizes to TimestampType (LTZ) regardless of how the
    parquet was written: TIMESTAMP(NANOS) reads as long and converts to
    microseconds; TIMESTAMP(MICROS, isAdjustedToUTC=false) infers as
    TIMESTAMP_NTZ, which `withWatermark`/`unix_micros` reject — cast it
    (value-preserving under the UTC session timezone set in session.py).
    """
    path = table_path(sf_dir, name)
    cache = session_cache(spark, "_tinymr_scan_cache")
    key = (path, *file_version(path))
    cached = cache.get(key)
    if cached is not None:
        return cached
    if name == "events":
        from pyspark.sql import functions as F

        if parquet_has_nanos(path):
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer division — float division would lose precision on
            # ~1.7e18 nanosecond epochs (double mantissa is 53 bits)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = spark.read.parquet(path)
    for stale in [k for k in cache if k[0] == path and k != key]:
        del cache[stale]
    cache[key] = df
    return df


def spread_scan(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Guard against the one-file scan-parallelism trap: a CPU-bound
    stage (Python decode/shingle work) inherits the scan's partitioning,
    and a small corpus in a single parquet file yields ONE split —
    serializing the whole pipeline on one core (measured 3.0s -> 0.9s on
    q106, 2.13s -> 1.29s on q68 at sf0.1).  The exchange carries only
    the narrow pre-stage columns, and the guard makes it a no-op at
    100 TB where the scan itself provides >= cores splits.  Shared by
    q106 (dedup.py) and the multimodal synthesis stages — tune the
    heuristic here, once."""
    if df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        return df.repartition(spark.sparkContext.defaultParallelism)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {
        name: load_table(spark, sf_dir, name)
        for name in TABLES
        if os.path.exists(table_path(sf_dir, name))
    }


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so spark.sql() can be used."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def read_text(spark: SparkSession, paths) -> DataFrame:
    """Multi-file text ingest (reference idiom I8, docs.rst:343-347 — the
    mapper opened file paths itself; here the scan is the engine's)."""
    return spark.read.text(paths)


def read_json(spark: SparkSession, paths, schema=None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(paths)


def read_csv(spark: SparkSession, paths, schema=None, header: bool = True) -> DataFrame:
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(paths)


def write_parquet(df: DataFrame, path: str, partition_by=None, mode: str = "overwrite") -> None:
    """Sink: parquet writer; partition_by enables partition pruning for
    downstream readers (the 100 TB layout discipline)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
