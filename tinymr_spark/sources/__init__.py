"""Sources: the reference has none — I/O lives in user code (the caller
streams any iterable in, /root/reference/tinymr.py:156, docs.rst:343-347).
Here scans move inside the engine as Spark DataFrame readers so Catalyst
owns predicate pushdown / column pruning / partition pruning.

The driver testdata is one parquet file per table (TESTDATA.md); on a real
deployment these would be partitioned directories — the API is identical.

Derived artifacts persist across sessions under a per-user staging root
(`staging_root`) and are keyed by what produced them: the source files'
`file_version` and the content of the file that defines the builder
(`_builder_hash`).  `staged` is the one build-once protocol for every
staged artifact (bucketed standing indexes, split copies, minitable
histories, stream checkpoints, the tools' scaled copies): a `._done`
marker written after the build, an optional completeness check, and a
from-scratch rebuild otherwise.  Superseded versions are pruned on
resolve; roots whose sources are gone are removed on build.
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

    `build` is a zero-arg callable returning the index DataFrame.  The
    files are a `staged` artifact of kind `tinymr_spark_index_<tag>`,
    keyed by the sources, the bucket spec and the code of `build`: a
    regenerated source, a changed `n_buckets`/`key_cols`/`sort_cols`
    (CLUSTERED BY INTO N over M-bucket files would silently mis-prune)
    or an edited builder writes a new version, and `staged` prunes the
    superseded one and every index whose sources are gone.  The write
    drops the table it saved, so one path registers every version: an
    external CLUSTERED BY table over the files, created whenever the
    session catalog lacks it (bucket ids live in the file names, so the
    registered table scans with the same hash partitioning and bucket
    pruning; asserted in tests/test_standing_index.py).  Superseded
    versions leave the session cache and the catalog (the on-disk
    analog of pop+unpersist; see tests/test_cache_staleness.py)."""
    retire_artifact_roots(spark, staging_kinds=("tinymr_spark_index",))
    cache = session_cache(spark, "_tinymr_index_cache")
    srcs = tuple(source_paths)
    sort_cols = sort_cols or key_cols

    def table_name(path):
        return f"idx_{tag}_{os.path.basename(os.path.dirname(path))}_{os.path.basename(path)}"

    def write(path):
        (
            build()
            .write.mode("overwrite")
            .option("path", path)
            .bucketBy(n_buckets, *key_cols)
            .sortBy(*sort_cols)
            .saveAsTable(table_name(path))
        )
        spark.sql(f"DROP TABLE {table_name(path)}")  # external: the files stay

    path = staged(
        f"tinymr_spark_index_{tag}", srcs, write,
        key=(n_buckets, tuple(key_cols), tuple(sort_cols), build),
    )
    name = table_name(path)
    entry = (tag, srcs, name)
    for stale in [k for k in cache if k[:2] == (tag, srcs) and k != entry]:
        spark.sql(f"DROP TABLE IF EXISTS {cache.pop(stale)}")
    if entry not in cache:
        if not spark.catalog.tableExists(name):
            ddl = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in spark.read.parquet(path).schema.fields
            )
            spark.sql(
                f"CREATE TABLE {name} ({ddl}) USING parquet "
                f"CLUSTERED BY ({', '.join(key_cols)}) "
                f"SORTED BY ({', '.join(sort_cols)}) "
                f"INTO {n_buckets} BUCKETS "
                f"LOCATION '{path}'"
            )
        cache[entry] = name
    return spark.table(name)


def retire_artifact_roots(spark: SparkSession, index_tags=(), staging_kinds=()):
    """One-shot cleanup for RENAMED artifact names (review r11): staged
    artifacts GC only within their own kind, so a tag or staging-kind
    rename (or a kind folded into another artifact's siblings) orphans
    the OLD name's on-disk trees and catalog tables forever.  Renaming
    callers invoke this with the legacy names; a no-op once clean, so it
    is safe to call on every resolve."""
    import shutil

    for tag in index_tags:
        p = staging_root(f"tinymr_spark_index_{tag}")
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


def versioned_staging_dir(kind: str, src, build, key=()) -> str:
    """The directory `staged` builds into:
    `<tmp>/<kind>_<uid>/<md5(src)>/<ver>`, where `<ver>` hashes the
    `file_version` of every source, the code of `build` (`_builder_hash`)
    and `key`.  Resolving the current version PRUNES sibling version dirs
    and their `<ver>.*` files: superseded corpus generations and
    superseded builders must not leak staged ORC/XML/checkpoint copies
    for the machine's lifetime (the on-disk analog of the session
    caches' pop+unpersist).  perfbench/worker.py traces this step by
    name."""
    import shutil

    srcs = [src] if isinstance(src, str) else list(src)
    root = os.path.join(
        staging_root(kind), hashlib.md5(os.pathsep.join(srcs).encode()).hexdigest()[:12]
    )
    ident = (
        file_version(src) if isinstance(src, str) else tuple(map(file_version, srcs)),
        _builder_hash(build),
        *(_builder_hash(k) if callable(k) else repr(k) for k in key),
    )
    ver = hashlib.md5(repr(ident).encode()).hexdigest()[:12]
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


def _sources_live(record: str) -> bool:
    """True while every source listed in the `record` file exists; a
    missing or unreadable record is an unidentifiable root, so False."""
    import json

    try:
        with open(record) as f:
            return all(os.path.exists(p) for p in json.load(f))
    except (OSError, ValueError):
        return False


def staged(kind: str, src, build, ready=None, key=()) -> str:
    """A staged artifact derived from the file `src` (or a sequence of
    files), built once per (source versions, builder code, `key`);
    returns its path.  `key` is extra identity: a callable in it counts
    by its code (`_builder_hash`), any other value by its `repr`.

    `build(path)` fills `path` and may also write `path + ".<name>"`
    siblings (checkpoints, landing dirs, secondary tables).  The
    `path + "._done"` marker is written only after `build` returns, so a
    crashed build is never served.  A present marker is trusted only
    while `ready(path)` holds (when given: the caller's completeness
    check, e.g. the expected commit count of a minitable history).
    Otherwise the marker, `path` and every `path.*` sibling are removed
    and `build` runs again from scratch.

    Each source root `<md5(src)>` has a `<md5(src)>.sources` record
    beside it listing its source files.  Before a build, every other
    source root of the kind whose sources are gone (or that has no
    record) is removed: a staged artifact must not outlive its corpus."""
    import contextlib
    import glob
    import json
    import shutil

    path = versioned_staging_dir(kind, src, build, key)
    done = path + "._done"
    if os.path.exists(done) and (ready is None or ready(path)):
        return path
    with contextlib.suppress(FileNotFoundError):
        os.remove(done)
    shutil.rmtree(path, ignore_errors=True)
    for p in glob.glob(glob.escape(path) + ".*"):
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            os.remove(p)
    root = os.path.dirname(path)
    for d in os.scandir(staging_root(kind)):
        if d.is_dir() and d.path != root and not _sources_live(d.path + ".sources"):
            shutil.rmtree(d.path, ignore_errors=True)
            with contextlib.suppress(FileNotFoundError):
                os.remove(d.path + ".sources")
    with open(root + ".sources", "w") as f:
        json.dump([src] if isinstance(src, str) else list(src), f)
    build(path)
    open(done, "w").close()
    return path


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
