"""SparkSession bootstrap with scale-oriented defaults.

The reference has no session concept (execution is ``MapReduce.__call__``
on the calling thread, /root/reference/tinymr.py:156-230); here the
session is the unit of resource lifecycle.  Defaults are chosen for the
driver environment (local[32], 128 GiB) but express cluster-safe policy:
AQE on (runtime re-planning, skew-join handling, partition coalescing),
modest broadcast threshold, UTC session timezone so timestamp semantics
match the DuckDB oracle.

Importing this module inside a Spark Python worker also makes zip
imports check their archive by stat before re-reading it.  PySpark's
worker calls ``importlib.invalidate_caches()`` at the start of every
task, and on CPython 3.11 and 3.12 that makes every
``zipimport.zipimporter`` re-read its archive's whole directory: a
worker holds about 18 of them (pyspark.zip, py4j, the spark-core jar,
the shipped package zip, one importer per package inside each), so each
task paid ~200 ms (4-core host) before any user code ran.
`_check_zips_by_stat` keys each archive's last read by its ``(st_ino,
st_size, st_mtime_ns)`` and re-reads only when that key changed, once
per archive however many importers share it; a changed or missing
archive takes the stock path.  It is installed only when a task
context is set, so the driver and user processes keep stock behaviour,
and it does nothing on CPython 3.13+, whose ``invalidate_caches`` is
already lazy.
"""

from __future__ import annotations

import functools
import os
import sys

from pyspark import TaskContext
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"


def _check_zips_by_stat() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its stat key changed since the archive's last read.

    The key is recorded per archive path, not per importer: pyspark.zip
    has one importer per package inside it, and an importer whose
    archive still has the key of its last read takes that read's
    directory from ``zipimport._zip_directory_cache``.  The stat is taken
    before the read, so an archive replaced during a read is seen as
    changed on the next call instead of being served stale; a changed or
    missing archive takes the stock path.  Importers that exist at
    install time are refreshed here, so the next
    ``importlib.invalidate_caches()`` in this process reads nothing.
    Installing twice wraps once; on CPython 3.13+ this does nothing.
    """
    if sys.version_info >= (3, 13):
        return
    import zipimport

    stock = zipimport.zipimporter.invalidate_caches
    if hasattr(stock, "__wrapped__"):
        return
    read_at: dict = {}  # archive path -> stat key of its last directory read

    @functools.wraps(stock)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            key = None
        else:
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is None or files is None or read_at.get(self.archive) != key:
            stock(self)
            read_at[self.archive] = key
        else:
            self._files = files

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


def _ensure_worker_pythonpath() -> None:
    """Make the tinymr_spark package importable in executor python workers.

    Task closures (MapReduce subclasses) are unpickled by module reference
    on workers; if the package was imported from a directory not on the
    workers' PYTHONPATH, every task fails with ModuleNotFoundError.  Must
    run before the JVM starts (workers inherit the driver environment in
    local mode; on a cluster, ship the package with --py-files instead).
    """
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    current = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (pkg_parent, current) if p)


def package_zip(pkg_dir: str | None = None) -> str:
    """Path of a zip of the package's ``.py`` files, built if missing.

    The file name carries a SHA-256 of every ``.py`` path and its bytes,
    so edited code always ships under a new name and an unchanged tree
    reuses the existing zip — a name keyed by anything else (a PID, a
    session id) can serve stale code to a later process.  The zip is
    written to a temporary file and renamed into place, so a process
    racing this one never ships a half-written archive.
    """
    import hashlib
    import tempfile
    import zipfile

    pkg_dir = pkg_dir or os.path.dirname(os.path.abspath(__file__))
    files = sorted(
        os.path.relpath(os.path.join(root, fname), pkg_dir)
        for root, _dirs, names in os.walk(pkg_dir)
        for fname in names
        if fname.endswith(".py")
    )
    digest = hashlib.sha256()
    for rel in files:
        with open(os.path.join(pkg_dir, rel), "rb") as f:
            data = f.read()
        digest.update(f"{rel}\0{len(data)}\0".encode() + data)
    tmp_dir = tempfile.gettempdir()
    zip_path = os.path.join(
        tmp_dir, f"tinymr_spark_pkg_{digest.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zip_path):
        fd, part = tempfile.mkstemp(
            prefix=".tinymr_spark_pkg_", suffix=".part", dir=tmp_dir
        )
        try:
            with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w") as zf:
                for rel in files:
                    zf.write(
                        os.path.join(pkg_dir, rel), os.path.join("tinymr_spark", rel)
                    )
            os.replace(part, zip_path)
        except BaseException:
            os.unlink(part)
            raise
    return zip_path


def ensure_shipped(spark) -> None:
    """Make `tinymr_spark` importable on executor Python workers for a
    session THIS package did not create.

    RDD task closures (MapReduce subclasses, the union-find contraction)
    unpickle by module reference on workers; a harness that builds its own
    SparkSession never ran `_ensure_worker_pythonpath`, so those tasks die
    with ModuleNotFoundError.  `addPyFile` ships a zip of the package with
    every task and prepends it to the worker's sys.path — works after JVM
    start, on any session, local or cluster (the --py-files mechanism).
    Idempotent per SparkContext; the zip is keyed by the package's
    content (`package_zip`).  Accepts a SparkSession or a bare
    SparkContext.
    """
    sc = getattr(spark, "sparkContext", spark)
    if getattr(sc, "_tinymr_spark_shipped", False):
        return
    sc.addPyFile(package_zip())
    sc._tinymr_spark_shipped = True


def _default_driver_memory() -> str:
    """48g, capped at ~60% of physical RAM so the one local-mode JVM
    never plans a heap the host cannot back."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "48g"
    mb = int(ram * 0.6) >> 20
    return "48g" if mb >= 48 << 10 else f"{mb}m"


def get_session(app_name: str = "tinymr-spark", cpus: str | None = None) -> SparkSession:
    """Return the active SparkSession, creating one if needed."""
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    _ensure_worker_pythonpath()
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime partition coalescing + skew-join splitting. At 100 TB
        # this is what turns a static 32-partition plan into a sane one.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Scale-adaptive: AQE coalesces below this at runtime; a cluster
        # deployment raises it via env (~2-3x total cores) without a code
        # edit. Local default unchanged so bench numbers stay comparable.
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get(
                "SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS
            ),
        )
        # Dimension tables (region/nation/supplier/part) should broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow for pandas UDF / toPandas hot paths.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource filter pushdown (4.1 feature flag, default
        # off): a reader implementing pushFilters() REFUSES to plan at
        # all while this is false, so the flag is part of the source's
        # contract, not an optimization toggle (synthevents pushes
        # row_id bounds + kind equality into generation).
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Default codegen class cache (100 entries) thrashes when ~70
        # distinct query plans run in one session: whole-stage units
        # evicted mid-run recompile multi-second pipelines (janino compile
        # of the shingle/md5 stages alone is ~3-4s).  Static conf — must
        # be set before the first session.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.session.timeZone", "UTC")
        # Read parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) as regular
        # TimestampType instead of TIMESTAMP_NTZ: keeps ts filters pushable
        # at the scan (no cast projection) and watermark/unix_micros legal.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # local mode = ONE JVM for driver + all 32 executor threads; an
        # undersized heap turns the shuffle-heavy queries into GC storms
        # (measured: multi-second per-query variance at 16g, stable at 48g).
        # The default is capped by the host's RAM (_default_driver_memory).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
    )
    return builder.getOrCreate()


# A Spark Python worker sets the task context before it unpickles the
# task's command, which is what imports this package there.
if TaskContext.get() is not None:
    _check_zips_by_stat()
