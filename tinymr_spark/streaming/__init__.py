"""Structured Streaming face (beyond-reference scope — the reference is
strictly batch, /root/reference/tinymr.py:196-230; SURVEY.md §7 Phase 4).

The `events` parquet is replayed through a file streaming source with an
event-time watermark and windowed aggregation — the production shape for
late-data-tolerant rollups.  `run_stream_to_table` drives any of these to
completion with Trigger.AvailableNow and returns the materialized result,
which makes streaming queries oracle-checkable like batch ones.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tinymr_spark.sources import load_table, staged, staging_root, table_path


_schema_cache: dict = {}


# staging-root policy lives in sources (shared by the format-staging
# helper in operators/scale.py); re-exported under the historical name.
_staging_root = staging_root


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet (schema taken from a batch peek —
    file streams require an explicit schema).  `ts` normalizes to
    TimestampType whatever the parquet stored — NANOS read as long and
    truncated to micros, or tz-naive MICROS inferred as NTZ and cast —
    same policy as the batch loader (sources/__init__.py)."""
    path = table_path(sf_dir, "events")
    from tinymr_spark.sources import parquet_has_nanos

    if parquet_has_nanos(path):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Key by the file's version, not the session: a schema belongs to the
    # file (id(spark) could be reused by a later session, and a
    # regenerated file at the same path may change schema — it did
    # between rounds 2 and 3).
    st = os.stat(path)
    skey = (path, st.st_mtime_ns, st.st_size)
    raw_schema = _schema_cache.get(skey)
    if raw_schema is None:
        raw_schema = spark.read.parquet(path).schema
        _schema_cache[skey] = raw_schema
    # The file streaming source requires a directory: stage a symlink dir
    # (in production this would BE the landing directory being watched).
    # Absolute target (a relative path would resolve against the staging
    # dir, not the cwd) and lexists (exists() follows the link, so a
    # dangling link would stream zero files then crash the re-link);
    # per-uid root so users on a shared host never collide.
    stage = os.path.join(
        _staging_root("tinymr_spark_stream"),
        hashlib.md5(path.encode()).hexdigest(),
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    if not os.path.lexists(link):
        os.symlink(os.path.abspath(path), link)
    stream = spark.readStream.schema(raw_schema).parquet(stage)
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # withWatermark requires TimestampType; the cast is value-preserving
        # under the UTC session timezone (session.py).
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def tumbling_counts(stream: DataFrame, bucket: str = "300 seconds",
                    watermark: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window aggregate; append-mode compatible."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", bucket).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("bucket_ts"), "event_type", "n", "total_value")
    )


def _unload_state_stores(spark: SparkSession) -> None:
    """Drop this JVM's cached state-store providers after a finished run.

    Providers are cached per (checkpoint, operator, partition) and only
    unloaded lazily; every AvailableNow query here uses a fresh temp
    checkpoint, so the cache grows monotonically across queries and the
    background maintenance thread walks ALL of them (including ones whose
    temp checkpoints are already deleted) — measured as multi-second
    interference landing on whichever streaming query runs when
    maintenance fires.  One-shot replay queries never reuse their state,
    so unloading is pure win; a long-lived production stream would NOT do
    this (provider cache reuse across micro-batches is the point there).
    """
    try:
        spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception:
        pass  # JVM API shape changed — cache growth is only a perf issue


def _pre_stream_cleanup(spark: SparkSession) -> None:
    """Clear residue of earlier one-shot streaming runs before starting a
    new one.  Two things grow per terminated query and were measured to
    triple later queries' wall time by the ~20th run: the query manager's
    terminated-query list (the listener bus walks it) and the memory-sink
    temp views (each pins its sink rows and plan).  Dropping a view does
    not break DataFrames already returned — they hold the resolved plan —
    only fresh ``spark.table(old_name)`` lookups, which nothing does.
    """
    try:
        spark.streams.resetTerminated()
    except Exception:
        pass
    for t in spark.catalog.listTables():
        if t.name.startswith("stream_out_"):
            spark.catalog.dropTempView(t.name)


def run_stream_to_table(result: DataFrame, spark: SparkSession,
                        n_state_parts: int = 2,
                        output_mode: str = "complete",
                        needs_finalize_batch: bool = False,
                        self_terminating: bool = True) -> DataFrame:
    """Execute a streaming DataFrame to completion (AvailableNow) into an
    in-memory sink; return the materialized table.

    Every windowed/session aggregate is stateful: each shuffle partition
    owns a state store (provider init + commit + maintenance per
    micro-batch), so the partition count should track state size, not the
    batch-side default — same sizing rule measured 3x on q92.  Default 2
    (measured at sf0.1: q90 0.76s/1.02s and q91 0.64s/0.83s at 2/4
    parts, session windows neutral — MB-scale replay state wants the
    fewest stores that still parallelize); multi-batch (q97) and
    stream-stream (q98) runs size explicitly.  Set via conf for the duration of the run; the
    count freezes into the checkpoint on first start anyway, so this is a
    per-stream sizing decision, not a tunable-later knob.

    `needs_finalize_batch`: watermark-dependent APPEND output (the
    stream-stream join) emits its rows only when the watermark advances,
    which under AvailableNow happens in the trailing no-data micro-batch
    — those queries must keep it.  Update/complete-mode queries emit in
    the data batches themselves, so the trailing batch is one full
    state-commit round of pure overhead; skip it (measured at sf0.1:
    q92 1.68->1.45s, q90 1.01->0.86s, identical results).

    `self_terminating=False`: drive with the default processing-time
    trigger + processAllAvailable + stop instead of AvailableNow — for
    rate-limited Python stream sources, where AvailableNow caps the run
    at the first latestOffset() answer and silently under-reads (one
    chunk; measured under both the Simple and the full partitioned
    reader — see tests/test_sources_sinks.py::
    test_stream_reader_available_now); stop() runs in a finally so a
    failed micro-batch cannot leak a perpetually polling query."""
    _pre_stream_cleanup(spark)
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    no_data_conf = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev_no_data = spark.conf.get(no_data_conf)
    spark.conf.set("spark.sql.shuffle.partitions", str(n_state_parts))
    spark.conf.set(no_data_conf, "true" if needs_finalize_batch else "false")
    try:
        writer = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
        )
        if self_terminating:
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
        else:
            q = writer.start()
            try:
                q.processAllAvailable()
            finally:
                q.stop()
                q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set(no_data_conf, prev_no_data)
        _unload_state_stores(spark)
    return spark.table(name)


def q90_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real streaming pipeline (readStream -> watermark -> window ->
    sink), driven to completion; equals the batch q70 result."""
    return run_stream_to_table(tumbling_counts(stream_events(spark, sf_dir)), spark)


ORACLE_Q90 = """
SELECT CAST(to_timestamp(CAST(FLOOR(epoch(ts) / 300) AS BIGINT) * 300) AS TIMESTAMP) AS bucket_ts,
       event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
FROM events
GROUP BY 1, 2
"""

def sliding_totals(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked sliding-window aggregate (10 min window / 5 min slide)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "600 seconds", "300 seconds").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("bucket_ts"), "n", "total_value")
    )


def q91_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stream_to_table(sliding_totals(stream_events(spark, sf_dir)), spark)


ORACLE_Q91 = """
WITH expanded AS (
    SELECT CAST(to_timestamp((CAST(FLOOR(epoch(ts) / 300) AS BIGINT) - shift) * 300) AS TIMESTAMP) AS bucket_ts,
           value
    FROM events, (SELECT UNNEST([0, 1]) AS shift)
)
SELECT bucket_ts, COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
FROM expanded
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Custom stateful operator: per-user running totals via
# applyInPandasWithState — the escape hatch for semantics the built-in
# windowed aggregates can't express (arbitrary per-key state machines).
# With AvailableNow each key's whole history arrives in one batch here;
# on a live stream the same code accumulates across triggers.
# ---------------------------------------------------------------------------
def stateful_user_totals(stream: DataFrame) -> DataFrame:
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        total, n = state.get if state.exists else (0.0, 0)
        for pdf in pdfs:
            total += float(pdf["value"].sum())
            n += len(pdf)
        state.update((total, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events int, total_value double",
        stateStructType="total double, n int",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def q92_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Partition count 8: each shuffle partition carries its own state
    # store AND its own Python worker per micro-batch (measured 3x: 32
    # partitions -> 7.8s, 8 -> 2.6s at sf0.1; 4 regresses too).
    t = run_stream_to_table(
        stateful_user_totals(stream_events(spark, sf_dir)),
        spark,
        n_state_parts=8,
        output_mode="update",
    )
    # update mode can emit a row per trigger per key; keep the final state
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        t.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value")
    )


ORACLE_Q92 = """
SELECT user_id,
       CAST(COUNT(*) AS INT) AS n_events,
       ROUND(SUM(value), 2) AS total_value
FROM events
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Native session windows on the stream — the streaming twin of the batch
# lag-based sessionizer (q72).  session_window() starts a NEW session when
# the gap is >= the duration (an event extends a session only while it
# lands strictly inside [start, last+gap)), so the oracle's split
# condition is `>= gap`, not `> gap`.  Output avoids raw timestamps
# (ns vs us): session start is floor-epoch seconds, duration a whole-
# second diff.
# ---------------------------------------------------------------------------
def session_totals(stream: DataFrame, gap_sec: int = 1800,
                   watermark: str = "1 hour") -> DataFrame:
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", f"{gap_sec} seconds").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("session_value"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start_sec"),
            (F.unix_timestamp(F.col("w.end")) - F.unix_timestamp(F.col("w.start"))
             - gap_sec).alias("duration_sec"),
            "n_events",
            "session_value",
        )
    )


def q93_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stream_to_table(session_totals(stream_events(spark, sf_dir)), spark)


ORACLE_Q93 = """
WITH marked AS (
    -- split on the EXACT gap in integer microseconds: Spark's
    -- session_window compares full-precision timestamps, while
    -- date_diff('second', ...) counts whole-second boundary crossings
    -- and would split a 1799.5s gap whose endpoints straddle a second
    -- boundary; epoch_us keeps the comparison integer-exact.
    SELECT user_id, ts, value,
           CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
                  OR LAG(ts) OVER w IS NULL
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
    SELECT user_id, ts, value,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
    FROM marked
)
SELECT user_id,
       CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS session_start_sec,
       date_diff('second', MIN(ts), MAX(ts)) AS duration_sec,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS session_value
FROM sess
GROUP BY user_id, session_no
"""


# ---------------------------------------------------------------------------
# Stream-static join: the enrichment shape — every micro-batch joins
# against a static dimension (here a per-user lifetime profile computed
# batch-side from the same table; in production, a slowly-changing dim).
# The static side is broadcast, so the stream is never shuffled for the
# join; the only stateful op is the downstream windowed count.
# ---------------------------------------------------------------------------
def q94_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    profile = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("lifetime_events"),
            F.round(F.sum("value"), 2).alias("lifetime_value"),
        )
    )
    stream = stream_events(spark, sf_dir)
    enriched = stream.join(F.broadcast(profile), "user_id")
    result = (
        enriched.withWatermark("ts", "1 hour")
        .groupBy("user_id", "lifetime_events", "lifetime_value")
        .agg(
            F.count("*").alias("n_seen"),
            F.round(F.sum("value"), 2).alias("window_value"),
        )
    )
    return run_stream_to_table(result, spark)


ORACLE_Q94 = """
WITH profile AS (
    SELECT user_id, COUNT(*) AS lifetime_events, ROUND(SUM(value), 2) AS lifetime_value
    FROM events GROUP BY user_id
)
SELECT e.user_id, p.lifetime_events, p.lifetime_value,
       COUNT(*) AS n_seen, ROUND(SUM(e.value), 2) AS window_value
FROM events e JOIN profile p ON p.user_id = e.user_id
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# Streaming deduplication: watermarked dropDuplicates on the key columns —
# the standard exactly-once-per-key guard at ingest (state = one entry per
# key inside the watermark horizon).  Projected to the key columns only so
# which physical row survives is immaterial; equals batch DISTINCT.
# ---------------------------------------------------------------------------
def q95_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = stream_events(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .select("user_id", "event_type", "ts")
        .dropDuplicates(["user_id", "event_type"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_distinct_users"))
    )
    return run_stream_to_table(deduped, spark)


ORACLE_Q95 = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_users
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# foreachBatch parquet sink (q96): the production write path — every other
# streaming query here lands in a memory sink for oracle comparison, but a
# real pipeline writes files.  foreachBatch gives batch-DataFrame writer
# semantics per micro-batch; in complete mode, overwrite-per-batch makes
# the sink IDEMPOTENT (a replayed batch rewrites the same result — the
# standard exactly-once recipe for aggregate sinks).  The returned
# DataFrame is read back from the files, so the oracle checks the entire
# source -> state -> sink -> re-read loop.
# ---------------------------------------------------------------------------
def q96_stream_sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic per-source dir, overwritten each run: a uuid per call
    # leaked a full result dir into /tmp every bench invocation.
    out_dir = os.path.join(
        _staging_root("tinymr_spark_sink"),
        hashlib.md5(table_path(sf_dir, "events").encode()).hexdigest(),
    )
    result = tumbling_counts(stream_events(spark, sf_dir))
    _pre_stream_cleanup(spark)
    # The dir is deterministic and persists across runs, so a prior run's
    # output must not be read back if THIS run's source turns out empty
    # (zero micro-batches -> foreachBatch never fires -> stale result).
    shutil.rmtree(out_dir, ignore_errors=True)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(out_dir)

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    no_data_conf = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev_no_data = spark.conf.get(no_data_conf)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    # complete mode emits per data batch; the trailing no-data batch
    # would rewrite the parquet result once more for nothing
    spark.conf.set(no_data_conf, "false")
    try:
        q = (
            result.writeStream.foreachBatch(write_batch)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set(no_data_conf, prev_no_data)
        _unload_state_stores(spark)
    if not os.path.isdir(out_dir):
        # zero micro-batches (empty source) -> foreachBatch never fired
        return spark.createDataFrame(
            [], "bucket_ts timestamp, event_type string, n bigint, total_value double"
        )
    return spark.read.parquet(out_dir)


ORACLE_Q96 = ORACLE_Q90  # same aggregate, different sink


# ---------------------------------------------------------------------------
# Multi-micro-batch incremental state (q97): every AvailableNow query over
# the single-file testdata collapses to ONE micro-batch; this one stages
# the events as several files and throttles with maxFilesPerTrigger=1, so
# the aggregation state genuinely accumulates across batches — the thing
# that distinguishes streaming state from a batch groupBy.  Complete mode
# + no watermark keeps the final answer independent of file arrival
# order (file listing order is not ts order, so a watermark would drop
# "late" rows nondeterministically).
# ---------------------------------------------------------------------------
N_STAGE_FILES = 4


def _staged_event_files(spark: SparkSession, sf_dir: str) -> str:
    """Split the events table into N_STAGE_FILES parquet files once per
    source-file VERSION; returns the staging directory.  The cache key
    hashes the source's mtime and size alongside its path: the staging
    dir outlives the process, and a regenerated events.parquet at the
    same path (the harness refreshes testdata between rounds) must not
    silently serve last round's rows."""
    src = table_path(sf_dir, "events")

    def build(stage):
        load_table(spark, sf_dir, "events").repartition(N_STAGE_FILES).write.mode(
            "overwrite"
        ).parquet(stage)

    return staged("tinymr_spark_stage_multi", src, build)


def q97_stream_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _staged_event_files(spark, sf_dir)
    schema = spark.read.parquet(stage).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(stage)
    per_user = (
        stream.groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    # Multi-batch runs pay the per-partition store commit EVERY micro-batch,
    # so size down further than the single-batch queries (measured at
    # sf0.1: 2 parts min 1.87s vs 4 parts min 2.25s over 4 runs).
    return run_stream_to_table(per_user, spark, n_state_parts=2)


ORACLE_Q97 = """
SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
FROM events
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# q122 — streaming UPSERT (CDC latest-state) sink: q96 writes an
# aggregate by overwriting the whole result per batch; a change-data
# sink instead MERGES each micro-batch into persistent keyed state —
# the foreachBatch upsert recipe used wherever MERGE INTO lands on a
# plain-parquet lake.  Each batch folds into the previous state with an
# associative combine (per-user update count sums; the latest row wins
# by (ts, event_id) struct-max), so the final table is independent of
# how the files were batched.  State versions are named BY BATCH ID
# (v{batch_id}, not a directory count): batch k reads the newest version
# STRICTLY BELOW k and overwrites v{k}, so (a) no read ever overlaps the
# files being rewritten (parquet reads are lazy), and (b) replay is
# genuinely idempotent — a batch re-delivered after failure re-reads the
# same predecessor state and rewrites v{k} to identical content, instead
# of double-counting itself by reading a version that already contains
# it.  The oracle computes the same latest-wins state from the batch
# table, checking the whole multi-batch merge loop.
# ---------------------------------------------------------------------------
def q122_stream_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _staged_event_files(spark, sf_dir)
    out_dir = os.path.join(
        _staging_root("tinymr_spark_upsert"),
        hashlib.md5(stage.encode()).hexdigest(),
    )
    _pre_stream_cleanup(spark)
    shutil.rmtree(out_dir, ignore_errors=True)
    schema = spark.read.parquet(stage).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
        .where(F.col("event_type") == "view")
        .select("user_id", "ts", "event_id", "value")
    )
    latest = F.max(F.struct("ts", "event_id", "value")).alias("m")

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        inc = batch_df.groupBy("user_id").agg(
            F.count("*").alias("n_updates"), latest
        )
        prev_versions = sorted(
            v for d in (os.listdir(out_dir) if os.path.isdir(out_dir) else [])
            if d.startswith("v") and (v := int(d[1:])) < batch_id
        )
        if prev_versions:
            prev = sess.read.parquet(
                os.path.join(out_dir, f"v{prev_versions[-1]}")
            )
            merged = (
                prev.unionByName(inc)
                .groupBy("user_id")
                .agg(F.sum("n_updates").alias("n_updates"), F.max("m").alias("m"))
            )
        else:
            merged = inc
        merged.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"v{batch_id}")
        )

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    no_data_conf = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev_no_data = spark.conf.get(no_data_conf)
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    spark.conf.set(no_data_conf, "false")
    try:
        q = (
            stream.writeStream.foreachBatch(upsert)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set(no_data_conf, prev_no_data)
        _unload_state_stores(spark)
    versions = sorted(
        int(d[1:]) for d in os.listdir(out_dir) if d.startswith("v")
    ) if os.path.isdir(out_dir) else []
    if not versions:
        return spark.createDataFrame(
            [], "user_id bigint, n_updates bigint, last_ts timestamp, last_value double"
        )
    state = spark.read.parquet(os.path.join(out_dir, f"v{versions[-1]}"))
    return state.select(
        "user_id",
        F.col("n_updates").cast("bigint").alias("n_updates"),
        F.col("m.ts").alias("last_ts"),
        F.col("m.value").alias("last_value"),
    )


ORACLE_Q122 = """
WITH v AS (SELECT * FROM events WHERE event_type = 'view')
SELECT user_id,
       COUNT(*) OVER (PARTITION BY user_id) AS n_updates,
       ts AS last_ts,
       value AS last_value
FROM v
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
"""


# ---------------------------------------------------------------------------
# q124 — streaming DELTA-APPEND + COMPACT sink (the LSM answer to q122):
# q122's MERGE rewrites the full state table every micro-batch — correct,
# but O(state) per batch, which at 100 TB state is ruinous.  The
# production pattern is log-structured: each batch appends only its OWN
# pre-aggregated delta (O(batch)), and a compaction folds
# checkpoint + pending deltas into a new checkpoint every COMPACT_EVERY
# batches (amortized O(state / COMPACT_EVERY) per batch); reads merge
# the newest checkpoint with the trailing deltas.  Every combine in the
# fold is associative — counts sum, decimal sums are EXACT (value is
# 2-decimal by construction, so cast-to-decimal(18,2) partial sums are
# reduction-order-independent, same trick as q109), latest-wins is a
# (ts, event_id) struct-max — so the final state is independent of both
# batching AND compaction timing.  Replay-idempotent by construction:
# delta d{batch_id} and checkpoint c{batch_id} are keyed by batch id and
# rewritten with identical content on re-delivery.
# ---------------------------------------------------------------------------
COMPACT_EVERY = 3


# Every LSM file (delta AND checkpoint) stores sum_value as this one
# decimal type: Spark's sum widens decimal(18,2) partials to
# decimal(28,2) and a re-summed checkpoint would widen again to
# decimal(38,2) — and a reader over MIXED widths only works if schema
# inference happens to sample the wider file (with mergeSchema off,
# Spark picks an arbitrary data file).  Pinning the width makes the
# layout self-describing instead of luck-dependent.
_LSM_SUM_TYPE = "decimal(38,2)"


def _lsm_versions(out_dir: str, prefix: str) -> list[int]:
    if not os.path.isdir(out_dir):
        return []
    return sorted(int(d[1:]) for d in os.listdir(out_dir) if d[0] == prefix)


def _lsm_fold(df: DataFrame) -> DataFrame:
    return df.groupBy("user_id").agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_value").cast(_LSM_SUM_TYPE).alias("sum_value"),
        F.max("m").alias("m"),
    )


def q124_stream_delta_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _staged_event_files(spark, sf_dir)
    out_dir = os.path.join(
        _staging_root("tinymr_spark_lsm"),
        hashlib.md5(stage.encode()).hexdigest(),
    )
    _pre_stream_cleanup(spark)
    shutil.rmtree(out_dir, ignore_errors=True)
    schema = spark.read.parquet(stage).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
        .where(F.col("event_type") == "click")
        .select("user_id", "ts", "event_id", "value")
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        inc = batch_df.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast(_LSM_SUM_TYPE)
            .alias("sum_value"),
            F.max(F.struct("ts", "event_id")).alias("m"),
        )
        inc.write.mode("overwrite").parquet(os.path.join(out_dir, f"d{batch_id}"))
        ckpts = _lsm_versions(out_dir, "c")
        last_c = ckpts[-1] if ckpts else -1
        pending = [b for b in _lsm_versions(out_dir, "d") if b > last_c]
        if len(pending) >= COMPACT_EVERY:
            parts = [os.path.join(out_dir, f"d{b}") for b in pending]
            if last_c >= 0:
                parts.append(os.path.join(out_dir, f"c{last_c}"))
            _lsm_fold(sess.read.parquet(*parts)).write.mode("overwrite").parquet(
                os.path.join(out_dir, f"c{pending[-1]}")
            )

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    no_data_conf = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev_no_data = spark.conf.get(no_data_conf)
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    spark.conf.set(no_data_conf, "false")
    try:
        q = (
            stream.writeStream.foreachBatch(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set(no_data_conf, prev_no_data)
        _unload_state_stores(spark)

    ckpts = _lsm_versions(out_dir, "c")
    last_c = ckpts[-1] if ckpts else -1
    parts = [
        os.path.join(out_dir, f"d{b}")
        for b in _lsm_versions(out_dir, "d")
        if b > last_c
    ]
    if last_c >= 0:
        parts.append(os.path.join(out_dir, f"c{last_c}"))
    if not parts:
        return spark.createDataFrame(
            [], "user_id bigint, n_events bigint, sum_value double, last_ts timestamp"
        )
    return _lsm_fold(spark.read.parquet(*parts)).select(
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("sum_value").cast("double").alias("sum_value"),
        F.col("m.ts").alias("last_ts"),
    )


ORACLE_Q124 = """
WITH c AS (SELECT * FROM events WHERE event_type = 'click')
SELECT user_id,
       COUNT(*) OVER (PARTITION BY user_id) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id) AS DOUBLE) AS sum_value,
       ts AS last_ts
FROM c
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
"""


# ---------------------------------------------------------------------------
# q136 — STREAMING Python DataSource (the readStream face of q121's
# custom format): Spark 4 lets a pure-Python source drive Structured
# Streaming — offsets, micro-batch planning, and replay all implemented
# in Python (sources/pydatasource.py SyntheticEventsStreamReader, the
# full partition-planning `DataSourceStreamReader`: the driver only does
# offset bookkeeping, each micro-batch's offset range is striped into
# partitions read EXECUTOR-side — no streamed byte passes through the
# driver, unlike the `SimpleDataSourceStreamReader` prefetch variant
# this replaced).  The stream is drained with processAllAvailable (the
# reader's offset stops advancing at `rows`, so "available" is finite)
# through a complete-mode aggregate; because every row is a pure
# function of its offset position, the drained result equals the batch
# table and the oracle hash-checks the WHOLE streaming machinery —
# initialOffset, latestOffset admission control, partition planning,
# executor-side reads, offset commit — against a SQL row sequence.
# COUNT(DISTINCT) is not legal in a streaming aggregate, so the profile
# differs from q121's (min/max row ids instead).
# ---------------------------------------------------------------------------
Q136_ROWS = 20_000
# Single data micro-batch: the per-batch machinery floor is ~0.4 s
# (BASELINE.md), so the BENCH query drains in one batch; the
# multi-micro-batch path through the REAL engine (offset advancement,
# restart, exactly-once) is covered by
# tests/test_sources_sinks.py::test_stream_reader_restart_is_exactly_once
# (chunk=250 over 1000 rows -> 4+ batches) and the reader-level drain
# test, so the bench row measures the source, not repeated fixed cost.
Q136_CHUNK = 20_000


def q136_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources.pydatasource import register

    register(spark)
    stream = (
        spark.readStream.format("synthevents")
        .option("rows", str(Q136_ROWS))
        .option("chunk", str(Q136_CHUNK))
        .load()
    )
    agg = stream.groupBy("kind").agg(
        F.count("*").alias("n"),
        F.sum("amount_cents").cast("bigint").alias("total_cents"),
        F.min("row_id").alias("first_row"),
        F.max("row_id").alias("last_row"),
    )
    # processAllAvailable-driven, NOT AvailableNow: re-measured under
    # the full partitioned reader, AvailableNow STILL under-reads
    # (500 of 2000 rows at chunk=500) — Spark caps the run at the first
    # latestOffset() answer, so any Python source that rate-limits by
    # stepping latestOffset serves exactly one chunk.  It is an
    # admission-control interaction, not a Simple-reader artifact; exact
    # AvailableNow requires chunk >= rows (no rate limit), verified in
    # tests/test_sources_sinks.py::test_stream_reader_available_now.
    return run_stream_to_table(agg, spark, self_terminating=False)


ORACLE_Q136 = f"""
WITH ev AS (
    SELECT rid AS row_id,
           (rid * {2_654_435_761}) % {1_000} AS user_id,
           ['view', 'click', 'purchase', 'signup', 'error'][rid % 5 + 1] AS kind,
           (rid * 97) % {10_000} AS amount_cents
    FROM (SELECT UNNEST(range(0, {Q136_ROWS})) AS rid)
)
SELECT kind, COUNT(*) AS n,
       CAST(SUM(amount_cents) AS BIGINT) AS total_cents,
       MIN(row_id) AS first_row,
       MAX(row_id) AS last_row
FROM ev
GROUP BY kind
"""


# ---------------------------------------------------------------------------
# q138 — state-store READER (Spark 4 `spark.read.format("statestore")`):
# streaming state as a queryable DataFrame — the ops/debug face every
# production stream eventually needs (is a key stuck? how big is the
# state really? what does the buffer hold after batch N?), without
# stopping the stream or writing probe code into it.  A per-user
# count+sum aggregate runs to completion against an EXPLICIT checkpoint
# (staged once per events-file version — the state outlives the query,
# which is the whole point), then the checkpoint's store is read back:
# key struct = the groupBy columns, value struct = the aggregation
# buffer in agg-declaration order (count, then the sum with its null
# flag).  Because the buffer of count/decimal-sum is exact, the state
# contents hash-match a batch aggregate of the same input — the oracle
# checks the store's BYTES are the right answer, not just that the
# query ran.
# ---------------------------------------------------------------------------
def q138_statestore_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = table_path(sf_dir, "events")

    # `staged` keeps its completion marker OUTSIDE the checkpoint (Spark
    # owns that dir) and writes it only after the staging query
    # terminated cleanly: Spark creates commits/ at query START, so
    # testing the directory would leave a crashed first run permanently
    # "staged" with an empty checkpoint that every later read fails on.
    def build(ckpt):
        _pre_stream_cleanup(spark)
        stream = stream_events(spark, sf_dir)
        agg = stream.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
        )
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        try:
            q = (
                agg.writeStream.format("noop")
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
            _unload_state_stores(spark)

    ckpt = staged("tinymr_spark_ss_ckpt", src, build)
    # The statestore source reports its read-only providers to the
    # StateStoreCoordinator, whose RPC endpoint only exists once some
    # streaming machinery has initialized it in THIS session — a session
    # that found the checkpoint already staged would otherwise die with
    # CANNOT_LOAD_STATE_STORE.  streams().stateStoreCoordinator()
    # creates-or-returns the endpoint idempotently.
    try:
        spark._jsparkSession.streams().stateStoreCoordinator()
    except Exception:
        pass  # JVM API shape changed; the read may still succeed
    state = spark.read.format("statestore").load(ckpt)
    # value-struct field ORDER follows the agg declaration (count buffer,
    # then sum buffer + its null flag); names are engine-internal, so
    # select positionally.
    kcol = state.schema["key"].dataType.names[0]
    vnames = state.schema["value"].dataType.names
    return state.select(
        F.col(f"key.{kcol}").alias("user_id"),
        F.col(f"value.{vnames[0]}").cast("bigint").alias("n_events"),
        F.col(f"value.{vnames[1]}").cast("double").alias("sum_value"),
    )


ORACLE_Q138 = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# q143 — streaming WRITE through a Python DataSource (Spark 4
# `streamWriter`): the last quadrant of the custom-format matrix (q121
# batch read, q136 stream read, q141 batch write), and the
# exactly-once sink pattern every custom lake sink needs.  The staged
# multi-file events source streams through a stateless projection
# (append-friendly; ts carried as unix_micros since Avro-primitive) into
# the `tinyavro` streaming sink: per micro-batch, tasks write Avro
# container files executor-side and the driver commit publishes
# `_MANIFEST-<batchId>` — ATOMICALLY REPLACING a previous attempt of the
# same batch, so checkpoint-replayed batches supersede rather than
# duplicate (the idempotent-by-batch-id contract, unit-tested in
# tests/test_sources_sinks.py).  The sink runs once per source version;
# the returned aggregate computes FROM THE AVRO FILES the stream wrote,
# and the oracle computes from the original events parquet — the hash
# gate therefore proves the whole loop: micro-batch planning, executor
# writes, manifest commits, and codec fidelity.
# ---------------------------------------------------------------------------
def q143_python_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import tinyavro

    tinyavro.register(spark)
    src = table_path(sf_dir, "events")
    stage = _staged_event_files(spark, sf_dir)

    def build(out):
        ckpt = out + "._ckpt"
        _pre_stream_cleanup(spark)
        schema = spark.read.parquet(stage).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "2")
            .parquet(stage)
            .select(
                "event_id",
                "user_id",
                "event_type",
                F.unix_micros("ts").alias("ts_us"),
                "value",
            )
        )
        q = (
            stream.writeStream.format("tinyavro")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    out = staged("tinymr_spark_avsink", src, build)
    back = spark.read.format("tinyavro").load(out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        F.min("event_id").alias("first_event"),
        F.max("event_id").alias("last_event"),
        F.min("ts_us").alias("first_ts_us"),
    )


ORACLE_Q143 = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       MIN(event_id) AS first_event,
       MAX(event_id) AS last_event,
       MIN(epoch_us(ts)) AS first_ts_us
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# q149 — streaming shard ingest probing the WRITTEN standing lake index:
# the live-ingest face of the q123 incremental-dedup pattern, and the
# round-6 arc tied end to end — the lake fingerprint table is the
# bucketed standing index _lake_doc_index wrote (built once per corpus
# version), and new shard documents arrive as a STREAM (staged
# multi-file, maxFilesPerTrigger-throttled) that stream-static LEFT
# JOINs the index per micro-batch.  Each document's verdict depends
# only on (document, standing index) — batch membership is irrelevant —
# so the drained append-mode output is deterministic and the oracle is
# the plain batch join.  Stateless: no watermark, no state store; at
# scale each micro-batch shuffles only its own rows into the index's
# bucket count while the lake side never re-shuffles (the q123 plan
# contract, now under a stream).
# ---------------------------------------------------------------------------
def _staged_shard_docs(spark: SparkSession, sf_dir: str) -> str:
    """The day's shard (doc_id % 5 == 0) staged as multiple parquet
    files once per corpus version — the landing directory a streaming
    ingest watches."""
    src = table_path(sf_dir, "documents")

    def build(stage):
        from tinymr_spark.operators.dedup import INC_SHARD_MOD

        docs = load_table(spark, sf_dir, "documents")
        (
            docs.where(F.pmod(F.col("doc_id"), F.lit(INC_SHARD_MOD)) == 0)
            .repartition(4)
            .write.mode("overwrite")
            .parquet(stage)
        )

    return staged("tinymr_spark_stage_shard", src, build)


def q149_stream_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tinymr_spark.operators.dedup import _lake_doc_index

    lake_fp, _ = _lake_doc_index(spark, sf_dir)
    stage = _staged_shard_docs(spark, sf_dir)
    schema = spark.read.parquet(stage).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(stage)
    )
    probed = (
        stream.select("doc_id", F.md5("text").alias("fp"))
        .join(lake_fp, "fp", "left")
        .select(
            "doc_id",
            F.when(F.col("lake_exact_id").isNotNull(), F.lit("exact_dup_lake"))
            .otherwise(F.lit("kept"))
            .alias("status"),
            F.col("lake_exact_id").alias("ref_doc_id"),
        )
    )
    return run_stream_to_table(probed, spark, output_mode="append")


ORACLE_Q149 = """
WITH lake_fp AS (
    SELECT md5(text) AS fp, MIN(doc_id) AS lake_exact_id
    FROM documents WHERE doc_id % 5 <> 0 GROUP BY 1
),
shard AS (
    SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 5 = 0
)
SELECT sh.doc_id,
       CASE WHEN lf.lake_exact_id IS NOT NULL THEN 'exact_dup_lake'
            ELSE 'kept' END AS status,
       lf.lake_exact_id AS ref_doc_id
FROM shard sh LEFT JOIN lake_fp lf USING (fp)
"""


# ---------------------------------------------------------------------------
# q159 — STREAMING semantic dedup: the vector-tier twin of q149, closing
# the incremental-dedup matrix (q123 batch docs / q149 streamed docs /
# q140 batch vectors / q159 streamed vectors).  New embeddings arrive as
# a throttled multi-file stream; each row's sign-projection bucket
# (similarity._lsh_buckets) is computed ROW-LOCALLY (the hyperplane
# weights are md5-deterministic, so they fold into literal arrays at
# plan time — the stream side needs NO groupBy, hence no streaming
# state), and foreachBatch probes the
# WRITTEN bucket-bucketed lake vector index (q140's standing index) with
# the exact-cosine verdict aggregation.
#
# Determinism & exactly-once: every shard vector lives in exactly one
# staged file, so its whole candidate fan-out and argmax complete inside
# one micro-batch (batch-membership-invariant, like q149); each batch
# writes its verdicts to a `batch=<id>` partition with overwrite, so a
# checkpoint-replayed batch supersedes rather than duplicates.  The
# result equals the batch face exactly — the oracle IS q140's
# (ORACLE_Q140, registered under this key too).
#
# Scale: per micro-batch the shard rows shuffle once into the index's
# bucket count; the lake side never re-shuffles (written bucketing); the
# row-local bucket fold is O(planes*dim) inside codegen.
# ---------------------------------------------------------------------------
def _staged_shard_vecs(spark: SparkSession, sf_dir: str) -> str:
    """The day's vector shard (vec_id % 5 == 0) staged as multiple
    parquet files once per corpus version — the landing directory a
    streaming embedding ingest watches."""
    src = table_path(sf_dir, "embeddings")

    def build(stage):
        emb = load_table(spark, sf_dir, "embeddings")
        (
            emb.where(F.pmod(F.col("vec_id"), F.lit(5)) == 0)
            .repartition(4)
            .write.mode("overwrite")
            .parquet(stage)
        )

    return staged("tinymr_spark_stage_shardvec", src, build)


def _row_local_bucket(dim: int):
    """_lsh_buckets' sign-projection bucket as a pure per-row expression:
    the +-1 hyperplane weights come from the rule's single home
    (similarity.lsh_plane_weights) embedded as literal arrays; per plane
    one zip_with/aggregate fold whose strict pos-0..dim-1 addition order
    reproduces the _lsh_buckets groupBy sum exactly (three-way agreement
    pinned over the real corpus by tests/test_similarity_recall.py::
    test_row_local_bucket_matches_q53)."""
    from tinymr_spark.operators.similarity import N_PLANES, lsh_plane_weights

    all_weights = lsh_plane_weights(dim)
    total = F.lit(0).cast("long")
    for p in range(N_PLANES):
        wlit = F.array(*[F.lit(w) for w in all_weights[p]])
        dot = F.aggregate(
            F.zip_with(F.col("embedding"), wlit, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        total = total + (
            F.when(dot > 0, F.lit(2**p).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    return total


def q159_stream_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tinymr_spark.operators.similarity import (
        SIM_THRESHOLD,
        _dot,
        _lake_vec_index,
    )
    lake = _lake_vec_index(spark, sf_dir).alias("l")
    stage = _staged_shard_vecs(spark, sf_dir)
    src = table_path(sf_dir, "embeddings")

    def build(out):
        ckpt = out + "._ckpt"
        _pre_stream_cleanup(spark)
        schema = spark.read.parquet(stage).schema
        # embedding dim isn't in the schema (array<float> is unsized);
        # peek one row's length — a planning-time probe, like q149's
        # schema peek.
        dim = len(spark.read.parquet(stage).select("embedding").first()["embedding"])
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "2")
            .parquet(stage)
            .select(
                "vec_id",
                "embedding",
                F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("norm"),
                _row_local_bucket(dim).alias("bucket"),
            )
        )

        def probe(batch_df: DataFrame, batch_id: int) -> None:
            s = batch_df.alias("s")
            sim = F.round(
                _dot(F.col("s.embedding"), F.col("l.embedding"))
                / (F.col("s.norm") * F.col("l.norm")),
                4,
            )
            per = (
                s.join(lake, F.col("s.bucket") == F.col("l.bucket"))
                .select(
                    F.col("s.vec_id").alias("vec_id"),
                    F.col("l.vec_id").alias("lake_id"),
                    sim.alias("cos_sim"),
                )
                .groupBy("vec_id")
                .agg(
                    F.count("*").alias("n_candidates"),
                    F.max(
                        F.struct(
                            F.col("cos_sim").alias("c"),
                            (-F.col("lake_id")).alias("ni"),
                        )
                    ).alias("m"),
                )
                .select(
                    "vec_id",
                    "n_candidates",
                    F.col("m.c").alias("best_cos"),
                    (-F.col("m.ni")).alias("best_lake_id"),
                )
            )
            status = F.when(
                F.col("best_cos") >= SIM_THRESHOLD, F.lit("near_dup_lake")
            ).otherwise(F.lit("kept"))
            verdict = (
                batch_df.select("vec_id")
                .join(per, "vec_id", "left")
                .select(
                    "vec_id",
                    status.alias("status"),
                    F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
                    "best_lake_id",
                    "best_cos",
                )
            )
            # batch-id partition + overwrite = replay-idempotent append
            verdict.write.mode("overwrite").parquet(
                os.path.join(out, f"batch={batch_id}")
            )

        q = (
            stream.writeStream.foreachBatch(probe)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    out = staged("tinymr_spark_semstream", src, build)
    back = spark.read.option("basePath", out).parquet(out)
    return back.drop("batch")


# ---------------------------------------------------------------------------
# Stream-stream join (q98): the remaining major stateful operator — BOTH
# join sides are unbounded streams, so each side buffers rows in state
# until the other side's watermark proves no more matches can arrive.
# Clicks attribute to a purchase by the same user within the preceding 10
# minutes: equality on user_id + an event-time range condition, both
# sides watermarked (that pair is exactly what lets Spark bound the join
# state).  Output projects the time delta in integer MICROSECONDS — raw
# timestamps never appear, sidestepping the parquet ns-vs-us divergence.
# ---------------------------------------------------------------------------
def q98_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    purchases = (
        stream_events(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("pts"),
        )
        .withWatermark("pts", "1 hour")
    )
    clicks = (
        stream_events(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("cts"),
        )
        .withWatermark("cts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("cts") <= F.col("pts"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 10 MINUTES")),
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        (F.unix_micros("pts") - F.unix_micros("cts")).alias("lag_us"),
    )
    # A stream-stream join keeps FOUR state stores per partition (two per
    # side: keyToNumValues + keyWithIndexToValue), so the per-partition
    # fixed cost is ~double a windowed aggregate's — size down accordingly
    # (measured at sf0.1: 3 parts 1.83s, 4 parts 1.86s, 8 parts 3.0s).
    # needs_finalize_batch: append output flushes only when the watermark
    # advances, which happens in the trailing no-data micro-batch.
    return run_stream_to_table(
        joined, spark, n_state_parts=3, output_mode="append",
        needs_finalize_batch=True,
    )


ORACLE_Q98 = """
SELECT p.event_id AS purchase_id, c.event_id AS click_id,
       p.user_id AS user_id,
       epoch_ns(p.ts) // 1000 - epoch_ns(c.ts) // 1000 AS lag_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON c.user_id = p.user_id
 AND epoch_ns(c.ts) // 1000 <= epoch_ns(p.ts) // 1000
 AND epoch_ns(c.ts) // 1000 >= epoch_ns(p.ts) // 1000 - 600000000
"""


# ---------------------------------------------------------------------------
# q99 — dropDuplicatesWithinWatermark: the state-BOUNDED dedup variant.
# q95's dropDuplicates keeps one state entry per key forever (watermark
# only gates late arrivals); this variant expires a key's entry once the
# watermark passes its event time + delay, so state is O(keys seen per
# delay window) — the only tractable contract for an unbounded key space
# at 100 TB/day ingest.  Under this harness's single AvailableNow batch
# nothing expires mid-batch, so the result equals batch DISTINCT (the
# oracle); the expiry semantics themselves are proven by the multi-batch
# replay test in tests/test_streaming_semantics.py.
# ---------------------------------------------------------------------------
def q99_stream_dedup_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = stream_events(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "2 hours")
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .groupBy("user_id")
        .agg(F.count("*").alias("n_event_types"))
    )
    return run_stream_to_table(deduped, spark)


ORACLE_Q99 = """
SELECT user_id, COUNT(DISTINCT event_type) AS n_event_types
FROM events
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# q163 — streaming LAKEHOUSE ingest: each micro-batch lands as one
# ATOMIC VERSION of a minitable (sources/minitable.py), closing the
# sink arc (q96 files / q122 upsert / q124 LSM / q143 custom-format
# manifests) with the commit-log table the other sinks approximate.
# Exactly-once across checkpoint replays via the txn idempotence
# protocol (Delta's txnAppId/txnVersion): every commit records
# (app, batchId), and a replayed batch sees last_txn_version >= its id
# and SKIPS — no duplicate version, no duplicate rows (unit-tested by
# calling the sink twice with the same batch id).
#
# The returned aggregate reads the FINAL table back through the same
# AS-OF machinery and is hash-proven against the source parquet, so the
# gate covers: micro-batch planning, per-batch parquet writes, atomic
# version claims, txn replay suppression, and log-replay reads.  Scale:
# each batch is an ordinary executor-parallel parquet write + one
# driver-side O(1) JSON commit; the log stays O(batches).
# ---------------------------------------------------------------------------
Q163_TXN_APP = "q163_stream_ingest"


def q163_stream_lakehouse_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import minitable

    stage = _staged_event_files(spark, sf_dir)
    src = table_path(sf_dir, "events")

    def build(table):
        ckpt = table + "._ckpt"
        _pre_stream_cleanup(spark)
        schema = spark.read.parquet(stage).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "2")
            .parquet(stage)
            .select("event_id", "user_id", "event_type", "value")
        )

        def land(batch_df: DataFrame, batch_id: int) -> None:
            applied = minitable.last_txn_version(table, Q163_TXN_APP)
            if applied is not None and applied >= batch_id:
                return  # replayed batch: already committed, exactly-once
            minitable.write(
                spark, batch_df, table, "append", txn=(Q163_TXN_APP, batch_id)
            )

        q = (
            stream.writeStream.foreachBatch(land)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    table = staged("tinymr_spark_lakehouse", src, build)
    back = minitable.read(spark, table)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        F.min("event_id").alias("first_event"),
        F.max("event_id").alias("last_event"),
    )


ORACLE_Q163 = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       MIN(event_id) AS first_event,
       MAX(event_id) AS last_event
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# q195 — streaming PARTITIONED ingest + retention: q163's exactly-once
# micro-batch sink landing into a DAY-PARTITIONED minitable
# (write(partition_by=["ed"]) — hive layout, partition values as exact
# [v,v] stats), then the two operations that layout exists for, asserted
# at build: a partition-pruned scan of one day plans a fraction of the
# live files from the log alone, and the retention DELETE (`ed <= 10`)
# drops the old days as PURE commit-log removes — rewritten == 0 —
# followed by a partition-aligned OPTIMIZE that packs each surviving
# day's per-batch dribble into one file per day without un-aligning the
# exact stats.  This is the canonical production pipeline at 100 TB:
# stream in, partition by date, expire by partition, compact within
# partitions.  The hash gate proves the post-retention per-day state.
# ---------------------------------------------------------------------------
Q195_TXN_APP = "q195_part_ingest"


def q195_stream_partitioned_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import minitable

    stage = _staged_event_files(spark, sf_dir)
    src = table_path(sf_dir, "events")

    def build(table):
        ckpt = table + "._ckpt"
        _pre_stream_cleanup(spark)
        schema = spark.read.parquet(stage).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "2")
            .parquet(stage)
            .select(
                "event_id",
                "value",
                F.dayofmonth("ts").cast("int").alias("ed"),
            )
        )

        def land(batch_df: DataFrame, batch_id: int) -> None:
            applied = minitable.last_txn_version(table, Q195_TXN_APP)
            if applied is not None and applied >= batch_id:
                return  # replayed batch: already committed, exactly-once
            minitable.write(
                spark,
                batch_df.repartition("ed"),
                table,
                "append",
                txn=(Q195_TXN_APP, batch_id),
                partition_by=["ed"],
            )

        q = (
            stream.writeStream.foreachBatch(land)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # partition-pruned scan: one day plans a fraction of the files
        kept, total = minitable.prune(table, [("ed", "=", 15)])
        assert 1 <= len(kept) < total, (len(kept), total)
        # retention by partition: pure metadata, zero rewrites
        res = minitable.delete(spark, table, [("ed", "<=", 10)])
        assert res is not None
        assert res[1]["rewritten"] == 0 and res[1]["dropped_whole"] >= 1, res[1]
        # compact each surviving day's per-batch dribble, partition-aligned
        opt = minitable.optimize(
            spark, table, small_bytes=1 << 20, target_bytes=1 << 22,
            partition_by=["ed"],
        )
        if opt is not None:
            # packed outputs keep the exact per-day stats: pruning intact
            kept, total = minitable.prune(table, [("ed", "=", 15)])
            assert 1 <= len(kept) < total, (len(kept), total)

    table = staged("tinymr_spark_minitable_partingest", src, build)
    return (
        minitable.read(spark, table)
        .groupBy("ed")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
    )


ORACLE_Q195 = """
SELECT CAST(day(ts) AS INT) AS ed, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       MIN(event_id) AS first_event,
       MAX(event_id) AS last_event
FROM events
WHERE day(ts) > 10
GROUP BY day(ts)
"""


# ---------------------------------------------------------------------------
# q196 — streaming EXPECTATIONS with quarantine (the Delta Live Tables
# pattern): each micro-batch is split against declared quality rules —
# rows passing EVERY rule land exactly-once in the clean minitable,
# violating rows land in a QUARANTINE minitable tagged with the sorted
# list of rules they failed — both sides under the same txn idempotence
# token, so a replayed batch duplicates neither.  SQL CHECK semantics
# (NULL passes); rules with REAL violations in the data (value caps,
# banned event class).  Nothing is dropped: clean + quarantined == the
# source, and the reasons are queryable for reprocessing — the
# at-the-boundary face of q148's after-the-fact audit and q185's
# write-time constraints.  The hash gate proves both sides' per-class
# counts/sums against the oracle's rule reconstruction.
# ---------------------------------------------------------------------------
Q196_TXN_APP = "q196_expectations"
Q196_RULES = {
    # alphabetical — the quarantine reason is the sorted failed-rule list
    "no_error_events": "event_type <> 'error'",
    "value_bounded": "value <= 99",
}


def q196_stream_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import minitable, retire_artifact_roots

    stage = _staged_event_files(spark, sf_dir)
    src = table_path(sf_dir, "events")
    # the quarantine table is the clean table's ".quar" sibling; sweep
    # the kind it was once staged under
    retire_artifact_roots(spark, staging_kinds=("tinymr_spark_minitable_expect_quar",))

    def build(clean):
        quar = clean + ".quar"
        ckpt = clean + "._ckpt"
        _pre_stream_cleanup(spark)
        schema = spark.read.parquet(stage).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "2")
            .parquet(stage)
            .select("event_id", "event_type", "value")
        )
        names = sorted(Q196_RULES)
        fails = [
            F.when(
                F.coalesce(F.expr(Q196_RULES[n]), F.lit(True)) == False,  # noqa: E712
                F.lit(n),
            )
            for n in names
        ]

        def land(batch_df: DataFrame, batch_id: int) -> None:
            # EACH side carries its own idempotence check: one shared
            # pre-check would let a crash between the two commits skip
            # the second side forever on replay — per-table tokens make
            # the pair effectively atomic under at-least-once replays
            tagged = batch_df.withColumn(
                "failed_rules", F.concat_ws(",", *fails)
            )
            for table, rows in (
                (clean, tagged.where(F.col("failed_rules") == "").drop("failed_rules")),
                (quar, tagged.where(F.col("failed_rules") != "")),
            ):
                applied = minitable.last_txn_version(table, Q196_TXN_APP)
                if applied is not None and applied >= batch_id:
                    continue  # this side already committed this batch
                minitable.write(
                    spark, rows, table, "append", txn=(Q196_TXN_APP, batch_id)
                )

        q = (
            stream.writeStream.foreachBatch(land)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # nothing dropped: the two sides partition the source exactly
        n_src = spark.read.parquet(stage).count()
        n_clean = minitable.read(spark, clean).count()
        n_quar = minitable.read(spark, quar).count()
        assert n_clean + n_quar == n_src, (n_clean, n_quar, n_src)

    clean = staged("tinymr_spark_minitable_expect_clean", src, build)
    quar = clean + ".quar"
    clean_side = (
        minitable.read(spark, clean)
        .groupBy(F.concat(F.lit("clean:"), F.col("event_type")).alias("bucket"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )
    quar_side = (
        minitable.read(spark, quar)
        .groupBy(F.concat(F.lit("quar:"), F.col("failed_rules")).alias("bucket"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )
    return clean_side.unionByName(quar_side)


ORACLE_Q196 = """
WITH tagged AS (
    SELECT event_type, value,
           CONCAT_WS(',',
               CASE WHEN NOT COALESCE(event_type <> 'error', TRUE)
                    THEN 'no_error_events' END,
               CASE WHEN NOT COALESCE(value <= 99, TRUE)
                    THEN 'value_bounded' END
           ) AS failed_rules
    FROM events
)
SELECT CASE WHEN failed_rules = '' THEN 'clean:' || event_type
            ELSE 'quar:' || failed_rules END AS bucket,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM tagged
GROUP BY 1
"""



# ---------------------------------------------------------------------------
# q197 — the PRODUCTION PIPELINE composed end-to-end on ONE minitable
# lineage (VERDICT r9 task 4): streaming ingest with expectations
# (q196's pattern) -> exact dedup (q40) -> quality scoring (q33's
# formula) landed as a lang-PARTITIONED lakehouse table -> the quality
# gate executed as a DML DELETE on that table (not a re-staged copy) ->
# train/val/test split assignment (q116's md5 slots) over the surviving
# rows.  Every stage reads the previous stage's minitable — no
# per-query staged parquet anywhere after the source replay — proving
# the operators compose on the lakehouse substrate:
#
#   documents (file stream, 2 files/batch)
#     ├─ expectations split, per-side txn tokens  -> clean / quarantine
#     ├─ clean -> md5 fingerprint, min-doc_id representative per fp,
#     │         q33 quality score  -> lake (partition_by=lang,
#     │                                     stats on quality_score)
#     ├─ DELETE FROM lake WHERE quality_score < 0.25  (file tiers:
#     │         provable files drop/skip from stats, straddlers rewrite
#     │         UNDER the lang partition layout — the ADVICE-r9 fix)
#     └─ read(lake) -> split slots -> per (lang, split) aggregate
#
# Row conservation is asserted at every boundary inside the build
# branch: clean+quar == source, lake == distinct fingerprints of clean,
# post-delete == lake - rejected, and zero NULL quality scores (so the
# three-valued DELETE boundary can't diverge from the oracle's WHERE).
# The oracle recomputes the whole funnel in SQL on the raw documents
# table, so the hash gate proves the composed lineage end-to-end.
#
# 100 TB shape: the ingest is per-batch appends (no global state), the
# dedup is one hash-partitioned aggregate + a semi join on doc_id, the
# quality gate prunes by commit-log stats before touching storage and
# rewrites only straddling files, and the final pass is one map-side-
# combined aggregate.  Nothing driver-side but O(files) name lists.
# ---------------------------------------------------------------------------
Q197_TXN_APP = "q197_pipeline"
Q197_RULES = {
    # alphabetical — the quarantine reason is the sorted failed-rule list
    "chars_bounded": "n_chars <= 500",
    "lang_supported": "lang <> 'zh'",
}
Q197_QUALITY_MIN = 0.25


def _staged_doc_files(spark: SparkSession, sf_dir: str) -> str:
    """The documents table split into 8 parquet files once per source
    VERSION (mtime+size keyed) — the landing directory the pipeline's
    file stream watches; same contract as _staged_event_files."""
    src = table_path(sf_dir, "documents")

    def build(stage):
        load_table(spark, sf_dir, "documents").repartition(8).write.mode(
            "overwrite"
        ).parquet(stage)

    return staged("tinymr_spark_pipe_docs_stage", src, build)


def q197_lakehouse_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tinymr_spark.operators.text import (
        SPLIT_TRAIN_PCT,
        SPLIT_VAL_PCT,
        STOPWORDS,
        md5_int60,
        with_tokens,
    )
    from tinymr_spark.sources import minitable, retire_artifact_roots

    stage = _staged_doc_files(spark, sf_dir)
    src = table_path(sf_dir, "documents")
    # the quarantine and lake tables are the clean table's ".quar" and
    # ".lake" siblings; sweep the kinds they were once staged under
    retire_artifact_roots(
        spark, staging_kinds=("tinymr_spark_pipe_quar", "tinymr_spark_pipe_lake")
    )

    def build(clean):
        quar = clean + ".quar"
        lake = clean + ".lake"
        ckpt = clean + "._ckpt"
        _pre_stream_cleanup(spark)

        # -- stage 1: streaming expectations ingest (q196's contract:
        # per-SIDE txn tokens make the two landings replay-atomic) ----
        schema = spark.read.parquet(stage).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "2")
            .parquet(stage)
        )
        names = sorted(Q197_RULES)
        fails = [
            F.when(
                F.coalesce(F.expr(Q197_RULES[n]), F.lit(True)) == False,  # noqa: E712
                F.lit(n),
            )
            for n in names
        ]

        def land(batch_df: DataFrame, batch_id: int) -> None:
            tagged = batch_df.withColumn(
                "failed_rules", F.concat_ws(",", *fails)
            )
            for table, rows in (
                (clean, tagged.where(F.col("failed_rules") == "").drop("failed_rules")),
                (quar, tagged.where(F.col("failed_rules") != "")),
            ):
                applied = minitable.last_txn_version(table, Q197_TXN_APP)
                if applied is not None and applied >= batch_id:
                    continue
                minitable.write(
                    spark, rows, table, "append", txn=(Q197_TXN_APP, batch_id)
                )

        q = (
            stream.writeStream.foreachBatch(land)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_src = spark.read.parquet(stage).count()
        n_clean = minitable.read(spark, clean).count()
        n_quar = minitable.read(spark, quar).count()
        assert n_clean + n_quar == n_src, (n_clean, n_quar, n_src)

        # -- stage 2: dedup + quality score -> partitioned lake table --
        cdf = minitable.read(spark, clean)
        fp = cdf.select("doc_id", F.md5("text").alias("fp"))
        keepers = fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
        n_fp = keepers.count()
        reps = cdf.join(keepers.select("doc_id"), "doc_id", "semi")
        toks = F.col("toks")
        n_tok = F.size(toks)
        n_stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
        n_distinct = F.size(F.array_distinct(toks))
        scored = with_tokens(reps).select(
            "doc_id",
            "lang",
            "n_chars",
            F.round(
                (n_stop / n_tok) * 0.5 + (n_distinct / n_tok) * 0.5, 4
            ).alias("quality_score"),
        )
        minitable.write(
            spark,
            scored.repartition("lang"),
            lake,
            "overwrite",
            partition_by=["lang"],
            stats_cols=["quality_score"],
        )
        n_lake = minitable.read(spark, lake).count()
        assert n_lake == n_fp, (n_lake, n_fp)
        assert (
            minitable.read(spark, lake)
            .where(F.col("quality_score").isNull())
            .count()
            == 0
        )

        # -- stage 3: quality gate as a lakehouse DELETE ---------------
        n_reject = (
            minitable.read(spark, lake)
            .where(F.col("quality_score") < Q197_QUALITY_MIN)
            .count()
        )
        res = minitable.delete(
            spark, lake, [("quality_score", "<", Q197_QUALITY_MIN)]
        )
        assert res is not None or n_reject == 0, n_reject
        n_after = minitable.read(spark, lake).count()
        assert n_after == n_lake - n_reject, (n_after, n_lake, n_reject)
        # rewritten straddlers kept the lang partition layout: partition
        # pruning still resolves from the log alone
        kept, total = minitable.prune(lake, [("lang", "=", "en")])
        assert 0 < len(kept) < total, (len(kept), total)

    lake = staged("tinymr_spark_pipe_clean", src, build) + ".lake"

    # -- stage 4: split assignment over the survivors ------------------
    surv = minitable.read(spark, lake)
    slot = md5_int60(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(slot < SPLIT_TRAIN_PCT, F.lit("train"))
        .when(slot < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        surv.select("lang", split.alias("split"), "n_chars", "quality_score")
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.sum(F.col("quality_score").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_quality"),
        )
    )


ORACLE_Q197 = r"""
WITH tagged AS (
    SELECT *,
           CONCAT_WS(',',
               CASE WHEN NOT COALESCE(n_chars <= 500, TRUE)
                    THEN 'chars_bounded' END,
               CASE WHEN NOT COALESCE(lang <> 'zh', TRUE)
                    THEN 'lang_supported' END
           ) AS failed_rules
    FROM documents
),
clean AS (SELECT * FROM tagged WHERE failed_rules = ''),
reps AS (
    SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM clean
    ) WHERE rn = 1
),
scored AS (
    SELECT doc_id, lang, n_chars,
           ROUND(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
                 / len(toks) * 0.5
                 + CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) * 0.5, 4) AS quality_score
    FROM (SELECT doc_id, lang, n_chars,
                 list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
          FROM reps)
),
kept AS (SELECT * FROM scored WHERE quality_score >= 0.25),
assigned AS (
    SELECT lang, n_chars, quality_score,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS slot
    FROM kept
)
SELECT lang,
       CASE WHEN slot < 80 THEN 'train'
            WHEN slot < 90 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(CAST(quality_score AS DECIMAL(18,4))) AS DOUBLE) AS sum_quality
FROM assigned
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q171 — the minitable AS A STREAMING SOURCE (Delta's "table as a
# stream", the read-side complement of q163's streaming ingest): an
# append-only versioned orders table is consumed by a Structured
# Streaming query through the custom `tinymr_minitable_stream` format
# (sources/minitable_stream.py).  Offsets are commit-log VERSIONS; the
# first batch is the current snapshot (initialOffset -1), and each later
# append commit streams exactly once — partitions map (start, end] to
# the committed files, executors read them directly (no table byte
# through the driver), and an overwrite/merge in range raises instead of
# replaying rewritten rows.  The drained stream is landed in a memory
# sink and aggregated; the oracle recomputes from the raw orders table,
# so the hash gate proves the whole path — version offsets, per-file
# partition planning, executor pyarrow reads — loses and duplicates
# nothing.  Restart-streams-only-the-delta is pinned in
# tests/test_sources_sinks.py (the checkpoint replay contract).
# ---------------------------------------------------------------------------
def q171_stream_table_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tinymr_spark.sources import minitable, minitable_stream

    src = table_path(sf_dir, "orders")

    def build(table):
        orders = load_table(spark, sf_dir, "orders")
        for r in range(3):  # three append commits: a growing live table
            minitable.write(
                spark, orders.where(F.col("o_orderkey") % 3 == r), table, "append"
            )

    table = staged("tinymr_spark_minitable_cdf", src, build)
    minitable_stream.register(spark)
    stream = (
        spark.readStream.format("tinymr_minitable_stream")
        .option("path", table)
        .option("columns", "o_orderkey,o_custkey,o_orderpriority,o_totalprice")
        .load()
    )
    # Pre-reduce IN the stream to (priority, custkey) pair partials:
    # count_distinct is illegal in a streaming aggregate, but the pair
    # grouping is legal (complete mode) and carries everything the final
    # answer needs — counts and the decimal(18,2) sums combine exactly
    # across micro-batches (integer cents; Spark's stateful aggregation
    # handles the cross-batch merge), mins/maxes are associative, and
    # n_customers per priority = the number of pair rows.  The memory
    # sink then collects one row per (priority, custkey) instead of
    # every order row, the final driver-side re-scan shrinks the same
    # way, and run_stream_to_table's machinery (2 state partitions,
    # trailing no-data micro-batch skipped) replaces the raw sink that
    # paid a full-width collect plus an empty finalize batch (r15
    # decomposition: plans/r15/measure_stream_decomp.json).
    pairs = stream.groupBy("o_orderpriority", "o_custkey").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"),
        F.min("o_orderkey").alias("mn"),
        F.max("o_orderkey").alias("mx"),
    )
    t = run_stream_to_table(pairs, spark, output_mode="complete")
    return (
        t.groupBy("o_orderpriority")
        .agg(
            F.sum("n").alias("n_orders"),
            F.sum("s").cast("double").alias("sum_price"),
            F.min("mn").alias("min_key"),
            F.max("mx").alias("max_key"),
            # one pair row per distinct (priority, custkey): counting the
            # non-null custkeys IS count_distinct(o_custkey)
            F.count("o_custkey").alias("n_customers"),
        )
    )


ORACLE_Q171 = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key,
       COUNT(DISTINCT o_custkey) AS n_customers
FROM orders
GROUP BY o_orderpriority
"""


QUERIES = {
    "q90_stream_tumbling": q90_stream_tumbling,
    "q91_stream_sliding": q91_stream_sliding,
    "q92_stream_stateful": q92_stream_stateful,
    "q93_stream_session": q93_stream_session,
    "q94_stream_static_join": q94_stream_static_join,
    "q95_stream_dedup": q95_stream_dedup,
    "q96_stream_sink_parquet": q96_stream_sink_parquet,
    "q97_stream_incremental": q97_stream_incremental,
    "q98_stream_stream_join": q98_stream_stream_join,
    "q99_stream_dedup_bounded": q99_stream_dedup_bounded,
    "q122_stream_upsert_sink": q122_stream_upsert_sink,
    "q124_stream_delta_compact": q124_stream_delta_compact,
    "q136_python_stream_source": q136_python_stream_source,
    "q143_python_stream_sink": q143_python_stream_sink,
    "q149_stream_index_probe": q149_stream_index_probe,
    "q159_stream_semantic_dedup": q159_stream_semantic_dedup,
    "q163_stream_lakehouse_ingest": q163_stream_lakehouse_ingest,
    "q195_stream_partitioned_ingest": q195_stream_partitioned_ingest,
    "q196_stream_expectations": q196_stream_expectations,
    "q197_lakehouse_pipeline": q197_lakehouse_pipeline,
    "q171_stream_table_source": q171_stream_table_source,
    "q138_statestore_reader": q138_statestore_reader,
}
from tinymr_spark.operators.similarity import ORACLE_Q140 as _SIM_ORACLE_Q140  # noqa: E402

ORACLE = {
    "q90_stream_tumbling": ORACLE_Q90,
    "q91_stream_sliding": ORACLE_Q91,
    "q92_stream_stateful": ORACLE_Q92,
    "q93_stream_session": ORACLE_Q93,
    "q94_stream_static_join": ORACLE_Q94,
    "q95_stream_dedup": ORACLE_Q95,
    "q96_stream_sink_parquet": ORACLE_Q96,
    "q97_stream_incremental": ORACLE_Q97,
    "q98_stream_stream_join": ORACLE_Q98,
    "q99_stream_dedup_bounded": ORACLE_Q99,
    "q122_stream_upsert_sink": ORACLE_Q122,
    "q124_stream_delta_compact": ORACLE_Q124,
    "q136_python_stream_source": ORACLE_Q136,
    "q143_python_stream_sink": ORACLE_Q143,
    "q149_stream_index_probe": ORACLE_Q149,
    # q159 must equal the batch face exactly — the oracle IS q140's.
    "q159_stream_semantic_dedup": _SIM_ORACLE_Q140,
    "q163_stream_lakehouse_ingest": ORACLE_Q163,
    "q195_stream_partitioned_ingest": ORACLE_Q195,
    "q196_stream_expectations": ORACLE_Q196,
    "q197_lakehouse_pipeline": ORACLE_Q197,
    "q171_stream_table_source": ORACLE_Q171,
    "q138_statestore_reader": ORACLE_Q138,
}
