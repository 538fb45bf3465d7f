"""Watermark semantics under real multi-batch replay — behavior that
single-batch AvailableNow replays (q90-q97 on the driver's one-file
testdata) can never exhibit.

Spark drops a late row only once its window has been FINALIZED (emitted
and evicted): a row later than the watermark whose window is still in
state is merged, not dropped (verified empirically — the
numRowsDroppedByWatermark metric stays 0 and the count includes it).
So the drop needs three micro-batches (parquet files with controlled
mtimes; FileStreamSource processes oldest-first with
maxFilesPerTrigger=1):

  batch A: 10:00, 10:02 (window 10:00) + 10:30 -> watermark 10:20 after A
  batch B: 10:45 on-time; at batch end the 10:00 window (end 10:05 <=
           wm 10:20) is emitted with n=2 and evicted
  batch C: 10:01 -> its window is gone -> DROPPED (metric = 1)

If the watermark machinery were broken, the 10:00 window would emit
n=3 (late row merged) or emit twice (n=2 then n=1)."""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F


def _write(path: str, ts_us: list[int], mtime: int) -> None:
    table = pa.table(
        {
            "ts": pa.array(ts_us, type=pa.timestamp("us")),
            "user_id": pa.array([1] * len(ts_us), type=pa.int64()),
            "value": pa.array([1.0] * len(ts_us), type=pa.float64()),
        }
    )
    pq.write_table(table, path)
    os.utime(path, (mtime, mtime))


def _us(hh: int, mm: int) -> int:
    return ((hh * 60 + mm) * 60) * 1_000_000


def test_late_event_dropped_after_window_finalized(spark, tmp_path):
    stage = str(tmp_path / "late_stage")
    os.makedirs(stage)
    _write(os.path.join(stage, "a.parquet"),
           [_us(10, 0), _us(10, 2), _us(10, 30)], mtime=1_000_000)
    _write(os.path.join(stage, "b.parquet"), [_us(10, 45)], mtime=2_000_000)
    _write(os.path.join(stage, "c.parquet"), [_us(10, 1)], mtime=3_000_000)

    stream = (
        spark.readStream.schema("ts timestamp, user_id long, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("bucket_ts"), "n")
    )
    name = f"late_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    dropped = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark") or 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    rows = [
        (r["bucket_ts"].strftime("%H:%M"), r["n"])
        for r in spark.table(name).collect()
    ]
    emitted_1000 = [n for b, n in rows if b == "10:00"]

    assert dropped == 1, (dropped, rows)
    # emitted exactly once, with exactly the two on-time rows
    assert emitted_1000 == [2], rows


def test_tws_gated_or_runs(spark):
    """transformWithStateInPandas is gated on google.protobuf (its JVM<->
    Python state-server protocol).  Where absent, building the plan must
    raise the loud seam error; where present, the processor's result must
    equal the batch groupBy oracle."""
    import pytest

    from tinymr_spark import streaming as st

    stream = st.stream_events(spark, "/root/testdata/sf0.001")
    if not st.tws_available():
        with pytest.raises(NotImplementedError, match="protobuf"):
            st.user_type_stats_tws(stream)
        return
    got = st.run_stream_to_table(
        st.user_type_stats_tws(stream), spark, output_mode="update"
    )
    want = (
        st.load_table(spark, "/root/testdata/sf0.001", "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_dedup_within_watermark_state_expires(spark, tmp_path):
    """dropDuplicatesWithinWatermark (q99) vs dropDuplicates (q95): the
    bounded variant EVICTS a key once the watermark passes its event time
    + delay, so a later re-occurrence is emitted again; the unbounded
    variant would drop it forever.  Four micro-batches, 30-minute delay:

      A: user 1 @ 10:00  -> emitted (first seen; expiry 10:30)
      B: user 1 @ 12:00  -> deduped (state alive), expiry extends to 12:30
      C: user 2 @ 16:00  -> emitted; watermark -> 15:30 > 12:30, user 1
                            evicted at the next batch boundary
      D: user 1 @ 16:00  -> EMITTED AGAIN (state expired)
    """
    stage = str(tmp_path / "ddww_stage")
    os.makedirs(stage)
    _write(os.path.join(stage, "a.parquet"), [_us(10, 0)], mtime=1_000_000)
    _write(os.path.join(stage, "b.parquet"), [_us(12, 0)], mtime=2_000_000)
    table_c = os.path.join(stage, "c.parquet")
    _write(table_c, [_us(16, 0)], mtime=3_000_000)
    # rewrite batch C with user_id 2 (the _write helper pins user_id=1)
    t = pq.read_table(table_c)
    t = t.set_column(1, "user_id", pa.array([2], type=pa.int64()))
    pq.write_table(t, table_c)
    os.utime(table_c, (3_000_000, 3_000_000))
    _write(os.path.join(stage, "d.parquet"), [_us(16, 0)], mtime=4_000_000)

    stream = (
        spark.readStream.schema("ts timestamp, user_id long, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    deduped = (
        stream.withWatermark("ts", "30 minutes")
        .select("user_id", "ts")
        .dropDuplicatesWithinWatermark(["user_id"])
    )
    name = f"ddww_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = sorted(
        (r["user_id"], r["ts"].strftime("%H:%M")) for r in spark.table(name).collect()
    )
    assert rows == [(1, "10:00"), (1, "16:00"), (2, "16:00")], rows


def test_q122_upsert_merges_across_batches(spark, sf_dir):
    """The upsert sink must actually exercise the MERGE path: the staged
    source is split into N files read one per micro-batch, so the state
    version chain grows once per batch that contained view events, and
    each version folds the previous state in (n_updates accumulates)."""
    import hashlib
    import os

    from tinymr_spark.streaming import (
        _staged_event_files,
        _staging_root,
        q122_stream_upsert_sink,
    )

    final = {r["user_id"]: r["n_updates"] for r in q122_stream_upsert_sink(spark, sf_dir).collect()}
    stage = _staged_event_files(spark, sf_dir)
    out_dir = os.path.join(
        _staging_root("tinymr_spark_upsert"), hashlib.md5(stage.encode()).hexdigest()
    )
    versions = sorted(int(d[1:]) for d in os.listdir(out_dir) if d.startswith("v"))
    assert len(versions) >= 2, "source staging produced a single batch; merge path untested"
    # earlier versions hold strictly fewer-or-equal update counts
    prev = spark.read.parquet(os.path.join(out_dir, f"v{versions[0]}"))
    first = {r["user_id"]: r["n_updates"] for r in prev.collect()}
    assert all(final[u] >= n for u, n in first.items())
    assert sum(final.values()) > sum(first.values())


def test_q124_compaction_fires_and_trailing_deltas_fold(spark, sf_dir):
    """With N_STAGE_FILES=4 batches and COMPACT_EVERY=3, the standard run
    must write at least one checkpoint (the LSM compact path is exercised
    by every run, not just a bigger test) and leave trailing deltas that
    the final read folds in — i.e. the result must NOT equal the last
    checkpoint alone."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from tinymr_spark.streaming import (
        _staged_event_files,
        _staging_root,
        q124_stream_delta_compact,
    )

    final = {
        r["user_id"]: r["n_events"]
        for r in q124_stream_delta_compact(spark, sf_dir).collect()
    }
    stage = _staged_event_files(spark, sf_dir)
    out_dir = os.path.join(
        _staging_root("tinymr_spark_lsm"), hashlib.md5(stage.encode()).hexdigest()
    )
    entries = os.listdir(out_dir)
    ckpts = sorted(int(d[1:]) for d in entries if d[0] == "c")
    deltas = sorted(int(d[1:]) for d in entries if d[0] == "d")
    assert ckpts, "compaction never fired"
    assert max(deltas) > ckpts[-1], "no trailing delta beyond the checkpoint"
    ck = spark.read.parquet(os.path.join(out_dir, f"c{ckpts[-1]}"))
    ck_totals = {r["user_id"]: r["n_events"] for r in ck.collect()}
    assert sum(final.values()) > sum(ck_totals.values())
    # checkpoint + every trailing delta account for every event exactly once
    trailing = [
        spark.read.parquet(os.path.join(out_dir, f"d{b}"))
        for b in deltas
        if b > ckpts[-1]
    ]
    n_trailing = sum(
        t.agg(F.sum("n_events")).collect()[0][0] or 0 for t in trailing
    )
    assert sum(final.values()) == sum(ck_totals.values()) + n_trailing


def test_q138_recovers_from_crashed_staging(spark, sf_dir):
    """A first run killed after query start leaves commits/ existing but
    empty; the staging guard must key on the post-success marker, not
    the directory, or the checkpoint is permanently broken."""
    import glob
    import hashlib
    import os
    import shutil

    from tinymr_spark.sources import staging_root, table_path
    from tinymr_spark.streaming import q138_statestore_reader

    n = q138_statestore_reader(spark, sf_dir).count()
    src = table_path(sf_dir, "events")
    root = os.path.join(
        staging_root("tinymr_spark_ss_ckpt"), hashlib.md5(src.encode()).hexdigest()[:12]
    )
    (done,) = glob.glob(os.path.join(root, "*._done"))
    ckpt = done[: -len("._done")]
    assert os.path.exists(done)
    # simulate the crash: marker gone, commits/ present but empty
    os.remove(done)
    shutil.rmtree(os.path.join(ckpt, "commits"))
    os.makedirs(os.path.join(ckpt, "commits"))
    assert q138_statestore_reader(spark, sf_dir).count() == n
    assert os.path.exists(done)


def test_q163_replayed_batch_commits_exactly_once(spark, tmp_path):
    """The minitable txn protocol must suppress a checkpoint-replayed
    micro-batch: landing the same (app, batchId) twice yields ONE
    committed version and no duplicate rows — then the next batch id
    commits normally."""
    from tinymr_spark.sources import minitable

    table = str(tmp_path / "lake")
    app = "test_replay_app"
    batch = spark.range(10).withColumnRenamed("id", "x")

    def land(batch_df, batch_id):
        applied = minitable.last_txn_version(table, app)
        if applied is not None and applied >= batch_id:
            return
        minitable.write(spark, batch_df, table, "append", txn=(app, batch_id))

    land(batch, 0)
    land(batch, 0)  # replay of batch 0
    assert minitable.versions(table) == [0]
    assert minitable.read(spark, table).count() == 10
    land(batch, 1)  # the NEXT batch still lands
    assert minitable.versions(table) == [0, 1]
    assert minitable.read(spark, table).count() == 20
