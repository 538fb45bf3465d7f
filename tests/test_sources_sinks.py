"""Source/sink round-trips (SURVEY.md §2.3: the reference has no I/O —
scans and sinks are our engine's responsibility) and the plan-level
contracts that matter at 100 TB: a partitioned sink must yield partition
pruning on read-back, and scans must push filters / prune columns."""

from __future__ import annotations

from pyspark.sql import functions as F

from tinymr_spark.plans import explain_str
from tinymr_spark.sources import (
    load_table,
    read_csv,
    read_json,
    write_parquet,
)


def test_partitioned_sink_prunes_on_readback(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "by_lang")
    write_parquet(docs, out, partition_by=["lang"])

    back = spark.read.parquet(out)
    assert back.count() == docs.count()

    one_lang = back.where(F.col("lang") == "en")
    plan = explain_str(one_lang, "formatted")
    # partition filter, not a data filter: the scan lists only lang=en dirs
    assert "PartitionFilters: [isnotnull(lang" in plan or "lang#" in plan
    got = {r["lang"] for r in one_lang.select("lang").distinct().collect()}
    assert got <= {"en"}


def test_csv_json_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -2.0)], "id bigint, s string, v double"
    )
    csv_path = str(tmp_path / "t.csv")
    json_path = str(tmp_path / "t.json")
    df.write.mode("overwrite").option("header", "true").csv(csv_path)
    df.write.mode("overwrite").json(json_path)

    back_csv = read_csv(spark, csv_path, schema="id bigint, s string, v double")
    back_json = read_json(spark, json_path, schema="id bigint, s string, v double")
    want = {(1, "a", 1.5), (2, "b", -2.0)}
    assert {tuple(r) for r in back_csv.collect()} == want
    assert {tuple(r) for r in back_json.collect()} == want


def test_scan_pushdown_and_pruning(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.where(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    plan = explain_str(q, "formatted")
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40" in plan
    # ReadSchema prunes to exactly the two referenced columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:" in plan


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"s{i % 3}", float(i)) for i in range(100)],
        "id bigint, s string, v double",
    )
    orc_path = str(tmp_path / "t.orc")
    df.write.mode("overwrite").orc(orc_path)
    back = spark.read.orc(orc_path)
    assert back.count() == 100
    q = back.where(F.col("id") > 90).select("id", "v")
    plan = explain_str(q, "formatted")
    # ORC scans get the same pushdown/pruning treatment as parquet
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,90" in plan
    assert {tuple(r) for r in q.collect()} == {(i, float(i)) for i in range(91, 100)}


def test_python_datasource_partition_independent(spark):
    """The custom synthevents format (Spark 4 Python DataSource) must
    produce the identical TABLE for any partition count — striped row-id
    assignment covers every id exactly once."""
    from tinymr_spark.sources import pydatasource

    pydatasource.register(spark)

    def table(parts):
        df = (
            spark.read.format("synthevents")
            .option("rows", "997")  # prime: stripes are uneven on purpose
            .option("partitions", str(parts))
            .load()
        )
        return {tuple(r) for r in df.collect()}

    t1, t4, t7 = table(1), table(4), table(7)
    assert t1 == t4 == t7
    assert len(t1) == 997
    # spot-check the deterministic formula
    assert (0, 0, "view", 0) in t1
    assert (6, (6 * 2_654_435_761) % 1_000, "click", 582) in t1


def test_stream_reader_replay_matches_original_read():
    """The streaming face's recovery contract under the FULL
    partition-planning reader: a micro-batch is defined by its
    (start, end] offsets, and partitions()/read() are pure functions of
    them, so replanning any committed range reproduces exactly the rows
    originally served — checkpoint restart correctness depends on it —
    and chunked micro-batches must tile the row space without gap or
    overlap."""
    from tinymr_spark.sources.pydatasource import SyntheticEventsStreamReader

    def drain(reader):
        off = reader.initialOffset()
        served, offsets = [], [off]
        while True:
            nxt = reader.latestOffset()
            if nxt == off:
                break
            batch = [
                row
                for p in reader.partitions(off, nxt)
                for row in reader.read(p)
            ]
            served.append(batch)
            offsets.append(nxt)
            off = nxt
        return served, offsets

    r = SyntheticEventsStreamReader({"rows": "100", "chunk": "30", "partitions": "4"})
    served, offsets = drain(r)
    flat = [row for batch in served for row in batch]
    assert [row[0] for row in flat] == list(range(100))  # gapless tiling
    assert len(served) == 4  # 30+30+30+10

    # Each micro-batch is planned as MULTIPLE executor-side partitions
    # (the scale property the Simple reader lacked), covering its offset
    # range contiguously.
    parts = r.partitions(offsets[0], offsets[1])
    assert len(parts) == 4
    assert [(p.start, p.end) for p in parts] == [(0, 8), (8, 16), (16, 24), (24, 30)]

    # Replay: a FRESH reader instance (post-restart state) replans a
    # committed range to the identical rows.
    r2 = SyntheticEventsStreamReader({"rows": "100", "chunk": "30", "partitions": "4"})
    replay = [
        row
        for p in r2.partitions(offsets[1], offsets[3])
        for row in r2.read(p)
    ]
    assert replay == flat[30:90]
    # ... and the restart fast-forward means the recovered reader never
    # re-announces offsets behind the committed range.
    assert r2.latestOffset() == {"i": 100}


def test_stream_reader_available_now(spark, tmp_path):
    """AvailableNow semantics, measured: Spark caps the run at the FIRST
    latestOffset() answer, so a rate-limited Python source (chunk <
    rows) serves exactly one chunk — while chunk >= rows makes
    AvailableNow exact.  Pinning both halves keeps the q136 docstring's
    claim honest if a Spark upgrade changes the interaction."""
    from tinymr_spark.sources import pydatasource

    pydatasource.register(spark)

    def available_now_rows(tag, chunk):
        out = str(tmp_path / f"an_{tag}")
        ck = str(tmp_path / f"ck_{tag}")
        stream = (
            spark.readStream.format("synthevents")
            .option("rows", "2000")
            .option("chunk", str(chunk))
            .option("partitions", "4")
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("checkpointLocation", ck)
            .option("path", out)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        return spark.read.parquet(out).count()

    assert available_now_rows("capped", 500) == 500  # under-read, by design
    assert available_now_rows("full", 2000) == 2000  # no rate limit -> exact


def test_tinyavro_roundtrip_and_manifest(spark, tmp_path):
    """The hand-rolled Avro OCF source/sink: write partition-parallel,
    read partition-per-file, values bit-exact; the commit manifest makes
    orphan part files (failed/speculative tasks) invisible to readers."""
    import os

    from tinymr_spark.sources import tinyavro

    tinyavro.register(spark)
    df = spark.createDataFrame(
        [(i, f"s{i % 3}", i * 1.5, i % 7, i % 2 == 0) for i in range(997)],
        "id bigint, s string, v double, k int, flag boolean",
    )
    d = str(tmp_path / "av")
    df.repartition(4).write.format("tinyavro").mode("overwrite").save(d)
    files = [f for f in os.listdir(d) if f.endswith(".avro")]
    assert len(files) == 4  # one container file per writer task
    back = spark.read.format("tinyavro").load(d)
    assert back.schema.simpleString() == df.schema.simpleString()
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    # an uncommitted orphan file must not be read
    open(os.path.join(d, "orphan.avro"), "wb").write(b"Obj\x01junk")
    assert spark.read.format("tinyavro").load(d).count() == 997

    # overwrite replaces contents atomically (manifest swap, then GC)
    df.limit(10).repartition(1).write.format("tinyavro").mode("overwrite").save(d)
    assert spark.read.format("tinyavro").load(d).count() == 10

    # append accumulates on top of the committed table
    df.limit(5).repartition(1).write.format("tinyavro").mode("append").save(d)
    assert spark.read.format("tinyavro").load(d).count() == 15

    # a FAILED overwrite attempt must leave the committed table intact:
    # nothing is deleted at plan time, abort removes only the new parts
    from tinymr_spark.sources.tinyavro import TinyAvroWriter

    w = TinyAvroWriter(d, df.schema, overwrite=True)
    msg = w.write(iter([(999, "x", 1.0, 1, True)]))
    w.abort([msg])
    assert spark.read.format("tinyavro").load(d).count() == 15

    # FIRST-EVER write in append mode to a manifest-less dir: the
    # committed-prior set is manifest-only, so the new attempt's own
    # files must not be double-listed (nor aborted orphans enrolled)
    d2 = str(tmp_path / "av_fresh")
    df.limit(7).repartition(2).write.format("tinyavro").mode("append").save(d2)
    manifest = open(os.path.join(d2, "_MANIFEST")).read().split()
    assert len(manifest) == len(set(manifest)) == 2, manifest
    assert spark.read.format("tinyavro").load(d2).count() == 7


def test_tinyavro_container_format_is_spec_shaped(tmp_path):
    """Byte-level spec conformance of the codec itself (no Spark):
    magic, metadata map with schema + null codec, sync-delimited blocks,
    zigzag primitives — plus a decode of a known hand-built byte
    string, so the encoder can't be 'self-consistently wrong'."""
    import json
    import os

    from tinymr_spark.sources.tinyavro import (
        MAGIC,
        read_avro_file,
        read_avro_header,
        write_avro_file,
    )

    p = str(tmp_path / "one.avro")
    schema = {
        "type": "record", "name": "row",
        "fields": [{"name": "a", "type": "long"}, {"name": "b", "type": "string"}],
    }
    rows = [(-1, "x"), (0, ""), (64, "héllo"), (2**40, "z" * 300)]
    write_avro_file(p, json.dumps(schema), ["long", "string"], rows)
    raw = open(p, "rb").read()
    assert raw[:4] == MAGIC
    got_schema, sync, data_off = read_avro_header(p)
    assert got_schema == schema and len(sync) == 16
    assert raw[data_off - 16 : data_off] == sync  # header ends with sync
    assert raw[-16:] == sync  # every block (incl. last) ends with sync
    assert list(read_avro_file(p)) == rows

    # hand-built golden bytes: a=-1 -> zigzag 1; b="hi" -> length 2 ->
    # zigzag 4, then utf8 bytes
    body = bytes([1]) + bytes([4]) + b"hi"
    golden = (
        MAGIC
        + bytes([4])  # map count 2 (zigzag)
        + bytes([22]) + b"avro.schema"
        + _varint_bytes(len(json.dumps(schema).encode()))
        + json.dumps(schema).encode()
        + bytes([20]) + b"avro.codec" + bytes([8]) + b"null"
        + bytes([0])
        + b"S" * 16
        + bytes([2])  # block count 1
        + _varint_bytes(len(body))
        + body
        + b"S" * 16
    )
    g = str(tmp_path / "golden.avro")
    open(g, "wb").write(golden)
    assert list(read_avro_file(g)) == [(-1, "hi")]


def _varint_bytes(n: int) -> bytes:
    u = n << 1
    out = bytearray()
    while u > 0x7F:
        out.append((u & 0x7F) | 0x80)
        u >>= 7
    out.append(u)
    return bytes(out)


def test_tinyavro_rejects_unsupported_types(spark, tmp_path):
    """A timestamp column must fail loudly at write, not silently coerce
    — avro files are interchange artifacts."""
    import pytest

    from tinymr_spark.sources import tinyavro

    tinyavro.register(spark)
    df = spark.range(3).selectExpr("id", "current_timestamp() AS ts")
    with pytest.raises(Exception, match="tinyavro supports primitive"):
        df.write.format("tinyavro").mode("overwrite").save(str(tmp_path / "bad"))


def test_tinyavro_stream_writer_replayed_batch_supersedes(spark, tmp_path):
    """The streaming sink's exactly-once contract: a checkpoint-replayed
    micro-batch (same batchId, new attempt) must REPLACE the previous
    attempt's manifest, not append to it — readers see each batch's rows
    exactly once, and the superseded attempt's part files become
    invisible orphans."""
    from pyspark.sql.types import StructType

    from tinymr_spark.sources import tinyavro
    from tinymr_spark.sources.tinyavro import TinyAvroStreamWriter

    tinyavro.register(spark)
    d = str(tmp_path / "sink")
    schema = StructType.fromDDL("id bigint, s string")
    w = TinyAvroStreamWriter(d, schema)

    def run_batch(batch_id, rows):
        msg = w.write(iter(rows))
        w.commit([msg], batch_id)

    run_batch(0, [(1, "a"), (2, "b")])
    run_batch(1, [(3, "c")])
    # replay of batch 1 (post-failure attempt with the same data)
    run_batch(1, [(3, "c")])

    back = spark.read.format("tinyavro").load(d)
    assert sorted(map(tuple, back.collect())) == [(1, "a"), (2, "b"), (3, "c")]
    import os

    # the superseded attempt's file is orphaned on disk but invisible
    avro_files = [f for f in os.listdir(d) if f.endswith(".avro")]
    assert len(avro_files) == 3  # 2 committed + 1 orphan


def test_stream_reader_restart_is_exactly_once(spark, tmp_path):
    """Engine-level recovery contract, measured end-to-end: restarting a
    checkpointed query over the Python stream source neither duplicates
    nor drops rows — with no new data (the fresh reader's first
    latestOffset answers BEHIND the checkpoint; Spark must not rewind)
    and with new data appearing between runs."""
    from tinymr_spark.sources import pydatasource

    pydatasource.register(spark)
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def run(rows):
        stream = (
            spark.readStream.format("synthevents")
            .option("rows", str(rows))
            .option("chunk", "250")
            .option("partitions", "4")
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("checkpointLocation", ck)
            .option("path", out)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        df = spark.read.parquet(out)
        return df.count(), df.select("row_id").distinct().count()

    assert run(1000) == (1000, 1000)
    assert run(1000) == (1000, 1000)  # restart, no new data: no rewind
    assert run(2000) == (2000, 2000)  # restart, new data: exactly once


def test_pushfilters_absorbs_native_predicates_and_returns_rest():
    """Reader-level pushdown semantics: row_id bounds and kind
    equality/IN are absorbed (and visibly shrink generation); anything
    else is returned for Spark to evaluate — and absorbed filters must
    drop exactly the right rows."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThanOrEqual,
        In,
        LessThan,
    )

    from tinymr_spark.sources.pydatasource import (
        EVENT_KINDS,
        SyntheticEventsReader,
        _event_row,
    )

    r = SyntheticEventsReader({"rows": "1000", "partitions": "4"})
    pushed = [
        GreaterThanOrEqual(("row_id",), 100),
        LessThan(("row_id",), 900),
        In(("kind",), ("purchase", "error")),
        EqualTo(("user_id",), 5),  # not natively evaluable
    ]
    rest = list(r.pushFilters(pushed))
    assert rest == [EqualTo(("user_id",), 5)]  # only the residual returned

    got = sorted(row for p in r.partitions() for row in r.read(p))
    want = sorted(
        _event_row(rid)
        for rid in range(100, 900)
        if EVENT_KINDS[rid % 5] in ("purchase", "error")
    )
    assert got == want and len(got) == 320

    # kind EqualTo narrows to a single modulus
    r2 = SyntheticEventsReader({"rows": "1000", "partitions": "3"})
    assert list(r2.pushFilters([EqualTo(("kind",), "view")])) == []
    got2 = {row[2] for p in r2.partitions() for row in r2.read(p)}
    assert got2 == {"view"}

    # conjunctive kind predicates INTERSECT (Catalyst does not fold
    # EqualTo with In): accepting both but keeping only the last would
    # silently widen the result
    r3 = SyntheticEventsReader({"rows": "1000", "partitions": "3"})
    assert (
        list(r3.pushFilters([EqualTo(("kind",), "view"),
                             In(("kind",), ("purchase", "error"))])) == []
    )
    assert [row for p in r3.partitions() for row in r3.read(p)] == []


def test_minitable_commit_claim_is_exclusive(tmp_path, monkeypatch):
    """Optimistic concurrency: a writer whose log read went stale (a
    concurrent commit landed between its versions() read and its O_EXCL
    claim) must get CommitConflict, never a silent overwrite of the
    winner's record."""
    import pytest

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    assert minitable.commit(path, "overwrite", ["a.parquet"]) == 0

    real_versions = minitable.versions

    def stale_then_concurrent(p):
        vs = real_versions(p)
        # the concurrent writer lands ITS commit right after our read
        open(minitable._version_file(p, vs[-1] + 1), "w").write(
            '{"version": %d, "action": "append", "added": []}' % (vs[-1] + 1)
        )
        return vs

    monkeypatch.setattr(minitable, "versions", stale_then_concurrent)
    with pytest.raises(minitable.CommitConflict):
        minitable.commit(path, "append", ["b.parquet"])
    monkeypatch.undo()
    # the winner's record is intact and the loser can rebase+retry
    assert minitable.versions(path) == [0, 1]
    assert minitable.commit(path, "append", ["b.parquet"]) == 2


def test_minitable_snapshot_replay_and_overwrite(tmp_path):
    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    minitable.commit(path, "overwrite", ["a.parquet"])         # v0
    minitable.commit(path, "append", ["b.parquet"])            # v1
    minitable.commit(path, "overwrite", ["c.parquet"])         # v2 (compaction)
    minitable.commit(path, "append", ["d.parquet"])            # v3
    base = str(tmp_path / "t")
    assert [p.split("/")[-1] for p in minitable.snapshot(base, 0)] == ["a.parquet"]
    assert [p.split("/")[-1] for p in minitable.snapshot(base, 1)] == ["a.parquet", "b.parquet"]
    assert [p.split("/")[-1] for p in minitable.snapshot(base, 2)] == ["c.parquet"]
    assert [p.split("/")[-1] for p in minitable.snapshot(base)] == ["c.parquet", "d.parquet"]


def test_minitable_vacuum_respects_retention(spark, tmp_path):
    """vacuum(retain_from) deletes only files no retained version
    references; retained versions keep reading identically."""
    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    df1 = spark.range(5).withColumnRenamed("id", "x")
    df2 = spark.range(5, 8).withColumnRenamed("id", "x")
    minitable.write(spark, df1, path, "overwrite")              # v0
    minitable.write(spark, minitable.read(spark, path, 0), path, "overwrite")  # v1 compaction
    minitable.write(spark, df2, path, "append")                 # v2
    deleted = minitable.vacuum(path, retain_from_version=1)
    assert deleted, "v0's superseded files should be vacuumable"
    # v1 and v2 still read fully
    assert minitable.read(spark, path, 1).count() == 5
    assert minitable.read(spark, path, 2).count() == 8
    import pytest

    with pytest.raises(Exception):
        minitable.read(spark, path, 0).count()  # history destroyed, loudly


def test_minitable_orphan_files_invisible(spark, tmp_path):
    """Part files written without a commit record (crashed writer) never
    appear in any snapshot."""
    import os

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    minitable.write(spark, spark.range(4).withColumnRenamed("id", "x"), path, "overwrite")
    orphan_dir = os.path.join(path, "part-deadbeef")
    os.makedirs(orphan_dir)
    spark.range(100).withColumnRenamed("id", "x").write.mode("overwrite").parquet(orphan_dir)
    assert minitable.read(spark, path).count() == 4


def test_minitable_change_feed_and_overwrite_guard(spark, tmp_path):
    """changes(a, b) returns exactly the appended rows; a range spanning
    an overwrite raises instead of returning a wrong feed."""
    import pytest

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    minitable.write(spark, spark.range(5).withColumnRenamed("id", "x"), path, "overwrite")   # v0
    minitable.write(spark, spark.range(5, 8).withColumnRenamed("id", "x"), path, "append")   # v1
    minitable.write(spark, minitable.read(spark, path, 1), path, "overwrite")                # v2 compaction
    minitable.write(spark, spark.range(8, 10).withColumnRenamed("id", "x"), path, "append")  # v3
    assert sorted(r["x"] for r in minitable.changes(spark, path, 0, 1).collect()) == [5, 6, 7]
    assert sorted(r["x"] for r in minitable.changes(spark, path, 2, 3).collect()) == [8, 9]
    with pytest.raises(ValueError, match="overwrite"):
        minitable.changes(spark, path, 0, 3)


def test_minitable_vacuum_refuses_uncommitted_retention_bound(spark, tmp_path):
    """A retain_from_version that is not a committed version (e.g. a
    typo above the head) must refuse rather than retain nothing and
    delete the live snapshot's files."""
    import pytest

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    minitable.write(spark, spark.range(3).withColumnRenamed("id", "x"), path, "overwrite")
    with pytest.raises(ValueError, match="refusing"):
        minitable.vacuum(path, retain_from_version=99)
    assert minitable.read(spark, path).count() == 3  # nothing was deleted


def test_minitable_empty_change_feed_is_empty_not_error(spark, tmp_path):
    """A version range whose appends added no files is a legitimate
    quiet period: the feed is an EMPTY DataFrame typed like the table,
    not an exception."""
    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    minitable.write(spark, spark.range(3).withColumnRenamed("id", "x"), path, "overwrite")  # v0
    minitable.commit(path, "append", [])  # v1: empty micro-batch
    feed = minitable.changes(spark, path, 0, 1)
    assert feed.count() == 0
    assert feed.schema.fieldNames() == ["x"]


def _clustered_table(spark, tmp_path, n=1000, files=4):
    """A key-clustered minitable with per-file o-key stats: k 0..n-1
    range-partitioned into `files` parts, columns (k, v, name)."""
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        F.concat(F.lit("s"), F.lpad(F.col("id").cast("string"), 4, "0")).alias("name"),
    )
    minitable.write(
        spark,
        df.repartitionByRange(files, "k"),
        path,
        "overwrite",
        stats_cols=["k", "name"],
    )
    return path


def test_minitable_scan_prunes_files(spark, tmp_path):
    """Data skipping: a narrow range predicate keeps only the files
    whose commit-log [min,max] admit matches, and the scan's values
    equal the unpruned filter exactly (pruning is an optimization,
    never the correctness boundary).  String-column stats prune too."""
    from tinymr_spark.sources import minitable

    path = _clustered_table(spark, tmp_path)
    kept, total = minitable.prune(path, [("k", "<=", 100)])
    assert total == 4 and len(kept) == 1, (kept, total)
    got = sorted(r["k"] for r in minitable.scan(spark, path, [("k", "<=", 100)]).collect())
    assert got == list(range(101))
    # provably-empty scan: zero files, typed like the table
    empty = minitable.scan(spark, path, [("k", ">", 10**6)])
    assert empty.count() == 0 and empty.columns == ["k", "v", "name"]
    # string stats: names are zero-padded so lexicographic == numeric order
    kept_s, _ = minitable.prune(path, [("name", ">=", "s0750")])
    assert len(kept_s) == 1
    # a column with no recorded stats keeps every file (conservative)
    kept_v, _ = minitable.prune(path, [("v", "<=", 0)])
    assert len(kept_v) == 4


def test_minitable_merge_upsert_delete_insert(spark, tmp_path):
    """MERGE three-clause semantics plus the two-phase file pruning:
    only files holding MATCHED rows are rewritten (out-of-range inserts
    force no rewrite), history stays time-travelable, and the merge
    commit re-records stats so later scans still skip."""
    import json

    import pytest
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    path = _clustered_table(spark, tmp_path)
    src = spark.range(10, 21).select(
        F.col("id").alias("k"), F.lit(-1).alias("v"), F.lit("upd").alias("name")
    ).union(
        spark.range(2000, 2003).select(
            F.col("id").alias("k"), F.lit(9).alias("v"), F.lit("new").alias("name")
        )
    )
    mv = minitable.merge(spark, src, path, "k", delete_where="k = 15")
    rec = json.load(open(minitable._version_file(path, mv)))
    # keys 10..20 live in ONE of the four range files; the 2000+ inserts
    # match nothing — exactly one file is rewritten
    assert len(rec["removed"]) == 1, rec["removed"]
    out = minitable.read(spark, path)
    assert out.count() == 1000 - 1 + 3
    assert out.filter("k = 15").count() == 0  # matched + delete_where
    assert out.filter("name = 'upd'").count() == 10  # matched -> source row
    assert out.filter("k >= 2000").count() == 3  # not matched -> insert
    assert out.filter("k = 500").select("name").first()[0] == "s0500"  # untouched
    assert minitable.read(spark, path, 0).count() == 1000  # time travel intact
    # merge commits carry stats: post-merge scans keep pruning
    kept, total = minitable.prune(path, [("k", ">=", 750)])
    assert len(kept) < total
    # a pure-insert merge (all keys beyond range) rewrites nothing
    src2 = spark.range(5000, 5002).select(
        F.col("id").alias("k"), F.lit(0).alias("v"), F.lit("x").alias("name")
    )
    rec2 = json.load(open(minitable._version_file(path, minitable.merge(spark, src2, path, "k"))))
    assert rec2["removed"] == []
    # change feed refuses to span a merge (its files carry old rows)
    with pytest.raises(ValueError, match="merge"):
        minitable.changes(spark, path, 0, mv)
    # duplicate source keys are an ambiguous upsert: refuse loudly
    with pytest.raises(ValueError, match="duplicate"):
        minitable.merge(spark, src2.union(src2), path, "k")


def test_minitable_bloom_skipping_on_unclustered_column(spark, tmp_path):
    """Per-file bloom filters skip point lookups on a column the file
    clustering scatters (range stats keep everything there); results
    stay exact because blooms are false-positive-only."""
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    # cluster by k; g is k itself on a few sparse rows and -1 elsewhere,
    # so any specific positive g lives in exactly one file while every
    # file's g-range spans [-1, ...] uselessly for point lookups
    path2 = str(tmp_path / "t2")
    df2 = spark.range(2000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 500 == 0, F.col("id")).otherwise(F.lit(-1)).alias("g"),
    )
    minitable.write(
        spark,
        df2.repartitionByRange(8, "k"),
        path2,
        "overwrite",
        bloom_cols=["g"],
    )
    # g=1500 exists in exactly one file (k=1500's); every file's bloom
    # contains -1 and its own sparse values only
    kept, total = minitable.prune(path2, [("g", "=", 1500)])
    assert total == 8 and len(kept) == 1, (kept, total)
    got = [r["k"] for r in minitable.scan(spark, path2, [("g", "=", 1500)]).collect()]
    assert got == [1500]
    # absent value: bloom proves absence everywhere -> zero files, empty
    kept0, _ = minitable.prune(path2, [("g", "=", 1501)])
    assert kept0 == []
    assert minitable.scan(spark, path2, [("g", "=", 1501)]).count() == 0
    # bloom columns carry footer range stats too: g >= 0 range-prunes
    # the files whose every g is -1 (blooms themselves only serve "=")
    kept_r, _ = minitable.prune(path2, [("g", ">=", 0)])
    assert len(kept_r) == 4
    got_r = sorted(r["k"] for r in minitable.scan(spark, path2, [("g", ">=", 0)]).collect())
    assert got_r == [0, 500, 1000, 1500]


def test_minitable_stream_source_restart_streams_only_delta(spark, tmp_path):
    """The minitable streaming source's checkpoint-replay contract:
    run 1 drains the current snapshot (versions up to the head); after
    new append commits, a restart from the SAME checkpoint streams ONLY
    the delta versions — no duplicates, no loss.  An overwrite in the
    un-consumed range fails loudly instead of replaying rewritten rows."""
    import pytest
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable, minitable_stream

    minitable_stream.register(spark)
    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    minitable.write(spark, spark.range(0, 5).select(F.col("id").alias("k")), path, "append")
    minitable.write(spark, spark.range(5, 8).select(F.col("id").alias("k")), path, "append")

    got: list[int] = []

    def drain() -> list[int]:
        batch_rows: list[int] = []

        def sink(df, _bid):
            batch_rows.extend(r["k"] for r in df.collect())

        q = (
            spark.readStream.format("tinymr_minitable_stream")
            .option("path", path)
            .option("columns", "k")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return batch_rows

    got = drain()
    assert sorted(got) == list(range(8))  # initial snapshot: both commits
    # quiet restart: nothing new, nothing replayed
    assert drain() == []
    # delta restart: only the new commit's rows stream
    minitable.write(spark, spark.range(8, 10).select(F.col("id").alias("k")), path, "append")
    assert sorted(drain()) == [8, 9]
    # an overwrite poisons the un-consumed range loudly
    minitable.write(spark, minitable.read(spark, path), path, "overwrite")
    with pytest.raises(Exception, match="overwrite"):
        drain()


def test_minitable_optimize_binpacks_only_small_files(spark, tmp_path):
    """optimize() rewrites only sub-threshold files (bin-packed, one
    merge commit), leaves healthy files untouched, preserves rows and
    history, and no-ops (None) when fewer than two small files exist."""
    import os

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    big = spark.range(20000).withColumnRenamed("id", "x").coalesce(1)
    minitable.write(spark, big, path, "overwrite", stats_cols=["x"])   # v0
    for i in range(5):                                                  # v1..v5
        small = spark.range(20000 + 40 * i, 20040 + 40 * i).withColumnRenamed("id", "x")
        minitable.write(spark, small.coalesce(1), path, "append", stats_cols=["x"])
    pre = minitable.snapshot(path)
    sizes = {f: os.path.getsize(f) for f in pre}
    cut = max(sizes.values()) // 2
    small_total = sum(sz for sz in sizes.values() if sz < cut)
    res = minitable.optimize(
        spark, path, small_bytes=cut, target_bytes=(small_total * 11) // 20,
        stats_cols=["x"],
    )
    assert res is not None and res["n_small"] == 5 and res["n_bins"] >= 2
    post = minitable.snapshot(path)
    healthy = {f for f in pre if sizes[f] >= cut}
    assert healthy <= set(post), "optimize rewrote a healthy file"
    assert not (set(pre) - healthy) & set(post), "a small file survived"
    assert len(post) == len(healthy) + res["n_bins"]
    # rows identical before/after; history (v5) still plans the originals
    assert minitable.read(spark, path).count() == 20200
    assert sorted(r["x"] for r in minitable.changes(spark, path, 0, 5).collect()) == \
        list(range(20000, 20200))
    assert set(minitable.snapshot(path, 5)) == set(pre)
    # packed files carry stats: a point scan beyond the big range prunes it
    kept, total = minitable.prune(path, [("x", ">=", 20150)])
    assert total == len(post) and len(kept) < len(post)
    # idempotent-ish: everything is now healthy or a lone bin -> no-op
    sizes2 = [os.path.getsize(f) for f in minitable.snapshot(path)]
    assert minitable.optimize(spark, path, small_bytes=min(sizes2), target_bytes=1 << 30) is None


def test_minitable_delete_three_cost_tiers(spark, tmp_path):
    """delete() drops provably-all-matching files whole (no rewrite),
    rewrites only straddling files that actually hold matches, leaves
    provably-unmatching files untouched, keeps history, and no-ops
    (None, no version) when nothing can match."""
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    df = spark.range(1000).withColumnRenamed("id", "x").withColumn("y", F.col("x") * 2)
    minitable.write(
        spark, df.repartitionByRange(10, "x"), path, "overwrite", stats_cols=["x"]
    )  # v0: files cover x ranges of ~100 each
    pre = minitable.snapshot(path)
    res = minitable.delete(spark, path, [("x", "<", 250)], stats_cols=["x"])
    assert res is not None
    v, s = res
    assert v == 1
    assert s["dropped_whole"] >= 1, s          # files fully under 250
    assert s["rewritten"] == 1, s              # exactly the straddling file
    assert s["untouched"] >= 7, s
    assert len(minitable.snapshot(path)) == s["untouched"] + s["rewritten"]
    got = sorted(r["x"] for r in minitable.read(spark, path).collect())
    assert got == list(range(250, 1000))
    # row payloads survive the rewrite intact
    assert minitable.read(spark, path).where("y != x * 2").count() == 0
    # history: v0 still reads the full original file set
    assert set(minitable.snapshot(path, 0)) == set(pre)
    assert minitable.read(spark, path, 0).count() == 1000
    # nothing-can-match predicates commit nothing
    assert minitable.delete(spark, path, [("x", ">=", 10_000)], stats_cols=["x"]) is None
    assert minitable.versions(path) == [0, 1]


def test_minitable_skipping_invariants_fuzzed():
    """Property-pin the two stats deciders against brute force: a file
    pruned by _file_survives holds NO matching row (skipping is never a
    correctness boundary), and a file passed by _file_fully_matches
    holds ONLY matching rows (the whole-drop fast path never deletes a
    survivor).  Both one-sided: conservatism (keeping/rewriting too
    much) is allowed, wrongness is not."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from tinymr_spark.sources.minitable import _file_fully_matches, _file_survives

    ops = st.sampled_from(["<", "<=", ">", ">=", "="])
    pred = st.tuples(st.just("x"), ops, st.integers(-20, 20))

    @settings(max_examples=300, deadline=None)
    @given(
        vals=st.lists(
            st.one_of(st.integers(-20, 20), st.none()), min_size=1, max_size=12
        ).filter(lambda vs: any(v is not None for v in vs)),
        where=st.lists(pred, min_size=1, max_size=4),
        legacy=st.booleans(),
    )
    def check(vals, where, legacy):
        nonnull = [v for v in vals if v is not None]
        n_null = len(vals) - len(nonnull)
        rng = [min(nonnull), max(nonnull)]
        # legacy commits wrote bare [lo, hi]; current ones add the null
        # count — both shapes must stay one-sided correct
        stats = {"x": rng if legacy else {"range": rng, "nulls": n_null}}

        def row_matches(v):
            if v is None:
                return False  # SQL: NULL never matches a comparison
            return all(
                {"<": v < c, "<=": v <= c, ">": v > c, ">=": v >= c, "=": v == c}[op]
                for _col, op, c in where
            )

        any_match = any(row_matches(v) for v in vals)
        all_match = all(row_matches(v) for v in vals)
        if not _file_survives(stats, where):
            assert not any_match, (vals, where)
        if _file_fully_matches(stats, where):
            assert all_match, (vals, where, legacy)
        # missing stats must stay conservative on both sides
        assert _file_survives(None, where) is True
        assert _file_fully_matches(None, where) is False

    check()

def test_minitable_delete_keeps_null_predicate_rows(spark, tmp_path):
    """SQL DELETE WHERE does not match NULL-predicate rows, so they must
    survive BOTH delete paths: the whole-file drop (parquet min/max
    ignore nulls — only a proven null_count == 0 allows the drop) and
    the straddle rewrite (~cond must coalesce NULL to 'keep')."""
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    # x in 0..99 plus NULL rows carried as y-only markers in every file:
    # nullify x on multiples of 10 so each range file holds NULLs.
    df = (
        spark.range(100)
        .select(
            F.when(F.col("id") % 10 != 0, F.col("id")).alias("x"),
            F.col("id").alias("y"),
        )
        .repartitionByRange(5, "y")
    )
    minitable.write(spark, df, path, "overwrite", stats_cols=["x"])
    res = minitable.delete(spark, path, [("x", "<", 50)], stats_cols=["x"])
    assert res is not None
    got = minitable.read(spark, path)
    # survivors: x >= 50, plus EVERY NULL-x row (ids 0,10,...,90)
    assert got.where(F.col("x").isNull()).count() == 10
    ys = sorted(r["y"] for r in got.collect())
    assert ys == sorted(
        [i for i in range(100) if i % 10 == 0] + [i for i in range(50, 100) if i % 10 != 0]
    )


def test_minitable_delete_whole_drop_still_fires_without_nulls(spark, tmp_path):
    """The null guard must not tax the common case: a null-free clustered
    delete still drops whole files with no rewrite."""
    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    df = spark.range(1000).withColumnRenamed("id", "x")
    minitable.write(
        spark, df.repartitionByRange(10, "x"), path, "overwrite", stats_cols=["x"]
    )
    res = minitable.delete(spark, path, [("x", "<", 200)], stats_cols=["x"])
    assert res is not None
    _v, s = res
    assert s["dropped_whole"] >= 1, s
    assert minitable.read(spark, path).count() == 800


def test_minitable_merge_null_delete_where_updates(spark, tmp_path):
    """A NULL delete_where on a matched row falls through to UPDATE
    (Delta semantics) — the row must not vanish."""
    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    tgt = spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)], "k int, v double")
    minitable.write(spark, tgt, path, "overwrite", stats_cols=["k"])
    # source: k=1 flag NULL (update), k=2 flag true (delete), k=4 insert
    src = spark.createDataFrame(
        [(1, 11.0), (2, 22.0), (4, 44.0)], "k int, v double"
    )
    minitable.merge(
        spark,
        src,
        path,
        "k",
        delete_where="CASE WHEN k = 1 THEN CAST(NULL AS BOOLEAN) ELSE k = 2 END",
    )
    rows = {r["k"]: r["v"] for r in minitable.read(spark, path).collect()}
    assert rows == {1: 11.0, 3: 30.0, 4: 44.0}  # 1 updated, 2 deleted, 4 inserted


def test_minitable_bloom_and_range_literal_type_coercion(spark, tmp_path):
    """Numerically-equal literals of different Python types must not
    prove absence: a float/Decimal 5.0 probe against an int column keeps
    (and finds) the matching file; an incomparable str literal keeps the
    file conservatively instead of raising TypeError."""
    from decimal import Decimal

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    df = spark.range(100).withColumnRenamed("id", "x")
    minitable.write(
        spark, df.repartitionByRange(4, "x"), path, "overwrite",
        stats_cols=["x"], bloom_cols=["x"],
    )
    for probe in (5, 5.0, Decimal("5.0")):
        kept, total = minitable.prune(path, [("x", "=", probe)])
        assert len(kept) == 1, (probe, len(kept), total)
        assert minitable.scan(spark, path, [("x", "=", probe)]).count() == 1, probe
    # incomparable literal: conservative (all files kept), not TypeError
    kept, total = minitable.prune(path, [("x", "<", "zzz")])
    assert len(kept) == total


def test_minitable_vacuum_spares_recent_unreferenced_files(spark, tmp_path):
    """vacuum must not destroy a concurrent writer's staged-but-not-yet-
    committed files (write-before-commit barrier): never-referenced
    parquet younger than the grace window survives; a stale crash orphan
    and superseded COMMITTED files are still collected."""
    import os

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    minitable.write(spark, spark.range(5).withColumnRenamed("id", "x"), path, "overwrite")  # v0
    minitable.write(spark, minitable.read(spark, path, 0), path, "overwrite")  # v1 compaction
    # simulate an in-flight writer: staged files, commit not yet published
    staged = minitable._stage(spark.range(3).withColumnRenamed("id", "x"), path)
    # and a stale crash orphan from long ago
    orphan_dir = os.path.join(path, "part-stale")
    os.makedirs(orphan_dir)
    spark.range(2).withColumnRenamed("id", "x").write.mode("overwrite").parquet(orphan_dir)
    old = 0
    for root, _d, files in os.walk(orphan_dir):
        for f in files:
            if f.endswith(".parquet"):
                os.utime(os.path.join(root, f), (1, 1))
                old += 1
    assert old >= 1
    deleted = minitable.vacuum(path, retain_from_version=1, orphan_grace_seconds=3600)
    assert all(not d.startswith(staged[0].split("/")[0]) for d in deleted), deleted
    assert any(d.startswith("part-stale/") for d in deleted), deleted
    assert deleted, "v0's superseded committed files must still be vacuumed"
    for rel in staged:
        assert os.path.exists(os.path.join(path, rel))  # retry still valid
    # the in-flight writer can now land its commit and be read
    v = minitable.commit(path, "append", staged)
    assert minitable.read(spark, path, v).count() == 8


def test_minitable_stream_source_snapshot_over_rewritten_history(spark, tmp_path):
    """A table initialized by an OVERWRITE (q162/q167's init pattern)
    must stream: the initial batch is the snapshot at the current head —
    even across a pre-subscription compaction — then purely incremental."""
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable, minitable_stream

    minitable_stream.register(spark)
    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    minitable.write(spark, spark.range(0, 6).select(F.col("id").alias("k")), path, "overwrite")
    minitable.write(spark, minitable.read(spark, path, 0), path, "overwrite")  # compaction

    def drain() -> list[int]:
        rows: list[int] = []

        def sink(df, _bid):
            rows.extend(r["k"] for r in df.collect())

        q = (
            spark.readStream.format("tinymr_minitable_stream")
            .option("path", path)
            .option("columns", "k")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return rows

    assert sorted(drain()) == list(range(6))  # snapshot despite overwrites
    assert drain() == []
    minitable.write(spark, spark.range(6, 9).select(F.col("id").alias("k")), path, "append")
    assert sorted(drain()) == [6, 7, 8]  # incremental from then on


def test_minitable_log_checkpoint_bounds_replay(spark, tmp_path):
    """Commit-log checkpointing: after K appends, a read replays O(tail)
    version records from the newest checkpoint, not O(K) from v0;
    auto-checkpoints land every AUTO_CHECKPOINT_INTERVAL commits; AS-OF
    reads before the first checkpoint (and checkpointed reads) resolve
    the EXACT same file lists as a from-scratch replay."""
    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    for i in range(25):  # v0..v24
        minitable.write(
            spark,
            spark.range(i * 10, i * 10 + 10).withColumnRenamed("id", "x").coalesce(1),
            path,
            "append",
        )
    assert minitable.checkpoint_versions(path) == [10, 20]

    before = minitable._replay_opens
    live = minitable._live_entries(path)
    opens = minitable._replay_opens - before
    assert opens == 4, opens  # ckpt at 20 + tail v21..v24
    assert len(live) == 25

    # from-scratch replay (checkpoints hidden) must agree exactly — the
    # WHOLE state, every field — for the head AND for historical
    # versions on both sides of a ckpt
    def assert_forward_equals_scratch(p, vs):
        real = minitable.checkpoint_versions
        try:
            minitable.checkpoint_versions = lambda _p: []
            scratch = {v: minitable._replay(p, v) for v in vs}
        finally:
            minitable.checkpoint_versions = real
        for v, want in scratch.items():
            assert minitable._replay(p, v) == want, v

    assert_forward_equals_scratch(path, (5, 10, 17, 24))

    # the log-state fields too: a table recording partition_by,
    # identity_hwm and cluster_by, then an overwrite that resets them,
    # with checkpoints before and after the reset
    lay = str(tmp_path / "lay")

    def batch(lo):
        return spark.range(lo, lo + 6).select(
            F.col("id").alias("k"),
            (F.col("id") % 2).cast("string").alias("p"),
            (F.col("id") * 1.5).alias("v"),
        )

    minitable.write(spark, batch(0), lay, "overwrite", partition_by=["p"],
                    identity={"rid": (1, 1)})  # v0
    minitable.write(spark, batch(6), lay, "append")  # v1 inherits the layout
    minitable.zorder(spark, lay, by=["k", "v"], n_files=2)  # v2 records keys
    minitable.checkpoint(lay)  # ckpt at v2 carries all three
    minitable.write(spark, batch(12), lay, "append")  # v3
    minitable.write(spark, batch(0).drop("p"), lay, "overwrite")  # v4 resets
    minitable.checkpoint(lay)  # ckpt at v4: authoritative defaults
    minitable.write(spark, batch(6).drop("p"), lay, "append")  # v5
    at = {v: minitable._replay(lay, v) for v in range(6)}
    assert at[3].partition_by == ["p"] and at[3].cluster_by == ["k", "v"]
    assert at[3].identity_hwm == {"rid": 18}
    for v in (4, 5):
        assert (at[v].partition_by, at[v].cluster_by, at[v].identity_hwm) == (
            None, None, {}
        ), v
    assert minitable.table_partition_by(lay, 1) == ["p"]
    assert minitable.table_cluster_by(lay, 1) is None
    assert minitable.table_identity_hwm(lay, 1) == {"rid": 12}
    assert_forward_equals_scratch(lay, range(6))

    # AS-OF before the first checkpoint replays v0..v5 (6 opens), exact
    before = minitable._replay_opens
    assert minitable.read(spark, path, 5).count() == 60
    assert minitable._replay_opens - before == 6

    # an overwrite AFTER a checkpoint replaces the checkpointed set
    minitable.write(spark, minitable.read(spark, path).limit(7), path, "overwrite")
    assert minitable.read(spark, path).count() == 7

    # explicit checkpoint at the new head; reads now open 0 records
    minitable.checkpoint(path)
    before = minitable._replay_opens
    assert minitable.read(spark, path).count() == 7
    assert minitable._replay_opens - before == 0

    # a checkpoint at an unknown version refuses loudly
    import pytest

    with pytest.raises(ValueError, match="no version"):
        minitable.checkpoint(path, 99)


def test_minitable_schema_evolution_add_column(spark, tmp_path):
    """ADD COLUMN as a commit-log action: an additive append with
    merge_schema=True establishes the union schema; old files serve NULL
    for the new column; AS-OF reads before the change serve the OLD
    schema; merge/delete rewrites preserve the union; non-additive or
    unflagged mismatches raise."""
    import pytest
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    v0 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, v double")
    minitable.write(spark, v0, path, "overwrite", stats_cols=["k"])

    # unflagged mismatch refuses
    with_flag = spark.createDataFrame([(3, 30.0, "x")], "k int, v double, tag string")
    with pytest.raises(ValueError, match="merge_schema"):
        minitable.write(spark, with_flag, path, "append")
    # type change refuses even with the flag
    bad = spark.createDataFrame([(3, "oops")], "k int, v string")
    with pytest.raises(ValueError, match="ADD COLUMN"):
        minitable.write(spark, bad, path, "append", merge_schema=True)

    minitable.write(spark, with_flag, path, "append", merge_schema=True)  # v1
    head = minitable.read(spark, path)
    assert head.columns == ["k", "v", "tag"]
    rows = {r["k"]: (r["v"], r["tag"]) for r in head.collect()}
    assert rows == {1: (10.0, None), 2: (20.0, None), 3: (30.0, "x")}
    # AS-OF before the evolution serves the old two-column schema
    old = minitable.read(spark, path, 0)
    assert old.columns == ["k", "v"]

    # an append MISSING the new column still lands (nulls fill on read)
    minitable.write(
        spark,
        spark.createDataFrame([(4, 40.0)], "k int, v double"),
        path,
        "append",
        merge_schema=True,
    )  # v2
    assert minitable.read(spark, path).where(F.col("tag").isNull()).count() == 3

    # MERGE preserves the union schema across pre-evolution target files
    src = spark.createDataFrame([(1, 11.0, "y"), (5, 50.0, None)], "k int, v double, tag string")
    minitable.merge(spark, src, path, "k")  # v3
    merged = {r["k"]: (r["v"], r["tag"]) for r in minitable.read(spark, path).collect()}
    assert merged == {
        1: (11.0, "y"), 2: (20.0, None), 3: (30.0, "x"), 4: (40.0, None), 5: (50.0, None)
    }
    # DELETE's rewrite keeps the evolved column
    minitable.delete(spark, path, [("k", "<=", 2)], stats_cols=["k"])  # v4
    after = minitable.read(spark, path)
    assert after.columns == ["k", "v", "tag"]
    assert sorted(r["k"] for r in after.collect()) == [3, 4, 5]
    # history before the delete still serves all five with union schema
    assert minitable.read(spark, path, 3).count() == 5
    # a checkpoint folds the schema and reads stay identical through it
    minitable.checkpoint(path)
    again = minitable.read(spark, path)
    assert again.columns == ["k", "v", "tag"]
    assert sorted(r["k"] for r in again.collect()) == [3, 4, 5]


def test_minitable_change_feed_with_removes(spark, tmp_path):
    """change_feed() emits row-level _change_type rows across the full
    DML surface: appends -> inserts; CDF-opted merges -> explicit
    update pre/post images + deletes + inserts; predicate DELETEs ->
    deletes reconstructed from the removed files; OPTIMIZE
    (data_change=false) -> nothing; and replaying the feed over the
    starting snapshot reproduces the ending snapshot exactly."""
    import pytest
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    base = spark.createDataFrame([(k, k * 10.0) for k in range(1, 7)], "k int, v double")
    minitable.write(spark, base, path, "overwrite", stats_cols=["k"])            # v0
    minitable.write(
        spark,
        spark.createDataFrame([(7, 70.0), (8, 80.0)], "k int, v double"),
        path, "append", stats_cols=["k"],
    )                                                                             # v1
    src = spark.createDataFrame([(1, 999.0), (2, 20.0), (9, 90.0)], "k int, v double")
    minitable.merge(spark, src, path, "k", delete_where="k = 2", collect_cdf=True)  # v2
    minitable.delete(spark, path, [("k", "<=", 3)], stats_cols=["k"])             # v3
    minitable.optimize(spark, path, small_bytes=1 << 20, target_bytes=1 << 22)    # v4

    feed = minitable.change_feed(spark, path, 0, 4)
    assert set(feed.columns) == {"k", "v", "_change_type", "_commit_version"}
    by = {
        (r["_commit_version"], r["_change_type"], r["k"]): r["v"]
        for r in feed.collect()
    }
    assert by == {
        (1, "insert", 7): 70.0, (1, "insert", 8): 80.0,
        (2, "update_preimage", 1): 10.0, (2, "update_postimage", 1): 999.0,
        (2, "delete", 2): 20.0, (2, "insert", 9): 90.0,
        (3, "delete", 1): 999.0, (3, "delete", 3): 30.0,
    }

    # feed-replay invariant: v0 snapshot + ordered feed == v4 snapshot
    state = {r["k"]: r["v"] for r in minitable.read(spark, path, 0).collect()}
    for (cv, ct, k), v in sorted(by.items()):
        if ct in ("insert", "update_postimage"):
            state[k] = v
        elif ct == "delete":
            state.pop(k)
    want = {r["k"]: r["v"] for r in minitable.read(spark, path, 4).collect()}
    assert state == want

    # a partial range sees only its versions
    assert {r["_commit_version"] for r in minitable.change_feed(spark, path, 2, 4).collect()} == {3}

    # legacy changes() keeps its append-only restriction
    with pytest.raises(ValueError, match="merge"):
        minitable.changes(spark, path, 0, 4)
    # an overwrite in range still refuses
    minitable.write(spark, minitable.read(spark, path), path, "overwrite")        # v5
    with pytest.raises(ValueError, match="overwrite"):
        minitable.change_feed(spark, path, 4, 5)
    # a legacy merge without predicate/cdf refuses
    path2 = str(tmp_path / "t2")
    minitable.write(spark, base, path2, "overwrite", stats_cols=["k"])
    minitable.merge(spark, src, path2, "k")  # no collect_cdf
    with pytest.raises(ValueError, match="neither"):
        minitable.change_feed(spark, path2, 0, 1)


def test_minitable_concurrent_writers_serializable(spark, tmp_path, monkeypatch):
    """Optimistic concurrency under real contention (Delta's conflict
    rules): merge/delete claim readVersion+1, so an interleaved commit
    is NEVER silently absorbed.  Disjoint-scope writers auto-rebase and
    both land; a concurrent append that may hold rows in our scope, a
    write-write on the same files, and an overwrite all raise
    CommitConflict deterministically."""
    import pytest
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    def fresh(path):
        df = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
        )
        minitable.write(
            spark, df.repartitionByRange(10, "k"), path, "overwrite", stats_cols=["k"]
        )
        return path

    real_commit = minitable.commit

    def interleave(builder):
        """Patch commit so the FIRST merge-claim is preceded by another
        writer's commit landing — the claimed slot is taken."""
        state = {"fired": False}

        def racing(path, action, added, **kw):
            if not state["fired"] and kw.get("expected_version") is not None:
                state["fired"] = True
                builder(path)
            return real_commit(path, action, added, **kw)

        monkeypatch.setattr(minitable, "commit", racing)

    def unpatch():
        monkeypatch.setattr(minitable, "commit", real_commit)

    # 1. DISJOINT writers both land: intervening append covers k >= 5000,
    #    our merge touches k < 100 — auto-rebase, no error.
    path = fresh(str(tmp_path / "t1"))

    def other_append(p):
        df = spark.range(5000, 5100).select(
            F.col("id").alias("k"), F.lit(0.0).alias("v")
        )
        minitable.write(spark, df.coalesce(1), p, "append", stats_cols=["k"])

    interleave(other_append)
    src = spark.createDataFrame([(1, 111.0), (50, 555.0)], "k bigint, v double")
    v = minitable.merge(spark, src, path, "k")
    unpatch()
    # v0 table; interloper took v1; merge's claim of v1 conflicted,
    # rebase found the scopes disjoint and landed at v2
    assert v == 2
    got = {r["k"]: r["v"] for r in minitable.read(spark, path).collect()}
    assert got[1] == 111.0 and got[50] == 555.0 and got[5050] == 0.0
    assert len(got) == 1100  # 1000 base + 100 interloper; merges updated in place

    # 2. OVERLAPPING append conflicts deterministically.
    path = fresh(str(tmp_path / "t2"))

    def overlapping_append(p):
        df = spark.range(40, 60).select(F.col("id").alias("k"), F.lit(9.0).alias("v"))
        minitable.write(spark, df.coalesce(1), p, "append", stats_cols=["k"])

    interleave(overlapping_append)
    with pytest.raises(minitable.CommitConflict, match="concurrent append"):
        minitable.merge(spark, src, path, "k")
    unpatch()

    # 3. WRITE-WRITE on the same files conflicts.
    path = fresh(str(tmp_path / "t3"))

    def other_delete(p):
        minitable.delete(spark, p, [("k", "<", 30)], stats_cols=["k"])

    interleave(other_delete)
    with pytest.raises(minitable.CommitConflict, match="write-write|touched files"):
        minitable.merge(spark, src, path, "k")
    unpatch()

    # 4. OVERWRITE in between conflicts.
    path = fresh(str(tmp_path / "t4"))

    def other_overwrite(p):
        minitable.write(spark, minitable.read(spark, p), p, "overwrite")

    interleave(other_overwrite)
    with pytest.raises(minitable.CommitConflict, match="overwrite"):
        minitable.delete(spark, path, [("k", "<", 10)], stats_cols=["k"])
    unpatch()


def test_minitable_stream_source_serves_evolved_schema(spark, tmp_path):
    """Streaming an evolved table: the source's planning schema comes
    from the LOG's schema record, so an evolved column types correctly
    even though the first live file predates it, and pre-evolution files
    serve NULL for it."""
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable, minitable_stream

    minitable_stream.register(spark)
    path = str(tmp_path / "t")
    minitable.write(
        spark,
        spark.range(3).select(F.col("id").alias("k")),
        path,
        "append",
    )
    minitable.write(
        spark,
        spark.range(3, 5).select(F.col("id").alias("k"), (F.col("id") * 1.5).alias("w")),
        path,
        "append",
        merge_schema=True,
    )
    rows: list[tuple] = []

    def sink(df, _bid):
        rows.extend((r["k"], r["w"]) for r in df.collect())

    q = (
        spark.readStream.format("tinymr_minitable_stream")
        .option("path", path)
        .option("columns", "k,w")
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(rows) == [(0, None), (1, None), (2, None), (3, 4.5), (4, 6.0)]


def test_minitable_restore_rolls_back_schema_and_refuses_vacuumed(spark, tmp_path):
    """restore() re-records the target version's schema (a rollback
    across an ADD COLUMN rolls the schema timeline back too), restoring
    a restore round-trips, and a vacuumed target refuses loudly."""
    import pytest
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    minitable.write(
        spark, spark.createDataFrame([(1, 1.0), (2, 2.0)], "k int, v double"),
        path, "overwrite",
    )  # v0
    minitable.write(
        spark, spark.createDataFrame([(3, 3.0, "x")], "k int, v double, tag string"),
        path, "append", merge_schema=True,
    )  # v1: evolution
    assert minitable.read(spark, path).columns == ["k", "v", "tag"]
    v = minitable.restore(path, 0)  # v2: roll back across the evolution
    assert v == 2
    assert minitable.read(spark, path).columns == ["k", "v"]
    assert minitable.read(spark, path).count() == 2
    # the evolved version stays readable AS-OF
    assert minitable.read(spark, path, 1).columns == ["k", "v", "tag"]
    # restoring the restore round-trips
    minitable.restore(path, 1)  # v3
    got = {r["k"]: r["tag"] for r in minitable.read(spark, path).collect()}
    assert got == {1: None, 2: None, 3: "x"}
    # a vacuumed target refuses: land fresh data (v4), destroy all prior
    # history, then try to restore into it
    minitable.write(
        spark, spark.createDataFrame([(9, 9.0, "z")], "k int, v double, tag string"),
        path, "overwrite",
    )  # v4
    deleted = minitable.vacuum(path, retain_from_version=4)
    assert deleted, "v0-v3's files are unreferenced by v4 and must vacuum"
    with pytest.raises(ValueError, match="vacuumed"):
        minitable.restore(path, 0)
    # the live snapshot still reads
    assert minitable.read(spark, path).where(F.col("k") == 9).count() == 1


def test_minitable_optimize_is_serializable_and_stream_survives_it(spark, tmp_path, monkeypatch):
    """Review findings r8: (a) OPTIMIZE claims readVersion+1 — a
    concurrent DELETE landing mid-compaction conflicts instead of having
    its deleted rows resurrected by the packed bins; a concurrent APPEND
    auto-rebases (row-invariant reorganizations commute).  (b) A
    data_change=false commit must not kill a live stream or an
    append-only changes() feed — both skip it."""
    import pytest
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable, minitable_stream

    real_commit = minitable.commit

    def interleave(builder):
        state = {"fired": False}

        def racing(path, action, added, **kw):
            if not state["fired"] and kw.get("expected_version") is not None:
                state["fired"] = True
                builder(path)
            return real_commit(path, action, added, **kw)

        monkeypatch.setattr(minitable, "commit", racing)

    def fresh(path):
        for i in range(4):  # four small files
            minitable.write(
                spark,
                spark.range(i * 10, i * 10 + 10).withColumnRenamed("id", "k").coalesce(1),
                path, "append", stats_cols=["k"],
            )
        return path

    # (a1) concurrent DELETE conflicts: it removed a file optimize rewrites
    path = fresh(str(tmp_path / "t1"))
    interleave(lambda p: minitable.delete(spark, p, [("k", "<", 5)], stats_cols=["k"]))
    with pytest.raises(minitable.CommitConflict, match="touched files"):
        minitable.optimize(spark, path, small_bytes=1 << 20, target_bytes=1 << 22)
    monkeypatch.setattr(minitable, "commit", real_commit)
    # the delete's result is intact — nothing resurrected
    assert minitable.read(spark, path).count() == 35

    # (a2) concurrent APPEND auto-rebases; optimize lands after it
    path = fresh(str(tmp_path / "t2"))
    interleave(lambda p: minitable.write(
        spark, spark.range(100, 105).withColumnRenamed("id", "k").coalesce(1),
        p, "append", stats_cols=["k"],
    ))
    res = minitable.optimize(spark, path, small_bytes=1 << 20, target_bytes=1 << 22)
    monkeypatch.setattr(minitable, "commit", real_commit)
    assert res is not None
    assert minitable.read(spark, path).count() == 45  # 40 packed + 5 appended

    # (b) a live stream and changes() both skip the optimize commit
    minitable_stream.register(spark)
    ckpt = str(tmp_path / "ckpt")
    rows: list[int] = []

    def drain():
        batch: list[int] = []

        def sink(df, _bid):
            batch.extend(r["k"] for r in df.collect())

        q = (
            spark.readStream.format("tinymr_minitable_stream")
            .option("path", path).option("columns", "k").load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return batch

    assert len(drain()) == 45  # initial snapshot
    opt_v = minitable.versions(path)[-1]
    minitable.write(
        spark, spark.range(200, 203).withColumnRenamed("id", "k").coalesce(1),
        path, "append", stats_cols=["k"],
    )
    got = drain()  # range spans the post-optimize append only
    assert sorted(got) == [200, 201, 202]
    # changes() over a range spanning the optimize also skips it
    feed = minitable.changes(spark, path, opt_v - 1, opt_v + 1)
    assert sorted(r["k"] for r in feed.collect()) == [200, 201, 202]


def test_minitable_restore_resets_preschema_era_and_conflicts(spark, tmp_path, monkeypatch):
    """Review findings r8: restoring to a pre-schema-era version records
    an EXPLICIT null schema (reads fall back to inference over the old
    files instead of resolving a later record over them and returning
    all-NULL rows), and a commit racing in during restore surfaces as
    CommitConflict rather than being silently erased."""
    import pytest
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    # v0: LEGACY commit (raw _stage+commit — no schema record)
    staged = minitable._stage(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "a int, b double"), path
    )
    minitable.commit(path, "overwrite", staged)
    assert minitable.table_schema(path) is None
    # v1: modern write with DIFFERENT columns records a schema
    minitable.write(
        spark, spark.createDataFrame([(5, "x")], "c int, d string"), path, "overwrite"
    )
    # v2: restore to the pre-schema era — reads must serve (a, b) data
    minitable.restore(path, 0)
    got = {tuple(r) for r in minitable.read(spark, path).collect()}
    assert got == {(1, 10.0), (2, 20.0)}
    assert minitable.read(spark, path).columns == ["a", "b"]

    # racing commit during restore -> CommitConflict, nothing erased
    real_commit = minitable.commit
    state = {"fired": False}

    def racing(p, action, added, **kw):
        if not state["fired"] and kw.get("expected_version") is not None:
            state["fired"] = True
            minitable.write(
                spark,
                spark.createDataFrame([(9, 90.0)], "a int, b double"),
                p, "append",
            )
        return real_commit(p, action, added, **kw)

    monkeypatch.setattr(minitable, "commit", racing)
    with pytest.raises(minitable.CommitConflict):
        minitable.restore(path, 1)
    monkeypatch.setattr(minitable, "commit", real_commit)
    # the racing append survived
    assert minitable.read(spark, path).where(F.col("a") == 9).count() == 1


def test_minitable_deletion_vectors_lifecycle(spark, tmp_path):
    """delete_dv: merge-on-read DELETE — zero data files rewritten,
    matched rows recorded in a sidecar vector applied by readers as a
    broadcast anti join.  Covers: tier split (whole drops still fire,
    straddlers vectorize), read/scan correctness, AS-OF history,
    cumulative overlapping deletes, exact change-feed DIFF (no
    double-reporting), OPTIMIZE materializing the vectors, restore
    carrying DV state, checkpoint folding it, and vacuum retention."""
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    df = spark.range(1000).withColumnRenamed("id", "x").withColumn("y", F.col("x") * 3)
    minitable.write(
        spark, df.repartitionByRange(10, "x"), path, "overwrite", stats_cols=["x"]
    )  # v0: ~100-row range files
    data_files_v0 = set(minitable.snapshot(path))

    res = minitable.delete_dv(spark, path, [("x", "<", 250)])  # v1
    assert res is not None
    v, st = res
    assert v == 1
    assert st["dropped_whole"] >= 1, st
    assert st["vectorized"] == 1, st          # exactly the straddling file
    assert 0 < st["rows_marked"] < 100, st
    # zero data files rewritten: live set = v0 minus whole drops
    assert set(minitable.snapshot(path)) <= data_files_v0
    got = sorted(r["x"] for r in minitable.read(spark, path).collect())
    assert got == list(range(250, 1000))
    assert minitable.read(spark, path).where("y != x * 3").count() == 0
    # AS-OF v0 still reads everything
    assert minitable.read(spark, path, 0).count() == 1000
    # scan applies the vector too
    assert minitable.scan(spark, path, [("x", "<", 400)]).count() == 150

    # overlapping second delete accumulates (and re-marks nothing twice)
    res2 = minitable.delete_dv(spark, path, [("x", "<", 280)])  # v2
    assert res2 is not None
    assert sorted(r["x"] for r in minitable.read(spark, path).collect()) == list(range(280, 1000))

    # change feed: exact per-commit deletes, no double-report of overlap
    feed = minitable.change_feed(spark, path, 0, 2)
    by_v = {}
    for r in feed.collect():
        assert r["_change_type"] == "delete"
        by_v.setdefault(r["_commit_version"], []).append(r["x"])
    assert sorted(by_v[1]) == list(range(0, 250))
    assert sorted(by_v[2]) == list(range(250, 280))

    # OPTIMIZE materializes the vectors: rows unchanged, DVs gone
    assert minitable._replay(path)[2], "vectors live before optimize"
    minitable.optimize(spark, path, small_bytes=1 << 20, target_bytes=1 << 22)  # v3
    assert not minitable._replay(path)[2], "optimize must drop materialized DVs"
    assert sorted(r["x"] for r in minitable.read(spark, path).collect()) == list(range(280, 1000))

    # restore to v1 brings the v1 vector state back
    minitable.restore(path, 1)  # v4
    assert sorted(r["x"] for r in minitable.read(spark, path).collect()) == list(range(250, 1000))
    assert minitable._replay(path)[2], "restore must carry DV state"

    # a checkpoint folds DV state; reads stay identical through it
    minitable.checkpoint(path)
    assert sorted(r["x"] for r in minitable.read(spark, path).collect()) == list(range(250, 1000))

    # vacuum keeps the live vector files (they ARE the read path)
    deleted = minitable.vacuum(path, retain_from_version=4)
    assert sorted(r["x"] for r in minitable.read(spark, path).collect()) == list(range(250, 1000))

    # merge/delete on a DV'd table must not resurrect deleted rows
    src = spark.createDataFrame([(100, -1.0), (300, -2.0)], "x bigint, y double")
    # x=100 is DV-deleted: merge treats it as NOT MATCHED -> insert
    minitable.merge(spark, src.withColumn("y", F.col("y").cast("bigint")), path, "x")
    rows = {r["x"]: r["y"] for r in minitable.read(spark, path).collect()}
    assert rows[100] == -1 and rows[300] == -2
    assert 99 not in rows and 249 not in rows


def test_minitable_check_constraints(spark, tmp_path):
    """ALTER TABLE ADD CONSTRAINT CHECK semantics: existing-data
    validation at add time, loud write/merge rejection of violating
    batches (SQL three-valued logic — NULL passes, FALSE violates),
    delete-flagged merge rows exempt, drop_constraint lifts the
    contract, restore rolls the constraint map back, and meta commits
    are invisible to streams/feeds."""
    import pytest
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    minitable.write(
        spark, spark.createDataFrame([(1, 5.0), (2, 7.5)], "k int, v double"),
        path, "overwrite",
    )  # v0
    minitable.add_constraint(spark, path, "v_positive", "v > 0")  # v1 (meta)
    # a constraint current rows violate refuses
    with pytest.raises(ValueError, match="existing rows violate"):
        minitable.add_constraint(spark, path, "v_big", "v > 6")
    # violating append rejected loudly, nothing committed
    with pytest.raises(ValueError, match="v_positive"):
        minitable.write(
            spark, spark.createDataFrame([(3, -1.0)], "k int, v double"), path, "append"
        )
    assert minitable.versions(path) == [0, 1]
    # NULL passes (SQL CHECK), valid rows land
    minitable.write(
        spark, spark.createDataFrame([(3, None), (4, 1.0)], "k int, v double"),
        path, "append",
    )  # v2
    assert minitable.read(spark, path).count() == 4
    # merge: violating UPDATE rejected; delete-flagged rows exempt
    bad = spark.createDataFrame([(1, -9.0)], "k int, v double")
    with pytest.raises(ValueError, match="v_positive"):
        minitable.merge(spark, bad, path, "k")
    ok = spark.createDataFrame([(1, -9.0), (4, 2.0)], "k int, v double")
    minitable.merge(spark, ok, path, "k", delete_where="v < 0")  # v3: k=1 deleted
    rows = {r["k"]: r["v"] for r in minitable.read(spark, path).collect()}
    assert rows == {2: 7.5, 3: None, 4: 2.0}
    # restore to before the constraint -> contract gone, bad rows land
    minitable.restore(path, 0)  # v4
    assert minitable.table_constraints(path) == {}
    minitable.write(
        spark, spark.createDataFrame([(9, -1.0)], "k int, v double"), path, "append"
    )  # v5
    assert minitable.read(spark, path).where(F.col("v") < 0).count() == 1
    # re-add after cleaning, then drop lifts it
    res = minitable.delete(spark, path, [("v", "<", 0.0)])
    assert res is not None  # v6
    minitable.add_constraint(spark, path, "v_positive", "v > 0")  # v7
    minitable.drop_constraint(path, "v_positive")  # v8
    minitable.write(
        spark, spark.createDataFrame([(10, -2.0)], "k int, v double"), path, "append"
    )  # v9: allowed again
    # meta commits never surface in the append-only feed
    feed = minitable.changes(spark, path, 6, 9)
    assert sorted(r["k"] for r in feed.collect()) == [10]


def test_minitable_shallow_clone_copy_on_write(spark, tmp_path):
    """clone(): zero-copy fork — the clone's v0 references the source's
    files absolutely; DML on the clone stages its own files and swaps
    borrowed refs out (copy-on-write divergence); the source is never
    touched; schema + constraints + deletion vectors carry over; the
    clone's own vacuum can never delete borrowed files; OPTIMIZE
    un-shares."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    df = spark.range(400).select(F.col("id").alias("k"), (F.col("id") * 2.0).alias("v"))
    minitable.write(spark, df.repartitionByRange(4, "k"), src, "overwrite", stats_cols=["k"])
    minitable.add_constraint(spark, src, "v_nonneg", "v >= 0")
    minitable.delete_dv(spark, src, [("k", "<", 50)])  # source has a DV

    minitable.clone(src, dst)
    # zero data files under the clone dir
    local = [
        f for r, _d, fs in os.walk(dst) for f in fs
        if f.endswith(".parquet") and "_log" not in r
    ]
    assert local == []
    assert sorted(r["k"] for r in minitable.read(spark, dst).collect()) == list(range(50, 400))
    assert minitable.table_constraints(dst) == {"v_nonneg": "v >= 0"}
    # constraint enforced on the clone
    with pytest.raises(ValueError, match="v_nonneg"):
        minitable.write(spark, spark.createDataFrame([(999, -1.0)], "k bigint, v double"), dst, "append")

    # copy-on-write: delete on the clone rewrites locally, source untouched
    res = minitable.delete(spark, dst, [("k", "<", 150)], stats_cols=["k"])
    assert res is not None
    assert sorted(r["k"] for r in minitable.read(spark, dst).collect()) == list(range(150, 400))
    assert sorted(r["k"] for r in minitable.read(spark, src).collect()) == list(range(50, 400))
    # the clone's vacuum never touches borrowed (source) files
    minitable.vacuum(dst, retain_from_version=minitable.versions(dst)[-1])
    assert sorted(r["k"] for r in minitable.read(spark, src).collect()) == list(range(50, 400))

    # OPTIMIZE on the clone un-shares: all live files become local
    minitable.optimize(spark, dst, small_bytes=1 << 20, target_bytes=1 << 22)
    live = minitable.snapshot(dst)
    assert all(p.startswith(dst + os.sep) for p in live), live
    assert sorted(r["k"] for r in minitable.read(spark, dst).collect()) == list(range(150, 400))
    # cloning a non-empty target refuses
    with pytest.raises(ValueError, match="already has commits"):
        minitable.clone(src, dst)


def test_minitable_review2_regressions(spark, tmp_path, monkeypatch):
    """Second review pass (r8): scan() applies a clone's borrowed
    deletion vectors; a copy-on-write delete after a delete_dv does not
    double-report the overlap in the feed; delete_dv re-running the same
    predicate is a no-op (None); add_constraint works on a zero-live-
    file table; a constraint added concurrently with an in-flight write
    re-validates the staged batch (rejecting it); optimize rebases over
    an intervening meta commit."""
    import pytest
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    # -- scan() on a clone with a borrowed DV
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    df = spark.range(200).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    minitable.write(spark, df.repartitionByRange(2, "k"), src, "overwrite", stats_cols=["k"])
    minitable.delete_dv(spark, src, [("k", "<", 30)])
    minitable.clone(src, dst)
    got = sorted(r["k"] for r in minitable.scan(spark, dst, [("k", "<", 60)]).collect())
    assert got == list(range(30, 60)), "clone scan must apply the borrowed vector"

    # -- delete_dv then copy-on-write delete: feed reports each row once
    p2 = str(tmp_path / "t2")
    minitable.write(
        spark,
        spark.range(100).withColumnRenamed("id", "x").repartitionByRange(2, "x"),
        p2, "overwrite", stats_cols=["x"],
    )
    minitable.delete_dv(spark, p2, [("x", "<", 30)])   # v1: rows 0-29
    minitable.delete(spark, p2, [("x", "<", 60)], stats_cols=["x"])  # v2: rows 30-59
    feed = minitable.change_feed(spark, p2, 0, 2)
    by_v = {}
    for r in feed.collect():
        by_v.setdefault(r["_commit_version"], []).append(r["x"])
    assert sorted(by_v[1]) == list(range(30))
    assert sorted(by_v[2]) == list(range(30, 60)), "v1's rows must not re-report"

    # -- repeating the same dv predicate is a no-op
    p3 = str(tmp_path / "t3")
    minitable.write(
        spark,
        spark.range(100).withColumnRenamed("id", "x").repartitionByRange(2, "x"),
        p3, "overwrite", stats_cols=["x"],
    )
    r1 = minitable.delete_dv(spark, p3, [("x", "<", 30)])
    assert r1 is not None and r1[1]["rows_marked"] == 30
    assert minitable.delete_dv(spark, p3, [("x", "<", 30)]) is None
    assert minitable.versions(p3) == [0, 1]
    # a wider predicate marks only the NEW rows
    r2 = minitable.delete_dv(spark, p3, [("x", "<", 40)])
    assert r2 is not None and r2[1]["rows_marked"] == 10

    # -- add_constraint on a zero-live-file table
    p4 = str(tmp_path / "t4")
    minitable.write(spark, spark.range(5).withColumnRenamed("id", "x"), p4, "overwrite", stats_cols=["x"])
    minitable.delete(spark, p4, [("x", "<", 100)], stats_cols=["x"])  # drops everything
    minitable.add_constraint(spark, p4, "x_pos", "x >= 0")  # vacuously satisfied
    with pytest.raises(ValueError, match="x_pos"):
        minitable.write(spark, spark.createDataFrame([(-1,)], "x bigint"), p4, "append")

    # -- concurrent add_constraint vs in-flight write: staged batch
    #    re-validated on rebase and rejected
    p5 = str(tmp_path / "t5")
    minitable.write(spark, spark.createDataFrame([(1, 1.0)], "k int, v double"), p5, "overwrite")
    real_commit = minitable.commit
    state = {"fired": False}

    def racing(path, action, added, **kw):
        if not state["fired"] and kw.get("expected_version") is not None and action == "append":
            state["fired"] = True
            minitable.add_constraint(spark, path, "v_pos", "v > 0")
        return real_commit(path, action, added, **kw)

    monkeypatch.setattr(minitable, "commit", racing)
    with pytest.raises(ValueError, match="v_pos"):
        minitable.write(spark, spark.createDataFrame([(2, -5.0)], "k int, v double"), p5, "append")
    monkeypatch.setattr(minitable, "commit", real_commit)
    assert minitable.read(spark, p5).count() == 1  # nothing landed

    # -- optimize rebases over an intervening meta commit (row-invariant)
    p6 = str(tmp_path / "t6")
    for i in range(3):
        minitable.write(
            spark, spark.range(i * 10, i * 10 + 10).withColumnRenamed("id", "x").coalesce(1),
            p6, "append", stats_cols=["x"],
        )
    state = {"fired": False}

    def racing_meta(path, action, added, **kw):
        if not state["fired"] and kw.get("expected_version") is not None and action == "merge":
            state["fired"] = True
            minitable.add_constraint(spark, path, "x_pos", "x >= 0")
        return real_commit(path, action, added, **kw)

    monkeypatch.setattr(minitable, "commit", racing_meta)
    res = minitable.optimize(spark, p6, small_bytes=1 << 20, target_bytes=1 << 22)
    monkeypatch.setattr(minitable, "commit", real_commit)
    assert res is not None  # rebased over the meta commit, not conflicted
    assert minitable.read(spark, p6).count() == 30


def test_minitable_dml_model_fuzz(spark, tmp_path):
    """Model-based differential fuzz over the whole DML surface: a
    random sequence of append / copy-on-write delete / deletion-vector
    delete / merge upsert+delete / update / rename-column / optimize /
    restore / checkpoint is applied both to a minitable and to a
    pure-Python dict model; after every step the live read must equal
    the model, and at the end EVERY recorded version must still read as
    its as-of state UNDER ITS OWN column names — the interaction
    coverage (DV x restore x optimize x merge x update x rename x
    checkpoint) no enumerated test has."""
    import random

    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    rng = random.Random(80801)

    for trial in range(3):
        path = str(tmp_path / f"t{trial}")
        next_key = [0]
        vcol = ["v"]  # current LOGICAL name of the value column

        def fresh_batch(n):
            rows = [(k, float(k * 7 % 101)) for k in range(next_key[0], next_key[0] + n)]
            next_key[0] += n
            return rows

        def to_df(rows):
            return spark.createDataFrame(
                rows, f"k bigint, {vcol[0]} double"
            ).coalesce(1)

        rows0 = fresh_batch(30)
        minitable.write(
            spark, to_df(rows0).repartitionByRange(3, "k"), path, "overwrite",
            stats_cols=["k"],
            # declared ONCE here; every later append/merge/update/
            # optimize/materialization must materialize-or-preserve it
            generated={"g": "CAST(k % 7 AS DOUBLE)"},
            identity={"rid": (1, 1)},
        )
        model = dict(rows0)
        states = {0: (dict(model), vcol[0])}
        # ROW-TRACKING model: the id each live key currently carries —
        # a key surviving any verb must keep it (update/merge-matched/
        # optimize/zorder/rename), EXCEPT keys a verb legitimately
        # restates as new rows (replace_where scope), passed as
        # `reset_keys`; restore rolls the whole map back to its era
        rid_map: dict[int, int] = {}
        rid_states: dict[int, dict[int, int]] = {}
        rid_map.update(
            {r["k"]: r["rid"] for r in minitable.read(spark, path).collect()}
        )
        rid_states[0] = dict(rid_map)

        def sync_and_check(tag, reset_keys=()):
            head = minitable.versions(path)[-1]
            states[head] = (dict(model), vcol[0])
            if model:
                live = minitable.read(spark, path).collect()
                got = {r["k"]: r[vcol[0]] for r in live}
                assert got == model, (trial, tag, head)
                # the generation invariant survives every DML verb
                bad_g = [r["k"] for r in live if r["g"] != float(r["k"] % 7)]
                assert not bad_g, (trial, tag, head, bad_g)
                # identity values stay unique, assigned, and inside the
                # recorded high-water mark through every verb
                rids = [r["rid"] for r in live]
                hwm = minitable.table_identity_hwm(path).get("rid", 0)
                assert None not in rids and len(set(rids)) == len(rids), (
                    trial, tag, head,
                )
                assert all(1 <= i <= hwm for i in rids), (trial, tag, head, hwm)
                # per-key ID STABILITY (row tracking): every surviving
                # key keeps the exact id it had before the verb
                live_rids = {r["k"]: r["rid"] for r in live}
                moved = {
                    k: (rid_map[k], live_rids[k])
                    for k in rid_map
                    if k in live_rids
                    and k not in reset_keys
                    and live_rids[k] != rid_map[k]
                }
                assert not moved, (trial, tag, head, moved)
                rid_map.clear()
                rid_map.update(live_rids)
            else:
                assert minitable.snapshot(path) == [], (trial, tag, head)
                rid_map.clear()
            rid_states[head] = dict(rid_map)

        for step in range(8):
            op = rng.choice(
                ["append", "delete", "delete_dv", "merge", "update", "rename",
                 "optimize", "restore", "checkpoint", "replace_where",
                 "zorder"]
            )
            if op == "append":
                rows = fresh_batch(rng.randint(5, 15))
                minitable.write(spark, to_df(rows), path, "append", stats_cols=["k"])
                model.update(rows)
                sync_and_check(op)
            elif op in ("delete", "delete_dv"):
                if not model:
                    continue
                cut = rng.choice(sorted(model))  # delete a prefix of live keys
                fn = minitable.delete if op == "delete" else minitable.delete_dv
                args = ([("k", "<", cut)],)
                kw = {"stats_cols": ["k"]}
                if op == "delete_dv" and rng.random() < 0.5:
                    # exercise opportunistic materialization interactions
                    kw["materialize_fraction"] = 0.3
                res = fn(spark, path, *args, **kw)
                expect = {k: v for k, v in model.items() if not k < cut}
                if expect == model:
                    # no LIVE rows matched: either a no-op (None) or a
                    # legitimate physical-only cleanup (whole-dropping a
                    # file whose rows an earlier DV already deleted) —
                    # the live read must be unperturbed either way
                    if res is not None:
                        sync_and_check(op)
                else:
                    assert res is not None, (trial, op, cut)
                    model = expect
                    sync_and_check(op)
            elif op == "merge":
                if not model:
                    continue
                upd = rng.sample(sorted(model), min(3, len(model)))
                ins = fresh_batch(3)
                # REVIVE a deleted key sometimes (review r12's data-loss
                # class): whether it died by copy-on-write delete or by
                # a deletion vector, a dead key is NOT MATCHED — Delta's
                # semantics — so its source row must INSERT with a fresh
                # row id, in both the conditional and plain variants
                dead = sorted(set(range(next_key[0])) - set(model))
                if dead and rng.random() < 0.5:
                    revived = rng.sample(dead, min(2, len(dead)))
                    ins = ins + [(k, float(k) + 0.5) for k in revived]
                if rng.random() < 0.5:
                    # CONDITIONAL merge (update_where): sources with a
                    # LOWER value fail `s.v > t.v` and pass through —
                    # value, generated col, and row-id all untouched;
                    # inserts are unconditional (NOT MATCHED clause)
                    delta = {k: rng.choice([1000.0, -1000.0]) for k in upd}
                    src = [(k, model[k] + delta[k]) for k in upd] + ins
                    minitable.merge(
                        spark, to_df(src), path, "k", stats_cols=["k"],
                        update_where=f"s.{vcol[0]} > t.{vcol[0]}",
                    )
                    model.update(
                        {k: model[k] + delta[k] for k in upd if delta[k] > 0}
                    )
                    model.update(dict(ins))
                else:
                    src = [(k, model[k] + 1000.0) for k in upd] + ins
                    minitable.merge(spark, to_df(src), path, "k", stats_cols=["k"])
                    model.update({k: v for k, v in src})
                sync_and_check(op)
            elif op == "update":
                if not model:
                    continue
                cut = rng.choice(sorted(model))  # update a prefix of live keys
                res = minitable.update(
                    spark, path,
                    {vcol[0]: f"{vcol[0]} + 1000"}, [("k", "<=", cut)],
                    stats_cols=["k"],
                )
                assert res is not None, (trial, op, cut)  # cut itself matches
                model = {
                    k: (v + 1000.0 if k <= cut else v) for k, v in model.items()
                }
                sync_and_check(op)
            elif op == "rename":
                other = "v2" if vcol[0] == "v" else "v"
                minitable.rename_column(path, vcol[0], other)
                vcol[0] = other
                sync_and_check(op)  # rows unchanged under the new name
            elif op == "optimize":
                res = minitable.optimize(spark, path, small_bytes=1 << 20, target_bytes=1 << 22)
                if res is not None:
                    sync_and_check(op)
            elif op == "restore":
                target = rng.choice(sorted(states))
                if not states[target][0]:
                    continue
                minitable.restore(path, target)
                model = dict(states[target][0])
                vcol[0] = states[target][1]  # names roll back with the data
                # row ids roll back WITH the data: expect the era's map
                rid_map.clear()
                rid_map.update(rid_states.get(target, {}))
                sync_and_check(op)
            elif op == "replace_where":
                if not model:
                    continue
                keys = sorted(model)
                lo = rng.choice(keys)
                hi = lo + rng.randint(2, 10)
                in_scope = [k for k in keys if lo <= k < hi]
                # restate the even half of the scope with new values —
                # the batch carries only (k, v); the generated column
                # must materialize and identity ids must be assigned
                batch = [
                    (k, model[k] + 5000.0)
                    for k in in_scope
                    if (k - lo) % 2 == 0
                ]
                if not batch:
                    continue
                minitable.replace_where(
                    spark, to_df(batch), path,
                    [("k", ">=", lo), ("k", "<", hi)], stats_cols=["k"],
                )
                model = {
                    k: v for k, v in model.items() if not (lo <= k < hi)
                }
                model.update(batch)
                # restated rows are NEW rows: their keys draw fresh ids
                sync_and_check(op, reset_keys={k for k, _v in batch})
            elif op == "zorder":
                res = minitable.zorder(
                    spark, path, by=["k"], n_files=2, buckets=4
                )
                if res is not None:  # row-invariant: model unchanged
                    sync_and_check(op)
            elif op == "checkpoint":
                minitable.checkpoint(path)
                # no new version; live read must be unperturbed
                got = {
                    r["k"]: r[vcol[0]]
                    for r in minitable.read(spark, path).collect()
                }
                assert got == model, (trial, "checkpoint")

        # every recorded version still reads as its AS-OF state, under
        # the column names it had THEN (rename x restore x time travel)
        for v, (want, name) in states.items():
            if not want:
                continue
            df = minitable.read(spark, path, v)
            assert name in df.columns, (trial, "as-of-name", v, name, df.columns)
            rows = df.collect()
            got = {r["k"]: r[name] for r in rows}
            assert got == want, (trial, "as-of", v)
            # time travel serves the era's row ids exactly
            if v in rid_states:
                got_rids = {r["k"]: r["rid"] for r in rows}
                assert got_rids == rid_states[v], (trial, "as-of-rid", v)


def test_minitable_stream_snapshot_applies_deletion_vectors(spark, tmp_path):
    """ADVICE r8: a table that took delete_dv deletes BEFORE a stream
    subscribes must not stream the logically-deleted rows — the initial
    snapshot batch ships each file's live deletion vector to its
    executor partition, matching minitable.read's DV semantics."""
    from tinymr_spark.sources import minitable, minitable_stream

    minitable_stream.register(spark)
    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    minitable.write(
        spark,
        spark.range(0, 20).select(F.col("id").alias("k")).repartitionByRange(2, "k"),
        path,
        "overwrite",
        stats_cols=["k"],
    )
    res = minitable.delete_dv(spark, path, [("k", "<", 5)])
    assert res is not None and res[1]["rows_marked"] > 0

    def drain() -> list[int]:
        rows: list[int] = []

        def sink(df, _bid):
            rows.extend(r["k"] for r in df.collect())

        q = (
            spark.readStream.format("tinymr_minitable_stream")
            .option("path", path)
            .option("columns", "k")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return rows

    assert sorted(drain()) == list(range(5, 20))  # DV rows never streamed
    minitable.write(spark, spark.range(20, 23).select(F.col("id").alias("k")), path, "append")
    assert sorted(drain()) == [20, 21, 22]  # then purely incremental


def test_minitable_add_constraint_claims_validated_head(spark, tmp_path, monkeypatch):
    """ADVICE r8 TOCTOU: a write landing between add_constraint's
    validation scan and its meta commit was validated against the
    pre-constraint contract — the meta commit must claim head+1 and
    surface CommitConflict, never absorb the race silently."""
    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    minitable.write(
        spark, spark.createDataFrame([(1, 10.0)], "k bigint, v double"), path, "overwrite"
    )

    real_read = minitable.read
    raced = []

    def racing_read(spark_, path_, version=None):
        if not raced:
            raced.append(True)
            # a concurrent writer lands a VIOLATING batch after the
            # validation snapshot was pinned but before the meta commit
            minitable.write(
                spark,
                spark.createDataFrame([(2, -1.0)], "k bigint, v double"),
                path,
                "append",
            )
        return real_read(spark_, path_, version)

    monkeypatch.setattr(minitable, "read", racing_read)
    import pytest

    with pytest.raises(minitable.CommitConflict):
        minitable.add_constraint(spark, path, "v_pos", "v > 0")
    # the constraint was NOT recorded over a violating table
    assert minitable.table_constraints(path) == {}


def test_minitable_constraint_resolves_absent_evolved_column_as_null(spark, tmp_path):
    """ADVICE r8: a merge_schema append that legitimately omits an
    evolved column referenced by a CHECK constraint must get SQL
    semantics (absent -> NULL -> passes), not an AnalysisException from
    schema inference over the staged files."""
    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    minitable.write(
        spark, spark.createDataFrame([(1, 5.0)], "k bigint, v double"), path, "overwrite"
    )
    minitable.write(  # ADD COLUMN w
        spark,
        spark.createDataFrame([(2, 6.0, 99.0)], "k bigint, v double, w double"),
        path,
        "append",
        merge_schema=True,
    )
    minitable.add_constraint(spark, path, "w_big", "w > 10")
    # a producer still writing the PRE-evolution shape: w absent -> NULL
    # -> constraint passes (Delta/SQL CHECK semantics)
    minitable.write(
        spark,
        spark.createDataFrame([(3, 7.0)], "k bigint, v double"),
        path,
        "append",
        merge_schema=True,
    )
    got = {r["k"]: r["w"] for r in minitable.read(spark, path).collect()}
    assert got == {1: None, 2: 99.0, 3: None}
    # while a PRESENT violating value still rejects loudly
    import pytest

    with pytest.raises(ValueError, match="w_big"):
        minitable.write(
            spark,
            spark.createDataFrame([(4, 8.0, 1.0)], "k bigint, v double, w double"),
            path,
            "append",
        )


def test_minitable_legacy_bloom_is_ignored_not_misprobed(spark, tmp_path):
    """ADVICE r8: blooms persisted under an older hash normalization
    must degrade to "no bloom" (file kept), never be probed with the new
    normalization (which could wrongly prune a file holding matches)."""
    import json
    import os

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    minitable.write(
        spark,
        spark.createDataFrame([(1, 10.0), (5, 20.0)], "k bigint, v double").coalesce(1),
        path,
        "overwrite",
        bloom_cols=["k"],
    )
    # current-norm bloom: an IN-RANGE absent key prunes the file (the
    # range [1, 5] alone cannot)
    kept, total = minitable.prune(path, [("k", "=", 3)])
    assert kept == [] and total == 1

    # simulate a legacy log: strip the norm tag from the persisted bloom
    vf = minitable._version_file(path, 0)
    rec = json.loads(open(vf).read())
    for st in rec["stats"].values():
        st["k"]["bloom"].pop("norm")
    os.remove(vf)
    with open(vf, "w") as f:
        f.write(json.dumps(rec))

    kept, total = minitable.prune(path, [("k", "=", 3)])
    assert len(kept) == 1 and total == 1  # legacy bloom ignored: kept
    # and real matches are (of course) still served
    assert minitable.scan(spark, path, [("k", "=", 5)]).count() == 1


def test_minitable_update_tiers_and_null_semantics(spark, tmp_path):
    """UPDATE's cost tiers (untouched via stats / rewritten via probe)
    and SQL semantics: SET expressions evaluate against the OLD row
    (a swap works), NULL predicate rows don't match, casts preserve the
    table's column types, and AS-OF reads still serve the pre-update
    state."""
    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    rows = [(k, float(k), float(100 - k) if k % 4 else None) for k in range(20)]
    minitable.write(
        spark,
        spark.createDataFrame(rows, "k bigint, a double, b double")
        .repartitionByRange(4, "k"),
        path,
        "overwrite",
        stats_cols=["k"],
    )
    n_files = len(minitable.snapshot(path))
    # swap a/b where b < 95 — k in (5..19, b non-null); NULL b never matches
    res = minitable.update(
        spark,
        path,
        {"a": "b", "b": "a"},
        [("b", "<", 95.0)],
        stats_cols=["k"],
    )
    assert res is not None
    _v, summary = res
    assert summary["untouched"] >= 1  # the low-k file range-pruned out
    assert summary["rewritten"] + summary["untouched"] == n_files
    got = {r["k"]: (r["a"], r["b"]) for r in minitable.read(spark, path).collect()}
    for k, a, b in rows:
        if b is not None and b < 95.0:
            assert got[k] == (b, a), k  # swapped from OLD row values
        else:
            assert got[k] == (a, b), k  # NULL/unmatched rows untouched
    # AS-OF v0 is the pre-update state
    v0 = {r["k"]: (r["a"], r["b"]) for r in minitable.read(spark, path, 0).collect()}
    assert v0 == {k: (a, b) for k, a, b in rows}
    assert summary["rows_updated"] == sum(
        1 for _k, _a, b in rows if b is not None and b < 95.0
    )
    # int expr into a double column keeps the table type (cast back)
    minitable.update(spark, path, {"a": "7"}, [("k", "=", 0)])
    sch = dict(minitable.read(spark, path).dtypes)
    assert sch["a"] == "double"
    # a no-match predicate commits nothing
    head = minitable.versions(path)[-1]
    assert minitable.update(spark, path, {"a": "0"}, [("k", ">", 999)]) is None
    assert minitable.versions(path)[-1] == head


def test_minitable_update_respects_dvs_constraints_and_cdf(spark, tmp_path):
    """UPDATE must not resurrect or update DV-deleted rows, must reject
    an update that moves rows into CHECK violation, and collect_cdf
    stages pre/post images the change feed serves."""
    import pytest

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    minitable.write(
        spark,
        spark.createDataFrame(
            [(k, float(k)) for k in range(10)], "k bigint, v double"
        ).repartitionByRange(2, "k"),
        path,
        "overwrite",
        stats_cols=["k"],
    )
    res = minitable.delete_dv(spark, path, [("k", "=", 3)])  # v1
    assert res is not None
    res = minitable.update(  # v2: touches the DV'd file's range
        spark, path, {"v": "v + 100"}, [("k", "<=", 4)], collect_cdf=True
    )
    assert res is not None
    v2, summary = res
    assert summary["rows_updated"] == 4  # k in 0,1,2,4 — 3 is DV-deleted
    got = {r["k"]: r["v"] for r in minitable.read(spark, path).collect()}
    assert 3 not in got  # not resurrected by the rewrite
    assert got[2] == 102.0 and got[5] == 5.0
    feed = minitable.change_feed(spark, path, 1, v2)
    imgs = {
        (r["_change_type"], r["k"]): r["v"]
        for r in feed.collect()
    }
    assert imgs[("update_preimage", 2)] == 2.0
    assert imgs[("update_postimage", 2)] == 102.0
    assert ("update_preimage", 3) not in imgs  # DV'd row not an image
    assert len(imgs) == 8  # 4 pre + 4 post
    # constraint: an update INTO violation is rejected with no commit
    minitable.add_constraint(spark, path, "v_small", "v < 1000")
    head = minitable.versions(path)[-1]
    with pytest.raises(ValueError, match="v_small"):
        minitable.update(spark, path, {"v": "v + 5000"}, [("k", "=", 5)])
    assert minitable.versions(path)[-1] == head
    # copy-on-write delete whose probe reads THROUGH a live DV anti-join
    # (regression: input_file_name() refuses multi-source plans)
    res = minitable.delete_dv(spark, path, [("k", "=", 7)])
    assert res is not None
    res = minitable.delete(spark, path, [("k", ">=", 6)])
    assert res is not None
    got = sorted(r["k"] for r in minitable.read(spark, path).collect())
    assert got == [0, 1, 2, 4, 5]


def test_minitable_update_serializable_conflicts(spark, tmp_path, monkeypatch):
    """UPDATE claims readVersion+1: an in-scope concurrent append
    conflicts (its rows should have been updated); a provably-disjoint
    append auto-rebases.  An UNFILTERED update conflicts with ANY
    concurrent append."""
    import pytest

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")

    def df(lo, hi):
        return spark.createDataFrame(
            [(k, float(k)) for k in range(lo, hi)], "k bigint, v double"
        ).coalesce(1)

    minitable.write(spark, df(0, 10), path, "overwrite", stats_cols=["k"])

    real_commit = minitable.commit
    raced = {}

    def racing_commit(path_, action, added, **kw):
        if raced.get("spec") and kw.get("expected_version") is not None and action == "merge":
            spec = raced.pop("spec")
            minitable.write(spark, df(*spec), path, "append", stats_cols=["k"])
        return real_commit(path_, action, added, **kw)

    monkeypatch.setattr(minitable, "commit", racing_commit)

    # disjoint concurrent append (keys 100..105, update scope k < 5): rebases
    raced["spec"] = (100, 105)
    res = minitable.update(spark, path, {"v": "v + 1"}, [("k", "<", 5)])
    assert res is not None
    got = {r["k"]: r["v"] for r in minitable.read(spark, path).collect()}
    assert got[0] == 1.0 and got[100] == 100.0  # both commits landed

    # in-scope concurrent append (keys 0..2 land inside k < 5): loud conflict
    raced["spec"] = (0, 3)
    with pytest.raises(minitable.CommitConflict):
        minitable.update(spark, path, {"v": "v + 1"}, [("k", "<", 5)])
    raced.clear()

    # unfiltered update vs ANY concurrent append: loud conflict
    raced["spec"] = (2000, 2002)
    with pytest.raises(minitable.CommitConflict):
        minitable.update(spark, path, {"v": "v + 1"})


def test_minitable_partition_columns_metadata_only_ops(spark, tmp_path, monkeypatch):
    """write(partition_by=...): hive-style layout, partition values
    recorded as exact [v, v] stats — scan prunes to the partition's
    files from the log alone, and a partition-aligned DELETE drops
    whole partitions as PURE metadata (pinned: any data-file read
    during the delete trips the monkeypatch)."""
    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(k, k % 4, float(k)) for k in range(40)], "k bigint, om bigint, v double"
    )
    minitable.write(
        spark, df.repartition("om"), path, "overwrite",
        partition_by=["om"], stats_cols=["k"],
    )
    rels = [r for r, _st in minitable._live_entries(path)]
    assert len(rels) == 4 and all("__p_om=" in r for r in rels)
    back = {(r["k"], r["om"], r["v"]) for r in minitable.read(spark, path).collect()}
    assert back == {(k, k % 4, float(k)) for k in range(40)}

    # partition-pruned scan: exactly one file planned, decided log-only
    kept, total = minitable.prune(path, [("om", "=", 2)])
    assert len(kept) == 1 and total == 4
    assert minitable.scan(spark, path, [("om", "=", 2)]).count() == 10

    # retention delete: whole-partition drops with ZERO data-file I/O
    with monkeypatch.context() as m:
        def _no_reads(*_a, **_k):
            raise AssertionError("data file read during partition-drop delete")

        m.setattr(minitable, "_read_files_dv", _no_reads)
        m.setattr(minitable, "_read_files", _no_reads)
        res = minitable.delete(spark, path, [("om", "<=", 1)])
    assert res is not None
    assert res[1] == {"dropped_whole": 2, "rewritten": 0, "untouched": 2}
    assert {r["om"] for r in minitable.read(spark, path).collect()} == {2, 3}


def test_minitable_optimize_partition_aligned(spark, tmp_path):
    """OPTIMIZE(partition_by=...) bins never span partitions and packed
    outputs keep the exact [v, v] partition stats, so pruning and
    metadata-only partition drops survive compaction."""
    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")

    def batch(lo, hi):
        return spark.createDataFrame(
            [(k, k % 2, float(k)) for k in range(lo, hi)],
            "k bigint, om bigint, v double",
        ).repartition("om")

    minitable.write(spark, batch(0, 20), path, "overwrite", partition_by=["om"])
    minitable.write(spark, batch(20, 40), path, "append", partition_by=["om"])
    assert len(minitable.snapshot(path)) == 4  # 2 small files per partition

    res = minitable.optimize(
        spark, path, small_bytes=1 << 20, target_bytes=1 << 22, partition_by=["om"]
    )
    assert res is not None
    assert res["n_small"] == 4 and res["n_bins"] == 2  # one bin per partition
    entries = dict(minitable._live_entries(path))
    assert len(entries) == 2
    vals = sorted(
        minitable._exact_stat_value(st, "om") for st in entries.values()
    )
    assert vals == [0, 1]  # exact partition stats preserved through packing
    assert all("__p_om=" in r for r in entries)  # hive layout preserved

    # partition drop still pure metadata after compaction
    res = minitable.delete(spark, path, [("om", "=", 0)])
    assert res is not None and res[1]["rewritten"] == 0 and res[1]["dropped_whole"] == 1
    got = {r["k"] for r in minitable.read(spark, path).collect()}
    assert got == {k for k in range(40) if k % 2 == 1}


def test_minitable_rename_column_is_pure_metadata(spark, tmp_path):
    """RENAME COLUMN via column mapping: zero data files change, reads
    serve the new logical name, AS-OF reads before the rename serve the
    old one, appends after the rename land under the stable physical
    name, and stats-based pruning still works through the map."""
    import os

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    minitable.write(
        spark,
        spark.createDataFrame(
            [(k, float(k)) for k in range(20)], "k bigint, v double"
        ).repartitionByRange(2, "k"),
        path,
        "overwrite",
        stats_cols=["k", "v"],
    )
    files_before = {
        os.path.join(r, f)
        for r, _d, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    }
    v_rename = minitable.rename_column(path, "v", "val")
    files_after = {
        os.path.join(r, f)
        for r, _d, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    }
    assert files_after == files_before  # pure metadata
    assert minitable.read(spark, path).columns == ["k", "val"]
    assert minitable.read(spark, path, v_rename - 1).columns == ["k", "v"]
    got = {r["k"]: r["val"] for r in minitable.read(spark, path).collect()}
    assert got == {k: float(k) for k in range(20)}

    # append with the NEW logical name: stages under the stable physical
    minitable.write(
        spark,
        spark.createDataFrame([(100, 100.0)], "k bigint, val double").coalesce(1),
        path,
        "append",
        stats_cols=["k", "val"],
    )
    assert minitable.read(spark, path).count() == 21

    # pruning through the map: stats recorded under physical 'v' (old
    # files) and under the same physical for new files
    kept, total = minitable.prune(path, [("val", ">=", 100.0)])
    assert total == 3 and len(kept) == 1
    assert minitable.scan(spark, path, [("val", ">=", 100.0)]).count() == 1

    # DML through the map: update + predicate delete on the logical name
    res = minitable.update(
        spark, path, {"val": "val + 0.5"}, [("k", "=", 0)], collect_cdf=True
    )
    assert res is not None
    res = minitable.delete(spark, path, [("val", ">=", 100.0)])
    assert res is not None
    got = {r["k"]: r["val"] for r in minitable.read(spark, path).collect()}
    assert got[0] == 0.5 and 100 not in got and len(got) == 20

    # feed across the whole history serves the CURRENT logical names
    feed = minitable.change_feed(spark, path, v_rename, minitable.versions(path)[-1])
    assert set(feed.columns) == {"k", "val", "_change_type", "_commit_version"}
    by_type = {
        (r["_change_type"], r["k"]) for r in feed.collect()
    }
    assert ("insert", 100) in by_type and ("delete", 100) in by_type
    assert ("update_preimage", 0) in by_type and ("update_postimage", 0) in by_type


def test_minitable_drop_column_and_fresh_readd(spark, tmp_path):
    """DROP COLUMN is metadata-only; a later re-ADD of the same logical
    name gets a fresh physical name, so the dropped data never
    resurrects — while AS-OF reads before the drop still serve it."""
    import pytest

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    minitable.write(
        spark,
        spark.createDataFrame(
            [(1, 10.0, "a"), (2, 20.0, "b")], "k bigint, v double, w string"
        ).coalesce(1),
        path,
        "overwrite",
    )
    v_drop = minitable.drop_column(path, "w")
    assert minitable.read(spark, path).columns == ["k", "v"]
    assert minitable.read(spark, path, v_drop - 1).columns == ["k", "v", "w"]
    # re-ADD the same logical name: values must be NULL, never 'a'/'b'
    minitable.write(
        spark,
        spark.createDataFrame([(3, 30.0, "NEW")], "k bigint, v double, w string").coalesce(1),
        path,
        "append",
        merge_schema=True,
    )
    got = {r["k"]: r["w"] for r in minitable.read(spark, path).collect()}
    assert got == {1: None, 2: None, 3: "NEW"}
    # the physical name is fresh (mapping no longer identity for w)
    cm = minitable.table_colmap(path)
    assert cm["w"] != "w" and cm["k"] == "k"
    # last column refuses to drop; constrained column refuses to rename
    minitable.add_constraint(spark, path, "v_pos", "v > 0")
    with pytest.raises(ValueError, match="v_pos"):
        minitable.rename_column(path, "v", "value")
    with pytest.raises(ValueError, match="v_pos"):
        minitable.drop_column(path, "v")


def test_minitable_colmap_restore_clone_and_stream(spark, tmp_path):
    """Mapping composes with the rest of the lakehouse: RESTORE to a
    pre-rename version rolls the logical names back (explicit reset),
    a clone carries the mapping state, and the stream source serves
    renamed columns by their stable physical names."""
    from tinymr_spark.sources import minitable, minitable_stream

    minitable_stream.register(spark)
    path = str(tmp_path / "t")
    fork = str(tmp_path / "fork")
    ckpt = str(tmp_path / "ckpt")
    minitable.write(
        spark,
        spark.createDataFrame([(k, float(k)) for k in range(5)], "k bigint, v double").coalesce(1),
        path,
        "overwrite",
    )
    minitable.rename_column(path, "v", "val")  # v1
    minitable.clone(path, fork)
    assert minitable.read(spark, fork).columns == ["k", "val"]
    assert minitable.table_colmap(fork) == {"k": "k", "val": "v"}

    # restore to the pre-rename version: names AND mapping roll back
    minitable.restore(path, 0)
    assert minitable.read(spark, path).columns == ["k", "v"]
    assert minitable.table_colmap(path) == {}
    # and the rename is itself restorable (round-trip)
    minitable.restore(path, 1)
    assert minitable.read(spark, path).columns == ["k", "val"]

    # stream the renamed column through its physical name
    rows = []

    def sink(df, _bid):
        rows.extend((r["k"], r["val"]) for r in df.collect())

    q = (
        spark.readStream.format("tinymr_minitable_stream")
        .option("path", path)
        .option("columns", "k,val")
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(rows) == [(k, float(k)) for k in range(5)]


def test_minitable_dv_size_gate_and_materialization(spark, tmp_path, monkeypatch):
    """Deletion-vector scale valves: (1) past DV_BROADCAST_MAX_BYTES the
    anti join drops the forced broadcast hint (reads stay correct under
    a plain join); (2) delete_dv(materialize_fraction=f) rewrites files
    whose cumulative deleted fraction crosses f — survivors staged, the
    vector retired — and the change feed still reports exactly each
    commit's own rows."""
    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    minitable.write(
        spark,
        spark.createDataFrame(
            [(k, float(k)) for k in range(20)], "k bigint, v double"
        ).repartitionByRange(2, "k"),
        path,
        "overwrite",
        stats_cols=["k"],
    )
    files_v0 = set(minitable.snapshot(path))
    res = minitable.delete_dv(spark, path, [("k", "<=", 3)])  # v1: 4/10 dead
    assert res is not None and res[1]["vectorized"] == 1 and res[1]["materialized"] == 0

    # (1) size-gated read: force the no-broadcast path, same rows
    with monkeypatch.context() as m:
        m.setattr(minitable, "DV_BROADCAST_MAX_BYTES", 0)
        got = sorted(r["k"] for r in minitable.read(spark, path).collect())
    assert got == list(range(4, 20))

    # (2) second delete crosses 0.5 cumulative on the low file: 7/10
    res = minitable.delete_dv(
        spark, path, [("k", "<=", 6)], materialize_fraction=0.5
    )
    assert res is not None
    v2, summary = res
    assert summary["materialized"] == 1 and summary["vectorized"] == 0
    assert summary["rows_marked"] == 3 and summary["dropped_whole"] == 0
    # the crossed file was REWRITTEN: a new staged file replaced it and
    # no vector remains live
    assert not minitable._replay(path)[2], "vector must be retired"
    new_files = set(minitable.snapshot(path))
    assert new_files - files_v0, "survivors staged as a new file"
    got = sorted(r["k"] for r in minitable.read(spark, path).collect())
    assert got == list(range(7, 20))
    # history intact
    assert sorted(r["k"] for r in minitable.read(spark, path, 1).collect()) == list(range(4, 20))
    assert minitable.read(spark, path, 0).count() == 20
    # the feed reports exactly THIS commit's rows for the materialization
    feed = minitable.change_feed(spark, path, 1, v2)
    assert sorted(r["k"] for r in feed.collect()) == [4, 5, 6]
    assert {r["_change_type"] for r in feed.collect()} == {"delete"}


def test_minitable_parquet_checkpoint_dataframe_readable(spark, tmp_path):
    """Checkpoints are PARQUET (one row per live file, table state in
    the footer metadata): readable as an ordinary DataFrame — the
    metadata-scale property Delta's parquet checkpoints exist for."""
    import os

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    for i in range(3):
        minitable.write(
            spark,
            spark.createDataFrame([(i, float(i))], "k bigint, v double").coalesce(1),
            path,
            "append" if i else "overwrite",
            stats_cols=["k"],
        )
    v = minitable.checkpoint(path)
    ck = minitable._checkpoint_parquet(path, v)
    assert os.path.exists(ck)
    # readable as a plain DataFrame: one row per live file
    df = spark.read.parquet(ck)
    assert df.count() == len(minitable.snapshot(path))
    assert set(df.columns) == {"f", "stats", "dv"}
    # replay plans from it (O(1) + O(tail))
    assert {r["k"] for r in minitable.read(spark, path).collect()} == {0, 1, 2}


def test_minitable_two_process_commit_race(tmp_path):
    """True multiprocess race on the commit log: two independent Python
    processes hammer commit() on one table concurrently.  The
    O_CREAT|O_EXCL (os.link) claim must yield exactly one winner per
    version — after both finish, the log is contiguous, every payload
    landed exactly once, and no commit was lost or duplicated.  (The
    in-process serializable tests monkeypatch interleavings; this is
    the end-to-end proof of the atomic-publish claim itself.)"""
    import os
    import subprocess
    import sys

    path = str(tmp_path / "t")
    os.makedirs(path, exist_ok=True)
    n_each = 20
    worker = r"""
import sys
from tinymr_spark.sources import minitable

path, wid, n = sys.argv[1], sys.argv[2], int(sys.argv[3])
for i in range(n):
    while True:
        vs = minitable.versions(path)
        expected = (vs[-1] + 1) if vs else 0
        try:
            minitable.commit(
                path, "append", [f"{wid}-{i}.parquet"],
                expected_version=expected,
            )
            break
        except minitable.CommitConflict:
            continue  # rebase: re-read the head, try the next slot
"""
    env = dict(os.environ, PYTHONPATH="/root/repo")
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", worker, path, wid, str(n_each)], env=env
        )
        for wid in ("a", "b")
    ]
    for pr in procs:
        assert pr.wait(timeout=120) == 0

    from tinymr_spark.sources import minitable

    vs = minitable.versions(path)
    assert vs == list(range(2 * n_each))  # contiguous, no lost slots
    import json

    payloads = []
    for v in vs:
        with open(minitable._version_file(path, v)) as f:
            rec = json.load(f)
        assert rec["version"] == v and len(rec["added"]) == 1
        payloads.extend(rec["added"])
    want = {f"{w}-{i}.parquet" for w in ("a", "b") for i in range(n_each)}
    assert sorted(payloads) == sorted(want)  # exactly once each


def test_minitable_null_and_in_skipping_ops(spark, tmp_path):
    """IS NULL / IS NOT NULL / IN in the skipping conjunction: a
    null-scrub DELETE gets all three cost tiers (a proven-all-null file
    drops whole via nulls == rows, proven null-free files are untouched,
    straddlers rewrite), and an IN-list predicate prunes per member."""
    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    # three hand-shaped files: all-null v / mixed / null-free
    def df(rows):
        return spark.createDataFrame(rows, "k bigint, v double").coalesce(1)

    minitable.write(spark, df([(0, None), (1, None)]), path, "overwrite", stats_cols=["k", "v"])
    minitable.write(spark, df([(10, None), (11, 5.0)]), path, "append", stats_cols=["k", "v"])
    minitable.write(spark, df([(20, 7.0), (21, 9.0)]), path, "append", stats_cols=["k", "v"])

    # pruning: IS NULL skips the null-free file, IS NOT NULL skips the
    # all-null file, IN prunes by member ranges
    kept, total = minitable.prune(path, [("v", "is_null", None)])
    assert total == 3 and len(kept) == 2
    kept, _t = minitable.prune(path, [("v", "is_not_null", None)])
    assert len(kept) == 2
    kept, _t = minitable.prune(path, [("k", "in", [20, 21])])
    assert len(kept) == 1
    assert minitable.scan(spark, path, [("k", "in", [1, 11, 99])]).count() == 2

    # null-scrub DELETE: all three tiers in one commit
    res = minitable.delete(spark, path, [("v", "is_null", None)], stats_cols=["k", "v"])
    assert res is not None
    _v, summary = res
    assert summary == {"dropped_whole": 1, "rewritten": 1, "untouched": 1}
    got = {(r["k"], r["v"]) for r in minitable.read(spark, path).collect()}
    assert got == {(11, 5.0), (20, 7.0), (21, 9.0)}

    # IN-list DELETE with an exact single-value file: whole-drop proof
    res = minitable.delete(spark, path, [("k", "in", [11, 99])])
    assert res is not None
    got = {r["k"] for r in minitable.read(spark, path).collect()}
    assert got == {20, 21}
    # and the feed reconstructs both predicate deletes exactly
    feed = minitable.change_feed(spark, path, 2, minitable.versions(path)[-1])
    deletes = sorted(
        r["k"] for r in feed.collect() if r["_change_type"] == "delete"
    )
    assert deletes == [0, 1, 10, 11]


def test_minitable_merge_update_set_accumulates(spark, tmp_path):
    """Column-level MERGE update sets: WHEN MATCHED THEN UPDATE SET
    col = expr over the t/s aliases (the accumulate-merge), unlisted
    columns keep their target values, inserts take the whole source
    row, and the CDF post-image reflects the SET expressions."""
    import pytest

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")

    def df(rows):
        return spark.createDataFrame(
            rows, "k bigint, total double, n bigint, tag string"
        ).coalesce(1)

    minitable.write(
        spark, df([(1, 10.0, 1, "a"), (2, 20.0, 2, "b")]), path, "overwrite",
        stats_cols=["k"],
    )
    v = minitable.merge(
        spark,
        df([(2, 5.0, 1, "IGNORED"), (3, 7.0, 1, "c")]),
        path,
        "k",
        update_set={"total": "t.total + s.total", "n": "t.n + s.n"},
        collect_cdf=True,
        stats_cols=["k"],
    )
    got = {r["k"]: (r["total"], r["n"], r["tag"]) for r in minitable.read(spark, path).collect()}
    assert got == {
        1: (10.0, 1, "a"),        # untouched file... or carried row
        2: (25.0, 3, "b"),        # accumulated; unlisted `tag` kept
        3: (7.0, 1, "c"),         # insert takes the whole source row
    }
    feed = minitable.change_feed(spark, path, v - 1, v)
    post = {r["k"]: r["total"] for r in feed.collect() if r["_change_type"] == "update_postimage"}
    assert post == {2: 25.0}  # post-image honors the SET expression

    with pytest.raises(ValueError, match="merge key"):
        minitable.merge(spark, df([(9, 1.0, 1, "x")]), path, "k", update_set={"k": "s.k + 1"})
    with pytest.raises(ValueError, match="unknown column"):
        minitable.merge(spark, df([(9, 1.0, 1, "x")]), path, "k", update_set={"zzz": "1"})


def test_minitable_timestamp_time_travel(spark, tmp_path, monkeypatch):
    """TIMESTAMP AS OF: every commit records its wall clock; reads
    resolve the newest version at-or-before the asked instant, with
    mtime fallback for legacy records and a loud error before the
    first commit."""
    import json
    import os

    import pytest

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    clock = [100.0]
    monkeypatch.setattr(minitable, "_now", lambda: clock[0])

    def df(rows):
        return spark.createDataFrame(rows, "k bigint").coalesce(1)

    minitable.write(spark, df([(0,)]), path, "overwrite")   # v0 @ 100
    clock[0] = 200.0
    minitable.write(spark, df([(1,)]), path, "append")      # v1 @ 200
    clock[0] = 300.0
    minitable.write(spark, df([(2,)]), path, "append")      # v2 @ 300

    assert minitable.version_at_timestamp(path, 150.0) == 0
    assert minitable.version_at_timestamp(path, 200.0) == 1
    assert minitable.version_at_timestamp(path, 1e18) == 2
    got = {r["k"] for r in minitable.read_at_timestamp(spark, path, 250.0).collect()}
    assert got == {0, 1}
    with pytest.raises(ValueError, match="no commit at or before"):
        minitable.version_at_timestamp(path, 99.0)

    # legacy record without ts: mtime fallback (real wall clock, i.e.
    # far in the future of the pinned timeline) — v1 drops out of the
    # <=250 window, resolution stays correct in commit order
    vf = minitable._version_file(path, 1)
    rec = json.loads(open(vf).read())
    rec.pop("ts")
    os.remove(vf)
    with open(vf, "w") as f:
        f.write(json.dumps(rec))
    assert minitable.version_at_timestamp(path, 250.0) == 0
    assert minitable.version_at_timestamp(path, 1e18) == 2


def test_minitable_vacuum_dry_run_and_convert_guards(spark, tmp_path):
    """vacuum_dry_run lists exactly what vacuum would delete without
    touching a byte; convert_parquet_dir adopts a plain directory
    in-place and refuses non-empty targets / empty sources."""
    import os

    import pytest

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")

    def df(rows):
        return spark.createDataFrame(rows, "k bigint").coalesce(1)

    minitable.write(spark, df([(0,)]), path, "overwrite")
    minitable.write(spark, df([(1,)]), path, "overwrite")  # supersedes v0
    plan = minitable.vacuum_dry_run(path, retain_from_version=1)
    assert len(plan) == 1
    assert os.path.exists(os.path.join(path, plan[0]))  # nothing deleted
    deleted = minitable.vacuum(path, retain_from_version=1)
    assert deleted == plan  # the dry run WAS the plan
    assert not os.path.exists(os.path.join(path, plan[0]))

    plain = str(tmp_path / "plain")
    spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, s string").coalesce(
        1
    ).write.parquet(plain)
    conv = str(tmp_path / "conv")
    minitable.convert_parquet_dir(spark, plain, conv, stats_cols=["k"])
    got = {(r["k"], r["s"]) for r in minitable.read(spark, conv).collect()}
    assert got == {(1, "a"), (2, "b")}
    # stats were collected from the borrowed absolute paths
    kept, total = minitable.prune(conv, [("k", "=", 99)])
    assert kept == [] and total == 1
    with pytest.raises(ValueError, match="already has commits"):
        minitable.convert_parquet_dir(spark, plain, conv)
    with pytest.raises(ValueError, match="no parquet files"):
        minitable.convert_parquet_dir(spark, str(tmp_path / "empty"), str(tmp_path / "c2"))


def test_minitable_vacuum_keeps_retained_materialized_dv_sidecar(spark, tmp_path):
    """A dv commit whose every mapped file was MATERIALIZED in the same
    commit leaves its sidecar out of the live DV map — but the change
    feed over a RETAINED range still reconstructs that commit's deletes
    from the sidecar, so vacuum must keep it (like retained cdf files)."""
    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    minitable.write(
        spark,
        spark.createDataFrame(
            [(k, float(k)) for k in range(10)], "k bigint, v double"
        ).coalesce(1),
        path,
        "overwrite",
        stats_cols=["k"],
    )
    # every matched file crosses the fraction: fully-materialized commit
    res = minitable.delete_dv(
        spark, path, [("k", "<", 6)], materialize_fraction=0.1
    )
    assert res is not None
    v, summary = res
    assert summary["materialized"] == 1 and summary["vectorized"] == 0
    assert not minitable._replay(path)[2]  # live DV map is empty

    deleted = minitable.vacuum(path, retain_from_version=0)
    # the sidecar survived: the feed over (0, v] still reconstructs
    feed = minitable.change_feed(spark, path, 0, v)
    got = sorted(r["k"] for r in feed.collect())
    assert got == [0, 1, 2, 3, 4, 5], (got, deleted)


def test_minitable_partitioned_staging_basenames_unique_and_dv_safe(spark, tmp_path):
    """Review fix: Spark's dynamic-partition writer reuses one task file
    name across partition dirs — staged leaves are re-suffixed so the
    basename-uniqueness invariant (DV joins, probe maps, stream filter)
    holds on partitioned tables.  A DV delete on one partition must not
    bleed into row-index twins in other partitions."""
    import os

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(k, k % 3, float(k)) for k in range(9)], "k bigint, om bigint, v double"
    ).coalesce(1)  # ONE task holding all three partition values
    minitable.write(spark, df, path, "overwrite", partition_by=["om"])
    rels = [r for r, _st in minitable._live_entries(path)]
    bases = [r.rsplit("/", 1)[-1] for r in rels]
    assert len(rels) == 3 and len(set(bases)) == 3, bases

    # row_index twins exist in every file (each holds 3 rows, idx 0..2);
    # a DV delete scoped to one partition must remove only ITS rows
    res = minitable.delete_dv(spark, path, [("om", "=", 1), ("k", "<=", 4)])
    assert res is not None and res[1]["rows_marked"] == 2  # k = 1, 4
    got = sorted(r["k"] for r in minitable.read(spark, path).collect())
    assert got == [0, 2, 3, 5, 6, 7, 8]


def test_minitable_backtick_constraint_blocks_rename(spark, tmp_path):
    """Review fix: a backtick-quoted column reference in a CHECK
    expression must still block rename/drop of that column."""
    import pytest

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    minitable.write(
        spark, spark.createDataFrame([(1, 2.0)], "k bigint, price double"),
        path, "overwrite",
    )
    minitable.add_constraint(spark, path, "pos", "`price` > 0")
    with pytest.raises(ValueError, match="pos"):
        minitable.rename_column(path, "price", "amount")
    with pytest.raises(ValueError, match="pos"):
        minitable.drop_column(path, "price")


def test_minitable_rename_racing_evolving_append_conflicts(spark, tmp_path, monkeypatch):
    """Review fix: an evolving append that staged a NEW column under a
    physical name which a concurrent rename then claimed for a different
    logical column must surface CommitConflict — never record a map
    aliasing two logical columns onto one physical."""
    import pytest

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    minitable.write(
        spark, spark.createDataFrame([(1, 10.0)], "k bigint, a double"),
        path, "overwrite",
    )
    minitable.rename_column(path, "a", "b")  # activate mapping: b -> a

    real_commit = minitable.commit
    raced = {}

    def racing_commit(path_, action, added, **kw):
        if raced.pop("go", None) and action == "append":
            # between staging and commit: rename b back out of the way,
            # then a fresh rename claims... simulate by renaming b -> c
            # (physical stays "a"), so the append's NEW logical column
            # "a" (staged under identity-ish physical via stage_cm) would
            # collide with c's physical "a" on rebase
            minitable.rename_column(path, "b", "c")
        return real_commit(path_, action, added, **kw)

    monkeypatch.setattr(minitable, "commit", racing_commit)
    raced["go"] = True
    with pytest.raises(minitable.CommitConflict):
        # merge_schema append ADDING logical column "a" — its staged
        # physical must not silently alias with physical "a" (held by c)
        minitable.write(
            spark,
            spark.createDataFrame([(2, 1.0, 9.0)], "k bigint, b double, a double"),
            path,
            "append",
            merge_schema=True,
        )


def test_minitable_change_feed_cdf_across_evolution(spark, tmp_path):
    """Review fix: a feed spanning a CDF merge and a LATER schema
    evolution types the change files by the log schema — the evolved
    column reads as NULL in the older change rows instead of failing."""
    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")

    def df(rows, ddl):
        return spark.createDataFrame(rows, ddl).coalesce(1)

    minitable.write(spark, df([(1, 10.0), (2, 20.0)], "k bigint, v double"),
                    path, "overwrite", stats_cols=["k"])
    minitable.rename_column(path, "v", "val")  # active mapping too
    minitable.merge(  # v2: CDF merge under the mapping
        spark, df([(2, 25.0), (3, 30.0)], "k bigint, val double"), path, "k",
        collect_cdf=True, stats_cols=["k"],
    )
    minitable.write(  # v3: ADD COLUMN w after the change files exist
        spark, df([(4, 40.0, 1.0)], "k bigint, val double, w double"),
        path, "append", merge_schema=True,
    )
    feed = minitable.change_feed(spark, path, 1, minitable.versions(path)[-1])
    rows = {(r["_change_type"], r["k"]): (r["val"], r["w"]) for r in feed.collect()}
    assert rows[("update_postimage", 2)] == (25.0, None)  # evolved col NULL
    assert rows[("insert", 4)] == (40.0, 1.0)


def test_minitable_dv_materialization_keeps_stats(spark, tmp_path):
    """Review fix: materialized survivors re-collect skipping stats, so
    pruning and whole-drop retention keep working on the rewritten
    files."""
    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    minitable.write(
        spark,
        spark.createDataFrame(
            [(k, k % 2, float(k)) for k in range(20)], "k bigint, om bigint, v double"
        ).repartition("om"),
        path,
        "overwrite",
        partition_by=["om"],
        stats_cols=["k"],
    )
    res = minitable.delete_dv(
        spark, path, [("om", "=", 0), ("k", "<", 15)],
        materialize_fraction=0.5,
        stats_cols=["k", "om"],
    )
    assert res is not None and res[1]["materialized"] == 1
    # the rewritten survivor still carries exact partition stats:
    # a partition predicate prunes it or whole-drops it, no probe needed
    kept, total = minitable.prune(path, [("om", "=", 1)])
    assert len(kept) == 1 and total == 2
    res = minitable.delete(spark, path, [("om", "=", 0)])
    assert res is not None and res[1] == {
        "dropped_whole": 1, "rewritten": 0, "untouched": 1,
    }
    got = sorted(r["k"] for r in minitable.read(spark, path).collect())
    assert got == [k for k in range(20) if k % 2 == 1]


def test_minitable_convert_refuses_unsafe_layouts(spark, tmp_path):
    """Review fixes: convert refuses hive-partitioned sources loudly
    (partition values live in dir names and would silently vanish) and
    refuses duplicate part-file basenames (they break every
    basename-keyed path)."""
    import os
    import shutil

    import pytest

    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    hive = str(tmp_path / "hive")
    spark.range(0, 6).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("p")
    ).write.partitionBy("p").parquet(hive)
    with pytest.raises(ValueError, match="hive-partitioned"):
        minitable.convert_parquet_dir(spark, hive, str(tmp_path / "c1"))

    dup = str(tmp_path / "dup")
    spark.createDataFrame([(1,)], "k bigint").coalesce(1).write.parquet(
        os.path.join(dup, "a")
    )
    base = [
        f for f in os.listdir(os.path.join(dup, "a")) if f.endswith(".parquet")
    ][0]
    os.makedirs(os.path.join(dup, "b"))
    shutil.copy(os.path.join(dup, "a", base), os.path.join(dup, "b", base))
    with pytest.raises(ValueError, match="duplicate part-file basename"):
        minitable.convert_parquet_dir(spark, dup, str(tmp_path / "c2"))


def test_minitable_same_logical_column_race_conflicts(spark, tmp_path, monkeypatch):
    """Review fix (symmetric colmap race): two writers concurrently
    ADDING the same logical column under different physical names must
    conflict — the loser's staged bytes would otherwise serve NULL."""
    import pytest

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    minitable.write(
        spark, spark.createDataFrame([(1, 10.0)], "k bigint, a double"),
        path, "overwrite",
    )
    minitable.rename_column(path, "a", "b")  # activate mapping

    real_commit = minitable.commit
    raced = {}

    def racing_commit(path_, action, added, **kw):
        if raced.pop("go", None) and action == "append":
            # the OTHER writer lands the same new logical column first
            # (its own fresh physical name)
            minitable.write(
                spark,
                spark.createDataFrame(
                    [(7, 7.0, 70.0)], "k bigint, b double, x double"
                ),
                path,
                "append",
                merge_schema=True,
            )
        return real_commit(path_, action, added, **kw)

    monkeypatch.setattr(minitable, "commit", racing_commit)
    raced["go"] = True
    with pytest.raises(minitable.CommitConflict, match="concurrently"):
        minitable.write(
            spark,
            spark.createDataFrame([(2, 2.0, 20.0)], "k bigint, b double, x double"),
            path,
            "append",
            merge_schema=True,
        )


def test_minitable_rebase_conflicts_on_concurrent_drop(spark, tmp_path, monkeypatch):
    """ADVICE r9 (medium): a merge_schema append staged while column X
    was live, racing a concurrent drop_column(X), must CONFLICT on
    rebase — re-recording X under its OLD physical name would resurrect
    the dropped column's data in every pre-drop file, violating
    drop_column's fresh-physical/no-resurrection guarantee."""
    import pytest

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    minitable.write(
        spark,
        spark.createDataFrame([(1, 10.0, 100.0)], "k bigint, a double, x double"),
        path,
        "overwrite",
    )
    minitable.rename_column(path, "a", "b")  # activate column mapping

    real_commit = minitable.commit
    raced = {}

    def racing_commit(path_, action, added, **kw):
        if raced.pop("go", None) and action == "append":
            minitable.drop_column(path, "x")  # lands first, claims our slot
        return real_commit(path_, action, added, **kw)

    monkeypatch.setattr(minitable, "commit", racing_commit)
    raced["go"] = True
    with pytest.raises(minitable.CommitConflict, match="concurrently dropped"):
        minitable.write(
            spark,
            spark.createDataFrame([(2, 2.0, 20.0)], "k bigint, b double, x double"),
            path,
            "append",
            merge_schema=True,
        )
    # the drop's guarantee held: x is gone and stays gone
    assert "x" not in minitable.read(spark, path).columns


def test_minitable_dml_rewrites_preserve_partition_layout(spark, tmp_path, monkeypatch):
    """ADVICE r9: update()'s rewrites on a partitioned table must
    re-stage under the table's recorded partition_by (read from the
    log, partition columns force-included in stats) — otherwise later
    retention deletes on the rewritten files degrade from metadata-only
    whole-drops to data rewrites and partition pruning stops skipping
    them."""
    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(k, k % 4, float(k)) for k in range(40)], "k bigint, om bigint, v double"
    )
    minitable.write(
        spark, df.repartition("om"), path, "overwrite",
        partition_by=["om"], stats_cols=["k"],
    )
    # update touches rows in every partition; NO stats_cols passed —
    # the layout must come from the log, not the caller
    res = minitable.update(spark, path, {"v": "v + 1000"}, [("k", "<", 8)])
    assert res is not None and res[1]["rows_updated"] == 8
    rels = [r for r, _st in minitable._live_entries(path)]
    assert all("__p_om=" in r for r in rels), rels

    # partition pruning still log-only exact after the rewrite
    kept, total = minitable.prune(path, [("om", "=", 2)])
    assert 0 < len(kept) < total

    # retention delete on the post-update table is STILL metadata-only
    with monkeypatch.context() as m:
        def _no_reads(*_a, **_k):
            raise AssertionError("data file read during partition-drop delete")

        m.setattr(minitable, "_read_files_dv", _no_reads)
        m.setattr(minitable, "_read_files", _no_reads)
        res2 = minitable.delete(spark, path, [("om", "<=", 1)])
    assert res2 is not None and res2[1]["rewritten"] == 0
    assert res2[1]["dropped_whole"] > 0
    assert {r["om"] for r in minitable.read(spark, path).collect()} == {2, 3}
    # the surviving updated rows really carry the update
    vals = {r["k"]: r["v"] for r in minitable.read(spark, path).collect()}
    assert vals[6] == 1006.0 and vals[10] == 10.0


def test_minitable_delete_and_dv_materialize_preserve_partition_layout(
    spark, tmp_path,
):
    """ADVICE r9, the other two rewrite paths: a straddling delete()
    rewrite and a delete_dv(materialize_fraction=...) rewrite both
    re-stage under the recorded partition layout."""
    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(k, k % 2, float(k)) for k in range(20)], "k bigint, om bigint, v double"
    )
    minitable.write(
        spark, df.repartition("om"), path, "overwrite",
        partition_by=["om"], stats_cols=["k"],
    )
    # straddling exact delete (k<3 hits both partitions partially)
    res = minitable.delete(spark, path, [("k", "<", 3)])
    assert res is not None and res[1]["rewritten"] > 0
    rels = [r for r, _st in minitable._live_entries(path)]
    assert all("__p_om=" in r for r in rels), rels

    # DV delete with aggressive materialization -> rewrite, still hive
    res2 = minitable.delete_dv(
        spark, path, [("k", "in", [4, 5, 6, 7])], materialize_fraction=0.01
    )
    assert res2 is not None and res2[1]["materialized"] > 0
    rels2 = [r for r, _st in minitable._live_entries(path)]
    assert all("__p_om=" in r for r in rels2), rels2
    assert {r["k"] for r in minitable.read(spark, path).collect()} == (
        {3} | set(range(8, 20))
    )
    # layout survived two rewrites: om still prunes log-only
    kept, total = minitable.prune(path, [("om", "=", 0)])
    assert 0 < len(kept) < total


def test_minitable_in_literal_must_be_collection(spark, tmp_path):
    """ADVICE r9: a bare-string `in` literal iterates per CHARACTER in
    both the residual filter and the stats prune — loudly reject it in
    every path that consults a where-conjunction."""
    import pytest

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    minitable.write(
        spark,
        spark.createDataFrame([(1, "abc")], "k bigint, s string"),
        path,
        "overwrite",
        stats_cols=["s"],
    )
    bad = [("s", "in", "abc")]
    with pytest.raises(ValueError, match="per CHARACTER"):
        minitable.prune(path, bad)
    with pytest.raises(ValueError, match="per CHARACTER"):
        minitable.scan(spark, path, bad)
    with pytest.raises(ValueError, match="per CHARACTER"):
        minitable.delete(spark, path, bad)
    with pytest.raises(ValueError, match="per CHARACTER"):
        minitable.delete_dv(spark, path, bad)
    with pytest.raises(ValueError, match="per CHARACTER"):
        minitable.update(spark, path, {"k": "k + 1"}, bad)
    # real collections still pass
    assert minitable.scan(spark, path, [("s", "in", ["abc"])]).count() == 1


def test_minitable_generated_columns_write_side(spark, tmp_path):
    """GENERATED COLUMNS (Delta's GENERATED ALWAYS AS): materialized at
    write time when omitted, validated like a CHECK when provided,
    recorded in schema field metadata so appends inherit without
    re-passing, expression immutable, resettable by overwrite."""
    import pytest

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(k, float(k)) for k in range(10)], "k bigint, v double"
    )
    minitable.write(
        spark, df, path, "overwrite", generated={"g": "CAST(k * 2 AS BIGINT)"}
    )
    assert minitable.table_generated(path) == {"g": "CAST(k * 2 AS BIGINT)"}
    got = {r["k"]: r["g"] for r in minitable.read(spark, path).collect()}
    assert got == {k: 2 * k for k in range(10)}

    # append WITHOUT the column: inherited + materialized
    minitable.write(
        spark, spark.createDataFrame([(100, 1.0)], "k bigint, v double"),
        path, "append",
    )
    assert minitable.read(spark, path).where("k = 100").collect()[0]["g"] == 200

    # append PROVIDING a wrong value: rejected on the staged bytes
    bad = spark.createDataFrame([(200, 1.0, 7)], "k bigint, v double, g bigint")
    with pytest.raises(ValueError, match="generated:g"):
        minitable.write(spark, bad, path, "append")
    # providing the RIGHT value passes
    ok = spark.createDataFrame([(200, 1.0, 400)], "k bigint, v double, g bigint")
    minitable.write(spark, ok, path, "append")

    # expression is immutable on appends
    with pytest.raises(ValueError, match="immutable"):
        minitable.write(
            spark, spark.createDataFrame([(300, 1.0)], "k bigint, v double"),
            path, "append", generated={"g": "CAST(k * 3 AS BIGINT)"},
        )
    # ...but an overwrite resets the contract with the schema
    minitable.write(
        spark, df, path, "overwrite", generated={"g": "CAST(k * 3 AS BIGINT)"}
    )
    assert minitable.table_generated(path) == {"g": "CAST(k * 3 AS BIGINT)"}
    # and the pre-overwrite era still serves ITS expression (AS OF)
    assert minitable.table_generated(path, 0) == {"g": "CAST(k * 2 AS BIGINT)"}


def test_minitable_generated_columns_dml(spark, tmp_path):
    """UPDATE/merge x generated columns: SET on a generated column is
    refused, updates to its INPUTS recompute it (rows migrate to their
    new partition with exact stats), and a merge source omitting it
    gets it materialized; update_set accumulate cannot drift it."""
    import pytest

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(k, k % 3, float(k)) for k in range(30)], "k bigint, b bigint, v double"
    )
    minitable.write(
        spark, df.repartition("b"), path, "overwrite",
        generated={"pb": "CAST(b * 10 AS BIGINT)"},
        partition_by=["pb"], stats_cols=["k"],
    )
    kept, total = minitable.prune(path, [("pb", "=", 10)])
    assert 0 < len(kept) < total

    with pytest.raises(ValueError, match="generated"):
        minitable.update(spark, path, {"pb": "99"})
    # updating the INPUT recomputes the generated value (0 -> 1 -> pb 10)
    res = minitable.update(spark, path, {"b": "b + 1"}, [("k", "=", 0)])
    assert res is not None
    r = minitable.read(spark, path).where("k = 0").collect()[0]
    assert r["b"] == 1 and r["pb"] == 10
    # rewrite kept the partition layout and exact stats: the moved row
    # is found by a pb-pruned scan
    assert minitable.scan(spark, path, [("pb", "=", 10)]).where("k = 0").count() == 1

    # merge: source omits both generated col; upsert + insert
    src = spark.createDataFrame(
        [(1, 2, 500.0), (1000, 1, 1.0)], "k bigint, b bigint, v double"
    )
    minitable.merge(spark, src, path, "k")
    rows = {r["k"]: (r["b"], r["pb"], r["v"])
            for r in minitable.read(spark, path).where("k in (1, 1000)").collect()}
    assert rows[1] == (2, 20, 500.0) and rows[1000] == (1, 10, 1.0)

    with pytest.raises(ValueError, match="generated"):
        minitable.merge(spark, src, path, "k", update_set={"pb": "t.pb + 1"})
    # update_set on the INPUT recomputes the generated col on the
    # merged row
    minitable.merge(spark, src.where("k = 1"), path, "k",
                    update_set={"b": "t.b - 2"})
    r = minitable.read(spark, path).where("k = 1").collect()[0]
    assert r["b"] == 0 and r["pb"] == 0


def test_minitable_concurrent_writer_serializability_fuzz(spark, tmp_path, monkeypatch):
    """VERDICT r9 task 3: TWO writers racing random DML — writer B's op
    lands between writer A's snapshot read and A's commit claim (the
    monkeypatched-commit injection, the only way to force the race
    deterministically in-process).  The serializability contract (Delta's):
    every A either AUTO-REBASES (its plan provably commutes with B's
    commit) or raises CommitConflict — and the final table equals the
    SERIAL application, in commit order (B then A), of exactly the
    ACCEPTED commits.  A conflicted A must leave zero trace.  ~50 random
    racing schedules across trials; op pool: append / update / delete /
    delete_dv / merge / optimize with overlapping-or-disjoint scopes."""
    import random

    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    rng = random.Random(101010)

    def to_df(rows):
        return spark.createDataFrame(rows, "k bigint, v double").coalesce(1)

    real_commit = minitable.commit

    for trial in range(10):
        path = str(tmp_path / f"t{trial}")
        next_key = [0]

        def fresh(n):
            rows = [(k, float(k % 97)) for k in range(next_key[0], next_key[0] + n)]
            next_key[0] += n
            return rows

        rows0 = fresh(24)
        minitable.write(
            spark, to_df(rows0).repartitionByRange(3, "k"), path, "overwrite",
            stats_cols=["k"],
        )
        model = dict(rows0)

        def rand_op():
            kind = rng.choice(
                ["append", "update", "delete", "delete_dv", "merge",
                 "optimize", "replace_where", "zorder",
                 # maintenance verbs racing DML (VERDICT r12 task 5):
                 # checkpoint folds metadata, vacuum destroys history —
                 # both must be row-invariant for the live snapshot and
                 # must never break a racer (vacuum's default grace
                 # window protects the racer's staged-but-uncommitted
                 # files; a 0-grace vacuum here would be the bug)
                 "checkpoint", "vacuum"]
            )
            if kind in ("checkpoint", "vacuum"):
                return (kind, None)
            if kind == "append":
                return (kind, fresh(rng.randint(3, 6)))
            if kind == "replace_where":
                hi = rng.randint(1, next_key[0] + 2)
                lo = max(0, hi - rng.randint(2, 8))
                # restate EXISTING keys only (review r10, second pass):
                # fabricating a key could collide with the racing
                # writer's not-yet-committed fresh append (fresh ranges
                # start at next_key, which hi can reach) — the engine
                # would legitimately hold two rows for one k while the
                # dict model holds one, an order-dependent oracle.  Old
                # keys are never re-issued, so restatements are safe.
                batch = sorted(
                    (k, 8888.0 + k)
                    for k in model
                    if lo <= k < hi and (k - lo) % 2 == 0
                )
                if not batch:
                    return ("zorder", None)
                return (kind, (lo, hi, batch))
            if kind == "zorder":
                return (kind, None)
            if kind == "merge":
                keys = sorted(model)
                upd = rng.sample(keys, min(2, len(keys))) if keys else []
                # second element: conditional (update_where) or plain —
                # a conditional merge must rebase/conflict identically
                return (
                    kind,
                    ([(k, 5000.0 + k) for k in upd] + fresh(2),
                     rng.random() < 0.5),
                )
            if kind == "optimize":
                return (kind, None)
            hi = next_key[0] + 3
            return (kind, rng.randint(0, hi))  # update/delete cut

        def run_op(op):
            """Execute against the table; True iff a version committed."""
            kind, arg = op
            if kind == "append":
                minitable.write(spark, to_df(arg), path, "append", stats_cols=["k"])
                return True
            if kind == "update":
                return minitable.update(
                    spark, path, {"v": "v + 1000"}, [("k", "<=", arg)],
                    stats_cols=["k"],
                ) is not None
            if kind == "delete":
                return minitable.delete(
                    spark, path, [("k", "<", arg)], stats_cols=["k"]
                ) is not None
            if kind == "delete_dv":
                return minitable.delete_dv(
                    spark, path, [("k", "<", arg)], stats_cols=["k"]
                ) is not None
            if kind == "merge":
                rows, cond = arg
                kw = {"update_where": "s.v > t.v"} if cond else {}
                try:
                    minitable.merge(
                        spark, to_df(rows), path, "k", stats_cols=["k"], **kw
                    )
                except ValueError as e:
                    # the racing writer may have emptied the table; merge
                    # refuses empty targets by contract — a no-commit
                    if "is empty" not in str(e):
                        raise
                    return False
                return True
            if kind == "replace_where":
                lo, hi, batch = arg
                minitable.replace_where(
                    spark, to_df(batch), path,
                    [("k", ">=", lo), ("k", "<", hi)], stats_cols=["k"],
                )
                return True
            if kind == "zorder":
                return minitable.zorder(
                    spark, path, by=["k"], n_files=2, buckets=4
                ) is not None
            if kind == "checkpoint":
                minitable.checkpoint(path)
                return False  # no version committed, rows unchanged
            if kind == "vacuum":
                # destroy all history behind the CURRENT head; the
                # default orphan grace must protect the racing writer's
                # staged-but-uncommitted files
                minitable.vacuum(
                    path, retain_from_version=minitable.versions(path)[-1]
                )
                return False
            return minitable.optimize(
                spark, path, small_bytes=1 << 20, target_bytes=1 << 22
            ) is not None

        def apply_op(m, op):
            """The op's serial semantics on the dict model."""
            kind, arg = op
            if kind == "append":
                m.update(arg)
            elif kind == "update":
                for k in list(m):
                    if k <= arg:
                        m[k] = m[k] + 1000.0
            elif kind in ("delete", "delete_dv"):
                for k in list(m):
                    if k < arg:
                        del m[k]
            elif kind == "merge":
                rows, cond = arg
                for k, v in rows:
                    if k not in m or not cond or v > m[k]:
                        m[k] = v
            elif kind == "replace_where":
                lo, hi, batch = arg
                for k in list(m):
                    if lo <= k < hi:
                        del m[k]
                m.update({k: v for k, v in batch})
            # optimize / zorder: row-invariant

        inject = {"op": None}

        def racing_commit(path_, action, added, **kw):
            b_op = inject["op"]
            if b_op is not None:
                inject["op"] = None  # B itself commits through the real path
                if run_op(b_op):
                    apply_op(model, b_op)  # B is serial-first: it committed first
            return real_commit(path_, action, added, **kw)

        monkeypatch.setattr(minitable, "commit", racing_commit)
        try:
            for _step in range(5):
                a_op, b_op = rand_op(), rand_op()
                inject["op"] = b_op
                try:
                    if run_op(a_op):
                        apply_op(model, a_op)  # A landed after B: serial-second
                except minitable.CommitConflict:
                    pass  # rejected entirely — must leave zero trace
                finally:
                    inject["op"] = None
                if model:
                    got = {
                        r["k"]: r["v"]
                        for r in minitable.read(spark, path).collect()
                    }
                    assert got == model, (trial, _step, a_op, b_op)
                else:
                    assert minitable.snapshot(path) == [], (trial, _step)
        finally:
            monkeypatch.setattr(minitable, "commit", real_commit)


def test_minitable_restore_and_clone_carry_partition_layout(spark, tmp_path):
    """Review r10: restore() and clone() commit overwrites — without
    re-recording the era's partition_by, table_partition_by would reset
    to None and every later DML rewrite would silently drop the hive
    layout."""
    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(k, k % 3, float(k)) for k in range(30)], "k bigint, b bigint, v double"
    )
    minitable.write(
        spark, df.repartition("b"), path, "overwrite",
        partition_by=["b"], stats_cols=["k"],
    )
    minitable.write(
        spark, spark.createDataFrame([(100, 0, 1.0)], "k bigint, b bigint, v double"),
        path, "append",
    )
    minitable.restore(path, 0)
    assert minitable.table_partition_by(path) == ["b"]
    # DML after the restore still stages under the layout
    res = minitable.update(spark, path, {"v": "v + 1"}, [("k", "<", 3)])
    assert res is not None
    rels = [r for r, _st in minitable._live_entries(path)]
    assert all("__p_b=" in r for r in rels), rels

    dst = str(tmp_path / "c")
    minitable.clone(path, dst)
    assert minitable.table_partition_by(dst) == ["b"]


def test_minitable_generated_input_and_partition_column_alter_guards(spark, tmp_path):
    """Review r10: dropping/renaming an INPUT of a generated column
    would brick every later write (the immutable expression fails
    analysis); renaming a recorded partition column would strand
    table_partition_by on a stale name.  Both refuse loudly."""
    import pytest

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(k, k % 3, float(k)) for k in range(9)], "k bigint, b bigint, v double"
    )
    minitable.write(
        spark, df, path, "overwrite",
        generated={"pb": "CAST(b * 10 AS BIGINT)"}, partition_by=["pb"],
    )
    with pytest.raises(ValueError, match="input of generated"):
        minitable.drop_column(path, "b")
    with pytest.raises(ValueError, match="input of generated"):
        minitable.rename_column(path, "b", "b2")
    with pytest.raises(ValueError, match="partition column"):
        minitable.rename_column(path, "pb", "pb2")
    with pytest.raises(ValueError, match="partition column"):
        minitable.drop_column(path, "pb")
    # a column that is neither still alters fine
    minitable.rename_column(path, "v", "val")
    assert "val" in minitable.read(spark, path).columns


def test_minitable_rebase_conflicts_on_concurrent_generated_change(
    spark, tmp_path, monkeypatch
):
    """Review r10: writer A declaring generated column g races writer B
    who landed a DIFFERENT expression for g first — A's staged bytes
    satisfy A's expression, not B's recorded one, so the rebase must
    conflict instead of re-stamping A's expression over the head."""
    import pytest

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    minitable.write(
        spark, spark.createDataFrame([(1, 1.0)], "k bigint, v double"),
        path, "overwrite",
    )
    real_commit = minitable.commit
    raced = {}

    def racing_commit(path_, action, added, **kw):
        if raced.pop("go", None) and action == "append":
            minitable.write(
                spark, spark.createDataFrame([(2, 2.0)], "k bigint, v double"),
                path, "append", merge_schema=True,
                generated={"g": "CAST(k * 3 AS BIGINT)"},
            )
        return real_commit(path_, action, added, **kw)

    monkeypatch.setattr(minitable, "commit", racing_commit)
    raced["go"] = True
    with pytest.raises(minitable.CommitConflict, match="generated-column"):
        minitable.write(
            spark, spark.createDataFrame([(3, 3.0)], "k bigint, v double"),
            path, "append", merge_schema=True,
            generated={"g": "CAST(k * 2 AS BIGINT)"},
        )
    # B's contract survived intact and holds for every live row
    assert minitable.table_generated(path) == {"g": "CAST(k * 3 AS BIGINT)"}
    for r in minitable.read(spark, path).collect():
        assert r["g"] is None or r["g"] == r["k"] * 3


def test_minitable_optimize_defaults_to_recorded_layout(spark, tmp_path):
    """Review r10: bare optimize() on a partitioned table must read the
    layout from the log — packing bins across partitions would stage
    stats-less mixed-value files that never prune or whole-drop."""
    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    for i in range(3):  # dribble small per-batch files into 2 partitions
        df = spark.createDataFrame(
            [(10 * i + j, j % 2, float(j)) for j in range(10)],
            "k bigint, b bigint, v double",
        )
        minitable.write(
            spark, df.repartition("b"), path,
            "overwrite" if i == 0 else "append",
            partition_by=["b"], stats_cols=["k"],
        )
    res = minitable.optimize(spark, path, small_bytes=1 << 20, target_bytes=1 << 22)
    assert res is not None
    rels = [r for r, _st in minitable._live_entries(path)]
    assert all("__p_b=" in r for r in rels), rels
    # packed files kept exact partition stats: pruning is still log-only
    kept, total = minitable.prune(path, [("b", "=", 1)])
    assert 0 < len(kept) < total
    res2 = minitable.delete(spark, path, [("b", "=", 0)])
    assert res2 is not None and res2[1]["rewritten"] == 0


def test_minitable_table_partition_by_stops_at_checkpoint(spark, tmp_path, monkeypatch):
    """Review r10: table_partition_by must be O(tail) — the newest
    checkpoint folds the layout (None = authoritatively unpartitioned)
    so a long append-only log isn't re-walked to v0 on every DML call."""
    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    for i in range(25):  # auto-checkpoints at v10 and v20
        minitable.write(
            spark, spark.createDataFrame([(i, float(i))], "k bigint, v double"),
            path, "overwrite" if i == 0 else "append",
        )
    opened = []
    real_vf = minitable._version_file

    def counting_vf(p, v):
        opened.append(v)
        return real_vf(p, v)

    monkeypatch.setattr(minitable, "_version_file", counting_vf)
    assert minitable.table_partition_by(path) is None
    # versions 24..20 = the tail above the v20 checkpoint (+1 for the
    # fold-point record itself); never anywhere near the 25-record log
    assert len(opened) <= 6, opened
    assert min(opened) >= 20, opened


def test_minitable_verbs_open_each_tail_record_once(spark, tmp_path, monkeypatch):
    """One log fold per verb: on a table whose newest checkpoint has a
    tail of T records, every DML verb opens exactly those T records
    plus the one it writes, and change_feed over k records opens at
    most T_from + k.  Counted the way the benchmark's log_opens counts
    — by patching the module-global `open` — so a fold that bypasses it
    fails the exact pins too."""
    import os

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    for i in range(14):  # v0..v13, auto-checkpoint at v10
        minitable.write(
            spark,
            spark.range(i * 10, i * 10 + 10)
            .select(F.col("id").alias("k"), (F.col("id") * 0.5).alias("v"))
            .coalesce(1),
            path,
            "append" if i else "overwrite",
            stats_cols=["k"],
        )
    assert minitable.checkpoint_versions(path) == [10]
    opened = []
    real_open = open

    def counting_open(file, *a, **kw):
        if f"{os.sep}_log{os.sep}" in os.fspath(file):
            opened.append(file)
        return real_open(file, *a, **kw)

    monkeypatch.setattr(minitable, "open", counting_open, raising=False)

    def src():
        return spark.createDataFrame([(25, 9.0), (999, 1.0)], "k bigint, v double")

    verbs = [
        ("append", lambda: minitable.write(spark, src(), path, "append")),
        ("merge", lambda: minitable.merge(spark, src(), path, "k")),
        ("update", lambda: minitable.update(spark, path, {"v": "v + 1"}, [("k", "<", 5)])),
        ("delete", lambda: minitable.delete(spark, path, [("k", "=", 47)])),
        ("delete_dv", lambda: minitable.delete_dv(spark, path, [("k", "=", 33)])),
        ("optimize", lambda: minitable.optimize(spark, path, 1 << 30, 1 << 30)),
    ]
    for name, run in verbs:
        head = minitable.versions(path)[-1]
        tail = head - max(minitable.checkpoint_versions(path))
        del opened[:]
        assert run() is not None, name
        assert minitable.versions(path)[-1] == head + 1, name
        # no measured commit may land on an auto-checkpoint version
        assert (head + 1) % minitable.AUTO_CHECKPOINT_INTERVAL, name
        assert len(opened) == tail + 1, (name, tail, opened)

    # (16, 19] = the delete, the deletion-vector delete and the optimize
    head = minitable.versions(path)[-1]
    assert head == 19
    del opened[:]
    feed = minitable.change_feed(spark, path, 16, 19)
    assert sorted(r["k"] for r in feed.collect()) == [33, 47]
    assert len(opened) <= (16 - 10) + 3, opened


def test_minitable_merge_pure_insert_recomputes_generated(spark, tmp_path):
    """Review r10: a source providing a WRONG generated value must get
    the same outcome in the pure-insert branch as in the upsert branch
    — silently recomputed, never staged-then-rejected."""
    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    minitable.write(
        spark, spark.createDataFrame([(1, 1.0)], "k bigint, v double"),
        path, "overwrite", generated={"g": "CAST(k * 2 AS BIGINT)"},
        stats_cols=["k"],
    )
    # out-of-range keys -> no touched files -> the pure-insert branch
    src = spark.createDataFrame(
        [(100, 5.0, 999), (101, 6.0, 999)], "k bigint, v double, g bigint"
    )
    minitable.merge(spark, src, path, "k")
    got = {r["k"]: r["g"] for r in minitable.read(spark, path).collect()}
    assert got == {1: 2, 100: 200, 101: 202}


def test_minitable_identity_columns(spark, tmp_path):
    """IDENTITY COLUMNS: dense engine-assigned values continuing from
    the recorded high-water mark; ALWAYS semantics (supplying values
    refused), spec immutable, appends inherit, update refuses SET,
    merge keeps matched ids and assigns fresh ones to inserts, restore
    rolls the marks back, checkpoint folds them."""
    import pytest

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(k, float(k)) for k in range(20)], "k bigint, v double"
    ).repartition(4)
    minitable.write(spark, df, path, "overwrite", identity={"rid": (10, 5)},
                    stats_cols=["k"])
    ids = sorted(r["rid"] for r in minitable.read(spark, path).collect())
    assert ids == list(range(10, 10 + 5 * 20, 5))  # dense from start, step 5
    assert minitable.table_identity(path) == {"rid": (10, 5)}
    assert minitable.table_identity_hwm(path) == {"rid": 10 + 5 * 19}

    minitable.write(
        spark, spark.createDataFrame([(100, 1.0)], "k bigint, v double"),
        path, "append",
    )
    assert minitable.read(spark, path).where("k=100").collect()[0]["rid"] == 110

    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        minitable.write(
            spark,
            spark.createDataFrame([(200, 1.0, 7)], "k bigint, v double, rid bigint"),
            path, "append",
        )
    with pytest.raises(ValueError, match="immutable"):
        minitable.write(
            spark, spark.createDataFrame([(201, 1.0)], "k bigint, v double"),
            path, "append", identity={"rid": (10, 1)},
        )
    with pytest.raises(ValueError, match="identity"):
        minitable.update(spark, path, {"rid": "1"})

    before = {r["k"]: r["rid"] for r in minitable.read(spark, path).collect()}
    src = spark.createDataFrame([(3, 333.0), (300, 1.0)], "k bigint, v double")
    minitable.merge(spark, src, path, "k", stats_cols=["k"])
    after = {r["k"]: r["rid"] for r in minitable.read(spark, path).collect()}
    assert after[3] == before[3] and after[300] == 115
    assert len(set(after.values())) == len(after)

    minitable.restore(path, 0)
    assert minitable.table_identity_hwm(path) == {"rid": 10 + 5 * 19}
    minitable.write(
        spark, spark.createDataFrame([(400, 1.0)], "k bigint, v double"),
        path, "append",
    )
    assert minitable.read(spark, path).where("k=400").collect()[0]["rid"] == 110

    # merge source supplying identity values is refused, as is keying on it
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        minitable.merge(
            spark,
            spark.createDataFrame([(1, 1.0, 9)], "k bigint, v double, rid bigint"),
            path, "k",
        )
    with pytest.raises(ValueError, match="identity"):
        minitable.merge(
            spark, spark.createDataFrame([(1, 1.0)], "rid bigint, v double"),
            path, "rid",
        )


def test_minitable_identity_concurrent_allocation_conflicts(spark, tmp_path, monkeypatch):
    """Two writers allocating ids from the same recorded mark would hand
    out the SAME range — the loser's rebase must conflict, never land
    duplicate ids."""
    import pytest

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    minitable.write(
        spark, spark.createDataFrame([(1, 1.0)], "k bigint, v double"),
        path, "overwrite", identity={"rid": (1, 1)},
    )
    real_commit = minitable.commit
    raced = {}

    def racing_commit(path_, action, added, **kw):
        if raced.pop("go", None) and action == "append":
            minitable.write(
                spark, spark.createDataFrame([(2, 2.0)], "k bigint, v double"),
                path, "append",
            )
        return real_commit(path_, action, added, **kw)

    monkeypatch.setattr(minitable, "commit", racing_commit)
    raced["go"] = True
    with pytest.raises(minitable.CommitConflict, match="identity"):
        minitable.write(
            spark, spark.createDataFrame([(3, 3.0)], "k bigint, v double"),
            path, "append",
        )
    ids = [r["rid"] for r in minitable.read(spark, path).collect()]
    assert len(ids) == len(set(ids)) == 2  # B landed, A left no trace


def test_minitable_identity_review_fixes(spark, tmp_path):
    """Review r10 second pass: (1) renaming an identity column is
    refused (hwm records are name-keyed — a rename would restart
    allocation and duplicate ids); (2) identity declaration is
    creation-only (mid-life introduction would leave existing rows
    NULL); (3) preserved ids round-trip EXACTLY above 2^53 through the
    merge-insert path; (4) a no-insert merge records no allocation (no
    spurious conflicts); (5) overwrite restarts allocation at start."""
    import json

    import pytest

    from tinymr_spark.sources import minitable

    def storage_ids():
        return {
            i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    pinned_before = storage_ids()  # other tests' session caches are fine
    path = str(tmp_path / "t")
    big = 1 << 60  # far above float64's 2^53 integer precision
    minitable.write(
        spark, spark.createDataFrame([(k, float(k)) for k in range(5)],
                                     "k bigint, v double"),
        path, "overwrite", identity={"rid": (big, 3)}, stats_cols=["k"],
    )
    with pytest.raises(ValueError, match="identity"):
        minitable.rename_column(path, "rid", "row_id")
    with pytest.raises(ValueError, match="creation"):
        minitable.write(
            spark, spark.createDataFrame([(9, 1.0)], "k bigint, v double"),
            path, "append", identity={"rid2": (1, 1)},
        )
    before = {r["k"]: r["rid"] for r in minitable.read(spark, path).collect()}
    assert sorted(before.values()) == [big + 3 * i for i in range(5)]

    # merge with one insert: preserved ids exact at 2^60 scale
    src = spark.createDataFrame([(0, 100.0), (50, 1.0)], "k bigint, v double")
    minitable.merge(spark, src, path, "k", stats_cols=["k"])
    after = {r["k"]: r["rid"] for r in minitable.read(spark, path).collect()}
    assert after[0] == before[0] and after[50] == big + 3 * 5
    assert all(after[k] == before[k] for k in before)

    # no-insert merge: no identity_hwm record on its commit
    minitable.merge(
        spark, spark.createDataFrame([(1, 7.0)], "k bigint, v double"),
        path, "k", stats_cols=["k"],
    )
    head = minitable.versions(path)[-1]
    with open(minitable._version_file(path, head)) as f:
        assert "identity_hwm" not in json.load(f)
    assert minitable.table_identity_hwm(path) == {"rid": big + 3 * 5}

    # overwrite = new table: allocation restarts at start
    minitable.write(
        spark, spark.createDataFrame([(0, 0.0)], "k bigint, v double"),
        path, "overwrite", identity={"rid": (big, 3)},
    )
    assert minitable.read(spark, path).collect()[0]["rid"] == big

    # storage hygiene: identity writes leave no NEW pinned partitions
    # behind (session caches owned by other tests are out of scope)
    import gc
    gc.collect()
    leftover = storage_ids() - pinned_before
    assert not leftover, leftover


def test_minitable_zorder_multidim_skipping(spark, tmp_path):
    """Z-ORDER (Delta's OPTIMIZE ... ZORDER BY): after reclustering a
    randomly-laid-out table along the (x, y) Morton curve, slab
    predicates on EITHER dimension prune most files from the same
    min/max stats that pruned nothing before — while content, history,
    and the change feed are untouched (row-invariant, data_change
    false)."""
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    grid = (
        spark.range(4096)
        .withColumn("x", (F.col("id") % 64).cast("long"))
        .withColumn("y", (F.col("id") / 64).cast("long"))
        .withColumn("payload", F.col("id") * 3)
        .drop("id")
        .repartition(16)  # random layout: every file spans both dims
    )
    minitable.write(spark, grid, path, "overwrite", stats_cols=["x", "y"])  # v0
    for w in ([("x", ">=", 8), ("x", "<=", 15)], [("y", ">=", 8), ("y", "<=", 15)]):
        kept, total = minitable.prune(path, w)
        assert len(kept) == total == 16, "random layout must prune nothing"

    res = minitable.zorder(spark, path, by=["x", "y"], n_files=16)  # v1
    assert res is not None and res["n_in"] == 16 and res["by"] == ["x", "y"]
    for w in ([("x", ">=", 8), ("x", "<=", 15)], [("y", ">=", 8), ("y", "<=", 15)]):
        kept, total = minitable.prune(path, w)
        # a 1/8-wide slab on EITHER dim touches only its curve rectangles
        assert len(kept) * 2 <= total, (w, len(kept), total)

    # content invariant; the pruned scan is still exact
    a = sorted(tuple(r) for r in minitable.read(spark, path, 0).collect())
    b = sorted(tuple(r) for r in minitable.read(spark, path).collect())
    assert a == b and len(b) == 4096
    got = minitable.scan(
        spark, path,
        [("x", ">=", 8), ("x", "<=", 15), ("y", ">=", 8), ("y", "<=", 15)],
    ).count()
    assert got == 64
    # AS-OF v0 still plans the original files; the feed skips the rewrite
    assert len(minitable.snapshot(path, 0)) == 16
    assert set(minitable.snapshot(path, 0)).isdisjoint(minitable.snapshot(path, 1))
    assert minitable.changes(spark, path, 0, 1).count() == 0

    # fewer than two files in scope -> no-op, no commit
    assert minitable.zorder(spark, path, by=["x"], where=[("x", ">", 10**9)]) is None
    assert minitable.versions(path) == [0, 1]


def test_minitable_zorder_nulls_strings_and_scope(spark, tmp_path):
    """Boundary sampling handles string keys and NULLs (bucket 0, null
    counts intact), and `where` scopes the rewrite to matching files —
    cold files keep their bytes (Delta's OPTIMIZE ... WHERE)."""
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    # four files with disjoint ds ranges; s is a shuffled string key
    for ds in range(4):
        part = (
            spark.range(ds * 250, ds * 250 + 250)
            .withColumn("ds", F.lit(ds))
            .withColumn(
                "s",
                F.when(F.col("id") % 50 == 0, None).otherwise(
                    F.format_string("k%05d", (F.col("id") * 37) % 1000)
                ),
            )
            .withColumnRenamed("id", "k")
            .coalesce(1)
        )
        minitable.write(spark, part, path, "append", stats_cols=["ds", "s"])
    pre = dict(minitable._replay(path, None)[0])

    # scope: only the two hottest ds files are reclustered by s
    res = minitable.zorder(
        spark, path, by=["s"], where=[("ds", ">=", 2)], n_files=4, buckets=8
    )
    assert res is not None and res["n_in"] == 2 and res["n_out"] >= 2
    post = dict(minitable._replay(path, None)[0])
    cold = {r for r, st in pre.items()
            if minitable._exact_stat_value(st, "ds") in (0, 1)}
    assert cold <= set(post), "out-of-scope files must not be rewritten"
    assert len(post) == len(cold) + res["n_out"]

    # string-key pruning now works inside the hot range; NULLs stayed
    kept, total = minitable.prune(path, [("s", ">=", "k09"), ("ds", ">=", 2)])
    hot = total - len(cold)
    assert sum(1 for f in kept if minitable.os.path.relpath(f, path) not in cold) < hot
    assert minitable.read(spark, path).where("s IS NULL").count() == 20
    assert minitable.scan(spark, path, [("s", "is_null", None)]).count() == 20
    # null-count stats survive the rewrite: all-null pruning still exact
    kept_nn, _ = minitable.prune(path, [("s", "is_not_null", None)])
    assert len(kept_nn) == len(post)


def test_minitable_zorder_partitioned_and_dv(spark, tmp_path):
    """On a hive-partitioned table the Z-rewrite nests inside the
    recorded layout (partition pruning stays exact [v, v] after), and
    logically-deleted rows (deletion vectors) are materialized out —
    the DVs retire with the files they masked."""
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    df = (
        spark.range(2000)
        .withColumn("om", (F.col("id") % 2).cast("int"))
        .withColumn("a", (F.col("id") % 40).cast("long"))
        .withColumn("b", ((F.col("id") * 7) % 40).cast("long"))
        .withColumnRenamed("id", "k")
        .repartition(8)
    )
    minitable.write(
        spark, df, path, "overwrite", partition_by=["om"], stats_cols=["a", "b"]
    )
    minitable.delete_dv(spark, path, [("k", "<", 100)], stats_cols=["k"])
    assert minitable._replay(path, None)[2], "expected live deletion vectors"

    res = minitable.zorder(spark, path, by=["a", "b"], n_files=8, buckets=8)
    assert res is not None
    # layout preserved: partition pruning is still exact whole-file
    kept, total = minitable.prune(path, [("om", "=", 1)])
    assert 0 < len(kept) < total
    post = dict(minitable._replay(path, None)[0])
    for f in kept:
        st = post[minitable.os.path.relpath(f, path)]
        assert minitable._exact_stat_value(st, "om") == 1
    # DV rows are gone from the bytes and the vectors are retired
    assert not minitable._replay(path, None)[2]
    assert minitable.read(spark, path).count() == 1900
    assert minitable.read(spark, path).where("k < 100").count() == 0
    # both clustered dims prune
    for w in ([("a", "<", 10)], [("b", "<", 10)]):
        kept, total = minitable.prune(path, w)
        assert len(kept) < total, w


def test_minitable_zorder_validation_and_concurrency(spark, tmp_path, monkeypatch):
    """Input validation (partition/unknown/duplicate columns, bucket
    range, 63-bit key budget) and the optimize() concurrency contract:
    auto-rebase over a concurrent append, conflict on a concurrent
    delete that touched a file in scope."""
    import pytest
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    df = (
        spark.range(100)
        .withColumn("om", (F.col("id") % 2).cast("int"))
        .withColumnRenamed("id", "k")
        .repartition(4)
    )
    minitable.write(spark, df, path, "overwrite", partition_by=["om"], stats_cols=["k"])
    with pytest.raises(ValueError, match="partition column"):
        minitable.zorder(spark, path, by=["om"])
    with pytest.raises(ValueError, match="not in table schema"):
        minitable.zorder(spark, path, by=["nope"])
    with pytest.raises(ValueError, match="distinct"):
        minitable.zorder(spark, path, by=["k", "k"])
    with pytest.raises(ValueError, match="buckets"):
        minitable.zorder(spark, path, by=["k"], buckets=1)
    with pytest.raises(ValueError, match="63 bits"):
        minitable.zorder(spark, path, by=[f"c{i}" for i in range(8)], buckets=4096)

    real_commit = minitable.commit

    def interleave(builder):
        state = {"fired": False}

        def racing(p, action, added, **kw):
            if not state["fired"] and kw.get("expected_version") is not None:
                state["fired"] = True
                builder(p)
            return real_commit(p, action, added, **kw)

        monkeypatch.setattr(minitable, "commit", racing)

    # concurrent append commutes: zorder rebases and lands after it
    interleave(lambda p: minitable.write(
        spark, spark.range(200, 210).withColumnRenamed("id", "k")
        .withColumn("om", F.lit(0)).coalesce(1), p, "append", stats_cols=["k"],
    ))
    res = minitable.zorder(spark, path, by=["k"], n_files=2)
    monkeypatch.setattr(minitable, "commit", real_commit)
    assert res is not None
    assert minitable.read(spark, path).count() == 110

    # concurrent delete conflicts: it removed a file the rewrite read
    interleave(lambda p: minitable.delete(spark, p, [("k", "<", 50)], stats_cols=["k"]))
    with pytest.raises(minitable.CommitConflict, match="touched files"):
        minitable.zorder(spark, path, by=["k"], n_files=2)
    monkeypatch.setattr(minitable, "commit", real_commit)
    assert minitable.read(spark, path).count() == 60  # delete's result intact


def test_minitable_replace_where_partition_restatement(spark, tmp_path):
    """replace_where: the backfill idiom — restate one partition in ONE
    atomic commit.  Partition-aligned scope pays the metadata-only tier
    (whole drops, zero rewrites), the batch layout stays hive-aligned,
    the change feed carries explicit deletes + inserts, and re-running
    the same restatement CONVERGES (the predicate contract makes the
    verb idempotent)."""
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    df = (
        spark.range(1000)
        .withColumn("ds", (F.col("id") % 4).cast("int"))
        .withColumn("v", F.col("id") * 2)
        .withColumnRenamed("id", "k")
    )
    minitable.write(spark, df, path, "overwrite", partition_by=["ds"], stats_cols=["k"])
    new = (
        spark.range(2000, 2100)
        .withColumn("ds", F.lit(2).cast("int"))
        .withColumn("v", F.lit(-1).cast("long"))
        .withColumnRenamed("id", "k")
        .coalesce(1)
    )
    v, s = minitable.replace_where(spark, new, path, [("ds", "=", 2)], stats_cols=["k"])
    assert v == 1 and s["rewritten"] == 0 and s["dropped_whole"] >= 1, s
    got = minitable.read(spark, path)
    assert got.count() == 850
    assert got.where("ds = 2").count() == 100
    assert got.where("ds = 2 AND v <> -1").count() == 0
    assert got.where("ds <> 2 AND v <> k * 2").count() == 0
    # history intact; the staged batch kept the hive layout (exact [v,v])
    assert minitable.read(spark, path, 0).count() == 1000
    post = dict(minitable._replay(path, None)[0])
    for rel, st in post.items():
        assert minitable._exact_stat_value(st, "ds") is not None, rel
    # feed: explicit deletes (the 250 old ds=2 rows) + inserts (the 100)
    feed = minitable.change_feed(spark, path, 0, v)
    counts = {r["_change_type"]: r["n"] for r in
              feed.groupBy("_change_type").agg(F.count("*").alias("n")).collect()}
    assert counts == {"delete": 250, "insert": 100}
    # a batch that breaks its own predicate is rejected before commit
    import pytest

    with pytest.raises(ValueError, match="breaks its own predicate"):
        minitable.replace_where(spark, new, path, [("ds", "=", 3)])
    # idempotent: rerunning the restatement converges
    v2, _s2 = minitable.replace_where(spark, new, path, [("ds", "=", 2)], stats_cols=["k"])
    assert minitable.read(spark, path).count() == 850
    assert minitable.read(spark, path).where("ds = 2").count() == 100
    # empty delete side still commits (guarded append semantics)
    fresh = new.withColumn("k", F.col("k") + 10_000)
    v3, s3 = minitable.replace_where(
        spark, fresh, path, [("ds", "=", 2), ("k", ">=", 12_000)], stats_cols=["k"]
    )
    assert s3["dropped_whole"] == 0 and s3["rewritten"] == 0
    assert minitable.read(spark, path).count() == 850 + 100


def test_minitable_replace_where_straddlers_dvs_and_nulls(spark, tmp_path):
    """A non-aligned scope pays delete()'s exact tiers: only files that
    genuinely hold matches are rewritten, non-matching and
    NULL-predicate rows survive the rewrite, and rows an earlier
    deletion vector already removed are neither resurrected nor
    re-emitted as feed deletes."""
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    df = (
        spark.range(1000)
        .withColumn(
            "k", F.when(F.col("id") % 100 == 7, None).otherwise(F.col("id"))
        )
        .withColumn("v", F.col("id"))
        .drop("id")
    )
    minitable.write(
        spark, df.repartitionByRange(10, "v"), path, "overwrite",
        stats_cols=["k", "v"],
    )
    # DV-delete part of the scope first: k in [200, 250)
    minitable.delete_dv(spark, path, [("k", ">=", 200), ("k", "<", 250)])
    new = (
        spark.range(5000, 5010)
        .withColumn("k", F.lit(225).cast("long"))
        .withColumn("v", F.col("id"))
        .drop("id")
        .coalesce(1)
    )
    # scope k in [150, 250): straddles two range files
    v, s = minitable.replace_where(
        spark, new, path, [("k", ">=", 150), ("k", "<", 250)], stats_cols=["k", "v"]
    )
    assert s["rewritten"] >= 1 and s["untouched"] >= 7, s
    got = minitable.read(spark, path)
    # old in-scope rows gone (150..199 replaced; 200..249 were DV-dead
    # except id 207, whose k is NULL — it matched neither delete)
    assert got.where("k >= 150 AND k < 250 AND v < 1000").count() == 0
    assert got.where("v >= 150 AND v < 250 AND k IS NULL").count() == 1
    assert got.where("k = 225").count() == 10  # the restatement
    # NULL-k rows never match a range predicate — all 10 survive
    assert got.where("k IS NULL").count() == 10
    assert got.count() == 1000 - 49 - 50 + 10
    # feed deletes = 50 live matches only (DV-dead rows not re-deleted)
    feed = minitable.change_feed(spark, path, 1, v)
    counts = {r["_change_type"]: r["n"] for r in
              feed.groupBy("_change_type").agg(F.count("*").alias("n")).collect()}
    assert counts == {"delete": 50, "insert": 10}


def test_minitable_replace_where_contract_and_feed_gate(spark, tmp_path):
    """The insert side honors the full table contract: identity columns
    are engine-assigned (supplying one is refused, the high-water mark
    advances), generated columns materialize when omitted, CHECK
    constraints validate the staged bytes, schema drift is refused, and
    collect_cdf=False commits no predicate so change_feed raises loudly
    instead of silently missing the inserts."""
    import pytest
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    df = (
        spark.range(100)
        .withColumn("band", (F.col("id") % 5).cast("int"))
        .withColumnRenamed("id", "k")
    )
    minitable.write(
        spark, df, path, "overwrite",
        identity={"rid": (1, 1)},
        generated={"b2": "CAST(band * 2 AS INT)"},
        stats_cols=["band", "k"],
    )
    minitable.add_constraint(spark, path, "k_nonneg", "k >= 0")
    new = (
        spark.range(1000, 1020)
        .withColumn("band", F.lit(3).cast("int"))
        .withColumnRenamed("id", "k")
        .coalesce(1)
    )
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        minitable.replace_where(
            spark, new.withColumn("rid", F.lit(1)), path, [("band", "=", 3)]
        )
    with pytest.raises(ValueError, match="must equal the table schema"):
        minitable.replace_where(
            spark, new.withColumn("extra", F.lit(1)), path, [("band", "=", 3)]
        )
    with pytest.raises(ValueError, match="k_nonneg"):
        minitable.replace_where(
            spark, new.withColumn("k", -F.col("k")), path, [("band", "=", 3)]
        )
    hwm0 = minitable.table_identity_hwm(path)["rid"]
    v, s = minitable.replace_where(
        spark, new, path, [("band", "=", 3)], stats_cols=["band", "k"]
    )
    got = minitable.read(spark, path)
    assert got.where("band = 3").count() == 20
    # generated column materialized; identity ids fresh, dense, recorded
    assert got.where("b2 <> band * 2").count() == 0
    ids = sorted(r["rid"] for r in got.where("k >= 1000").collect())
    assert ids == list(range(hwm0 + 1, hwm0 + 21))
    assert minitable.table_identity_hwm(path)["rid"] == hwm0 + 20
    # collect_cdf=False: honest feed refusal, not a wrong feed
    v2, _ = minitable.replace_where(
        spark, new, path, [("band", "=", 3)], collect_cdf=False
    )
    with pytest.raises(ValueError, match="neither a recorded predicate"):
        minitable.change_feed(spark, path, v2 - 1, v2).collect()
    # an EMPTY restatement batch (a legal pure scoped delete) must NOT
    # record identity marks — review r10, the spurious-conflict class
    # merge() fixed: a no-allocation commit has to commute
    import json

    v3, s3 = minitable.replace_where(
        spark, new.where("1 = 0"), path, [("band", "=", 3)], collect_cdf=False
    )
    with open(minitable._version_file(path, v3)) as fh:
        assert "identity_hwm" not in json.load(fh)
    assert minitable.read(spark, path).where("band = 3").count() == 0
    # replace_where on a table that doesn't exist is refused
    with pytest.raises(ValueError, match="existing minitable"):
        minitable.replace_where(spark, new, str(tmp_path / "nope"), [("band", "=", 3)])


def test_minitable_replace_where_concurrency(spark, tmp_path, monkeypatch):
    """Serializability: a concurrent IN-SCOPE append conflicts (its rows
    would be replaced without ever being probed); an out-of-scope
    append commutes and the restatement auto-rebases over it."""
    import pytest
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    real_commit = minitable.commit

    def interleave(builder):
        state = {"fired": False}

        def racing(p, action, added, **kw):
            if not state["fired"] and kw.get("expected_version") is not None:
                state["fired"] = True
                builder(p)
            return real_commit(p, action, added, **kw)

        monkeypatch.setattr(minitable, "commit", racing)

    def fresh(name):
        path = str(tmp_path / name)
        df = (
            spark.range(400)
            .withColumn("ds", (F.col("id") % 4).cast("int"))
            .withColumnRenamed("id", "k")
        )
        minitable.write(
            spark, df, path, "overwrite", partition_by=["ds"], stats_cols=["k"]
        )
        return path

    def batch(ds, lo):
        return (
            spark.range(lo, lo + 10)
            .withColumn("ds", F.lit(ds).cast("int"))
            .withColumnRenamed("id", "k")
            .coalesce(1)
        )

    # in-scope concurrent append: conflict, and its rows survive
    path = fresh("t1")
    interleave(lambda p: minitable.write(
        spark, batch(2, 9000), p, "append",
        partition_by=["ds"], stats_cols=["k"],
    ))
    with pytest.raises(minitable.CommitConflict, match="concurrent append"):
        minitable.replace_where(spark, batch(2, 1000), path, [("ds", "=", 2)])
    monkeypatch.setattr(minitable, "commit", real_commit)
    assert minitable.read(spark, path).where("k >= 9000").count() == 10

    # out-of-scope concurrent append: commutes, restatement lands
    path = fresh("t2")
    interleave(lambda p: minitable.write(
        spark, batch(1, 9000), p, "append",
        partition_by=["ds"], stats_cols=["k"],
    ))
    v, _s = minitable.replace_where(
        spark, batch(2, 1000), path, [("ds", "=", 2)], stats_cols=["k"]
    )
    monkeypatch.setattr(minitable, "commit", real_commit)
    got = minitable.read(spark, path)
    assert got.where("ds = 2").count() == 10      # restated
    assert got.where("k >= 9000").count() == 10   # the append survived
    assert got.count() == 300 + 10 + 10


def test_minitable_merge_schema_evolution(spark, tmp_path, monkeypatch):
    """merge(merge_schema=True) — Delta's withSchemaEvolution: extra
    source columns append to the table schema, recorded by the merge
    commit; matched rows take the source's values, carried-over and
    old-file rows serve NULL, AS-OF pre-merge reads the old schema.
    Rebase is schema-guarded: a concurrent DIFFERENT-schema commit
    conflicts (last-record-wins would roll it back), a same-schema
    append commutes.  Without the flag extra columns are silently
    projected away (the compatibility contract)."""
    import pytest
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    df = (
        spark.range(100)
        .withColumn("v", F.col("id") * 1.0)
        .withColumnRenamed("id", "k")
    )
    minitable.write(
        spark, df.repartitionByRange(4, "k"), path, "overwrite", stats_cols=["k"]
    )
    src = (
        spark.range(90, 110)
        .withColumn("v", F.lit(9.9))
        .withColumn("w", F.format_string("w%03d", F.col("id")))
        .withColumnRenamed("id", "k")
        .coalesce(1)
    )
    v = minitable.merge(
        spark, src, path, "k", stats_cols=["k"], merge_schema=True,
        collect_cdf=True,
    )
    got = minitable.read(spark, path)
    assert got.columns == ["k", "v", "w"]
    assert got.count() == 110
    assert got.where("w IS NOT NULL").count() == 20       # matched + inserts
    assert got.where("k < 90 AND w IS NOT NULL").count() == 0
    assert minitable.read(spark, path, 0).columns == ["k", "v"]  # AS-OF era
    # the CDF is typed by the evolved schema
    feed = minitable.change_feed(spark, path, 0, v)
    assert "w" in feed.columns
    assert feed.where("_change_type = 'insert'").count() == 10
    # without the flag: extras silently dropped, schema unchanged
    minitable.merge(
        spark, src.withColumn("zzz", F.lit(1)).where("k < 95"), path, "k",
        stats_cols=["k"],
    )
    assert minitable.read(spark, path).columns == ["k", "v", "w"]
    # refused on column-mapped tables
    minitable.rename_column(path, "v", "val")
    with pytest.raises(ValueError, match="column-mapped"):
        minitable.merge(
            spark,
            src.withColumnRenamed("v", "val").withColumn("y", F.lit(1)),
            path, "k", merge_schema=True,
        )

    # --- concurrency: schema-guarded rebase ---------------------------
    real_commit = minitable.commit

    def interleave(builder):
        state = {"fired": False}

        def racing(p, action, added, **kw):
            if not state["fired"] and kw.get("expected_version") is not None:
                state["fired"] = True
                builder(p)
            return real_commit(p, action, added, **kw)

        monkeypatch.setattr(minitable, "commit", racing)

    def fresh(name):
        p = str(tmp_path / name)
        minitable.write(
            spark, df.repartitionByRange(4, "k"), p, "overwrite", stats_cols=["k"]
        )
        return p

    evo_src = (
        spark.range(200, 205)
        .withColumn("v", F.lit(1.0))
        .withColumn("w", F.lit("x"))
        .withColumnRenamed("id", "k")
        .coalesce(1)
    )
    # concurrent DIFFERENT schema (evolving append adding `q`): conflict
    p1 = fresh("c1")
    interleave(lambda p: minitable.write(
        spark,
        spark.range(300, 305).withColumn("v", F.lit(0.0))
        .withColumn("q", F.lit(2)).withColumnRenamed("id", "k").coalesce(1),
        p, "append", merge_schema=True, stats_cols=["k"],
    ))
    with pytest.raises(minitable.CommitConflict, match="different schema"):
        minitable.merge(spark, evo_src, p1, "k", merge_schema=True)
    monkeypatch.setattr(minitable, "commit", real_commit)
    assert minitable.read(spark, p1).columns == ["k", "v", "q"]  # theirs won

    # concurrent SAME-schema append (out of key range): commutes
    p2 = fresh("c2")
    interleave(lambda p: minitable.write(
        spark,
        spark.range(300, 305).withColumn("v", F.lit(0.0))
        .withColumnRenamed("id", "k").coalesce(1),
        p, "append", stats_cols=["k"],
    ))
    minitable.merge(spark, evo_src, p2, "k", stats_cols=["k"], merge_schema=True)
    monkeypatch.setattr(minitable, "commit", real_commit)
    got2 = minitable.read(spark, p2)
    assert got2.columns == ["k", "v", "w"]
    assert got2.count() == 110  # 100 + 5 appended + 5 merged inserts
    assert got2.where("k >= 300 AND w IS NOT NULL").count() == 0

    # a source column read FROM ANOTHER minitable carries that table's
    # field metadata — evolution must STRIP generated/identity marks
    # rather than import a contract the user never declared here
    # (review r10)
    other = str(tmp_path / "other")
    minitable.write(
        spark, spark.range(90, 95).withColumnRenamed("id", "k").coalesce(1),
        other, "overwrite", generated={"w2": "CAST(k * 2 AS BIGINT)"},
    )
    foreign = (
        minitable.read(spark, other)
        .withColumn("v", F.lit(0.0))
        .select("k", "v", "w2")
    )
    assert foreign.schema["w2"].metadata.get("generated"), "premise: metadata rides read()"
    p3 = fresh("c3")
    minitable.merge(spark, foreign, p3, "k", merge_schema=True)
    meta = {
        f["name"]: f.get("metadata") or {}
        for f in minitable.table_schema(p3)["fields"]
    }
    assert "generated" not in meta["w2"], meta
    assert minitable.table_generated(p3) == {}
    # a later plain append is not bound by the foreign contract
    minitable.write(
        spark,
        spark.createDataFrame([(500, 1.0, 7)], "k bigint, v double, w2 bigint"),
        p3, "append",
    )
    assert minitable.read(spark, p3).where("k = 500").collect()[0]["w2"] == 7


def test_minitable_replace_where_crash_before_commit_leaves_no_trace(
    spark, tmp_path, monkeypatch
):
    """A writer dying between staging and commit must leave the table
    bit-identical for readers (staged orphans are invisible — the q141
    manifest argument), and a clean re-run of the same restatement must
    succeed and converge."""
    import pytest
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    df = (
        spark.range(200)
        .withColumn("ds", (F.col("id") % 2).cast("int"))
        .withColumnRenamed("id", "k")
    )
    minitable.write(spark, df, path, "overwrite", partition_by=["ds"], stats_cols=["k"])
    before = sorted(tuple(r) for r in minitable.read(spark, path).collect())
    new = (
        spark.range(1000, 1010)
        .withColumn("ds", F.lit(1).cast("int"))
        .withColumnRenamed("id", "k")
        .coalesce(1)
    )

    real_commit = minitable.commit

    def dying(*a, **kw):
        raise OSError("disk died before the commit record")

    monkeypatch.setattr(minitable, "commit", dying)
    with pytest.raises(OSError, match="disk died"):
        minitable.replace_where(spark, new, path, [("ds", "=", 1)], stats_cols=["k"])
    monkeypatch.setattr(minitable, "commit", real_commit)

    # nothing visible changed: same version list, same rows
    assert minitable.versions(path) == [0]
    assert sorted(tuple(r) for r in minitable.read(spark, path).collect()) == before
    # the re-run lands cleanly and converges
    v, s = minitable.replace_where(spark, new, path, [("ds", "=", 1)], stats_cols=["k"])
    assert v == 1 and s["rewritten"] == 0
    got = minitable.read(spark, path)
    assert got.count() == 110 and got.where("ds = 1").count() == 10


def test_minitable_incremental_mv_over_replace_where_feed(spark, tmp_path):
    """COMPOSITION: a replace_where commit's explicit CDF drives the
    signed incremental-MV algebra (q182's pattern) — the per-group view
    advances by the feed's delta alone (+1 insert / -1 delete) and
    equals a full rebuild at the head, so the backfill verb plugs into
    every existing CDF consumer with no special casing."""
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    df = (
        spark.range(500)
        .withColumn("g", (F.col("id") % 5).cast("int"))
        .withColumn("v", F.col("id").cast("double"))
        .withColumnRenamed("id", "k")
    )
    minitable.write(spark, df, path, "overwrite", partition_by=["g"], stats_cols=["k"])

    def mv(frame):
        return frame.groupBy("g").agg(
            F.count("*").alias("n"),
            F.sum(F.col("v").cast("decimal(18,2)")).alias("s"),
        )

    mv0 = {r["g"]: (r["n"], r["s"]) for r in mv(minitable.read(spark, path, 0)).collect()}

    new = (
        spark.range(10_000, 10_050)
        .withColumn("g", F.lit(2).cast("int"))
        .withColumn("v", F.lit(0.5))
        .withColumnRenamed("id", "k")
        .coalesce(1)
    )
    v, _s = minitable.replace_where(spark, new, path, [("g", "=", 2)], stats_cols=["k"])

    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(F.lit(-1))
    delta = (
        minitable.change_feed(spark, path, 0, v)
        .groupBy("g")
        .agg(
            F.sum(sign).alias("dn"),
            F.sum(sign * F.col("v").cast("decimal(18,2)")).alias("ds"),
        )
    )
    advanced = dict(mv0)
    for r in delta.collect():
        n0, s0 = advanced.get(r["g"], (0, 0))
        advanced[r["g"]] = (n0 + r["dn"], s0 + r["ds"])
    advanced = {g: (n, s) for g, (n, s) in advanced.items() if n}
    rebuilt = {r["g"]: (r["n"], r["s"]) for r in mv(minitable.read(spark, path)).collect()}
    assert advanced == rebuilt, (advanced, rebuilt)
    # the replaced group really moved: 100 old rows -> 50 new
    assert rebuilt[2][0] == 50 and mv0[2][0] == 100


def test_minitable_write_strips_foreign_contracts_and_empty_identity_batch(
    spark, tmp_path, monkeypatch
):
    """Review r10 (second pass), the write()-side twins of the merge/
    replace_where fixes: (a) a batch derived from ANOTHER minitable's
    read() must not import that table's generated/identity field
    metadata into this table's recorded schema; (b) an EMPTY append to
    an identity table records no identity_hwm and commutes with a
    concurrent allocator, while an overwrite still records the mark
    reset even when empty."""
    import json

    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    # (a) foreign contracts stripped on write intake
    other = str(tmp_path / "other")
    minitable.write(
        spark, spark.range(5).withColumnRenamed("id", "k").coalesce(1),
        other, "overwrite",
        generated={"g": "CAST(k * 2 AS BIGINT)"}, identity={"rid": (1, 1)},
    )
    path = str(tmp_path / "t")
    foreign = minitable.read(spark, other)  # carries g/rid field metadata
    assert foreign.schema["g"].metadata.get("generated")
    minitable.write(spark, foreign, path, "overwrite")
    assert minitable.table_generated(path) == {}
    assert minitable.table_identity(path) == {}
    # a later writer may freely supply both columns (no foreign ALWAYS)
    minitable.write(
        spark,
        spark.createDataFrame([(100, 7, 9)], "k bigint, g bigint, rid bigint"),
        path, "append",
    )
    assert minitable.read(spark, path).where("k = 100").count() == 1

    # (b) empty identity append: no hwm record, commutes with allocators
    idt = str(tmp_path / "idt")
    df = spark.range(10).withColumn("v", F.lit(1.0)).withColumnRenamed("id", "k")
    minitable.write(
        spark, df.coalesce(1), idt, "overwrite", identity={"rid": (1, 1)},
        stats_cols=["k"],
    )
    hwm0 = minitable.table_identity_hwm(idt)
    minitable.write(spark, df.where("1 = 0").coalesce(1), idt, "append")
    head = minitable.versions(idt)[-1]
    with open(minitable._version_file(idt, head)) as fh:
        assert "identity_hwm" not in json.load(fh)
    assert minitable.table_identity_hwm(idt) == hwm0

    # the empty append REBASES over a concurrent allocating append
    real_commit = minitable.commit
    state = {"fired": False}

    def racing(p, action, added, **kw):
        if not state["fired"] and kw.get("expected_version") is not None:
            state["fired"] = True
            minitable.write(
                spark,
                spark.range(50, 55).withColumn("v", F.lit(2.0))
                .withColumnRenamed("id", "k").coalesce(1),
                p, "append", stats_cols=["k"],
            )
        return real_commit(p, action, added, **kw)

    monkeypatch.setattr(minitable, "commit", racing)
    minitable.write(spark, df.where("1 = 0").coalesce(1), idt, "append")
    monkeypatch.setattr(minitable, "commit", real_commit)
    got = minitable.read(spark, idt)
    assert got.count() == 15
    rids = [r["rid"] for r in got.collect()]
    assert len(set(rids)) == 15 and max(rids) == 15  # dense, no collision

    # an empty OVERWRITE with identity still records the mark reset
    empty_ow = str(tmp_path / "eo")
    minitable.write(
        spark, df.where("1 = 0").coalesce(1), empty_ow, "overwrite",
        identity={"rid": (100, 3)},
    )
    assert minitable.table_identity_hwm(empty_ow) == {"rid": 97}  # start - step
    minitable.write(spark, df.coalesce(1), empty_ow, "append")
    assert sorted(
        r["rid"] for r in minitable.read(spark, empty_ow).collect()
    ) == [100 + 3 * i for i in range(10)]


def test_minitable_cluster_keys_recorded_and_maintained(spark, tmp_path):
    """Recorded CLUSTERING KEYS (Delta's liquid pattern): zorder()
    records its `by` list in the log; OPTIMIZE then folds streaming
    dribble back into the curve instead of first-fit packing (summary
    carries `clustered_by`, pruning on BOTH dims survives compaction);
    the keys ride checkpoints, follow renames, refuse drops, carry
    through restore and clone, and reset on overwrite."""
    import pytest
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    grid = (
        spark.range(4096)
        .withColumn("x", (F.col("id") % 64).cast("long"))
        .withColumn("y", (F.col("id") / 64).cast("long"))
        .withColumnRenamed("id", "k")
        .repartition(16)
    )
    minitable.write(spark, grid, path, "overwrite", stats_cols=["x", "y"])
    assert minitable.table_cluster_by(path) is None
    res = minitable.zorder(spark, path, by=["x", "y"], n_files=16)
    zv = res["version"]
    assert minitable.table_cluster_by(path) == ["x", "y"]
    # DESCRIBE HISTORY surfaces the declared keys
    hv = {r["version"]: r["cluster_by"] for r in minitable.history(spark, path).collect()}
    assert hv[zv] == "x,y" and hv[0] is None

    # streaming dribble: six small unclustered appends
    for i in range(6):
        part = (
            spark.range(10_000 + i * 100, 10_100 + i * 100)
            .withColumn("x", (F.col("id") % 64).cast("long"))
            .withColumn("y", ((F.col("id") * 7) % 64).cast("long"))
            .withColumnRenamed("id", "k")
            .coalesce(1)
        )
        minitable.write(spark, part, path, "append", stats_cols=["x", "y"])
    import os

    # threshold = the smallest z file: no z file is strictly below it,
    # every 100-row dribble file is — robust to range-partition split
    # variance (review r10)
    z_sizes = [
        os.path.getsize(f) for f in minitable.snapshot(path, res["version"])
    ]
    res2 = minitable.optimize(
        spark, path, small_bytes=min(z_sizes), target_bytes=1 << 22
    )
    assert res2 is not None and res2["clustered_by"] == ["x", "y"], res2
    assert res2["n_small"] == 6
    # compaction preserved the clustered layout: both dims still prune
    for w in ([("x", ">=", 8), ("x", "<=", 15)], [("y", ">=", 8), ("y", "<=", 15)]):
        kept, total = minitable.prune(path, w)
        assert len(kept) * 2 <= total, (w, len(kept), total)
    assert minitable.read(spark, path).count() == 4096 + 600

    # keys fold into checkpoints (accessor stops at the ckpt, still right)
    minitable.checkpoint(path)
    minitable.write(
        spark,
        spark.range(20_000, 20_010).withColumn("x", F.lit(0).cast("long"))
        .withColumn("y", F.lit(0).cast("long")).withColumnRenamed("id", "k")
        .coalesce(1),
        path, "append",
    )
    assert minitable.table_cluster_by(path) == ["x", "y"]

    # rename follows the key; drop of a key is refused
    minitable.rename_column(path, "y", "y2")
    assert minitable.table_cluster_by(path) == ["x", "y2"]
    with pytest.raises(ValueError, match="clustering key"):
        minitable.drop_column(path, "x")

    # clone carries the era's keys; restore rolls them back
    cl = str(tmp_path / "cl")
    minitable.clone(path, cl)
    assert minitable.table_cluster_by(cl) == ["x", "y2"]
    minitable.restore(path, zv)
    assert minitable.table_cluster_by(path) == ["x", "y"]

    # overwrite resets: the next optimize bin-packs (no clustered_by)
    minitable.write(
        spark, grid.limit(100), path, "overwrite", stats_cols=["x"]
    )
    assert minitable.table_cluster_by(path) is None


def test_minitable_clustered_optimize_wide_key_budget(spark, tmp_path):
    """Review r10: a WIDE recorded key list (16 columns) zordered with
    coarse buckets must not overflow the 63-bit Morton budget when the
    clustering-aware OPTIMIZE later picks its own bucket count — 16
    keys x the old hardcoded 4 bits = 64 bits, which Java shift-masks
    into silent curve garbage.  The adaptive sizing stays inside the
    budget and the compaction still reports the full key list."""
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    cols = [f"c{i}" for i in range(16)]
    df = spark.range(2000).withColumnRenamed("id", "k")
    for i, c in enumerate(cols):
        df = df.withColumn(c, ((F.col("k") * (i + 3)) % 50).cast("long"))
    minitable.write(
        spark, df.repartition(4), path, "overwrite", stats_cols=cols[:2]
    )
    res = minitable.zorder(spark, path, by=cols, buckets=2, n_files=4)
    assert res is not None and minitable.table_cluster_by(path) == cols
    import os

    z_sizes = [os.path.getsize(f) for f in minitable.snapshot(path)]
    for j in range(2):  # two small dribble files
        part = spark.range(9000 + j * 50, 9050 + j * 50).withColumnRenamed("id", "k")
        for i, c in enumerate(cols):
            part = part.withColumn(c, ((F.col("k") * (i + 3)) % 50).cast("long"))
        minitable.write(spark, part.coalesce(1), path, "append", stats_cols=cols[:2])
    res2 = minitable.optimize(
        spark, path, small_bytes=min(z_sizes), target_bytes=1 << 22
    )
    assert res2 is not None and res2["clustered_by"] == cols, res2
    assert res2["n_small"] == 2
    assert minitable.read(spark, path).count() == 2100
    # and the shared writer itself refuses an over-budget request
    import pytest

    with pytest.raises(ValueError, match="63 bits"):
        minitable._stage_zordered(
            spark, path, minitable.read(spark, path), cols, 32, 2, {}, None, 2100
        )


def test_minitable_stream_cdf_mode(spark, tmp_path):
    """CDC streaming (mode=cdf — Delta's streaming readChangeFeed): the
    initial batch is the snapshot as inserts (DV-filtered), appends
    stream as inserts, explicit-CDF merge/replace_where commits stream
    their change files verbatim (the executor-per-file split, no
    joins), maintenance commits are skipped, the drained rows equal the
    batch change_feed exactly, a checkpoint replay re-plans identical
    rows, predicate deletes stream reconstructed (r11 — no longer a
    refusal), and overwrite/CDF-less-merge commits still refuse."""
    import pytest
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable, minitable_stream

    minitable_stream.register(spark)
    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    df = (
        spark.range(100)
        .withColumn("v", F.col("id") * 1.0)
        .withColumnRenamed("id", "k")
    )
    # pre-stream DV delete: the snapshot must not stream dead rows
    minitable.write(spark, df.coalesce(1), path, "overwrite", stats_cols=["k"])
    minitable.delete_dv(spark, path, [("k", ">=", 90)])

    def drain():
        batch = []

        def sink(bdf, _bid):
            batch.extend(tuple(r) for r in bdf.collect())

        q = (
            spark.readStream.format("tinymr_minitable_stream")
            .option("path", path).option("columns", "k,v")
            .option("mode", "cdf").load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return batch

    b1 = drain()
    assert len(b1) == 90  # DV-dead rows never stream
    assert {r[2] for r in b1} == {"insert"} and {r[3] for r in b1} == {1}

    # v2+v3 appends, v4 optimize (skipped), v5 merge+cdf, v6 replace_where
    minitable.write(
        spark, spark.range(200, 210).withColumn("v", F.lit(5.0))
        .withColumnRenamed("id", "k").coalesce(1), path, "append",
        stats_cols=["k"],
    )
    minitable.write(
        spark, spark.range(210, 215).withColumn("v", F.lit(6.0))
        .withColumnRenamed("id", "k").coalesce(1), path, "append",
        stats_cols=["k"],
    )
    assert minitable.optimize(
        spark, path, small_bytes=1 << 20, target_bytes=1 << 26
    ) is not None
    src = spark.createDataFrame([(0, 99.0), (500, 1.0)], "k bigint, v double")
    minitable.merge(spark, src, path, "k", stats_cols=["k"], collect_cdf=True)
    minitable.replace_where(
        spark, spark.createDataFrame([(205, -1.0)], "k bigint, v double"),
        path, [("k", "=", 205)], stats_cols=["k"],
    )
    b2 = drain()
    head = minitable.versions(path)[-1]
    feed = minitable.change_feed(spark, path, 1, head).select(
        "k", "v", "_change_type", "_commit_version"
    )
    assert sorted(b2) == sorted(tuple(r) for r in feed.collect())

    # a FRESH subscription's first batch is the snapshot at head, as
    # inserts (startingVersion semantics) — never a history replay
    import shutil

    shutil.rmtree(ckpt)
    b_all = drain()
    assert len(b_all) == minitable.read(spark, path).count()
    assert {r[2] for r in b_all} == {"insert"}
    assert {r[3] for r in b_all} == {head}

    # a predicate delete (no explicit CDF) STREAMS its deletes,
    # reconstructed executor-side from the removed files filtered to
    # the recorded conjunction (r11 — was a refusal before)
    dres = minitable.delete(spark, path, [("k", "<", 3)], stats_cols=["k"])
    b3 = drain()
    feed3 = minitable.change_feed(spark, path, head, dres[0]).select(
        "k", "v", "_change_type", "_commit_version"
    )
    assert sorted(b3) == sorted(tuple(r) for r in feed3.collect())
    assert {r[2] for r in b3} == {"delete"}
    assert sorted(r[0] for r in b3) == [0, 1, 2]
    # an overwrite mid-stream refuses with FRESH-SUBSCRIPTION advice
    # (batch change_feed can't serve it either — different guidance)
    shutil.rmtree(ckpt)
    drain()  # fresh subscription snapshots the current table
    minitable.write(spark, df.coalesce(1), path, "overwrite")
    with pytest.raises(Exception, match="fresh checkpoint"):
        drain()
    # ...but the append-only mode contract is untouched: fresh checkpoint
    shutil.rmtree(ckpt)
    with pytest.raises(Exception, match="rewritten"):
        batch = []

        def sink2(bdf, _bid):
            batch.extend(bdf.collect())

        q = (
            spark.readStream.format("tinymr_minitable_stream")
            .option("path", path).option("columns", "k,v").load()
            .writeStream.foreachBatch(sink2)
            .option("checkpointLocation", str(tmp_path / "ck2"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        # the initial snapshot batch succeeds; a NEW delete mid-stream
        # then hits the rewrite rule on the next drain (k < 5 matches
        # rows of the overwritten table above)
        minitable.delete(spark, path, [("k", "<", 5)], stats_cols=["k"])
        q2 = (
            spark.readStream.format("tinymr_minitable_stream")
            .option("path", path).option("columns", "k,v").load()
            .writeStream.foreachBatch(sink2)
            .option("checkpointLocation", str(tmp_path / "ck2"))
            .trigger(availableNow=True).start()
        )
        q2.awaitTermination()


def test_minitable_rebase_conflicts_on_concurrent_contract_change(spark, tmp_path):
    """ADVICE r10: a NON-schema-recording commit (plain merge/delete
    plan) must refuse to auto-rebase across a concurrent commit whose
    schema changed the generated/identity contract — the staged rows
    were validated under the old contract and would serve NULL for a
    GENERATED-ALWAYS column added concurrently."""
    import pytest

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k bigint, v double")
    minitable.write(spark, df, path, "overwrite")  # v0
    # concurrent writer evolves the contract: a new GENERATED column
    df2 = spark.createDataFrame([(3, 30.0)], "k bigint, v double")
    minitable.write(
        spark, df2, path, merge_schema=True, generated={"v2": "v * 2"}
    )  # v1 records a schema whose generated map differs from v0's
    # our plan was made against v0 and records NO schema of its own —
    # before the fix this auto-rebased and landed rows without v2
    with pytest.raises(minitable.CommitConflict, match="generated/identity"):
        minitable._commit_serializable(
            path, added=[], removed=[], read_version=0, guard_where=None,
            action="merge",
        )
    # same rebase against a contract-NEUTRAL intervening commit commutes
    path2 = str(tmp_path / "t2")
    minitable.write(spark, df, path2, "overwrite")  # v0
    minitable.write(spark, df2, path2)  # v1: plain append, same contract
    v = minitable._commit_serializable(
        path2, added=[], removed=[], read_version=0, guard_where=None,
        action="merge",
    )
    assert v == 2


def test_minitable_identity_assignment_diverged_recompute_fails_loudly(
    spark, tmp_path, monkeypatch,
):
    """ADVICE r10: if the pinned frame recomputes with MORE rows in a
    partition than the driver counted (cache eviction + nondeterministic
    upstream), assignment past the partition's allotment would hand out
    duplicate ids from the next range — the assign pass must fail the
    job instead.  Simulated deterministically by doctoring the count
    collect to undercount by one."""
    import pytest
    from pyspark.sql import Row

    # patch the CONCRETE class (pyspark.sql.DataFrame is the abstract
    # dispatcher in Spark 4 — its .collect is overridden per backend)
    from pyspark.sql.classic.dataframe import DataFrame

    from tinymr_spark.sources.minitable import _assign_identity

    df = spark.createDataFrame([(i,) for i in range(20)], "k bigint").repartition(4)
    real_collect = DataFrame.collect

    def undercount(self):
        rows = real_collect(self)
        return [
            Row(__pid=r["__pid"], n=max(0, r["n"] - 1)) for r in rows
        ]

    with monkeypatch.context() as m:
        m.setattr(DataFrame, "collect", undercount)
        out, _last, pin = _assign_identity(df, "id", 1, 1)
    try:
        with pytest.raises(Exception, match="identity assignment diverged"):
            out.collect()
    finally:
        pin.unpersist(False)


def test_minitable_plain_append_inherits_partition_layout(spark, tmp_path, monkeypatch):
    """ADVICE r10: an append that does not name a layout inherits the
    table's recorded partition_by — its files stage hive-laid with exact
    partition stats, so later retention deletes stay metadata-only.
    Passing partition_by=None explicitly still forces flat staging."""
    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(k, k % 3, float(k)) for k in range(12)], "k bigint, om bigint, v double"
    )
    minitable.write(
        spark, df.repartition("om"), path, "overwrite", partition_by=["om"]
    )
    # plain append: no partition_by argument at all
    df2 = spark.createDataFrame([(100, 0, 1.0), (101, 1, 2.0)],
                                "k bigint, om bigint, v double")
    v1 = minitable.write(spark, df2, path)
    import json as _json
    with open(minitable._version_file(path, v1)) as f:
        rec = _json.load(f)
    assert all("__p_om=" in r for r in rec["added"]), rec["added"]
    assert rec.get("partition_by") == ["om"]

    # retention delete spanning old AND appended files stays metadata-only
    with monkeypatch.context() as m:
        def _no_reads(*_a, **_k):
            raise AssertionError("data file read during partition-drop delete")

        m.setattr(minitable, "_read_files_dv", _no_reads)
        m.setattr(minitable, "_read_files", _no_reads)
        res = minitable.delete(spark, path, [("om", "=", 0)])
    assert res[1]["rewritten"] == 0 and res[1]["dropped_whole"] > 0
    assert {r["om"] for r in minitable.read(spark, path).collect()} == {1, 2}

    # explicit None opts OUT of the inheritance (the documented override)
    path2 = str(tmp_path / "t2")
    minitable.write(
        spark, df.repartition("om"), path2, "overwrite", partition_by=["om"]
    )
    v2 = minitable.write(spark, df2, path2, partition_by=None)
    with open(minitable._version_file(path2, v2)) as f:
        rec2 = _json.load(f)
    assert not any("__p_om=" in r for r in rec2["added"]), rec2["added"]


def test_minitable_stream_cdc_reconstructs_full_dml(spark, tmp_path):
    """r11: the CDC stream reconstructs commits that wrote NO change
    data — predicate deletes (removed files re-filtered executor-side,
    minus rows an earlier DV already killed) and DV commits (whole-drop
    live rows + per-file vector DIFFS) — and equals the batch
    change_feed row-for-row across the full history.  A materialized DV
    delete (rewrite minus vector) and an update without collect_cdf
    (still no feed anywhere) are pinned too."""
    import pytest
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable, minitable_stream

    minitable_stream.register(spark)
    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 7).cast("double").alias("v")
    )
    minitable.write(spark, df.repartition(4), path, "overwrite", stats_cols=["k"])

    def drain():
        batch = []

        def sink(bdf, _bid):
            batch.extend(tuple(r) for r in bdf.collect())

        q = (
            spark.readStream.format("tinymr_minitable_stream")
            .option("path", path).option("columns", "k,v")
            .option("mode", "cdf").load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return batch

    drain()  # snapshot
    minitable.write(
        spark,
        spark.createDataFrame([(200, 1.0), (201, 2.0)], "k bigint, v double"),
        path,
    )  # v1 append
    minitable.delete_dv(spark, path, [("k", "in", [3, 5, 8, 201])])  # v2
    # v3: predicate delete whose removed files hold rows v2 already
    # killed (3, 5, 8) — the reconstruction must NOT re-delete them
    minitable.delete(spark, path, [("k", "<", 30)], stats_cols=["k"])
    # v4: second DV commit — its feed is the DIFF vs v2's vectors
    minitable.delete_dv(spark, path, [("k", "in", [40, 41])])
    b = drain()
    head = minitable.versions(path)[-1]
    feed = minitable.change_feed(spark, path, 0, head).select(
        "k", "v", "_change_type", "_commit_version"
    )
    assert sorted(b) == sorted(tuple(r) for r in feed.collect())
    d3 = [r for r in b if r[3] == 3]
    assert all(r[2] == "delete" and r[0] < 30 for r in d3)
    assert not any(r[0] in (3, 5, 8) for r in d3), "DV-dead rows re-deleted"
    assert sorted(r[0] for r in b if r[3] == 2) == [3, 5, 8, 201]
    assert sorted(r[0] for r in b if r[3] == 4) == [40, 41]

    # materialized DV delete (rewrite-minus-vector): file appears in
    # BOTH removed and dv — deletes are exactly the newly-marked rows
    res = minitable.delete_dv(
        spark, path, [("k", "in", [50, 51])], materialize_fraction=1.0
    )
    assert res is not None and res[1]["rows_marked"] == 2
    b2 = drain()
    assert sorted(r[0] for r in b2) == [50, 51]
    assert {r[2] for r in b2} == {"delete"}

    # an update WITHOUT collect_cdf has no row-level feed anywhere —
    # the stream refuses exactly like batch change_feed
    minitable.update(spark, path, {"v": "v + 1"}, [("k", "=", 60)])
    with pytest.raises(Exception, match="collect_cdf"):
        drain()


def test_minitable_stream_cdc_predicate_ops_and_mapping(spark, tmp_path):
    """The reconstruction's arrow-mask predicate evaluation matches the
    delete's own Spark filter across the op surface (in / is_null /
    range), through a COLUMN RENAME (predicates are recorded physical),
    and on pre-evolution files that lack the predicate column (NULL
    semantics: no match)."""
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable, minitable_stream

    minitable_stream.register(spark)
    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    df = spark.createDataFrame(
        [(k, None if k % 10 == 0 else float(k)) for k in range(40)],
        "k bigint, v double",
    )
    minitable.write(spark, df.repartition(2), path, "overwrite", stats_cols=["k"])
    minitable.rename_column(path, "k", "kk")  # predicates stay physical

    def drain(cols):
        batch = []

        def sink(bdf, _bid):
            batch.extend(tuple(r) for r in bdf.collect())

        q = (
            spark.readStream.format("tinymr_minitable_stream")
            .option("path", path).option("columns", cols)
            .option("mode", "cdf").load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return batch

    drain("kk,v")  # snapshot
    # is_null delete: the 10s (v IS NULL)
    minitable.delete(spark, path, [("v", "is_null", None)])
    # in + range on the RENAMED column
    minitable.delete(spark, path, [("kk", "in", [7, 8, 9]), ("kk", ">=", 8)])
    b = drain("kk,v")
    head = minitable.versions(path)[-1]
    feed = minitable.change_feed(spark, path, 0, head).select(
        "kk", "v", "_change_type", "_commit_version"
    )
    assert sorted(b) == sorted(tuple(r) for r in feed.collect())
    # version numbering: v1 is the rename's meta commit
    assert sorted(r[0] for r in b if r[3] == 2) == [0, 10, 20, 30]
    assert sorted(r[0] for r in b if r[3] == 3) == [8, 9]

    # pre-evolution files lack an evolved column: a predicate on it
    # reconstructs NULL semantics (rows in old files never match)
    minitable.write(
        spark,
        spark.createDataFrame([(100, 1.0, "x"), (101, 2.0, "y")],
                              "kk bigint, v double, tag string"),
        path, merge_schema=True,
    )
    drain("kk,v")
    minitable.delete(spark, path, [("tag", "=", "x")])
    b3 = drain("kk,v")
    assert [(r[0], r[2]) for r in b3] == [(100, "delete")]


def test_minitable_row_tracking(spark, tmp_path):
    """write(row_tracking=True): a hidden, stable `_row_id` (Delta's
    row-id feature) — dense 1..n at creation, hidden from read() unless
    row_ids=True, preserved by update/merge-matched/optimize rewrites,
    fresh ids for merge inserts and appends, writer-supplied values
    refused, era ids served by time travel."""
    import pytest
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    df = spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 2.0).alias("v"))
    minitable.write(
        spark, df.repartition(3), path, "overwrite",
        stats_cols=["k"], row_tracking=True,
    )
    assert minitable.read(spark, path).columns == ["k", "v"]  # hidden
    r0 = {r["k"]: r["_row_id"]
          for r in minitable.read(spark, path, row_ids=True).collect()}
    assert sorted(r0.values()) == list(range(1, 51))  # dense

    minitable.update(spark, path, {"v": "v + 100"}, [("k", "<", 10)])
    r1 = {r["k"]: r["_row_id"]
          for r in minitable.read(spark, path, row_ids=True).collect()}
    assert r1 == r0, "update moved row ids"

    src = spark.createDataFrame(
        [(5, 999.0), (100, 1.0), (101, 2.0)], "k bigint, v double"
    )
    minitable.merge(spark, src, path, "k", stats_cols=["k"])
    r2 = {r["k"]: r["_row_id"]
          for r in minitable.read(spark, path, row_ids=True).collect()}
    assert all(r2[k] == r0[k] for k in r0), "merge moved matched ids"
    assert sorted(r2[k] for k in (100, 101)) == [51, 52]  # fresh, dense

    minitable.optimize(spark, path, small_bytes=1 << 20, target_bytes=1 << 26)
    r3 = {r["k"]: r["_row_id"]
          for r in minitable.read(spark, path, row_ids=True).collect()}
    assert r3 == r2, "optimize moved row ids"

    minitable.write(  # plain append continues the sequence
        spark, spark.createDataFrame([(200, 1.0)], "k bigint, v double"), path
    )
    r4 = {r["k"]: r["_row_id"]
          for r in minitable.read(spark, path, row_ids=True).collect()}
    assert r4[200] == 53

    # GENERATED ALWAYS: a batch carrying _row_id is refused — including
    # the roundtrip footgun (read(row_ids=True) piped back into write)
    with pytest.raises(ValueError, match="_row_id|GENERATED ALWAYS"):
        minitable.write(spark, minitable.read(spark, path, row_ids=True), path)

    # time travel serves the creation era's ids
    rv0 = {r["k"]: r["_row_id"]
           for r in minitable.read(spark, path, 0, row_ids=True).collect()}
    assert rv0 == r0


def test_minitable_inherited_layout_tolerates_column_omitting_append(spark, tmp_path):
    """Review r11: a merge_schema append that legitimately OMITS the
    table's partition column (readers serve NULL) must not crash on the
    inherited layout — it falls back to flat staging, exactly the
    pre-inheritance behavior.  A caller-NAMED layout still fails loudly."""
    import pytest

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(k, k % 2, float(k)) for k in range(8)], "k bigint, om bigint, v double"
    )
    minitable.write(spark, df.repartition("om"), path, "overwrite",
                    partition_by=["om"])
    narrow = spark.createDataFrame([(100, 1.0, "x")],
                                   "k bigint, v double, tag string")
    v = minitable.write(spark, narrow, path, merge_schema=True)
    import json as _json
    with open(minitable._version_file(path, v)) as f:
        rec = _json.load(f)
    assert not any("__p_om=" in r for r in rec["added"])  # flat fallback
    rows = {r["k"]: r["om"] for r in minitable.read(spark, path).collect()}
    assert rows[100] is None and rows[0] == 0
    # naming the layout explicitly still requires the column
    with pytest.raises(Exception):
        minitable.write(
            spark, narrow, path, merge_schema=True, partition_by=["om"]
        )


def test_retire_artifact_roots_sweeps_legacy_names(spark, tmp_path):
    """Review r11: tag bumps / staging-kind renames orphan the old
    names' trees and catalog tables; the sweep removes exactly them."""
    import os

    from tinymr_spark.sources import (
        retire_artifact_roots,
        staging_root,
    )

    legacy_idx = staging_root("tinymr_spark_index_zzz_legacy_tag")
    os.makedirs(os.path.join(legacy_idx, "abc"), exist_ok=True)
    keep_idx = staging_root("tinymr_spark_index_zzz_legacy_tag2")
    os.makedirs(keep_idx, exist_ok=True)
    spark.createDataFrame([(1,)], "a int").createOrReplaceTempView("tv_keep")
    spark.sql(
        "CREATE TABLE idx_zzz_legacy_tag_abc (a int) USING parquet "
        f"LOCATION '{tmp_path / 'legacy_idx_table'}'"
    )
    legacy_kind_root = staging_root("zzz_legacy_kind")
    os.makedirs(legacy_kind_root, exist_ok=True)

    retire_artifact_roots(
        spark, index_tags=("zzz_legacy_tag",), staging_kinds=("zzz_legacy_kind",)
    )
    assert not os.path.exists(legacy_idx)
    assert os.path.isdir(keep_idx)  # the bumped name is untouched
    assert not os.path.exists(legacy_kind_root)
    assert spark.catalog.tableExists("tv_keep")
    assert not spark.catalog.tableExists("idx_zzz_legacy_tag_abc")
    os.rmdir(keep_idx)


def test_minitable_stream_admission_control(spark, tmp_path):
    """startingVersion (int and `latest`) + maxFilesPerTrigger (r11 —
    Delta's stream admission options): history starts where asked, the
    snapshot never streams when a version is named, `latest` skips all
    history, and a file budget splits the backlog into bounded
    micro-batches (file-granular as of r12 — one-file commits still
    land one per batch)."""
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable, minitable_stream

    minitable_stream.register(spark)
    table = str(tmp_path / "t")
    minitable.write(
        spark, spark.range(0, 10).select(F.col("id").alias("k")), table,
        "overwrite",
    )
    for i in range(1, 5):  # v1..v4 appends, 5 rows each, ONE file each
        minitable.write(
            spark,
            spark.range(100 * i, 100 * i + 5)
            .select(F.col("id").alias("k")).coalesce(1),
            table,
        )

    def drain(opts, ckpt):
        batches = []

        def sink(bdf, bid):
            rows = [r["k"] for r in bdf.collect()]
            if rows:
                batches.append((bid, sorted(rows)))

        reader = (
            spark.readStream.format("tinymr_minitable_stream")
            .option("path", table).option("columns", "k")
        )
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (
            reader.load().writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(processingTime="100 milliseconds").start()
        )
        q.processAllAvailable()
        q.stop()
        return batches

    # startingVersion=2: exactly commits 2..4, no snapshot
    b = drain({"startingVersion": "2"}, "ck1")
    got = sorted(k for _b, rows in b for k in rows)
    assert got == sorted(
        list(range(200, 205)) + list(range(300, 305)) + list(range(400, 405))
    ), got

    # startingVersion=latest: empty until a NEW commit, then only it
    assert drain({"startingVersion": "latest"}, "ck2") == []
    minitable.write(
        spark,
        spark.range(900, 902).select(F.col("id").alias("k")).coalesce(1),
        table,
    )  # v5
    b = drain({"startingVersion": "latest"}, "ck2")  # same checkpoint
    assert sorted(k for _b, rows in b for k in rows) == [900, 901]

    # maxFilesPerTrigger=1 over one-file commits: one commit per
    # micro-batch (5 batches v1..v5)
    b = drain({"startingVersion": "1", "maxFilesPerTrigger": "1"}, "ck3")
    assert len(b) == 5, [x[0] for x in b]
    assert [len(rows) for _b, rows in b] == [5, 5, 5, 5, 2]

    # snapshot mode + limit: the budgeted snapshot SPLITS file-granular
    # (r12 — Delta's file-granular initial-snapshot offsets); total
    # content equals the live table, each batch is one file, and the
    # batch count is exactly the live-file + backlog-file count
    b = drain({"maxFilesPerTrigger": "1"}, "ck4")
    assert sum(len(r) for _b, r in b) == minitable.read(spark, table).count()
    import pyarrow.parquet as pq

    n_nonempty = sum(
        1 for f in minitable.snapshot(table)
        if pq.ParquetFile(f).metadata.num_rows > 0
    )
    assert len(b) == n_nonempty, (len(b), n_nonempty)

    # bad inputs fail loudly
    import pytest

    with pytest.raises(Exception, match="positive"):
        drain({"maxFilesPerTrigger": "0"}, "ck5")
    with pytest.raises(Exception, match="outside"):
        drain({"startingVersion": "99"}, "ck6")


def test_minitable_stream_admission_survives_restart(spark, tmp_path):
    """A rate-limited subscription stopped mid-backlog resumes from its
    checkpoint with no loss and no duplicates — the first post-restart
    batch may be unbounded (documented: the Python DataSource API hides
    the checkpoint from latestOffset), but offset replay purity holds."""
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable, minitable_stream

    minitable_stream.register(spark)
    table = str(tmp_path / "t")
    ckpt = str(tmp_path / "ck")
    minitable.write(
        spark, spark.range(0, 4).select(F.col("id").alias("k")), table,
        "overwrite",
    )
    for i in range(1, 7):  # v1..v6
        minitable.write(
            spark,
            spark.range(100 * i, 100 * i + 3).select(F.col("id").alias("k")),
            table,
        )

    seen: list[tuple[int, list[int]]] = []
    trip = {"armed": True}  # induce a DETERMINISTIC mid-backlog stop

    def start():
        def sink(bdf, bid):
            # foreachBatch contract: the last in-flight batch REPLAYS
            # with its original id after a restart — sinks dedupe by it
            if any(b == bid for b, _rows in seen):
                return
            if trip["armed"] and len(seen) >= 2:
                # fail the query BEFORE landing the third batch: the
                # stop point is exact, not a race against the trigger
                # cadence (review r11 4th pass — a poll+stop window
                # flaked when batches drained between poll and stop)
                raise RuntimeError("induced mid-backlog failure")
            rows = sorted(r["k"] for r in bdf.collect())
            if rows:
                seen.append((bid, rows))

        return (
            spark.readStream.format("tinymr_minitable_stream")
            .option("path", table).option("columns", "k")
            .option("startingVersion", "1")
            .option("maxFilesPerTrigger", "1")
            .load().writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="100 milliseconds").start()
        )

    # drain exactly TWO batches, then die mid-backlog
    import pytest

    q = start()
    with pytest.raises(Exception, match="induced"):
        q.processAllAvailable()
    q.stop()
    assert len(seen) == 2, seen  # mid-backlog, deterministic

    # resume: the union must be exactly v1..v6's rows, each once (the
    # failed batch replays under its original id; dedupe absorbs it)
    trip["armed"] = False
    q2 = start()
    q2.processAllAvailable()
    q2.stop()
    got = sorted(k for _b, rows in seen for k in rows)
    want = sorted(k for i in range(1, 7) for k in range(100 * i, 100 * i + 3))
    assert got == want, (got, want)


def test_minitable_stream_admission_cdf_reconstruction_budget(spark, tmp_path):
    """r11 4th pass, updated for r12's file-granular offsets: admission
    control over a CDC history whose commits need RECONSTRUCTION —
    explicit-CDF merge, predicate delete, DV delete with
    materialization — must (a) count each commit's planned partitions
    exactly (a materialized file sits in both `removed` and the dv map
    but plans once), (b) at budget 1 admit ONE planned file per
    micro-batch — splitting multi-file commits, never spanning two
    commits — and (c) equal the batch change feed row-for-row.  Also
    pins startingVersion=0 as FULL HISTORY REPLAY (not snapshot): the
    build starts from an APPEND v0 so the whole log is replayable."""
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable, minitable_stream

    minitable_stream.register(spark)
    table = str(tmp_path / "t")
    # v0 is an APPEND (not overwrite) so startingVersion=0 can replay it
    minitable.write(
        spark,
        spark.range(0, 40).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
        .repartition(2),
        table, stats_cols=["k"],
    )
    src = spark.createDataFrame([(1, 99.0), (100, 1.0)], "k bigint, v double")
    minitable.merge(spark, src, table, "k", stats_cols=["k"], collect_cdf=True)  # v1
    minitable.delete(spark, table, [("k", "<", 5)], stats_cols=["k"])  # v2
    minitable.delete_dv(  # v3: marks + materializes (removed ∩ dv nonempty)
        spark, table, [("k", "in", [20, 21, 22])], materialize_fraction=0.0001
    )

    batches = []

    def sink(bdf, bid):
        rows = [tuple(r) for r in bdf.collect()]
        if rows:
            batches.append((bid, rows))

    q = (
        spark.readStream.format("tinymr_minitable_stream")
        .option("path", table).option("columns", "k,v")
        .option("mode", "cdf")
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "1")
        .load().writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="100 milliseconds").start()
    )
    q.processAllAvailable()
    q.stop()
    # budget 1 = one PLANNED FILE per micro-batch (r12 file-granular
    # offsets): a batch never spans two commits, versions only move
    # forward, and a multi-file commit takes as many non-empty batches
    # as its planned files carrying rows — v0's two-file append MUST
    # split in two
    import json as _json

    from tinymr_spark.sources.minitable_stream import MinitableStreamReader

    probe = MinitableStreamReader(
        {"path": table, "columns": "k,v", "mode": "cdf"}
    )
    planned = {
        v: probe._batch_files(
            _json.load(open(minitable._version_file(table, v)))
        )
        for v in range(4)
    }
    per_batch_versions = [
        {r[3] for r in rows} for _bid, rows in batches
    ]
    assert all(len(vs) == 1 for vs in per_batch_versions), per_batch_versions
    seq = [sorted(vs)[0] for vs in per_batch_versions]
    assert seq == sorted(seq), seq  # versions never move backward
    from collections import Counter

    per_version_batches = Counter(seq)
    assert per_version_batches[0] == 2, (per_version_batches, planned)
    assert planned[0] == 2, planned
    for v, n in per_version_batches.items():
        assert n <= planned[v], (v, n, planned)
    got = sorted(r for _bid, rows in batches for r in rows)
    # batch feed over the replayable history: change_feed needs
    # from_version in the log, so v0's slice (all 40 inserts) is
    # composed manually beside feed(0, 3)
    head_feed = minitable.change_feed(spark, table, 0, 3).select(
        "k", "v", "_change_type", "_commit_version"
    )
    want = sorted(
        [tuple(r) for r in head_feed.collect()]
        + [(k, float(k), "insert", 0) for k in range(40)]
    )
    assert got == want, (got[:5], want[:5])


def _read_rows(reader, p):
    """Flatten one partition's read() output to tuples — the reader
    yields Arrow RecordBatches on its hot path (r12) and tuples on the
    fallback; the engine accepts both, tests normalize here."""
    out = []
    for item in reader.read(p):
        if hasattr(item, "to_pylist"):  # Arrow RecordBatch path
            out.extend(tuple(d.values()) for d in item.to_pylist())
        else:
            out.append(tuple(item))
    return out


def _drive_reader(reader, max_triggers=200):
    """Simulate the engine's trigger loop against a reader directly:
    initialOffset, then latestOffset until it stops moving, collecting
    each (start, end] batch's partitions and rows — exact, cheap
    offset-algebra pins without a streaming query's wall-clock."""
    def _rows(p):
        return _read_rows(reader, p)

    offs = [reader.initialOffset()]
    batches = []  # (start, end, [partitions], [rows])
    for _ in range(max_triggers):
        end = reader.latestOffset()
        if end == offs[-1]:
            break
        parts = reader.partitions(offs[-1], end)
        rows = [t for p in parts for t in _rows(p)]
        reader.commit(end)
        batches.append((offs[-1], end, [p for p in parts if p.path], rows))
        offs.append(end)
    else:
        raise AssertionError("reader never converged")
    return offs, batches


def test_minitable_stream_file_granular_offsets(spark, tmp_path):
    """r12: maxFilesPerTrigger splits MULTI-FILE commits across
    micro-batches with file-granular offsets ({"v": N, "f": K}) instead
    of admitting whole commits — each batch plans at most the budget,
    a batch never spans a commit boundary mid-file-list ambiguously,
    and the union over all batches is exactly-once."""
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable
    from tinymr_spark.sources.minitable_stream import MinitableStreamReader

    table = str(tmp_path / "t")
    minitable.write(  # v0: 1 file
        spark, spark.range(0, 5).select(F.col("id").alias("k")).coalesce(1),
        table,
    )
    minitable.write(  # v1: 3 files
        spark,
        spark.range(10, 22).select(F.col("id").alias("k")).repartition(3),
        table,
    )
    minitable.write(  # v2: 1 file
        spark, spark.range(30, 33).select(F.col("id").alias("k")).coalesce(1),
        table,
    )
    reader = MinitableStreamReader(
        {"path": table, "columns": "k",
         "startingversion": "0", "maxfilespertrigger": "2"}
    )
    offs, batches = _drive_reader(reader)
    # v1's 3 files cannot fit one 2-file batch: a PARTIAL offset must
    # appear in the walk and every batch must respect the budget
    assert any("f" in o for o in offs[1:]), offs
    assert all(len(parts) <= 2 for _s, _e, parts, _r in batches), [
        (s, e, len(p)) for s, e, p, _ in batches
    ]
    got = sorted(k for _s, _e, _p, rows in batches for (k,) in rows)
    want = sorted(
        r["k"] for r in minitable.read(spark, table).collect()
    )
    assert got == want, (got, want)
    # replay purity: re-planning any (start, end] range yields the
    # identical file list — partial offsets included
    for s, e, parts, _rows in batches:
        again = [p.path for p in reader.partitions(s, e) if p.path]
        assert again == [p.path for p in parts], (s, e)


def test_minitable_stream_max_bytes_per_trigger(spark, tmp_path):
    """r12: maxBytesPerTrigger admits planned files while their
    cumulative size fits the budget, using the commit log's recorded
    `sizes` (Delta's AddFile.size); a single file over the budget still
    streams alone — the only ceiling breach allowed."""
    import json

    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable
    from tinymr_spark.sources.minitable_stream import MinitableStreamReader

    table = str(tmp_path / "t")
    for i in range(3):  # v0..v2, 2 one-file appends' worth of data each
        minitable.write(
            spark,
            spark.range(100 * i, 100 * i + 50)
            .select(F.col("id").alias("k")).repartition(2),
            table,
        )
    # every commit recorded its files' byte sizes
    sizes = {}
    for v in minitable.versions(table):
        rec = json.load(open(minitable._version_file(table, v)))
        assert set(rec["sizes"]) == set(rec["added"]), rec
        sizes.update(rec["sizes"])
    one_file = max(sizes.values())
    reader = MinitableStreamReader(
        {"path": table, "columns": "k",
         "startingversion": "0", "maxbytespertrigger": str(one_file)}
    )
    _offs, batches = _drive_reader(reader)
    import os as _os

    for _s, _e, parts, _rows in batches:
        total = sum(_os.path.getsize(p.path) for p in parts)
        assert total <= one_file or len(parts) == 1, (total, len(parts))
    got = sorted(k for _s, _e, _p, rows in batches for (k,) in rows)
    want = sorted(r["k"] for r in minitable.read(spark, table).collect())
    assert got == want
    # a budget SMALLER than any file still advances, one file per batch
    tiny = MinitableStreamReader(
        {"path": table, "columns": "k",
         "startingversion": "0", "maxbytespertrigger": "1"}
    )
    _o2, b2 = _drive_reader(tiny)
    assert all(len(parts) == 1 for _s, _e, parts, _r in b2), [
        len(p) for _s, _e, p, _ in b2
    ]
    got2 = sorted(k for _s, _e, _p, rows in b2 for (k,) in rows)
    assert got2 == want


def test_minitable_stream_snapshot_splitting_respects_dv(spark, tmp_path):
    """r12: a BUDGETED initial snapshot splits file-granular, pinned at
    one version ({"v": -1, "snap": H, "f": K}) — every batch honors the
    budget, deletion-vector'd rows stay deleted in whichever slice
    their file lands, and completion hands over to incremental
    streaming with no row lost or duplicated."""
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable
    from tinymr_spark.sources.minitable_stream import MinitableStreamReader

    table = str(tmp_path / "t")
    minitable.write(  # v0: 4 files
        spark,
        spark.range(0, 40).select(F.col("id").alias("k")).repartition(4),
        table, "overwrite", stats_cols=["k"],
    )
    minitable.delete_dv(spark, table, [("k", "in", [1, 2, 3])])  # v1
    minitable.write(  # v2: 1 file
        spark, spark.range(100, 103).select(F.col("id").alias("k")).coalesce(1),
        table,
    )
    reader = MinitableStreamReader(
        {"path": table, "columns": "k", "maxfilespertrigger": "2"}
    )
    offs, batches = _drive_reader(reader)
    assert any("snap" in o for o in offs[1:]), offs  # it DID split
    assert all(len(parts) <= 2 for _s, _e, parts, _r in batches)
    got = sorted(k for _s, _e, _p, rows in batches for (k,) in rows)
    want = sorted(r["k"] for r in minitable.read(spark, table).collect())
    assert got == want, (got, want)
    assert not any(k in (1, 2, 3) for k in got)


def test_minitable_stream_hwm_bounds_fresh_runner(spark, tmp_path):
    """r12: with `streamId`, commit() persists the reader's high-water
    mark beside the table, so a FRESH runner whose first call is
    latestOffset (the restart ordering the Python DataSource API can't
    guarantee) still answers within one budget of the checkpoint — the
    first post-restart batch is bounded, closing q207's second
    documented simplification."""
    import json
    import os

    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable
    from tinymr_spark.sources.minitable_stream import MinitableStreamReader

    table = str(tmp_path / "t")
    for i in range(7):  # v0..v6, one file each
        minitable.write(
            spark,
            spark.range(10 * i, 10 * i + 3)
            .select(F.col("id").alias("k")).coalesce(1),
            table,
        )
    opts = {
        "path": table, "columns": "k", "startingversion": "1",
        "maxfilespertrigger": "1", "streamid": "sub-a",
    }
    r1 = MinitableStreamReader(opts)
    r1.initialOffset()
    e1 = r1.latestOffset()
    assert e1 == {"v": 1}, e1
    r1.commit(e1)  # engine confirms the batch -> HWM persisted
    hwm = json.load(open(os.path.join(table, "_stream_hwm", "sub-a.json")))
    assert hwm == {"v": 1}, hwm
    # fresh runner, first call latestOffset: bounded by the HWM
    r2 = MinitableStreamReader(opts)
    assert r2.latestOffset() == {"v": 2}
    # a stale/absent HWM never loses rows: batch boundaries come from
    # the ENGINE's offsets — partitions() over the checkpointed range
    # plans the same files regardless of pacing state
    r3 = MinitableStreamReader(opts)
    parts = r3.partitions({"v": 1}, {"v": 2})
    assert len([p for p in parts if p.path]) == 1
    # bad streamId fails loudly (it becomes a filename)
    import pytest

    with pytest.raises(Exception, match="filename token"):
        MinitableStreamReader({**opts, "streamid": "../evil"})


def test_minitable_stream_admission_exactly_once_fuzz(spark, tmp_path):
    """Randomized exactly-once over the r12 offset algebra: random
    CDC-streamable DML histories (multi-file appends, explicit-CDF
    merges, predicate deletes, DV deletes with and without
    materialization) x random FILE or BYTE budgets x a RUNNER SWAP
    mid-walk (a fresh reader re-seeded only by the persisted streamId
    HWM) — the concatenation of every micro-batch must equal the batch
    change feed row-for-row (v0 composed as inserts: feed ranges are
    (from, to]), every batch must fit its budget (single-file batches
    may exceed a byte budget — Delta's rule), and re-planning any
    consumed range must yield the identical file list."""
    import os as _os
    import random

    from tinymr_spark.sources import minitable
    from tinymr_spark.sources.minitable_stream import MinitableStreamReader

    rng = random.Random(120802)
    for trial in range(3):
        path = str(tmp_path / f"t{trial}")
        next_key = [0]

        def batch_rows(n):
            rows = [
                (k, float(k % 13))
                for k in range(next_key[0], next_key[0] + n)
            ]
            next_key[0] += n
            return rows

        def to_df(rows):
            return spark.createDataFrame(rows, "k bigint, v double")

        minitable.write(  # v0: APPEND so startingVersion=0 replays it
            spark,
            to_df(batch_rows(rng.randint(8, 16)))
            .repartition(rng.randint(1, 3)),
            path, stats_cols=["k"],
        )
        v0_keys = list(range(next_key[0]))
        extra_cols: list[tuple[str, int]] = []  # ADD COLUMN ... DEFAULT history
        for _step in range(5):
            op = rng.choice(
                ["append", "merge_cdf", "delete", "delete_dv", "add_column"]
            )
            if op == "add_column":
                # META commit mid-history: the stream must SKIP it
                # (data_change=false) without perturbing offsets, file
                # budgets, replay purity, or the HWM swap
                name = f"d{len(extra_cols)}"
                minitable.add_column(path, name, "integer", default=7)
                extra_cols.append((name, 7))
            elif op == "append":
                minitable.write(
                    spark,
                    to_df(batch_rows(rng.randint(3, 10)))
                    .repartition(rng.randint(1, 3)),
                    path, stats_cols=["k"],
                )
            elif op == "merge_cdf":
                upd = rng.sample(range(next_key[0]), min(3, next_key[0]))
                src_df = to_df(
                    [(k, 999.0 + k) for k in upd] + batch_rows(2)
                )
                for name, val in extra_cols:  # merge sources carry all columns
                    from pyspark.sql import functions as _F

                    src_df = src_df.withColumn(name, _F.lit(val).cast("int"))
                minitable.merge(
                    spark, src_df, path, "k",
                    collect_cdf=True, stats_cols=["k"],
                )
            elif op == "delete":
                cut = rng.randint(1, next_key[0])
                minitable.delete(
                    spark, path, [("k", "<", cut)], stats_cols=["k"]
                )  # None result = no live match -> no commit; harmless
            else:
                targets = rng.sample(range(next_key[0]), min(4, next_key[0]))
                kw = (
                    {"materialize_fraction": 0.3}
                    if rng.random() < 0.5 else {}
                )
                minitable.delete_dv(
                    spark, path, [("k", "in", targets)], **kw
                )
        head = minitable.versions(path)[-1]
        opts = {
            "path": path, "columns": "k,v", "mode": "cdf",
            "startingversion": "0", "streamid": f"fz{trial}",
        }
        if rng.random() < 0.5:
            fb = rng.randint(1, 3)
            opts["maxfilespertrigger"] = str(fb)
            bb = None
        else:
            fb = None
            bb = rng.randint(1, 3000)
            opts["maxbytespertrigger"] = str(bb)
        reader = MinitableStreamReader(opts)
        prev = reader.initialOffset()
        got_rows = []
        swap_at = rng.randint(1, 3)
        n_batches = 0
        while n_batches < 300:
            end = reader.latestOffset()
            if end == prev:
                break
            parts = [p for p in reader.partitions(prev, end) if p.path]
            if fb is not None:
                assert len(parts) <= fb, (trial, prev, end, len(parts))
            if bb is not None:
                total = sum(_os.path.getsize(p.path) for p in parts)
                assert total <= bb or len(parts) == 1, (trial, total, bb)
            # replay purity across arbitrary (partial) shapes
            again = [p.path for p in reader.partitions(prev, end) if p.path]
            assert again == [p.path for p in parts], (trial, prev, end)
            got_rows += [t for p in parts for t in _read_rows(reader, p)]
            reader.commit(end)
            prev = end
            n_batches += 1
            if n_batches == swap_at:
                # fresh runner mid-walk: only the HWM file re-seeds it
                reader = MinitableStreamReader(opts)
        else:
            raise AssertionError("admission walk never converged")
        assert prev == {"v": head}, (trial, prev, head)
        feed = minitable.change_feed(spark, path, 0, head).select(
            "k", "v", "_change_type", "_commit_version"
        )
        want = sorted(
            [tuple(r) for r in feed.collect()]
            + [(k, float(k % 13), "insert", 0) for k in v0_keys]
        )
        assert sorted(got_rows) == want, (
            trial, len(got_rows), len(want),
        )


def test_minitable_stream_default_file_budget(spark, tmp_path):
    """r12: maxFilesPerTrigger has NO default (unlike Delta's 1000 —
    this API cannot see the trigger, and a default cap would silently
    truncate single-batch availableNow drains); the literal `none`
    states unbounded explicitly."""
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable
    from tinymr_spark.sources.minitable_stream import MinitableStreamReader

    table = str(tmp_path / "t")
    for i in range(3):
        minitable.write(
            spark,
            spark.range(10 * i, 10 * i + 2)
            .select(F.col("id").alias("k")).coalesce(1),
            table,
        )
    r = MinitableStreamReader({"path": table, "columns": "k"})
    assert r.max_files is None
    r2 = MinitableStreamReader(
        {"path": table, "columns": "k", "maxfilespertrigger": "none"}
    )
    assert r2.max_files is None
    # unbounded: one latestOffset covers the whole log, snapshot unsplit
    r2.initialOffset()
    assert r2.latestOffset() == {"v": 2}
    r.initialOffset()
    assert r.latestOffset() == {"v": 2}
    import pytest

    with pytest.raises(Exception, match="positive int or the"):
        MinitableStreamReader(
            {"path": table, "columns": "k", "maxfilespertrigger": "never"}
        )


def test_minitable_stream_ignore_deletes_and_skip_change_commits(spark, tmp_path):
    """r12: Delta's append-mode escape hatches.  ignoreDeletes skips
    PURE delete commits (whole-file predicate drops) but still refuses
    a delete that rewrote survivor files; skipChangeCommits skips every
    merge/dv rewrite while appends keep streaming; CDC mode rejects
    both options; the default remains the loud refusal."""
    import json

    import pytest
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable
    from tinymr_spark.sources.minitable_stream import MinitableStreamReader

    table = str(tmp_path / "t")
    # v0/v1/v2: three one-file appends with stats, so a k<100 delete
    # whole-drops v0's file (pure delete); v3: that predicate delete;
    # v4: merge rewrite; v5: dv mark; v6: append
    minitable.write(
        spark,
        spark.range(0, 8).select(F.col("id").alias("k")).coalesce(1),
        table, stats_cols=["k"],
    )
    minitable.write(
        spark,
        spark.range(100, 108).select(F.col("id").alias("k")).coalesce(1),
        table, stats_cols=["k"],
    )  # v1
    minitable.write(
        spark,
        spark.range(200, 204).select(F.col("id").alias("k")).coalesce(1),
        table, stats_cols=["k"],
    )  # v2
    _v3, tiers = minitable.delete(spark, table, [("k", "<", 100)])  # v3
    assert tiers == {"dropped_whole": 1, "rewritten": 0, "untouched": 2}
    minitable.merge(  # v4: rewrite
        spark, spark.createDataFrame([(100, ), (300, )], "k bigint"),
        table, "k", stats_cols=["k"],
    )
    minitable.delete_dv(spark, table, [("k", "=", 201)])  # v5: dv mark
    minitable.write(
        spark,
        spark.range(400, 403).select(F.col("id").alias("k")).coalesce(1),
        table, stats_cols=["k"],
    )  # v6

    def drain(extra):
        r = MinitableStreamReader(
            {"path": table, "columns": "k", "startingversion": "0", **extra}
        )
        _offs, batches = _drive_reader(r)
        return sorted(k for _s, _e, _p, rows in batches for (k,) in rows)

    # default: the delete commit refuses loudly
    with pytest.raises(Exception, match="stream over rewritten files"):
        drain({})
    # ignoreDeletes: the pure whole-file drop is skipped, but the MERGE
    # rewrite still refuses (it is a change, not a delete)
    with pytest.raises(Exception, match="stream over rewritten files"):
        drain({"ignoredeletes": "true"})
    # skipChangeCommits: every rewrite skipped; only appends stream
    got = drain({"skipchangecommits": "true"})
    want = sorted(
        list(range(0, 8)) + list(range(100, 108))
        + list(range(200, 204)) + list(range(400, 403))
    )
    assert got == want, (got, want)
    # a delete that REWRITES survivors is not a pure delete: build one
    t2 = str(tmp_path / "t2")
    minitable.write(
        spark,
        spark.range(0, 10).select(F.col("id").alias("k")).coalesce(1),
        t2, stats_cols=["k"],
    )
    _v, tiers2 = minitable.delete(spark, t2, [("k", "<", 5)])
    assert tiers2["rewritten"] == 1, tiers2  # straddles: survivors staged
    r2 = MinitableStreamReader(
        {"path": t2, "columns": "k", "startingversion": "0",
         "ignoredeletes": "true"}
    )
    r2.initialOffset()
    with pytest.raises(Exception, match="stream over rewritten files"):
        _drive_reader(r2)
    # a delete_dv whose predicate whole-drops a file (no vector written,
    # nothing staged) IS a pure delete: ignoreDeletes skips it
    t3 = str(tmp_path / "t3")
    minitable.write(
        spark,
        spark.range(0, 6).select(F.col("id").alias("k")).coalesce(1),
        t3, stats_cols=["k"],
    )
    minitable.write(
        spark,
        spark.range(100, 106).select(F.col("id").alias("k")).coalesce(1),
        t3, stats_cols=["k"],
    )
    minitable.delete_dv(spark, t3, [("k", "<", 100)])  # v2: whole-drop
    rec = json.load(
        open(minitable._version_file(t3, 2))
    )
    assert rec["action"] == "dv" and not rec.get("dv") and not rec["added"], rec
    r3 = MinitableStreamReader(
        {"path": t3, "columns": "k", "startingversion": "0",
         "ignoredeletes": "true"}
    )
    _o3, b3 = _drive_reader(r3)
    got3 = sorted(k for _s, _e, _p, rows in b3 for (k,) in rows)
    assert got3 == sorted(list(range(0, 6)) + list(range(100, 106))), got3
    # CDC mode rejects both options; non-boolean values fail loudly
    with pytest.raises(Exception, match="append-mode options"):
        MinitableStreamReader(
            {"path": table, "columns": "k", "mode": "cdf",
             "ignoredeletes": "true"}
        )
    with pytest.raises(Exception, match="true or false"):
        MinitableStreamReader(
            {"path": table, "columns": "k", "skipchangecommits": "yes"}
        )


def test_minitable_stream_starting_timestamp(spark, tmp_path):
    """r12: startingTimestamp (Delta's twin of startingVersion,
    mutually exclusive with it) — streams every commit whose effective
    commit time is at or after the timestamp: between v1 and v2 starts
    at v2; before the first commit replays the full history; after the
    last behaves like `latest` (empty until a new commit)."""
    import json

    import pytest
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable
    from tinymr_spark.sources.minitable_stream import MinitableStreamReader

    table = str(tmp_path / "t")
    for i in range(3):  # v0..v2, one file each
        minitable.write(
            spark,
            spark.range(10 * i, 10 * i + 3)
            .select(F.col("id").alias("k")).coalesce(1),
            table,
        )
    ts = [
        json.load(open(minitable._version_file(table, v)))["ts"]
        for v in range(3)
    ]
    assert ts == sorted(ts)

    def drain(extra):
        r = MinitableStreamReader({"path": table, "columns": "k", **extra})
        _offs, batches = _drive_reader(r)
        return sorted(k for _s, _e, _p, rows in batches for (k,) in rows)

    # strictly between v1 and v2 -> v2 only (ts may be equal at clock
    # resolution; midpoint guards that)
    mid = (ts[1] + ts[2]) / 2
    got = (
        drain({"startingtimestamp": str(mid)})
        if ts[1] < ts[2]
        else None  # same-clock-tick commits: skip this leg
    )
    if got is not None:
        assert got == [20, 21, 22], got
    # before the first commit -> full history replay
    assert drain({"startingtimestamp": str(ts[0] - 10)}) == sorted(
        k for i in range(3) for k in range(10 * i, 10 * i + 3)
    )
    # after the last commit -> latest (empty)
    assert drain({"startingtimestamp": str(ts[2] + 10)}) == []
    # ISO-8601 accepted; garbage and the option pair fail loudly
    from datetime import datetime, timezone

    iso = datetime.fromtimestamp(ts[0] - 10, tz=timezone.utc).isoformat()
    assert drain({"startingtimestamp": iso}) == sorted(
        k for i in range(3) for k in range(10 * i, 10 * i + 3)
    )
    with pytest.raises(Exception, match="unix seconds or an"):
        MinitableStreamReader(
            {"path": table, "columns": "k", "startingtimestamp": "yesterday"}
        )
    with pytest.raises(Exception, match="mutually exclusive"):
        MinitableStreamReader(
            {"path": table, "columns": "k",
             "startingtimestamp": str(mid), "startingversion": "1"}
        )


def test_minitable_stream_arrow_batches_typed_columns(spark, tmp_path):
    """r12: the executor read yields typed Arrow RecordBatches — pin
    the full type surface through a real streaming query (timestamp's
    UTC-adjusted arrow mapping and date32 are the easy-to-break ones),
    plus a pre-evolution file serving a typed NULL column, and that the
    hot path really is RecordBatches (not the tuple fallback)."""
    import datetime

    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable, minitable_stream
    from tinymr_spark.sources.minitable_stream import MinitableStreamReader

    minitable_stream.register(spark)
    table = str(tmp_path / "t")
    base = spark.range(0, 5).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5).alias("v"),
        F.to_timestamp(F.lit("2024-03-01 10:00:00")).alias("ts"),
        F.to_date(F.lit("2024-03-01")).alias("d"),
        F.col("id").cast("boolean").alias("b"),
    )
    minitable.write(spark, base.coalesce(1), table)
    minitable.write(  # v1 EVOLVES: adds a string column; v0 predates it
        spark,
        base.withColumn("note", F.lit("late")).coalesce(1),
        table, merge_schema=True,
    )
    rows = []

    def sink(bdf, bid):
        rows.extend(bdf.collect())

    q = (
        spark.readStream.format("tinymr_minitable_stream")
        .option("path", table)
        .option("columns", "k,v,ts,d,b,note")
        .load().writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="100 milliseconds").start()
    )
    q.processAllAvailable()
    q.stop()
    want = sorted(
        ((r["k"], r["v"], r["ts"], r["d"], r["b"], r["note"])
         for r in minitable.read(spark, table).collect()),
        key=lambda x: (x[0], x[5] is None),
    )
    got = sorted(
        ((r.k, r.v, r.ts, r.d, r.b, r.note) for r in rows),
        key=lambda x: (x[0], x[5] is None),
    )
    assert got == want, (got[:3], want[:3])
    assert {r.ts for r in rows} == {
        datetime.datetime(2024, 3, 1, 10, 0, 0)
    }
    assert all(r.d == datetime.date(2024, 3, 1) for r in rows)
    # the pre-evolution file's rows serve NULL for the evolved column
    assert [r.note for r in rows].count(None) == 5
    # DECIMALS take the arrow path too (Spark's own type mapping —
    # review r12: the old hand map excluded them silently)
    t2 = str(tmp_path / "tdec")
    minitable.write(
        spark,
        spark.range(0, 4).select(
            F.col("id").alias("k"),
            (F.col("id") * 1.25).cast("decimal(10,2)").alias("amt"),
        ).coalesce(1),
        t2,
    )
    rows2 = []
    q2 = (
        spark.readStream.format("tinymr_minitable_stream")
        .option("path", t2).option("columns", "k,amt")
        .load().writeStream.foreachBatch(
            lambda bdf, bid: rows2.extend(bdf.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(processingTime="100 milliseconds").start()
    )
    q2.processAllAvailable()
    q2.stop()
    import decimal
    import pyarrow as pa

    assert sorted((r.k, r.amt) for r in rows2) == [
        (i, decimal.Decimal(i * 1.25).quantize(decimal.Decimal("0.01")))
        for i in range(4)
    ]
    r2 = MinitableStreamReader({"path": t2, "columns": "k,amt"})
    r2.initialOffset()
    e2 = r2.latestOffset()
    items2 = [
        it
        for p in r2.partitions({"v": -1}, e2)
        if p.path
        for it in r2.read(p)
    ]
    assert items2 and all(isinstance(it, pa.RecordBatch) for it in items2)

    # and the hot path IS RecordBatches: drive the reader directly
    r = MinitableStreamReader(
        {"path": table, "columns": "k,v,ts,d,b,note"}
    )
    r.initialOffset()
    end = r.latestOffset()
    items = [
        it
        for p in r.partitions({"v": -1}, end)
        if p.path
        for it in r.read(p)
    ]
    assert items and all(isinstance(it, pa.RecordBatch) for it in items), items


def test_minitable_widen_column(spark, tmp_path):
    """r12: ALTER COLUMN TYPE widening (Delta 3.x type widening) as a
    pure-metadata meta commit: old files' narrower physical types
    upcast natively through every read path (batch scan, AS-OF, merge
    rewrite, the stream's arrow cast), post-widening appends take
    values the old type could not hold, AS-OF before the commit serves
    the old type, and narrowing/lossy/contract-bound transitions refuse
    loudly."""
    import pytest
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable, minitable_stream

    table = str(tmp_path / "t")
    minitable.write(
        spark,
        spark.range(0, 5).select(
            F.col("id").cast("int").alias("k"),
            F.col("id").cast("float").alias("v"),
        ).coalesce(1),
        table, stats_cols=["k"],
    )
    v_widen_k = minitable.widen_column(table, "k", "long")
    minitable.widen_column(table, "v", "double")
    # widened read over the OLD int32/float files, values exact
    df = minitable.read(spark, table)
    assert dict(df.dtypes) == {"k": "bigint", "v": "double"}
    assert {(r.k, r.v) for r in df.collect()} == {
        (i, float(i)) for i in range(5)
    }
    # AS-OF before the widening serves the old era's types
    old = minitable.read(spark, table, v_widen_k - 1)
    assert dict(old.dtypes) == {"k": "int", "v": "float"}
    # a post-widening append holds values int32 never could
    big = 2**40
    minitable.write(
        spark,
        spark.createDataFrame([(big, 1.5)], "k long, v double").coalesce(1),
        table, stats_cols=["k"],
    )
    # merge rewrites an OLD file under the widened schema
    minitable.merge(
        spark,
        spark.createDataFrame([(2, 99.5), (big + 1, 2.5)], "k long, v double"),
        table, "k", stats_cols=["k"],
    )
    got = {r.k: r.v for r in minitable.read(spark, table).collect()}
    assert got[2] == 99.5 and got[big] == 1.5 and got[big + 1] == 2.5
    # data skipping decides a long literal against int-era stats
    pruned = minitable.scan(spark, table, [("k", ">=", big)])
    assert sorted(r.k for r in pruned.collect()) == [big, big + 1]
    # the table STREAM serves the widened types (arrow upcast per file)
    minitable_stream.register(spark)
    rows = []
    q = (
        spark.readStream.format("tinymr_minitable_stream")
        .option("path", table).option("columns", "k,v")
        .load().writeStream.foreachBatch(
            lambda bdf, bid: rows.extend(bdf.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="100 milliseconds").start()
    )
    q.processAllAvailable()
    q.stop()
    assert {r.k for r in rows} == set(got), (len(rows), len(got))
    # RESTORE to a pre-widening version rolls the TYPE back with the
    # schema timeline (and the data with it)
    minitable.restore(table, v_widen_k - 1)
    restored = minitable.read(spark, table)
    assert dict(restored.dtypes) == {"k": "int", "v": "float"}
    assert {r.k for r in restored.collect()} == set(range(5))
    # re-widen so the refusal checks below run against the live head
    minitable.widen_column(table, "k", "long")
    # refusals: narrowing, lossy, unknown, identity, generated
    with pytest.raises(ValueError, match="legal widenings"):
        minitable.widen_column(table, "k", "integer")
    with pytest.raises(ValueError, match="legal widenings"):
        minitable.widen_column(table, "k", "double")  # long->double lossy
    with pytest.raises(ValueError, match="no column"):
        minitable.widen_column(table, "nope", "long")
    t2 = str(tmp_path / "t2")
    minitable.write(
        spark,
        spark.range(0, 3).select(F.col("id").cast("int").alias("k")),
        t2, generated={"g": "CAST(k % 7 AS DOUBLE)"}, identity={"rid": (1, 1)},
    )
    with pytest.raises(ValueError, match="generated column"):
        minitable.widen_column(t2, "g", "double")
    with pytest.raises(ValueError, match="always long"):
        minitable.widen_column(t2, "rid", "long")
    # an INPUT of a generated expression is just as binding: widening k
    # would make every later write recompute g at a wider type and fail
    # against the immutable generated contract — refuse up front
    # (review r12, runtime-confirmed bricked-table class)
    with pytest.raises(ValueError, match="input of generated"):
        minitable.widen_column(t2, "k", "long")
    # the user's own from_version=-1 stays a loud error (only an
    # internal from_timestamp resolution may mean "before v0")
    with pytest.raises(ValueError, match="no version -1"):
        minitable.change_feed(spark, t2, -1, 0)


def test_minitable_change_feed_timestamp_bounds(spark, tmp_path):
    """r12: batch CDF timestamp bounds (Delta's table_changes
    startingTimestamp/endingTimestamp): from_timestamp includes every
    commit at-or-after it — before the first commit means the FULL
    history including v0 — to_timestamp resolves to the newest commit
    at-or-before it, a from_timestamp past the last commit raises, and
    each timestamp is mutually exclusive with its version twin."""
    import json

    import pytest
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    table = str(tmp_path / "t")
    for i in range(3):  # v0..v2 appends
        minitable.write(
            spark,
            spark.range(10 * i, 10 * i + 3)
            .select(F.col("id").alias("k")).coalesce(1),
            table,
        )
    ts = [
        json.load(open(minitable._version_file(table, v)))["ts"]
        for v in range(3)
    ]

    def keys(df):
        return sorted(r["k"] for r in df.collect())

    # between v0 and v1 -> commits v1..v2 (matches the version form)
    if ts[0] < ts[1]:
        mid01 = (ts[0] + ts[1]) / 2
        assert keys(
            minitable.change_feed(spark, table, from_timestamp=mid01, to_version=2)
        ) == keys(minitable.change_feed(spark, table, 0, 2))
    # before the first commit -> FULL history, v0 included (the version
    # form cannot express this: (from, to] excludes its lower bound)
    assert keys(
        minitable.change_feed(
            spark, table, from_timestamp=ts[0] - 10, to_version=2
        )
    ) == sorted(k for i in range(3) for k in range(10 * i, 10 * i + 3))
    # to_timestamp resolves to the newest commit at-or-before it
    if ts[1] < ts[2]:
        mid12 = (ts[1] + ts[2]) / 2
        assert keys(
            minitable.change_feed(
                spark, table, 0, to_timestamp=mid12
            )
        ) == list(range(10, 13))
    with pytest.raises(ValueError, match="at or after"):
        minitable.change_feed(
            spark, table, from_timestamp=ts[2] + 10, to_version=2
        )
    with pytest.raises(ValueError, match="exactly one of from_version"):
        minitable.change_feed(
            spark, table, 0, 2, from_timestamp=ts[0]
        )
    with pytest.raises(ValueError, match="exactly one of to_version"):
        minitable.change_feed(spark, table, 0)


def test_minitable_stream_admission_driver_cost_linear(spark, tmp_path):
    """The 100-TB driver-cost claim for a budgeted catch-up: draining a
    long backlog one file per trigger reads each commit record O(1)
    times AMORTIZED (admission parses each new commit once into the
    plan cache; partitions re-opens each in-range record once; the
    per-batch colmap replay reads only the post-checkpoint tail) — the
    total record opens over the whole drain stay LINEAR in commits,
    never O(commits^2)."""
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable
    from tinymr_spark.sources.minitable_stream import MinitableStreamReader

    table = str(tmp_path / "t")
    n = 40
    for i in range(n):  # v0..v39, one file each
        minitable.write(
            spark,
            spark.range(2 * i, 2 * i + 2)
            .select(F.col("id").alias("k")).coalesce(1),
            table,
        )
    opens = [0]
    real = minitable._version_file

    def counting(path, version):
        opens[0] += 1
        return real(path, version)

    minitable._version_file = counting
    try:
        reader = MinitableStreamReader(
            {"path": table, "columns": "k",
             "startingversion": "0", "maxfilespertrigger": "1"}
        )
        offs, batches = _drive_reader(reader, max_triggers=n + 5)
    finally:
        minitable._version_file = real
    assert len(batches) == n, len(batches)
    got = sorted(k for _s, _e, _p, rows in batches for (k,) in rows)
    assert got == list(range(2 * n)), got[:6]
    # linear bound with headroom: _plan once per commit + one re-open in
    # partitions + the per-batch O(checkpoint-tail) colmap replay; a
    # quadratic walk (full-log re-read per trigger) would exceed this
    # several times over at n=40
    assert opens[0] <= 20 * n, opens[0]


def test_minitable_merge_update_where_dv_deleted_match_inserts(spark, tmp_path):
    """review r12 (runtime-confirmed data loss): a source row whose key
    matches ONLY a deletion-vector-deleted row is NOT MATCHED — Delta's
    semantics — so it must INSERT, with or without update_where, and a
    file whose only matches are DV-dead must not be rewritten.  Before
    the fix, the update_where probe read candidate files without DVs,
    flagged the key __matched, and the row vanished from the table and
    the CDF."""
    import json

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    df = spark.range(1, 6).select(
        F.col("id").alias("k"), (F.col("id") * 10.0).alias("v")
    )
    minitable.write(spark, df.coalesce(1), path, stats_cols=["k"])
    minitable.delete_dv(spark, path, [("k", "=", 3)])  # k=3 logically dead
    src = spark.createDataFrame([(3, 999.0)], "k bigint, v double")
    v = minitable.merge(
        spark, src, path, "k",
        update_where="s.v > t.v", collect_cdf=True, stats_cols=["k"],
    )
    got = {r.k: r.v for r in minitable.read(spark, path).collect()}
    assert got == {1: 10.0, 2: 20.0, 4: 40.0, 5: 50.0, 3: 999.0}, got
    rec = json.load(open(minitable._version_file(path, v)))
    # the key's only match was dead: no live row qualified, so no file
    # was rewritten — the insert landed alone
    assert rec["removed"] == [], rec
    cdf = {
        (r.k, r["_change_type"])
        for r in minitable.change_feed(spark, path, v - 1, v).collect()
    }
    assert cdf == {(3, "insert")}, cdf
    # same semantics without the clause condition (the default probe is
    # DV-aware too)
    minitable.delete_dv(spark, path, [("k", "=", 4)])
    v2 = minitable.merge(
        spark, spark.createDataFrame([(4, 888.0)], "k bigint, v double"),
        path, "k", stats_cols=["k"],
    )
    got2 = {r.k: r.v for r in minitable.read(spark, path).collect()}
    assert got2[4] == 888.0, got2
    rec2 = json.load(open(minitable._version_file(path, v2)))
    assert rec2["removed"] == [], rec2


def test_minitable_merge_conditional_noop_commits_no_cdf(spark, tmp_path):
    """review r12 (runtime-confirmed): a conditional merge whose every
    match passes through and which inserts nothing must not commit a
    zero-row cdf file — the commit is a clean no-op (no added, no
    removed, no cdf), batch feeds skip it, and a live APPEND-mode table
    stream survives it instead of refusing."""
    import json

    from tinymr_spark.sources import minitable
    from tinymr_spark.sources.minitable_stream import MinitableStreamReader

    path = str(tmp_path / "t")
    df = spark.range(1, 6).select(
        F.col("id").alias("k"), (F.col("id") * 10.0).alias("v")
    )
    minitable.write(spark, df.coalesce(1), path, stats_cols=["k"])
    src = spark.createDataFrame([(2, 1.0), (3, 2.0)], "k bigint, v double")
    v = minitable.merge(  # every match fails s.v > t.v; nothing inserts
        spark, src, path, "k",
        update_where="s.v > t.v", collect_cdf=True, stats_cols=["k"],
    )
    rec = json.load(open(minitable._version_file(path, v)))
    assert rec["added"] == [] and rec["removed"] == [], rec
    assert not rec.get("cdf"), rec  # no zero-row change file committed
    # an append-mode stream over the history plans the no-op as nothing
    r = MinitableStreamReader(
        {"path": path, "columns": "k,v", "startingversion": "0"}
    )
    r.initialOffset()
    end = r.latestOffset()
    parts = [p for p in r.partitions({"v": 0}, end) if p.path]
    assert parts == [], (end, parts)
    # and the batch feed contributes nothing for it
    assert minitable.change_feed(spark, path, v - 1, v).count() == 0


def test_minitable_stream_foreign_hwm_never_duplicates(spark, tmp_path):
    """review r12: a stale/reused streamId HWM may only LOOSEN pacing,
    never lose or duplicate rows.  (a) A snapshot-mode subscription
    paced by a foreign PARTIAL-COMMIT HWM decomposes its first batch as
    snapshot-at-(v-1) + commit v's file slice — exactly-once composes
    with the engine re-planning from the partial offset.  (b) An
    incremental subscription IGNORES a foreign partial-SNAPSHOT HWM
    (its algebra never produces one)."""
    import json
    import os

    from tinymr_spark.sources import minitable
    from tinymr_spark.sources.minitable_stream import MinitableStreamReader

    table = str(tmp_path / "t")
    for i, nf in enumerate([1, 2, 1]):  # v0: 1 file, v1: 2 files, v2: 1
        minitable.write(
            spark,
            spark.range(10 * i, 10 * i + 4)
            .select(F.col("id").alias("k")).repartition(nf),
            table,
        )
    os.makedirs(os.path.join(table, "_stream_hwm"), exist_ok=True)
    with open(os.path.join(table, "_stream_hwm", "foreign.json"), "w") as f:
        json.dump({"v": 1, "f": 1}, f)  # partial-commit position
    opts = {
        "path": table, "columns": "k",
        "maxfilespertrigger": "1", "streamid": "foreign",
    }
    reader = MinitableStreamReader(opts)
    offs, batches = _drive_reader(reader)
    got = sorted(k for _s, _e, _p, rows in batches for (k,) in rows)
    want = sorted(r["k"] for r in minitable.read(spark, table).collect())
    assert got == want, (offs, got, want)
    # (b) incremental mode ignores a snapshot-shaped HWM outright
    with open(os.path.join(table, "_stream_hwm", "snapish.json"), "w") as f:
        json.dump({"v": -1, "snap": 2, "f": 1}, f)
    r2 = MinitableStreamReader(
        {"path": table, "columns": "k", "startingversion": "1",
         "maxfilespertrigger": "1", "streamid": "snapish"}
    )
    first = r2.latestOffset()
    assert "snap" not in first and first == {"v": 1, "f": 1}, first


def test_minitable_merge_update_where_literal_with_t_dot(spark, tmp_path):
    """review r12: a string literal containing 't.' inside update_where
    must not be parsed as a target-column reference."""
    from tinymr_spark.sources import minitable

    path = str(tmp_path / "t")
    df = spark.range(1, 4).select(
        F.col("id").alias("k"), (F.col("id") * 10.0).alias("v")
    )
    minitable.write(spark, df.coalesce(1), path, stats_cols=["k"])
    src = spark.createDataFrame([(2, 999.0), (9, 90.0)], "k bigint, v double")
    minitable.merge(
        spark, src, path, "k",
        update_where="s.v > t.v AND 't.b.d.' = 't.b.d.'",
        stats_cols=["k"],
    )
    got = {r.k: r.v for r in minitable.read(spark, path).collect()}
    assert got == {1: 10.0, 2: 999.0, 3: 30.0, 9: 90.0}, got


def test_minitable_merge_update_where_conditional(spark, tmp_path):
    """WHEN MATCHED AND <update_where> THEN UPDATE (Delta's per-clause
    condition): qualified matches update, unqualified matches PASS
    THROUGH (neither updated nor re-inserted), the delete clause keeps
    precedence, touched-file pruning skips files whose matches all fail
    the condition, and the CDF covers only rows a clause fired on."""
    import json

    import pytest

    from tinymr_spark.sources import minitable

    path = str(tmp_path / "uw")
    dfA = spark.range(1, 6).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    dfB = spark.range(100, 106).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    minitable.write(spark, dfA.coalesce(1), path, stats_cols=["k"])
    minitable.write(spark, dfB.coalesce(1), path, "append", stats_cols=["k"])

    # k=2 qualifies (s.v > t.v), k=3 fails, k=102 fails (file B's ONLY
    # match -> file B untouched), k=500 inserts
    src = spark.createDataFrame(
        [(2, 999), (3, 1), (102, 1), (500, 5000)], "k long, v long"
    )
    v = minitable.merge(
        spark, src, path, "k",
        update_where="s.v > t.v", collect_cdf=True, stats_cols=["k"],
    )
    rec = json.load(open(minitable._version_file(path, v)))
    assert len(rec["removed"]) == 1, (
        "file B's only match failed the condition — it must not be rewritten"
    )
    got = {r.k: r.v for r in minitable.read(spark, path).collect()}
    assert got == {
        1: 10, 2: 999, 3: 30, 4: 40, 5: 50,
        100: 1000, 101: 1010, 102: 1020, 103: 1030, 104: 1040, 105: 1050,
        500: 5000,
    }
    # CDF: only the fired rows — k=2 pre/post + k=500 insert; the two
    # pass-through matches (k=3 touched file, k=102 untouched file)
    # contribute nothing
    cf = minitable.change_feed(spark, path, v - 1, v)
    assert sorted(
        (r.k, r.v, r._change_type) for r in cf.collect()
    ) == [(2, 20, "update_preimage"), (2, 999, "update_postimage"),
          (500, 5000, "insert")]

    # ZERO-TOUCHED ghost-insert guard: every match unqualified -> no-op
    # commit with no files swapped (and no dead empty data file)
    head = v
    src2 = spark.createDataFrame([(101, 1)], "k long, v long")
    v2 = minitable.merge(spark, src2, path, "k", update_where="s.v > t.v", stats_cols=["k"])
    rec2 = json.load(open(minitable._version_file(path, v2)))
    assert rec2["added"] == [] and rec2["removed"] == []
    assert minitable.read(spark, path).filter("k = 101").count() == 1
    # the no-op merge is SKIPPABLE by every feed, not refused
    assert minitable.change_feed(spark, path, head, v2).count() == 0
    assert minitable.changes(spark, path, head, v2).count() == 0

    # update_set + update_where compose: SET applies only where the
    # condition holds
    v3 = minitable.merge(
        spark,
        spark.createDataFrame([(1, 7), (3, 7)], "k long, v long"),
        path, "k",
        update_set={"v": "t.v + s.v"}, update_where="t.v >= 20",
        stats_cols=["k"],
    )
    got3 = {r.k: r.v for r in minitable.read(spark, path).collect()}
    assert got3[1] == 10 and got3[3] == 37  # k=1 failed (10 < 20), k=3 fired

    # delete clause precedence: a row passing BOTH conditions deletes
    minitable.merge(
        spark,
        spark.createDataFrame([(2, 5000)], "k long, v long"),
        path, "k",
        delete_where="v = 5000", update_where="s.v > t.v", stats_cols=["k"],
    )
    assert minitable.read(spark, path).filter("k = 2").count() == 0

    # unknown t-column reference fails loudly before any I/O
    with pytest.raises(ValueError, match="unknown target column"):
        minitable.merge(
            spark, src2, path, "k", update_where="t.nope > 1", stats_cols=["k"]
        )


def test_minitable_merge_update_where_stream_skips_noop(spark, tmp_path):
    """A no-op conditional merge commit (zero files swapped) must not
    kill a live table stream in either mode — it plans zero partitions
    and costs zero admission budget."""
    from tinymr_spark.sources import minitable
    from tinymr_spark.sources.minitable_stream import MinitableStreamReader

    path = str(tmp_path / "uwstream")
    df = spark.range(4).select(F.col("id").alias("k"), F.col("id").alias("v"))
    minitable.write(spark, df.coalesce(1), path, stats_cols=["k"])
    head = minitable.merge(
        spark,
        spark.createDataFrame([(1, -1)], "k long, v long"),
        path, "k",
        update_where="s.v > t.v", stats_cols=["k"],
    )  # no-op: 0 > 1 fails... (s.v=-1 < t.v=1) — nothing fires
    rec_path = minitable._version_file(path, head)
    import json

    rec = json.load(open(rec_path))
    assert rec["added"] == [] and rec["removed"] == []
    for mode in ("append", "cdf"):
        reader = MinitableStreamReader(
            {"path": path, "mode": mode, "maxfilespertrigger": "1",
             "columns": "k,v"}
        )
        assert reader._batch_files(rec) == 0
        parts = reader.partitions({"v": head - 1}, {"v": head})
        assert [p for p in parts if p.path is not None] == []


def test_minitable_merge_update_where_rebase(spark, tmp_path, monkeypatch):
    """Conditional merges keep the serializability contract: a racing
    DISJOINT append auto-rebases and both land; a racing append inside
    the merge's key range conflicts deterministically."""
    import pytest

    from tinymr_spark.sources import minitable

    real_commit = minitable.commit

    def interleave(builder):
        state = {"fired": False}

        def racing(path, action, added, **kw):
            if not state["fired"] and kw.get("expected_version") is not None:
                state["fired"] = True
                builder(path)
            return real_commit(path, action, added, **kw)

        monkeypatch.setattr(minitable, "commit", racing)

    def fresh(path):
        df = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        minitable.write(
            spark, df.repartitionByRange(10, "k"), path, "overwrite", stats_cols=["k"]
        )
        return path

    src = spark.createDataFrame([(1, 111), (50, 1)], "k bigint, v bigint")

    path = fresh(str(tmp_path / "r1"))

    def other_append(p):
        df = spark.range(5000, 5100).select(F.col("id").alias("k"), F.lit(0).cast("long").alias("v"))
        minitable.write(spark, df.coalesce(1), p, "append", stats_cols=["k"])

    interleave(other_append)
    v = minitable.merge(spark, src, path, "k", update_where="s.v > t.v", stats_cols=["k"])
    monkeypatch.setattr(minitable, "commit", real_commit)
    assert v == 2  # claimed v1, interloper took it, rebased to v2
    got = {r["k"]: r["v"] for r in minitable.read(spark, path).collect()}
    assert got[1] == 111 and got[50] == 100  # k=50 failed the condition
    assert len(got) == 1100

    path = fresh(str(tmp_path / "r2"))

    def overlapping_append(p):
        df = spark.range(40, 60).select(F.col("id").alias("k"), F.lit(9).cast("long").alias("v"))
        minitable.write(spark, df.coalesce(1), p, "append", stats_cols=["k"])

    interleave(overlapping_append)
    with pytest.raises(minitable.CommitConflict, match="concurrent append"):
        minitable.merge(spark, src, path, "k", update_where="s.v > t.v", stats_cols=["k"])
    monkeypatch.setattr(minitable, "commit", real_commit)


def test_minitable_column_defaults(spark, tmp_path):
    """r13: ALTER TABLE ADD COLUMN ... DEFAULT (Delta's
    allowColumnDefaults): a pure-metadata meta commit whose default is
    served — not NULL — for every row written BEFORE the column existed,
    through every read path (batch, AS-OF, scan pruning, DML probes,
    change feed, the stream source), while post-ADD files carrying real
    NULLs still serve NULL; writes that omit the column materialize it
    (Delta's CURRENT_DEFAULT INSERT rule); the default rides the schema
    timeline (era-correct AS-OF/restore, widening re-renders it)."""
    import datetime

    import pytest
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable
    from tinymr_spark.sources.minitable_stream import MinitableStreamReader

    table = str(tmp_path / "t")
    minitable.write(  # v0: pre-ADD rows k=1..3
        spark,
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, s string"),
        table, "overwrite", stats_cols=["k"],
    )
    v_add = minitable.add_column(table, "c", "integer", default=7)
    assert minitable.table_defaults(table) == {"c": 7}
    assert minitable.table_defaults(table, v_add - 1) == {}
    # several more defaulted types in one table: string/double/bool/date
    minitable.add_column(table, "tag", "string", default="it's")
    minitable.add_column(table, "w", "double", default=0.1)
    minitable.add_column(table, "ok", "boolean", default=True)
    minitable.add_column(table, "d", "date", default=datetime.date(2020, 2, 29))
    # v: append OMITTING every defaulted column -> materialized
    minitable.write(
        spark, spark.createDataFrame([(4, "d")], "k long, s string"),
        table, "append", stats_cols=["k"],
    )
    # v: append PROVIDING c with a real NULL and a value
    minitable.write(
        spark,
        spark.createDataFrame(
            [(5, "e", None), (6, "f", 9)], "k long, s string, c int"
        ).withColumn("tag", F.lit("own"))
        .withColumn("w", F.lit(2.5))
        .withColumn("ok", F.lit(False))
        .withColumn("d", F.lit(datetime.date(2021, 1, 1))),
        table, "append", stats_cols=["k"],
    )
    got = {r.k: r for r in minitable.read(spark, table).collect()}
    assert {k: r.c for k, r in got.items()} == {
        1: 7, 2: 7, 3: 7, 4: 7, 5: None, 6: 9,
    }
    assert got[1].tag == "it's" and got[6].tag == "own"
    assert got[2].w == 0.1 and got[5].w == 2.5
    assert got[3].ok is True and got[6].ok is False
    assert got[1].d == datetime.date(2020, 2, 29)
    assert got[5].d == datetime.date(2021, 1, 1)
    # AS-OF before the ADD serves the old schema (no column at all)
    assert minitable.read(spark, table, v_add - 1).columns == ["k", "s"]
    # scan with a predicate on the defaulted column: pre-ADD files have
    # no stats for it -> conservative keep, residual filter sees 7
    assert sorted(
        r.k for r in minitable.scan(spark, table, [("c", "=", 7)]).collect()
    ) == [1, 2, 3, 4]
    # widening the defaulted column re-renders the literal exactly
    minitable.widen_column(table, "c", "long")
    df = minitable.read(spark, table)
    assert dict(df.dtypes)["c"] == "bigint"
    assert {r.k: r.c for r in df.collect()}[1] == 7
    # DELETE with a predicate on the defaulted column: pre-ADD rows
    # count as the default (k=1 matches c=7 AND k<=1)
    v_del, _summary = minitable.delete(
        spark, table, [("c", "=", 7), ("k", "<=", 1)]
    )
    assert sorted(r.k for r in minitable.read(spark, table).collect()) == [
        2, 3, 4, 5, 6,
    ]
    # MERGE rewriting a pre-ADD file materializes the default verbatim
    import datetime as _dt

    minitable.merge(
        spark,
        spark.createDataFrame(
            [(2, "b", 123, "it's", 0.1, True, _dt.date(2020, 2, 29))],
            "k long, s string, c long, tag string, w double, ok boolean, d date",
        ),
        table, "k", stats_cols=["k"], collect_cdf=True,
    )
    got = {r.k: (r.c, r.tag) for r in minitable.read(spark, table).collect()}
    assert got[2] == (123, "it's") and got[3] == (7, "it's")
    # CHANGE FEED: the delete's reconstructed row serves the default
    feed = minitable.change_feed(spark, table, v_del - 1, v_del).collect()
    deleted = [r for r in feed if r._change_type == "delete"]
    assert [(r.k, r.c, r.tag) for r in deleted] == [(1, 7, "it's")]
    # STREAM: snapshot serves defaults on pre-ADD files, real NULLs kept
    rdr = MinitableStreamReader({"path": table, "columns": "k,c,tag"})
    _offs, batches = _drive_reader(rdr)
    rows = sorted((t for _s, _e, _p, ts in batches for t in ts), key=str)
    assert (2, 123, "it's") in rows and (3, 7, "it's") in rows
    assert (5, None, "own") in rows
    # STREAM CDC: the predicate-delete reconstruction evaluates the
    # recorded conjunction under the ERA's defaults and fills output
    cdc = MinitableStreamReader(
        {"path": table, "columns": "k,c,tag", "mode": "cdf",
         "startingversion": str(v_add)}
    )
    _offs, batches = _drive_reader(cdc)
    crows = [t for _s, _e, _p, ts in batches for t in ts]
    assert (1, 7, "it's", "delete", v_del) in crows, crows
    # RESTORE to the pre-ADD era drops the columns with the timeline
    head = minitable.versions(table)[-1]
    minitable.restore(table, v_add - 1)
    assert minitable.read(spark, table).columns == ["k", "s"]
    assert minitable.table_defaults(table) == {}
    minitable.restore(table, head)
    assert minitable.table_defaults(table)["c"] == 7
    # an OVERWRITE derived from a read() must NOT import the default
    # stamps into a fresh table (the scan schema carries EXISTS_DEFAULT)
    t2 = str(tmp_path / "t2")
    minitable.write(spark, minitable.read(spark, table), t2, "overwrite")
    assert minitable.table_defaults(t2) == {}
    sch2 = minitable.table_schema(t2)
    assert all(
        "EXISTS_DEFAULT" not in (f.get("metadata") or {})
        for f in sch2["fields"]
    )
    # refusals
    with pytest.raises(ValueError, match="already exists"):
        minitable.add_column(table, "c", "integer", default=1)
    with pytest.raises(ValueError, match="must be int"):
        minitable.add_column(table, "z", "integer", default="x")
    with pytest.raises(ValueError, match="must be int"):
        minitable.add_column(table, "z", "integer", default=True)
    with pytest.raises(ValueError, match="out of range"):
        minitable.add_column(table, "z", "byte", default=999)
    with pytest.raises(ValueError, match="NaN/Inf"):
        minitable.add_column(table, "z", "double", default=float("nan"))
    with pytest.raises(ValueError, match="must be str"):
        minitable.add_column(table, "z", "string", default=5)
    with pytest.raises(ValueError, match="must be bool"):
        minitable.add_column(table, "z", "boolean", default=1)
    with pytest.raises(ValueError, match="must be datetime.date"):
        minitable.add_column(table, "z", "date", default="2020-01-01")
    with pytest.raises(ValueError, match="scalar types"):
        minitable.add_column(table, "z", "array<int>", default=None)
    with pytest.raises(ValueError, match="no commits"):
        minitable.add_column(str(tmp_path / "none"), "z", "integer", default=1)
    # generated/identity NAME collisions refuse with the contract named
    t3 = str(tmp_path / "t3")
    minitable.write(
        spark,
        spark.range(0, 3).select(F.col("id").cast("int").alias("k")),
        t3, generated={"g": "CAST(k % 7 AS DOUBLE)"}, identity={"rid": (1, 1)},
    )
    with pytest.raises(ValueError, match="generated column"):
        minitable.add_column(t3, "g", "double", default=1.0)
    with pytest.raises(ValueError, match="identity column"):
        minitable.add_column(t3, "rid", "long", default=1)


def test_minitable_column_default_era_predicate_replay(spark, tmp_path):
    """r13 era pin: a predicate DELETE committed BEFORE a default existed
    must replay under its own era — pre-column files served NULL to that
    delete, so CDC reconstruction must not retroactively apply a default
    added later (and the converse: a delete after the ADD replays with
    the constant)."""
    from tinymr_spark.sources import minitable
    from tinymr_spark.sources.minitable_stream import MinitableStreamReader

    table = str(tmp_path / "t")
    minitable.write(  # v0
        spark,
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"),
        table, "overwrite", stats_cols=["k"],
    )
    # v1: plain ADD (no default yet) so the predicate can NAME the column
    minitable.add_column(table, "c", "integer")
    # v2: delete c IS NULL AND k = 1 -> kills k=1 (pre-column rows
    # serve NULL in the no-default era)
    minitable.delete(spark, table, [("c", "is_null", None), ("k", "=", 1)])
    assert sorted(r.k for r in minitable.read(spark, table).collect()) == [2]
    # v3: NOW add a defaulted twin column and rewrite nothing
    minitable.drop_column(table, "c")
    v_add = minitable.add_column(table, "c", "integer", default=7)
    # CDC replay across v2: the delete must still reconstruct k=1 (its
    # era's c was NULL), even though the head schema defaults c to 7
    cdc = MinitableStreamReader(
        {"path": table, "columns": "k,s", "mode": "cdf",
         "startingversion": "1"}
    )
    _offs, batches = _drive_reader(cdc)
    rows = [t for _s, _e, _p, ts in batches for t in ts]
    assert ("1", ) != rows  # shape guard
    assert any(
        t[0] == 1 and t[-2] == "delete" for t in rows
    ), rows
    # and batch change_feed agrees (reads with the RANGE-END era schema,
    # which has no 'c' at v2's range... the feed over (1, 2] types from
    # v2's schema where c exists un-defaulted)
    feed = minitable.change_feed(spark, table, 1, 2).collect()
    assert [(r.k, r._change_type) for r in feed] == [(1, "delete")]
    assert feed[0].c is None
    assert minitable.table_defaults(table, v_add) == {"c": 7}


def test_minitable_vacuum_vs_live_stream_contract(spark, tmp_path):
    """r13 (VERDICT r12 task 4): a stream holding offsets over files a
    concurrent vacuum() collected must fail LOUDLY with the vacuum-
    explaining error — never return partial/empty batches — in BOTH
    orders (vacuum-then-plan and plan-then-vacuum); and a vacuum at or
    behind the stream's consumed position leaves the live stream intact
    (the happy order: retention only destroys history the stream has
    already drained past)."""
    import pytest
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable
    from tinymr_spark.sources.minitable_stream import MinitableStreamReader

    table = str(tmp_path / "t")
    minitable.write(  # v0
        spark, spark.range(0, 6).select(F.col("id").alias("k")).coalesce(1),
        table, "overwrite", stats_cols=["k"],
    )
    minitable.write(  # v1
        spark, spark.range(10, 16).select(F.col("id").alias("k")).coalesce(1),
        table, stats_cols=["k"],
    )
    v_del, _s = minitable.delete(spark, table, [("k", "<", 3)])  # v2: rewrite

    # ---- order A: plan first, vacuum second -------------------------
    # a CDC subscription whose FIRST range spans the delete: its
    # reconstruction partitions reference v2's REMOVED file
    cdc = MinitableStreamReader(
        {"path": table, "columns": "k", "mode": "cdf", "startingversion": "1"}
    )
    start = cdc.initialOffset()
    end = cdc.latestOffset()
    parts = cdc.partitions(start, end)
    assert any(p.path for p in parts)
    minitable.vacuum(table, retain_from_version=v_del, orphan_grace_seconds=0)
    with pytest.raises(FileNotFoundError, match="vacuum"):
        for p in parts:
            list(cdc.read(p) or ())

    # ---- order B: vacuum first, then a fresh subscription -----------
    cdc2 = MinitableStreamReader(
        {"path": table, "columns": "k", "mode": "cdf", "startingversion": "1"}
    )
    s2, e2 = cdc2.initialOffset(), cdc2.latestOffset()
    with pytest.raises(FileNotFoundError, match="vacuum"):
        for p in cdc2.partitions(s2, e2):
            list(cdc2.read(p) or ())

    # ---- happy order: vacuum BEHIND the consumed position -----------
    live = MinitableStreamReader({"path": table, "columns": "k"})
    offs, batches = _drive_reader(live)
    drained = sorted(t[0] for _s, _e, _p, ts in batches for t in ts)
    assert drained  # the post-delete snapshot streamed fine
    head = minitable.versions(table)[-1]
    minitable.vacuum(table, retain_from_version=head, orphan_grace_seconds=0)
    minitable.write(  # a post-vacuum append keeps streaming
        spark, spark.range(20, 23).select(F.col("id").alias("k")).coalesce(1),
        table, stats_cols=["k"],
    )
    end2 = live.latestOffset()
    rows2 = [
        t
        for p in live.partitions(offs[-1], end2)
        for t in (live.read(p) or ())
    ]
    flat = []
    for item in rows2:
        import pyarrow as pa

        if isinstance(item, pa.RecordBatch):
            flat.extend(item.column(0).to_pylist())
        else:
            flat.append(item[0])
    assert sorted(flat) == [20, 21, 22]


def test_minitable_set_and_drop_default(spark, tmp_path):
    """r13: ALTER COLUMN SET/DROP DEFAULT re-points the WRITE-SIDE
    default only (Spark's CURRENT_DEFAULT vs EXISTS_DEFAULT split):
    future omitting writes materialize the new constant, pre-ADD files
    keep serving the ORIGINAL existence default forever (never
    retroactive), already-written files are untouched, DROP DEFAULT
    makes omitting writes stage NULL again while existence stays, and a
    SET DEFAULT on a never-defaulted column leaves its pre-ADD files
    serving NULL."""
    import pytest
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    table = str(tmp_path / "t")
    minitable.write(  # v0: pre-ADD row k=1
        spark, spark.createDataFrame([(1,)], "k long"), table, "overwrite",
    )
    minitable.add_column(table, "c", "integer", default=7)
    minitable.write(  # k=2 materializes 7
        spark, spark.createDataFrame([(2,)], "k long"), table, "append",
    )
    minitable.set_default(table, "c", 50)  # re-point the write side
    assert minitable.table_defaults(table) == {"c": 7}  # existence fixed
    assert minitable.table_write_defaults(table) == {"c": 50}
    minitable.write(  # k=3 materializes 50
        spark, spark.createDataFrame([(3,)], "k long"), table, "append",
    )
    minitable.drop_default(table, "c")
    assert minitable.table_write_defaults(table) == {}
    minitable.write(  # k=4 stages an EXPLICIT NULL: the column must be
        # physically present or the existence fill would resurrect 7
        spark, spark.createDataFrame([(4,)], "k long"), table, "append",
    )
    got = {r.k: r.c for r in minitable.read(spark, table).collect()}
    # k=1 pre-ADD serves the ORIGINAL existence default through it all
    assert got == {1: 7, 2: 7, 3: 50, 4: None}, got
    # SET DEFAULT on a never-defaulted column: writes materialize, but
    # pre-ADD files still serve NULL (no existence default was fixed)
    minitable.add_column(table, "z", "string")  # plain ADD, no default
    minitable.set_default(table, "z", "later")
    minitable.write(  # z materializes 'later'; c an explicit NULL
        spark, spark.createDataFrame([(5,)], "k long"), table, "append",
    )
    got = {r.k: r.z for r in minitable.read(spark, table).collect()}
    assert got[1] is None and got[4] is None and got[5] == "later", got
    # the write-side timeline is era-correct: AS-OF between set/drop
    # (v0 write, v1 add c, v2 append, v3 set 50, v4 append, v5 drop,
    #  v6 append, v7 add z, v8 set z, v9 append)
    vs = minitable.versions(table)
    assert minitable.table_write_defaults(table, vs[4]) == {"c": 50}
    assert minitable.table_write_defaults(table, vs[2]) == {"c": 7}
    # refusals
    with pytest.raises(ValueError, match="no column"):
        minitable.set_default(table, "nope", 1)
    with pytest.raises(ValueError, match="must be int"):
        minitable.set_default(table, "c", "x")
    with pytest.raises(ValueError, match="no default to drop"):
        minitable.drop_default(table, "k")
    t2 = str(tmp_path / "t2")
    minitable.write(
        spark,
        spark.range(0, 3).select(F.col("id").cast("int").alias("k")),
        t2, generated={"g": "CAST(k % 7 AS DOUBLE)"}, identity={"rid": (1, 1)},
    )
    with pytest.raises(ValueError, match="generated column"):
        minitable.set_default(t2, "g", 1.0)
    with pytest.raises(ValueError, match="identity column"):
        minitable.set_default(t2, "rid", 1)


def test_minitable_defaults_survive_checkpoint_and_clone(spark, tmp_path):
    """r13: the default rides the schema record through the parquet log
    CHECKPOINT fold (reads through a ckpt still serve it) and SHALLOW
    CLONE carries it at its AS-OF state."""
    from tinymr_spark.sources import minitable

    t = str(tmp_path / "t")
    minitable.write(spark, spark.createDataFrame([(1,)], "k long"), t, "overwrite")
    minitable.add_column(t, "c", "integer", default=7)
    for i in range(12):  # cross AUTO_CHECKPOINT_INTERVAL
        minitable.write(
            spark, spark.createDataFrame([(10 + i,)], "k long"), t, "append"
        )
    assert minitable.checkpoint_versions(t)
    got = {r.k: r.c for r in minitable.read(spark, t).collect()}
    assert got[1] == 7 and all(v == 7 for v in got.values())
    dst = str(tmp_path / "c")
    minitable.clone(t, dst)
    assert minitable.table_defaults(dst) == {"c": 7}
    assert {r.k: r.c for r in minitable.read(spark, dst).collect()} == got


def test_minitable_add_column_racing_append_conflicts(spark, tmp_path, monkeypatch):
    """r13: add_column/set_default claim head+1 like every schema verb —
    a commit landing between the replay and the claim surfaces
    CommitConflict (never a silent schema overwrite), and the loser
    leaves zero trace (retry succeeds against the new head)."""
    import pytest

    from tinymr_spark.sources import minitable

    t = str(tmp_path / "t")
    minitable.write(spark, spark.createDataFrame([(1,)], "k long"), t, "overwrite")
    real_commit = minitable.commit

    def racing(path_, action, added, **kw):
        monkeypatch.setattr(minitable, "commit", real_commit)
        minitable.write(  # B lands first
            spark, spark.createDataFrame([(2,)], "k long"), t, "append"
        )
        return real_commit(path_, action, added, **kw)

    monkeypatch.setattr(minitable, "commit", racing)
    with pytest.raises(minitable.CommitConflict):
        minitable.add_column(t, "c", "integer", default=7)
    # zero trace; the retry wins cleanly and B's row is defaulted
    assert minitable.table_defaults(t) == {}
    minitable.add_column(t, "c", "integer", default=7)
    assert {r.k: r.c for r in minitable.read(spark, t).collect()} == {1: 7, 2: 7}


def test_minitable_generated_column_over_defaulted_input(spark, tmp_path):
    """r13 ordering pin: defaults materialize BEFORE generated columns,
    so a generation expression referencing a defaulted column the batch
    omitted computes over the default instead of failing analysis."""
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    t = str(tmp_path / "t")
    minitable.write(
        spark,
        spark.createDataFrame([(1, 2)], "k long, c int"),
        t, "overwrite", generated={"g": "CAST(c * 10 AS INT)"},
    )
    # give c a write-side default, then append OMITTING c: the default
    # (5) must feed g's expression (50)
    minitable.set_default(t, "c", 5)
    minitable.write(
        spark, spark.createDataFrame([(2,)], "k long"), t, "append"
    )
    got = {r.k: (r.c, r.g) for r in minitable.read(spark, t).collect()}
    assert got == {1: (2, 20), 2: (5, 50)}, got


def test_minitable_set_default_after_drop_reenables(spark, tmp_path):
    """r13: SET DEFAULT after a DROP DEFAULT clears the drop marker —
    omitting writes materialize the new constant again."""
    from tinymr_spark.sources import minitable

    t = str(tmp_path / "t")
    minitable.write(spark, spark.createDataFrame([(1,)], "k long"), t, "overwrite")
    minitable.add_column(t, "c", "integer", default=7)
    minitable.drop_default(t, "c")
    assert minitable.table_write_defaults(t) == {}
    minitable.set_default(t, "c", 99)
    assert minitable.table_write_defaults(t) == {"c": 99}
    minitable.write(spark, spark.createDataFrame([(2,)], "k long"), t, "append")
    got = {r.k: r.c for r in minitable.read(spark, t).collect()}
    assert got == {1: 7, 2: 99}, got  # existence default untouched


def test_minitable_detail_restore_ts_vacuum_hours(spark, tmp_path):
    """r13 utility-verb completions: DESCRIBE DETAIL as a one-row
    metadata-only DataFrame, RESTORE TO TIMESTAMP resolving through the
    shared effective-commit-time rule, and VACUUM ... RETAIN n HOURS
    resolving the version horizon from wall clock (the snapshot at the
    window edge stays intact)."""
    import json

    import pytest
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    t = str(tmp_path / "t")
    minitable.write(
        spark,
        spark.createDataFrame([(k, k % 3, float(k)) for k in range(12)],
                              "k bigint, b bigint, v double").repartition("b"),
        t, "overwrite", partition_by=["b"], stats_cols=["k"],
    )
    minitable.add_column(t, "c", "integer", default=7)
    minitable.write(
        spark, spark.createDataFrame([(100, 0, 1.0)], "k bigint, b bigint, v double"),
        t, "append",
    )
    d = minitable.detail(spark, t).collect()[0]
    assert d.format == "minitable" and d.version == 2
    assert d.num_files == len(minitable.snapshot(t))
    assert d.size_bytes > 0 and d.num_columns == 4
    assert d.partition_by == "b" and d.num_default_columns == 1
    # AS-OF detail serves the era (no defaulted column at v0)
    d0 = minitable.detail(spark, t, 0).collect()[0]
    assert d0.version == 0 and d0.num_default_columns == 0
    # RESTORE TO TIMESTAMP: between v0 and v1 resolves to v0
    ts = [json.load(open(minitable._version_file(t, v)))["ts"] for v in range(3)]
    if ts[0] < ts[1]:
        minitable.restore_at_timestamp(t, (ts[0] + ts[1]) / 2)
        assert minitable.read(spark, t).columns == ["k", "b", "v"]
        assert minitable.table_defaults(t) == {}
    # VACUUM RETAIN HOURS: a huge window deletes nothing and the table
    # still reads; hours=0 collects everything behind the head
    assert minitable.vacuum(t, retain_hours=1e6, dry_run=True) == []
    head = minitable.versions(t)[-1]
    dropped = minitable.vacuum(t, retain_hours=0.0, orphan_grace_seconds=0)
    assert minitable.read(spark, t).count() == 12  # head snapshot intact
    with pytest.raises(ValueError, match="exactly one of"):
        minitable.vacuum(t)
    with pytest.raises(ValueError, match="exactly one of"):
        minitable.vacuum(t, retain_from_version=head, retain_hours=1.0)


def test_minitable_column_defaults_model_fuzz(spark, tmp_path):
    """r13 model fuzz for the defaults feature: random histories of
    append (random provided-column subsets, explicit NULLs included) /
    ADD COLUMN [DEFAULT] / SET DEFAULT / DROP DEFAULT / widen / delete
    against a dict model.  The model encodes the contract exactly:
    existence defaults materialize onto EXISTING rows at ADD time and
    never change; an omitting write materializes the ACTIVE write-side
    default, or an explicit NULL once one existed; provided values
    (explicit NULLs included) always win.  Every step checks the head
    read; every trial also checks a random AS-OF against the model
    snapshot recorded at that version (the era contract end-to-end)."""
    import copy
    import random

    from tinymr_spark.sources import minitable

    rng = random.Random(130013)

    for trial in range(6):
        t = str(tmp_path / f"t{trial}")
        # column registry: name -> (type, exists_default, write_default)
        cols: dict = {}
        rows: dict = {}  # k -> {col: value}
        next_k = [0]
        next_c = [0]
        snaps: dict = {}  # version -> (deepcopy rows, column names)

        def commit_snap():
            v = minitable.versions(t)[-1]
            snaps[v] = (copy.deepcopy(rows), sorted(cols))

        def rand_val(typ):
            if typ in ("integer", "long_w"):
                return rng.randint(0, 5)
            return rng.choice(["a", "b", "it's"])

        def do_append():
            n = rng.randint(1, 3)
            provided = [c for c in cols if rng.random() < 0.5]
            new = {}
            for _ in range(n):
                k = next_k[0]
                next_k[0] += 1
                row = {}
                for c, (typ, _ed, wd) in cols.items():
                    if c in provided:
                        row[c] = (
                            None if rng.random() < 0.3 else rand_val(typ)
                        )
                    else:
                        row[c] = wd  # active write default, else None
                new[k] = row
            ddl_of = {"integer": "int", "long_w": "bigint", "string": "string"}
            ddl = "k bigint" + "".join(
                f", {c} {ddl_of[cols[c][0]]}" for c in provided
            )
            data = [
                tuple([k] + [new[k][c] for c in provided]) for k in new
            ]
            minitable.write(
                spark, spark.createDataFrame(data, ddl), t,
                "overwrite" if not rows and not minitable.versions(t) else "append",
                merge_schema=True, stats_cols=["k"],
            )
            rows.update(new)

        def do_add():
            c = f"c{next_c[0]}"
            next_c[0] += 1
            typ = rng.choice(["integer", "string"])
            d = rand_val(typ) if rng.random() < 0.7 else None
            minitable.add_column(t, c, typ, default=d)
            cols[c] = (typ, d, d)
            for r in rows.values():  # existence default fixes at ADD
                r[c] = d
        def do_set():
            cands = [c for c in cols]
            if not cands:
                return
            c = rng.choice(cands)
            v = rand_val(cols[c][0])
            minitable.set_default(t, c, v)
            cols[c] = (cols[c][0], cols[c][1], v)

        def do_drop():
            cands = [c for c, (_t, ed, wd) in cols.items() if wd is not None]
            if not cands:
                return
            c = rng.choice(cands)
            minitable.drop_default(t, c)
            cols[c] = (cols[c][0], cols[c][1], None)

        def do_widen():
            cands = [c for c, (typ, _e, _w) in cols.items() if typ == "integer"]
            if not cands:
                return
            c = rng.choice(cands)
            minitable.widen_column(t, c, "long")
            cols[c] = ("long_w", cols[c][1], cols[c][2])  # values unchanged

        def do_delete():
            if not cols or not rows:
                return
            c = rng.choice(list(cols))
            if rng.random() < 0.5:
                res = minitable.delete(spark, t, [(c, "is_null", None)])
                if res is not None:
                    for k in [k for k, r in rows.items() if r[c] is None]:
                        del rows[k]
            else:
                v = rand_val("integer" if cols[c][0] != "string" else "string")
                res = minitable.delete(spark, t, [(c, "=", v)])
                if res is not None:
                    for k in [k for k, r in rows.items() if r[c] == v]:
                        del rows[k]

        def do_update():
            if not cols or not rows:
                return
            c = rng.choice(list(cols))
            typ = cols[c][0]
            v = rand_val("integer" if typ != "string" else "string")
            cut = rng.choice(sorted(rows))
            lit = f"'{v}'" if typ == "string" else str(v)
            res = minitable.update(spark, t, {c: lit}, [("k", "<=", cut)])
            if res is not None:
                for k, r in rows.items():
                    if k <= cut:
                        r[c] = v

        do_append()  # v0 table creation
        commit_snap()
        ops = [do_append, do_add, do_set, do_drop, do_widen, do_delete,
               do_update]
        for _step in range(10):
            before = minitable.versions(t)[-1]
            rng.choice(ops)()
            if minitable.versions(t)[-1] != before:
                commit_snap()
            if rows:
                got = {
                    r["k"]: {c: r[c] for c in cols}
                    for r in minitable.read(spark, t).collect()
                }
                want = {k: dict(r) for k, r in rows.items()}
                assert got == want, (trial, _step, got, want)
            else:
                assert minitable.snapshot(t) == []
        # AS-OF era check against a random recorded snapshot
        v = rng.choice(sorted(snaps))
        mrows, mcols = snaps[v]
        if mrows:
            got = {
                r["k"]: {c: r[c] for c in mcols}
                for r in minitable.read(spark, t, v).collect()
            }
            assert got == {k: {c: r[c] for c in mcols} for k, r in mrows.items()}, (
                trial, v,
            )


def test_minitable_optimize_where_scoping(spark, tmp_path):
    """r13: OPTIMIZE ... WHERE compacts only files whose stats admit
    matching rows (the hot-partition maintenance idiom): the cold
    partition's dribble is untouched, the scoped commit is
    data_change=false and row-invariant, and a later unscoped OPTIMIZE
    still packs the rest."""
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable

    t = str(tmp_path / "t")
    # two partitions, three small files each
    minitable.write(
        spark,
        spark.createDataFrame(
            [(k, k % 2, float(k)) for k in range(6)], "k bigint, p bigint, v double"
        ).repartition("p"),
        t, "overwrite", partition_by=["p"], stats_cols=["k"],
    )
    for i in range(2):
        minitable.write(
            spark,
            spark.createDataFrame(
                [(10 + 2 * i, 0, 1.0), (11 + 2 * i, 1, 1.0)],
                "k bigint, p bigint, v double",
            ),
            t,
        )
    before = {r for r, _s in minitable._live_entries(t)}
    res = minitable.optimize(
        spark, t, small_bytes=1 << 20, target_bytes=1 << 22,
        where=[("p", "=", 0)],
    )
    assert res is not None
    after = {r for r, _s in minitable._live_entries(t)}
    # every p=1 hive file survived untouched
    p1_before = {r for r in before if "__p_p=1" in r}
    assert p1_before <= after, (p1_before - after)
    # rows unchanged
    got = sorted((r.k, r.p) for r in minitable.read(spark, t).collect())
    assert got == sorted(
        [(k, k % 2) for k in range(6)] + [(10, 0), (12, 0), (11, 1), (13, 1)]
    )
    # the cold partition still packs when asked unscoped
    res2 = minitable.optimize(spark, t, small_bytes=1 << 20, target_bytes=1 << 22)
    assert res2 is not None
    got2 = sorted((r.k, r.p) for r in minitable.read(spark, t).collect())
    assert got2 == got


def test_minitable_stream_defaults_through_real_engine(spark, tmp_path):
    """r13: column defaults through an actual Structured Streaming query
    (not just the direct reader drive): pre-ADD snapshot rows serve the
    default, post-ADD explicit NULLs stay NULL, and a post-subscription
    append of omitting rows streams the materialized default."""
    from pyspark.sql import functions as F

    from tinymr_spark.sources import minitable, minitable_stream

    t = str(tmp_path / "t")
    minitable.write(
        spark, spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"),
        t, "overwrite",
    )
    minitable.add_column(t, "c", "integer", default=7)
    minitable.write(
        spark,
        spark.createDataFrame([(3, "c", None), (4, "d", 9)],
                              "k long, s string, c int"),
        t, "append",
    )
    minitable_stream.register(spark)
    rows = []
    q = (
        spark.readStream.format("tinymr_minitable_stream")
        .option("path", t).option("columns", "k,c")
        .load().writeStream.foreachBatch(
            lambda bdf, bid: rows.extend(bdf.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="100 milliseconds").start()
    )
    try:
        q.processAllAvailable()
        minitable.write(  # post-subscription omitting append
            spark, spark.createDataFrame([(5, "e")], "k long, s string"), t,
        )
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.k: r.c for r in rows}
    assert got == {1: 7, 2: 7, 3: None, 4: 9, 5: 7}, got


def test_minitable_merge_materializes_source_once(spark, tmp_path):
    """The merge's phases (duplicate guard, key bounds, find-touched
    probe, rewrite) are separate Spark actions: without the source pin
    each one re-executes the source's lineage — the 125x scaling probe
    measured a 36x wall blowup on a self-merge whose source read a
    1000-file table, and a non-deterministic source could match in the
    probe yet evaluate differently in the rewrite (the Delta hazard its
    source materialization exists for).  An accumulator-counting UDF on
    the MERGE KEY — the one column every phase reads, so column pruning
    cannot hide re-execution — proves the lineage runs exactly once."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from tinymr_spark.sources import minitable

    path = _clustered_table(spark, tmp_path)
    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def tracked_key(i):
        acc.add(1)
        return i

    src = spark.range(10, 20).select(
        tracked_key(F.col("id")).alias("k"),
        F.lit(-1).alias("v"),
        F.lit("upd").alias("name"),
    )
    minitable.merge(spark, src, path, "k")
    assert acc.value == 10, f"merge source lineage ran {acc.value / 10:g}x"
    out = minitable.read(spark, path)
    assert out.filter("name = 'upd'").count() == 10
    # a source the CALLER already pinned is respected: not re-pinned to
    # a different level, not unpersisted on the way out
    src2 = (
        spark.range(2000, 2003)
        .select(F.col("id").alias("k"), F.lit(0).alias("v"), F.lit("x").alias("name"))
        .persist(StorageLevel.MEMORY_ONLY)
    )
    try:
        minitable.merge(spark, src2, path, "k")
        assert src2.storageLevel == StorageLevel.MEMORY_ONLY
    finally:
        src2.unpersist()
