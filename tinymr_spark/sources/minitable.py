"""`minitable`: a minimal snapshot-isolated versioned table on plain
parquet — the lakehouse commit-log primitive (Delta/Iceberg's core idea)
at the smallest size that preserves its guarantees.

A table directory holds immutable parquet part files plus a `_log/`
commit log of JSON records `v{N}.json`:

    {"version": N, "action": "append"|"overwrite"|"merge",
     "added": [...], "removed": [...],            # merge only
     "sizes": {"file": bytes},                    # Delta's AddFile.size
     "stats": {"file": {"col": [min, max]                      # range stats
                        | {"range": [...], "bloom": {...}}}}}  # + bloom

The LIVE FILE SET of version V is derived by replaying the log to V:
`append` unions its files in; `overwrite` replaces the whole set (a
compaction is an overwrite whose rows are unchanged); `merge` swaps the
touched files out for their rewritten replacements (`live - removed +
added` — Delta's remove/add action pair).  Readers resolve a
version (latest by default, or AS OF any past version) to a file list
and read exactly those parquet files — a reader never sees a partial
commit, because:

* part files are immutable once a commit references them and are
  written BEFORE the commit record (write-ordering barrier);
* the commit record itself is claimed with `os.open(O_CREAT | O_EXCL)`
  — creation is the atomic publish point, and two writers racing to
  commit version N get exactly one winner (OPTIMISTIC CONCURRENCY: the
  loser re-reads the log, rebases, retries with N+1 — returned loudly
  here as `CommitConflict` rather than hidden behind a retry loop, so
  callers own their merge semantics);
* superseded files are never deleted by commit — history stays
  readable; `vacuum()` is the explicit, destructive retention step and
  refuses to drop files still referenced by a retained version.

Scale: the log is O(commits) driver-side JSON (Delta's exact shape —
table data never flows through it), reads plan the resolved file list
as an ordinary parquet scan (pushdown/pruning intact), and writes are
executor-parallel parquet jobs.  Every 10th commit folds the table
state into a `ckpt-v{N}.parquet` LOG CHECKPOINT (Delta's
`_last_checkpoint` pattern), so reader planning opens O(1) checkpoint +
O(tail) records —
not O(commits) — however many micro-batches a streaming ingest has
committed; version records are never removed, so AS-OF reads before any
checkpoint stay exact.  The reference has no I/O at all
(/root/reference/tinymr.py:156-230); versioned tables are
beyond-reference surface (SURVEY.md §2.3), the snapshot-isolation
follow-on the q141/q124 manifest commits pointed at.

Each decision of the write contract has one home, which every verb
(write, merge, update, delete, delete_dv, replace_where, optimize,
zorder) calls: `_head` is the one head read a verb or DDL commit plans
against; `_stage_logical` stages a logical-named frame under physical
names and the table's partition layout and collects its stats and
blooms; `_drop_empty_parts` holds the ZERO-ROW RULE — only a
table-creating or appending `write()` may keep one empty file (a 0-row
commit must still carry its schema), every rewrite, materialization
and change-data stage drops them all; `_check_staged` validates CHECK
constraints and generated columns on the staged bytes;
`_allocate_identity` hands out identity ids from the recorded
high-water mark; `_incoming_field` strips another table's contract
metadata (`_CONTRACT_KEYS`) from an incoming field; and
`_predicate_tiers` splits a predicate delete's files into untouched,
whole and straddling.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession


class CommitConflict(Exception):
    """Another writer claimed this version first — re-read the log,
    rebase, retry against the new head."""


def _log_dir(path: str) -> str:
    return os.path.join(path, "_log")


def _version_file(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"v{version}.json")


def _checkpoint_parquet(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"ckpt-v{version}.parquet")


def _record(path: str, version: int) -> dict:
    """One commit record, opened through the module-level `open` — the
    one name log-open instrumentation patches, so every reader of the
    log (replay, feeds, the stream source) is counted."""
    with open(_version_file(path, version)) as f:
        return json.load(f)


# Every AUTO_CHECKPOINT_INTERVAL-th commit folds the _replay state into a
# parquet checkpoint (Delta's every-10-commits checkpoint): without one,
# _replay folds EVERY version record on EVERY read — O(commits) driver
# file-opens, unbounded for a long-running streaming ingest that commits
# once per micro-batch (q163).  With it, a read opens one checkpoint +
# the tail since (<= interval records), O(1) amortized.
AUTO_CHECKPOINT_INTERVAL = 10

# Replay-cost instrumentation: version-record opens performed by
# _replay since process start.  Tests assert a post-checkpoint read
# opens O(tail), not O(commits); not part of the public API.
_replay_opens = 0

# Deletion-vector read strategy gate: while the live vectors for the
# planned files total at most this many bytes, the anti join broadcasts
# the DV side (one tiny table to every executor — Delta's per-task
# bitmap shape).  A table that takes millions of delete_dv rows without
# an OPTIMIZE would eventually push a broadcast past executor memory,
# so past the bound the hint is dropped and the anti join plans as an
# ordinary shuffle join (AQE still free to pick broadcast if the
# runtime size allows).  Sized under Spark's 10 MB default
# autoBroadcastJoinThreshold.
DV_BROADCAST_MAX_BYTES = 8 << 20


def checkpoint_versions(path: str) -> list[int]:
    """Versions with a published parquet log checkpoint, ascending."""
    d = _log_dir(path)
    if not os.path.isdir(d):
        return []
    out = []
    for f in os.listdir(d):
        if f.startswith("ckpt-v") and f.endswith(".parquet"):
            try:
                out.append(int(f[6:-8]))
            except ValueError:
                continue
    return sorted(out)


def checkpoint(path: str, version: int | None = None) -> int:
    """Fold the `_replay` state AS OF `version` (latest when None) into
    `_log/ckpt-v{N}.parquet`, the replay shortcut `_replay` starts from.
    One ROW PER LIVE FILE (columns: `f`, `stats` as a JSON string, `dv`)
    with the table-level state (schema / constraints / colmap /
    partition_by / identity_hwm / cluster_by) in the parquet schema
    metadata — Delta's parquet-checkpoint shape: at metadata scale
    (millions of live files) the checkpoint is READABLE AS A DATAFRAME
    and streams in batches.  Content is a pure function of the immutable
    log, so concurrent checkpointers racing on the same version write
    identical bodies — `os.replace` publishes whichever lands last,
    atomically.  History stays exact: version records are never removed,
    so AS-OF reads BEFORE any checkpoint still replay from v0 (or from
    an older checkpoint)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    vs = versions(path)
    if not vs:
        raise ValueError(f"minitable {path} has no commits to checkpoint")
    if version is None:
        version = vs[-1]
    state = _replay(path, version)  # raises on an unknown version
    entries, dvs = state.entries, state.dvs
    meta = {"version": version}
    if state.schema is not None:
        meta["schema"] = state.schema
    if state.constraints:
        meta["constraints"] = state.constraints
    if state.colmap:
        meta["colmap"] = state.colmap
    # the three log-state keys are ALWAYS present (None / {} mean
    # "authoritatively unset"): _replay only starts from a checkpoint
    # that carries all of them
    meta["partition_by"] = state.partition_by
    meta["identity_hwm"] = state.identity_hwm
    meta["cluster_by"] = state.cluster_by
    table = pa.table(
        {
            "f": pa.array([f for f, _st in entries], pa.string()),
            "stats": pa.array(
                [None if st is None else json.dumps(st) for _f, st in entries],
                pa.string(),
            ),
            "dv": pa.array([dvs.get(f) for f, _st in entries], pa.string()),
        }
    ).replace_schema_metadata({"minitable_meta": json.dumps(meta)})
    tmp = _checkpoint_parquet(path, version) + f".{uuid.uuid4().hex[:8]}.tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, _checkpoint_parquet(path, version))
    return version


def versions(path: str) -> list[int]:
    """All committed versions, ascending.  Only fully-published records
    appear: the O_CREAT|O_EXCL claim makes file EXISTENCE the commit."""
    d = _log_dir(path)
    if not os.path.isdir(d):
        return []
    out = []
    for f in os.listdir(d):
        if f.startswith("v") and f.endswith(".json"):
            try:
                out.append(int(f[1:-5]))
            except ValueError:
                continue
    return sorted(out)


# Commit wall-clock source — module-level indirection so tests can pin it.
_now = time.time


def _effective_commit_ts(path: str, v: int) -> float:
    """One commit's effective wall-clock time: the recorded `ts`, else
    the record file's mtime (legacy records) — THE timestamp rule,
    shared by batch AS-OF resolution and the stream source's
    startingTimestamp so the two can never drift apart."""
    eff = _record(path, v).get("ts")
    return float(eff) if eff is not None else os.path.getmtime(_version_file(path, v))


def version_at_or_after_timestamp(
    path: str, ts: float, vs: list[int] | None = None
) -> int | None:
    """The FIRST committed version whose effective time is at or after
    `ts`, or None when every commit predates it — the >= twin of
    version_at_timestamp, THE shared rule for startingTimestamp
    subscriptions (stream) and from_timestamp feeds (batch).  Pass a
    pre-listed `vs` to resolve against one consistent log listing (the
    stream does, so a commit landing mid-call can't fall between two
    listings)."""
    for v in vs if vs is not None else versions(path):
        if _effective_commit_ts(path, v) >= ts:
            return v
    return None


def version_at_timestamp(path: str, ts: float) -> int:
    """TIMESTAMP AS OF resolution (Delta's `versionAtTimestamp`): the
    newest committed version whose recorded commit time is <= `ts`.
    Commit times are the writer's wall clock recorded in each version
    record (legacy records without one fall back to the record file's
    mtime — CAVEAT: any log copy that rewrites mtimes, e.g. a
    backup-restore or plain rsync without -t, silently shifts AS-OF
    resolution for those pre-upgrade commits; new records carry `ts` in
    the body and are immune.  Running `checkpoint()` does NOT backfill
    legacy records — re-commit or leave them and accept mtime
    semantics); like Delta, ordering assumes reasonably-monotonic writer
    clocks — version numbers, not timestamps, are the source of truth,
    so the scan keeps the LAST qualifying version in commit order.
    Raises when `ts` predates the first commit."""
    best = None
    for v in versions(path):
        if _effective_commit_ts(path, v) <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"minitable {path} has no commit at or before timestamp {ts}"
        )
    return best


def history(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE HISTORY: one row per committed version — action, commit
    timestamp, data_change flag, added/removed file counts, whether the
    commit carried deletion vectors / a schema record / a column-map
    record / an idempotence token, and the partition layout / recorded
    clustering keys it declared (comma-joined, NULL when absent).  Driver-side O(commits) JSON reads
    (the log IS the history; table data never flows through it) returned
    as a DataFrame so it composes with ordinary queries — Delta's
    DESCRIBE HISTORY surface."""
    rows = []
    for v in versions(path):
        rec = _record(path, v)
        rows.append(
            (
                v,
                rec["action"],
                rec.get("data_change", True) is not False,
                len(rec.get("added") or ()),
                len(rec.get("removed") or ()),
                float(rec["ts"]) if "ts" in rec else None,
                bool(rec.get("dv")),
                "schema" in rec,
                "colmap" in rec,
                (rec.get("txn") or {}).get("app"),
                ",".join(rec["partition_by"]) if rec.get("partition_by") else None,
                ",".join(rec["cluster_by"]) if rec.get("cluster_by") else None,
            )
        )
    return spark.createDataFrame(
        rows,
        "version int, action string, data_change boolean, n_added int, "
        "n_removed int, commit_ts double, has_dv boolean, has_schema boolean, "
        "has_colmap boolean, txn_app string, partition_by string, "
        "cluster_by string",
    )


def detail(spark: SparkSession, path: str, version: int | None = None) -> DataFrame:
    """DESCRIBE DETAIL (Delta's one-row table summary) AS OF `version`:
    location, head version, live file count and total bytes, logical
    column count, partition / clustering columns, live deletion-vector
    count, constraint count, and which column contracts are active
    (generated / identity / defaults / column mapping).  Metadata-only —
    O(live files) getsize calls, no data scan."""
    state = _replay(path, version)
    vs = versions(path)
    v = version if version is not None else (vs[-1] if vs else None)
    if v is None:
        raise ValueError(f"minitable {path} has no commits")
    nbytes = 0
    for f, _st in state.entries:
        try:
            nbytes += os.path.getsize(os.path.join(path, f))
        except OSError:
            pass  # vacuumed historical target: detail stays answerable
    schema = state.schema
    fields = (schema or {}).get("fields", [])
    pby, cby = state.partition_by, state.cluster_by
    row = (
        "minitable",
        os.path.abspath(path),
        int(v),
        len(state.entries),
        int(nbytes),
        len(fields) or None,
        ",".join(pby) if pby else None,
        ",".join(cby) if cby else None,
        len(set(state.dvs.values())),
        len(state.constraints),
        len(_generated_map(schema)),
        len(_identity_map(schema)),
        len(_default_map(schema)),
        bool(state.colmap),
        float(_effective_commit_ts(path, v)),
    )
    return spark.createDataFrame(
        [row],
        "format string, location string, version int, num_files int, "
        "size_bytes bigint, num_columns int, partition_by string, "
        "cluster_by string, num_deletion_vectors int, num_constraints int, "
        "num_generated_columns int, num_identity_columns int, "
        "num_default_columns int, column_mapping boolean, commit_ts double",
    )


def convert_parquet_dir(
    spark: SparkSession,
    src_dir: str,
    path: str,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
) -> int:
    """CONVERT TO minitable (Delta's `CONVERT TO DELTA`): commit v0 of
    `path` referencing an EXISTING plain-parquet directory's files in
    place, by absolute path — zero data moves, the migration costs one
    commit record (plus optional O(files) footer reads for stats).  The
    schema is inferred once from the files and recorded, so subsequent
    reads are log-typed like any native table; from then on every verb
    (append/merge/update/delete/optimize/clone/vacuum) works, with
    copy-on-write rewrites landing under `path` while the borrowed
    originals are never touched (clone()'s borrowed-file rules: vacuum
    walks only its own directory).  Refuses a target that already has
    commits."""
    if versions(path):
        raise ValueError(f"convert target {path} already has commits")
    files = sorted(
        os.path.join(r, f)
        for r, _d, fs in os.walk(src_dir)
        for f in fs
        if f.endswith(".parquet")
    )
    if not files:
        raise ValueError(f"no parquet files under {src_dir}")
    # Hive-partitioned layouts are refused LOUDLY: the partition values
    # live in directory names, not in the data files, so a leaf-file
    # convert would silently drop those columns from every read (Delta's
    # CONVERT requires an explicit partition schema for the same
    # reason).  Re-stage through write(partition_by=...) instead.
    hive = sorted(
        {
            seg
            for f in files
            for seg in os.path.relpath(f, src_dir).split(os.sep)[:-1]
            if "=" in seg
        }
    )
    if hive:
        raise ValueError(
            f"{src_dir} is hive-partitioned ({hive[:3]}...): the partition "
            "columns live in directory names and would be silently lost — "
            "re-ingest via write(partition_by=...) instead of convert"
        )
    # Borrowed files keep their names, so the basename-uniqueness
    # invariant every DV join and probe keys on must be checked, not
    # assumed: Spark's dynamic-partition writer (and unlucky copies) can
    # produce identical basenames in different subdirectories.
    seen: dict[str, str] = {}
    for f in files:
        b = os.path.basename(f)
        if b in seen:
            raise ValueError(
                f"duplicate part-file basename {b!r} under {src_dir} "
                f"({seen[b]} vs {f}) — deletion vectors and DML probes key "
                "on basenames; deduplicate the layout before converting"
            )
        seen[b] = f
    schema = spark.read.parquet(*files).schema.jsonValue()
    for f in schema["fields"]:
        f["nullable"] = True
    os.makedirs(path, exist_ok=True)
    stats = (
        _collect_stats(path, files, stats_cols or [], bloom_cols)
        if (stats_cols or bloom_cols)
        else None
    )
    return commit(path, "overwrite", files, stats=stats, schema=schema)


class _State(NamedTuple):
    """One table snapshot: everything a reader or DML verb needs from
    the log AS OF one version — see _replay for the meaning of each
    field.  The first five keep their positional order so index
    readers (`_replay(p)[2]`) stay valid."""

    entries: list[tuple[str, dict | None]]
    schema: dict | None
    dvs: dict[str, str]
    constraints: dict[str, str]
    colmap: dict[str, str]
    partition_by: list[str] | None
    cluster_by: list[str] | None
    identity_hwm: dict[str, int]

    @classmethod
    def empty(cls) -> _State:
        """The state before v0 (fresh containers on every call)."""
        return cls([], None, {}, {}, {}, None, None, {})


def _apply(state: _State, rec: dict) -> _State:
    """Fold ONE version record into `state` — the single log step
    `_replay`, the change readers and vacuum share.  Pure: `state` is
    never mutated, so a caller may keep the previous state (the change
    decoder reads its DVs) while advancing.  Live files: `append` unions
    its files in, `overwrite` replaces the set (and its DV map — a restore
    carries the target's vectors through its record), `merge` and `dv`
    swap `removed` out for `added` and retire the removed files'
    vectors; a newer vector for a file REPLACES the older (it carries
    the cumulative union).  `schema` / `constraints` / `colmap`: a
    record carrying the key sets it (an explicit null / {} resets).
    `partition_by` / `cluster_by` / `identity_hwm`: a record carrying
    the key sets `rec[key] or default`, and an `overwrite` WITHOUT it
    resets to the default (the overwrite re-laid the table out)."""
    action = rec["action"]
    stats = rec.get("stats", {})
    fresh = [(f, stats.get(f)) for f in rec["added"]]
    live, dvs = state.entries, state.dvs
    pby, cby, hwm = state.partition_by, state.cluster_by, state.identity_hwm
    if action == "overwrite":
        live, dvs = fresh, dict(rec.get("dv", {}))
        pby, cby, hwm = None, None, {}
    elif action in ("merge", "dv"):
        dropped = set(rec.get("removed", ()))
        live = [e for e in live if e[0] not in dropped] + fresh
        # the rewrite / removal materialized the dropped files' deletes
        dvs = {r: d for r, d in dvs.items() if r not in dropped}
        if action == "dv":
            dvs.update(rec.get("dv") or {})
    elif action != "meta":  # meta: table metadata only
        live = live + fresh
    if dvs is not state.dvs and dvs:
        # a record that rebuilt the DV map keeps live files' vectors only
        alive = {f for f, _st in live}
        dvs = {r: d for r, d in dvs.items() if r in alive}
    if "partition_by" in rec:
        pby = rec["partition_by"] or None
    if "cluster_by" in rec:
        cby = rec["cluster_by"] or None
    if "identity_hwm" in rec:
        hwm = rec["identity_hwm"] or {}
    return _State(
        live,
        rec["schema"] if "schema" in rec else state.schema,
        dvs,
        dict(rec["constraints"]) if "constraints" in rec else state.constraints,
        dict(rec["colmap"]) if "colmap" in rec else state.colmap,
        pby,
        cby,
        hwm,
    )


def _replay(path: str, version: int | None = None) -> _State:
    """THE log fold: the table state AS OF `version` (latest when None),
    folded forward one record at a time by `_apply`.  Fields:

    * `entries` — the live `(relpath, stats)` pairs in
      commit-then-manifest order (`stats` is the per-file column
      min/max map recorded by the commit that added the file; None when
      the writer skipped stats — readers must treat that
      conservatively);
    * `schema` — the LATEST table-schema record at <= version (Spark
      StructType jsonValue; None on legacy logs whose commits never
      recorded one).  It always holds LOGICAL names; stats/footers hold
      physical;
    * `dvs` — live relpath -> its current DELETION-VECTOR file
      (delete_dv's sidecar of logically-deleted (file, row_index) rows);
    * `constraints` — the CHECK-constraint map {name: sql_expr};
    * `colmap` — the COLUMN-MAPPING table {logical: physical} (Delta's
      column-mapping mode: RENAME / DROP COLUMN are pure metadata
      because data files always carry the stable PHYSICAL names; empty
      means mapping was never activated and physical == logical);
    * `partition_by` — the recorded partition layout (logical names),
      None when unpartitioned;
    * `cluster_by` — the recorded clustering keys, None when unset;
    * `identity_hwm` — the identity high-water marks {col: last id}.

    Starts from the NEWEST checkpoint <= `version` and folds only the
    tail records after it — O(1) + O(tail) file opens instead of
    O(commits), the metadata bottleneck Delta's `_last_checkpoint`
    solves for long-lived tables.  A checkpoint whose metadata lacks
    any of the three log-state keys is not a start point (the fold then
    walks from v0, exact).  Records are opened through the module-level
    `open`, the one name replay-cost instrumentation patches."""
    global _replay_opens
    state = _State.empty()
    vs = versions(path)
    if not vs:
        return state
    if version is None:
        version = vs[-1]
    if version not in vs:
        raise ValueError(f"minitable {path} has no version {version} (log: {vs})")
    start = 0
    cks = [c for c in checkpoint_versions(path) if c <= version]
    if cks:
        import pyarrow.parquet as pq

        table = pq.read_table(_checkpoint_parquet(path, max(cks)))
        meta = json.loads(
            (table.schema.metadata or {}).get(b"minitable_meta", b"{}")
        )
        if {"partition_by", "cluster_by", "identity_hwm"} <= meta.keys():
            files = table.column("f").to_pylist()
            dv_col = table.column("dv").to_pylist()
            state = _State(
                [
                    (f, None if st is None else json.loads(st))
                    for f, st in zip(files, table.column("stats").to_pylist())
                ],
                meta.get("schema"),
                {f: d for f, d in zip(files, dv_col) if d is not None},
                dict(meta.get("constraints", {})),
                dict(meta.get("colmap", {})),
                meta["partition_by"] or None,
                meta["cluster_by"] or None,
                meta["identity_hwm"] or {},
            )
            start = max(cks) + 1
    for v in vs:
        if start <= v <= version:
            _replay_opens += 1
            state = _apply(state, _record(path, v))
    return state


def _live_entries(path: str, version: int | None = None) -> list[tuple[str, dict | None]]:
    """The live `(relpath, stats)` pairs AS OF `version` — see _replay."""
    return _replay(path, version).entries


def add_constraint(spark: SparkSession, path: str, name: str, expr: str) -> int:
    """ALTER TABLE ADD CONSTRAINT name CHECK (expr) — Delta's write-time
    data-quality contract.  Validates the EXISTING table first (a
    constraint that current rows violate refuses — one scan, the price
    Delta pays too), then records the full constraint map in a `meta`
    commit (data_change=false: no rows changed, streams and feeds skip
    it).  From then on every write()/merge() batch is rejected LOUDLY if
    any new row violates any constraint; SQL CHECK semantics — NULL
    passes, only FALSE violates.

    The meta commit claims head+1 where head is the version the
    validation scan ran against (restore()'s protocol): a write landing
    BETWEEN the scan and the commit was validated against the
    pre-constraint contract, so absorbing it silently could record the
    constraint as valid over a table that already violates it (TOCTOU —
    ADVICE r8).  The race surfaces as CommitConflict; the caller
    re-invokes against the new head."""
    from pyspark.sql import functions as F

    head, state = _head(path)
    cur = state.constraints
    if name in cur:
        raise ValueError(f"constraint {name!r} already exists on {path}")
    bad = 0
    if head is not None and state.entries:
        # zero live files: vacuously satisfied
        bad = (
            read(spark, path, head)
            .where(F.coalesce(F.expr(expr), F.lit(True)) == False)  # noqa: E712
            .limit(1)
            .count()
        )
    if bad:
        raise ValueError(
            f"cannot add constraint {name!r} ({expr}): existing rows violate it"
        )
    return commit(
        path,
        "meta",
        [],
        constraints={**cur, name: expr},
        data_change=False,
        expected_version=(head + 1) if head is not None else 0,
    )


def _enforce_constraints(df: DataFrame, constraints: dict[str, str], what: str) -> None:
    """Reject `df` if any row violates any CHECK constraint (one
    aggregate pass counting violations per constraint; SQL semantics —
    NULL passes, FALSE violates)."""
    if not constraints:
        return
    from pyspark.sql import functions as F

    names = sorted(constraints)
    counts = df.agg(
        *[
            F.count(
                F.when(
                    F.coalesce(F.expr(constraints[n]), F.lit(True)) == False,  # noqa: E712
                    1,
                )
            ).alias(n)
            for n in names
        ]
    ).collect()[0]
    violated = {n: counts[n] for n in names if counts[n]}
    if violated:
        raise ValueError(
            f"{what} violates CHECK constraint(s) {violated} — "
            f"definitions: { {n: constraints[n] for n in violated} }"
        )


def table_schema(path: str, version: int | None = None) -> dict | None:
    """The committed table schema AS OF `version` (StructType jsonValue),
    or None when no commit <= version recorded one (legacy logs) — the
    schema-evolution timeline: an AS-OF read before an ADD COLUMN commit
    serves the OLD schema, reads at/after it serve the new one with
    nulls for files written before the change."""
    return _replay(path, version).schema


def _generated_map(schema: dict | None) -> dict[str, str]:
    """{logical column: generation SQL expr} recorded in the schema's
    field metadata — Delta's generated-column design: the expression
    lives WITH the field it defines, so it rides the existing schema
    timeline (AS-OF reads see the era's expressions), survives appends
    (_merge_schemas keeps prev's fields verbatim), and resets on
    overwrite exactly when the schema does — no new log record kind and
    no _replay widening."""
    if not schema:
        return {}
    out: dict[str, str] = {}
    for f in schema.get("fields", []):
        g = (f.get("metadata") or {}).get("generated")
        if g:
            out[f["name"]] = g
    return out


def table_generated(path: str, version: int | None = None) -> dict[str, str]:
    """The generated-column map {col: sql_expr} AS OF `version`; empty
    when the table has no generated columns."""
    return _generated_map(table_schema(path, version))


def _check_staged(
    spark: SparkSession,
    path: str,
    rels: list[str],
    schema: dict | None,
    colmap: dict[str, str],
    constraints: dict[str, str],
    gen_cols: list[str],
    what: str,
) -> None:
    """Validate the STAGED files `rels` — the exact bytes that will
    commit, not the incoming DataFrame (a nondeterministic frame would
    otherwise stage a different materialization than the one validated)
    — against the CHECK `constraints` plus the generation invariant of
    the generated columns `gen_cols`, as CHECK-shaped expressions: a row
    satisfies `col <=> (expr)` (null-safe equality, so a NULL generated
    value only passes when the expression is NULL too; a writer-supplied
    value that disagrees is rejected loudly, Delta's contract).  The
    scan is typed by `schema`, the table's (possibly merged) log schema,
    not inference: a merge_schema append that legitimately omits an
    evolved column referenced by a constraint must resolve it as NULL
    (SQL CHECK passes), not fail analysis.  Nothing staged or nothing to
    check: no scan."""
    gen = _generated_map(schema)
    checks = {
        **constraints,
        **{f"generated:{c}": f"`{c}` <=> ({gen[c]})" for c in gen_cols},
    }
    if rels and checks:
        _enforce_constraints(
            _read_files(spark, [os.path.join(path, r) for r in rels], schema, colmap),
            checks,
            what,
        )


def _identity_map(schema: dict | None) -> dict[str, tuple[int, int]]:
    """{col: (start, step)} for IDENTITY columns, recorded in schema
    field metadata exactly like generation expressions (Delta's
    GENERATED ALWAYS AS IDENTITY): the spec rides the schema timeline,
    appends inherit it, an overwrite resets it with the schema."""
    if not schema:
        return {}
    out: dict[str, tuple[int, int]] = {}
    for f in schema.get("fields", []):
        spec = (f.get("metadata") or {}).get("identity")
        if spec:
            out[f["name"]] = (int(spec["start"]), int(spec["step"]))
    return out


def table_identity_hwm(path: str, version: int | None = None) -> dict[str, int]:
    """The identity HIGH-WATER MARKS {col: last_assigned_id} as of
    `version` — the allocation state every id-assigning commit records
    as a full map (newest record wins; an overwrite without one resets,
    restore/clone re-record their era's marks).  A field of the one
    `_replay` fold: O(tail) from the newest checkpoint, which carries
    the marks; an unknown version raises."""
    return _replay(path, version).identity_hwm


class _LayoutFromTable:
    """Sentinel default for write(partition_by=...): an append that does
    not name a layout inherits the table's RECORDED one (ADVICE r10 —
    otherwise a plain append to a partitioned table silently stages
    non-hive, stats-less files and degrades later retention deletes from
    metadata-only whole-drops to rewrites).  Passing None or []
    explicitly still forces unpartitioned staging."""

    def __repr__(self) -> str:  # keeps help(write) readable
        return "<table layout>"


_LAYOUT_FROM_TABLE = _LayoutFromTable()


def _assign_identity(
    df: DataFrame, col: str, next_id: int, step: int, only_missing: bool = False
) -> tuple[DataFrame, int, DataFrame]:
    """DENSE distributed id assignment, shuffle-free: persist() pins the
    partitioning, one tiny per-partition count aggregate gives the
    driver O(partitions) offsets (prefix sums), and a single Arrow
    `mapInPandas` pass writes `next_id + step*i` in partition-then-row
    order — ids are contiguous (`next_id .. next_id + step*(n-1)`),
    never window-sorted globally (the q103 trap) and never
    monotonically_increasing_id's billion-wide gaps.  `only_missing`
    (the merge-insert path) assigns only NULL slots, preserving
    existing ids EXACTLY: the column rides into Arrow as STRINGS, since
    a nullable int64 batch reaches pandas as float64 and would silently
    corrupt ids above 2^53 (review r10).  Returns (df_with_ids,
    last_assigned, pinned_df) — last stays `next_id - step` (the old
    hwm) when nothing needed an id; the caller MUST unpersist
    `pinned_df` once the output is staged (review r10: a leaked pin per
    micro-batch would accumulate executor storage forever)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    if only_missing:
        # exact round-trip carrier for the preserved ids (see docstring)
        df = df.withColumn(col, F.col(col).cast("string"))
    pinned = df.persist()  # count + assign must see ONE layout
    pid = F.spark_partition_id().alias("__pid")
    if only_missing:
        counted = pinned.select(pid, col).groupBy("__pid").agg(
            F.count(F.when(F.col(col).isNull(), 1)).alias("n")
        )
    else:
        counted = pinned.select(pid).groupBy("__pid").agg(F.count("*").alias("n"))
    counts = {r["__pid"]: r["n"] for r in counted.collect()}
    offs, acc = {}, 0
    for p in sorted(counts):
        offs[p] = acc
        acc += counts[p]
    last = next_id + step * (acc - 1) if acc else next_id - step
    base_fields = [f for f in pinned.schema.fields if f.name != col]
    out_schema = StructType(base_fields + [StructField(col, LongType(), True)])
    order = [f.name for f in out_schema.fields]

    def assign(batches):
        counter: dict[int, int] = {}
        for pdf in batches:
            if len(pdf) == 0:
                if col not in pdf:
                    pdf[col] = []
                yield pdf[order]
                continue
            p = int(pdf["__pid"].iloc[0])
            c0 = counter.get(p, offs.get(p, 0))
            if only_missing:
                vals = pdf[col].tolist()  # strings or None — exact
                out_vals, i = [], 0
                for v in vals:
                    if v is None:
                        out_vals.append(next_id + step * (c0 + i))
                        i += 1
                    else:
                        out_vals.append(int(v))
                pdf[col] = out_vals
                counter[p] = c0 + i
            else:
                n = len(pdf)
                pdf[col] = [next_id + step * (c0 + i) for i in range(n)]
                counter[p] = c0 + n
            if counter[p] - offs.get(p, 0) > counts.get(p, 0):
                # the persisted pin was evicted and a nondeterministic
                # upstream recomputed MORE rows than the driver counted —
                # assigning past this partition's allotment would hand out
                # ids from the NEXT partition's range (silent duplicates).
                # Uniqueness is the contract; fail the job instead.
                raise RuntimeError(
                    f"identity assignment diverged: partition {p} produced "
                    f"more rows needing ids than the driver counted "
                    f"({counts.get(p, 0)}) — the pinned frame was recomputed "
                    "nondeterministically; re-run the write"
                )
            yield pdf[order]

    out = pinned.withColumn("__pid", F.spark_partition_id()).mapInPandas(
        assign, schema=out_schema
    )
    return out, last, pinned


def _allocate_identity(
    df: DataFrame,
    idmap: dict[str, tuple[int, int]],
    hwm: dict[str, int],
    only_missing: bool = False,
) -> tuple[DataFrame, dict[str, int] | None, list[DataFrame]]:
    """Assign every identity column of `idmap` ({col: (start, step)})
    densely, continuing from the recorded high-water marks `hwm` (a
    column without a mark starts at `start`).  Returns (df_with_ids,
    new marks, pins): the marks are None when no mark moved, because a
    commit records — and later conflicts on — allocation only when ids
    were actually handed out; an EMPTY batch (routine in streaming
    foreachBatch, a pure scoped replace_where, a no-insert merge)
    commutes with concurrent allocators like any non-allocating commit.
    The caller MUST unpersist the pins once the output is staged."""
    new_hwm = dict(hwm)
    pins: list[DataFrame] = []
    for c, (i_start, i_step) in sorted(idmap.items()):
        nxt = hwm.get(c, i_start - i_step) + i_step
        df, new_hwm[c], pin = _assign_identity(df, c, nxt, i_step, only_missing)
        pins.append(pin)
    return df, (new_hwm if new_hwm != hwm else None), pins


def table_cluster_by(path: str, version: int | None = None) -> list[str] | None:
    """The table's recorded CLUSTERING KEYS as of `version` (Delta's
    liquid-style clusteringColumns): zorder() records its `by` list,
    OPTIMIZE consults it to keep compaction clustering-aware, rename
    re-points it, restore/clone carry their era's keys, and an
    overwrite without a record resets to None.  A field of the one
    `_replay` fold, O(tail) from the newest checkpoint."""
    return _replay(path, version).cluster_by


def _physical_schema(schema: dict, colmap: dict[str, str]) -> dict:
    """The schema with field names mapped logical -> physical — the
    shape the parquet files actually carry."""
    out = dict(schema)
    out["fields"] = [
        {**f, "name": colmap.get(f["name"], f["name"])} for f in schema["fields"]
    ]
    return out


def _full_colmap(schema: dict, colmap: dict[str, str]) -> dict[str, str]:
    """`colmap` completed with identity entries for every schema field —
    the shape rename/drop meta commits record (a complete map, so later
    readers never have to guess which columns predate activation)."""
    return {f["name"]: colmap.get(f["name"], f["name"]) for f in schema["fields"]}


def _phys_where(where: list[tuple], colmap: dict[str, str]) -> list[tuple]:
    """A where-conjunction translated logical -> physical for consulting
    commit-log stats (which are keyed by the files' physical names)."""
    if not colmap:
        return where
    return [(colmap.get(c, c), op, v) for c, op, v in where]


def _to_physical(df: DataFrame, colmap: dict[str, str]) -> DataFrame:
    """Rename a logical-named DataFrame to physical names for staging —
    data files ALWAYS carry physical names (Delta's column-mapping
    invariant: rename/drop never rewrite data because the files' names
    never change).  Columns without a map entry (e.g. `_change_type` on
    staged change-data) pass through."""
    from pyspark.sql import functions as F

    if not colmap or all(colmap.get(c, c) == c for c in df.columns):
        return df
    return df.select(
        *[F.col(c).alias(colmap.get(c, c)) for c in df.columns]
    )


def _constraint_mentions(constraints: dict[str, str], col: str) -> list[str]:
    """Constraint names whose SQL expression mentions `col` as a word —
    conservative (a string literal containing the name also matches):
    renaming/dropping a constrained column is refused rather than
    silently breaking the recorded expression."""
    import re

    pat = re.compile(rf"(?<![A-Za-z0-9_]){re.escape(col)}(?![A-Za-z0-9_])")
    return sorted(n for n, e in constraints.items() if pat.search(e))


def _head(path: str, ddl: str | None = None) -> tuple[int | None, _State]:
    """The head version (None before v0) and its one `_replay` state —
    the single head read every verb plans against and claims head+1
    from.  `ddl` names a column-DDL meta commit, which also needs a
    committed table with the schema timeline."""
    vs = versions(path)
    if not vs:
        if ddl:
            raise ValueError(f"minitable {path} has no commits")
        return None, _State.empty()
    state = _replay(path, vs[-1])
    if ddl and state.schema is None:
        raise ValueError(
            f"minitable {path} has no recorded schema — {ddl} needs "
            "the schema timeline (write with this library first)"
        )
    return vs[-1], state


def rename_column(path: str, old: str, new: str) -> int:
    """ALTER TABLE RENAME COLUMN — pure metadata via COLUMN MAPPING
    (Delta's column-mapping mode): the meta commit records the renamed
    LOGICAL schema plus the full {logical: physical} map, where the new
    logical name keeps the OLD physical name — data files are untouched
    (they always carry physical names), and AS-OF reads before this
    commit still serve the old logical name because they resolve the
    map as of their version.  Refused when the column is referenced by
    a CHECK constraint (the recorded expression would silently break).
    Claims head+1: racing a schema-evolving append must conflict, not
    silently drop its column from the recorded map."""
    head, state = _head(path, "column mapping")
    schema = state.schema
    names = [f["name"] for f in schema["fields"]]
    if old not in names:
        raise ValueError(f"no column {old!r} in {names}")
    if new in names:
        raise ValueError(f"column {new!r} already exists in {names}")
    blocked = _constraint_mentions(state.constraints, old)
    if blocked:
        raise ValueError(
            f"cannot rename {old!r}: referenced by CHECK constraint(s) "
            f"{blocked} — drop them first"
        )
    # same guard for generation expressions: the recorded expr would
    # silently break (every later write/update/merge would fail
    # analysis, with no repair path since the expr is immutable)
    gen_blocked = _constraint_mentions(
        {c: e for c, e in _generated_map(schema).items() if c != old}, old
    )
    if gen_blocked:
        raise ValueError(
            f"cannot rename {old!r}: it is an input of generated "
            f"column(s) {gen_blocked}"
        )
    if old in (state.partition_by or ()):
        raise ValueError(
            f"cannot rename {old!r}: it is a recorded partition column "
            "— rewrite the table under a new layout first"
        )
    if old in _identity_map(schema):
        # the high-water-mark records are keyed by logical name; a
        # rename would orphan the mark and the next append would
        # silently restart allocation at `start` — duplicate ids
        # (review r10)
        raise ValueError(
            f"cannot rename {old!r}: it is an identity column (its "
            "allocation state is keyed by name)"
        )
    full = _full_colmap(schema, state.colmap)
    full[new] = full.pop(old)  # the new logical keeps the old physical
    ckeys = state.cluster_by
    new_schema = dict(schema)
    new_schema["fields"] = [
        ({**f, "name": new} if f["name"] == old else f) for f in schema["fields"]
    ]
    return commit(
        path,
        "meta",
        [],
        schema=new_schema,
        colmap=full,
        data_change=False,
        expected_version=head + 1,
        # a recorded cluster key follows its column: clustering is a
        # physical property of the bytes, which a rename never moves
        cluster_by=(
            [new if c == old else c for c in ckeys]
            if ckeys and old in ckeys
            else None
        ),
    )


def drop_column(path: str, name: str) -> int:
    """ALTER TABLE DROP COLUMN — pure metadata via COLUMN MAPPING: the
    meta commit records the narrowed LOGICAL schema and the map without
    the dropped entry; data files keep the physical column (unreadable
    through the table — time travel before the drop still serves it).
    A later re-ADD of the same logical name gets a FRESH physical name
    (write() assigns one when mapping is active), so the dropped data
    never resurrects.  Refused for the last column or a constrained
    column."""
    head, state = _head(path, "column mapping")
    schema = state.schema
    names = [f["name"] for f in schema["fields"]]
    if name not in names:
        raise ValueError(f"no column {name!r} in {names}")
    if len(names) == 1:
        raise ValueError("cannot drop the last column of a table")
    blocked = _constraint_mentions(state.constraints, name)
    if blocked:
        raise ValueError(
            f"cannot drop {name!r}: referenced by CHECK constraint(s) "
            f"{blocked} — drop them first"
        )
    # dropping the generated column ITSELF is fine (its contract goes
    # with the field); dropping one of its INPUTS would brick every
    # later write/update/merge (the immutable expr fails analysis)
    gen_blocked = _constraint_mentions(
        {c: e for c, e in _generated_map(schema).items() if c != name}, name
    )
    if gen_blocked:
        raise ValueError(
            f"cannot drop {name!r}: it is an input of generated "
            f"column(s) {gen_blocked}"
        )
    if name in (state.partition_by or ()):
        raise ValueError(
            f"cannot drop {name!r}: it is a recorded partition column "
            "— rewrite the table under a new layout first"
        )
    if name in (state.cluster_by or ()):
        raise ValueError(
            f"cannot drop {name!r}: it is a recorded clustering key — "
            "zorder() by the remaining keys (re-recording them) first"
        )
    full = _full_colmap(schema, state.colmap)
    full.pop(name)
    new_schema = dict(schema)
    new_schema["fields"] = [f for f in schema["fields"] if f["name"] != name]
    return commit(
        path,
        "meta",
        [],
        schema=new_schema,
        colmap=full,
        data_change=False,
        expected_version=head + 1,
    )


# COLUMN DEFAULT VALUES (Delta's allowColumnDefaults / Spark's column
# DEFAULT): `ALTER TABLE ADD COLUMN c t DEFAULT v` must serve `v` — not
# NULL — for every row written BEFORE the column existed, while a
# post-ADD file that carries a real NULL still serves NULL.  The value
# rides the schema FIELD METADATA ({"default": <json scalar>}), exactly
# like generation/identity specs, so it follows the existing schema
# timeline for free: AS-OF reads serve each era's default, restore rolls
# it back, appends inherit it, an overwrite resets it with the schema,
# rename keeps it with the field, drop removes it.
#
# Readers serve it through Spark's OWN existence-default machinery: the
# scan schema stamps the rendered SQL literal as EXISTS_DEFAULT field
# metadata and the parquet reader fills the constant for files that
# PHYSICALLY lack the column — per-file discrimination decided by the
# file footer executor-side, at zero plan cost and with no coalesce()
# that would clobber genuine NULLs.  The physical-presence discriminator
# is exact because write() materializes the default into any append that
# omits the column (Delta's CURRENT_DEFAULT INSERT rule, below), so
# post-ADD files always carry it.
_DEFAULT_SQL_TYPES = {
    "byte": "TINYINT", "short": "SMALLINT", "integer": "INT",
    "long": "BIGINT", "float": "FLOAT", "double": "DOUBLE",
    "string": "STRING", "boolean": "BOOLEAN", "date": "DATE",
    "timestamp": "TIMESTAMP",
}
_INT_BITS = {"byte": 8, "short": 16, "integer": 32, "long": 64}


def _default_sql_literal(value, type_str: str) -> str:
    """A stored default rendered as a deterministic SQL literal of the
    column's CURRENT type — a column re-typed wider in the log schema
    re-renders automatically (an int-era default reads back as the wider
    type's exact value)."""
    if type_str == "string":
        return "'" + str(value).replace("'", "''") + "'"
    if type_str == "boolean":
        return "true" if value else "false"
    if type_str == "date":
        return f"DATE '{value}'"
    if type_str == "timestamp":
        return f"TIMESTAMP '{value}'"
    if type_str in ("float", "double"):
        # parse-from-string round-trips repr() exactly; a bare decimal
        # literal would re-round through DECIMAL on the way in
        return f"CAST('{value!r}' AS {_DEFAULT_SQL_TYPES[type_str]})"
    return f"CAST({int(value)} AS {_DEFAULT_SQL_TYPES[type_str]})"


def _default_map(schema: dict | None) -> dict[str, object]:
    """{logical column: EXISTENCE default} from the schema's field
    metadata — the constant served for files that predate the column,
    fixed at ADD COLUMN time (Spark's rule: a later write-side default
    is never retroactive).  Same timeline mechanics as _generated_map."""
    if not schema:
        return {}
    out: dict[str, object] = {}
    for f in schema.get("fields", []):
        md = f.get("metadata") or {}
        if "default" in md:
            out[f["name"]] = md["default"]
    return out


def _write_default_map(schema: dict | None) -> dict[str, object]:
    """{logical column: CURRENT (write-side) default} — the constant a
    write that OMITS the column materializes.  At ADD COLUMN time both
    defaults are the same value.  Tables on disk may also carry the two
    field metadata keys an ALTER COLUMN SET/DROP DEFAULT verb once wrote:
    `write_default` re-points only this side, and `write_default_dropped`
    turns the ADD-time default off for writes.  That is Spark's
    CURRENT_DEFAULT vs EXISTS_DEFAULT split: pre-ADD files keep serving
    the ORIGINAL existence default, already-written files are untouched,
    only later omitting writes see the write-side constant."""
    if not schema:
        return {}
    out: dict[str, object] = {}
    for f in schema.get("fields", []):
        md = f.get("metadata") or {}
        if "write_default" in md:
            out[f["name"]] = md["write_default"]
        elif "default" in md and not md.get("write_default_dropped"):
            out[f["name"]] = md["default"]
    return out


def _validate_default(value, type_: str):
    """Type/range/finiteness validation of an add_column DEFAULT;
    returns the JSON-storable form."""
    import datetime

    if type_ == "string":
        if not isinstance(value, str):
            raise ValueError(f"default for string column must be str, got {value!r}")
        return value
    if type_ == "boolean":
        if not isinstance(value, bool):
            raise ValueError(f"default for boolean column must be bool, got {value!r}")
        return value
    if type_ in _INT_BITS:
        if isinstance(value, bool) or not isinstance(value, int):
            raise ValueError(f"default for {type_} column must be int, got {value!r}")
        bound = 1 << (_INT_BITS[type_] - 1)
        if not (-bound <= value < bound):
            raise ValueError(f"default {value} out of range for {type_}")
        return value
    if type_ in ("float", "double"):
        if isinstance(value, bool) or not isinstance(value, (int, float)):
            raise ValueError(f"default for {type_} column must be numeric, got {value!r}")
        stored = float(value)
        if stored != stored or stored in (float("inf"), float("-inf")):
            raise ValueError("NaN/Inf defaults are not representable as SQL literals")
        return stored
    if type_ == "date":
        if not isinstance(value, datetime.date) or isinstance(value, datetime.datetime):
            raise ValueError(f"default for date column must be datetime.date, got {value!r}")
        return value.isoformat()
    if type_ == "timestamp":
        if not isinstance(value, datetime.datetime):
            raise ValueError(
                f"default for timestamp column must be datetime.datetime, got {value!r}"
            )
        return value.isoformat(sep=" ")
    raise ValueError(
        f"columns of type {type_!r} cannot carry a default "
        f"(supported: {sorted(_DEFAULT_SQL_TYPES)})"
    )


def _with_exists_defaults(schema: dict) -> dict:
    """The scan schema with each stored default stamped as Spark
    EXISTS_DEFAULT/CURRENT_DEFAULT field metadata — the key Spark's
    parquet reader consults to fill a column MISSING from a file's
    physical schema (files that carry the column are untouched)."""
    fields = []
    for f in schema["fields"]:
        md = f.get("metadata") or {}
        if "default" in md and isinstance(f["type"], str):
            lit = _default_sql_literal(md["default"], f["type"])
            f = {
                **f,
                "metadata": {**md, "EXISTS_DEFAULT": lit, "CURRENT_DEFAULT": lit},
            }
        fields.append(f)
    return {**schema, "fields": fields}


def add_column(path: str, name: str, type_: str, default=None) -> int:
    """ALTER TABLE ADD COLUMN [... DEFAULT] — pure metadata: the meta
    commit records the widened schema; with a DEFAULT, existing rows
    serve the default (not NULL) through the read-side existence-default
    fill, AS-OF reads before this commit serve the old schema, and every
    later write that omits the column materializes the default (Delta's
    CURRENT_DEFAULT INSERT rule).  `default=None` is the plain ADD
    COLUMN (existing rows serve NULL — q180's mergeSchema semantics as
    an explicit DDL verb).  Defaults must be constants of the declared
    type (Delta's existence defaults are constant-foldable by spec):
    str/bool/int/float/datetime.date/datetime.datetime per the type.
    With column mapping active the new logical name gets a FRESH
    physical name (a dropped column's data must never resurrect).
    Claims head+1 so a racing schema-evolving commit conflicts instead
    of being silently overwritten."""
    head, state = _head(path, "ADD COLUMN")
    schema, colmap = state.schema, state.colmap
    names = [f["name"] for f in schema["fields"]]
    if name in names:
        kind = (
            "a generated column"
            if name in _generated_map(schema)
            else "an identity column"
            if name in _identity_map(schema)
            else "a column"
        )
        raise ValueError(f"{name!r} already exists in {path} as {kind}")
    if type_ not in _DEFAULT_SQL_TYPES:
        raise ValueError(
            f"add_column supports scalar types {sorted(_DEFAULT_SQL_TYPES)}; "
            f"got {type_!r} (evolve complex types via write(merge_schema=True))"
        )
    stored = None
    if default is not None:
        stored = _validate_default(default, type_)
    new_schema = dict(schema)
    new_schema["fields"] = list(schema["fields"]) + [
        {
            "name": name,
            "type": type_,
            "nullable": True,
            "metadata": {"default": stored} if stored is not None else {},
        }
    ]
    full = None
    if colmap:
        full = _full_colmap(schema, colmap)
        full[name] = f"{name}_{uuid.uuid4().hex[:6]}"
    return commit(
        path,
        "meta",
        [],
        schema=new_schema,
        colmap=full,
        data_change=False,
        expected_version=head + 1,
    )


def snapshot(path: str, version: int | None = None) -> list[str]:
    """The live file list AS OF `version` (latest when None), absolute
    paths, in commit-then-manifest order (deterministic)."""
    return [os.path.join(path, f) for f, _ in _live_entries(path, version)]


def commit(
    path: str,
    action: str,
    added: list[str],
    txn: tuple[str, int] | None = None,
    removed: list[str] | None = None,
    stats: dict[str, dict] | None = None,
    schema: dict | None = None,
    predicate: list | None = None,
    cdf: list[str] | None = None,
    data_change: bool = True,
    expected_version: int | None = None,
    record_null_schema: bool = False,
    dv: dict[str, str] | None = None,
    constraints: dict[str, str] | None = None,
    partition_by: list[str] | None = None,
    colmap: dict[str, str] | None = None,
    identity_hwm: dict[str, int] | None = None,
    cluster_by: list[str] | None = None,
) -> int:
    """Publish the next version atomically; returns its number.

    The O_CREAT|O_EXCL open is the publish point: if another writer
    claimed the same number between our log read and our claim, the
    open fails and we surface CommitConflict — the caller rebases
    (its `added` files are already on disk and stay valid for the
    retry, so rebase cost is one more commit attempt, not a rewrite).

    `txn=(app_id, txn_version)` records an idempotence token in the
    commit (Delta's txnAppId/txnVersion pattern): a replaying writer
    checks `last_txn_version(path, app_id)` before committing and skips
    already-applied work — how a streaming micro-batch sink stays
    exactly-once across checkpoint replays (q163).

    `removed` (merge only) lists the live files this commit supersedes;
    `stats` maps added relpaths to per-column `[min, max]` pairs for
    data-skipping reads (`scan`) and merge file pruning; `schema`
    records the table schema this commit establishes (StructType
    jsonValue — the schema-evolution timeline readers resolve against);
    `predicate` records a DELETE commit's conjunction so the change
    feed can reconstruct deleted rows from the removed files;
    `cdf` lists staged change-data files (merge commits) carrying
    explicit `_change_type` rows for the feed; `data_change=False`
    marks a pure REORGANIZATION (compaction/clustering) whose rows are
    unchanged — the change feed skips it (Delta's dataChange flag)."""
    if action not in ("append", "overwrite", "merge", "dv", "meta"):
        raise ValueError(f"unknown minitable action {action!r}")
    if action in ("append", "overwrite", "meta") and removed is not None:
        raise ValueError(f"`removed` is not valid on {action} commits")
    if action == "merge" and removed is None:
        raise ValueError("`removed` is required for merge commits")
    if action == "dv" and not (dv or removed):
        raise ValueError("a dv commit needs a deletion-vector map or removed files")
    os.makedirs(_log_dir(path), exist_ok=True)
    if expected_version is not None:
        # Transactional claim (Delta's readVersion+1 protocol): the
        # caller PLANNED against a specific snapshot and must land
        # exactly after it — claiming head+1 here would silently absorb
        # an intervening commit the plan never saw (a serializability
        # hole for merge/delete, whose rewrites depend on what was
        # live).  A taken slot surfaces as CommitConflict and the caller
        # runs its conflict check + rebase.
        version = expected_version
    else:
        vs = versions(path)
        version = (vs[-1] + 1) if vs else 0
    body = {"version": version, "action": action, "added": added, "ts": _now()}
    if removed is not None:
        body["removed"] = removed
    if stats:
        body["stats"] = stats
    # Per-file byte sizes (Delta's AddFile.size): the stream source's
    # maxBytesPerTrigger admission budgets against these without a
    # filesystem stat per trigger.  Recorded best-effort — the files
    # exist by the write-ordering barrier, but a size is only an
    # admission HINT, so a stat failure here must not fail the commit
    # (the reader falls back to its own stat, and a truly missing file
    # surfaces loudly at read time).
    sizes = {}
    for f in list(added) + list(cdf or ()):
        try:
            sizes[f] = os.path.getsize(os.path.join(path, f))
        except OSError:
            pass
    if sizes:
        body["sizes"] = sizes
    if txn is not None:
        body["txn"] = {"app": txn[0], "version": txn[1]}
    if schema is not None or record_null_schema:
        # an EXPLICIT null schema record resets the evolution timeline
        # (restore to a pre-schema-era version): replay must not fall
        # through to a later record
        body["schema"] = schema
    if predicate is not None:
        body["predicate"] = [list(p) for p in predicate]
    if cdf is not None:
        body["cdf"] = cdf
    if not data_change:
        body["data_change"] = False
    if dv is not None:
        body["dv"] = dv
    if constraints is not None:
        body["constraints"] = constraints
    if colmap is not None:
        # full logical->physical map, last record wins; {} is an
        # explicit reset (restore to a pre-mapping era)
        body["colmap"] = colmap
    if partition_by:
        # informational: the layout this commit's files were staged
        # under (partition VALUES live in the per-file stats as exact
        # [v, v] ranges — this is just the column list for OPTIMIZE's
        # partition-aligned binning and for introspection)
        body["partition_by"] = list(partition_by)
    if identity_hwm is not None:
        # full {col: last_assigned} map, newest record wins; {} is an
        # explicit reset (restore to a pre-identity era)
        body["identity_hwm"] = {c: int(h) for c, h in identity_hwm.items()}
    if cluster_by is not None:
        # the table's recorded CLUSTERING KEYS (Delta's liquid-style
        # clusteringColumns): newest record wins, [] is an explicit
        # clear, an overwrite without one resets — OPTIMIZE consults it
        # to keep compaction clustering-aware
        body["cluster_by"] = list(cluster_by)
    # Write the FULL record to a private temp name first, then publish
    # via os.link — link both fails atomically if the version was
    # claimed concurrently (EXCL semantics) AND makes the name visible
    # only with its complete body (a bare O_EXCL open would let readers
    # see an empty v{N}.json in the create-to-write window, and a writer
    # crash there would brick the log with a permanently empty record).
    tmp = _version_file(path, version) + f".{uuid.uuid4().hex[:8]}.tmp"
    with open(tmp, "w") as f:
        f.write(json.dumps(body))
    try:
        os.link(tmp, _version_file(path, version))
    except FileExistsError as e:
        raise CommitConflict(
            f"version {version} of {path} was claimed concurrently"
        ) from e
    finally:
        os.remove(tmp)
    # Every Nth commit folds the log into a checkpoint so reader planning
    # cost stays O(tail) however long the table lives (Delta's
    # every-10-commits checkpoint).  Amortized O(1): the fold itself
    # replays from the PREVIOUS checkpoint.
    if AUTO_CHECKPOINT_INTERVAL and version and version % AUTO_CHECKPOINT_INTERVAL == 0:
        checkpoint(path, version)
    return version


def last_txn_version(path: str, app_id: str) -> int | None:
    """Highest txn_version this app has committed, or None — the
    replay-detection read half of the txn idempotence protocol."""
    # Newest-first scan, first match wins: one app's txn versions are
    # monotone (the idempotence protocol skips anything <= the last
    # applied id), so this is O(1) amortized per call instead of
    # re-parsing the whole log — q163 calls it once per micro-batch,
    # which would otherwise make a long-lived stream O(batches^2) in
    # driver JSON reads.
    for v in reversed(versions(path)):
        t = _record(path, v).get("txn")
        if t and t.get("app") == app_id:
            return t["version"]
    return None


def _stage(
    df: DataFrame,
    path: str,
    kind: str = "part",
    partition_by: list[str] | None = None,
    keep_one: bool = False,
) -> list[str]:
    """Write `df` as new part files under a unique attempt prefix BEFORE
    any commit record exists, so a crash between write and commit leaves
    only invisible orphans (the q141 manifest argument).  Returns the
    staged relpaths in sorted (deterministic) order, zero-row files
    dropped (`keep_one`: see _drop_empty_parts).  `kind` names the
    prefix ("part" data, "cdf" change-data, "dv" deletion vectors).

    `partition_by` lays the files out hive-style (`__p_{col}={val}/`
    directories) by writing a DUPLICATE of each partition column: the
    copy becomes the directory name (Spark drops it from the data), the
    REAL column stays in the data files — so every read path (schema-
    typed scans, `_metadata` DV joins, footer stats) works unchanged,
    with no basePath reconstruction and no partition-value parsing.
    Each staged file then holds exactly one value per partition column,
    which makes its footer min/max an EXACT `[v, v]` range — the
    commit-log stats ARE the partition values (Delta records
    partitionValues in its add actions; this is the same metadata,
    expressed as perfect stats), so partition pruning and whole-
    partition drops ride the existing skipping machinery with zero new
    read logic.  Leaf-file reads never resurrect the directory column
    (verified: Spark only infers partition columns under a basePath)."""
    from pyspark.sql import functions as F

    attempt = f"{kind}-{uuid.uuid4().hex[:12]}"
    staging = os.path.join(path, attempt)
    if partition_by:
        missing = sorted(set(partition_by) - set(df.columns))
        if missing:
            raise ValueError(f"partition column(s) {missing} not in DataFrame")
        out = df
        dirs = []
        for c in partition_by:
            out = out.withColumn(f"__p_{c}", F.col(c))
            dirs.append(f"__p_{c}")
        out.write.mode("overwrite").partitionBy(*dirs).parquet(staging)
        rels = []
        for root, _dirs, files in os.walk(staging):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                # Spark's dynamic-partition writer reuses ONE task file
                # name across that task's partition directories, so two
                # leaves of the same staging job can share a BASENAME —
                # which would break every basename-keyed path (DV joins,
                # update/delete probe maps, the stream's snapshot DV
                # filter).  Re-suffix each leaf with a fresh uuid so the
                # global basename-uniqueness invariant holds for
                # partitioned tables too (measured: coalesce(1) +
                # partitionBy yields identical part-00000-... names).
                unique = f[: -len(".parquet")] + f"-{uuid.uuid4().hex[:8]}.parquet"
                os.rename(os.path.join(root, f), os.path.join(root, unique))
                rels.append(os.path.relpath(os.path.join(root, unique), path))
        return _drop_empty_parts(path, sorted(rels), keep_one)
    df.write.mode("overwrite").parquet(staging)
    return _drop_empty_parts(
        path,
        sorted(
            f"{attempt}/{f}" for f in os.listdir(staging) if f.endswith(".parquet")
        ),
        keep_one,
    )


def _drop_empty_parts(path: str, rels: list[str], keep_one: bool) -> list[str]:
    """THE ZERO-ROW RULE: remove zero-row staged files before they are
    ever committed — Spark's writer emits one part per task, so a 2-row
    frame on a 4-slot session stages dead files that no later DELETE
    can ever touch (no rows match) and that accumulate in the log
    forever (the DML model fuzz surfaced one; a streaming sink's short
    micro-batches dribble them structurally; a no-op merge, an empty
    scoped replace_where or a materialization whose file lost every row
    would add one per call).  Row counts come from the parquet FOOTER
    (O(staged files) metadata reads, no data I/O), once per staged file.
    `keep_one` is write()'s alone: when EVERY staged file is empty (a
    0-row table creation or append), ONE empty file is kept so the
    commit still carries the schema and the table stays readable."""
    import pyarrow.parquet as pq

    live = [
        r
        for r in rels
        if pq.read_metadata(os.path.join(path, r)).num_rows > 0
    ]
    if live == rels:
        return rels
    if keep_one and not live:
        live = rels[:1]  # an all-empty write is a real 0-row write
    for r in rels:
        if r not in live:
            os.remove(os.path.join(path, r))
    return live


def _stage_logical(
    df: DataFrame,
    path: str,
    colmap: dict[str, str],
    partition_by: list[str] | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    kind: str = "part",
    keep_one: bool = False,
) -> tuple[list[str], dict[str, dict] | None]:
    """Stage a LOGICAL-named frame and collect its stats — the one
    staging step of every write and rewrite.  Data files ALWAYS carry
    physical names (_to_physical), laid out under the logical
    `partition_by` (a rewrite passes the table's RECORDED layout:
    otherwise the hive dirs and exact [v, v] partition stats are lost on
    the rewritten files and later retention deletes degrade from
    metadata-only whole-drops to rewrites).  The partition
    columns join `stats_cols`, so every staged file records its
    partition values.  Stats and blooms are collected from the footers
    under physical names; None when no column asks for them.  Returns
    (relpaths, stats)."""
    if partition_by:
        stats_cols = sorted(set(stats_cols or []) | set(partition_by))
    rels = _stage(
        _to_physical(df, colmap),
        path,
        kind,
        [colmap.get(c, c) for c in partition_by] if partition_by else None,
        keep_one,
    )
    if not (stats_cols or bloom_cols):
        return rels, None
    return rels, _collect_stats(
        path,
        rels,
        [colmap.get(c, c) for c in stats_cols or ()],
        [colmap.get(c, c) for c in bloom_cols] if bloom_cols else None,
    )


# --- per-file BLOOM FILTERS for point-lookup skipping -----------------------
# Min/max ranges only skip on CLUSTERED columns; a point predicate on a
# column scattered across every file (the usual case for a second key)
# prunes nothing by range.  Delta/Iceberg answer: a small per-file bloom
# filter in the metadata — `col = v` skips every file whose bloom proves
# absence.  Hashing is engine-independent (blake2b over a typed repr,
# double hashing h1 + i*h2), so the filter is portable metadata, not a
# parquet-internal structure.
_BLOOM_K = 7  # hash count; with m ~= 10 bits/value -> ~1% false positives

# The bloom HASH-NORMALIZATION format version.  The r8 literal-coercion
# fix changed the hash form of float/Decimal values ("s:5.5" -> "f:5.5",
# "s:5.0" -> "i:5"), so a bloom persisted by older code over a
# float-valued column would be MIS-PROBED by the new normalization and
# could wrongly prune a file that holds matches (ADVICE r8).  Blooms now
# record `"norm": 2`; probes ignore any bloom without the current norm
# tag — legacy filters degrade to "no bloom" (conservative: the file is
# kept), never to a wrong prune.
_BLOOM_NORM_VERSION = 2


def _bloom_norm(val) -> str:
    """Canonical typed repr so NUMERICALLY-EQUAL values hash identically
    regardless of Python type: a scan literal `5.0` (float, or Decimal)
    against an int column must probe the same bits the build hashed for
    `5` — otherwise the bloom "proves" absence and wrongly prunes a file
    that holds matches.  Integral numerics all normalize to `i:{n}`;
    blooms record the normalization version (`_BLOOM_NORM_VERSION`) and
    probes ignore filters built under any other version, so persisted
    blooms from older code degrade conservatively instead of being
    mis-probed; non-integral floats keep their own tag; bools are NOT ints
    here (`True != 1` for skipping purposes, matching the historical
    string form)."""
    if isinstance(val, bool):
        return f"s:{val}"
    if isinstance(val, int):
        return f"i:{val}"
    if isinstance(val, float):
        return f"i:{int(val)}" if val.is_integer() else f"f:{val!r}"
    import decimal

    if isinstance(val, decimal.Decimal):
        if val == val.to_integral_value():
            return f"i:{int(val)}"
        return f"f:{float(val)!r}"
    return f"s:{val}"


def _bloom_bit_positions(val, m: int):
    import hashlib

    d = hashlib.blake2b(_bloom_norm(val).encode("utf-8"), digest_size=16).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1
    for i in range(_BLOOM_K):
        yield (h1 + i * h2) % m


def _bloom_build(values, n_hint: int) -> dict:
    """{"m": bits, "k": hashes, "bits": base64} sized ~10 bits/value
    (power of two, 1 KiB..1 MiB)."""
    import base64

    m = 1024
    while m < 10 * max(n_hint, 1) and m < (1 << 20):
        m *= 2
    bits = bytearray(m // 8)
    for v in values:
        if v is None:
            continue
        for pos in _bloom_bit_positions(v, m):
            bits[pos >> 3] |= 1 << (pos & 7)
    return {
        "m": m,
        "k": _BLOOM_K,
        "norm": _BLOOM_NORM_VERSION,
        "bits": base64.b64encode(bytes(bits)).decode(),
    }


def _bloom_maybe_contains(bloom: dict, val, _bits: bytes | None = None) -> bool:
    """`_bits` lets multi-probe callers (the IN-list path) decode the
    base64 filter once per file instead of once per member."""
    import base64

    bits = _bits if _bits is not None else base64.b64decode(bloom["bits"])
    return all(
        bits[pos >> 3] & (1 << (pos & 7))
        for pos in _bloom_bit_positions(val, bloom["m"])
    )


def _collect_stats(
    path: str,
    added: list[str],
    cols: list[str],
    bloom_cols: list[str] | None = None,
) -> dict[str, dict]:
    """Per-file `[min, max]` for `cols`, read from the parquet FOOTERS of
    the staged files — O(files) driver-side metadata reads, never data
    (the same cost class as Delta's stats collection; at cluster scale
    this would ride the write job's task results instead).  Columns whose
    footer statistics are absent or non-JSON-typed are skipped — readers
    treat a missing entry as "could contain anything" (conservative).

    `bloom_cols` additionally builds a per-file bloom filter per column;
    unlike range stats this reads the column's DATA (one column per
    file) — locally a pyarrow columnar read, at cluster scale the bloom
    would be folded in the write job's tasks like Delta's.

    Partition exactness needs no special plumbing here: a hive-staged
    leaf holds ONE value per partition column, so its footer min == max
    with zero nulls and the recorded entry is already the perfect
    `[v, v]` stat every pruning path consumes."""
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    want = set(cols) | set(bloom_cols or ())
    for rel in added:
        md = pq.ParquetFile(os.path.join(path, rel)).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        per_col: dict[str, list] = {}
        # Parquet min/max IGNORE nulls, so a range alone can never prove
        # "every row matches" — delete()'s whole-file drop needs a proven
        # null_count == 0.  Track it per column; any chunk that doesn't
        # record one degrades the count to unknown (None), which readers
        # treat as "may contain nulls" (conservative).
        nulls: dict[str, int | None] = {}
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci, name in enumerate(names):
                if name not in want:
                    continue
                st = row_group.column(ci).statistics
                if name not in nulls or nulls[name] is not None:
                    if st is None or not st.has_null_count:
                        nulls[name] = None
                    else:
                        nulls[name] = (nulls.get(name) or 0) + st.null_count
                if name in per_col and per_col[name] is None:
                    continue  # already poisoned by a stats-less chunk
                if st is None or not st.has_min_max:
                    per_col[name] = None  # a chunk without stats poisons the column
                    continue
                lo, hi = st.min, st.max
                if isinstance(lo, bytes):
                    lo, hi = lo.decode("utf-8", "replace"), hi.decode("utf-8", "replace")
                if not isinstance(lo, (int, float, str, bool)):
                    per_col[name] = None  # dates/decimals: not JSON-portable here
                    continue
                cur = per_col.get(name)
                per_col[name] = (
                    [lo, hi] if cur is None else [min(cur[0], lo), max(cur[1], hi)]
                )
        # One entry per column with ANY provable fact: a known range, a
        # known null count, or both.  A proven null count without a range
        # (all-null chunks have no min/max) still decides is_null /
        # is_not_null predicates, and `rows` (the file's exact row count)
        # is what lets `nulls == rows` prove an all-null whole-file match.
        file_rows = md.num_rows
        entry: dict = {}
        for k in set(per_col) | {k2 for k2, n in nulls.items() if n is not None}:
            rng = per_col.get(k)
            nc = nulls.get(k)
            if rng is None and nc is None:
                continue
            if nc is not None:
                entry[k] = {"range": rng, "nulls": nc, "rows": file_rows}
            else:
                entry[k] = rng  # legacy bare range: nulls unknown
        for bc in bloom_cols or ():
            vals = pq.read_table(os.path.join(path, rel), columns=[bc]).column(0).to_pylist()
            prev = entry.pop(bc, None)
            rng, nc = (
                (prev.get("range"), prev.get("nulls"))
                if isinstance(prev, dict)
                else (prev, nulls.get(bc))
            )
            entry[bc] = {
                "range": rng,
                "bloom": _bloom_build(vals, len(vals)),
            }
            if nc is not None:
                entry[bc]["nulls"] = nc
                entry[bc]["rows"] = file_rows
        out[rel] = entry
    return out


# Field-metadata keys that carry a TABLE's write contract: generation
# and identity specs, the row-tracking marker, and column defaults with
# the scan's EXISTS_DEFAULT/CURRENT_DEFAULT stamps.  A frame derived from
# another minitable's read() carries that table's keys through
# StructType.fromJson; recording them would import a contract the user
# never declared here (a foreign generation expression recomputed, a
# foreign default served for old rows and materialized into later
# appends — Delta likewise strips generation expressions on evolution).
# THIS table's contracts ride its own log schema (_merge_schemas keeps
# prev's fields verbatim) and the gen/ident maps stamped at write.
_CONTRACT_KEYS = frozenset(
    {
        "generated",
        "identity",
        "row_id",
        "default",
        "write_default",
        "write_default_dropped",
        "EXISTS_DEFAULT",
        "CURRENT_DEFAULT",
    }
)


def _incoming_field(f: dict) -> dict:
    """A writer's or merge source's field as a table field: nullable
    (schema evolution itself introduces nulls — old files lack new
    columns — and writer-side nullability is an artifact of how the
    DataFrame was derived, not a table contract) and stripped of
    `_CONTRACT_KEYS`."""
    md = f.get("metadata") or {}
    return {
        **f,
        "nullable": True,
        "metadata": {k: v for k, v in md.items() if k not in _CONTRACT_KEYS},
    }


def _merge_schemas(prev: dict, cur: dict) -> dict:
    """SCHEMA EVOLUTION (ADD COLUMN): the union schema — prev's fields in
    their order, then cur's new fields appended.  A column present in
    both with a different type raises (only additive evolution is
    supported, Delta's mergeSchema contract); either side may omit the
    other's columns (reads fill nulls from the log schema)."""
    prev_types = {f["name"]: f["type"] for f in prev["fields"]}
    for f in cur["fields"]:
        if f["name"] in prev_types and f["type"] != prev_types[f["name"]]:
            raise ValueError(
                f"schema evolution cannot change column {f['name']!r} from "
                f"{prev_types[f['name']]!r} to {f['type']!r} — only ADD COLUMN "
                "is supported"
            )
    merged = dict(prev)
    merged["fields"] = list(prev["fields"]) + [
        f for f in cur["fields"] if f["name"] not in prev_types
    ]
    return merged


def write(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    action: str = "append",
    txn: tuple[str, int] | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    merge_schema: bool = False,
    partition_by: list[str] | None | _LayoutFromTable = _LAYOUT_FROM_TABLE,
    generated: dict[str, str] | None = None,
    identity: dict[str, tuple[int, int]] | None = None,
    row_tracking: bool = False,
) -> int:
    """Write `df` as new part files under `path` and commit them.

    `row_tracking=True` (table creation only, like Delta's
    delta.enableRowTracking) gives every row a STABLE `_row_id`: an
    IDENTITY column under the hood — assigned densely at write from the
    table's recorded high-water mark, never writer-suppliable — whose
    field metadata additionally carries `row_id: true`, so `read()`
    HIDES it by default (Delta's `_metadata.row_id` UX; opt in with
    `read(..., row_ids=True)`).  Stability across DML rides the
    existing machinery: update/optimize/zorder rewrites carry column
    values verbatim, merge's matched rows keep theirs while its inserts
    draw fresh ids, replace_where's restated rows are new rows — so a
    CDF consumer can follow one row through its whole history
    (tests/test_sources_sinks.py's DML model fuzz pins per-key id
    stability through every verb).

    `identity={col: (start, step)}` declares IDENTITY COLUMNS (Delta's
    `GENERATED ALWAYS AS IDENTITY`): values are assigned at write time
    — densely, `start, start+step, ...` continuing from the table's
    recorded high-water mark — by a shuffle-free two-phase pass
    (per-partition counts -> driver prefix offsets -> one Arrow
    `mapInPandas`); the writer can NEVER supply them (ALWAYS
    semantics), making ids unique across the table's life by
    construction.  The spec rides the schema field metadata (appends
    inherit it, immutable, overwrite resets), the advanced mark rides
    the commit record, and a concurrent id-assigning commit surfaces
    as CommitConflict on rebase — two writers can't hand out the same
    range.  UPDATE refuses to SET an identity column; merge() assigns
    fresh ids to its INSERT rows while matched rows keep theirs.

    `generated={col: sql_expr}` declares GENERATED COLUMNS (Delta's
    `GENERATED ALWAYS AS`): a batch that omits `col` gets it
    materialized from the expression at write time; a batch that
    provides it is validated against the expression on the staged bytes
    (null-safe equality, rejected loudly like a CHECK violation).  The
    expression is recorded in the schema's FIELD METADATA, so it rides
    the schema timeline — later appends inherit it without re-passing
    `generated`, AS-OF reads see the era's expressions, and an
    overwrite resets it with the schema.  Declaring a NEW generated
    column on an existing table is schema evolution (needs
    `merge_schema=True`); changing a recorded expression is refused.
    A generated column may be the `partition_by` target — the everyday
    Delta idiom `date GENERATED ALWAYS AS (CAST(ts AS DATE))` with
    partition pruning through it — and update() recomputes generated
    columns instead of letting SET touch them.
    `stats_cols` opts the commit into per-file min/max stats on those
    columns, enabling `scan()` data skipping and `merge()` file pruning;
    `bloom_cols` adds per-file bloom filters so point predicates skip
    files on UNCLUSTERED columns too.

    `partition_by` lays the batch out hive-style (see _stage) and
    force-includes the partition columns in `stats_cols`: each staged
    file holds exactly one value per partition column, so its recorded
    range is the EXACT `[v, v]` with a proven zero null count — the
    partition values as perfect metadata.  From there the standard lake
    idioms are free, with no partition-specific read logic anywhere:
    `scan([("ds", "=", X)])` prunes to the partition's files without
    touching storage, and `delete([("ds", "<", X)])` drops whole
    partitions as PURE commit-log removes (the `_file_fully_matches`
    proof holds by construction) — the O(1)-I/O retention delete that
    is the standard 100 TB idiom.  The commit records `partition_by`
    so OPTIMIZE can keep its bins partition-aligned.

    Every commit records the table schema (the evolution timeline).  An
    append whose columns differ from the table's requires
    `merge_schema=True` and must be purely ADDITIVE (new columns append;
    shared columns keep their type); the union becomes the table schema
    — old files serve NULL for the new columns, AS-OF reads before the
    change serve the old schema (Delta's mergeSchema).  Without the
    flag a differing append raises instead of silently committing files
    a reader can't reconcile.  An overwrite always resets the schema to
    `df`'s.

    CHECK constraints are validated against the STAGED parquet — the
    exact bytes that will commit — not the incoming DataFrame (a
    nondeterministic df would otherwise stage a different
    materialization than the one validated).  The commit claims
    readVersion+1; on a lost race the rebase re-resolves the table
    contract at the new head — a concurrently-added constraint
    re-validates the staged batch, a concurrent schema evolution
    re-merges the recorded union (last-record-wins would otherwise let
    this commit silently roll the schema back) — and retries; appends
    commute with everything else."""

    def _merged_schema(prev: dict | None, cur: dict) -> dict:
        """The schema this write records on top of `prev` (the read
        snapshot's, or the head's on rebase), stamped with THIS table's
        generation/identity contracts from the gen/ident maps — the
        re-merge on rebase must re-apply them when this write is the one
        introducing them."""
        merged = cur
        if action == "append" and prev is not None and prev != cur:
            cur_names = {f["name"] for f in cur["fields"]}
            prev_names = {f["name"] for f in prev["fields"]}
            merged = _merge_schemas(prev, cur)
            if not merge_schema and (
                cur_names != prev_names or merged["fields"] != prev["fields"]
            ):
                raise ValueError(
                    f"append schema {sorted(cur_names)} differs from table "
                    f"schema {sorted(prev_names)} — pass merge_schema=True "
                    "for additive evolution"
                )
        if not (gen or ident):
            return merged
        fields = []
        for f in merged["fields"]:
            md = dict(f.get("metadata") or {})
            if f["name"] in gen:
                md["generated"] = gen[f["name"]]
            if f["name"] in ident:
                s0, s1 = ident[f["name"]]
                md["identity"] = {"start": s0, "step": s1}
                if row_tracking and f["name"] == "_row_id":
                    md["row_id"] = True
            fields.append({**f, "metadata": md})
        return {**merged, "fields": fields}

    read_version, base = _head(path)
    prev_schema, constraints, colmap = base.schema, base.constraints, base.colmap

    inherited_layout = False
    if isinstance(partition_by, _LayoutFromTable):
        # default (not passed): an append inherits the table's recorded
        # layout so its files stay hive-laid and partition-stats'd like
        # every DML rewrite's (ADVICE r10); an overwrite or a new table
        # starts unpartitioned unless the caller names a layout.
        partition_by = base.partition_by if action == "append" else None
        inherited_layout = partition_by is not None

    # GENERATED COLUMNS (Delta's `GENERATED ALWAYS AS (expr)`): the
    # effective map is the table's recorded expressions (appends — an
    # overwrite resets them with the schema) overlaid with this call's
    # `generated`.  A column the batch OMITS is materialized here, at
    # write time, from the expression — the everyday use: writers never
    # compute the partition date themselves.  A column the batch
    # PROVIDES is validated against the expression on the staged bytes
    # (below, with the CHECK constraints).  Changing a recorded
    # expression is refused — readers of old files would otherwise see
    # rows generated under a contract the schema no longer states.
    from pyspark.sql import functions as _Fgen

    gen_prev = _generated_map(prev_schema) if action == "append" else {}
    for c, e in (generated or {}).items():
        if c in gen_prev and gen_prev[c] != e:
            raise ValueError(
                f"generated column {c!r} of {path} is already defined as "
                f"({gen_prev[c]}) — generation expressions are immutable"
            )
    gen = {**gen_prev, **(generated or {})}
    gen_provided = [c for c in gen if c in df.columns]

    # COLUMN DEFAULTS (Delta's CURRENT_DEFAULT INSERT rule): an append
    # that OMITS a defaulted column materializes the default at write
    # time — the staged file is physically complete (stats/bloom cover
    # the column, and the read-side EXISTS_DEFAULT fill's file-footer
    # discriminator stays exact: only pre-ADD files lack the column).
    # A batch that PROVIDES the column passes through verbatim,
    # explicit NULLs included.  Defaults materialize BEFORE generated
    # columns (below): a generation expression may reference a defaulted
    # column the batch omitted, while a default is a constant that can
    # reference nothing.
    if action == "append":
        dfl_types = {
            f["name"]: f["type"]
            for f in (prev_schema or {}).get("fields", ())
        }
        wd = _write_default_map(prev_schema)
        for c in sorted(set(wd) | set(_default_map(prev_schema))):
            if c in df.columns or not isinstance(dfl_types.get(c), str):
                continue
            if c in wd:
                df = df.withColumn(
                    c,
                    _Fgen.expr(_default_sql_literal(wd[c], dfl_types[c])).cast(
                        _DEFAULT_SQL_TYPES[dfl_types[c]]
                    ),
                )
            else:
                # existence default with the write-side one DROPPED:
                # omitting writes stage an EXPLICIT NULL — the column
                # must be physically present or the read-side existence
                # fill (which keys on footer absence) would resurrect
                # the old default onto post-DROP rows
                df = df.withColumn(
                    c, _Fgen.lit(None).cast(_DEFAULT_SQL_TYPES[dfl_types[c]])
                )

    for c in gen:
        if c not in df.columns:
            df = df.withColumn(c, _Fgen.expr(gen[c]))

    # ROW TRACKING is an identity column plus a metadata marker: fold
    # the reserved spec in here so everything below (assignment, hwm,
    # rebase guards, schema stamping) is the one identity code path.
    if row_tracking:
        if "_row_id" in df.columns:
            raise ValueError(
                "row tracking is GENERATED ALWAYS — the writer cannot "
                "supply _row_id values"
            )
        identity = {**(identity or {}), "_row_id": (1, 1)}

    # IDENTITY COLUMNS (Delta's GENERATED ALWAYS AS IDENTITY): spec
    # {col: (start, step)} rides the schema metadata like generation
    # expressions; values are assigned HERE, densely, from the table's
    # recorded high-water mark — the writer can never supply them
    # (ALWAYS semantics), so ids are unique by construction and the
    # commit records the advanced mark for the next writer.
    ident_prev = _identity_map(prev_schema) if action == "append" else {}
    for c, spec in (identity or {}).items():
        spec = (int(spec[0]), int(spec[1]))
        if spec[1] == 0:
            raise ValueError(f"identity column {c!r} needs a non-zero step")
        if c in ident_prev:
            if ident_prev[c] != spec:
                raise ValueError(
                    f"identity column {c!r} of {path} is already declared as "
                    f"{ident_prev[c]} — identity specs are immutable"
                )
        elif action == "append" and read_version is not None:
            # Delta's rule: identity columns exist from table creation —
            # introducing one mid-life would leave every existing row
            # (and any concurrently-staged batch) with NULL ids
            raise ValueError(
                f"identity column {c!r} must be declared at table "
                "creation (overwrite), not on an append"
            )
    ident = {
        **ident_prev,
        **{c: (int(v[0]), int(v[1])) for c, v in (identity or {}).items()},
    }
    both = sorted(set(ident) & set(gen))
    if both:
        raise ValueError(f"column(s) {both} cannot be both generated and identity")
    supplied = sorted(set(ident) & set(df.columns))
    if supplied:
        raise ValueError(
            f"identity column {supplied[0]!r} is GENERATED ALWAYS — the "
            "writer cannot supply its values"
        )
    # an overwrite is a NEW table: allocation restarts at `start` (the
    # spec reset and the mark reset travel together).  So an OVERWRITE
    # that declares identity always records its marks — from the empty
    # base every mark moves, even for an empty initial batch: the mark
    # reset IS the record.
    hwm_base = base.identity_hwm if action == "append" else {}
    df, ident_hwm_out, id_pins = _allocate_identity(df, ident, hwm_base)

    cur = df.schema.jsonValue()
    cur["fields"] = [_incoming_field(f) for f in cur["fields"]]
    schema = _merged_schema(prev_schema, cur)

    def _evolve_colmap(base_cm: dict, stage_cm: dict | None = None):
        """With mapping active, every schema field needs a physical
        name; a field the map has never seen gets a FRESH one (a
        re-added logical name must not resurrect a dropped column's
        physical data).  Returns (stage_map, colmap_to_record)."""
        if not base_cm:
            return {}, None
        newmap = dict(base_cm)
        changed = False
        for f in schema["fields"]:
            staged_phys = (stage_cm or {}).get(f["name"])
            if (
                stage_cm is not None
                and f["name"] not in newmap
                and f["name"] in colmap
            ):
                # rebase after a lost race: the column was live in our
                # read snapshot but a concurrent drop_column removed it
                # from the head map.  Recording it again under its OLD
                # physical (staged_phys) would resurrect the dropped
                # column's data in every pre-drop file, violating
                # drop_column's fresh-physical/no-resurrection
                # guarantee — surface the conflict; the caller replans
                # (and a re-add then gets a fresh physical).
                raise CommitConflict(
                    f"column {f['name']!r} of {path} was concurrently "
                    "dropped while this write staged data for it — "
                    "replan against the new head"
                )
            if f["name"] in newmap:
                if staged_phys is not None and staged_phys != newmap[f["name"]]:
                    # symmetric race: a concurrent writer added the SAME
                    # logical column under a DIFFERENT physical name —
                    # our staged bytes live under ours, the recorded map
                    # would read theirs, and our rows would serve NULL
                    raise CommitConflict(
                        f"column {f['name']!r} of {path} was concurrently "
                        f"mapped to {newmap[f['name']]!r} while this write "
                        f"staged it as {staged_phys!r} — replan against "
                        "the new head"
                    )
                continue
            phys = staged_phys if staged_phys is not None else (
                f"{f['name']}_{uuid.uuid4().hex[:6]}"
            )
            if phys in set(newmap.values()):
                # a concurrent rename re-pointed some logical name at
                # the physical our staged files use for a DIFFERENT
                # logical column — recording the map would alias two
                # logical columns onto one physical (corruption).
                # Surface the conflict; the caller re-stages fresh.
                raise CommitConflict(
                    f"column mapping of {path} changed concurrently: "
                    f"physical name {phys!r} is already mapped — "
                    "replan this write against the new head"
                )
            newmap[f["name"]] = phys
            changed = True
        return newmap, (newmap if changed else None)

    stage_map, colmap_out = _evolve_colmap(colmap)
    if inherited_layout and any(c not in df.columns for c in partition_by):
        # a merge_schema append may legitimately OMIT the partition
        # column (readers serve NULL for it) — an INHERITED layout must
        # not turn that into a staging crash; fall back to flat staging
        # exactly as before the inheritance existed (review r11).  A
        # caller-NAMED layout still fails loudly in _stage.  Checked
        # after generated-column materialization, so the everyday
        # `day GENERATED AS ...` partition column still inherits.
        partition_by = None
    added, stats = _stage_logical(
        df, path, stage_map, partition_by, stats_cols, bloom_cols, keep_one=True
    )
    for pin in id_pins:  # ids are in the staged parquet now
        pin.unpersist(False)
    # writer-PROVIDED generated columns are validated on the staged
    # bytes alongside the CHECK constraints (materialized ones are
    # correct by construction and skip the scan)
    _check_staged(
        spark, path, added, schema, stage_map, constraints, gen_provided,
        f"{action} batch",
    )
    expected = (read_version + 1) if read_version is not None else 0
    while True:
        try:
            return commit(
                path,
                action,
                added,
                txn=txn,
                stats=stats,
                schema=schema,
                expected_version=expected,
                partition_by=partition_by,
                colmap=colmap_out,
                identity_hwm=ident_hwm_out,
            )
        except CommitConflict:
            head, at_head = _head(path)
            head_schema = at_head.schema
            if action == "append":
                # UNCONDITIONAL identity checks (review r10: a writer
                # unaware of identity columns must not rebase across a
                # concurrent identity change — its rows would serve
                # NULL ids); and when WE allocated, a concurrently-
                # advanced mark means our range may collide — replan
                if _identity_map(head_schema) != ident:
                    raise CommitConflict(
                        f"identity contract of {path} changed "
                        "concurrently — replan this write against the "
                        "new head"
                    )
                if ident_hwm_out is not None and at_head.identity_hwm != hwm_base:
                    # only an ALLOCATING write races the marks — an empty
                    # batch recorded nothing and commutes (review r10)
                    raise CommitConflict(
                        f"identity allocation state of {path} advanced "
                        "concurrently — replan this write against the "
                        "new head"
                    )
            # the generated-column contract this write planned against
            # must still hold at the head: a concurrently-landed
            # DIFFERENT map (new expression, changed expression, or a
            # new generated column our batch never materialized) can't
            # be satisfied by our already-staged bytes — replan (review
            # r10: blind re-stamping would bypass expression
            # immutability and the generation invariant under a race)
            head_gen = (
                _generated_map(head_schema) if action == "append" else {}
            )
            if head_gen != gen_prev:
                raise CommitConflict(
                    f"generated-column contract of {path} changed "
                    f"concurrently ({gen_prev} -> {head_gen}) — replan "
                    "this write against the new head"
                )
            schema = _merged_schema(head_schema, cur)
            # staged files are physical-named and stay valid across a
            # concurrent rename (physical names never change); re-derive
            # the recorded map against the head, keeping our already-
            # staged physical assignments for evolved columns
            _sm, colmap_out = _evolve_colmap(at_head.colmap, stage_map)
            if at_head.constraints != constraints:
                constraints = at_head.constraints
                _check_staged(
                    spark, path, added, schema, stage_map, constraints,
                    gen_provided, f"{action} batch",
                )
            expected = head + 1


def read(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    row_ids: bool = False,
) -> DataFrame:
    """AS-OF read: resolve the snapshot to a file list and plan a parquet
    scan over exactly those files, typed by the LOG's schema record at
    that version (never footer sniffing — Delta's model): files written
    before an ADD COLUMN serve NULL for it by Spark's name-based parquet
    reconciliation, and an AS-OF read before the evolution serves the
    old schema.  Legacy logs without schema records fall back to
    inference.

    `row_ids=True` exposes ROW-TRACKING columns (write(row_tracking=
    True)'s `_row_id` — Delta's row-id metadata column): hidden by
    default like Delta's `_metadata.row_id`, materialized in the data
    files and stable across update/merge/optimize rewrites.  The
    projection drop is Catalyst column pruning — a default read never
    scans the id column."""
    state = _replay(path, version)
    entries, schema, dvs, colmap = state.entries, state.schema, state.dvs, state.colmap
    if not entries:
        raise ValueError(f"minitable {path} is empty at version {version}")
    df = _read_files_dv(spark, path, [f for f, _ in entries], schema, dvs, colmap=colmap)
    if not row_ids and schema is not None:
        hidden = [
            f["name"]
            for f in schema.get("fields", [])
            if (f.get("metadata") or {}).get("row_id")
        ]
        if hidden:
            df = df.drop(*hidden)
    return df


def _read_files_dv(
    spark: SparkSession,
    path: str,
    rels: list[str],
    schema: dict | None,
    dvs: dict[str, str],
    keep_fname: str | None = None,
    colmap: dict[str, str] | None = None,
) -> DataFrame:
    """Schema-typed scan of `rels` with DELETION VECTORS applied: rows
    whose (file, row_index) appear in a live DV are filtered out by a
    broadcast LEFT ANTI join on `_metadata` columns — the Spark-idiomatic
    equivalent of Delta's per-task roaring-bitmap skip (the DV side is
    O(logically-deleted rows in these files), tiny next to the data).
    File identity is the part-file BASENAME (globally unique: Spark part
    names embed the write job's UUID), so the join is immune to table
    relocation and URI-scheme differences in `_metadata.file_path`.

    `keep_fname` names an extra output column carrying each row's file
    BASENAME, captured from `_metadata` BEFORE the anti join — the
    touched-file probes (update/delete) need per-row file identity, and
    `input_file_name()` refuses to plan over the joined (multi-source)
    result."""
    from pyspark.sql import functions as F

    df = _read_files(spark, [os.path.join(path, r) for r in rels], schema, colmap)
    want = {r for r in rels}
    dv_files = sorted({dv for r, dv in dvs.items() if r in want})
    fname = F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
    if not dv_files:
        return df.withColumn(keep_fname, fname) if keep_fname else df
    out_cols = df.columns + ([keep_fname] if keep_fname else [])
    dv_df = spark.read.parquet(*[os.path.join(path, d) for d in dv_files]).select(
        F.col("fname").alias("__dv_fname"), F.col("row_index").alias("__dv_ri")
    )
    # size-gate the broadcast (ADVICE r8 follow-on): vectors accumulate
    # across delete_dv calls until an OPTIMIZE materializes them, and a
    # forced broadcast of an unbounded side is the one way this read
    # could fall over at scale — past the bound, plan a plain anti join
    # and let Catalyst/AQE pick the strategy from the runtime size
    dv_bytes = sum(
        os.path.getsize(os.path.join(path, d)) for d in dv_files
    )
    if dv_bytes <= DV_BROADCAST_MAX_BYTES:
        dv_df = F.broadcast(dv_df)
    df = df.withColumn("__fname", fname).withColumn("__ri", F.col("_metadata.row_index"))
    if keep_fname:
        df = df.withColumn(keep_fname, F.col("__fname"))
    return (
        df.join(
            dv_df,
            (F.col("__fname") == F.col("__dv_fname"))
            & (F.col("__ri") == F.col("__dv_ri")),
            "left_anti",
        )
        .select(*out_cols)
    )


def _read_files(
    spark: SparkSession,
    files: list[str],
    schema: dict | None,
    colmap: dict[str, str] | None = None,
) -> DataFrame:
    """Parquet scan typed by the log's schema record (None -> inference):
    every internal path that reads a subset of live files (scan's pruned
    set, merge/delete's touched set, optimize's bins) must plan with the
    TABLE schema, or a rewrite touching pre-evolution files would drop
    the evolved columns.

    With an active COLUMN MAPPING the files carry physical names: the
    scan plans with the physical schema (same types), then a projection
    aliases physical -> logical — a rename/drop is visible to readers
    purely through this map, the bytes never move.  `_metadata` access
    survives the aliasing projection (verified), so DV joins stay
    valid."""
    from pyspark.sql import functions as F

    reader = spark.read
    mapped = bool(colmap) and schema is not None and any(
        colmap.get(f["name"], f["name"]) != f["name"] for f in schema["fields"]
    )
    if schema is not None:
        from pyspark.sql.types import StructType

        phys = _physical_schema(schema, colmap) if mapped else schema
        # stored column defaults ride as EXISTS_DEFAULT: Spark's parquet
        # reader fills the constant for files physically lacking the
        # column (pre-ADD files), leaving carried NULLs alone
        reader = reader.schema(StructType.fromJson(_with_exists_defaults(phys)))
    df = reader.parquet(*files)
    if mapped:
        df = df.select(
            *[
                F.col(colmap.get(f["name"], f["name"])).alias(f["name"])
                for f in schema["fields"]
            ]
        )
    return df


# A `where` clause for scan()/prune() is a CONJUNCTION of simple
# predicates `(col, op, literal)` with op in _OPS — the shape file-level
# stats can decide.  Range ops compare against per-file min/max; `in`
# takes a list literal (each member decided like `=`, range + bloom);
# `is_null`/`is_not_null` take a None literal and decide against the
# per-file null counts (`is_null` prunes files with a PROVEN zero null
# count — the data-scrub idiom; `is_not_null` prunes all-null files).
# Anything richer belongs in the residual Spark filter, which scan()
# always applies anyway (pruning is an optimization, never the
# correctness boundary).
_OPS = ("<", "<=", ">", ">=", "=", "in", "is_null", "is_not_null")


def _check_where(where: list[tuple], what: str) -> None:
    """Validate a where-conjunction's shape before any path consults it.
    Beyond the op whitelist, an `in` literal must be a real collection:
    a bare string is iterable, so `("col", "in", "abc")` would silently
    match 'a'/'b'/'c' per character in BOTH the residual filter and the
    stats/bloom prune — consistent but wrong, with no error (ADVICE
    r9)."""
    for _col, op, val in where:
        if op not in _OPS:
            raise ValueError(f"unsupported {what} op {op!r} (use {_OPS})")
        if op == "in" and not isinstance(val, (list, tuple, set, frozenset)):
            raise ValueError(
                f"`in` literal must be a list/tuple/set, got {type(val).__name__} "
                f"{val!r} — a bare string would match per CHARACTER"
            )


def _where_cond(where: list[tuple]):
    """The where-conjunction as ONE Spark Column (SQL three-valued
    semantics: NULL predicate columns make the conjunction NULL, i.e.
    not matched).  The single translation shared by scan()'s residual
    filter, delete()'s probe/rewrite, and change_feed()'s delete
    reconstruction — one definition, so a predicate can never match
    different rows in the delete than in its feed."""
    from pyspark.sql import functions as F

    cond = None
    for col, op, val in where:
        c = F.col(col)
        if op == "in":
            term = c.isin(*list(val))
        elif op == "is_null":
            term = c.isNull()
        elif op == "is_not_null":
            term = c.isNotNull()
        else:
            term = {
                "<": c < val, "<=": c <= val, ">": c > val, ">=": c >= val,
                "=": c == val,
            }[op]
        cond = term if cond is None else (cond & term)
    return cond


def _file_survives(stats: dict | None, where: list[tuple]) -> bool:
    """False only when the file's stats PROVE no row can satisfy the
    conjunction.  Missing stats (None, or an absent column) keep the
    file — conservative, like Delta/Iceberg skipping."""
    if stats is None:
        return True
    for col, op, val in where:
        entry = stats.get(col)
        if entry is None:
            continue
        rng, bloom = (
            (entry.get("range"), entry.get("bloom"))
            if isinstance(entry, dict)
            else (entry, None)
        )
        nulls = entry.get("nulls") if isinstance(entry, dict) else None
        rows = entry.get("rows") if isinstance(entry, dict) else None
        if op == "is_null":
            if nulls == 0:
                return False  # proven null-free: IS NULL matches nothing
            continue
        if op == "is_not_null":
            if nulls is not None and rows is not None and nulls == rows:
                return False  # proven all-null
            continue
        if op == "in":
            # survives if ANY member could be present (each decided like
            # `=`); the bloom is decoded ONCE per file, probed per member
            members = list(val)
            probe_bits = None
            if bloom is not None and bloom.get("norm") == _BLOOM_NORM_VERSION:
                import base64

                probe_bits = base64.b64decode(bloom["bits"])
            alive = False
            for m in members:
                ok = True
                if rng is not None:
                    lo, hi = rng
                    try:
                        if m < lo or m > hi:
                            ok = False
                    except TypeError:
                        pass  # incomparable: stats prove nothing for m
                if (
                    ok
                    and probe_bits is not None
                    and not _bloom_maybe_contains(bloom, m, _bits=probe_bits)
                ):
                    ok = False
                if ok:
                    alive = True
                    break
            if not alive:
                return False
            continue
        if rng is not None:
            lo, hi = rng
            try:
                if (
                    (op == "<" and lo >= val)
                    or (op == "<=" and lo > val)
                    or (op == ">" and hi <= val)
                    or (op == ">=" and hi < val)
                    or (op == "=" and (val < lo or val > hi))
                ):
                    return False
            except TypeError:
                # Literal type incomparable with the stored stats type
                # (str vs int, ...): stats can prove nothing — keep the
                # file and let the exact Spark filter decide.
                continue
        if (
            op == "="
            and bloom is not None
            # a bloom built under an older hash normalization proves
            # nothing under the current one — skip it (keep the file)
            and bloom.get("norm") == _BLOOM_NORM_VERSION
            and not _bloom_maybe_contains(bloom, val)
        ):
            return False
    return True


def prune(
    path: str, where: list[tuple], version: int | None = None
) -> tuple[list[str], int]:
    """DATA SKIPPING: the live files that could hold rows matching
    `where`, decided from commit-log stats alone (no file I/O).  Returns
    `(kept_abs_paths, total_live_files)`.  This is the 100 TB scan
    lever: a predicate on a clustered column plans O(matching files)
    instead of O(table), before Spark ever sees a path."""
    _check_where(where, "data-skipping")
    state = _replay(path, version)
    pw = _phys_where(where, state.colmap)  # stats are keyed by physical names
    kept = [
        os.path.join(path, f) for f, st in state.entries if _file_survives(st, pw)
    ]
    return kept, len(state.entries)


def scan(
    spark: SparkSession,
    path: str,
    where: list[tuple],
    version: int | None = None,
) -> DataFrame:
    """Stats-pruned AS-OF read: plan a parquet scan over only the files
    `prune()` keeps, then apply `where` as a real Spark filter too —
    file skipping is coarse (min/max ranges), the residual filter is
    exact, and parquet row-group pushdown still applies inside each
    kept file."""
    from pyspark.sql import functions as F

    _check_where(where, "data-skipping")
    state = _replay(path, version)
    pw = _phys_where(where, state.colmap)  # stats are keyed by physical names
    # entry identifiers, not abs paths: a shallow clone's borrowed
    # entries are absolute and key the DV map as they stand
    kept = [f for f, st in state.entries if _file_survives(st, pw)]
    if not kept:
        # Provably-empty scan: type it like the table without reading data.
        return read(spark, path, version).limit(0).filter(F.lit(False))
    df = _read_files_dv(
        spark, path, kept, state.schema, state.dvs, colmap=state.colmap
    )
    return df.filter(_where_cond(where))


def _commit_serializable(
    path: str,
    added: list[str],
    removed: list[str],
    read_version: int,
    guard_where: list[tuple] | None,
    stats: dict | None = None,
    predicate: list | None = None,
    cdf: list[str] | None = None,
    data_change: bool = True,
    action: str = "merge",
    dv: dict[str, str] | None = None,
    constraint_sensitive: bool = True,
    identity_hwm: dict[str, int] | None = None,
    schema: dict | None = None,
    schema_base: dict | None = None,
    cluster_by: list[str] | None = None,
) -> int:
    """Commit a merge/delete planned against snapshot `read_version`
    under SERIALIZABLE-style optimistic concurrency (Delta's conflict
    protocol): claim exactly read_version+1; when another writer got
    there first, examine every intervening commit and AUTO-REBASE (retry
    at the new head, staged files unchanged) only when the plan provably
    still holds —

    * an intervening `overwrite` always conflicts (the snapshot is gone);
    * an intervening commit touching ANY of our removed files conflicts
      (write-write: both plans rewrite the same data);
    * an intervening commit ADDING a file whose stats cannot rule out
      rows matching `guard_where` (the merge's source key range / the
      delete's predicate) conflicts — our probe never saw those rows
      (Delta's ConcurrentAppendException); stats-less files conflict
      conservatively.  `guard_where=None` SKIPS this check: a
      row-invariant reorganization (OPTIMIZE) commutes with appends it
      never read — only file-level overlap or an overwrite conflicts.

    Disjoint writers (different key ranges, different files) therefore
    both land without coordination; overlapping ones get a deterministic
    CommitConflict naming the blocking version.

    `schema` records a schema with the commit (a schema-EVOLVING merge);
    `schema_base` is the schema the evolution was planned against — an
    intervening commit recording a DIFFERENT schema conflicts, because
    replay is last-record-wins and blindly committing our union would
    silently roll the concurrent evolution back.  An intervening commit
    re-recording the same base schema (an ordinary append) commutes.

    Independently of whether THIS commit records a schema, an intervening
    schema whose GENERATED/IDENTITY contract differs from the planned
    snapshot's always conflicts (ADVICE r10): the staged bytes were
    validated/populated under the old contract, so rebasing a plain
    merge/update/delete across a concurrent `ALTER ... ADD generated col`
    would land rewritten rows serving NULL for a GENERATED-ALWAYS column
    — the same guard write()'s rebase path already applies."""
    base_version = read_version
    contract_base: tuple | None = None  # lazily derived on first conflict
    while True:
        try:
            return commit(
                path,
                action,
                added,
                removed=removed,
                stats=stats,
                predicate=predicate,
                cdf=cdf,
                data_change=data_change,
                expected_version=read_version + 1,
                dv=dv,
                identity_hwm=identity_hwm,
                schema=schema,
                cluster_by=cluster_by,
            )
        except CommitConflict:
            head = versions(path)[-1]
            if contract_base is None:
                planned = (
                    schema_base
                    if schema is not None
                    else table_schema(path, base_version)
                )
                contract_base = (_generated_map(planned), _identity_map(planned))
            # files we rewrite, drop whole, OR mark rows deleted in — a
            # concurrent touch of any of them invalidates our plan
            ours = set(removed) | set(dv or {})
            for v in range(read_version + 1, head + 1):
                rec = _record(path, v)
                if rec["action"] == "overwrite":
                    raise CommitConflict(
                        f"version {v} of {path} is an overwrite — the snapshot "
                        f"this merge/delete planned against (v{read_version}) "
                        "no longer exists"
                    )
                if rec["action"] == "meta":
                    if constraint_sensitive:
                        raise CommitConflict(
                            f"version {v} of {path} changed table metadata "
                            "(constraints) — this operation's rows were "
                            "validated against the old contract; replan "
                            "against the new head"
                        )
                    continue  # row-invariant/-removing ops can't violate
                              # a new constraint: rebase over it
                inter = (
                    set(rec["added"])
                    | set(rec.get("removed", ()))
                    | set(rec.get("dv", {}))
                )
                if inter & ours:
                    raise CommitConflict(
                        f"version {v} of {path} touched files this operation "
                        f"rewrites ({sorted(inter & ours)[:3]}...) — "
                        "write-write conflict, replan against the new head"
                    )
                if schema is not None and "schema" in rec and rec["schema"] != schema_base:
                    raise CommitConflict(
                        f"version {v} of {path} recorded a different schema "
                        "than this schema-evolving operation planned against "
                        "— committing would roll the concurrent evolution "
                        "back (last-record-wins); replan against the new head"
                    )
                if "schema" in rec and (
                    _generated_map(rec["schema"]),
                    _identity_map(rec["schema"]),
                ) != contract_base:
                    raise CommitConflict(
                        f"version {v} of {path} changed the generated/"
                        "identity column contract this operation's staged "
                        "rows were validated under — replan against the "
                        "new head"
                    )
                if identity_hwm is not None and "identity_hwm" in rec:
                    # both commits allocated ids from the same marks —
                    # the ranges may collide; replan re-reads the head
                    raise CommitConflict(
                        f"version {v} of {path} advanced the identity "
                        "high-water marks this operation allocated from — "
                        "replan against the new head"
                    )
                rec_stats = rec.get("stats", {})
                for fname in rec["added"] if guard_where is not None else ():
                    if _file_survives(rec_stats.get(fname), guard_where):
                        raise CommitConflict(
                            f"version {v} of {path} added {fname!r} which may "
                            "contain rows matching this operation's scope — "
                            "concurrent append conflict, replan against the "
                            "new head"
                        )
            read_version = head  # provably disjoint: rebase and retry


def merge(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    key: str,
    delete_where: str | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    check_duplicate_keys: bool = True,
    collect_cdf: bool = False,
    update_set: dict[str, str] | None = None,
    merge_schema: bool = False,
    update_where: str | None = None,
) -> int:
    """MERGE INTO (Delta-style declarative upsert).  Clause semantics,
    schema evolution, and the O(touched + source) cost model are
    documented on `_merge_impl`; this wrapper adds Delta's SOURCE
    MATERIALIZATION contract: the merge runs several separate Spark
    actions over the source (duplicate-key guard, key bounds, the
    find-touched-files probe, the rewrite itself, optionally CDF
    staging), and without a pin each one re-executes the source's full
    lineage.  For an expensive source that multiplies the merge's cost
    by the phase count — the 125x scaling probe's self-merge (source =
    a DV-filtered read over a 1000-file table) measured 83 s unpinned
    vs ~the single-scan cost pinned.  For a NON-DETERMINISTIC source
    it is a correctness hazard: a row could match in the probe and
    evaluate differently in the rewrite (Delta materializes the merge
    source for exactly this reason).  MEMORY_AND_DISK so blocks spill
    rather than evict — recomputation never silently reappears.  A
    source the caller already persisted is respected (no double pin,
    not unpersisted here)."""
    from pyspark.storagelevel import StorageLevel

    source_pin: DataFrame | None = None
    if source.storageLevel == StorageLevel.NONE:
        source = source.persist(StorageLevel.MEMORY_AND_DISK)
        source_pin = source
    try:
        return _merge_impl(
            spark,
            source,
            path,
            key,
            delete_where=delete_where,
            stats_cols=stats_cols,
            bloom_cols=bloom_cols,
            check_duplicate_keys=check_duplicate_keys,
            collect_cdf=collect_cdf,
            update_set=update_set,
            merge_schema=merge_schema,
            update_where=update_where,
        )
    finally:
        if source_pin is not None:
            source_pin.unpersist(False)


def _merge_impl(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    key: str,
    delete_where: str | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    check_duplicate_keys: bool = True,
    collect_cdf: bool = False,
    update_set: dict[str, str] | None = None,
    merge_schema: bool = False,
    update_where: str | None = None,
) -> int:
    """MERGE INTO (Delta-style declarative upsert), whole-row semantics
    by default:

    * WHEN MATCHED AND `delete_where` (a SQL boolean over SOURCE
      columns) THEN DELETE;
    * WHEN MATCHED [AND `update_where`] THEN UPDATE (the source row
      replaces the target row);
    * WHEN NOT MATCHED THEN INSERT.

    `update_where` (Delta's per-clause `WHEN MATCHED AND <cond> THEN
    UPDATE` condition) is a SQL boolean over the aliases `t` (the
    matched target row, plain `t.col` references) and `s` (the source
    row).  Matched rows failing it — or evaluating it to NULL — PASS
    THROUGH UNCHANGED: they are neither updated nor deleted, and their
    source rows are NOT inserted (the row matched; Delta's NOT MATCHED
    clause never sees it).  Clause order is Delta's: delete_where is
    checked first, so a row passing both conditions deletes.
    Touched-file pruning honors the condition: a candidate file whose
    key-matched rows ALL fail `update_where` (and carry no delete) is
    not rewritten at all — the condition probe reads only `key` plus
    the `t.` columns the condition references (parquet column pruning),
    and the matched-key set it produces keeps unqualified source rows
    out of the INSERT clause even though their files never enter the
    rewrite join.

    `update_set` switches the MATCHED-update clause to COLUMN-LEVEL SET
    expressions (Delta's `WHEN MATCHED THEN UPDATE SET col = expr`):
    each value is a SQL expression over the aliases `t` (the matched
    target row) and `s` (the source row) — `{"qty": "t.qty + s.qty"}`
    is the classic accumulate-merge — evaluated against the OLD target
    row and cast back to the column's table type; columns not listed
    keep their target values.  INSERTs still take the whole source row.
    The merge key cannot be SET (it defines the match).

    Scale shape — the reason this is file-level, not table-level
    (Delta's two-phase merge): (1) the commit-log stats on `key` bound
    which live files COULD contain matched rows (coarse, free — no file
    I/O); (2) a find-touched-files probe inner-joins the candidates'
    key column (parquet column pruning: one column read) against the
    source keys, recording `input_file_name()` — exact, O(candidate
    files).  ONLY touched files are read in full and rewritten, and the
    commit swaps them atomically (`action=merge`, removed+added).  A
    narrow merge into a key-clustered 100 TB table costs O(touched
    files + source), which is the entire point of MERGE over
    read-modify-overwrite — and inserts with out-of-range keys don't
    force a rewrite (phase 2 matches nothing for them).  Correctness:
    any target row matching a source key is in a touched file by
    construction, so the full-outer join below sees every possible
    match, and source rows unmatched there are unmatched in the whole
    table.

    The source must be key-unique (Delta raises on multiple matches for
    the same target row; `check_duplicate_keys` performs that O(source)
    guard here — disable it only when uniqueness is structural).

    `collect_cdf=True` additionally stages explicit change-data rows
    (Delta's merge CDF): `_change_type` in insert / delete /
    update_preimage / update_postimage, recorded in the commit's `cdf`
    field and served by `change_feed()` — O(touched + source) extra
    write, nothing at read time.

    `merge_schema=True` (Delta's `withSchemaEvolution`): source columns
    absent from the target are APPENDED to the table schema — additive
    only, like write(merge_schema=True) — and the merge commit records
    the union, so untouched old files serve NULL for the new columns
    and AS-OF reads before the merge serve the old schema.  Under the
    default WHOLE-ROW update clause, matched rows take the source's
    values for the new columns and carried-over target rows land NULL;
    under explicit `update_set` clauses, an evolved column NOT listed
    in the map keeps target semantics — NULL on matched rows — exactly
    like Delta, where schema evolution populates new columns only via
    UPDATE SET * (list the new column in `update_set`, e.g.
    `{"w": "s.w"}`, to land the source's values).  Rebase is
    schema-guarded: a concurrent
    commit recording a DIFFERENT schema conflicts (last-record-wins
    replay would otherwise roll the concurrent evolution back), while
    ordinary appends re-recording the same base schema commute.
    Refused on column-mapped tables (evolve those via
    write(merge_schema=True) first, which assigns the new physical
    names).  Without the flag, extra source columns are silently
    projected away (the whole-row clause takes exactly the table's
    columns) — the pre-evolution behavior, kept for compatibility."""
    from pyspark.sql import functions as F

    if check_duplicate_keys:
        dup = source.groupBy(key).count().filter(F.col("count") > 1)
        if dup.limit(1).count() > 0:
            raise ValueError(
                f"merge source has duplicate {key!r} values — a target row "
                "would match more than one source row (ambiguous upsert)"
            )
    bounds = source.agg(F.min(key), F.max(key)).collect()[0]
    if bounds[0] is None:
        raise ValueError("merge source is empty — nothing to upsert")
    smin, smax = bounds[0], bounds[1]
    read_version, state = _head(path)
    entries, schema, dvs, colmap = state.entries, state.schema, state.dvs, state.colmap
    if not entries:
        raise ValueError(f"minitable {path} is empty — write() the initial version")
    key_range = [(key, ">=", smin), (key, "<=", smax)]
    pk_range = _phys_where(key_range, colmap)  # stats are physical-named
    candidates = [f for f, st in entries if _file_survives(st, pk_range)]
    # the find-touched-files probe runs AFTER src is built below: with
    # `update_where` it must see the source's __delete flag and the
    # condition's s-side columns
    # column list from the PLANNED snapshot's schema record — a second
    # head read here would both re-replay the log and race our own
    # read_version (a schema-evolving append in between would bind cols
    # the plan never saw)
    cols = (
        [f["name"] for f in schema["fields"]]
        if schema is not None
        else read(spark, path, read_version).columns
    )
    # MERGE SCHEMA EVOLUTION: extra source columns become new table
    # columns; `schema` is rebound to the union so EVERY downstream path
    # (target read serving NULL from old files, constraint validation,
    # CDF typing, the landing projection) sees the evolved contract
    schema_base: dict | None = None
    schema_out: dict | None = None
    extras = [
        _incoming_field(f)
        for f in source.schema.jsonValue()["fields"]
        if f["name"] not in set(cols)
    ]
    if merge_schema and extras:
        if schema is None:
            raise ValueError(
                f"minitable {path} has no recorded schema to evolve"
            )
        if colmap:
            raise ValueError(
                "merge_schema on a column-mapped table is not supported — "
                "evolve the schema with write(merge_schema=True) first "
                "(it assigns the new columns' physical names)"
            )
        schema_base = schema
        schema_out = _merge_schemas(schema, {"type": "struct", "fields": extras})
        schema = schema_out
        cols = [f["name"] for f in schema["fields"]]
    gen = _generated_map(schema)
    t_ref: list[str] = []
    if update_where is not None:
        import re

        # the probe reads only the target columns the condition names —
        # `t.col` / `t.`col`` references (the documented contract; the
        # s side resolves against the full source row at plan time).
        # String literals are scrubbed first so a condition like
        # s.note = 't.b.d.' is not mis-parsed as referencing column `b`
        # (review r12; '' is SQL's escaped quote inside a literal).
        scrubbed = re.sub(r"'(?:[^']|'')*'", "''", update_where)
        t_ref = sorted(
            {m for m in re.findall(r"\bt\.`?([A-Za-z_][A-Za-z0-9_]*)`?", scrubbed)}
        )
        bad_t = sorted(set(t_ref) - set(cols))
        if bad_t:
            raise ValueError(
                f"update_where references unknown target column(s) {bad_t}"
            )
    if update_set is not None:
        bad = sorted(set(update_set) - set(cols))
        if bad:
            raise ValueError(f"update_set targets unknown column(s) {bad}")
        if key in update_set:
            raise ValueError(
                f"update_set cannot SET the merge key {key!r} — it defines the match"
            )
        gen_hit = sorted(set(update_set) & set(gen))
        if gen_hit:
            raise ValueError(
                f"update_set cannot SET generated column(s) {gen_hit} — "
                "they are recomputed from the merged row"
            )
    # a source omitting a GENERATED column gets it materialized from the
    # expression (Delta's merge contract) — over the source row, which
    # is exactly the landing row for inserts and whole-row updates; the
    # merged output below recomputes anyway, so update_set can't drift
    for c in gen:
        if c not in source.columns:
            source = source.withColumn(c, F.expr(gen[c]))
    # IDENTITY columns: matched rows KEEP their target ids, insert rows
    # get fresh ones assigned after the merge projection; the source can
    # never supply values (ALWAYS semantics)
    idmap = _identity_map(schema)
    if idmap:
        if key in idmap:
            raise ValueError(
                f"merge key {key!r} is an identity column — the source "
                "cannot supply identity values to match on"
            )
        provided = sorted(set(idmap) & set(source.columns))
        if provided:
            raise ValueError(
                f"identity column(s) {provided} are GENERATED ALWAYS — "
                "the merge source cannot supply their values"
            )
        hit = sorted(set(update_set or ()) & set(idmap))
        if hit:
            raise ValueError(
                f"update_set cannot SET identity column(s) {hit}"
            )
        if collect_cdf:
            raise ValueError(
                "collect_cdf with identity columns is not supported — "
                "insert ids are assigned after the CDF projection"
            )
        for c in idmap:
            source = source.withColumn(c, F.lit(None).cast("long"))
    # NULL delete_where falls through to UPDATE (Delta's semantics): an
    # un-coalesced NULL flag would make ~(matched & NULL) = NULL and the
    # filter below would silently drop the row — neither deleted nor
    # updated (ADVICE r7).
    src = source.select(*cols).withColumn(
        "__delete",
        F.coalesce(F.expr(delete_where), F.lit(False)) if delete_where else F.lit(False),
    )
    # Phase 2: find-touched-files.  Key-only probe by default (one
    # column read per candidate).  With `update_where` the probe also
    # reads the condition's t-columns and keeps only QUALIFIED pairs
    # (delete-flagged or condition-true) for the rewrite set, while the
    # full matched-key set — condition-independent — flags source rows
    # whose matches all pass through so they never reach the INSERT
    # clause (a key-matched row is matched even when no clause fires).
    touched: list[str] = []
    probe_pin: DataFrame | None = None
    matched_flag: DataFrame | None = None
    if candidates:
        # Both probes read DV-FILTERED rows (review r12): a key whose
        # only match is a logically-deleted row is NOT matched — Delta's
        # semantics — so it must neither flag __matched (which would
        # suppress its INSERT: data loss) nor pull its file into the
        # rewrite set.  keep_fname carries per-row file identity as the
        # part BASENAME (input_file_name cannot plan over the DV anti
        # join; basenames are globally unique — job-UUID named).
        if update_where is None:
            probe = (
                _read_files_dv(
                    spark, path, candidates, schema, dvs,
                    keep_fname="__file", colmap=colmap,
                )
                .select(key, "__file")
                .join(src.select(key), key, "inner")
                .select("__file")
                .distinct()
            )
            hit = {r[0] for r in probe.collect()}  # O(touched files) names
        else:
            probe_cols = [key] + [c for c in t_ref if c != key]
            pairs = (
                _read_files_dv(
                    spark, path, candidates, schema, dvs,
                    keep_fname="__file", colmap=colmap,
                )
                .select(*probe_cols, "__file")
                .alias("t")
                .join(src.alias("s"), F.col(f"t.{key}") == F.col(f"s.{key}"), "inner")
                .select(
                    F.col(f"t.{key}").alias("__k"),
                    F.col("__file"),
                    (
                        F.col("s.__delete")
                        | F.coalesce(F.expr(update_where), F.lit(False))
                    ).alias("__q"),
                )
                .persist()  # two consumers: touched collect + matched keys
            )
            probe_pin = pairs
            hit = {
                r[0]
                for r in pairs.filter(F.col("__q")).select("__file").distinct().collect()
            }
            matched_flag = (
                pairs.select(F.col("__k").alias(key))
                .distinct()
                .withColumn("__matched", F.lit(True))
            )
        touched = [f for f in candidates if os.path.basename(f) in hit]
    if matched_flag is not None:
        src = src.join(matched_flag, key, "left").withColumn(
            "__matched", F.coalesce(F.col("__matched"), F.lit(False))
        )
    else:
        src = src.withColumn("__matched", F.lit(False))
    cdf_df = None
    joined = None
    if touched:
        # DV-aware: a logically-deleted row must not resurrect through
        # the rewrite (the merge commit drops the touched files' DVs)
        tgt = _read_files_dv(spark, path, touched, schema, dvs, colmap=colmap)
        t, s = tgt.alias("t"), src.alias("s")
        joined = t.join(s, F.col(f"t.{key}") == F.col(f"s.{key}"), "full_outer")
        if collect_cdf:
            # merged + four cdf classes below all derive from this join:
            # persist it so the touched-file scan and join execute once,
            # keeping the advertised O(touched + source) cost
            joined = joined.persist()
        matched = F.col(f"t.{key}").isNotNull() & F.col(f"s.{key}").isNotNull()
        # NULL update_where passes through, like delete_where (Delta's
        # three-valued clause conditions: an un-fired clause is not an
        # error, the row just takes no clause)
        upd_cond = (
            F.coalesce(F.expr(update_where), F.lit(False))
            if update_where is not None
            else F.lit(True)
        )
        tgt_types = {f.name: f.dataType for f in tgt.schema.fields}

        def _out_col(c):
            """The landing value for column `c`: matched rows passing
            `update_where` take the UPDATE clause (whole source row, or
            the update_set expression over the t/s aliases cast to the
            table type), matched rows failing it keep the target row,
            inserts take the source row, carried-over target rows keep
            theirs."""
            if c in idmap:
                # matched and carried rows keep the target's id; insert
                # rows land NULL here and get fresh ids assigned below
                return F.col(f"t.{c}").alias(c)
            if update_set is None:
                upd = F.col(f"s.{c}")
            elif c in update_set:
                upd = F.expr(update_set[c]).cast(tgt_types[c])
            else:
                upd = F.col(f"t.{c}")
            return (
                F.when(matched & upd_cond, upd)
                .when(matched, F.col(f"t.{c}"))  # condition failed: pass through
                .when(F.col(f"s.{key}").isNotNull(), F.col(f"s.{c}"))
                .otherwise(F.col(f"t.{c}"))
                .alias(c)
            )

        def _regen_m(df: DataFrame) -> DataFrame:
            # generated columns recompute from the LANDING row: inserts
            # and whole-row updates already carry the right value (it
            # was materialized over the source), update_set rows derive
            # from their post-SET inputs, carried rows are unchanged
            if not gen:
                return df
            return df.select(
                *[
                    F.expr(gen[c]).cast(tgt_types[c]).alias(c)
                    if c in gen
                    else F.col(c)
                    for c in cols
                ]
            )

        # drop (a) delete-clause rows and (b) "ghost inserts": source
        # rows whose every key match passed through in an UNTOUCHED file
        # — they look unmatched in this join (its t side reads only
        # touched files) but the row IS matched, so NOT MATCHED must
        # never fire for it
        ghost = (
            F.col(f"t.{key}").isNull()
            & F.col(f"s.{key}").isNotNull()
            & F.col("s.__matched")
        )
        merged = _regen_m(
            joined.filter(~(matched & F.col("s.__delete")) & ~ghost).select(
                *[_out_col(c) for c in cols]
            )
        )
        if collect_cdf:
            # Delta's merge CDF: explicit change rows written alongside
            # the rewrite (O(touched + source), same as the merge itself).
            # Untouched target rows emit nothing.
            t_row = [F.col(f"t.{c}").alias(c) for c in cols]
            s_row = [F.col(f"s.{c}").alias(c) for c in cols]
            # the post-image is the MERGED landing row (honors update_set)
            post_row = [_out_col(c) for c in cols]
            # pass-through rows (update_where false/NULL) changed
            # nothing and emit NO change rows (Delta's merge CDF covers
            # only rows a clause actually fired on)
            updated = matched & ~F.col("s.__delete") & upd_cond
            ct = "_change_type"
            cdf_df = (
                joined.filter(matched & F.col("s.__delete"))
                .select(*t_row).withColumn(ct, F.lit("delete"))
                .unionByName(
                    joined.filter(updated).select(*t_row)
                    .withColumn(ct, F.lit("update_preimage"))
                )
                .unionByName(
                    _regen_m(joined.filter(updated).select(*post_row))
                    .withColumn(ct, F.lit("update_postimage"))
                )
                .unionByName(
                    # ghost inserts (matched only in untouched files)
                    # fired no clause: no insert row
                    joined.filter(
                        F.col(f"t.{key}").isNull() & ~F.col("s.__matched")
                    ).select(*s_row)
                    .withColumn(ct, F.lit("insert"))
                )
            )
    else:
        # no file needs rewriting.  Without update_where that means
        # nothing matched: pure insert.  With it, matched-but-
        # unqualified source rows may exist (their files all passed
        # through) — they fired no clause and must not insert.
        merged = src.filter(~F.col("__matched")).select(*cols)
        if gen:
            # same contract as the upsert branch's _regen_m: a source-
            # provided generated value is recomputed, not validated-
            # after-staging (review r10 — the two branches must not
            # give the same input different outcomes)
            ins_types = {f.name: f.dataType for f in merged.schema.fields}
            merged = merged.select(
                *[
                    F.expr(gen[c]).cast(ins_types[c]).alias(c)
                    if c in gen
                    else F.col(c)
                    for c in cols
                ]
            )
        if collect_cdf:
            cdf_df = merged.withColumn("_change_type", F.lit("insert"))
    # fresh ids for the INSERT rows only (NULL slots), continuing from
    # the recorded mark; matched/carried rows kept theirs
    merged, ident_hwm_out, id_pins = _allocate_identity(
        merged, idmap, state.identity_hwm, only_missing=True
    )
    # A merge can stage ZERO landing rows (every source row delete-
    # flagged, or a conditional merge whose matches all passed through);
    # the staging drops such files like every rewrite's.  The key joins
    # the collected stats: they prune the next merge's candidates.
    added, stats = _stage_logical(
        merged, path, colmap, state.partition_by, [key, *(stats_cols or [])],
        bloom_cols,
    )
    for pin in id_pins:  # ids are in the staged parquet now
        pin.unpersist(False)
    # staged merge output holds only landing rows — delete-flagged
    # source rows never materialize, and carried-over target rows passed
    # at their own write time (add_constraint validates the existing
    # table)
    _check_staged(
        spark, path, added, schema, colmap, state.constraints, list(gen),
        "merge output",
    )
    # a fully pass-through conditional merge stages no change rows:
    # `cdf=[file]` would read as "has change data" to the stream
    # source's no-op-merge skip
    cdf_files = (
        _stage_logical(cdf_df, path, colmap, kind="cdf")[0] or None
        if cdf_df is not None
        else None
    )
    if joined is not None and collect_cdf:
        joined.unpersist()
    if probe_pin is not None:  # rewrite + cdf staged; probe pairs done
        probe_pin.unpersist(False)
    return _commit_serializable(
        path,
        added,
        touched,
        read_version,
        pk_range,  # guard consults intervening commits' (physical) stats
        stats=stats,
        cdf=cdf_files,
        identity_hwm=ident_hwm_out,
        schema=schema_out,
        schema_base=schema_base,
    )


def update(
    spark: SparkSession,
    path: str,
    set_exprs: dict[str, str],
    where: list[tuple] | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    collect_cdf: bool = False,
) -> tuple[int, dict] | None:
    """UPDATE ... SET col = expr [WHERE pred] — the everyday DML verb
    between delete()'s row removal and merge()'s keyed upsert (Delta's
    UPDATE).  `set_exprs` maps target columns to SQL expressions; every
    expression is evaluated against the OLD row (SQL UPDATE semantics —
    `{"a": "b", "b": "a"}` swaps), and the result is cast back to the
    column's table type.  `where` is the scan()/prune() conjunction
    shape (None updates every row); NULL predicate rows don't match and
    are left untouched (q178's three-valued rules).

    Cost model is delete()'s, minus the whole-drop tier (an update must
    rewrite whatever it touches):

    * files whose stats PROVE no row matches are untouched (free);
    * a probe confirms which candidates hold matching rows (predicate
      columns only — parquet column pruning), counting matches per file;
    * ONLY files with matches are read in full and rewritten with the
      per-row `CASE WHEN matched THEN expr ELSE old END` projection, and
      one atomic merge commit swaps them.

    A narrow update on a clustered 100 TB table therefore costs
    O(touched files), the same two-phase shape as merge()
    (minitable.py merge docstring).  DV-aware: rewrites read through
    live deletion vectors (a logically-deleted row neither resurrects
    nor gets updated) and the commit drops the touched files' DVs (the
    rewrite materialized them).  CHECK constraints are re-validated on
    the staged output — an update CAN move rows into violation and must
    be rejected (Delta enforces constraints on UPDATE too).  CDF:
    `collect_cdf=True` stages explicit update_preimage/update_postimage
    rows for change_feed(), exactly merge()'s contract; without it an
    update commit has no row-level feed (the feed raises loudly for it,
    like a CDF-less merge).

    Serializable like merge/delete: claims readVersion+1 and auto-
    rebases only over provably-disjoint commits; an unfiltered update
    (where=None) conflicts with ANY concurrent append — those rows
    should have been updated.  Returns (version, {"rewritten",
    "rows_updated", "untouched"}) or None when no row matches (no
    commit — updating nothing is not a version)."""
    from pyspark.sql import functions as F

    if not set_exprs:
        raise ValueError("update() needs at least one SET column")
    where = list(where or [])
    _check_where(where, "update")
    read_version, state = _head(path)
    entries, schema, dvs, colmap = state.entries, state.schema, state.dvs, state.colmap
    if not entries:
        raise ValueError(f"minitable {path} is empty — write() the initial version")
    cols = (
        [f["name"] for f in schema["fields"]]
        if schema is not None
        else read(spark, path, read_version).columns
    )
    unknown = sorted(set(set_exprs) - set(cols))
    if unknown:
        raise ValueError(f"UPDATE SET targets unknown column(s) {unknown}")
    gen = _generated_map(schema)
    gen_hit = sorted(set(set_exprs) & set(gen))
    if gen_hit:
        raise ValueError(
            f"cannot UPDATE generated column(s) {gen_hit} — they derive "
            f"from { {c: gen[c] for c in gen_hit} } and are recomputed "
            "automatically when their inputs change"
        )
    id_hit = sorted(set(set_exprs) & set(_identity_map(schema)))
    if id_hit:
        raise ValueError(
            f"cannot UPDATE identity column(s) {id_hit} — identity values "
            "are engine-assigned (GENERATED ALWAYS)"
        )
    pw = _phys_where(where, colmap)  # stats are keyed by physical names
    candidates = [f for f, st in entries if _file_survives(st, pw)]
    if not candidates:
        return None
    cond = F.coalesce(_where_cond(where), F.lit(False)) if where else F.lit(True)
    # which candidate files hold matching LIVE rows, and how many — the
    # shared probe (no whole-drop tier here: an update must read a
    # matching file to compute the new values)
    per_file = _probe_matching_files(
        spark, path, candidates, schema, dvs, colmap, where
    )
    bases = set(per_file)
    touched = [f for f in candidates if f.rsplit("/", 1)[-1] in bases]  # log order
    if not touched:
        return None
    rows_updated = sum(n for n, _total in per_file.values())
    base = _read_files_dv(spark, path, touched, schema, dvs, colmap=colmap)
    tgt_types = {f.name: f.dataType for f in base.schema.fields}
    upd = [
        (
            F.when(cond, F.expr(set_exprs[c]).cast(tgt_types[c]))
            .otherwise(F.col(c))
            .alias(c)
            if c in set_exprs
            else F.col(c)
        )
        for c in cols
    ]
    def _regen(df: DataFrame) -> DataFrame:
        # generated columns recompute from the POST-SET row (their
        # inputs may have changed); unmatched rows recompute to the
        # same value, so applying it file-wide is a no-op for them
        if not gen:
            return df
        return df.select(
            *[
                F.expr(gen[c]).cast(tgt_types[c]).alias(c) if c in gen else F.col(c)
                for c in cols
            ]
        )

    if collect_cdf:
        # pre/post images and the rewrite all derive from the same
        # touched-file scan: persist it so the files are read once
        base = base.persist()
    added, stats = _stage_logical(
        _regen(base.select(*upd)), path, colmap, state.partition_by,
        stats_cols, bloom_cols,
    )
    _check_staged(
        spark, path, added, schema, colmap, state.constraints, [],
        "update output",
    )
    cdf_files = None
    if collect_cdf:
        ct = "_change_type"
        matched = base.where(cond)
        cdf_df = (
            matched.select(*cols).withColumn(ct, F.lit("update_preimage"))
            .unionByName(
                _regen(matched.select(*upd)).withColumn(ct, F.lit("update_postimage"))
            )
        )
        cdf_files = _stage_logical(cdf_df, path, colmap, kind="cdf")[0]
        base.unpersist()
    version = _commit_serializable(
        path,
        added,
        touched,
        read_version,
        pw,  # [] = unfiltered: ANY concurrent append conflicts
        stats=stats,
        cdf=cdf_files,
    )
    return version, {
        "rewritten": len(touched),
        "rows_updated": rows_updated,
        "untouched": len(entries) - len(touched),
    }


def _file_fully_matches(stats: dict | None, where: list[tuple]) -> bool:
    """True only when the file's stats PROVE every row satisfies the
    conjunction — the whole-file-drop fast path of delete().  Missing
    stats always return False (conservative: the file gets the exact
    rewrite path instead).

    NULL semantics: parquet min/max ignore nulls, so the range alone can
    never prove a total match — a file whose every NON-NULL value matches
    may still hold NULL rows, and `WHERE col < v` does NOT match NULLs (a
    whole-file drop would wrongly delete them).  The proof therefore also
    requires a recorded `null_count == 0` for every predicate column;
    legacy `[lo, hi]` entries (no null count) and unknown counts take the
    exact rewrite path instead."""
    if stats is None:
        return False
    for col, op, val in where:
        entry = stats.get(col)
        if not isinstance(entry, dict):
            return False  # legacy bare range: null count unproven
        nulls, rows = entry.get("nulls"), entry.get("rows")
        if op == "is_null":
            # every row matches only when every row is proven NULL
            if not (nulls is not None and rows is not None and nulls == rows and rows > 0):
                return False
            continue
        if nulls != 0:
            return False  # null count unproven -> no whole-file drop
        if op == "is_not_null":
            continue  # zero nulls: every row matches
        rng = entry.get("range")
        if rng is None:
            return False
        lo, hi = rng
        try:
            ok = (
                (op == "<" and hi < val)
                or (op == "<=" and hi <= val)
                or (op == ">" and lo > val)
                or (op == ">=" and lo >= val)
                or (op == "=" and lo == val and hi == val)
                or (op == "in" and lo == hi and lo in list(val))
            )
        except TypeError:
            return False  # incomparable literal type: nothing is proven
        if not ok:
            return False
    return True


def _predicate_tiers(
    entries: list[tuple[str, dict | None]], pw: list[tuple]
) -> tuple[list[str], list[str]]:
    """The stats-only half of every predicate delete's plan (delete,
    replace_where and delete_dv): files whose stats prove no match stay
    untouched, files that provably match WHOLLY drop by metadata, the
    rest straddle.  `pw` is the PHYSICAL conjunction.  Returns
    (whole, straddle)."""
    candidates = [(f, st) for f, st in entries if _file_survives(st, pw)]
    whole = [f for f, st in candidates if _file_fully_matches(st, pw)]
    whole_set = set(whole)  # membership test must stay O(1) at large live-file counts
    return whole, [f for f, _st in candidates if f not in whole_set]


def _plan_predicate_removal(
    spark: SparkSession,
    path: str,
    entries: list[tuple[str, dict | None]],
    schema: dict | None,
    dvs: dict[str, str],
    colmap: dict[str, str],
    where: list[tuple],
    pw: list[tuple],
) -> tuple[list[str], list[str]]:
    """The three-tier predicate-DELETE plan SHARED by delete() and
    replace_where() (delete_dv shares _predicate_tiers and marks rows
    instead of probing): files whose stats prove no match stay
    untouched, files that provably match WHOLLY drop by metadata, and
    straddlers are probed (predicate columns only, so parquet column
    pruning applies; file identity via a basename column captured
    BEFORE the DV join — input_file_name() refuses multi-source plans)
    so only genuine match-holders rewrite.
    One definition because the probe's subtleties are correctness-
    critical (review r10): a fix applied to one caller must reach all.
    Returns (whole, touched).

    A probed straddler whose EVERY live row matches (the probe's exact
    matching == total counts) joins the whole-drop tier: stats could
    not prove it, but the probe just did — rewriting it would stage an
    empty survivor file that lives in the log forever (r13, model-fuzz
    finding)."""
    whole, straddle = _predicate_tiers(entries, pw)
    touched: list[str] = []
    if straddle:
        counts = _probe_matching_files(
            spark, path, straddle, schema, dvs, colmap, where
        )
        for f in straddle:
            c = counts.get(f.rsplit("/", 1)[-1])
            if c is None:
                continue  # no matching live rows: untouched
            if c[0] == c[1]:
                whole.append(f)  # probe-proven full match: metadata drop
            else:
                touched.append(f)
    return whole, touched


def _probe_matching_files(
    spark: SparkSession,
    path: str,
    rels: list[str],
    schema: dict | None,
    dvs: dict[str, str],
    colmap: dict[str, str],
    where: list[tuple],
) -> dict[str, tuple[int, int]]:
    """Per-file (matching, total) LIVE row counts — the
    find-touched-files probe shared by update(), delete(), and
    replace_where() (review r10: the probe's subtleties — predicate
    columns + basename only so parquet column pruning applies, basename
    captured BEFORE the DV anti join because input_file_name() refuses
    multi-source plans, NULL predicates coalesced to no-match — must
    live exactly once).  An empty `where` counts every live row (the
    unfiltered UPDATE).  Returns {file basename: (n_matching, n_live)},
    omitting files with zero matches — O(probed files) driver-side
    names.  The total is the same aggregation pass (a conditional count
    next to the plain one), and it upgrades the delete plan: a probed
    file whose EVERY live row matches whole-drops by metadata instead
    of staging an empty survivor file (r13 — the model fuzz caught a
    fully-emptied unproven file leaving a zero-row live file)."""
    from pyspark.sql import functions as F

    cond = F.coalesce(_where_cond(where), F.lit(False)) if where else F.lit(True)
    probe_cols = {col for col, _o, _v in where}
    out = {}
    for r in (
        _read_files_dv(
            spark, path, rels, schema, dvs,
            keep_fname="__file", colmap=colmap,
        )
        .select(*probe_cols, "__file")
        .groupBy("__file")
        .agg(
            F.count(F.when(cond, 1)).alias("n"),
            F.count("*").alias("total"),
        )
        .collect()
    ):
        if r["n"]:
            out[r["__file"]] = (r["n"], r["total"])
    return out


def _stage_survivors(
    spark: SparkSession,
    path: str,
    touched: list[str],
    state: _State,
    where: list[tuple],
    stats_cols: list[str] | None,
    bloom_cols: list[str] | None,
) -> tuple[list[str], dict[str, dict] | None]:
    """Rewrite `touched` files WITHOUT their predicate-matching rows —
    the straddler tier's exact path, shared by delete() and
    replace_where().  ~cond is NULL (not True) on rows where a
    predicate column is NULL, but SQL DELETE keeps rows the predicate
    doesn't MATCH and NULL doesn't match — coalesce so NULL-predicate
    rows survive the rewrite.  Staged like every rewrite
    (_stage_logical, the table's recorded layout); returns (relpaths,
    stats)."""
    from pyspark.sql import functions as F

    survivors = _read_files_dv(
        spark, path, touched, state.schema, state.dvs, colmap=state.colmap
    ).where(~F.coalesce(_where_cond(where), F.lit(False)))
    return _stage_logical(
        survivors, path, state.colmap, state.partition_by, stats_cols, bloom_cols
    )


def delete(
    spark: SparkSession,
    path: str,
    where: list[tuple],
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    collect_cdf: bool = False,
) -> tuple[int, dict] | None:
    """DELETE FROM ... WHERE (Delta-style predicate delete), the DML
    verb between merge()'s keyed upsert and a blunt overwrite.  `where`
    is the scan()/prune() conjunction shape.  Three file tiers, exactly
    Delta's cost model:

    * files whose stats PROVE no row matches are untouched (free);
    * files whose stats prove EVERY row matches are dropped whole — a
      commit-log remove with no read and no write (how a partition-
      aligned retention delete on a 100 TB table costs O(1) I/O);
    * only genuinely straddling files take the exact path — a probe
      confirms they hold matching rows (predicate columns only, so
      parquet column pruning applies), and just those are rewritten
      with the inverse filter.

    One atomic merge commit swaps removed+rewritten; history stays
    readable (vacuum is the destruction step).  Returns
    (version, {"dropped_whole", "rewritten", "untouched"}) or None when
    nothing can match (no commit — deleting nothing is not a version).

    `collect_cdf=True` stages the deleted rows as EXPLICIT change-data
    files (`_change_type='delete'`) so the commit is consumable by the
    STREAMING CDC source (mode=cdf), which cannot run the batch feed's
    predicate reconstruction.  The trade is Delta's own for
    CDF-enabled tables: the whole-drop tier keeps its zero-REWRITE
    property, but the dropped files' matching rows are read once —
    O(matched rows) extra I/O that plain deletes never pay."""
    from pyspark.sql import functions as F

    _check_where(where, "delete")
    read_version, state = _head(path)
    entries, schema, dvs, colmap = state.entries, state.schema, state.dvs, state.colmap
    pw = _phys_where(where, colmap)  # stats are keyed by physical names
    whole, touched = _plan_predicate_removal(
        spark, path, entries, schema, dvs, colmap, where, pw
    )
    if not whole and not touched:
        return None
    added, stats = (
        _stage_survivors(spark, path, touched, state, where, stats_cols, bloom_cols)
        if touched
        else ([], None)
    )
    cdf_rels: list[str] | None = None
    if collect_cdf:
        old_rows = (
            _read_files_dv(
                spark, path, whole + touched, schema, dvs, colmap=colmap
            )
            .where(F.coalesce(_where_cond(where), F.lit(False)))
            .withColumn("_change_type", F.lit("delete"))
        )
        cdf_rels = _stage_logical(old_rows, path, colmap, kind="cdf")[0]
    version = _commit_serializable(
        path,
        added,
        whole + touched,
        read_version,
        pw,
        stats=stats,
        predicate=pw,  # recorded PHYSICAL: rename-proof feed reconstruction
        cdf=cdf_rels,  # explicit change files win over reconstruction
        constraint_sensitive=False,  # a delete only removes rows
    )
    return version, {
        "dropped_whole": len(whole),
        "rewritten": len(touched),
        "untouched": len(entries) - len(whole) - len(touched),
    }


def delete_dv(
    spark: SparkSession,
    path: str,
    where: list[tuple],
    materialize_fraction: float | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
) -> tuple[int, dict] | None:
    """DELETE via DELETION VECTORS (Delta 3.x's merge-on-read DELETE):
    instead of rewriting straddling files, record the matching rows'
    (file basename, row_index) pairs in a sidecar parquet and point the
    commit log at it — the write cost is O(matched rows), ZERO data
    files are rewritten, and readers apply the vector as a broadcast
    anti join.  The trade against delete()'s copy-on-write: cheaper
    deletes, slightly costlier reads until an OPTIMIZE materializes the
    vectors (its packed rewrite applies DVs and the commit drops them).
    Delete tiers still apply: provably-unmatching files are untouched
    and provably-all-matching NULL-free files drop whole (a log remove
    beats a DV covering every row); only genuine straddlers get vector
    entries.  Repeated delete_dv calls accumulate: the new vector is the
    UNION of the old rows and the new matches (a newer DV replaces the
    older in the log).  One atomic `dv` commit carries whole-drops +
    vector pointers + the predicate (the change feed reconstructs this
    commit's deletes as the DV DIFF applied to the base files).
    Serializable like merge/delete: claims readVersion+1, conflicts on
    any concurrent touch of the affected files or an in-scope append.
    Returns (version, {"dropped_whole", "vectorized", "rows_marked",
    "untouched"}) — `rows_marked` counts NEWLY marked rows — or None
    when nothing NEW can match (a predicate covering only
    already-deleted rows, with no whole-file drop, is a no-op, not a
    version)."""
    from pyspark.sql import functions as F

    _check_where(where, "delete")
    read_version, state = _head(path)
    entries, schema, dvs, colmap = state.entries, state.schema, state.dvs, state.colmap
    pw = _phys_where(where, colmap)  # stats are keyed by physical names
    whole, straddle = _predicate_tiers(entries, pw)
    new_dv_map: dict[str, str] = {}
    rows_marked = 0
    vectorized: list[str] = []
    if straddle:
        base = _read_files(
            spark, [os.path.join(path, f) for f in straddle], schema, colmap
        )
        fname = F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
        matches = (
            base.where(F.coalesce(_where_cond(where), F.lit(False)))
            .select(
                fname.alias("fname"),
                F.col("_metadata.row_index").alias("row_index"),
            )
        )
        matches = matches.distinct()
        # rows an EXISTING vector already deleted are not deleted again:
        # only genuinely-new matches count (and a predicate matching
        # nothing new is a no-op, not a new version); the staged vector
        # is still the cumulative union, since a newer DV REPLACES the
        # older for its files
        old_dv_files = sorted({dvs[r] for r in straddle if r in dvs})
        basenames = [r.rsplit("/", 1)[-1] for r in straddle]
        prior = None
        if old_dv_files:
            prior = (
                spark.read.parquet(*[os.path.join(path, d) for d in old_dv_files])
                .select("fname", "row_index")
                .where(F.col("fname").isin(basenames))
                .distinct()
            )
            fresh = matches.join(prior, ["fname", "row_index"], "left_anti")
        else:
            fresh = matches
        fresh = fresh.persist()
        rows_marked = fresh.count()
        if rows_marked:
            cumulative = (
                fresh.unionByName(prior) if prior is not None else fresh
            ).persist()
            per_file = {
                r["fname"]: r["n"]
                for r in cumulative.groupBy("fname").agg(F.count("*").alias("n")).collect()
            }
            staged = _stage(cumulative.coalesce(1), path, kind="dv")
            cumulative.unpersist()
            if len(staged) != 1:
                raise RuntimeError("dv stage must produce exactly one file")
            by_base = {r.rsplit("/", 1)[-1]: r for r in straddle}
            vectorized = sorted(by_base[b] for b in per_file if b in by_base)
            new_dv_map = {rel: staged[0] for rel in vectorized}
        fresh.unpersist()
    # OPPORTUNISTIC MATERIALIZATION (Delta's tombstone-compaction
    # heuristic, opt-in): a file whose CUMULATIVE deleted fraction
    # crosses the bound is rewritten now — its survivors staged minus
    # the vector — instead of dragging an ever-larger DV through every
    # read.  Footer num_rows is an O(touched files) driver metadata
    # read; the rewrite cost is O(surviving rows of crossed files).
    # `stats_cols`/`bloom_cols` re-collect skipping stats for the
    # rewritten survivors: without them the materialization would
    # permanently degrade pruning on exactly the files it rewrote
    # (stats-less files survive every prune and can never whole-drop).
    # A file that lost EVERY row stages no survivor file at all.
    materialized: list[str] = []
    added: list[str] = []
    mat_stats: dict | None = None
    if materialize_fraction is not None and new_dv_map:
        import pyarrow.parquet as pq

        for rel in sorted(new_dv_map):
            n_total = pq.ParquetFile(os.path.join(path, rel)).metadata.num_rows
            n_dead = per_file.get(rel.rsplit("/", 1)[-1], 0)
            if n_total and n_dead / n_total > materialize_fraction:
                materialized.append(rel)
        if materialized:
            dv_file = next(iter(new_dv_map.values()))
            survivors = _read_files_dv(
                spark,
                path,
                materialized,
                schema,
                {rel: dv_file for rel in materialized},
                colmap=colmap,
            )
            added, mat_stats = _stage_logical(
                survivors, path, colmap, state.partition_by, stats_cols, bloom_cols
            )
            # materialized rels STAY in the recorded map even though the
            # commit removes them: "removed AND mapped" is how the change
            # feed tells a materialization (deletes = the DV diff) from a
            # whole-drop (deletes = every live row); replay filters the
            # dead map entries back out of the live DV state
            vectorized = [r for r in vectorized if r not in set(materialized)]
    if not whole and not new_dv_map and not materialized:
        return None
    version = _commit_serializable(
        path,
        added,
        whole + materialized,
        read_version,
        pw,
        stats=mat_stats,
        predicate=pw,  # recorded PHYSICAL: rename-proof feed reconstruction
        action="dv",
        dv=new_dv_map or None,
        constraint_sensitive=False,  # a delete only removes rows
    )
    return version, {
        "dropped_whole": len(whole),
        "vectorized": len(vectorized),
        "materialized": len(materialized),
        "rows_marked": rows_marked,
        "untouched": len(entries) - len(whole) - len(vectorized) - len(materialized),
    }


def replace_where(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    where: list[tuple],
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    collect_cdf: bool = True,
) -> tuple[int, dict]:
    """REPLACE WHERE (Delta's `.option("replaceWhere", ...)` with mode
    overwrite — the predicate-scoped atomic overwrite): in ONE commit,
    DELETE every table row matching `where` and INSERT `df`, whose rows
    must ALL satisfy `where` — validated on the staged bytes and
    rejected loudly otherwise (Delta's default contract; it is what
    makes the verb an idempotent partition/range restatement: re-running
    the same restatement converges instead of duplicating).  This is
    the everyday backfill idiom — "recompute day X and swap it in" —
    that delete()+write() can NOT express safely: two commits leave a
    window where readers see the day missing, and a crash between them
    loses the day entirely.

    The delete side pays Delta's three cost tiers exactly like
    delete(): provably-all-matching files drop as pure commit-log
    removes (a partition-aligned restatement on a 100 TB table does
    ZERO data-file I/O beyond staging the replacement), straddlers are
    probed (predicate columns only) and only genuine match-holders are
    rewritten with the inverse filter, everything else is untouched.
    The insert side honors the full table contract, like write():
    CHECK constraints validate against the staged bytes, GENERATED
    columns materialize when omitted / validate when provided, IDENTITY
    columns are engine-assigned from the log-carried high-water mark
    (writers can never supply them), and the recorded partition layout
    is preserved on both the new files and the rewrites.

    Change feed: the commit stages explicit CDF rows by default
    (deletes = the old matching rows with pre-existing DV masks
    applied; inserts = the staged batch) because its `added` files mix
    rewrite survivors with genuinely-new rows — the predicate-only
    reconstruction delete() relies on cannot represent that.
    `collect_cdf=False` skips the extra write and records NO predicate,
    so change_feed() raises loudly over the commit instead of returning
    a feed that silently misses the inserts.

    Concurrency: serializable like merge/delete — claims
    readVersion+1, conflicts on an intervening overwrite, on any commit
    touching the files it removes, on a concurrent APPEND whose stats
    admit rows matching `where` (those rows would be replaced without
    ever being seen), on a concurrent constraint change
    (constraint_sensitive), and on a concurrent identity allocation;
    disjoint-scope writers land without coordination.

    Returns (version, summary).  Unlike delete(), an empty delete side
    still commits — the insert happens regardless (Delta's semantics:
    replaceWhere over an empty range is just a guarded append)."""
    from pyspark.sql import functions as F

    _check_where(where, "replace_where")
    read_version, state = _head(path)
    if read_version is None:
        raise ValueError(
            f"replace_where needs an existing minitable at {path}; "
            "create the table with write() first"
        )
    entries, schema, dvs, colmap = state.entries, state.schema, state.dvs, state.colmap
    if schema is None:
        raise ValueError(
            f"minitable {path} has no recorded schema — replace_where "
            "cannot validate the batch against the table contract"
        )
    pw = _phys_where(where, colmap)  # stats are keyed by physical names

    # -- INSERT side: the table contract applied to the incoming batch --
    gen = _generated_map(schema)
    ident = _identity_map(schema)
    supplied = sorted(set(ident) & set(df.columns))
    if supplied:
        raise ValueError(
            f"identity column(s) {supplied} are GENERATED ALWAYS — the "
            "writer cannot supply their values"
        )
    gen_provided = [c for c in gen if c in df.columns]
    for c in gen:
        if c not in df.columns:
            df = df.withColumn(c, F.expr(gen[c]))
    table_cols = {f["name"] for f in schema["fields"]}
    got = set(df.columns) | set(ident)
    if got != table_cols:
        raise ValueError(
            f"replace_where batch columns {sorted(got)} must equal the "
            f"table schema {sorted(table_cols)} — this verb restates "
            "rows, it does not evolve schema"
        )
    # an EMPTY restatement batch (a legal pure scoped delete) allocates
    # nothing and stages nothing: no predicate scan, no insert changes
    df, ident_hwm_out, id_pins = _allocate_identity(df, ident, state.identity_hwm)
    new_rels, new_stats = _stage_logical(
        df, path, colmap, state.partition_by, stats_cols, bloom_cols
    )
    for pin in id_pins:  # ids are in the staged parquet now
        pin.unpersist(False)
    staged = None
    if new_rels:
        staged = _read_files(
            spark, [os.path.join(path, r) for r in new_rels], schema, colmap
        )
        n_viol = staged.where(~F.coalesce(_where_cond(where), F.lit(False))).count()
        if n_viol:
            raise ValueError(
                f"replace_where batch breaks its own predicate: {n_viol} "
                f"staged row(s) do not match {where} — every inserted row "
                "must fall inside the replaced range (Delta's contract)"
            )
    _check_staged(
        spark, path, new_rels, schema, colmap, state.constraints, gen_provided,
        "replace_where batch",
    )

    # -- DELETE side: the same three cost tiers as delete(), one shared
    # planner (review r10: the probe's subtleties must live once) ------
    whole, touched = _plan_predicate_removal(
        spark, path, entries, schema, dvs, colmap, where, pw
    )
    rewritten, rw_stats = (
        _stage_survivors(spark, path, touched, state, where, stats_cols, bloom_cols)
        if touched
        else ([], None)
    )

    cdf_rels: list[str] | None = None
    if collect_cdf:
        pieces = []
        if staged is not None:
            pieces.append(staged.withColumn("_change_type", F.lit("insert")))
        if whole or touched:
            pieces.append(
                _read_files_dv(
                    spark, path, whole + touched, schema, dvs, colmap=colmap
                )
                .where(F.coalesce(_where_cond(where), F.lit(False)))
                .withColumn("_change_type", F.lit("delete"))
            )
        cdf_rels = (
            _stage_logical(
                pieces[0] if len(pieces) == 1 else pieces[0].unionByName(pieces[1]),
                path,
                colmap,
                kind="cdf",
            )[0]
            if pieces
            else []
        )

    stats = {**(rw_stats or {}), **(new_stats or {})}
    version = _commit_serializable(
        path,
        rewritten + new_rels,
        whole + touched,
        read_version,
        pw,  # a concurrent in-scope append would be replaced unseen
        stats=stats,
        predicate=pw if collect_cdf else None,
        cdf=cdf_rels,
        constraint_sensitive=True,  # this commit ADDS rows
        identity_hwm=ident_hwm_out,
    )
    return version, {
        "dropped_whole": len(whole),
        "rewritten": len(touched),
        "untouched": len(entries) - len(whole) - len(touched),
        "inserted_files": len(new_rels),
    }


def _exact_stat_value(st: dict | None, col: str):
    """The single value `col` provably takes in a file — recorded range
    `[v, v]` with a proven zero null count (exactly what write(...,
    partition_by=[col]) records for every staged file).  None when the
    stats can't prove single-valuedness."""
    if not isinstance(st, dict):
        return None
    entry = st.get(col)
    if not isinstance(entry, dict) or entry.get("nulls") != 0:
        return None
    rng = entry.get("range")
    if rng is None or rng[0] != rng[1]:
        return None
    return rng[0]


def _entry_rows(st: dict | None) -> int | None:
    """A file's exact row count if its stats carry one ("rows" rides
    each column entry since r9), else None."""
    for v in (st or {}).values():
        if isinstance(v, dict) and "rows" in v:
            return v["rows"]
    return None


def _rows_estimate(
    df: DataFrame, by_stats: dict[str, dict | None], rels: list[str]
) -> int:
    """Row count of `rels` for sample-fraction sizing: the sum of the
    per-file `rows` stats when every file carries one (no job), else
    one count() job.  Shared by zorder() and clustering-aware OPTIMIZE
    so a future refinement (e.g. discounting DV-deleted rows) lands in
    both Z-writers at once (review r10)."""
    per_file = [_entry_rows(by_stats[r]) for r in rels]
    return (
        sum(per_file) if all(n is not None for n in per_file) else df.count()
    )


def _stage_zordered(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    by: list[str],
    buckets: int,
    n_out: int,
    colmap: dict[str, str],
    partition_by: list[str] | None,
    rows_est: int,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
) -> tuple[list[str], dict[str, dict] | None]:
    """The Z-cluster WRITE, shared by zorder() and clustering-aware
    OPTIMIZE: per-column range-bucket boundaries from a bounded
    reservoir sample (RangePartitioner's design — quantile buckets, so
    skew still spreads; NULLs cluster in bucket 0), bucket ids
    interleaved into one Z-value by a pure-integer codegen expression,
    repartitionByRange on (partition cols, Z) so staged files are
    aligned curve rectangles nested inside the hive layout.  Staged
    like every rewrite (_stage_logical); returns (relpaths, stats), the
    caller owns the commit."""
    from pyspark.sql import functions as F

    bits = (buckets - 1).bit_length()
    if bits * len(by) > 63:
        # Java shifts mask mod 64 — exceeding the budget would SILENTLY
        # collide bucket bits and emit a garbage curve, so every caller
        # is re-checked here, not just zorder()'s argument validation
        raise ValueError(
            f"Z-order key too wide: {len(by)} columns x {bits} bits "
            "per column must fit in 63 bits"
        )
    frac = min(1.0, ZORDER_SAMPLE_ROWS / max(rows_est, 1))
    sample = df.select(*by).sample(False, frac, seed=7).collect()
    bounds: dict[str, list] = {}
    for c in by:
        vals = sorted(r[c] for r in sample if r[c] is not None)
        bnds = []
        for i in range(1, buckets):
            if not vals:
                break
            b = vals[min(len(vals) - 1, (i * len(vals)) // buckets)]
            if not bnds or b > bnds[-1]:
                bnds.append(b)
        bounds[c] = bnds
    out = df
    zb_cols = []
    for j, c in enumerate(by):
        zb = f"__zb{j}"
        zb_cols.append(zb)
        if bounds[c]:
            rank = sum(
                (F.col(c) >= F.lit(b)).cast("long") for b in bounds[c]
            )
            out = out.withColumn(
                zb, F.when(F.col(c).isNull(), F.lit(0)).otherwise(rank)
            )
        else:  # all-null / empty sample: one bucket
            out = out.withColumn(zb, F.lit(0))
    k = len(by)
    terms = [
        f"(shiftleft(shiftright(__zb{j}, {i}) & 1, {i * k + (k - 1 - j)}))"
        for j in range(k)
        for i in range(bits)
    ]
    out = out.withColumn("__z", F.expr(" | ".join(terms)))
    range_keys = [F.col(c) for c in (partition_by or [])] + [F.col("__z")]
    clustered = (
        out.repartitionByRange(n_out, *range_keys)
        .sortWithinPartitions(*range_keys)
        .drop("__z", *zb_cols)
    )
    return _stage_logical(
        clustered, path, colmap, partition_by, stats_cols, bloom_cols
    )


def optimize(
    spark: SparkSession,
    path: str,
    small_bytes: int,
    target_bytes: int,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    partition_by: list[str] | None = None,
    where: list[tuple] | None = None,
) -> dict | None:
    """OPTIMIZE (Delta-style bin-packing compaction): rewrite only the
    live files SMALLER than `small_bytes`, first-fit bin-packed in
    commit-log order into ~`target_bytes` output files, and swap them in
    one atomic `merge` commit (removed = the small files, added = the
    packed ones).  Files already at healthy size are never read or
    rewritten — the cost is O(small bytes), not O(table), which is what
    separates OPTIMIZE from q162's read-everything-overwrite compaction
    and is the only affordable shape when a streaming sink (q163) has
    dribbled thousands of per-batch files into a 100 TB table.  History
    stays readable: AS-OF reads before the optimize version still plan
    the original small files (vacuum() is the explicit destruction
    step).  Returns None (no commit) when fewer than two small files
    exist; otherwise a summary dict.

    Each bin is rewritten by its own executor job here (bins are few and
    the loop is driver-cheap); at cluster scale the bins are independent
    and would be submitted concurrently — Delta runs them as parallel
    rewrite tasks inside one job.

    Concurrency: the commit claims readVersion+1 like merge/delete — a
    concurrent DELETE/MERGE landing mid-compaction would otherwise be
    silently absorbed (its removed rows resurrected by the packed bins).
    Being row-invariant, OPTIMIZE auto-rebases over concurrent APPENDS
    (they commute — guard_where=None) and conflicts only on file-level
    overlap or an overwrite.

    CLUSTERING-AWARE when the log records clustering keys (zorder()
    records its `by` list — Delta's liquid-clustering pattern): instead
    of first-fit packing in log order, which would interleave unrelated
    key ranges and wreck the very per-file stats the clustering bought,
    the small files are rewritten ALONG the recorded curve
    (_stage_zordered over exactly the sub-threshold files) — streaming
    dribble gets folded back into the clustered layout at compaction's
    own O(small bytes) cost, no separate recluster pass.  The summary
    then carries `clustered_by`.

    `partition_by` keeps bins PARTITION-ALIGNED: small files are
    grouped by their exact per-file partition values (the `[v, v]`
    stats write(partition_by=...) records) before packing, bins never
    span partitions, packed outputs are staged back under the hive
    layout with the partition columns force-included in `stats_cols` —
    so compaction preserves the exact stats that make partition pruning
    and whole-partition drops metadata-only.  A partition with a single
    small file is left alone (nothing to pack with).

    `where` (Delta's OPTIMIZE ... WHERE) scopes compaction to the files
    whose stats ADMIT matching rows — the hot-partition maintenance
    idiom at 100 TB: compact today's dribble without touching the cold
    tail.  Scope is decided by the same skipping algebra as scan()
    (`_file_survives`), and since OPTIMIZE rewrites whole files and
    never filters rows, any file subset is row-invariant-safe; a file
    with no stats conservatively stays IN scope (it might hold matching
    rows, and over-compacting is harmless)."""
    read_version, state = _head(path)
    entries, schema, dvs, colmap = state.entries, state.schema, state.dvs, state.colmap
    if where:
        _check_where(where, "optimize")
        pw = _phys_where(where, colmap)
        entries = [(f, st) for f, st in entries if _file_survives(st, pw)]
    if partition_by is None:
        # the layout comes from the log, like every other rewrite path
        # (review r10): an operator calling bare optimize() on a
        # partitioned table must not pack bins across partitions or
        # stage stats-less mixed-value files
        partition_by = state.partition_by
    phys_parts = (
        [colmap.get(c, c) for c in partition_by] if partition_by else None
    )
    by_stats = dict(entries)
    groups: dict[tuple, list[tuple[str, int]]] = {}
    for rel, _st in entries:
        sz = os.path.getsize(os.path.join(path, rel))
        if sz >= small_bytes:
            continue
        key = (
            tuple(_exact_stat_value(by_stats[rel], c) for c in phys_parts)
            if phys_parts
            else ()
        )
        groups.setdefault(key, []).append((rel, sz))
    # singleton groups have nothing to pack with — leave them alone
    groups = {k: g for k, g in groups.items() if len(g) >= 2}
    if not groups:
        return None
    cluster_by = state.cluster_by
    if (
        cluster_by
        and schema is not None
        and set(cluster_by) <= {f["name"] for f in schema["fields"]}
        and not set(cluster_by) & set(partition_by or ())
    ):
        small = [fs for g in groups.values() for fs in g]
        rels = [r for r, _sz in small]
        total = sum(sz for _r, sz in small)
        df = _read_files_dv(spark, path, rels, schema, dvs, colmap=colmap)
        rows_est = _rows_estimate(df, by_stats, rels)
        n_out = max(1, -(-total // target_bytes))
        # bucket count sized to the recorded key width: 16 buckets (4
        # bits) per column up to the 63-bit Morton budget — a wide key
        # list recorded by a coarse-bucketed zorder() must not overflow
        # here (review r10: Java masks shifts mod 64, silent garbage)
        zbuckets = 1 << max(1, min(4, 63 // len(cluster_by)))
        added, stats = _stage_zordered(
            spark, path, df, cluster_by, zbuckets, n_out, colmap,
            partition_by, rows_est, [*(stats_cols or []), *cluster_by], bloom_cols,
        )
        version = _commit_serializable(
            path, added, rels, read_version,
            None,  # row-invariant: concurrent appends commute
            stats=stats,
            data_change=False,
            constraint_sensitive=False,
        )
        return {
            "version": version,
            "n_small": len(rels),
            "n_bins": len(added),
            "clustered_by": list(cluster_by),
            "added": added,
        }
    bins: list[list[str]] = []
    small: list[tuple[str, int]] = []
    for key in sorted(groups, key=lambda k: tuple(map(repr, k))):
        small.extend(groups[key])
        cur: list[str] = []
        cur_sz = 0
        for rel, sz in groups[key]:  # commit-log order: deterministic packing
            if cur and cur_sz + sz > target_bytes:
                bins.append(cur)
                cur, cur_sz = [], 0
            cur.append(rel)
            cur_sz += sz
        bins.append(cur)
    added: list[str] = []
    stats: dict[str, dict] = {}
    for b in bins:
        packed = _read_files_dv(
            spark, path, b, schema, dvs, colmap=colmap
        ).coalesce(1)
        rels, bin_stats = _stage_logical(
            packed, path, colmap, partition_by, stats_cols, bloom_cols
        )
        added.extend(rels)
        stats.update(bin_stats or {})
    version = _commit_serializable(
        path,
        added,
        [r for r, _ in small],
        read_version,
        None,  # row-invariant: concurrent appends commute
        stats=stats or None,
        data_change=False,  # a compaction rewrites, it changes nothing
        constraint_sensitive=False,  # row-invariant: no new rows to check
    )
    return {
        "version": version,
        "n_small": len(small),
        "n_bins": len(bins),
        "added": added,
    }


# How many rows zorder() samples (per clustering rewrite, total across
# all `by` columns) to derive the per-column range-bucket boundaries —
# the same reservoir-sampling design Spark's own RangePartitioner uses.
ZORDER_SAMPLE_ROWS = 4096


def zorder(
    spark: SparkSession,
    path: str,
    by: list[str],
    target_bytes: int = 128 * 1024 * 1024,
    where: list[tuple] | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    buckets: int = 16,
    n_files: int | None = None,
) -> dict | None:
    """OPTIMIZE ... ZORDER BY (Delta's multi-dimensional clustering):
    rewrite the live files in scope with rows ordered along a Z-curve
    (Morton code) over the `by` columns, so every output file's footer
    min/max covers a small RECTANGLE of the key space instead of a
    stripe — and `prune()`/`scan()` skip files on predicates over ANY
    of the `by` columns, not just a single leading sort key.  This is
    the 100 TB second-key lever: linear clustering makes one column
    skippable; Z-ordering makes k columns ~k-th-root skippable each,
    from the SAME per-file stats machinery with zero new read logic.

    Mechanics (all public DataFrame API, JVM-side end to end):

    1. Per `by` column, derive `buckets` range-bucket boundaries from a
       bounded reservoir sample (ZORDER_SAMPLE_ROWS rows total — the
       design of Spark's own RangePartitioner, and of Delta's
       `range_partition_id` expression).  Quantile buckets, so skewed
       columns still spread across the curve; NULLs cluster in bucket 0
       (they stay skippable via null-count stats).
    2. Per row, bucket ids -> one integer Z-value by bit interleaving
       (a pure integer expression — whole-stage codegen, no UDF).
    3. `repartitionByRange` on the Z-value (range partitioner: output
       files are contiguous Z-ranges = aligned rectangles), sort within
       partitions, stage one file per range.  On a hive-partitioned
       table the range key is (partition cols, Z), so clustering nests
       inside partitions and the staged layout stays partition-aligned.
    4. One atomic row-invariant commit: removed = the files read,
       added = the clustered files, `data_change=False` (the change
       feed skips it, AS-OF before it still plans the originals), with
       min/max stats force-collected on the `by` columns — the stats
       ARE the product.

    `where` scopes the rewrite: only files whose stats say they may
    hold matching rows are reclustered (whole files — content is
    invariant), so fresh partitions can be Z-ordered incrementally
    without re-paying for cold data (Delta's `OPTIMIZE ... WHERE`).
    Deletion vectors are applied (and retired) by the rewrite, like
    optimize().  Unlike bin-packing optimize(), the cost is O(scope) —
    that is inherent to reclustering (every row moves), which is why
    `where`-scoping exists.

    Concurrency: row-invariant, so it auto-rebases over concurrent
    appends (guard_where=None — they commute; the new files simply
    aren't clustered yet) and conflicts only on file-level overlap or
    an overwrite, exactly like optimize().

    Returns None (no commit) when fewer than two files are in scope;
    otherwise a summary dict.  Cites Delta's OPTIMIZE ZORDER BY design
    (interleaved range-bucket ids); the reference engine
    (/root/reference/tinymr.py) has no storage layer — this extends
    the lakehouse surface that replaces its in-memory dicts."""
    if not by or len(set(by)) != len(by):
        raise ValueError("zorder needs a non-empty list of distinct columns")
    if not 2 <= buckets <= 4096:
        raise ValueError("zorder buckets must be in [2, 4096]")
    bits = (buckets - 1).bit_length()
    if bits * len(by) > 63:
        raise ValueError(
            f"zorder key too wide: {len(by)} columns x {bits} bits "
            "per column must fit in 63 bits"
        )
    read_version, state = _head(path)
    entries, schema, dvs, colmap = state.entries, state.schema, state.dvs, state.colmap
    partition_by = state.partition_by
    overlap = set(by) & set(partition_by or ())
    if overlap:
        # a partition column is constant per file already — Z-ordering
        # by it buys nothing and silently wastes curve bits (Delta
        # raises here too)
        raise ValueError(f"cannot zorder by partition column(s) {sorted(overlap)}")
    if schema is not None:
        known = {f["name"] for f in schema["fields"]}
        missing = sorted(set(by) - known)
        if missing:
            raise ValueError(f"zorder column(s) {missing} not in table schema")
    if where is not None:
        _check_where(where, "zorder scope")
        pw = _phys_where(where, colmap)
        scope = [rel for rel, st in entries if _file_survives(st, pw)]
    else:
        scope = [rel for rel, _st in entries]
    if len(scope) < 2:
        return None
    df = _read_files_dv(spark, path, scope, schema, dvs, colmap=colmap)
    # Per-file row counts ride the stats (r9) — estimate the sample
    # fraction from metadata when available, one count() job otherwise.
    by_stats = dict(entries)
    rows_est = _rows_estimate(df, by_stats, scope)
    scope_bytes = sum(os.path.getsize(os.path.join(path, r)) for r in scope)
    n_out = n_files or max(1, -(-scope_bytes // target_bytes))
    # -- stats on the by-columns are the product; commit row-invariant,
    # RECORDING the clustering keys so OPTIMIZE keeps maintaining them.
    added, stats = _stage_zordered(
        spark, path, df, by, buckets, n_out, colmap, partition_by, rows_est,
        [*(stats_cols or []), *by], bloom_cols,
    )
    version = _commit_serializable(
        path,
        added,
        list(scope),
        read_version,
        None,  # row-invariant: concurrent appends commute
        stats=stats,
        data_change=False,
        constraint_sensitive=False,
        cluster_by=list(by),
    )
    return {
        "version": version,
        "n_in": len(scope),
        "n_out": len(added),
        "by": list(by),
    }


class FileChange(NamedTuple):
    """One file's share of one commit's row changes: the unit
    `_commit_changes` decodes and every change reader translates
    (change_feed into DataFrame reads, changes() into one insert scan,
    the stream source into one executor partition each).

    * `file` — the table-relative data or change-data file; None marks a
      REFUSAL, whose `refusal` message the reader raises;
    * `kind` — `insert` (every row of the file), `delete` (the rows the
      commit removed from it, narrowed by the fields below) or `cdf` (a
      staged change-data file whose rows carry their own
      `_change_type`);
    * `prev_dv` — the file's deletion vector BEFORE the commit: rows it
      holds were deleted earlier and are never deleted again;
    * `new_dv` — a DV delete's vector for the file: only the rows it
      marks are deleted (the DV diff against `prev_dv`);
    * `predicate` — a predicate delete's recorded conjunction (PHYSICAL
      column names, rename-proof): only matching rows were deleted;
    * `defaults` — a predicate delete's {physical column: existence
      default} of its era, the constants its own filter served on files
      that predate a column."""

    file: str | None
    kind: str
    prev_dv: str | None = None
    new_dv: str | None = None
    predicate: list | None = None
    defaults: dict | None = None
    refusal: str | None = None


def _commit_changes(
    prev: _State, v: int, rec: dict, row_level: bool
) -> list[FileChange]:
    """THE change decoder: the files whose rows commit `v` (record
    `rec`, folded onto `prev` — the state AS OF v-1) inserted or
    deleted, in a deterministic order that a stream's partial offset
    counts into.  Pure.  `row_level=False` is the APPEND-ONLY contract
    (changes(), an append-mode stream), True the ROW-LEVEL one
    (change_feed, a mode=cdf stream).

    * reorganizations and metadata commits (`data_change: false`) and a
      merge that swapped no files changed no rows: no changes;
    * an `append`: its added files are inserts;
    * row-level only — a `dv` delete: each whole-dropped file (in
      `removed` order), then each file with a new vector (sorted; a
      MATERIALIZED file sits in both lists and its deletes are the DV
      diff); a merge with change data: its `cdf` files (they win over a
      recorded predicate); a predicate delete: each removed file under
      the predicate.

    Everything else is REFUSED, never answered with a wrong feed — one
    FileChange without a file that carries the rule's message:

    1. an overwrite, under the row-level contract: no row-level feed
       exists across it;
    2. a merge with neither a recorded predicate nor change data, under
       the row-level contract;
    3. any rewrite under the append-only contract: its added files
       carry pre-existing rows."""
    action = rec["action"]
    if rec.get("data_change") is False:
        return []
    if action == "append":
        return [FileChange(f, "insert") for f in rec["added"]]
    if action == "merge" and not (
        rec.get("added") or rec.get("removed") or rec.get("cdf")
    ):
        return []  # e.g. every match failed update_where
    if not row_level:
        msg = (
            f"minitable version {v} is a {action} commit — an append-only "
            "feed (changes(), or an append-mode stream over rewritten "
            "files) would replay pre-existing rows; read it with "
            "change_feed() or a mode=cdf stream, or restart the stream "
            "from a fresh checkpoint"
        )
    elif action == "overwrite":
        msg = (
            f"minitable version {v} is an overwrite — no row-level change "
            "feed exists across it; use a snapshot diff, or restart the "
            "CDC stream from a fresh checkpoint (the new subscription "
            "snapshots the current table)"
        )
    elif action == "dv":
        dv_map = rec.get("dv") or {}
        whole = [f for f in rec.get("removed", ()) if f not in dv_map]
        return [FileChange(f, "delete", prev.dvs.get(f)) for f in whole] + [
            FileChange(f, "delete", prev.dvs.get(f), dv_map[f])
            for f in sorted(dv_map)
        ]
    elif rec.get("cdf") is not None:
        return [FileChange(f, "cdf") for f in rec["cdf"]]
    elif rec.get("predicate") is not None:
        defaults = {
            prev.colmap.get(c, c): d for c, d in _default_map(prev.schema).items()
        }
        return [
            FileChange(
                f, "delete", prev.dvs.get(f),
                predicate=rec["predicate"], defaults=defaults,
            )
            for f in rec.get("removed", ())
        ]
    else:
        msg = (
            f"minitable version {v} is a {action} with neither a recorded "
            "predicate nor change data — no row-level change feed exists "
            "for it; run the writer with collect_cdf=True "
            "(merge/update/replace_where), or use a snapshot diff"
        )
    return [FileChange(None, "refused", refusal=msg)]


def _feed_steps(
    path: str, lo: int, hi: int, vs: list[int], row_level: bool
) -> tuple[list[tuple[int, list[FileChange]]], _State]:
    """Decode the commits in (lo, hi] in one forward fold from the
    state AS OF lo (T_lo + (hi - lo) record opens): each commit's
    changes plus the state AS OF hi.  Raises the first refusal."""
    state = _replay(path, lo) if lo >= 0 else _State.empty()
    steps = []
    for v in vs:
        if lo < v <= hi:
            rec = _record(path, v)
            found = _commit_changes(state, v, rec, row_level)
            for c in found:
                if c.file is None:
                    raise ValueError(c.refusal)
            steps.append((v, found))
            state = _apply(state, rec)
    return steps, state


def change_feed(
    spark: SparkSession,
    path: str,
    from_version: int | None = None,
    to_version: int | None = None,
    *,
    from_timestamp: float | None = None,
    to_timestamp: float | None = None,
) -> DataFrame:
    """ROW-LEVEL CHANGE DATA FEED: the rows committed in versions
    (from_version, to_version], typed as the table's columns plus
    `_change_type` (insert / delete / update_preimage /
    update_postimage) and `_commit_version` — Delta's CDF contract.

    Each commit is decoded by `_commit_changes` under the row-level
    contract, and each (commit, kind) becomes one DataFrame read:
    inserts scan the appended files (O(delta)); deletes re-read the
    removed files minus rows an earlier deletion vector held, narrowed
    to the recorded predicate or to the rows a new vector marks (no
    change data was ever written for them); change-data files carry
    their own `_change_type` rows.  The decoder's refusals (an overwrite
    in range, a merge with neither predicate nor change data) raise.

    Reading a delete's removed files requires them un-vacuumed —
    vacuum's retention bound is also the feed's horizon (Delta's CDF
    retention).  Schema evolution composes: pieces union by name, so
    pre-evolution changes serve NULL for later columns.

    TIMESTAMP bounds (Delta's table_changes startingTimestamp /
    endingTimestamp, keyword-only, each mutually exclusive with its
    version twin): `from_timestamp` includes every commit whose
    effective time (_effective_commit_ts: recorded `ts`, else record
    mtime) is AT OR AFTER it — a timestamp after the last commit raises
    loudly, like Delta; `to_timestamp` resolves to the newest commit at
    or before it (version_at_timestamp's exact rule)."""
    from pyspark.sql import functions as F

    vs = versions(path)
    if (from_version is None) == (from_timestamp is None):
        raise ValueError(
            "change_feed() needs exactly one of from_version / from_timestamp"
        )
    if (to_version is None) == (to_timestamp is None):
        raise ValueError(
            "change_feed() needs exactly one of to_version / to_timestamp"
        )
    # caller-supplied VERSION bounds validate against the log BEFORE
    # timestamp resolution can introduce the internal -1 sentinel — a
    # user's from_version=-1 stays the loud error it always was
    # (review r12; only from_timestamp can mean "before v0")
    for bound in (from_version, to_version):
        if bound is not None and bound not in vs:
            raise ValueError(f"minitable {path} has no version {bound} (log: {vs})")
    if from_timestamp is not None:
        first = version_at_or_after_timestamp(path, from_timestamp, vs)
        if first is None:
            raise ValueError(
                f"minitable {path} has no commit at or after timestamp "
                f"{from_timestamp}"
            )
        # the range is (from, to]: starting one BELOW the first
        # qualifying commit includes it (the stream's startingTimestamp
        # rule, commit at-or-after)
        from_version = first - 1
    if to_timestamp is not None:
        to_version = version_at_timestamp(path, to_timestamp)
    if to_version <= from_version:
        raise ValueError("change_feed() needs from_version < to_version")
    steps, state = _feed_steps(path, from_version, to_version, vs, row_level=True)
    # every piece is typed by the to_version schema / colmap.  Data and
    # change files carry PHYSICAL names and predicates are recorded
    # physical, so deletes filter the physical view, then alias
    schema, colmap = state.schema, state.colmap
    phys_schema = (
        _physical_schema(schema, colmap) if (schema and colmap) else schema
    )

    def _to_logical(df: DataFrame) -> DataFrame:
        if not (schema and colmap):
            return df
        return df.select(
            *[
                F.col(colmap.get(f["name"], f["name"])).alias(f["name"])
                for f in schema["fields"]
            ]
        )

    def _tagged(df: DataFrame, v: int, change_type: str | None) -> DataFrame:
        if change_type is not None:
            df = df.withColumn("_change_type", F.lit(change_type))
        return df.withColumn("_commit_version", F.lit(v).cast("int"))

    def _abs(rels) -> list[str]:
        return [os.path.join(path, r) for r in rels]

    pieces: list[DataFrame] = []
    for v, found in steps:
        inserts = [c.file for c in found if c.kind == "insert"]
        cdf = [c.file for c in found if c.kind == "cdf"]
        gone = [c for c in found if c.kind == "delete" and c.new_dv is None]
        marked = [c for c in found if c.new_dv is not None]
        if inserts:
            pieces.append(
                _tagged(_read_files(spark, _abs(inserts), schema, colmap), v, "insert")
            )
        if cdf:
            # typed by the log schema + _change_type: an evolved column
            # absent from an older commit's change files resolves as
            # NULL (and mapped tables resolve their physical names)
            # instead of failing analysis
            if schema is not None:
                change_field = {
                    "name": "_change_type", "type": "string",
                    "nullable": True, "metadata": {},
                }
                cdf_schema = {**schema, "fields": [*schema["fields"], change_field]}
                cdf_df = _read_files(spark, _abs(cdf), cdf_schema, colmap)
            else:
                cdf_df = spark.read.parquet(*_abs(cdf))
            pieces.append(_tagged(cdf_df, v, None))
        if gone:
            # whole-file and predicate deletes: the removed files' rows
            # the previous vectors still served, under the predicate
            df = _read_files_dv(
                spark, path, [c.file for c in gone], phys_schema,
                {c.file: c.prev_dv for c in gone if c.prev_dv},
            )
            if gone[0].predicate is not None:
                df = df.where(
                    F.coalesce(_where_cond(gone[0].predicate), F.lit(False))
                )
            pieces.append(_tagged(_to_logical(df), v, "delete"))
        if marked:
            # the DV DIFF: rows the new vectors mark beyond the previous
            # ones, re-read from the base files by row position —
            # O(touched files + marked rows)
            basenames = [c.file.rsplit("/", 1)[-1] for c in marked]
            new_rows = spark.read.parquet(
                *_abs(sorted({c.new_dv for c in marked}))
            ).where(F.col("fname").isin(basenames))
            old_dvs = sorted({c.prev_dv for c in marked if c.prev_dv})
            if old_dvs:
                new_rows = new_rows.exceptAll(
                    spark.read.parquet(*_abs(old_dvs)).where(
                        F.col("fname").isin(basenames)
                    )
                )
            base = _read_files(spark, _abs(c.file for c in marked), schema, colmap)
            fname = F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
            pieces.append(
                _tagged(
                    base.withColumn("__fname", fname)
                    .withColumn("__ri", F.col("_metadata.row_index"))
                    .join(
                        F.broadcast(
                            new_rows.select(
                                F.col("fname").alias("__fname"),
                                F.col("row_index").alias("__ri"),
                            )
                        ),
                        ["__fname", "__ri"],
                        "left_semi",
                    )
                    .select(*base.columns),
                    v,
                    "delete",
                )
            )
    if not pieces:
        return (
            read(spark, path, to_version)
            .limit(0)
            .withColumn("_change_type", F.lit(""))
            .withColumn("_commit_version", F.lit(0).cast("int"))
        )
    out = pieces[0]
    for piece in pieces[1:]:
        out = out.unionByName(piece, allowMissingColumns=True)
    return out


def changes(
    spark: SparkSession, path: str, from_version: int, to_version: int
) -> DataFrame:
    """APPEND-ONLY CHANGE FEED: the rows inserted in versions
    (from_version, to_version] — the inserts `_commit_changes` decodes
    under the append-only contract, read as one plain parquet scan of
    exactly the appended files (no diffing join, no full-table read).
    A rewrite in range raises the decoder's append-only refusal;
    change_feed() serves the row-level feed across deletes and
    merges."""
    vs = versions(path)
    for bound in (from_version, to_version):
        if bound not in vs:
            raise ValueError(f"minitable {path} has no version {bound} (log: {vs})")
    if to_version <= from_version:
        raise ValueError("changes() needs from_version < to_version")
    steps, state = _feed_steps(path, from_version, to_version, vs, row_level=False)
    added = [c.file for _v, found in steps for c in found]
    entries, schema, colmap = state.entries, state.schema, state.colmap
    if not added:
        # A quiet period (empty append commits) is a legitimate EMPTY
        # delta, not an error — a polling CDF consumer must get an empty
        # feed (Delta's behavior), typed like the table itself.
        if not entries:
            raise ValueError(
                f"minitable {path} is empty at version {to_version} — "
                "no schema to type an empty change feed"
            )
        return _read_files_dv(
            spark, path, [f for f, _st in entries], schema, {}, colmap=colmap
        ).limit(0)
    return _read_files(
        spark, [os.path.join(path, f) for f in added], schema, colmap
    )


def restore(path: str, to_version: int) -> int:
    """RESTORE TABLE ... TO VERSION (Delta's rollback verb): commit a
    new OVERWRITE whose file list IS the old version's — a pure
    commit-log operation that moves ZERO data bytes (part files are
    immutable and never deleted by commits, so the old snapshot's files
    are still on disk; only vacuum can invalidate a restore target).
    History stays intact: the bad versions remain readable AS-OF, the
    restore is itself a new version (auditable, and itself restorable —
    restoring a restore round-trips).  The restored commit re-records
    the old version's schema, so a rollback across an ADD COLUMN also
    rolls the schema timeline back.  Returns the new version number."""
    head = versions(path)[-1]
    state = _replay(path, to_version)  # raises on unknown version
    entries, dvs = state.entries, state.dvs
    if not entries:
        raise ValueError(f"minitable {path} is empty at version {to_version}")
    missing = [
        f
        for f in [r for r, _st in entries] + sorted(set(dvs.values()))
        if not os.path.exists(os.path.join(path, f))
    ]
    if missing:
        raise ValueError(
            f"cannot restore {path} to version {to_version}: {len(missing)} "
            f"of its files were vacuumed (e.g. {missing[0]!r})"
        )
    stats = {f: st for f, st in entries if st is not None}
    # Claim exactly head+1: a commit racing in after the head read must
    # surface as CommitConflict (the operator re-decides against the new
    # head), never be silently erased by the rollback overwrite.  The
    # schema is recorded even when None — an EXPLICIT null resets the
    # evolution timeline, so a rollback past the first schema record
    # doesn't fall through to a later one.
    return commit(
        path,
        "overwrite",
        [f for f, _st in entries],
        stats=stats or None,
        schema=state.schema,
        record_null_schema=state.schema is None,
        expected_version=head + 1,
        dv=dvs or None,
        constraints=state.constraints,  # {} is an explicit reset, like schema
        colmap=state.colmap,  # {} is an explicit reset too (pre-mapping era)
        # the rollback overwrite must re-record the TARGET era's layout:
        # a bare overwrite record would reset table_partition_by to None
        # and every later DML rewrite would silently drop the hive
        # layout (review r10)
        partition_by=state.partition_by,
        cluster_by=state.cluster_by or [],
        # identity allocation rolls back with the data: post-rollback
        # writes continue from the era's marks ({} = explicit reset)
        identity_hwm=state.identity_hwm,
    )


def clone(src: str, dst: str, version: int | None = None) -> int:
    """SHALLOW CLONE (Delta's zero-copy table fork): commit v0 of `dst`
    referencing `src`'s live files — AS OF `version` — by ABSOLUTE path.
    No data moves; the clone costs one commit record.  From then on the
    tables diverge copy-on-write: DML on the clone stages ITS OWN files
    (a rewrite of a borrowed file swaps the absolute ref out for a local
    one; OPTIMIZE on the clone un-shares by materializing borrowed bytes
    locally), and the source never sees any of it.  Schema, CHECK
    constraints, and deletion vectors are carried at their AS-OF state.

    The shared-storage caveat is Delta's own: `vacuum` on the SOURCE can
    delete files the clone still references (the clone's own vacuum
    walks only its own directory and can never touch borrowed files) —
    retention policy on a cloned-from table must outlive its clones."""
    state = _replay(src, version)
    entries = state.entries
    if not entries:
        raise ValueError(f"minitable {src} is empty at version {version}")
    if versions(dst):
        raise ValueError(f"clone target {dst} already has commits — it must be new")

    def _abs(rel_or_abs: str) -> str:
        return rel_or_abs if os.path.isabs(rel_or_abs) else os.path.join(src, rel_or_abs)

    added = [_abs(f) for f, _st in entries]
    stats = {_abs(f): st for f, st in entries if st is not None}
    dv = {_abs(f): _abs(d) for f, d in state.dvs.items()}
    return commit(
        dst,
        "overwrite",
        added,
        stats=stats or None,
        schema=state.schema,
        record_null_schema=state.schema is None,
        dv=dv or None,
        constraints=state.constraints,
        colmap=state.colmap,  # the clone starts at the source's mapping state
        # carry the source's AS-OF partition layout: without it the
        # clone's v0 overwrite record resets table_partition_by and the
        # clone's copy-on-write DML would destroy its layout (review r10)
        partition_by=state.partition_by,
        cluster_by=state.cluster_by or [],
        # the clone's id allocation continues from the source's AS-OF
        # marks — diverging tables can hand out the same ids to their
        # own rows (they are independent tables), but the clone's first
        # append must not collide with rows it borrowed
        identity_hwm=state.identity_hwm,
    )


def vacuum(
    path: str,
    retain_from_version: int | None = None,
    orphan_grace_seconds: float = 3600.0,
    dry_run: bool = False,
    retain_hours: float | None = None,
) -> list[str]:
    """Delete part files unreferenced by EVERY version >=
    `retain_from_version`; versions before it become unreadable (their
    log records remain for audit).  Returns the deleted files.  This is
    the only operation that destroys history — explicit by design.

    Concurrency: a file referenced by NO commit record is either a crash
    orphan or an IN-FLIGHT write staged ahead of its commit (the
    write-before-commit ordering barrier; a CommitConflict loser's staged
    files must stay valid for its retry).  Vacuum cannot tell the two
    apart by name, so it only deletes never-referenced files older than
    `orphan_grace_seconds` (Delta's vacuum retention window, mtime-based)
    — superseded files that some commit DID reference carry no such risk
    and are deleted regardless of age (ADVICE r7).

    `retain_hours` (Delta's `VACUUM ... RETAIN n HOURS`, mutually
    exclusive with `retain_from_version`): resolves the version horizon
    from wall clock — every version whose effective commit time is
    within the last n hours stays readable, plus the newest one at or
    before the cutoff (it IS the live snapshot of that moment; Delta's
    rule that vacuum can never drop current-snapshot files extends to
    the whole retained window)."""
    import time

    vs = versions(path)
    if (retain_from_version is None) == (retain_hours is None):
        raise ValueError(
            "vacuum() needs exactly one of retain_from_version / retain_hours"
        )
    if retain_hours is not None:
        if retain_hours < 0:
            raise ValueError("retain_hours must be >= 0")
        cutoff_ts = time.time() - retain_hours * 3600.0
        # newest version at or before the cutoff: the snapshot a reader
        # at the window edge sees — it must stay intact
        retain_from_version = vs[0] if vs else None
        for v in vs:
            if _effective_commit_ts(path, v) <= cutoff_ts:
                retain_from_version = v
    if retain_from_version not in vs:
        # A typo'd bound above the head would retain NOTHING and delete
        # every data file including the live version's — refuse instead
        # (Delta's vacuum can never drop current-snapshot files).
        raise ValueError(
            f"retain_from_version {retain_from_version} is not a committed "
            f"version of {path} (log: {vs}) — refusing a vacuum that could "
            "drop the live snapshot"
        )
    keep: set[str] = set()
    ever_referenced: set[str] = set()
    state = _replay(path, retain_from_version)
    for v in vs:
        rec = _record(path, v)
        if v > retain_from_version:
            state = _apply(state, rec)  # one forward fold over the window
        if v >= retain_from_version:
            # every retained snapshot's live files AND live DELETION
            # VECTORS (part of the snapshot's read path)
            keep.update(f for f, _st in state.entries)
            keep.update(state.dvs.values())
        ever_referenced.update(rec["added"])
        ever_referenced.update(rec.get("cdf", ()))
        ever_referenced.update((rec.get("dv") or {}).values())
        if v >= retain_from_version:
            # retained versions keep their change-data files too, so the
            # feed over the retained range stays queryable — including a
            # dv commit's sidecar even when EVERY mapped file was
            # materialized in the same commit (the replayed live-DV map
            # then no longer references it, but the feed's DV-diff
            # reconstruction for this version still reads it)
            keep.update(rec.get("cdf", ()))
            keep.update((rec.get("dv") or {}).values())
    cutoff = time.time() - orphan_grace_seconds
    deleted = []
    for root, _dirs, files in os.walk(path):
        if os.path.basename(root) == "_log":
            continue
        for f in files:
            full = os.path.join(root, f)
            rel = os.path.relpath(full, path)
            if not rel.endswith(".parquet") or rel in keep:
                continue
            if rel not in ever_referenced and os.path.getmtime(full) >= cutoff:
                continue  # possibly a concurrent writer's staged files
            if not dry_run:
                os.remove(full)
            deleted.append(rel)
    return deleted
