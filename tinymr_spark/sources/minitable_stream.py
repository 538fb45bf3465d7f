"""Streaming SOURCE over a minitable's commit log — the "table as a
stream" face of the lakehouse primitive (Delta's streaming source
semantics), the read-side complement of q163's streaming ingest sink.

WHAT A BATCH HOLDS.  A micro-batch (start, end] streams the changes
`minitable._commit_changes` decodes for the commits in that range —
the one decoder batch `change_feed()` and `changes()` read too, so a
stream and a batch feed cannot disagree on which rows a commit inserted
or deleted, nor on which commits they refuse.  The default APPEND mode
streams the append-only contract: appended rows, plain.
`option("mode", "cdf")` (Delta's streaming readChangeFeed) streams the
row-level contract with `_change_type` and `_commit_version` columns:
appends as inserts, staged change-data files verbatim, and predicate /
DV deletes RECONSTRUCTED executor-side — the removed file re-read under
the recorded predicate, or by row position under the new vector, minus
rows an earlier vector held.  Reorganizations and no-op merges stream
nothing.  A commit the decoder refuses fails its batch with the
decoder's message (append mode: any rewrite; CDC mode: an overwrite,
or a merge with neither a predicate nor change data), so a pipeline is
never silently wrong.

OFFSETS are file-granular log positions.  `{"v": N}` means commit N is
fully consumed; under admission control `{"v": N, "f": K}` also
consumes the first K planned changes of commit N (Delta's file-granular
offsets; a refusal is one slot), so an oversized commit splits across
micro-batches.  The INITIAL batch (start offset -1) is the table's
SNAPSHOT at the batch's end version (Delta's startingVersion semantics;
inserts in CDC mode): a table initialized by an overwrite, or holding
pre-subscription rewrites, streams its current rows once and then goes
incremental.  A budgeted snapshot splits too, pinned at one version:
`{"v": -1, "snap": H, "f": K}` is the snapshot-at-H with its first K
files consumed (completion normalizes to `{"v": H}`).  Every planned
range is a pure function of the immutable log, so checkpoint replay
purity holds across all shapes.

SCALE SPLIT (the q136 rework's lesson, pydatasource.py:144): the driver
keeps offsets and one forward `_apply` fold over the log — started from
one `_replay`, then each record opened once per reader — and maps a
range to one InputPartition per planned file.  Executors read their file
directly with pyarrow, row selection vectorized with pyarrow.compute:
no joins and no table byte through the driver.  Restart recovery needs
no reader state: partitions/read are pure functions of the committed
offsets and the immutable log (tests/test_sources_sinks.py pins replay
purity and restart-streams-only-the-delta).

The reference has no streams and no I/O; this is SURVEY §2.3/§2.4
beyond-reference surface.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

_ARROW_DDL = {
    # values are Spark jsonValue type names (also valid DDL aliases),
    # so legacy-footer types parse through the same _pa_type mapping
    "int8": "byte",
    "int16": "short",
    "int32": "integer",
    "int64": "long",
    "float": "float",
    "double": "double",
    "bool": "boolean",
    "string": "string",
    "large_string": "string",
    "date32[day]": "date",
}


def _table_col_types(path: str, cols: list[str], log_schema: dict | None) -> list[str]:
    """Planning-time column types (DDL strings, one per requested
    column): from the LOG's schema record when one exists (the
    authoritative evolution timeline — an evolved column is typed
    correctly even though the FIRST live file predates it), else from
    the first live file's parquet footer (legacy logs; metadata-only,
    like a parquet scan's inference).  Timestamps map to microsecond
    `timestamp` regardless of storage unit — Spark's own parquet
    reader semantics."""
    from tinymr_spark.sources import minitable

    if log_schema is not None:
        types = {f["name"]: f["type"] for f in log_schema["fields"]}
        out = []
        for c in cols:
            if c not in types:
                raise ValueError(
                    f"column {c!r} not in minitable schema {sorted(types)}"
                )
            t = types[c]
            if not isinstance(t, str):
                raise ValueError(f"unsupported stream column type {t!r} for {c!r}")
            out.append(t)
        return out
    import pyarrow.parquet as pq

    files = minitable.snapshot(path)
    if not files:
        raise ValueError(f"minitable {path} is empty — no schema to stream")
    schema = pq.ParquetFile(files[0]).schema_arrow
    out = []
    for c in cols:
        if c not in schema.names:
            raise ValueError(f"column {c!r} not in minitable schema {schema.names}")
        t = str(schema.field(c).type)
        if t.startswith("timestamp"):
            ddl = "timestamp"
        else:
            ddl = _ARROW_DDL.get(t)
        if ddl is None:
            raise ValueError(f"unsupported stream column type {t!r} for {c!r}")
        out.append(ddl)
    return out


def _table_ddl(path: str, cols: list[str]) -> str:
    from tinymr_spark.sources import minitable

    types = _table_col_types(path, cols, minitable.table_schema(path))
    return ", ".join(f"{c} {t}" for c, t in zip(cols, types))


def _pa_type(ddl: str):
    """Type string (the log schema's jsonValue form) -> pyarrow type
    for the Arrow-batch read path, via Spark's OWN mapping
    (to_arrow_type, timestamp_utc default — the exact conversion the
    worker applies to tuple rows, so the two paths can never drift);
    None for anything unparseable, which falls back to tuple rows."""
    import json

    try:
        from pyspark.sql.pandas.types import to_arrow_type
        from pyspark.sql.types import _parse_datatype_json_string

        return to_arrow_type(_parse_datatype_json_string(json.dumps(ddl)))
    except Exception:
        return None


def _predicate_mask(batch, where: list, read_cols: list[str], defaults: dict | None = None):
    """Evaluate a recorded where-conjunction over one arrow batch,
    vectorized with pyarrow.compute, under the SAME SQL three-valued
    semantics as minitable._where_cond (the delete's own filter): a NULL
    term makes the conjunction NULL, i.e. not matched — and_kleene +
    final fill_null(False).  A predicate column the file predates reads
    as all-NULL (the log-schema read serves NULL there too) — unless
    `defaults` (physical-keyed, AS OF the delete's commit) carries a
    COLUMN DEFAULT for it, in which case every row serves that constant,
    exactly as the delete's own batch read did.

    Returns an arrow BooleanArray aligned to the batch's rows (no
    per-row Python boxing — the arrow read path filters with it
    directly; the tuple fallback to_pylist()s it).

    Ops mirror minitable._OPS exactly: < <= > >= = in is_null
    is_not_null; a type the comparison cannot promote raises loudly —
    never a silently-wrong feed."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = batch.num_rows
    mask = None
    for col, op, val in where:
        if col not in read_cols and defaults and defaults.get(col) is not None:
            # the file predates this column but the era served a
            # DEFAULT: the term is one constant for the whole file
            d = defaults[col]
            if op == "is_null":
                res = False
            elif op == "is_not_null":
                res = True
            elif op == "in":
                res = d in list(val)
            elif op == "<":
                res = d < val
            elif op == "<=":
                res = d <= val
            elif op == ">":
                res = d > val
            elif op == ">=":
                res = d >= val
            else:
                res = d == val
            term = pa.array([bool(res)] * n, type=pa.bool_())
        elif col not in read_cols:
            # the file predates this column: every row serves NULL —
            # is_null holds, is_not_null doesn't, comparisons are NULL
            if op == "is_null":
                term = pa.array([True] * n, type=pa.bool_())
            elif op == "is_not_null":
                term = pa.array([False] * n, type=pa.bool_())
            else:
                term = pa.nulls(n, type=pa.bool_())
        else:
            arr = batch.column(read_cols.index(col))
            if op == "is_null":
                term = pc.is_null(arr)
            elif op == "is_not_null":
                term = pc.is_valid(arr)
            elif op == "in":
                term = pc.is_in(arr, value_set=pa.array(list(val)))
            else:
                term = {
                    "<": pc.less, "<=": pc.less_equal,
                    ">": pc.greater, ">=": pc.greater_equal,
                    "=": pc.equal,
                }[op](arr, val)
        mask = term if mask is None else pc.and_kleene(mask, term)
    return pc.fill_null(mask, False)


def _off_key(off: dict) -> tuple[int, int, int]:
    """Total order over the offset shapes, for monotone bookkeeping.

    Within one stream's life positions only move forward; this key
    makes that comparable across shapes: a partial snapshot at H sorts
    after every complete commit < H and before `{"v": H}`; a partial
    commit `{"v": N, "f": K}` sorts between `{"v": N-1}` and
    `{"v": N}`; the fresh sentinels sort below everything."""
    if "snap" in off:
        return (int(off["snap"]), 0, int(off["f"]))
    v = int(off["v"])
    if v < 0:
        return (-2, 0, 0)
    if "f" in off:
        return (v, 0, int(off["f"]))
    return (v, 1, 0)


class _FilePartition(InputPartition):
    """One planned file of a micro-batch, pickled to an executor that
    reads it directly: a snapshot file, or one `minitable.FileChange`
    (its fields mean what `_commit_changes` says).  `path` None is the
    no-op partition of an empty range."""

    def __init__(
        self,
        path: str | None,
        cols: list[str],
        dv_path: str | None = None,
        new_dv: str | None = None,
        predicate: list | None = None,
        pred_defaults: dict | None = None,
        commit_version: int | None = None,
        change_type: str | None = None,
    ):
        self.path = path
        self.cols = cols
        # row selection: rows the `dv_path` vector holds are skipped (a
        # snapshot file's live vector, a delete's prev_dv); with
        # `new_dv` only rows that vector marks stream; with `predicate`
        # only matching rows, evaluated under `pred_defaults`
        self.dv_path = dv_path
        self.new_dv = new_dv
        self.predicate = predicate
        self.pred_defaults = pred_defaults
        # CDC mode: rows gain (_change_type, _commit_version); a None
        # change_type marks a change-data file whose rows carry their own
        self.commit_version = commit_version
        self.change_type = change_type
        # per requested column: physical name, type and default, set by
        # the reader's _stamp (the no-op partition keeps the names)
        self.phys = cols
        self.out_types: list[str] | None = None
        self.defaults: list | None = None


class MinitableStreamReader(DataSourceStreamReader):
    """Options beyond path/columns/mode:

    `startingVersion` (Delta's option of the same name): an int N makes
    the FIRST batch the incremental commits (N-1, head] instead of the
    snapshot — the feed-from-history subscription; the literal
    ``latest`` skips history entirely (the first batch is empty and only
    post-subscription commits stream).  Omitted = snapshot semantics.

    `startingTimestamp` (Delta's twin; mutually exclusive with
    startingVersion): unix seconds or an ISO-8601 datetime — streams
    every commit whose effective commit time (recorded `ts`, else
    record mtime, exactly version_at_timestamp's rule) is at or after
    it; before the first commit = full history replay, after the last
    = ``latest``.  Resolved ONCE at initialOffset, so the subscription
    start never drifts as the log grows.

    `maxFilesPerTrigger` (Delta's admission control; NO default, unlike
    Delta's 1000 — Delta exempts Trigger.Once/AvailableNow from rate
    limits, but this API cannot see the trigger and runs availableNow
    as a single batch, so a default cap would silently truncate drain
    jobs; the literal ``none`` states unbounded explicitly): caps each
    micro-batch at a planned FILE budget, with FILE-GRANULAR offsets
    (`{"v": N, "f": K}` — the first K files of commit N's deterministic
    planned-file list): an oversized commit splits across micro-batches
    instead of forcing one unbounded batch, and a budgeted initial
    snapshot splits the same way, pinned at one version
    (`{"v": -1, "snap": H, "f": K}`).  Always at least one file per
    batch, so the stream always advances.

    `maxBytesPerTrigger` (Delta's byte-budget twin): admits planned
    files while their cumulative size fits the budget — sizes come from
    the commit log's recorded `sizes` map (Delta's AddFile.size; legacy
    commits fall back to one cached stat per file).  A single file
    larger than the budget still streams alone — the only way a batch
    exceeds the ceiling.  Both budgets may be set; a file must fit both
    to be admitted.

    `streamId` (opt-in): a filename token naming this subscription.
    When set, every engine `commit()` persists the reader's high-water
    mark at `<table>/_stream_hwm/<streamId>.json`, so a FRESH runner
    whose first call is latestOffset (the Python DataSource API hides
    the checkpointed offset from it) re-learns its position from disk
    and the first post-restart batch honors the budget too.  Without
    it, restart bounding leans on the engine's call ordering — Spark
    4.1 re-seeds this runner via commit(checkpointedEnd) before the
    first post-restart latestOffset (probe-verified) — and partitions()
    re-learns the true position from every planned range as a second
    net, so the limiter never answers BEHIND the checkpoint (a rewound,
    engine-committed offset would re-stream consumed versions as
    duplicates; review r11 4th pass, restart regression test-pinned).
    The HWM only PACES admission — the engine's checkpointed offsets
    stay the sole source of batch boundaries — so a stale or reused
    streamId can loosen the ceiling for one batch but never lose,
    duplicate, or reorder rows.

    `ignoreDeletes` / `skipChangeCommits` (Delta's append-mode escape
    hatches, default false): instead of the loud refusal, an
    append-mode stream SKIPS pure delete commits (ignoreDeletes —
    whole-file predicate drops and whole-drop dv commits only; a delete
    that rewrites survivor files is a change) or every merge/dv rewrite
    commit (skipChangeCommits).  Both are an explicit opt-in to an
    incomplete feed; CDC mode rejects them (it exists to see those
    changes), and an overwrite still refuses in every mode."""

    def __init__(self, options):
        self.path = options["path"]
        self.cols = [c.strip() for c in options["columns"].split(",")]
        self.mode = options.get("mode", "append")
        if self.mode not in ("append", "cdf"):
            raise ValueError(
                f"unknown minitable stream mode {self.mode!r} "
                "(append | cdf)"
            )
        sv = options.get("startingversion", options.get("startingVersion"))
        if sv is None or sv == "latest":
            self.starting_version: int | str | None = sv
        else:
            try:
                self.starting_version = int(sv)
            except ValueError:
                raise ValueError(
                    f"startingVersion must be an integer version or the "
                    f"lowercase literal 'latest', got {sv!r}"
                ) from None
        st = options.get("startingtimestamp", options.get("startingTimestamp"))
        if st is not None and self.starting_version is not None:
            raise ValueError(
                "startingVersion and startingTimestamp are mutually "
                "exclusive (Delta's rule)"
            )
        if st is None:
            self.starting_ts: float | None = None
        else:
            import math

            try:
                self.starting_ts = float(st)
            except ValueError:
                from datetime import datetime

                try:
                    self.starting_ts = datetime.fromisoformat(st).timestamp()
                except ValueError:
                    raise ValueError(
                        f"startingTimestamp must be unix seconds or an "
                        f"ISO-8601 datetime, got {st!r}"
                    ) from None
            if not math.isfinite(self.starting_ts):
                # nan compares False against everything and would
                # silently resolve to `latest` — loud, not wrong
                raise ValueError(
                    f"startingTimestamp must be finite, got {st!r}"
                )
        mft = options.get("maxfilespertrigger", options.get("maxFilesPerTrigger"))
        if mft is None or str(mft).lower() == "none":
            # NO default budget, unlike Delta's 1000: Delta exempts
            # Trigger.Once/AvailableNow from rate limits, but the Python
            # DataSource API hides the trigger from this reader AND runs
            # availableNow as a single batch — a default cap would make
            # that one batch silently cover only the first 1000 files of
            # the backlog (review r12).  Unbounded stays the safe
            # default; continuous consumers opt in explicitly.
            self.max_files: int | None = None
        else:
            try:
                self.max_files = int(mft)
            except ValueError:
                raise ValueError(
                    f"maxFilesPerTrigger must be a positive int or the "
                    f"literal 'none', got {mft!r}"
                ) from None
            if self.max_files <= 0:
                raise ValueError(
                    f"maxFilesPerTrigger must be a positive int or the "
                    f"literal 'none', got {mft!r}"
                )
        mbt = options.get("maxbytespertrigger", options.get("maxBytesPerTrigger"))
        try:
            self.max_bytes: int | None = int(mbt) if mbt is not None else None
        except ValueError:
            raise ValueError(
                f"maxBytesPerTrigger must be a positive byte count, got {mbt!r}"
            ) from None
        if self.max_bytes is not None and self.max_bytes <= 0:
            raise ValueError(
                f"maxBytesPerTrigger must be a positive byte count, got {mbt!r}"
            )
        sid = options.get("streamid", options.get("streamId"))
        if sid is not None:
            import re

            if not re.fullmatch(r"[A-Za-z0-9_.-]+", sid):
                raise ValueError(
                    f"streamId must be a plain filename token "
                    f"([A-Za-z0-9_.-]+), got {sid!r}"
                )
        self.stream_id: str | None = sid

        def _flag(lower: str, camel: str) -> bool:
            raw = options.get(lower, options.get(camel, "false"))
            if str(raw).lower() not in ("true", "false"):
                raise ValueError(f"{camel} must be true or false, got {raw!r}")
            return str(raw).lower() == "true"

        # Delta's append-mode escape hatches for DML-bearing tables:
        # `ignoreDeletes` skips PURE delete commits — whole-file drops
        # only (a delete that rewrites survivors or writes a deletion
        # vector modifies files and needs skipChangeCommits, exactly
        # Delta's split); `skipChangeCommits` skips EVERY data-changing
        # rewrite commit (deletes AND merges/updates).  Both apply to
        # append mode only
        # — CDC mode exists to SEE those changes — and both are an
        # explicit opt-in to an incomplete feed, which is why the
        # default stays the loud refusal.
        self.ignore_deletes = _flag("ignoredeletes", "ignoreDeletes")
        self.skip_change_commits = _flag(
            "skipchangecommits", "skipChangeCommits"
        )
        if self.mode == "cdf" and (self.ignore_deletes or self.skip_change_commits):
            raise ValueError(
                "ignoreDeletes/skipChangeCommits are append-mode options — "
                "a CDC stream exists to see those changes"
            )
        self._last: dict | None = None  # newest offset handed to the engine
        # driver-side planning, every entry a pure function of the
        # immutable log: the running fold and the pinned snapshot, each
        # (version, state AS OF it), and per commit its planned
        # (FileChange, bytes) list, evicted as the engine commits past it
        self._fold: tuple[int, object] | None = None
        self._snap: tuple[int, object] | None = None
        self._plan_cache: dict[int, list] = {}
        # the requested columns' (physical names, defaults, log schema)
        # and DDL types, resolved once per runner by _stamp
        self._era: tuple[list[str], list, dict | None] | None = None
        self._out_types: list[str] | None = None

    def _stamp(self, parts: list[_FilePartition]) -> None:
        """Ship each requested column's physical name, DDL type and
        stored COLUMN DEFAULT on every partition, resolved once per
        runner from the table state at the head when first needed — the
        era the source's declared schema was read at (free when the fold
        or the snapshot stands there).  Executors then read by physical
        name (a renamed column streams), emit typed Arrow batches without
        touching the log, and serve a column's default on files that
        physically predate it (the batch read's EXISTS_DEFAULT fill on
        the feed's fixed column set).  Date/timestamp defaults are stored
        as ISO strings and converted here so both executor paths emit
        them natively."""
        if self._era is None:
            import datetime

            from tinymr_spark.sources import minitable

            state = self._state_at(minitable.versions(self.path)[-1])
            dfl = minitable._default_map(state.schema)
            types = {
                f["name"]: f["type"] for f in (state.schema or {}).get("fields", ())
            }
            defaults = []
            for c in self.cols:
                v = dfl.get(c)
                if v is not None and types.get(c) == "date":
                    v = datetime.date.fromisoformat(v)
                elif v is not None and types.get(c) == "timestamp":
                    v = datetime.datetime.fromisoformat(v)
                defaults.append(v)
            phys = [state.colmap.get(c, c) for c in self.cols]
            self._era = (phys, defaults, state.schema)
        phys, defaults, schema = self._era
        if self._out_types is None:
            try:
                self._out_types = _table_col_types(self.path, self.cols, schema)
            except Exception:
                pass  # transient (e.g. IO blip): the tuple path serves
                # this batch and the next trigger retries, rather than
                # pinning it for the runner's whole life
        for p in parts:
            p.phys, p.out_types, p.defaults = phys, self._out_types, defaults

    def _resolve_starting_ts(self, vs: list[int]) -> int | str:
        """startingTimestamp -> the startingVersion it means: the FIRST
        commit (within the GIVEN listing — the caller resolves `latest`
        against the same listing's head, so a commit landing mid-call
        can never fall between the two; review r12) whose effective
        time (minitable._effective_commit_ts: recorded `ts`, else the
        record file's mtime) is at or after the timestamp; before the
        first commit -> 0 (full history), after the last -> `latest`
        (only new commits).  Resolved once at initialOffset, like Delta
        — the subscription start must not drift as the log grows."""
        from tinymr_spark.sources import minitable

        first = minitable.version_at_or_after_timestamp(
            self.path, self.starting_ts, vs
        )
        return "latest" if first is None else first

    def initialOffset(self) -> dict:
        from tinymr_spark.sources import minitable

        if self.starting_version is None and self.starting_ts is None:
            out = {"v": -1}  # first batch = snapshot at the head
        else:
            vs = minitable.versions(self.path)
            head = vs[-1] if vs else -1
            start = (
                self.starting_version
                if self.starting_version is not None
                else self._resolve_starting_ts(vs)
            )
            if start == "latest":
                out = {"v": head}  # only post-subscription commits stream
            else:
                sv = int(start)
                if vs and not (0 <= sv <= head + 1):
                    raise ValueError(
                        f"startingVersion {sv} outside {self.path}'s log "
                        f"(0..{head + 1})"
                    )
                # first batch = incremental commits (sv-1, head].
                # startingVersion=0 needs the `inc` marker: its start
                # sentinel is also -1, but it means FULL HISTORY REPLAY,
                # not snapshot-at-head (review r11 4th pass — without
                # the marker, deletes vanished and versions mis-tagged)
                out = {"v": sv - 1, "inc": 1} if sv == 0 else {"v": sv - 1}
        # seed the limiter: the engine calls initialOffset exactly once
        # per FRESH query, pinning batch 0's true start — latestOffset
        # must never re-derive it later (the head may have moved; a
        # startingVersion=latest limiter would silently skip the gap)
        if self._last is None:
            self._last = dict(out)
        return out

    def _append_mode_skip(self, rec: dict) -> bool:
        """Append-mode opt-outs (Delta's options of the same names):
        True when this non-append commit is configured to be skipped
        instead of refusing the stream.  `ignoreDeletes` covers only
        commits that purely REMOVE data — a predicate delete that drops
        whole files (no survivor rewrites staged) or a dv-verb commit
        that only whole-drops (no vector written, nothing added);
        anything that REWRITES files is Delta's skipChangeCommits
        territory, which skips every merge/dv commit outright."""
        if self.mode != "append":
            return False
        a = rec["action"]
        if self.skip_change_commits and a in ("merge", "dv"):
            return True
        if self.ignore_deletes:
            if (
                a == "merge"
                and rec.get("predicate") is not None
                and not rec.get("added")
            ):
                return True
            if a == "dv" and not rec.get("added") and not rec.get("dv"):
                return True
        return False

    def _file_bytes(self, rel: str | None, sizes: dict | None) -> int:
        """Byte size of one planned file for the maxBytesPerTrigger
        budget (0 without one): the commit's recorded `sizes` map when
        present (Delta's AddFile.size), else one stat — a HINT only, so
        a missing file costs 0 here and surfaces loudly at read time."""
        if rel is None or self.max_bytes is None:
            return 0
        if sizes and rel in sizes:
            return int(sizes[rel])
        try:
            return os.path.getsize(os.path.join(self.path, rel))
        except OSError:
            return 0

    def _state_at(self, v: int):
        """The table state AS OF v: the running fold or the pinned
        snapshot when either stands there, else one `_replay` (a fold
        start: the first plan of a reader, or a replayed range whose
        plans were evicted)."""
        from tinymr_spark.sources import minitable

        for at in (self._fold, self._snap):
            if at is not None and at[0] == v:
                return at[1]
        if v < 0:
            return minitable._State.empty()
        return minitable._replay(self.path, v)

    def _plan(self, v: int) -> list:
        """Commit v's planned (FileChange, bytes) list — the admission
        unit, the meaning of a partial offset's `f` index, and what
        partitions() slices.  Decoded by `minitable._commit_changes`
        once per reader per commit while the fold advances (records are
        immutable); the append-mode opt-outs drop a record before it is
        decoded."""
        from tinymr_spark.sources import minitable

        hit = self._plan_cache.get(v)
        if hit is None:
            prev = self._state_at(v - 1)
            rec = minitable._record(self.path, v)
            found = (
                []
                if self._append_mode_skip(rec)
                else minitable._commit_changes(prev, v, rec, self.mode == "cdf")
            )
            sizes = rec.get("sizes")
            hit = [(c, self._file_bytes(c.file, sizes)) for c in found]
            self._plan_cache[v] = hit
            self._fold = (v, minitable._apply(prev, rec))
        return hit

    def _snapshot(self, hi: int):
        """The state AS OF hi, pinned for the initial snapshot: its
        entries are the index space of partial-snapshot offsets."""
        if self._snap is None or self._snap[0] != hi:
            self._snap = (hi, self._state_at(hi))
        return self._snap[1]

    # ---- persisted high-water mark (streamId) ----------------------
    def _hwm_file(self) -> str:
        return os.path.join(
            self.path, "_stream_hwm", f"{self.stream_id}.json"
        )

    def _load_hwm(self) -> dict | None:
        if self.stream_id is None:
            return None
        import json

        try:
            with open(self._hwm_file()) as f:
                hwm = json.load(f)
        except (OSError, ValueError):
            return None
        if not isinstance(hwm, dict) or "v" not in hwm:
            return None  # torn/foreign content: pace from scratch
        if "snap" in hwm and (
            self.starting_version is not None or self.starting_ts is not None
        ):
            # a partial-SNAPSHOT position is meaningless to a
            # startingVersion subscription (its offset algebra never
            # produces one) — a reused streamId must not pace this
            # stream into snapshot shapes (review r12)
            return None
        return hwm

    def _save_hwm(self) -> None:
        if self.stream_id is None or self._last is None:
            return
        import json

        target = self._hwm_file()
        os.makedirs(os.path.dirname(target), exist_ok=True)
        # one writer per streamId (the stream's driver); os.replace
        # publishes the full body atomically, so a crashed write leaves
        # the previous HWM, never a torn one
        tmp = target + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self._last, f)
        os.replace(tmp, target)

    def _base(self) -> dict:
        """The position this runner counts its budget from: its own
        _last, else the persisted HWM (streamId), else initialOffset.
        A present HWM wins outright — it IS the subscription's last
        committed position, while a re-derived initialOffset can land
        AHEAD of it (startingVersion=latest re-reads the moved head) and
        would un-bound or skew the first post-restart batch.  A stale
        HWM (crash between the engine's offset-log write and commit())
        sits one batch behind the checkpoint: the engine then plans one
        empty inverted range, partitions() re-learns the true position,
        and pacing resumes — never a lost or duplicated row, because
        batch boundaries come only from the engine's checkpoint."""
        if self._last is None:
            hwm = self._load_hwm()
            if hwm is not None:
                self._last = dict(hwm)
            else:
                self.initialOffset()  # seeds _last
        return dict(self._last)

    def latestOffset(self) -> dict:
        from tinymr_spark.sources import minitable

        vs = minitable.versions(self.path)
        head = vs[-1] if vs else -1
        if self.max_files is None and self.max_bytes is None:
            if self._last is not None and "snap" in self._last:
                # budget options removed across a restart mid-snapshot:
                # one batch finishes the snapshot remainder + catches up
                out = {"v": max(head, int(self._last["snap"]))}
                self._last = out
                return dict(out)
            return {"v": head}
        # The base is the last position THIS runner instance knows —
        # its own bookkeeping, the persisted HWM (streamId), or a fresh
        # initialOffset.  Spark runs initialOffset on a different
        # (planning-time) instance, so a fresh query's first
        # latestOffset re-derives it; on RESTART the engine calls
        # commit(checkpointedEnd) on this instance BEFORE the first
        # latestOffset (probe-verified, Spark 4.1) and the HWM file
        # covers the orderings it doesn't; partitions() keeps teaching
        # the true position as a further net.
        base = self._base()
        out = self._admit(base, vs, head)
        if _off_key(out) > _off_key(self._last):
            self._last = dict(out)
        return dict(self._last)

    def _admit(self, base: dict, vs: list[int], head: int) -> dict:
        """Walk planned files forward from `base` until the budgets are
        spent; returns the batch-end offset (== base when nothing new).
        Always admits >= 1 file, so a single file over the byte budget
        still streams alone and the stream always advances."""
        bf = self.max_files if self.max_files is not None else float("inf")
        bb = self.max_bytes if self.max_bytes is not None else float("inf")
        # ---- snapshot phase (pinned at one version) -----------------
        if "snap" in base or (int(base["v"]) < 0 and not base.get("inc")):
            if "snap" in base:
                hi, k = int(base["snap"]), int(base["f"])
            else:
                if head < 0:
                    return dict(base)  # nothing committed yet
                hi, k = head, 0
            entries = self._snapshot(hi).entries
            k0 = k
            while k < len(entries):
                sz = self._file_bytes(entries[k][0], None)
                if k > k0 and (bf < 1 or bb < sz):
                    break
                bf -= 1
                bb -= sz
                k += 1
            if k >= len(entries):
                return {"v": hi}  # snapshot complete; incremental next
            return {"v": -1, "snap": hi, "f": k}
        # ---- incremental phase --------------------------------------
        if int(base["v"]) < 0:  # the `inc` full-history sentinel
            nv, nf = 0, 0
        elif "f" in base:
            nv, nf = int(base["v"]), int(base["f"])
        else:
            nv, nf = int(base["v"]) + 1, 0
        admitted = 0
        end_pos: tuple[int, int, int] | None = None
        for v in vs:
            if v < nv:
                continue
            planned = self._plan(v)
            start = min(nf, len(planned)) if v == nv else 0
            k, hit_budget = start, False
            while k < len(planned):
                sz = planned[k][1]
                if admitted >= 1 and (bf < 1 or bb < sz):
                    hit_budget = True
                    break
                bf -= 1
                bb -= sz
                admitted += 1
                k += 1
            if k > start or not planned:
                # progress through commit v (a zero-file commit is
                # consumed for free — no batch spins on maintenance)
                end_pos = (v, k, len(planned))
            if hit_budget:
                break
        if end_pos is None:
            return dict(base)
        v, k, total = end_pos
        return {"v": v} if k >= total else {"v": v, "f": k}

    def partitions(self, start: dict, end: dict):
        # Admission bookkeeping: the engine's planned ranges are the
        # ground truth for the checkpointed position (latestOffset
        # cannot see it after a restart — it may answer BEHIND the
        # checkpoint once, which plans one empty inverted range).
        # Learning the true position here stops the limiter from ever
        # REWINDING over already-consumed positions (a rewound range
        # would re-stream them as duplicates; test-pinned by the
        # restart-mid-backlog regression).
        for off in (start, end):
            if self._last is None or _off_key(off) > _off_key(self._last):
                self._last = dict(off)
        cdc = self.mode == "cdf"
        # ---- decode the range into a snapshot slice + an incremental
        # cursor range; every shape is a pure function of the immutable
        # log, so checkpoint replays re-plan identical rows ------------
        snap: tuple[int, int, int | None] | None = None  # (H, k_from, k_to)
        inc_from: tuple[int, int] | None = None  # next (version, file)
        if "snap" in start:
            h, kf = int(start["snap"]), int(start["f"])
            if "snap" in end:
                if int(end["snap"]) != h:
                    raise ValueError(
                        f"partial-snapshot offsets pin different versions "
                        f"({h} vs {end['snap']}) — corrupted checkpoint"
                    )
                snap = (h, kf, int(end["f"]))
            elif int(end["v"]) >= 0:
                # budget removed mid-snapshot: finish the remainder and
                # catch up incrementally in the same batch
                snap = (h, kf, None)
                inc_from = (h + 1, 0)
        elif int(start["v"]) < 0 and not start.get("inc"):
            # The INITIAL batch — the table's snapshot (Delta's
            # startingVersion semantics), so a table whose v0 is an
            # overwrite (the common init pattern) streams its current
            # rows once and then goes incremental.  Budgeted streams
            # split it at a pinned version via `snap` offsets.
            if "snap" in end:
                snap = (int(end["snap"]), 0, int(end["f"]))
            elif "f" in end and int(end["v"]) >= 0:
                # PARTIAL-COMMIT end on a fresh snapshot start (a
                # foreign/stale streamId HWM paced the first batch past
                # the snapshot shapes — review r12): the only
                # exactly-once decomposition is snapshot-at-(v-1) plus
                # commit v's files [0:f) incrementally, because the
                # engine's NEXT start will be this partial offset and
                # will re-plan commit v from file f.  Planning the full
                # snapshot at v here would stream commit v's rows twice.
                snap = (int(end["v"]) - 1, 0, None)
                inc_from = (int(end["v"]), 0)
            elif int(end["v"]) >= 0:
                snap = (int(end["v"]), 0, None)
        else:
            if start.get("inc") and int(start["v"]) < 0:
                # startingVersion=0's sentinel: FULL HISTORY REPLAY from
                # v0 as incremental commits; an overwrite v0 is refused
                # by the decoder, exactly like batch change_feed
                inc_from = (0, 0)
            elif "f" in start:
                inc_from = (int(start["v"]), int(start["f"]))
            else:
                inc_from = (int(start["v"]) + 1, 0)
        parts: list[_FilePartition] = []
        if snap is not None and snap[0] >= 0:
            h, kf, kt = snap
            state = self._snapshot(h)
            for rel, _st in state.entries[kf:kt]:
                parts.append(
                    _FilePartition(
                        self._abs(rel), self.cols,
                        dv_path=self._abs(state.dvs.get(rel)),
                        # snapshot rows are the initial inserts
                        # (Delta's startingVersion CDC semantics)
                        commit_version=h if cdc else None,
                        change_type="insert" if cdc else None,
                    )
                )
        if inc_from is not None and "snap" not in end and int(end["v"]) >= 0:
            sv, sf = inc_from
            ev = int(end["v"])
            ef = int(end["f"]) if "f" in end else None
            for v in range(sv, ev + 1):
                planned = self._plan(v)
                lo = sf if v == sv else 0
                hi = ef if (v == ev and ef is not None) else len(planned)
                for c, _bytes in planned[lo:hi]:
                    if c.file is None:
                        raise ValueError(c.refusal)
                    parts.append(
                        _FilePartition(
                            self._abs(c.file), self.cols,
                            dv_path=self._abs(c.prev_dv),
                            new_dv=self._abs(c.new_dv),
                            predicate=c.predicate,
                            pred_defaults=c.defaults,
                            commit_version=v if cdc else None,
                            change_type=(
                                None if not cdc or c.kind == "cdf" else c.kind
                            ),
                        )
                    )
        if not parts:
            # Spark requires >= 1 partition; an empty range plans a no-op
            return [_FilePartition(None, self.cols)]
        self._stamp(parts)
        return parts

    def _abs(self, rel: str | None) -> str | None:
        return None if rel is None else os.path.join(self.path, rel)

    def read(self, partition: _FilePartition):
        # EXECUTOR-side: scan exactly this committed file, projected to
        # the requested columns (parquet column pruning), in arrow
        # batches — O(file), no driver involvement.  A requested column
        # a PRE-EVOLUTION file lacks serves NULL (the same name-based
        # reconciliation batch reads get from the log schema).
        if partition.path is None:
            return
        import pyarrow.parquet as pq

        base = os.path.basename(partition.path)

        def _dv_rows(dv_dir: str) -> set[int]:
            # a vector sidecar holds (fname, row_index) for MANY files;
            # this file's marked positions only — O(deleted rows)
            try:
                t = pq.read_table(dv_dir, columns=["fname", "row_index"])
            except FileNotFoundError as e:
                raise FileNotFoundError(
                    f"minitable deletion-vector sidecar {dv_dir} no "
                    "longer exists — vacuum() collected it while this "
                    "stream's offsets still referenced it; restart the "
                    "stream from a fresh checkpoint"
                ) from e
            return {
                ri
                for fn, ri in zip(
                    t.column(0).to_pylist(), t.column(1).to_pylist()
                )
                if fn == base
            }

        # the vector already applied to this file: the set of row
        # positions to skip (row_index is file row order, exactly
        # Spark's `_metadata.row_index` identity the batch reader joins on)
        dv_idx: set[int] = set()
        if partition.dv_path is not None:
            dv_idx = _dv_rows(partition.dv_path)
        # DV DIFF: keep ONLY rows the new vector marks beyond the
        # previous one (batch change_feed's exceptAll, as a per-file
        # positional set difference)
        keep_idx: set[int] | None = None
        if partition.new_dv is not None:
            keep_idx = _dv_rows(partition.new_dv) - dv_idx
            if not keep_idx:
                return
        pred = partition.predicate
        try:
            pf = pq.ParquetFile(partition.path)
        except FileNotFoundError as e:
            # VACUUM-vs-LIVE-STREAM contract (Delta's rule: the stream /
            # CDF horizon is vacuum's retention bound): a planned offset
            # range whose files a concurrent vacuum() collected must
            # fail LOUDLY — yielding nothing here would silently drop
            # the rows from an exactly-once feed.
            raise FileNotFoundError(
                f"minitable stream file {partition.path} no longer "
                "exists — vacuum() collected it while this stream's "
                "offsets still referenced it (the stream reads at most "
                "as far back as vacuum's retain_from_version); restart "
                "the stream from a fresh checkpoint"
            ) from e
        phys = partition.phys
        # COLUMN DEFAULTS, aligned to partition.cols: the fill for
        # output columns this file physically predates
        dfl = partition.defaults
        cv = partition.commit_version
        ct = partition.change_type
        if cv is not None and ct is None:
            # explicit change-data file: the row's own `_change_type`
            # column reads LAST, already in output position
            phys = phys + ["_change_type"]
        names = pf.schema_arrow.names
        present = [p for p in phys if p in names]
        # predicate columns ride the same scan (parquet still prunes to
        # the union); recorded physical, like the data file's columns
        pred_cols = [
            c for c, _o, _v in (pred or ())
            if c in names and c not in present
        ]
        read_cols = present + pred_cols
        # ---- ARROW-BATCH output (the scale path): when every output
        # type maps to an arrow type, rows never materialize as Python
        # tuples — columns pass from the parquet scan to Spark as
        # RecordBatches, with DV/diff/predicate row selection applied
        # as one vectorized filter per batch.  Types Spark's own
        # mapping cannot parse fall back to tuple rows, which Spark
        # converts against the declared schema (decimals/binary DO map
        # and take the arrow path).
        import pyarrow as pa

        out_ddl = partition.out_types
        pa_types = None
        if out_ddl is not None and len(out_ddl) == len(partition.cols):
            cand = [_pa_type(t) for t in out_ddl]
            out_names = list(partition.cols)
            src_cols: list[str | None] = list(partition.phys)
            if cv is not None:
                if ct is None:
                    cand.append(pa.string())  # file-carried _change_type
                    out_names.append("_change_type")
                    src_cols.append("_change_type")
                else:
                    cand.append(pa.string())  # literal change type
                    out_names.append("_change_type")
                    src_cols.append(None)
                cand.append(pa.int32())
                out_names.append("_commit_version")
                src_cols.append(None)
            if all(c is not None for c in cand):
                pa_types = cand
        if pa_types is not None:
            import numpy as np

            dv_np = (
                np.fromiter(sorted(dv_idx), dtype=np.int64) if dv_idx else None
            )
            keep_np = (
                np.fromiter(sorted(keep_idx), dtype=np.int64)
                if keep_idx is not None
                else None
            )
            offset = 0
            for batch in pf.iter_batches(columns=read_cols):
                n = batch.num_rows
                keep = None
                if pred:
                    keep = _predicate_mask(
                        batch, pred, read_cols,
                        partition.pred_defaults,
                    ).to_numpy(zero_copy_only=False)
                if dv_np is not None and len(dv_np):
                    hits = dv_np[(dv_np >= offset) & (dv_np < offset + n)]
                    if len(hits):
                        m = np.ones(n, dtype=bool)
                        m[hits - offset] = False
                        keep = m if keep is None else (keep & m)
                if keep_np is not None:
                    m = np.zeros(n, dtype=bool)
                    hits = keep_np[(keep_np >= offset) & (keep_np < offset + n)]
                    m[hits - offset] = True
                    keep = m if keep is None else (keep & m)
                offset += n
                if keep is not None:
                    if not keep.any():
                        continue
                    # filter the SCANNED columns first, then build the
                    # output on the survivors — a DV-diff slice keeping
                    # a handful of rows must not cast/materialize full
                    # columns it is about to throw away (review r12)
                    batch = batch.filter(pa.array(keep))
                    n = batch.num_rows
                arrays = []
                for j, src in enumerate(src_cols):
                    t = pa_types[j]
                    if src is None:
                        # literal column, no per-row Python boxing
                        lit = ct if out_names[j] == "_change_type" else cv
                        arr = pa.repeat(pa.scalar(lit, type=t), n)
                    elif src in read_cols:
                        arr = batch.column(read_cols.index(src))
                        if arr.type != t:
                            # ns->us timestamp truncation is Spark's own
                            # parquet semantics; other casts stay safe
                            arr = arr.cast(t, safe=not pa.types.is_timestamp(t))
                    else:
                        # pre-evolution file: a recorded COLUMN DEFAULT
                        # serves its constant (the batch read's
                        # EXISTS_DEFAULT fill), else NULL
                        d = (
                            dfl[j]
                            if dfl is not None and j < len(dfl)
                            else None
                        )
                        if d is not None:
                            arr = pa.repeat(pa.scalar(d, type=t), n)
                        else:
                            arr = pa.nulls(n, type=t)
                    arrays.append(arr)
                rb = pa.RecordBatch.from_arrays(arrays, names=out_names)
                if rb.num_rows:
                    yield rb
            return
        # ---- tuple fallback (unmapped output types) ------------------
        offset = 0
        for batch in pf.iter_batches(columns=read_cols):
            n = batch.num_rows
            sel = (
                _predicate_mask(
                    batch, pred, read_cols,
                    partition.pred_defaults,
                ).to_pylist()
                if pred
                else None
            )
            data = {
                p: batch.column(read_cols.index(p)).to_pylist()
                for p in present
            }
            nulls = [None] * n
            cols = [
                data.get(
                    p,
                    [dfl[j]] * n
                    if dfl is not None and j < len(dfl) and dfl[j] is not None
                    else nulls,
                )
                for j, p in enumerate(phys)
            ]
            if cv is not None:
                if ct is not None:  # whole-file kind: literal change type
                    cols = cols + [[ct] * n]
                cols = cols + [[cv] * n]
            if sel is None and not dv_idx and keep_idx is None:
                yield from zip(*cols)  # plain append/insert
            else:
                for i, row in enumerate(zip(*cols)):
                    gi = offset + i
                    if sel is not None and not sel[i]:
                        continue
                    if gi in dv_idx:
                        continue
                    if keep_idx is not None and gi not in keep_idx:
                        continue
                    yield row
            offset += n

    def commit(self, end: dict) -> None:
        # the log is the source of truth; the committed offset re-seeds
        # admission control after a restart (latestOffset cannot see the
        # checkpoint: Python DS API limit), with a streamId it persists
        # to disk so even a FRESH runner paces its first post-restart
        # batch, and the plans of fully consumed commits are dropped
        if self._last is None or _off_key(end) > _off_key(self._last):
            self._last = dict(end)
        done = int(end["v"]) - (1 if "f" in end else 0)
        self._plan_cache = {v: p for v, p in self._plan_cache.items() if v > done}
        self._save_hwm()


class MinitableStreamDataSource(DataSource):
    """`spark.readStream.format("tinymr_minitable_stream")
    .option("path", dir).option("columns", "a,b,c").load()`"""

    @classmethod
    def name(cls) -> str:
        return "tinymr_minitable_stream"

    def schema(self) -> str:
        ddl = _table_ddl(self.options["path"], [
            c.strip() for c in self.options["columns"].split(",")
        ])
        if self.options.get("mode", "append") == "cdf":
            ddl += ", _change_type string, _commit_version int"
        return ddl

    def streamReader(self, schema) -> MinitableStreamReader:
        return MinitableStreamReader(self.options)


def register(spark) -> None:
    """Idempotent per-session registration."""
    if getattr(spark, "_tinymr_minitable_stream_registered", False):
        return
    spark.dataSource.register(MinitableStreamDataSource)
    spark._tinymr_minitable_stream_registered = True
