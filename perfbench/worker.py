"""One workload run in a fresh process: set up a session, run a cold pass
and then warm passes for the given number of seconds, check every
output, and write the result as JSON.  With `--setup-only` it only sets
up the session and writes the set-up time.

Started by `perfbench/run.py`, which gives it a fresh TMPDIR and reads
the result file; run it directly only for debugging:

    python3 -m perfbench.worker --workload lakehouse --seed 1 --seconds 5 \
        --trace 0 --out result.json --run-dir <dir>
"""

from __future__ import annotations

import argparse
import builtins
import json
import os
import resource
import time
import traceback

# Only light modules before set-up is timed; the workloads (numpy, pyarrow,
# duckdb) are imported after it.
from . import metrics, trace
from .stats import median, tail

PASS_MIN_WARM = 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--setup-only", action="store_true")
    args = ap.parse_args(argv)
    spawned = float(os.environ.get("PERFBENCH_SPAWNED", time.time()))
    run = Run(args, spawned)
    if args.setup_only:
        result = {"setup_s": run.setup()["setup_s"]}
    else:
        result = run.execute()
    with open(args.out, "w") as f:
        json.dump(result, f)
    # `run.py` kills the JVM and the Python workers with the whole process
    # group, so no clean shutdown is waited for.
    os._exit(0)


class Run:
    def __init__(self, args, spawned: float):
        self.args = args
        self.spawned = spawned
        self.traced = bool(args.trace)
        self.tracer = trace.Tracer(run=f"{args.workload}-{args.seed}", enabled=self.traced)
        self.calls: list[dict] = []
        self.passes: list[dict] = []
        self.counters = {"log_opens": 0}
        self.batches: list[dict] = []

    # -- set-up ------------------------------------------------------------
    def setup(self) -> dict:
        from tinymr_spark import session

        if self.traced:
            self._instrument()
        t0 = time.perf_counter()
        spark = session.get_session()
        t1 = time.perf_counter()
        session.ensure_shipped(spark)
        t2 = time.perf_counter()
        return {
            "spark": spark,
            "setup_s": time.time() - self.spawned,
            "get_session_s": t1 - t0,
            "ensure_shipped_s": t2 - t1,
        }

    def _instrument(self) -> None:
        """Spans around the public functions of each layer, installed from
        outside before the operator modules import them."""
        from tinymr_spark import mapreduce, session, sources
        from tinymr_spark.sources import minitable

        tr = self.tracer
        trace.instrument(tr, session, ["get_session", "ensure_shipped"], "session")
        trace.instrument(tr, sources, ["load_table", "standing_index", "versioned_staging_dir"],
                         "sources")
        trace.instrument(tr, mapreduce.MapReduce, ["__call__", "to_rdd", "to_df"], "mapreduce")
        trace.instrument(tr, minitable, [
            "write", "read", "scan", "prune", "merge", "update", "delete", "optimize",
            "checkpoint", "change_feed", "versions", "snapshot",
        ], "minitable")
        counters = self.counters

        def counting_open(file, *a, **kw):
            if f"{os.sep}_log{os.sep}" in os.fspath(file):
                counters["log_opens"] += 1
            return builtins.open(file, *a, **kw)

        minitable.open = counting_open

    # -- the run -----------------------------------------------------------
    def execute(self) -> dict:
        env = self.setup()

        import duckdb

        from . import workloads

        spark = env["spark"]
        run_dir = self.args.run_dir
        ctx = workloads.Ctx(
            spark=spark, tracer=self.tracer, seed=self.args.seed,
            data_dir=os.path.join(run_dir, "data"), work_dir=os.path.join(run_dir, "work"),
            duck=duckdb.connect(),
        )
        os.makedirs(ctx.work_dir, exist_ok=True)
        workloads.prepare_tables(ctx)
        if self.args.workload == "mr_face":
            ctx.mr = workloads.mr_inputs(self.args.seed)
        if self.traced and self.args.workload == "lakehouse":
            self._listen(spark)
        build = workloads.WORKLOADS[self.args.workload]
        self._pass(ctx, build, 0)
        warm_start = time.perf_counter()
        pass_no = 1
        while pass_no <= PASS_MIN_WARM or time.perf_counter() - warm_start < self.args.seconds:
            self._pass(ctx, build, pass_no)
            pass_no += 1
        if self.traced and self.args.workload == "lakehouse":
            self._drain()
        out = {
            "attempted": len(self.calls),
            "failed": sum(not c["ok"] for c in self.calls),
            "failures": [c["error"] or c["name"] for c in self.calls if not c["ok"]][:10],
            "passes": [p["s"] for p in self.passes],
            "metrics": self._end_to_end(env),
            "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory", "default"),
            "spark_version": spark.version,
            "java_version": spark._jvm.java.lang.System.getProperty("java.version"),
            "shipped_zip_sha256": _shipped_zip_hash(),
        }
        if self.traced:
            out["metrics"] = self._per_layer(env, ctx)
            spans_path = os.path.join(run_dir, "spans.jsonl")
            self.tracer.dump(spans_path)
            out["spans_file"] = spans_path
        return out

    def _pass(self, ctx, build, pass_no: int) -> None:
        sc = ctx.spark.sparkContext
        calls = build(ctx, pass_no)
        staged_before = _staged() if self.traced else None
        wall_start = time.time()
        busy = 0.0
        with self.tracer.span(f"pass.{pass_no}", "bench"):
            for i, call in enumerate(calls):
                # Job tags break PySpark's query-started event for streams.
                tag = f"pb{pass_no}-{i}-{call.name}" if call.layer != "streaming" else None
                if self.traced and tag:
                    sc.addJobTag(tag)
                rec = {"pass": pass_no, "name": call.name, "layer": call.layer,
                       "kind": call.kind, "error": None, "wall_start": time.time()}
                t0 = time.perf_counter()
                opens0 = self.counters["log_opens"]
                out = None
                with self.tracer.span(f"call.{call.name}", "bench"):
                    try:
                        out = call.run()
                    except Exception as e:  # a failed call is counted, the run goes on
                        rec["error"] = f"{call.name}: {type(e).__name__}: {str(e)[:300]}"
                        traceback.print_exc()
                rec["s"] = time.perf_counter() - t0
                rec["wall_end"] = time.time()
                busy += rec["s"]
                if self.traced:
                    if tag:
                        sc.removeJobTag(tag)
                    p0 = time.perf_counter()
                    rec["profile"] = self._profile(sc, tag, call, out, rec)
                    rec["profile"]["log_opens"] = self.counters["log_opens"] - opens0
                    rec["profile_s"] = time.perf_counter() - p0
                    busy += rec["profile_s"]
                if call.kind == "query" and out is not None:
                    rec["build_s"], rec["action_s"] = out[2], out[3]
                rec["ok"] = rec["error"] is None and _checked(call, out, rec)
                self.calls.append(rec)
                print(f"pass {pass_no} {call.name} {rec['s']:.3f}s ok={rec['ok']}", flush=True)
        rec_pass = {"no": pass_no, "s": busy, "wall_start": wall_start, "wall_end": time.time()}
        if self.traced:
            after = _staged()
            rec_pass["staged_dirs"] = after[0] - staged_before[0]
            rec_pass["staged_bytes"] = after[1] - staged_before[1]
        self.passes.append(rec_pass)
        if self.traced and ctx.lake_passes:
            self._lake_pass_stats(ctx.lake_passes[-1], rec_pass)

    # -- traced-run readers --------------------------------------------------
    def _profile(self, sc, tag, call, out, rec) -> dict:
        prof = {"jobs": trace.job_stats(sc, tag) if tag else None}
        if call.kind == "query" and out is not None:
            df = out[0]
            prof["phases"] = trace.catalyst_phases_ms(df)
            prof["plan"] = trace.plan_stats(df)
        if "prune" in call.info:
            kept, total = call.info["prune"]()
            prof["files_kept_ratio"] = len(kept) / max(total, 1)
        return prof

    def _lake_pass_stats(self, lp, rec_pass) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from .workloads import LAKE_COLS

        rec_pass["table_bytes"] = _dir_bytes(lp.path)
        live = os.path.join(self.args.run_dir, "live.parquet")
        rows = lp.replay.rows()
        table = pa.Table.from_pylist([dict(zip(LAKE_COLS, r)) for r in rows])
        pq.write_table(table, live)
        rec_pass["live_bytes"] = os.path.getsize(live)
        pq.write_table(pa.concat_tables(lp.sources), live)
        rec_pass["source_bytes"] = os.path.getsize(live)
        rec_pass["log_versions"] = len(lp.mt.versions(lp.path))
        rec_pass["live_files"] = len(lp.mt.snapshot(lp.path))

    def _listen(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        batches = self.batches

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                state = p.stateOperators or []
                batches.append({
                    "ts": p.timestamp,
                    "batch_ms": float(p.batchDuration),
                    "dur": dict(p.durationMs or {}),
                    "input_rows": int(p.numInputRows or 0),
                    "state_rows": sum(int(s.numRowsTotal) for s in state),
                    "state_commit_ms": sum(float(s.commitTimeMs) for s in state),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())

    def _drain(self) -> None:
        """Progress events arrive asynchronously: wait until they stop."""
        last, deadline = -1, time.time() + 5
        while len(self.batches) != last and time.time() < deadline:
            last = len(self.batches)
            time.sleep(0.5)

    # -- metrics -------------------------------------------------------------
    def _end_to_end(self, env) -> dict:
        return {
            "setup_s": env["setup_s"],
            "warm_s": median([p["s"] for p in self.passes[1:]]),
        }

    def _per_layer(self, env, ctx) -> dict:
        warm = [p for p in self.passes if p["no"] > 0]
        n = len(warm)
        calls = [c for c in self.calls if c["pass"] > 0]
        m = dict.fromkeys(metrics.PER_LAYER, 0.0)
        m["session.get_session_s"] = env["get_session_s"]
        m["session.ensure_shipped_s"] = env["ensure_shipped_s"]
        m["session.peak_rss_mb"] = _peak_rss_mb(ctx.spark)
        m["sources.staged_dirs_cold"] = self.passes[0]["staged_dirs"]
        m["sources.staged_dirs_warm"] = sum(p["staged_dirs"] for p in warm) / n
        m["sources.staged_bytes"] = self.passes[0]["staged_bytes"]
        self._operators(m, [c for c in calls if c["layer"] == "operators"], n)
        self._mapreduce(m, [c for c in calls if c["layer"] == "mapreduce"], n, ctx)
        self._minitable(m, [c for c in calls if c["layer"] == "minitable"], warm)
        self._streaming(m, [c for c in calls if c["layer"] == "streaming"], warm)
        self._self_times(m, n)
        m["trace.cold_s"] = self.passes[0]["s"]
        m["trace.warm_s"] = median([p["s"] for p in warm])
        m["trace.profile_s"] = sum(c.get("profile_s", 0.0) for c in calls) / n
        return m

    @staticmethod
    def _operators(m, calls, n) -> None:
        if not calls:
            return
        skews, par = [], []
        for c in calls:
            prof, jobs = c["profile"], c["profile"]["jobs"]
            for k in ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_bytes",
                      "shuffle_records", "spill_bytes", "input_bytes"):
                m[f"operators.{k}"] += jobs[k] / n
            skews += jobs["skew"]
            m["operators.build_s"] += c.get("build_s", 0.0) / n
            m["operators.action_s"] += c.get("action_s", 0.0) / n
            if jobs["job_wall_s"] > 0:
                par.append(jobs["task_s"] / jobs["job_wall_s"])
            for phase in ("analysis", "optimization", "planning"):
                m[f"operators.{phase}_ms"] += prof.get("phases", {}).get(phase, 0.0) / n
            for k, v in prof.get("plan", {}).items():
                m[f"operators.{k}"] += v / n
        m["operators.skew"] = median(skews) if skews else 1.0
        m["operators.parallelism"] = median(par) if par else 0.0

    def _mapreduce(self, m, calls, n, ctx) -> None:
        if not calls:
            return
        skews, first_round = [], {}
        for c in calls:
            jobs = c["profile"]["jobs"]
            if c["kind"] == "local":
                m["mapreduce.local_s"] += c["s"] / n
                continue
            m["mapreduce.call_s"] += c["s"] / n
            m["mapreduce.driver_s"] += max(c["s"] - jobs["job_wall_s"], 0.0) / n
            m["mapreduce.shuffle_records"] += jobs["shuffle_records"] / n
            m["mapreduce.shuffle_bytes"] += jobs["shuffle_bytes"] / n
            m["mapreduce.task_s"] += jobs["task_s"] / n
            m["mapreduce.gc_s"] += jobs["gc_s"] / n
            skews += jobs["skew"]
            mapped = _mapped_records(c["name"], ctx.mr)
            m["mapreduce.map_records"] += mapped / n
            if c["name"].startswith("mr.wordcount"):
                first_round.setdefault(c["name"], []).append(jobs["first_shuffle_bytes"] or 0)
        m["mapreduce.skew"] = median(skews) if skews else 1.0
        # Round-1 shuffle bytes of the word count with map-side combine over
        # the same count without it.
        without = median(first_round["mr.wordcount_nocombine"])
        if without:
            m["mapreduce.combine_ratio"] = median(first_round["mr.wordcount_combine"]) / without

    @staticmethod
    def _minitable(m, calls, warm) -> None:
        if not calls:
            return
        n = len(warm)
        for c in calls:
            op = c["name"].removeprefix("mt.")
            m[f"minitable.{op}_s"] += c["s"] / n
            m["minitable.log_opens"] += c["profile"]["log_opens"] / n
            m["minitable.driver_s"] += max(c["s"] - c["profile"]["jobs"]["job_wall_s"], 0.0) / n
        for kind in ("write", "read"):
            xs = [c["s"] for c in calls if c["kind"] == kind]
            m[f"minitable.{kind}_p50_s"] = median(xs)
            t = tail(xs)
            m[f"minitable.{kind}_tail_s"] = t[1] if t else max(xs)
        m["minitable.log_versions"] = median([p["log_versions"] for p in warm])
        m["minitable.live_files"] = median([p["live_files"] for p in warm])
        m["minitable.files_kept_ratio"] = median(
            [c["profile"]["files_kept_ratio"] for c in calls if "files_kept_ratio" in c["profile"]])
        m["minitable.bytes_written"] = median([p["table_bytes"] for p in warm])
        m["minitable.write_amp"] = median([p["table_bytes"] / p["source_bytes"] for p in warm])
        m["minitable.space_amp"] = median([p["table_bytes"] / p["live_bytes"] for p in warm])

    def _streaming(self, m, calls, warm) -> None:
        if not calls:
            return
        n = len(warm)
        start = min(p["wall_start"] for p in warm)
        batches = [b for b in self.batches if _epoch(b["ts"]) >= start]
        if not batches:
            return
        dur = lambda b, *keys: sum(b["dur"].get(k, 0.0) for k in keys)  # noqa: E731
        m["streaming.batches"] = len(batches) / n
        ms = [b["batch_ms"] for b in batches]
        m["streaming.batch_p50_ms"] = median(ms)
        t = tail(ms)
        m["streaming.batch_tail_ms"] = t[1] if t else max(ms)
        m["streaming.trigger_ms"] = median([dur(b, "triggerExecution") for b in batches])
        m["streaming.add_batch_ms"] = median([dur(b, "addBatch") for b in batches])
        m["streaming.offsets_ms"] = median([dur(b, "latestOffset", "getBatch") for b in batches])
        m["streaming.plan_ms"] = median([dur(b, "queryPlanning") for b in batches])
        m["streaming.wal_ms"] = median([dur(b, "walCommit", "commitOffsets") for b in batches])
        m["streaming.state_commit_ms"] = median([b["state_commit_ms"] for b in batches])
        m["streaming.state_rows"] = sum(b["state_rows"] for b in batches) / n
        m["streaming.input_rows"] = sum(b["input_rows"] for b in batches) / n
        idle = []
        for c in calls:
            inside = [b["batch_ms"] for b in batches
                      if c["wall_start"] <= _epoch(b["ts"]) <= c["wall_end"]]
            idle.append(c["s"] - sum(inside) / 1e3)
        m["streaming.start_stop_s"] = sum(idle) / n

    def _self_times(self, m, n) -> None:
        spans = self.tracer.spans
        warm_ids = _warm_span_ids(spans)
        selfs = trace.self_times(spans)
        for sp in spans:
            if sp.id not in warm_ids or sp.name.startswith("pass."):
                continue  # a pass's own time is the benchmark's checks and readers
            key = "trace.unattributed_s" if sp.layer == "bench" else f"self.{sp.layer}_s"
            if key in m:
                m[key] += selfs[sp.id] / n
        m["trace.spans"] = len(warm_ids) / n


def _warm_span_ids(spans) -> set[int]:
    """Spans under any pass after the first."""
    warm: set[int] = set()
    for sp in spans:
        if sp.parent is None:
            if sp.name.startswith("pass.") and sp.name != "pass.0":
                warm.add(sp.id)
        elif sp.parent in warm:
            warm.add(sp.id)
    return warm


def _checked(call, out, rec) -> bool:
    try:
        ok = bool(call.check(out))
    except Exception as e:  # a checker that cannot read the output fails the call
        rec["error"] = f"{call.name}: check raised {type(e).__name__}: {str(e)[:200]}"
        return False
    if not ok:
        rec["error"] = f"{call.name}: wrong output"
    return ok


def _mapped_records(name: str, mr: dict) -> int:
    """Records the task's mapper emits, known from its input."""
    if name == "mr.secondary_sort":
        return len(mr["triples"])
    if name == "mr.overloaded_combine":
        return len(mr["chunks"])
    return sum(mr["counts"].values())


def _epoch(iso: str) -> float:
    from datetime import datetime, timezone

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).astimezone(timezone.utc).timestamp()


def _staging_roots() -> list[str]:
    import tempfile

    uid = f"_{os.getuid()}"
    tmp = tempfile.gettempdir()
    return [os.path.join(tmp, d) for d in os.listdir(tmp) if d.endswith(uid)]


def _staged() -> tuple[int, int]:
    """Directories and bytes under the program's staging roots."""
    dirs = size = 0
    for root in _staging_roots():
        for _d, subdirs, files in os.walk(root):
            dirs += len(subdirs)
            size += sum(os.path.getsize(os.path.join(_d, f)) for f in files)
    return dirs, size


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _s, fs in os.walk(path) for f in fs)


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of this driver process plus its JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def _shipped_zip_hash() -> str | None:
    """Content hash of the package zip shipped to the Python workers (the
    run's TMPDIR is fresh, so any package zip in it is this run's)."""
    import glob
    import hashlib
    import tempfile

    zips = sorted(glob.glob(os.path.join(tempfile.gettempdir(), "tinymr_spark_pkg*.zip")))
    if not zips:
        return None
    with open(zips[-1], "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


if __name__ == "__main__":
    raise SystemExit(main())
