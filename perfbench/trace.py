"""Spans recorded by the benchmark around calls into the program, and
readers of the work Spark did for a call.

Spans come only from the benchmark's own files: `instrument` wraps a
module's public functions from outside, so the package is not edited.
Spans stay in memory and are written out when the run ends.  The Spark
readers use public status APIs: job tags, the status store, the
Catalyst phase tracker and the final adaptive plan's SQL metrics.
"""

from __future__ import annotations

import functools
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run: str = ""


@dataclass
class Tracer:
    """A stack of open spans on the benchmark's one driver thread."""

    run: str
    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str, layer: str):
        return _SpanCtx(self, name, layer)

    def open(self, name: str, layer: str) -> Span | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, layer, time.perf_counter(), parent=parent, run=self.run)
        self.spans.append(sp)
        self._stack.append(sp.id)
        return sp

    def close(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.end = time.perf_counter()
        popped = self._stack.pop()
        if popped != sp.id:
            raise RuntimeError(f"span {sp.name} closed out of order")

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.tracer, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        self.sp = self.tracer.open(self.name, self.layer)
        return self.sp

    def __exit__(self, *exc):
        self.tracer.close(self.sp)
        return False


def covered(intervals) -> float:
    """Length of the union of `(start, end)` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append((sp.start, sp.end))
    return {sp.id: (sp.end - sp.start) - covered(kids.get(sp.id, ())) for sp in spans}


def instrument(tracer: Tracer, owner, names, layer: str):
    """Replace `owner.<name>` for each name with a wrapper that opens a
    span named `<layer>.<name>`; returns a function that restores them."""
    saved = {n: getattr(owner, n) for n in names}

    def wrap(name, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(f"{layer}.{name}", layer):
                return fn(*args, **kwargs)

        return traced

    for n, fn in saved.items():
        setattr(owner, n, wrap(n, fn))

    def restore():
        for n, fn in saved.items():
            setattr(owner, n, fn)

    return restore


# ---------------------------------------------------------------------------
# Spark-side readers (traced runs only)
# ---------------------------------------------------------------------------


def _items(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def catalyst_phases_ms(df) -> dict[str, float]:
    """Catalyst analysis / optimization / planning time of `df`'s own
    QueryExecution, from its QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    return {kv._1(): float(kv._2().durationMs()) for kv in _items(phases)}


def job_stats(sc, tag: str) -> dict:
    """Work done by the jobs tagged `tag`: job wall (union of job
    intervals), stage and task counts and the summed task metrics of
    every stage, and task skew (max over median run time)."""
    jsc = sc._jsc.sc()
    store = jsc.statusStore()
    no_q = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    q = sc._gateway.new_array(sc._gateway.jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    out = dict(jobs=0, stages=0, tasks=0, task_s=0.0, cpu_s=0.0, gc_s=0.0,
               shuffle_bytes=0, shuffle_records=0, spill_bytes=0, input_bytes=0,
               first_shuffle_bytes=None, skew=[], job_wall_s=0.0)
    intervals = []
    stage_ids = set()
    for jid in jsc.statusTracker().getJobIdsForTag(tag):
        job = store.job(jid)
        out["jobs"] += 1
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        stage_ids.update(_items(job.stageIds()))
    for sid in sorted(stage_ids):
        for st in _items(store.stageData(sid, False, None, False, no_q)):
            if st.status().toString() not in ("COMPLETE", "FAILED"):
                continue  # skipped stages ran in an earlier job
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["task_s"] += st.executorRunTime() / 1e3
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["shuffle_records"] += st.shuffleWriteRecords()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["input_bytes"] += st.inputBytes()
            if out["first_shuffle_bytes"] is None and st.shuffleWriteBytes() > 0:
                out["first_shuffle_bytes"] = st.shuffleWriteBytes()
            summ = store.taskSummary(sid, st.attemptId(), q)
            if summ.isDefined() and st.numCompleteTasks() > 1:
                rt = summ.get().executorRunTime()
                med, mx = rt.apply(0), rt.apply(1)
                if med > 0:
                    out["skew"].append(mx / med)
    out["job_wall_s"] = covered(intervals)
    return out


PYTHON_METRICS = {
    "pythonBootTime": "python_boot_ms",
    "pythonInitTime": "python_init_ms",
    "pythonTotalTime": "python_total_ms",
    "pythonDataSent": "python_bytes",
    "pythonDataReceived": "python_bytes",
}


def plan_stats(df) -> dict:
    """Shuffle exchanges, scans and Python-evaluation SQL metrics of the
    plan `df` last executed (the final adaptive plan, query stages and
    subqueries included)."""
    out = {"exchanges": 0, "scans": 0, "python_boot_ms": 0.0, "python_init_ms": 0.0,
           "python_total_ms": 0.0, "python_bytes": 0.0}
    seen = set()
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        key = node.hashCode(), node.getClass().getName()
        if key in seen:
            continue
        seen.add(key)
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "ShuffleExchangeExec":
            out["exchanges"] += 1
        if "Scan" in cls:
            out["scans"] += 1
        metrics = node.metrics()
        for src, dst in PYTHON_METRICS.items():
            m = metrics.get(src)
            if m.isDefined():
                value = float(m.get().value())
                if m.get().metricType() == "nsTiming":
                    value /= 1e6
                out[dst] += value
        todo.extend(_items(node.children()))
        todo.extend(_items(node.subqueries()))
    return out
