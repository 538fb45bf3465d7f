"""The workloads and every metric the benchmark reports: name -> (unit,
better).

BENCHMARK.json lists the same names; the unit tests keep the two equal.
"""

from __future__ import annotations

WORKLOADS = ("mr_face", "lakehouse")

END_TO_END = {
    "setup_s": ("s", "lower"),
    "warm_s": ("s", "lower"),
}

_L = "lower"
_H = "higher"

PER_LAYER = {
    # session: process set-up and the memory the driver and its JVM hold
    "session.get_session_s": ("s", _L),
    "session.ensure_shipped_s": ("s", _L),
    "session.peak_rss_mb": ("MB", _L),
    # sources: standing indexes and staged copies
    "sources.staged_dirs_cold": ("count", _L),
    "sources.staged_dirs_warm": ("count", _L),
    "sources.staged_bytes": ("bytes", _L),
    # operators: registered queries, per pass
    "operators.build_s": ("s", _L),
    "operators.action_s": ("s", _L),
    "operators.analysis_ms": ("ms", _L),
    "operators.optimization_ms": ("ms", _L),
    "operators.planning_ms": ("ms", _L),
    "operators.jobs": ("count", _L),
    "operators.stages": ("count", _L),
    "operators.tasks": ("count", _L),
    "operators.task_s": ("s", _L),
    "operators.cpu_s": ("s", _L),
    "operators.gc_s": ("s", _L),
    "operators.shuffle_bytes": ("bytes", _L),
    "operators.shuffle_records": ("count", _L),
    "operators.spill_bytes": ("bytes", _L),
    "operators.input_bytes": ("bytes", _L),
    "operators.skew": ("ratio", _L),
    "operators.parallelism": ("ratio", _H),
    "operators.exchanges": ("count", _L),
    "operators.scans": ("count", _L),
    "operators.python_boot_ms": ("ms", _L),
    "operators.python_init_ms": ("ms", _L),
    "operators.python_total_ms": ("ms", _L),
    "operators.python_bytes": ("bytes", _L),
    # mapreduce: the benchmark's own MapReduce tasks, per pass
    "mapreduce.call_s": ("s", _L),
    "mapreduce.local_s": ("s", _L),
    "mapreduce.driver_s": ("s", _L),
    "mapreduce.map_records": ("count", _L),
    "mapreduce.shuffle_records": ("count", _L),
    "mapreduce.shuffle_bytes": ("bytes", _L),
    "mapreduce.combine_ratio": ("ratio", _L),
    "mapreduce.task_s": ("s", _L),
    "mapreduce.gc_s": ("s", _L),
    "mapreduce.skew": ("ratio", _L),
    # minitable: the versioned table, per pass
    "minitable.append_s": ("s", _L),
    "minitable.merge_s": ("s", _L),
    "minitable.update_s": ("s", _L),
    "minitable.delete_s": ("s", _L),
    "minitable.optimize_s": ("s", _L),
    "minitable.checkpoint_s": ("s", _L),
    "minitable.read_s": ("s", _L),
    "minitable.read_asof_s": ("s", _L),
    "minitable.scan_s": ("s", _L),
    "minitable.change_feed_s": ("s", _L),
    "minitable.write_p50_s": ("s", _L),
    "minitable.write_tail_s": ("s", _L),
    "minitable.read_p50_s": ("s", _L),
    "minitable.read_tail_s": ("s", _L),
    "minitable.log_versions": ("count", _L),
    "minitable.live_files": ("count", _L),
    "minitable.files_kept_ratio": ("ratio", _L),
    "minitable.log_opens": ("count", _L),
    "minitable.driver_s": ("s", _L),
    "minitable.bytes_written": ("bytes", _L),
    "minitable.write_amp": ("ratio", _L),
    "minitable.space_amp": ("ratio", _L),
    # streaming: micro-batches seen by a StreamingQueryListener, per pass
    "streaming.batches": ("count", _L),
    "streaming.batch_p50_ms": ("ms", _L),
    "streaming.batch_tail_ms": ("ms", _L),
    "streaming.trigger_ms": ("ms", _L),
    "streaming.add_batch_ms": ("ms", _L),
    "streaming.offsets_ms": ("ms", _L),
    "streaming.plan_ms": ("ms", _L),
    "streaming.wal_ms": ("ms", _L),
    "streaming.state_rows": ("count", _L),
    "streaming.state_commit_ms": ("ms", _L),
    "streaming.input_rows": ("count", _L),
    "streaming.start_stop_s": ("s", _L),
    # the trace itself: self time per layer, per pass
    "self.session_s": ("s", _L),
    "self.sources_s": ("s", _L),
    "self.operators_s": ("s", _L),
    "self.mapreduce_s": ("s", _L),
    "self.minitable_s": ("s", _L),
    "self.streaming_s": ("s", _L),
    "trace.unattributed_s": ("s", _L),
    "trace.spans": ("count", _L),
    "trace.cold_s": ("s", _L),
    "trace.warm_s": ("s", _L),
    "trace.profile_s": ("s", _L),
}
