"""Run one benchmark workload in a fresh process and print its metrics.

    python3 perfbench/run.py --workload lakehouse --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  The workload runs in a child process
with its own TMPDIR (so its own staging root and shipped package zip)
under `.perfbench_runs/`.  An untraced run first starts one more child
that only sets up a session, and reports the median (the mean) of the two
set-up times.  The report goes to stdout, every metric with
its unit; the last line is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`.  With `--trace 0` the metrics are
the end-to-end ones, with `--trace 1` the per-layer ones.  The exit code
is 0 only when every output was correct.  A copy of the result, stamped
with the host and run, is kept in `.perfbench_runs/results/`.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TIMEOUT_S = 170  # for all of a run's children together
SETUP_PROBES = 1

sys.path.insert(0, ROOT)

from perfbench import metrics  # noqa: E402
from perfbench.stats import median, sig  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "tinymr_spark")):
        print(f"no tinymr_spark package under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    stamp = host_stamp(cpus)
    stamp.update(workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace)
    stamp["loadavg_before"] = os.getloadavg()
    deadline = time.time() + TIMEOUT_S
    setups = []
    for i in range(0 if args.trace else SETUP_PROBES):
        probe = run_child(args, cpus, deadline, f"setup{i}")
        if probe is None:
            return 1
        setups.append(probe["setup_s"])
    result = run_child(args, cpus, deadline, "run")
    stamp["loadavg_after"] = os.getloadavg()
    if result is None:
        return 1
    if not args.trace:
        setups.append(result["metrics"]["setup_s"])
        result["metrics"]["setup_s"] = median(setups)
        stamp["setup_samples"] = setups
    for k in ("driver_memory", "spark_version", "java_version", "shipped_zip_sha256", "passes",
              "failures"):
        stamp[k] = result.get(k)

    wanted = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    missing = sorted(set(wanted) - set(result["metrics"]))
    if missing:
        print(f"worker did not report {missing}", file=sys.stderr)
        return 1
    report = {
        "correct": result["failed"] == 0 and result["attempted"] > 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": result["metrics"][k], "unit": wanted[k][0]} for k in wanted},
    }
    save(args, stamp, report, result.get("spans_file"))

    print(f"# {args.workload} seed={args.seed} trace={args.trace} cpus={cpus} "
          f"passes={len(result['passes'])} attempted={report['attempted']} "
          f"failed={report['failed']}")
    for f in result["failures"]:
        print(f"# FAILED {f}")
    for k, m in report["metrics"].items():
        print(f"{k:32s} {sig(m['value']):>14s} {m['unit']}")
    print("# run " + json.dumps(stamp, sort_keys=True))
    print(json.dumps(report))
    return 0 if report["correct"] else 1


def run_child(args, cpus: int, deadline: float, role: str) -> dict | None:
    """Run the workload (role `run`) or only a session set-up (any other
    role) in a child process with a fresh TMPDIR, then stop every process
    it started."""
    run_dir = os.path.join(ROOT, ".perfbench_runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{role}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(run_dir, "spark-local"))
    out = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_GRAFT_CPUS=str(cpus),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        # JVM scratch files stay in the run directory too.
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PERFBENCH_SPAWNED=repr(time.time()),
    )
    cmd = [sys.executable, "-m", "perfbench.worker", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--out", out, "--run-dir", run_dir]
    if role != "run":
        cmd.append("--setup-only")
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=max(deadline - time.time(), 1))
    except subprocess.TimeoutExpired:
        print(f"the run did not finish within {TIMEOUT_S} s", file=sys.stderr)
        code = None
    finally:
        stop_group(proc)
    try:
        if code != 0 or not os.path.exists(out):
            print(f"worker ({role}) exited with {code}", file=sys.stderr)
            return None
        with open(out) as f:
            result = json.load(f)
        spans = result.get("spans_file")
        if spans:
            kept = keep_path(args, "spans.jsonl")
            shutil.copyfile(spans, kept)
            result["spans_file"] = kept
        return result
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def stop_group(proc) -> None:
    """Kill the worker's process group (its JVM and Python workers
    included) and wait until none of it is left.  The result file is
    already written, and everything the group wrote is in the run
    directory, so nothing needs a clean shutdown."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)
    print("processes of the workload survived SIGKILL", file=sys.stderr)


def host_stamp(cpus: int) -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": str(cpus),
        "mem_total_gb": round(mem_kb / 2**20, 2),
        "python": platform.python_version(),
        "commit": git_commit(),
        "program_sha256": program_hash(),
    }


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def program_hash() -> str:
    """Content hash of the program's sources, the run's identity when the
    checkout is not a git repository."""
    h = hashlib.sha256()
    for rel in sorted(_program_files()):
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _program_files():
    yield "__spark_entry__.py"
    for d, _s, files in os.walk(os.path.join(ROOT, "tinymr_spark")):
        for name in files:
            if name.endswith(".py"):
                yield os.path.relpath(os.path.join(d, name), ROOT)


def keep_path(args, suffix: str) -> str:
    d = os.path.join(ROOT, ".perfbench_runs", "results")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f"{args.workload}-seed{args.seed}-trace{args.trace}.{suffix}")


def save(args, stamp: dict, report: dict, spans: str | None) -> None:
    with open(keep_path(args, "json"), "w") as f:
        json.dump({"run": stamp, "result": report, "spans": spans}, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    sys.exit(main())
