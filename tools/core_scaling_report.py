"""Combine core_scaling_<cpus>cpu.json runs into the per-query
core-ratio table (plans/r16/core_scaling_125x.md).

core_ratio = t_125x(8 cores) / t_125x(32 cores): ~4 means the row uses
the extra cores fully at 125x; ~1 means it is fixed-cost- or
serial-bound.  The 1x columns show why the driver's sf0.1 scaling block
cannot see this (fixed costs dominate at sf0.1).
"""

from __future__ import annotations

import json
import os
from pathlib import Path

base = Path(__file__).resolve().parents[1] / "plans" / os.environ.get("PLANS_ROUND", "r16")


def main() -> None:
    lo, hi = 8, 32
    a = json.load(open(f"{base}/core_scaling_{hi}cpu.json"))
    b = json.load(open(f"{base}/core_scaling_{lo}cpu.json"))
    n = a["n_copies"]
    assert b["n_copies"] == n
    lines = [
        f"# Per-query core scaling at {n}x staged data ({lo} vs {hi} cores)",
        "",
        "Generated by tools/core_scaling_report.py from "
        f"core_scaling_{{{lo},{hi}}}cpu.json (tools/core_scaling_probe.py; "
        "min-of-2 per cell, warm plans, same staged data).",
        "",
        f"core_ratio = t_{n}x@{lo}c / t_{n}x@{hi}c — ~{hi//lo} means the "
        "extra cores are fully used at scale; ~1 means fixed-cost/serial "
        f"bound.  The sf0.1 (1x) columns show why the driver's scaling "
        "block is uninformative at that SF.",
        "",
        f"| query | 1x@{hi}c | {n}x@{hi}c | 1x@{lo}c | {n}x@{lo}c | core_ratio@{n}x | core_ratio@1x |",
        "|---|---|---|---|---|---|---|",
    ]
    key = f"t_{n}x"
    for name in a["rows"]:
        ra, rb = a["rows"][name], b["rows"].get(name)
        if not rb:
            continue
        cr = rb[key] / ra[key] if ra[key] else float("nan")
        cr1 = rb["t_1x"] / ra["t_1x"] if ra["t_1x"] else float("nan")
        lines.append(
            f"| {name} | {ra['t_1x']:.2f} | {ra[key]:.2f} | {rb['t_1x']:.2f} "
            f"| {rb[key]:.2f} | **{cr:.2f}** | {cr1:.2f} |"
        )
    out = f"{base}/core_scaling_125x.md"
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))
    print(f"# wrote {out}")


if __name__ == "__main__":
    main()
