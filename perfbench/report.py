#!/usr/bin/env python3
"""Print the "where the time goes" markdown table of the last traced runs.

    python3 perfbench/run.py --workload bench_small --seed 1 --seconds 5 --trace 1
    python3 perfbench/report.py            # reads .perfbench_out/trace-*.json
"""

from __future__ import annotations

import glob
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.spans import KERNEL_LAYER_NAMES  # noqa: E402

SPARK_ROWS = ("spark.scan_s", "spark.exchange_s")
JOB_ROWS = ("job.stage_input_s", "job.output_write_s", "job.metrics_s", "job.lineage_s",
            "job.resume_s")


def _v(m: dict, name: str) -> float:
    return m[name]["value"]


def kernel_table(m: dict) -> list:
    total = _v(m, "kernel.total_s")
    rows = [(f"{layer}_s", _v(m, f"{layer}_s"), int(_v(m, f"{layer}.calls")))
            for layer in KERNEL_LAYER_NAMES]
    rows.append(("extract.self_s", _v(m, "extract.self_s"), int(_v(m, "kernel.docs"))))
    rows.sort(key=lambda r: -r[1])
    lines = ["| kernel layer | s | share of kernel | calls |", "|---|---:|---:|---:|"]
    for name, s, calls in rows:
        lines.append(f"| `{name}` | {s:.3f} | {100 * s / total:.1f}% | {calls} |")
    lines.append(f"| **kernel total** ({int(_v(m, 'kernel.docs'))} docs, one thread) "
                 f"| {total:.3f} | 100% | |")
    return lines


def stage_table(m: dict) -> list:
    lines = ["| other layer | value |", "|---|---:|"]
    for name in SPARK_ROWS + JOB_ROWS + (
            "spark.shuffle_write_bytes", "spark.task_skew", "spark.gc_ms",
            "arrow.to_pandas_ms", "arrow.from_pandas_ms", "kernel.doc_p50_us",
            "kernel.doc_p99_us", "kernel.docs_per_s_1t", "trace.overhead_pct"):
        if _v(m, name):
            lines.append(f"| `{name}` | {_v(m, name):.4g} {m[name]['unit']} |")
    return lines


def main() -> int:
    paths = sorted(glob.glob(os.path.join(ROOT, ".perfbench_out", "trace-*.json")))
    if not paths:
        print("no traced run found; run perfbench/run.py with --trace 1 first", file=sys.stderr)
        return 1
    for path in paths:
        with open(path) as f:
            run = json.load(f)
        info, m = run["info"], run["metrics"]
        print(f"### {info['workload']} (seed {info['seed']}, {info['cores']} cores, "
              f"control {info['control_ms_per_doc']} ms)\n")
        print("\n".join(kernel_table(m)) + "\n")
        print("\n".join(stage_table(m)) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
