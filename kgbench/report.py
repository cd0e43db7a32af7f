"""Print a workload's per-span table from its last traced run.

    python3 kgbench/run.py --workload stream_drain --seed 1 --seconds 20 --trace 1
    python3 kgbench/report.py --workload stream_drain

Columns: wall, Spark jobs, executor CPU, idle core share (1 - executor run
time / (wall x cores)), shuffle bytes written, disk spill and Arrow bytes
to and from Python workers. Below the table: the tracing overhead (traced
run_s minus the median untraced run_s recorded in the same checkout), the
share of the timed phase no span covers, and the executor CPU of the kernel
and upsert spans as a share of the drain's process-tree CPU: roughly how
much of ``cpu_s`` the per-document work can move (the Python workers' CPU
is not executor CPU, and JIT compilation is in neither span).
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

COLUMNS = [
    ("wall_s", "wall s", "{:.3f}"),
    ("jobs", "jobs", "{:d}"),
    ("cpu_s", "cpu s", "{:.3f}"),
    ("idle_core_frac", "idle", "{:.2f}"),
    ("shuffle_bytes", "shuffle B", "{:d}"),
    ("spill_bytes", "spill B", "{:d}"),
    ("python_bytes", "python B", "{:d}"),
]


def format_table(trace: dict) -> str:
    header = f"{'span':<26}" + "".join(f"{title:>12}" for _, title, _ in COLUMNS)
    lines = [f"{trace['workload']} (seed {trace['seed']}), traced run_s {trace['run_s']:.3f}", header]
    for name, row in trace["spans"].items():
        lines.append(f"{name:<26}" + "".join(f"{fmt.format(row[key]):>12}" for key, _, fmt in COLUMNS))
    overhead = trace["tracing_overhead_s"]
    lines.append(
        "tracing overhead: "
        + (
            f"{overhead:+.3f} s against untraced run_s {trace['untraced_run_s']:.3f}"
            if overhead is not None
            else "unknown (no untraced run recorded in this checkout)"
        )
    )
    lines.append(
        f"unattributed: {trace['layers']['trace.unattributed_frac']:.1%} of the timed phase"
    )
    lines.append(
        f"kernel + upsert executor CPU: {trace['kernel_upsert_cpu_s']:.3f} s of"
        f" {trace['cpu_s']:.3f} s process-tree cpu_s"
        f" ({trace['kernel_upsert_cpu_s'] / trace['cpu_s']:.1%})"
    )
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs-dir", default=".kgbench_runs")
    args = ap.parse_args(argv)
    path = Path(args.runs_dir) / f"trace-{args.workload}.json"
    if not path.exists():
        print(f"no traced run recorded at {path}", file=sys.stderr)
        return 1
    print(format_table(json.loads(path.read_text())))
    return 0


if __name__ == "__main__":
    sys.exit(main())
