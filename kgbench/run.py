"""Run one benchmark workload and print its metrics as one JSON line.

From the repository root:

    python3 kgbench/run.py --workload bootstrap --seed 1 --seconds 20 --trace 0
    python3 kgbench/run.py --workload stream_drain --seed 1 --seconds 20 --trace 1
    python3 kgbench/report.py --workload stream_drain   # the traced run's span table

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones from a separate traced run (Spark event log and span recorder on).
``--record`` (with ``--trace 1 --seed 1``) stores the default seed's table
and read-output digests in ``kgbench/expected.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from pathlib import Path

EXPECTED = Path(__file__).resolve().parent / "expected.json"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args(argv)

    root = Path.cwd()
    sys.path.insert(0, str(root))
    # Python workers import the engine from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH")) if p
    )
    from kgbench.tracing import layer_unit
    from kgbench.workloads import DEFAULT_SEED, WORKLOADS, record_run, run_workload

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    traced = bool(args.trace)
    if args.record and not (traced and args.seed == DEFAULT_SEED):
        ap.error(f"--record needs --trace 1 --seed {DEFAULT_SEED}")
    expected = json.loads(EXPECTED.read_text()) if EXPECTED.exists() else {}
    # a run that records checks against nothing recorded yet
    result = run_workload(
        args.workload, args.seed, args.seconds, traced, root, {} if args.record else expected
    )
    record_run(root, result, traced)

    if args.record:
        expected[args.workload] = {
            "seed": args.seed,
            "store": result["store_digests"],
            "reads": result["read_digests"],
        }
        EXPECTED.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    for failure in result["failures"]:
        print(f"FAILED: {failure}")
    print("cpu control (sha256 MB/s, before/after): "
          + " / ".join(f"{c:.1f}" for c in result["control_mb_per_s"]))
    if traced:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in result["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()}
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    for name, (value, unit) in result["wall"].items():
        print(f"{name} = {value:.6g} {unit} (wall clock, not bounded)")
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
