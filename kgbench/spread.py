"""Median and quartile spread of each metric over several benchmark runs.

    for s in 1 2 3 4 5; do
        python3 kgbench/run.py --workload bootstrap --seed $s --seconds 10 > run-$s.txt
    done
    python3 kgbench/spread.py run-*.txt

Each file holds one run's standard output; its last line is the result.
The spread is (Q3 - Q1) / median, the figure a metric's bound in
BENCHMARK.json is judged against.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

from stats import median, quartile_spread


def main(paths: list[str]) -> int:
    values: dict[str, list[float]] = {}
    for path in paths:
        result = json.loads(Path(path).read_text().strip().splitlines()[-1])
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    print(f"{'metric':<40}{'n':>4}{'median':>14}{'spread':>10}")
    for name, vals in values.items():
        spread = quartile_spread(vals) if len(vals) > 1 else float("nan")
        print(f"{name:<40}{len(vals):>4}{median(vals):>14.6g}{spread:>10.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
