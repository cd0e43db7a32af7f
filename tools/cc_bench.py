"""Incremental-vs-full connected-components benchmark (decision record).

Reproduces the BASELINE.md "incremental connected components" measurement:
seed a (vertex, component) assignment over an N-vertex graph, then time

* a FULL connected_components recompute over base ∪ delta, vs
* incremental_components(assignments, delta) — the merge-graph contraction,

and verify the two agree on every vertex. The gap widens with graph size
and diameter: the incremental update's iterative part runs on the
~|delta|-label merge graph no matter how large the accumulated graph is,
while the full recompute pays vertex-keyed shuffles over everything per
round.

Usage: python tools/cc_bench.py [n_vertices] [n_delta_edges] [cores]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    n_delta = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000
    cores = int(sys.argv[3]) if len(sys.argv) > 3 else 16

    from pyspark.sql import functions as F

    from sage_spark.session import build_spark

    spark = build_spark(app_name="cc-bench", master=f"local[{cores}]", shuffle_partitions=2 * cores)
    spark.sparkContext.setLogLevel("ERROR")
    from sage_spark.operators.components import connected_components, incremental_components

    # N vertices in N/4 chain components of 4; delta edges stitch distant
    # components together (and touch a few repeatedly — mild hub skew)
    vid = lambda c: F.concat(F.lit("v"), F.format_string("%09d", c))  # noqa: E731
    base = (
        spark.range(n)
        .select(
            vid(F.col("id")).alias("src"),
            vid(F.col("id") - F.col("id") % 4 + (F.col("id") + 1) % 4).alias("dst"),
        )
        .filter(F.col("src") < F.col("dst"))
    )
    delta = spark.range(n_delta).select(
        vid(F.col("id") * 397 % n).alias("src"),
        vid((F.col("id") * 397 + n // 8 + 1) % n).alias("dst"),
    )

    t0 = time.perf_counter()
    assignments = connected_components(base).localCheckpoint(eager=True)
    n_assign = assignments.count()
    t_seed = time.perf_counter() - t0

    t0 = time.perf_counter()
    inc = incremental_components(assignments, delta).localCheckpoint(eager=True)
    inc.count()
    t_inc = time.perf_counter() - t0

    t0 = time.perf_counter()
    full = connected_components(base.unionByName(delta)).localCheckpoint(eager=True)
    full.count()
    t_full = time.perf_counter() - t0

    mism = (
        inc.withColumnRenamed("component", "c1")
        .join(full, "vertex")
        .filter(F.col("c1") != F.col("component"))
        .count()
    )
    print(
        f"vertices={n_assign} delta_edges={n_delta} cores={cores} "
        f"seed={t_seed:.1f}s full_recompute={t_full:.1f}s incremental={t_inc:.1f}s "
        f"speedup={t_full / t_inc:.1f}x mismatches={mism}"
    )
    assert mism == 0, "incremental result diverged from full recompute"
    spark.stop()


if __name__ == "__main__":
    main()
