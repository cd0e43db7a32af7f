"""Scale measurement for the round-5 graph-analytics operators
(operators/communities.py + operators/triangles.py) — the decision record
behind their BASELINE.md entries.

Builds a seeded random power-law-ish graph (each vertex gets edges to
hash-derived targets, so hub skew is real), then times on one session:

* label_propagation, 5 synchronous rounds (the contract setting),
* core_numbers to convergence (reports the rounds the H-index needed),
* triangle_counts (degree-oriented wedge enumeration).

Prints one JSON line. The point is not the absolute numbers (host windows
swing — see BASELINE.md) but (a) per-round cost scaling linearly in |E|,
(b) H-index convergence staying in single-digit rounds at 10^6 edges, the
property that makes it cheaper than degeneracy-many peel rounds.

Usage: python tools/graph_analytics_bench.py [n_vertices] [avg_degree] [cores]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    avg_deg = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    cores = int(sys.argv[3]) if len(sys.argv) > 3 else 16

    from pyspark.sql import functions as F

    from sage_spark.session import build_spark

    spark = build_spark(
        app_name="graph-analytics-bench", master=f"local[{cores}]", shuffle_partitions=2 * cores
    )
    spark.sparkContext.setLogLevel("ERROR")

    from sage_spark.operators.communities import core_numbers, label_propagation
    from sage_spark.operators.triangles import triangle_counts

    # skewed random graph: target id = (h/n)*(h mod n) mod n, the product of
    # two independent uniform residues — multiplication biases the product
    # toward low ids, so low-id vertices become hubs. pmod (not abs): abs of
    # Long.MIN_VALUE stays negative and would format an out-of-range vertex
    src = spark.range(n * avg_deg).select(
        (F.col("id") % n).alias("s"), (F.col("id") / n).cast("long").alias("k")
    )
    edges = (
        src.withColumn("h", F.pmod(F.xxhash64("s", "k"), F.lit(n * n)))
        .withColumn("u", F.format_string("v%08d", "s"))
        .withColumn("v", F.format_string("v%08d", (F.col("h") / n).cast("long") * (F.col("h") % n) % n))
        .filter(F.col("u") != F.col("v"))
        .select("u", "v")
        .localCheckpoint(eager=True)
    )
    m = edges.count()

    t0 = time.time()
    lpa = label_propagation(edges, iterations=5)
    n_comm = lpa.select("community").distinct().count()
    t_lpa = time.time() - t0

    t0 = time.time()
    cores_df = core_numbers(edges, max_iterations=100)
    stats = cores_df.agg(
        F.max("core").alias("max_core"), F.count("*").alias("n_vertices")
    ).collect()[0]
    t_core = time.time() - t0

    t0 = time.time()
    tri = triangle_counts(edges)
    total_tri = tri.agg(F.sum("triangles").alias("t")).collect()[0]["t"]
    t_tri = time.time() - t0

    print(
        json.dumps(
            {
                "n_vertices": n,
                "n_edges": m,
                "cores": cores,
                "lpa_5_rounds_sec": round(t_lpa, 2),
                "lpa_communities": n_comm,
                "core_numbers_sec": round(t_core, 2),
                "max_core": int(stats["max_core"]),
                "vertices_with_degree": int(stats["n_vertices"]),
                "triangle_counts_sec": round(t_tri, 2),
                "total_triangle_incidences": int(total_tri),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
