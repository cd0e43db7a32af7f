"""Per-query isolation harness for optimization work (guide §1.4).

NOT the measurement artifact — bench.py is frozen for that. This tool times
individual declared queries with the noop sink, best-of-N, and optionally
captures .explain("formatted") to a file, so before/after evidence for
OPTIMIZATION_r06.md comes from isolated runs rather than the full bench.

Usage:
  python bench_extra.py [--sf DIR] [--runs N] [--plans OUTDIR] [query ...]

With no query names, runs the bench.py headline list.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from bench import HEADLINE, bench_queries  # noqa: E402
from sage_spark.session import build_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", default=None)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--plans", default=None, help="directory to write <query>.txt explain output")
    ap.add_argument("--suffix", default="", help="suffix for plan filenames, e.g. _before")
    args = ap.parse_args()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    spark = build_spark(
        app_name="sage-bench-extra", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")

    all_queries = bench_queries()

    names = args.queries or HEADLINE
    # warm up JVM/codegen + python workers like bench.py does
    spark.read.parquet(f"{args.sf}/lineitem.parquet").groupBy("l_returnflag").count().write.format(
        "noop"
    ).mode("overwrite").save()

    timings: dict[str, list[float]] = {}
    for name in names:
        fn = all_queries[name]
        samples = []
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        timings[name] = samples
        if args.plans:
            outdir = Path(args.plans)
            outdir.mkdir(parents=True, exist_ok=True)
            df = fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
            (outdir / f"{name}{args.suffix}.txt").write_text(plan)
        print(json.dumps({name: {"min": min(samples), "samples": samples}}), flush=True)

    out = {n: min(s) for n, s in timings.items()}
    print(json.dumps({"sf": args.sf, "total_min": round(sum(out.values()), 3), "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
