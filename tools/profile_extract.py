"""Pure-Python profile of stage 3's row function (no Spark).

Calls ``kernel/claims.document_claims`` — the function
operators/extraction.py::extract_claims_stage maps over every documents row
— on the documents rows of the deterministic synthetic corpus
(``kernel/expected.expected_documents``: real content-hash doc_ids, English
pages, content-deduplicated), and prints cProfile hotspots plus a plain
wall-clock docs/sec. Use it to find per-row Python cost inside the
byte-identity-pinned cascade (guide §4: the boundary is already Arrow; this
is the Python critical path itself).

Usage: python tools/profile_extract.py [n_pages] [--profile]
"""

from __future__ import annotations

import cProfile
import pstats
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from sage_spark.datagen import build_groups, build_persons  # noqa: E402
from sage_spark.kernel.claims import document_claims  # noqa: E402
from sage_spark.kernel.entities import EntityCatalog  # noqa: E402
from sage_spark.kernel.expected import expected_documents  # noqa: E402

RUN_TS = "2026-05-01T00:00:00+00:00"
N_PERSONS, SEED = 50, 7


def run(docs: list[dict], catalog: EntityCatalog) -> int:
    return sum(len(document_claims(doc, catalog, RUN_TS)) for doc in docs)


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    do_profile = "--profile" in sys.argv
    catalog = EntityCatalog(build_persons(N_PERSONS, SEED), build_groups())
    docs = expected_documents(n_pages, N_PERSONS, SEED)
    # warm (regex compile etc.)
    run(docs[:500], catalog)
    if do_profile:
        prof = cProfile.Profile()
        t0 = time.perf_counter()
        prof.enable()
        n_claims = run(docs, catalog)
        prof.disable()
        dt = time.perf_counter() - t0
        stats = pstats.Stats(prof)
        stats.sort_stats("cumulative").print_stats(35)
        stats.sort_stats("tottime").print_stats(25)
    else:
        t0 = time.perf_counter()
        n_claims = run(docs, catalog)
        dt = time.perf_counter() - t0
    print(f"docs={len(docs)} claims={n_claims} wall={dt:.3f}s rate={len(docs)/dt:.0f} docs/s")


if __name__ == "__main__":
    main()
