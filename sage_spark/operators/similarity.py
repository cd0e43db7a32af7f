"""Similarity search over embedding columns.

* ``cosine_topk`` — brute-force cosine top-k (the retrieval path R1-R4 of
  SURVEY.md §2.6): vectorized zip_with dot product + TakeOrderedAndProject
  (orderBy().limit() — Catalyst pushes the top-k, no full sort materializes).
* ``lsh_topk`` — random-hyperplane LSH bucketing; probes only matching
  buckets, the 10^12-scale path (bucket join instead of full scan).
* ``ivf_topk`` — inverted-file ANN: k-means-style coarse centroids (sampled
  deterministically), search restricted to the nearest ``n_probe`` cells.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0).cast("double"), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v))


def cosine_to_query(embedding_col: Column, query: list[float]) -> Column:
    q = F.array(*[F.lit(float(v)) for v in query])
    qnorm = math.sqrt(sum(v * v for v in query)) or 1.0
    return _dot(embedding_col, q) / (_norm(embedding_col) * F.lit(qnorm))


def cosine_topk(
    df: DataFrame,
    query: list[float],
    k: int = 3,
    embedding_col: str = "embedding",
    *,
    score_col: str = "similarity",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Exact top-k by cosine. The plan is scan -> project (codegen'd dot
    product) -> TakeOrderedAndProject: no shuffle of the full table, each
    partition forwards only its local top-k.

    An exact similarity tie at the k boundary is broken deterministically by
    ``tiebreak_col`` ascending (default: ``vec_id`` when present) so the
    result is stable across partitionings and matches the serial replay."""
    if tiebreak_col is None and "vec_id" in df.columns:
        tiebreak_col = "vec_id"
    order = [F.col(score_col).desc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    scored = df.withColumn(score_col, cosine_to_query(F.col(embedding_col), query))
    return scored.orderBy(*order).limit(k)


def _hyperplane(dim: int, plane: int, seed: int) -> list[float]:
    """Deterministic pseudo-random unit hyperplane from hashed coordinates."""
    import hashlib

    vals = []
    for d in range(dim):
        h = int.from_bytes(hashlib.sha256(f"{seed}|{plane}|{d}".encode()).digest()[:8], "big")
        vals.append((h / 2**64) * 2.0 - 1.0)
    n = math.sqrt(sum(v * v for v in vals)) or 1.0
    return [v / n for v in vals]


def with_lsh_bucket(
    df: DataFrame,
    embedding_col: str = "embedding",
    *,
    dim: int,
    n_planes: int = 8,
    seed: int = 13,
    out_col: str = "lsh_bucket",
) -> DataFrame:
    """Random-hyperplane (cosine) LSH signature: n_planes sign bits packed
    into one long.

    One numpy matmul per Arrow batch — (batch x dim) @ (dim x n_planes)
    then sign-pack. The pure-column form (n_planes ``aggregate(zip_with(...))``
    HOF lambdas per row, evaluated INTERPRETED outside codegen) measured 2x
    slower on the 20k x 64 table; it is the oracle in tests. The sign of a
    dot product is insensitive to summation order (it would take
    |dot| < 1e-16 to flip), and the similarity SCORE still comes from the
    JVM expression over the pruned candidates, so results are bit-stable
    vs the column form (equality pinned by tests/test_operators.py)."""
    import numpy as np
    import pandas as pd

    planes = np.array([_hyperplane(dim, p, seed) for p in range(n_planes)]).T  # (dim, P)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    # no signature annotations: postponed evaluation (PEP 563) plus the
    # function-scoped pandas import would break pyspark's hint
    # resolution; the return type is declared explicitly
    @F.pandas_udf("long")
    def _bucket(embs):
        mask = embs.notna()
        out = pd.Series([None] * len(embs), dtype="object")
        if mask.any():
            m = np.array(embs[mask].tolist(), dtype=np.float64)
            dots = m @ planes
            out[mask] = ((dots >= 0).astype(np.int64) * weights).sum(axis=1)
        return out

    return df.withColumn(out_col, _bucket(F.col(embedding_col)))


def lsh_topk(
    df: DataFrame,
    query: list[float],
    k: int = 3,
    embedding_col: str = "embedding",
    *,
    n_planes: int = 8,
    seed: int = 13,
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """ANN top-k: restrict the exact scorer to buckets within
    ``multiprobe_hamming`` bit flips of the query's bucket. At scale the
    bucket column is a partition key, so this prunes partitions before any
    scoring happens."""
    dim = len(query)
    bucketed = with_lsh_bucket(df, embedding_col, dim=dim, n_planes=n_planes, seed=seed)
    qbits = 0
    for p in range(n_planes):
        plane = _hyperplane(dim, p, seed)
        if sum(a * b for a, b in zip(query, plane)) >= 0:
            qbits |= 1 << p
    probes = {qbits}
    if multiprobe_hamming >= 1:
        for p in range(n_planes):
            probes.add(qbits ^ (1 << p))
    if multiprobe_hamming >= 2:
        for p in range(n_planes):
            for q in range(p + 1, n_planes):
                probes.add(qbits ^ (1 << p) ^ (1 << q))
    pruned = bucketed.filter(F.col("lsh_bucket").isin(sorted(probes)))
    return cosine_topk(pruned, query, k, embedding_col)


def ivf_topk(
    df: DataFrame,
    query: list[float],
    k: int = 3,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    n_cells: int = 16,
    n_probe: int = 4,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Inverted-file ANN: centroids = deterministic hash-sample of n_cells
    rows (stand-in for a k-means fit); every vector is assigned to its
    nearest centroid once (a broadcast of n_cells small arrays); the query
    searches the n_probe nearest cells only.

    Pass precomputed ``centroids`` (the persisted-centroid-table path) to
    skip the fit entirely — at 100 TB the fit runs once, not per query. The
    default fit is a hash prefilter (keep ~1/16 of rows, partition-order
    independent) followed by a top-n_cells sort of only the surviving rows —
    never a full-table global sort."""
    if centroids is None:
        sample = (
            df.select(id_col, embedding_col)
            .withColumn("__h", F.xxhash64(F.col(id_col).cast("string")))
            .filter(F.pmod(F.col("__h"), F.lit(16)) == 0)
            .orderBy("__h")
            .limit(n_cells)
            .collect()
        )
        if len(sample) < n_cells:  # tiny input: prefilter too aggressive
            sample = (
                df.select(id_col, embedding_col)
                .withColumn("__h", F.xxhash64(F.col(id_col).cast("string")))
                .orderBy("__h")
                .limit(n_cells)
                .collect()
            )
        centroids = [list(map(float, r[embedding_col])) for r in sample]
    if not centroids:
        return cosine_topk(df, query, k, embedding_col)

    # cell = argmax over centroid dot products, built as flat array
    # expressions (transform + array_position) — a nested when-chain here
    # generates pathologically large codegen classes
    centroid_lit = F.array(*[F.array(*[F.lit(v) for v in c]) for c in centroids])
    scores = F.transform(centroid_lit, lambda c: _dot(c, F.col(embedding_col)))
    cell = (F.array_position(scores, F.array_max(scores)) - 1).cast("int")
    assigned = df.withColumn("__cell", cell)
    scored_cells = sorted(
        range(len(centroids)),
        key=lambda i: -sum(a * b for a, b in zip(query, centroids[i])),
    )[:n_probe]
    return cosine_topk(assigned.filter(F.col("__cell").isin(scored_cells)), query, k, embedding_col).drop("__cell")
