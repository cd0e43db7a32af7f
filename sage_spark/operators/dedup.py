"""Deduplication operators for web-scale corpora.

Five strategies, from cheapest to fuzziest:

exact            sha2 over normalized text, one hash-groupBy shuffle
minhash_lsh      shingle -> minhash -> band buckets -> within-bucket join
simhash          64-bit similarity hash; near-dups share the hash (or a
                 banded prefix) without any pairwise joins
ngram_jaccard    exact Jaccard over character shingles within LSH candidate
                 pairs (the verification stage of minhash_lsh)
embedding        cosine near-dup over an embedding column

Scale notes: every strategy keys its shuffle on a short hash/bucket column
(never raw text); minhash bands bound the candidate-pair blowup; AQE's skew
join handles hot buckets (boilerplate pages). The minhash signature is one
numpy kernel per Arrow batch (kernel/minhash.py), bit-identical to Spark's
xxhash64 over the same shingles."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .similarity import _dot, _norm
from .spread import spread_input
from .textstats import char_ngrams


def normalized_text(col: Column) -> Column:
    return F.lower(F.regexp_replace(col, r"\s+", " "))


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical (post whitespace/case normalization)
    documents: (fingerprint, dup_count, doc_ids). One shuffle on the hash."""
    return (
        df.select(F.col(id_col), F.sha2(normalized_text(F.col(text_col)), 256).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("dup_count"), F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
        .filter(F.col("dup_count") > 1)
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per fingerprint (deterministic).

    ``min_by(struct(<row>), id)`` instead of a row_number window: identical
    keep decision, but the aggregate partial-combines map-side — each map
    task forwards ONE candidate row per fingerprint it sees, where the
    window form shuffles every duplicate row and sorts it (guide §2.3
    "aggregate before you shuffle"). On a boilerplate-heavy crawl the
    shuffle shrinks by the duplication factor."""
    fp = df.withColumn("__fp", F.sha2(normalized_text(F.col(text_col)), 256))
    kept = fp.groupBy("__fp").agg(
        F.min_by(F.struct(*[F.col(c) for c in df.columns]), F.col(id_col)).alias("__row")
    )
    return kept.select("__row.*")


def minhash_signature_wide(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_len: int = 5,
    num_hashes: int = 64,
) -> DataFrame:
    """MinHash signature as ``num_hashes`` concrete columns mh_0..mh_{n-1}.

    One vectorized numpy kernel per Arrow batch (kernel/minhash.py) —
    shingle windows, the bit-exact XXH64, and the family mins all evaluated
    as matrix ops, no per-shingle anything; map-side only (zero Exchange
    beyond the input spread). Measured at 120k docs (local[16], warm):
    signature 13.8 s -> ~3 s against the all-JVM explode -> xxhash ->
    groupBy-min form, which spends ~half its time in the interpreted HOF
    ``transform`` that builds the shingle array (~1500 substr lambda calls
    per doc). That form is the oracle in tests/test_operators.py, which
    pins the two equal on corpus + edge cases."""
    from pyspark.sql import types as T

    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [T.StructField(id_field.name, id_field.dataType, id_field.nullable)]
        + [T.StructField(f"mh_{i}", T.LongType(), False) for i in range(num_hashes)]
    )

    def compute(batches):
        import numpy as np
        import pandas as pd

        from ..kernel.minhash import family_matrix, signature

        a, b = family_matrix(num_hashes)
        for pdf in batches:
            sigs = np.empty((len(pdf), num_hashes), dtype=np.int64)
            for j, text in enumerate(pdf[text_col].tolist()):
                sigs[j] = signature(text, shingle_len, a, b)
            out = {id_col: pdf[id_col]}
            out.update({f"mh_{i}": sigs[:, i] for i in range(num_hashes)})
            yield pd.DataFrame(out)

    # A small input file arrives as one split and would run the signature
    # single-threaded (the Arrow kernel batches per partition) — spread it
    # first.
    return spread_input(df).select(id_col, text_col).mapInPandas(compute, out_schema)


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_len: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket_size: int = 256,
    observation=None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH: documents agreeing on
    all rows of any band land in the same bucket; bucket join yields pairs.

    rows/band = num_hashes/bands sets the similarity knee (~(1/bands)^(1/rows)).
    Shuffle is on (band, bucket-hash), never on text.

    ``max_bucket_size`` bounds the O(n^2) pair blowup on boilerplate-heavy
    buckets. Truncation is observable: pass a ``pyspark.sql.Observation`` and
    after the first action on the result it reports ``truncated_buckets``
    (buckets over the cap) and ``dropped_pairs`` (candidate pairs lost to the
    cap) — raise the cap to recover them.
    """
    # one (id, band, bucket) row per document per band, bucket = xxhash64
    # over the band's signature rows
    rows_per_band = num_hashes // bands
    sig = minhash_signature_wide(
        df.select(id_col, text_col), text_col, id_col, shingle_len=shingle_len, num_hashes=num_hashes
    )
    banded = sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ":",
                                *[F.col(f"mh_{band * rows_per_band + r}") for r in range(rows_per_band)],
                            )
                        ).alias("bucket"),
                    )
                    for band in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    # Pairs via bucket groupBy + in-array combination instead of a self-join:
    # signatures are computed exactly once, and the only shuffle keys on the
    # short (band, bucket) pair.
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if observation is not None:
        n = F.size("ids").cast("long")
        capped = F.least(n, F.lit(max_bucket_size).cast("long"))
        buckets = buckets.observe(
            observation,
            F.sum((n > max_bucket_size).cast("long")).alias("truncated_buckets"),
            F.sum(n * (n - 1) / 2 - capped * (capped - 1) / 2).cast("long").alias("dropped_pairs"),
        )
    buckets = buckets.withColumn("ids", F.slice("ids", 1, max_bucket_size))
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select(F.col("p.id_a"), F.col("p.id_b")).dropDuplicates(["id_a", "id_b"])


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_len: int = 5,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact character-shingle Jaccard; verifies LSH candidates when given,
    else all-pairs (small inputs only — the oracle path)."""
    # hash shingles to longs once: array_intersect over longs beats string
    # comparison ~5x, and the arrays shuffle smaller
    shingled = df.select(
        F.col(id_col),
        F.array_distinct(
            F.transform(char_ngrams(F.col(text_col), shingle_len), lambda s: F.xxhash64(s))
        ).alias("sh"),
    )
    if candidates is None:
        pairs = (
            shingled.alias("l")
            .join(shingled.alias("r"), F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
            .select(
                F.col(f"l.{id_col}").alias("id_a"),
                F.col(f"r.{id_col}").alias("id_b"),
                F.col("l.sh").alias("sh_a"),
                F.col("r.sh").alias("sh_b"),
            )
        )
    else:
        pairs = (
            candidates.join(shingled.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
            .join(shingled.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    return (
        pairs.withColumn("jaccard", F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0)))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def with_simhash(df: DataFrame, text_col: str = "text", out_col: str = "simhash") -> DataFrame:
    """64-bit SimHash over word tokens: per-bit majority vote of token
    hashes, as pure column arithmetic (bit tests via shiftright/&1)."""
    tokens = F.array_distinct(F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0)))
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    n = F.size(hashes)

    def _vote(bit: int):
        return lambda acc, h: acc + F.shiftright(h, bit).bitwiseAND(F.lit(1)).cast("int")

    bit_votes = [F.aggregate(hashes, F.lit(0), _vote(bit)) for bit in range(64)]
    sim = None
    for bit, vote in enumerate(bit_votes):
        contrib = F.when(vote * 2 >= n, F.lit(1).cast("long") * F.lit(2 ** bit if bit < 63 else -(2**63))).otherwise(
            F.lit(0).cast("long")
        )
        sim = contrib if sim is None else (sim + contrib)
    return df.withColumn(out_col, F.when(n > 0, sim).otherwise(F.lit(0).cast("long")))


def embedding_near_duplicates(
    df: DataFrame,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    threshold: float = 0.95,
) -> DataFrame:
    """Cosine near-dup pairs over an embedding column via zip_with dot
    products. All-pairs: a ``<`` self-join over every id pair, so cost
    grows with the square of the input; a scale path would first block
    candidates on ``similarity.with_lsh_bucket`` bands."""
    vecs = df.select(F.col(id_col), F.col(embedding_col).alias("v"))
    pairs = vecs.alias("l").join(vecs.alias("r"), F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
    lv, rv = F.col("l.v"), F.col("r.v")
    return (
        pairs.select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            (_dot(lv, rv) / (_norm(lv) * _norm(rv))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def near_dup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Cluster-level dedup decisions: pairwise near-dup verdicts alone
    cannot pick survivors (A~B and B~C chain into one group even when A and
    C were never a candidate pair), so the verified pairs become an
    undirected graph, each connected component becomes one duplicate
    cluster, and the minimum id per cluster is the survivor.

    Returns one row per input id: (id_col, cluster_id, is_survivor) where
    cluster_id is the component's min member id (singletons: the id itself,
    is_survivor true).

    Scale shape: the component iteration (components.connected_components,
    O(log n) min-label rounds) runs ONLY over ids that appear in >= 1 pair
    — on a web corpus that's a few percent of documents — never over the
    full corpus; the corpus joins the (small) labeling once, on its own
    partitioning key. Reference near-dup removal is a serial union-find
    (scripts/performance_comparison.py); this is its distributed
    re-expression."""
    from .components import connected_components

    comp = connected_components(pairs, id_a, id_b).withColumnRenamed("vertex", id_col)
    return (
        df.select(id_col)
        .join(comp, id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("cluster_id"),
            (F.col(id_col) == F.coalesce("component", F.col(id_col))).alias("is_survivor"),
        )
    )


def cluster_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Keep exactly one document per near-dup cluster (the min-id member),
    preserving every input column — the keep-side twin of
    ``near_dup_clusters``. Equivalent to a semi-join of the corpus against
    the survivor set; singletons always survive."""
    labels = near_dup_clusters(df.select(id_col), pairs, id_col, id_a=id_a, id_b=id_b)
    return df.join(
        labels.filter(F.col("is_survivor")).select(id_col), id_col, "semi"
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    width: int = 20,
    stride: int = 1,
    min_count: int = 2,
) -> DataFrame:
    """Span-level (substring) duplicate detection: flag every ``width``-token
    window that occurs >= ``min_count`` times anywhere in the corpus —
    document-level dedup misses boilerplate paragraphs repeated inside
    otherwise-unique pages, the dominant duplication mode in web crawls.

    Returns (id_col, pos, n_occurrences, is_first): one row per duplicated
    window occurrence, ``pos`` the 0-based token offset, ``is_first`` true
    for the (doc, pos)-least occurrence of each distinct window (the
    occurrence a span-clipping pass would keep).

    Scale shape: tokenize + window construction are one JVM-side projection
    (transform over sequence — no Python, no explode of raw tokens); the
    explode emits ~tokens/stride rows. Count and first-occurrence both come
    from ONE partial aggregation per span hash — count(*) plus
    min(struct(id, pos)) — joined back to the occurrence stream, so each
    map task forwards a single combined row per span it sees and the
    reducer-side state per span is O(1). The r5 form computed both via
    window functions over the hash partition, which serialized the hottest
    span's ENTIRE occurrence list into one partition (windows cannot
    partial-aggregate or be skew-split); the join-back form partial-
    aggregates map-side and the equi-join is AQE-skew-splittable, removing
    that bound. The aggregate side is also pre-filtered to spans with
    count >= ``min_count`` before the join, so unique spans (the vast
    majority of a healthy corpus) never produce a join match. ``stride`` >
    1 trades recall for an explode-size divisor on petabyte corpora.

    The span stream feeds both the aggregate and the join, so it is
    materialized once (localCheckpoint — the unigram-TF persisted-
    intermediate discipline) rather than re-deriving the tokenize+hash
    projection per consumer. The checkpointed RDD loses its size
    statistics and the planner would otherwise build the JOIN's hash
    relation from the multi-billion-row occurrence stream (measured:
    BuildLeft over the stream — an OOM at scale), so the join carries an
    explicit merge hint: sort-merge never broadcasts either side blind and
    stays AQE-skew-splittable. Measured trade on a planted 2M-occurrence
    single hot span (OPTIMIZATION_r06.md): ~1.6x local wall vs the window
    form, in exchange for removing the bound that serializes the hottest
    span's occurrence list into one task at cluster scale.
    """
    toks = df.select(
        F.col(id_col),
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[A-Za-z0-9]+"), F.lit(0)).alias(
            "__toks"
        ),
    )
    n = F.size(F.col("__toks"))
    spans = F.transform(
        F.sequence(F.lit(0), n - width, F.lit(stride)),
        lambda i: F.struct(
            i.cast("long").alias("pos"),
            F.xxhash64(F.array_join(F.slice(F.col("__toks"), i + 1, width), " ")).alias("h"),
        ),
    )
    ex = (
        toks.filter(n >= width)
        .select(F.col(id_col), F.explode(spans).alias("s"))
        .select(F.col(id_col), F.col("s.pos").alias("pos"), F.col("s.h").alias("__h"))
        .localCheckpoint(eager=True)
    )
    stats = (
        ex.groupBy("__h")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__first"),
        )
        .filter(F.col("n_occurrences") >= min_count)
    )
    return ex.join(stats.hint("merge"), "__h").select(
        id_col,
        "pos",
        "n_occurrences",
        (F.struct(F.col(id_col), F.col("pos")) == F.col("__first")).alias("is_first"),
    )


def clip_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    width: int = 20,
    stride: int = 1,
    min_count: int = 2,
    out_col: str = "text_clipped",
) -> DataFrame:
    """Remove every NON-FIRST occurrence of a duplicated window from each
    document's token stream — the removal pass over ``duplicated_spans``
    flags (the corpus keeps exactly one copy of each repeated span).
    Overlapping removed windows union naturally (a token survives iff no
    removed window covers it), so no interval-merge pass is needed.

    Output is the surviving tokens joined by single spaces: span clipping
    operates on the normalized token stream (the standard form for
    training corpora) — original whitespace/punctuation between tokens is
    not reconstructed.

    Scale shape: one ``duplicated_spans`` pass (a single shuffle), the
    non-first flags aggregated per doc (bounded by each doc's flagged-span
    count, never its length), broadcast-or-hash joined back, and the
    clipping itself is a JVM-side array expression — no Python, no second
    corpus shuffle beyond the per-doc flag aggregation."""
    flags = duplicated_spans(
        df, text_col, id_col, width=width, stride=stride, min_count=min_count
    )
    removed = (
        flags.filter(~F.col("is_first"))
        .groupBy(id_col)
        .agg(F.collect_list("pos").alias("__rm"))
    )
    toks = df.withColumn(
        "__toks",
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[A-Za-z0-9]+"), F.lit(0)),
    )
    joined = toks.join(removed, id_col, "left").withColumn(
        "__rm", F.coalesce(F.col("__rm"), F.array().cast("array<bigint>"))
    )
    idxs = F.sequence(F.lit(0), F.size("__toks") - 1)
    survivors = F.filter(
        idxs,
        lambda i: ~F.exists(
            F.col("__rm"), lambda s: (i.cast("long") >= s) & (i.cast("long") < s + width)
        ),
    )
    clipped = F.array_join(
        F.transform(survivors, lambda i: F.element_at(F.col("__toks"), i + 1)), " "
    )
    return joined.withColumn(
        out_col, F.when(F.size("__toks") > 0, clipped).otherwise(F.lit(""))
    ).drop("__toks", "__rm")
