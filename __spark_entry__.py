"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship KG-construction query;
``queries()`` exposes one callable per implemented operator (SURVEY.md §2
plus the training-data operator suite); ``oracle_sql()`` gives the DuckDB
equivalent for every SQL-expressible entry. Column aliases match 1:1
between the Spark results and the oracle SQL.

Float-valued results are rounded (ROUND(x, N)) identically on both sides so
the order-insensitive value-hash is robust to engine-level FP noise.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession, functions as F

from sage_spark.datagen import build_groups, build_persons, synth_webtext
from sage_spark.kernel.embed import hash_embedding
from sage_spark.kernel.expected import CHUNK_COLS, CLAIM_COLS, FACT_COLS
from sage_spark.operators.canonicalize import canonicalize_claims, split_facts
from sage_spark.operators.chunking import build_chunks
from sage_spark.operators.components import canonical_entity_components, claim_entity_edges
from sage_spark.operators.dedup import (
    embedding_near_duplicates,
    exact_duplicates,
    minhash_lsh_candidates,
    near_dup_clusters,
    ngram_jaccard_pairs,
    with_simhash,
)
from sage_spark.operators.extraction import extract_claims_stage
from sage_spark.operators.multimodal import extract_audio_features, extract_image_features
from sage_spark.operators.similarity import cosine_topk, ivf_topk, lsh_topk
from sage_spark.operators.textstats import (
    TOKEN_PATTERN,
    token_count,
    with_fingerprint,
    with_language_id,
    with_quality_stats,
)
from sage_spark.pipeline import new_documents

SYNTH_DOCS = 300
SYNTH_PERSONS = 20
SEED = 7
RUN_TS = "2026-05-01T00:00:00+00:00"

# fixed ANN query vector, baked identically into the oracle SQL literals
QUERY_VEC = hash_embedding("sage-ann-query", 64)
_QUERY_VEC_SQL = "[" + ", ".join(f"{v!r}" for v in QUERY_VEC) + "]::DOUBLE[]"

_EN = ["the", "and", "of", "to", "is", "in", "that", "it", "for", "was"]
_DE = ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "für", "auf"]
_FR = ["le", "la", "les", "et", "est", "une", "pour", "dans", "que", "pas"]
_ES = ["el", "la", "los", "y", "es", "una", "para", "en", "que", "no"]


def _t(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(_t(sf_dir, name))


def _read_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read + input-spread for the per-row-CPU-heavy queries (regex stats,
    hashing, vector math, Arrow kernels): the driver tables are single
    parquet files with 1-2 row groups, so their scans arrive as 1-2 splits
    and the expensive projection would run on 1-2 cores of local[N]. The
    spread guard round-robins such inputs across the session parallelism
    first (operators/spread.py); at warehouse scale (many splits) it is an
    exact no-op. Measured r6 at sf1: text_language_id 8.3 s -> 0.9 s,
    text_quality 9.2 s -> 2.8 s from the spread alone."""
    from sage_spark.operators.spread import spread_input

    return spread_input(_read(spark, sf_dir, name))


# --------------------------------------------------------------------------
# KG pipeline queries (synthetic webtext; deterministic at any parallelism)
# --------------------------------------------------------------------------

# The synthetic contract queries run on ~300 docs: at the session default
# (32-200 shuffle partitions) each of their dozens of exchanges launches
# dozens of near-empty tasks, and that fixed overhead — not the operators —
# dominated the round-4 wall times (chat_unread_counts 7.9 s, kg_insight
# 6.7 s were ~all exchange scheduling). Every registry entry therefore
# declares its input class: synthetic-tiny queries run at 4 shuffle
# partitions, parquet-backed queries restore the session's own setting.
# Results are partitioning-invariant (hash identities + explicit ordering),
# so this is a latency knob only; at real scale callers size the session
# conf / AQE, not this.
_TINY_SHUFFLE = "4"
_SESSION_SHUFFLE: dict[int, str] = {}


def _set_shuffle(spark: SparkSession, tiny: bool) -> None:
    key = id(spark)
    if key not in _SESSION_SHUFFLE:
        _SESSION_SHUFFLE[key] = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", _TINY_SHUFFLE if tiny else _SESSION_SHUFFLE[key]
    )


T = TypeVar("T")


def _per_session(build: Callable[[SparkSession], T]) -> Callable[[SparkSession], T]:
    """Memoize ``build`` per Spark session: the first call in a session
    computes (and pins) the result, later calls in it return that object."""
    built: dict[int, T] = {}

    @functools.wraps(build)
    def cached(spark: SparkSession) -> T:
        key = id(spark)
        if key not in built:
            built[key] = build(spark)
        return built[key]

    return cached


@_per_session
def _synth_claims(spark: SparkSession) -> DataFrame:
    """Deterministic synthetic claims; memoized per session (several KG
    queries share it — the driver runs them all, so compute the kernel
    chain once and localCheckpoint the result)."""
    webtext, persons_df = synth_webtext(spark, SYNTH_DOCS, n_persons=SYNTH_PERSONS, seed=SEED)
    persons = [r.asDict() for r in persons_df.collect()]
    docs = new_documents(webtext, None, "en")
    return extract_claims_stage(docs, persons, build_groups(), run_ts=RUN_TS).localCheckpoint(
        eager=True
    )


@_per_session
def _synth_union(spark: SparkSession) -> DataFrame:
    """Canonicalized claim/fact union over the synthetic claims; memoized
    per session like _synth_claims — three contract queries (facts_current,
    facts_with_evidence, insight) share the cogrouped mutation replay, so
    compute it once and pin it."""
    return canonicalize_claims(_synth_claims(spark), None, seen_at=RUN_TS).localCheckpoint(
        eager=True
    )


@_per_session
def _synth_messages(spark: SparkSession) -> DataFrame:
    """The synthetic chat message log, memoized per session: all three chat
    contract queries walk the same log, so derive it once and pin it (the
    _synth_claims discipline, extended per the round-4 verdict)."""
    from sage_spark.operators.chat import messages_from_webtext

    webtext, _ = synth_webtext(spark, SYNTH_DOCS, n_persons=SYNTH_PERSONS, seed=SEED)
    return messages_from_webtext(webtext).localCheckpoint(eager=True)


def q_kg_claims(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _synth_claims(spark).select(*CLAIM_COLS)


def q_kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    claims = _synth_claims(spark)
    return claims.select(
        F.coalesce("subject_entity_id", "subject_key").alias("subj"),
        F.col("predicate").alias("pred"),
        F.coalesce("object_entity_id", "object_key").alias("obj"),
        F.col("claim_id"),
    )


def q_kg_facts_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    facts = split_facts(_synth_union(spark))
    return facts.filter(F.col("status") == "current").select(*FACT_COLS)


def q_kg_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    webtext, _ = synth_webtext(spark, SYNTH_DOCS, n_persons=SYNTH_PERSONS, seed=SEED)
    return build_chunks(new_documents(webtext, None, "en"), embed=False).select(*CHUNK_COLS)


def q_kg_entity_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    persons_df = spark.createDataFrame(
        [(p["id"], p["name"], p["role"], p["email"], p["is_user"]) for p in build_persons(SYNTH_PERSONS, SEED)],
        "id string, name string, role string, email string, is_user boolean",
    )
    return canonical_entity_components(persons_df)


def _person_edges_split() -> tuple[list[tuple[str, str]], list[tuple[str, str]]]:
    """The kg_entity_components co-reference edge set, deterministically split
    into (base, delta): every third edge of the sorted list is the delta
    batch, so replaying delta incrementally must re-merge components the base
    pass left apart (a person's id↔email and id↔name edges usually land on
    opposite sides of the cut)."""
    edges: list[tuple[str, str]] = []
    for p in build_persons(SYNTH_PERSONS, SEED):
        if p.get("email"):
            edges.append((p["id"], p["email"].lower()))
        if p.get("name"):
            edges.append((p["id"], p["name"].lower()))
    edges.sort()
    base = [e for i, e in enumerate(edges) if i % 3 != 2]
    delta = [e for i, e in enumerate(edges) if i % 3 == 2]
    return base, delta


def q_kg_components_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental connected components: assignments from a base-edge batch,
    then the delta batch folded in via the component-graph contraction
    (operators/components.incremental_components) — the per-crawl-batch
    canonicalization update. Oracled against the SAME DuckDB recursive-CTE
    transitive closure as kg_entity_components over the FULL edge set, so a
    green row proves incremental == full recompute by an independent
    algorithm."""
    from sage_spark.operators.components import connected_components, incremental_components

    base, delta = _person_edges_split()
    schema = "src string, dst string"
    assignments = connected_components(spark.createDataFrame(base, schema))
    out = incremental_components(assignments, spark.createDataFrame(delta, schema))
    return out.orderBy("vertex")


# --------------------------------------------------------------------------
# Relational / analytics queries over the driver-provided tables
# --------------------------------------------------------------------------

def q_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2098-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    return (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(F.count("*").alias("order_count"), F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .orderBy("n_name")
    )


def q_join_top_brands_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("p_brand").asc())
        .limit(10)
    )


def q_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no high-value order (left anti join, P4/J10 pattern)."""
    customer = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        customer.join(orders.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


def q_semi_suppliers_with_recent_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = _read(spark, sf_dir, "supplier")
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") >= F.lit("2001-11-01"))
    return (
        supplier.join(li.select(F.col("l_suppkey").alias("s_suppkey")), "s_suppkey", "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


def q_window_top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    # top-1 per customer as max(struct(price, -orderkey)): identical row
    # choice to the row_number window (max price, then min orderkey) but the
    # aggregate partial-combines map-side — one candidate per customer per
    # map task crosses the exchange instead of every order row, and no
    # per-partition sort (guide §2.3). Measured r6 at sf1: 1.97 s -> 0.98 s.
    orders = _read(spark, sf_dir, "orders")
    top = orders.groupBy("o_custkey").agg(
        F.max(
            F.struct(
                F.col("o_totalprice").alias("p"), (-F.col("o_orderkey")).alias("nk")
            )
        ).alias("__top")
    )
    return top.select(
        "o_custkey",
        (-F.col("__top.nk")).alias("o_orderkey"),
        F.round("__top.p", 2).alias("top_totalprice"),
    ).orderBy("o_custkey")


def q_window_degree_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _read(spark, sf_dir, "events")
    return (
        events.groupBy("user_id")
        .agg(F.count("*").alias("event_count"))
        .orderBy(F.col("event_count").desc(), F.col("user_id").asc())
        .limit(10)
    )


def q_agg_event_type_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _read(spark, sf_dir, "events")
    return (
        events.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .orderBy("day", "event_type")
    )


def q_ist_display_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: render event timestamps in IST for display."""
    from sage_spark.operators.graph import ist_display

    events = _read(spark, sf_dir, "events")
    return events.filter(F.col("event_id") < 200).select(
        "event_id", ist_display(F.col("ts")).alias("ist_time")
    ).orderBy("event_id")


def q_graph_one_hop_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: undirected one-hop expansion over a customer->order edge list."""
    from sage_spark.operators.graph import expand_one_hop

    orders = _read(spark, sf_dir, "orders")
    edges = orders.select(
        F.col("o_custkey").cast("string").alias("src"),
        F.col("o_orderkey").cast("string").alias("dst"),
        F.lit("PLACED").alias("type"),
    )
    seeds = (
        _read(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 20)
        .select(F.col("c_custkey").cast("string").alias("id"))
    )
    return expand_one_hop(seeds, edges).orderBy("seed", "neighbor", "direction")


def q_graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity triangle count + clustering coefficient over the
    co-purchase graph (parts co-mentioned by an order — the lineitem stand-in
    for entity co-mention in a document). The Spark side enumerates via the
    skew-bounded DEGREE orientation (out-degree <= O(sqrt(m)) per vertex);
    the oracle enumerates via the simple id orientation — identical
    triangle sets, so the hash match doubles as a differential check of
    the orientation trick."""
    from sage_spark.operators.triangles import co_mention_edges, triangle_counts

    mentions = _read(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("doc_id"),
        F.col("l_partkey").cast("long").alias("entity_id"),
    )
    out = triangle_counts(co_mention_edges(mentions))
    return out.select(
        F.col("entity").cast("long").alias("entity"), "degree", "triangles", "clustering"
    ).orderBy("entity")


def q_agg_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup aggregation: (event_type, day) with subtotals and grand total."""
    events = _read(spark, sf_dir, "events")
    return (
        events.withColumn("day", F.to_date("ts"))
        .rollup("event_type", "day")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .orderBy(F.col("event_type").asc_nulls_first(), F.col("day").asc_nulls_first())
    )


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessionization of the events table: per user, the
    session count and the largest session's event count
    (operators/rollup.py)."""
    from sage_spark.operators.rollup import batch_sessionize

    events = _read(spark, sf_dir, "events")
    sessions = batch_sessionize(events, gap_seconds=1800)
    return sessions.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
    ).orderBy("user_id")


def q_recency_weighted_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _read(spark, sf_dir, "events")
    anchor = F.to_date(F.lit("2026-01-01"))
    score = F.lit(0.18) * F.exp(-F.datediff(anchor, F.to_date("ts")).cast("double") / F.lit(21.0))
    return (
        events.groupBy("user_id")
        .agg(F.round(F.sum(score * F.col("value")), 4).alias("recency_value"))
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Text analysis / dedup / similarity over documents + embeddings
# --------------------------------------------------------------------------

def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read_spread(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("text_chars"),
    ).orderBy("doc_id")


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read_spread(spark, sf_dir, "documents")
    stats = with_quality_stats(docs, "text")
    return stats.select(
        "doc_id",
        "n_tokens",
        F.round("alpha_ratio", 6).alias("alpha_ratio"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("mean_token_len", 6).alias("mean_token_len"),
    ).orderBy("doc_id")


def q_text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read_spread(spark, sf_dir, "documents")
    return with_language_id(docs, "text").select("doc_id", "lang_pred").orderBy("doc_id")


def q_text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style keep/drop gate: the doc ids that survive the quality
    thresholds."""
    from sage_spark.operators.textstats import quality_filter

    docs = _read_spread(spark, sf_dir, "documents")
    kept = quality_filter(docs, "text", min_tokens=20, min_alpha_ratio=0.6, min_stopword_ratio=0.005)
    return kept.select("doc_id").orderBy("doc_id")


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read_spread(spark, sf_dir, "documents")
    return with_fingerprint(docs, "text").select("doc_id", "fingerprint").orderBy("doc_id")


def q_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no input spread here: sha2 is cheap per row, and the groupBy
    # redistributes anyway — a pre-shuffle only adds an exchange (measured)
    docs = _read(spark, sf_dir, "documents")
    groups = exact_duplicates(docs, "text", "doc_id")
    return groups.select("fingerprint", "dup_count", F.explode("doc_ids").alias("doc_id")).orderBy(
        "fingerprint", "doc_id"
    )


def q_dedup_exact_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    # this query only needs the surviving doc_ids, so it skips the full-row
    # exact_dedup operator for a narrow (fingerprint, min_id) partial
    # aggregate — same keep rule (min id per fingerprint), but the exchange
    # carries two short columns instead of whole document rows
    docs = _read(spark, sf_dir, "documents")
    fp = docs.select(
        F.sha2(F.lower(F.regexp_replace(F.col("text"), r"\s+", " ")), 256).alias("__fp"),
        "doc_id",
    )
    return fp.groupBy("__fp").agg(F.min("doc_id").alias("doc_id")).select("doc_id").orderBy("doc_id")


def q_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read_spread(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    top = cosine_topk(emb, QUERY_VEC, k=10)
    return top.select("vec_id", F.round("similarity", 6).alias("similarity")).orderBy(
        F.col("similarity").desc(), F.col("vec_id").asc()
    )


def q_dedup_embedding_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read_spread(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    pairs = embedding_near_duplicates(emb, "embedding", "vec_id", threshold=0.5)
    return pairs.select("id_a", "id_b", F.round("cosine", 6).alias("cosine")).orderBy("id_a", "id_b")


# --- rows-only checks (not ANSI-SQL-expressible; driver does weaker check) ---

def q_dedup_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 8 bands x 8 rows: similarity knee ~(1/8)^(1/8) = 0.77, the right
    # operating point for near-dup detection (4-row bands admit ~0.5-similar
    # pairs, a quadratic candidate blowup on boilerplate-heavy corpora).
    # doc_id < 500 keeps the serial xxhash64-replay oracle cheap at any sf;
    # bench.py runs the unsliced operator for the perf signal.
    docs = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 500)
        .withColumn("doc_id", F.col("doc_id").cast("string"))
    )
    return minhash_lsh_candidates(docs, "text", "doc_id", shingle_len=5, num_hashes=64, bands=8).orderBy(
        "id_a", "id_b"
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic 500-doc slice: keeps the DuckDB all-pairs oracle exact
    # and tractable at any sf (O(n^2) list intersections driver-side). The
    # unsliced scale path is exercised by dedup_minhash_candidates + bench.
    docs = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 500)
        .withColumn("doc_id", F.col("doc_id").cast("string"))
    )
    cands = minhash_lsh_candidates(docs, "text", "doc_id", shingle_len=5, num_hashes=64, bands=8)
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", shingle_len=5, threshold=0.5, candidates=cands)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")).orderBy("id_a", "id_b")


def q_dedup_near_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level near-dedup decisions: LSH candidates -> exact-Jaccard
    verification (>= 0.5, same operating point as dedup_ngram_jaccard) ->
    connected components -> min-id survivor per cluster. Pairwise verdicts
    cannot pick survivors once A~B and B~C chain; this is the operator a
    keep-one-per-group dedup actually needs (the reference removes near-dups
    with a serial union-find; operators/dedup.near_dup_clusters is the
    distributed re-expression). Oracle: the all-pairs DuckDB Jaccard (exact
    at this slice) + a recursive-CTE transitive closure — an independent
    algorithm for both the pair set and the components."""
    docs = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 500)
        .withColumn("doc_id", F.col("doc_id").cast("string"))
    )
    cands = minhash_lsh_candidates(docs, "text", "doc_id", shingle_len=5, num_hashes=64, bands=8)
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", shingle_len=5, threshold=0.5, candidates=cands)
    out = near_dup_clusters(docs, pairs.select("id_a", "id_b"), "doc_id")
    return out.orderBy("doc_id")


def q_dedup_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level (substring) duplicate detection: every 13-token window
    occurring >= 2 times across the 500-doc slice, with its occurrence
    count and the first-occurrence flag a clipping pass would keep. The
    operator groups on xxhash64 of the window; the DuckDB oracle groups on
    the window STRING itself — an independent formulation that also proves
    the corpus has no 64-bit hash collision at this scale."""
    from sage_spark.operators.dedup import duplicated_spans

    docs = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 500)
        .withColumn("doc_id", F.col("doc_id").cast("string"))
    )
    out = duplicated_spans(docs, "text", "doc_id", width=13, min_count=2)
    return out.select(
        "doc_id", F.col("pos").cast("long").alias("pos"),
        F.col("n_occurrences").cast("long").alias("n_occurrences"), "is_first",
    ).orderBy("doc_id", "pos")


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mixture sampling (the data-mixing step of a pre-training run):
    downsample sources to EXACTLY a 40/35/25 mass mixture over src0/src3/
    src5, the largest corpus achievable without upsampling. All threshold
    arithmetic is BIGINT integer division, bit-reproducible in any engine
    (no float knife edges); selection is the deterministic sha256 bucket
    of (source, doc_id)."""
    from sage_spark.operators.corpus import mix_to_weights

    docs = _read(spark, sf_dir, "documents")
    out = mix_to_weights(
        docs,
        {"src0": 400_000, "src3": 350_000, "src5": 250_000},
        stratum_col="source",
        key="doc_id",
        mass_col="n_chars",
    )
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "source").orderBy("doc_id")


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read_spread(spark, sf_dir, "documents")
    return with_simhash(docs, "text").select("doc_id", "simhash").orderBy("doc_id")


def q_sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read_spread(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    top = lsh_topk(emb, QUERY_VEC, k=10, n_planes=8, multiprobe_hamming=2)
    return top.select("vec_id", F.round("similarity", 6).alias("similarity")).orderBy(
        F.col("similarity").desc(), F.col("vec_id").asc()
    )


def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read_spread(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    top = ivf_topk(emb, QUERY_VEC, k=10, n_cells=16, n_probe=8)
    return top.select("vec_id", F.round("similarity", 6).alias("similarity")).orderBy(
        F.col("similarity").desc(), F.col("vec_id").asc()
    )


def _planted_neighbors(spark: SparkSession, n: int = 10, eps: float = 0.05) -> DataFrame:
    """Deterministic planted near-duplicates of QUERY_VEC (cos ~0.999): the
    only genuine near neighbors in the near-uniform synthetic embedding
    table, giving ANN recall a real ground truth to recover."""
    import math as _math

    rows = []
    for i in range(n):
        noise = hash_embedding(f"sage-ann-plant-{i}", 64)
        v = [q + eps * z for q, z in zip(QUERY_VEC, noise)]
        nrm = _math.sqrt(sum(x * x for x in v)) or 1.0
        rows.append((1000001 + i, [x / nrm for x in v], -1))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")


def _recall_vs_exact(spark: SparkSession, sf_dir: str, ann_fn) -> DataFrame:
    """ANN recall@10 against the (already-oracled) exact cosine top-k, over
    the embeddings table plus 10 planted near-duplicates of the query — the
    exact top-10 is provably the planted set (real vectors top out at cosine
    ~0.35), so the ANN path must recover all 10. Semi-join of the two top-k
    id sets; no driver-side set math."""
    emb = (
        _read_spread(spark, sf_dir, "embeddings")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
        .select("vec_id", "embedding", "label")
        .unionByName(_planted_neighbors(spark))
    )
    exact = cosine_topk(emb, QUERY_VEC, k=10).select("vec_id")
    ann = ann_fn(emb).select("vec_id")
    return ann.join(exact, "vec_id", "left_semi").agg(F.count("*").alias("hits")).select(
        # the planted set guarantees the full top-10 is recoverable, and the
        # oracle hardcodes hits=10 — assert the same invariant here
        F.lit(10).cast("long").alias("k"), F.col("hits"), (F.col("hits") >= 10).alias("recall_ok")
    )


def q_sim_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall_vs_exact(
        spark, sf_dir, lambda emb: lsh_topk(emb, QUERY_VEC, k=10, n_planes=8, multiprobe_hamming=2)
    )


def q_sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall_vs_exact(
        spark, sf_dir, lambda emb: ivf_topk(emb, QUERY_VEC, k=10, n_cells=16, n_probe=8)
    )


# fixed retrieval query whose focus terms never occur in the synthetic
# haystacks, so the oracle-side rank reduces to pure cosine similarity
_PS_QUERY = "what did I say about this"
_PS_QVEC_SQL = "[" + ", ".join(f"{v!r}" for v in hash_embedding(_PS_QUERY, 64)) + "]::DOUBLE[]"


def q_retrieval_person_scoped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/R2: the person-scoped retrieval pass — a SEPARATE cosine top-k over
    the user's documents unioned with the global top-k (reference
    PERSON_GRAPH_VECTOR_QUERY, services.py:62-89). Embeddings table plays the
    chunk store; label-1 vectors are the user's documents."""
    from datetime import datetime, timezone

    from sage_spark.operators.retrieval import retrieve

    emb = _read(spark, sf_dir, "embeddings")
    chunks = emb.select(
        F.col("vec_id").cast("string").alias("chunk_id"),
        F.col("vec_id").cast("string").alias("doc_id"),
        F.concat(F.lit("v"), F.col("vec_id").cast("string")).alias("summary"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    documents = emb.select(
        F.col("vec_id").cast("string").alias("doc_id"),
        F.lit("s").alias("subject"),
        F.concat(F.lit("u"), F.col("label").cast("string")).alias("sender"),
        F.lit(None).cast("string").alias("timestamp"),
    )
    facts = spark.createDataFrame(
        [],
        "fact_id string, canonical_key string, claim_type string, status string, "
        "subject_key string, subject_entity_id string, object_key string, object_entity_id string, "
        "summary string, first_seen_at string, last_seen_at string, embedding array<double>",
    )
    edges = emb.filter(F.col("label") == 1).select(
        F.lit("u1").alias("src"),
        F.col("vec_id").cast("string").alias("dst"),
        F.lit("SENT").alias("type"),
    )
    out = retrieve(
        chunks,
        documents,
        facts,
        _PS_QUERY,
        user_id="u1",
        edges=edges,
        now=datetime(2026, 1, 1, tzinfo=timezone.utc),
        k=10,
    )
    return out.select(
        "identifier", "kind", F.round("rank_score", 6).alias("rank_score"), "doc_id"
    ).orderBy(F.col("rank_score").desc(), F.col("identifier").asc())


def _trace_oracle_sql(which: str) -> str:
    """DuckDB oracle for the trace queries: the person-scoped chunk CTE plus
    the three literal facts, with the trace columns (paths, relationship,
    hop count, matched entities) built by the same deterministic rules. The
    expected matched-entity lists are hand-derived goldens of the
    displayable rule over the literal fact fields."""
    fact_matched = {
        "f_alpha": "['alice smith', 'u1', 'acme corp']",
        "f_beta": "['bob jones', 'u1']",
        "f_gamma": "['delta team']",
    }
    fact_boost = {"f_alpha": 0.25, "f_beta": 0.1, "f_gamma": 0.0}
    fact_vals = ",\n                ".join(
        "('{fid}', {boost!r}, {matched}, {vec})".format(
            fid=fid,
            boost=fact_boost[fid],
            matched=fact_matched[fid],
            vec="[" + ", ".join(f"{v!r}" for v in hash_embedding(seed, 64)) + "]::DOUBLE[]",
        )
        for fid, _ck, _ct, _sk, _se, _ok, _oe, _summ, seed in _TRACE_FACT_DEFS
    )
    body = f"""
            WITH scored AS (
                SELECT CAST(vec_id AS VARCHAR) AS identifier, label,
                       list_dot_product(CAST(embedding AS DOUBLE[]), {_PS_QVEC_SQL})
                       / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                          * sqrt(list_dot_product({_PS_QVEC_SQL}, {_PS_QVEC_SQL}))) AS sim
                FROM embeddings
            ), topk_global AS (
                SELECT identifier, label, sim FROM scored ORDER BY sim DESC, identifier LIMIT 3
            ), topk_person AS (
                SELECT identifier, label, sim FROM scored WHERE label = 1 ORDER BY sim DESC, identifier LIMIT 3
            ), chunk_merged AS (
                SELECT identifier, max(sim) AS sim, max(label) AS label
                FROM (SELECT * FROM topk_global UNION ALL SELECT * FROM topk_person)
                GROUP BY identifier
            ), chunk_rows AS (
                SELECT identifier, 'chunk' AS kind, 'RELATED_TO' AS relationship,
                       round(sim, 4) AS similarity, round(sim, 4) AS rank_score,
                       'Person -(SENT|RECEIVED_BY)- Document(' || identifier || ') <-PART_OF- Chunk(' || identifier || ')' AS retrieval_path,
                       2 AS hop_count, identifier AS doc_id, 's' AS subject,
                       'u' || CAST(label AS VARCHAR) AS sender,
                       ['u' || CAST(label AS VARCHAR), 's'] AS matched_entities
                FROM chunk_merged
            ), fact_defs(identifier, boost, matched_entities, femb) AS (VALUES
                {fact_vals}
            ), fact_rows AS (
                SELECT identifier, 'fact' AS kind, 'CANONICAL_FACT' AS relationship,
                       round(sim, 4) AS similarity, round(sim + 0.05 + boost, 4) AS rank_score,
                       'Person -> CanonicalFact -> Document' AS retrieval_path,
                       2 AS hop_count, CAST(NULL AS VARCHAR) AS doc_id,
                       CAST(NULL AS VARCHAR) AS subject, CAST(NULL AS VARCHAR) AS sender,
                       matched_entities
                FROM (
                    SELECT identifier, boost, matched_entities,
                           list_dot_product(femb, {_PS_QVEC_SQL})
                           / (sqrt(list_dot_product(femb, femb))
                              * sqrt(list_dot_product({_PS_QVEC_SQL}, {_PS_QVEC_SQL}))) AS sim
                    FROM fact_defs
                )
            ), all_rows AS (
                SELECT * FROM chunk_rows UNION ALL SELECT * FROM fact_rows
            ), ranked AS (
                SELECT *, CAST(row_number() OVER (ORDER BY rank_score DESC, identifier ASC) AS INT) AS rank
                FROM all_rows
            )"""
    if which == "evidence":
        # the driver's hasher can't factorize list cells, so the contract
        # serializes the array deterministically; the operator API keeps it
        return body + (
            "\n            SELECT * REPLACE (array_to_string(matched_entities, '|')"
            " AS matched_entities) FROM ranked ORDER BY rank"
        )
    return body + """
            SELECT CAST(count(*) AS BIGINT) AS result_count,
                   CAST(max(hop_count) AS BIGINT) AS max_hop_count,
                   min_by(retrieval_path, rank) AS retrieval_path,
                   true AS user_scoped
            FROM ranked"""


# --- retrieval trace (reference services.py:1159-1329) ---------------------
# the person-scoped chunk scenario plus three literal facts chosen to
# exercise the CANONICAL_FACT branch, the personalization boosts, and every
# displayable-entity filter rule (machine keys, numeric ids, NULLs)
_TRACE_FACT_DEFS = [
    # fact_id, canonical_key, claim_type, subject_key, subject_entity_id,
    # object_key, object_entity_id, summary, embedding seed
    ("f_alpha", "employment::alice", "EMPLOYMENT", "alice smith", "u1", "acme corp", None, "alice employment record", "fact alpha"),
    ("f_beta", "meeting::sync", "MEETING", "reports_to::x", None, "bob jones", "u1", "team sync notes", "fact beta"),
    ("f_gamma", "status::delta", "STATUS_UPDATE", "12345", None, "delta team", None, "delta status", "fact gamma"),
]


def _trace_inputs(spark: SparkSession, sf_dir: str):
    emb = _read(spark, sf_dir, "embeddings")
    chunks = emb.select(
        F.col("vec_id").cast("string").alias("chunk_id"),
        F.col("vec_id").cast("string").alias("doc_id"),
        F.concat(F.lit("v"), F.col("vec_id").cast("string")).alias("summary"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    documents = emb.select(
        F.col("vec_id").cast("string").alias("doc_id"),
        F.lit("s").alias("subject"),
        F.concat(F.lit("u"), F.col("label").cast("string")).alias("sender"),
        F.lit(None).cast("string").alias("timestamp"),
    )
    edges = emb.filter(F.col("label") == 1).select(
        F.lit("u1").alias("src"),
        F.col("vec_id").cast("string").alias("dst"),
        F.lit("SENT").alias("type"),
    )
    fact_rows = [
        (fid, ck, ct, "current", sk, se, ok_, oe, summ, None, None, hash_embedding(seed, 64))
        for fid, ck, ct, sk, se, ok_, oe, summ, seed in _TRACE_FACT_DEFS
    ]
    facts = spark.createDataFrame(
        fact_rows,
        "fact_id string, canonical_key string, claim_type string, status string, "
        "subject_key string, subject_entity_id string, object_key string, object_entity_id string, "
        "summary string, first_seen_at string, last_seen_at string, embedding array<double>",
    )
    return chunks, documents, facts, edges


def q_retrieval_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The user-facing retrieval trace: ranked evidence rows with
    relationship labels, retrieval-path strings, hop counts, supporting-doc
    fields, and displayable matched entities (reference trace assembly,
    services.py:1159-1329; displayable rule services.py:758-780)."""
    from datetime import datetime, timezone

    from sage_spark.operators.retrieval import trace_evidence

    chunks, documents, facts, edges = _trace_inputs(spark, sf_dir)
    ev = trace_evidence(
        chunks, documents, facts, _PS_QUERY,
        user_id="u1", edges=edges, now=datetime(2026, 1, 1, tzinfo=timezone.utc), k=10,
    )
    # contract hasher can't factorize array cells (round-3 red) — serialize;
    # the trace_evidence operator itself keeps the array form for API users
    return ev.withColumn("matched_entities", F.array_join("matched_entities", "|"))


def q_retrieval_trace_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trace header: result_count / max_hop_count / top retrieval path
    (reference services.py:1319-1329)."""
    from datetime import datetime, timezone

    from sage_spark.operators.retrieval import trace_evidence, trace_summary

    chunks, documents, facts, edges = _trace_inputs(spark, sf_dir)
    ev = trace_evidence(
        chunks, documents, facts, _PS_QUERY,
        user_id="u1", edges=edges, now=datetime(2026, 1, 1, tzinfo=timezone.utc), k=10,
    )
    return trace_summary(ev, user_scoped=True)


def q_kg_facts_with_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: current facts joined to their first supporting document."""
    from sage_spark.operators.canonicalize import split_edges
    from sage_spark.operators.graph import facts_with_evidence

    claims = _synth_claims(spark)
    union = _synth_union(spark)
    facts = split_facts(union).filter(F.col("status") == "current")
    edges = split_edges(union)
    docs = claims.select("doc_id").distinct().select(
        "doc_id", F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"), F.lit(RUN_TS).alias("timestamp")
    )
    out = facts_with_evidence(facts, edges, claims.select("claim_id", "doc_id"), docs)
    return out.select("fact_id", "canonical_key", "evidence_doc_id").orderBy("fact_id")


def q_multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fully distributed: scan -> Arrow payload synthesis -> one MapInPandas
    # decode stage; no driver round-trip (plan-tested in
    # tests/test_plans.py::test_multimodal_plan_single_mapinpandas_over_scan).
    # doc_id < 100 (not limit) so the subset is deterministic and oracle-able.
    # Payloads are REAL PNG/GIF containers (datagen.synth_media_payload) and
    # the decode runs strict — the round-4 dimension stub is gone; the
    # oracle is a serial no-Spark replay of the same payload rule + header
    # parse (see _expected_docs_dir).
    def _payload_fn(doc_id):
        from sage_spark.datagen import synth_media_payload

        return doc_id.map(lambda i: synth_media_payload(int(i)))

    _payload = F.pandas_udf(_payload_fn, "binary")

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = docs.select(
        F.concat(F.lit("img-"), F.format_string("%03d", "doc_id")).alias("media_id"),
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("image").alias("media_type"),
        F.lit("image/png").alias("mime"),
        _payload(F.col("doc_id")).alias("payload"),
        F.lit(None).cast("string").alias("meta_json"),
    )
    feats = extract_image_features(media, strict=True)
    return feats.select(
        "media_id",
        "content_sha256",
        "fmt",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("bit_depth").cast("long").alias("bit_depth"),
        F.col("n_channels").cast("long").alias("n_channels"),
    ).orderBy("media_id")


def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the audio twin of q_multimodal_image_features: scan -> Arrow payload
    # synthesis -> one MapInPandas decode stage, no driver round-trip.
    # Payloads are REAL PCM WAV containers (datagen.synth_audio_payload) and
    # the decode runs strict (operators/multimodal.parse_audio_header walks
    # the RIFF chunk list for real); the oracle is the payload-construction
    # FORMULA replayed serially (see _expected_docs_dir).
    def _payload_fn(doc_id):
        from sage_spark.datagen import synth_audio_payload

        return doc_id.map(lambda i: synth_audio_payload(int(i)))

    _payload = F.pandas_udf(_payload_fn, "binary")

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = docs.select(
        F.concat(F.lit("aud-"), F.format_string("%03d", "doc_id")).alias("media_id"),
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("audio").alias("media_type"),
        F.lit("audio/wav").alias("mime"),
        _payload(F.col("doc_id")).alias("payload"),
        F.lit(None).cast("string").alias("meta_json"),
    )
    feats = extract_audio_features(media, strict=True)
    return feats.select(
        "media_id",
        "content_sha256",
        "fmt",
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.col("n_channels").cast("long").alias("n_channels"),
        F.col("bit_depth").cast("long").alias("bit_depth"),
        F.col("n_frames").cast("long").alias("n_frames"),
        F.col("duration_ms").cast("long").alias("duration_ms"),
    ).orderBy("media_id")


def q_chat_participations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTICIPATES_IN edge materialization (chat_store.py:236-297)."""
    from sage_spark.operators.chat import participations

    return participations(_synth_messages(spark)).orderBy("person_id", "conversation_id")


def q_text_pii_redacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass (emails/phones/IPs -> typed placeholders); compared by
    content hash of the redacted text."""
    from sage_spark.operators.textstats import redact_pii

    docs = _read_spread(spark, sf_dir, "documents")
    out = redact_pii(docs, "text")
    return out.select("doc_id", F.sha2("text_redacted", 256).alias("redacted_sha")).orderBy("doc_id")


def q_text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (dup-line fraction, top-bigram
    fraction) per document."""
    from sage_spark.operators.textstats import with_repetition_stats

    docs = _read_spread(spark, sf_dir, "documents")
    return with_repetition_stats(docs, "text", "doc_id").orderBy("doc_id")


def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram LM-proxy quality score per document."""
    from sage_spark.operators.textstats import with_unigram_logprob

    docs = _read_spread(spark, sf_dir, "documents")
    return with_unigram_logprob(docs, "text", "doc_id").orderBy("doc_id")


def q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-keyed 10% sample: stable across partitioning,
    retries, and re-runs (operators/corpus.py)."""
    from sage_spark.operators.corpus import deterministic_sample

    docs = _read(spark, sf_dir, "documents")
    return deterministic_sample(docs, "doc_id", 0.1).select("doc_id").orderBy("doc_id")


def q_corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum rates over the source column (downsample one stratum,
    drop another, keep the rest)."""
    from sage_spark.operators.corpus import stratified_sample

    docs = _read(spark, sf_dir, "documents")
    out = stratified_sample(docs, "doc_id", "source", {"src0": 0.25, "src1": 0.0}, default_rate=1.0)
    return out.select("doc_id", "source").orderBy("doc_id")


def q_corpus_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sage_spark.operators.corpus import corpus_stats

    docs = _read(spark, sf_dir, "documents")
    return corpus_stats(docs, "source", length_col="n_chars").orderBy("group_key")


def q_corpus_host_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (operators/corpus.cap_per_group): keep the 40
    lexicographically-smallest doc_ids per source — the giant-host guard.
    Skew-aware: under-cap sources pass through without entering the window;
    only over-cap groups' rows pay the ordered repartition."""
    from sage_spark.operators.corpus import cap_per_group

    docs = _read(spark, sf_dir, "documents").select("doc_id", "source")
    return cap_per_group(docs, "source", 40, "doc_id").orderBy("doc_id")


def q_corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per-document count of distinct 8-gram
    overlaps with an eval set (operators/decontam.py). The eval set derives
    deterministically from the corpus itself — tokens 11-18 of every 37th
    document — guaranteeing true positives at every SF."""
    from sage_spark.operators.decontam import decontaminate

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), F.lit(0))
    bench = (
        docs.filter(F.col("doc_id") % 37 == 0)
        .select(F.array_join(F.slice(toks, 11, 8), " ").alias("text"))
        .filter(F.length("text") > 0)
    )
    return decontaminate(docs, bench, n=8).orderBy("doc_id")


def q_corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (operators/packing.py): the
    deterministic two-phase-cumsum layout of the corpus into 2048-token
    packs; the oracle recomputes it with one global window."""
    from sage_spark.operators.packing import pack_sequences
    from sage_spark.operators.textstats import token_count

    docs = _read(spark, sf_dir, "documents").withColumn(
        "n_toks", token_count(F.col("text")).cast("long")
    )
    return pack_sequences(
        docs, token_col="n_toks", id_col="doc_id", window=2048, n_shards=8
    ).orderBy("doc_id")


def q_web_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + registered-domain extraction
    (operators/urlops.py) over deterministically messy synthetic URLs —
    mixed-case hosts, default ports, fragments, tracking params, unordered
    query strings; the oracle states the expected canonical form per case."""
    from sage_spark.operators.urlops import canonicalize_url, host_of, registered_domain

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    k = (F.col("doc_id") % 7).cast("string")
    i = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 4
    url = (
        F.when(m == 0, F.concat(F.lit("HTTPS://WWW.Example"), k, F.lit(".COM:443/p/"), i, F.lit("?utm_source=news&b=2&a=1#frag")))
        .when(m == 1, F.concat(F.lit("http://Example"), k, F.lit(".com:80/")))
        .when(m == 2, F.concat(F.lit("https://sub.example"), k, F.lit(".CO.UK/path/?gclid=1")))
        .otherwise(F.concat(F.lit("http://example"), k, F.lit(".com/p?z=1&y=2&utm_campaign=x")))
    )
    canon = canonicalize_url(url)
    return docs.select(
        "doc_id",
        canon.alias("canonical_url"),
        registered_domain(host_of(canon)).alias("registered_domain"),
    ).orderBy("doc_id")


def q_web_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Site-level boilerplate removal (operators/boilerplate.py): two
    footer lines are planted on every page of each source, and the
    ≥90%-of-site rule must strip exactly them; the oracle replays the whole
    rule generically in SQL (no hardcoded expectations)."""
    from sage_spark.operators.boilerplate import strip_boilerplate

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.lit("\n(c) site "), F.col("source"), F.lit(" footer"),
            F.lit("\nAll rights reserved"),
        ).alias("text"),
    )
    out = strip_boilerplate(docs, group_col="source", min_docs=2, frac=0.9)
    return out.select(
        "doc_id", F.sha2(F.col("text_clean"), 256).alias("clean_sha"), "n_lines_removed"
    ).orderBy("doc_id")


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank over the entity mention graph (subject -> object of
    resolved claims), the iterative-algorithm path; oracled against a serial
    replay of the same fixed-iteration recurrence."""
    from sage_spark.operators.pagerank import pagerank

    edges = claim_entity_edges(_synth_claims(spark))
    ranks = pagerank(edges, damping=0.85, iterations=20)
    return ranks.select("v", F.round("rank", 6).alias("rank")).orderBy("v")


def _synth_entity_edges(spark: SparkSession) -> DataFrame:
    """The entity mention graph shared by the iterative graph queries:
    subject -> object pairs of fully-resolved synthetic claims."""
    return claim_entity_edges(_synth_claims(spark)).toDF("u", "v")


def q_graph_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation over the entity mention
    graph (operators/communities.py); oracled against a serial replay of
    the same vote + smallest-label tie-break at the same iteration count."""
    from sage_spark.operators.communities import label_propagation

    out = label_propagation(_synth_entity_edges(spark), iterations=5)
    return out.orderBy("entity")


def q_graph_core_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core numbers over the entity mention graph via the iterated
    neighbourhood H-index (operators/communities.py); the oracle is the
    serial min-degree PEEL — a different algorithm whose output provably
    equals the H-index fixed point, so the hash match is a real
    differential check, not a replay of the same code path."""
    from sage_spark.operators.communities import core_numbers

    out = core_numbers(_synth_entity_edges(spark))
    return out.select("entity", F.col("core").cast("long").alias("core")).orderBy("entity")


def q_graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the two smallest entity ids — the
    GraphRAG retrieval-relevance score ("entities by proximity to the
    query's focus entities") over the mention graph; oracled against a
    serial replay of the seed-teleport recurrence."""
    from sage_spark.operators.pagerank import personalized_pagerank

    edges = claim_entity_edges(_synth_claims(spark))
    verts = edges.select(F.col("src").alias("x")).unionByName(
        edges.select(F.col("dst").alias("x"))
    )
    seeds = [r["x"] for r in verts.distinct().orderBy("x").limit(2).collect()]
    ranks = personalized_pagerank(edges, seeds, damping=0.85, iterations=20)
    return ranks.select("v", F.round("rank", 6).alias("rank")).orderBy("v")


def q_agg_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable continuous aggregate: hour buckets from raw events, day
    buckets REAGGREGATED from the hour level (operators/rollup.py).

    Values travel as exact integer cents and the mean as integer-division
    micro-units: every output cell is integer arithmetic, so the oracle can
    never diverge on a float round-half knife edge (sf0.001 exhibited
    round(54.2028125, 6) differing between Spark and DuckDB)."""
    from sage_spark.operators.rollup import hypertable_rollup

    events = _read(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("bigint")
    )
    out = hypertable_rollup(events, ts_col="ts", value_col="cents", levels=("hour", "day"))
    return out.select(
        "granularity",
        "bucket",
        "n",
        F.col("sum_value").cast("bigint").alias("sum_cents"),
        F.col("min_value").cast("bigint").alias("min_cents"),
        F.col("max_value").cast("bigint").alias("max_cents"),
        F.expr("CAST(sum_value AS BIGINT) * 10000 DIV n").alias("mean_microunits"),
    ).orderBy("granularity", "bucket")


def q_join_asof_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every event gains the user's latest signup event
    at-or-before its timestamp (operators/temporal_joins.py; one shuffle)."""
    from sage_spark.operators.temporal_joins import asof_join

    events = _read(spark, sf_dir, "events")
    signups = events.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("event_id").alias("signup_event_id")
    )
    out = asof_join(events, signups, on="user_id", right_cols=["signup_event_id"])
    return out.select("event_id", F.col("asof_signup_event_id").alias("last_signup_event_id")).orderBy(
        "event_id"
    )


def q_join_range_after_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: events landing within one hour after a same-user purchase
    (binned equi-join before the exact range predicate)."""
    from sage_spark.operators.temporal_joins import range_join

    events = _read(spark, sf_dir, "events")
    windows = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("window_id"),
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end"),
    )
    out = range_join(events, windows, on="user_id", bin_seconds=3600)
    return out.select("event_id", "window_id").orderBy("event_id", "window_id")


def q_chat_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation dimension + PARTICIPATES_IN derivation over the message
    log (chat_store.py:236-297 as one groupBy)."""
    from sage_spark.operators.chat import conversations

    convs = conversations(_synth_messages(spark))
    return convs.select(
        "conversation_id", "conversation_type", "group_id", "n_messages", "updated_at"
    ).orderBy("conversation_id")


def q_chat_message_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 (backend.py:564-574): the two-hop user->conversation<-message
    access check as a broadcast semi-join, for the hub user EMP001."""
    from sage_spark.operators.chat import message_access, participations

    msgs = _synth_messages(spark)
    acc = message_access(msgs, participations(msgs), "EMP001")
    return acc.select("message_id", "conversation_id").orderBy("message_id")


def q_chat_unread_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAS_READ edges + per-conversation unread tally for the hub user
    (chat_store.py:589-609 read marking, 1039-1046 unread count): senders
    always self-read; recipients read the sha-marked message subset (a
    deterministic, engine-portable rule — kernel/expected.read_subset_marker)."""
    from sage_spark.operators.chat import participations, read_edges, unread_counts

    # the plan references msgs four times (reads x2, parts, unread scan);
    # the session-memoized checkpoint pins it once for all chat queries
    msgs = _synth_messages(spark)
    parts = participations(msgs)
    marked = msgs.filter(
        F.substring(F.sha2(F.col("message_id"), 256), 1, 1).isin(*"01234567")
    )
    reads = (
        read_edges(msgs)
        .unionByName(read_edges(marked, parts=parts, mark_recipient_read=True))
        .dropDuplicates(["person_id", "message_id"])
    )
    out = unread_counts(msgs, parts, reads, "EMP001")
    return out.orderBy("conversation_id")


def q_kg_insight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The insight surface (saia.py:1278-1460): per-claim evidence rows with
    fact links, supersedence predecessors, and display decoration — the
    message->docs->claims->facts walk as one distributed join pipeline and
    the saia.py:1998-2084 display rewrite as broadcast lookups + one CASE
    template column. Oracled against a serial nested-loop replay
    (kernel/expected.expected_insight) over the same synthetic KG."""
    from sage_spark.kernel.entities import EntityCatalog
    from sage_spark.operators.canonicalize import split_edges
    from sage_spark.operators.insight import (
        message_insight,
        with_display_labels,
        with_display_text,
    )

    claims = _synth_claims(spark)
    union = _synth_union(spark)
    facts = split_facts(union)
    edges = split_edges(union)
    documents = claims.select("doc_id").distinct().select(
        "doc_id",
        F.concat(F.lit("m-"), F.col("doc_id")).alias("origin_message_id"),
        F.lit(RUN_TS).alias("timestamp"),
    )
    persons = build_persons(SYNTH_PERSONS, SEED)
    groups = build_groups()
    catalog = EntityCatalog(persons, groups)
    name_ids = [p["id"] for p in persons] + [g["id"] for g in groups]
    names = spark.createDataFrame(
        [(i, catalog.display_name(i)) for i in name_ids],
        "entity_id string, display_name string",
    )
    # decorate BEFORE the walk: claim_id is not unique across near-duplicate
    # extractions, so a by-claim_id join-back would cross-product those rows
    decorated = with_display_text(with_display_labels(claims, names))
    out = message_insight(documents, decorated, edges, facts)
    return out.select(
        "message_id", "source_doc_id", "claim_id", "claim_type", "relation_type",
        "fact_id", "canonical_key", "fact_status",
        F.col("support_count").cast("long").alias("support_count"),
        "previous_fact_id", "subject_display", "object_display", "display_text",
    ).orderBy("claim_id", "fact_id", "previous_fact_id")


@_per_session
def _synth_split(spark: SparkSession) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Deterministic store/batch split for the incremental-maintenance
    queries: docs whose sha256 doc_id starts 0-7 are the established corpus
    (canonicalized into a fact store), the rest arrive as the new batch.
    Returns (claims_batch, facts_store_current, claims_store), memoized —
    kg_fact_diff and kg_impact_radius share the replay."""
    claims = _synth_claims(spark)
    first = F.substring("doc_id", 1, 1)
    store_claims = claims.filter(first.isin(*"01234567")).localCheckpoint(eager=True)
    batch_claims = claims.filter(~first.isin(*"01234567")).localCheckpoint(eager=True)
    union = canonicalize_claims(store_claims, None, seen_at=RUN_TS)
    facts = split_facts(union).filter(F.col("status") == "current").localCheckpoint(eager=True)
    return batch_claims, facts, store_claims


RUN_TS2 = "2026-05-02T00:00:00+00:00"
AS_OF_TS = "2026-05-01T12:00:00+00:00"  # between the two processing epochs


def q_kg_facts_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Processing-time travel (operators/canonicalize.facts_as_of): replay
    the established corpus at RUN_TS, fold the second batch in at RUN_TS2,
    then ask the combined bitemporal table what was current in between.
    Must equal the serial replay of epoch-1 claims ALONE (the oracle's
    facts_current_epoch1 parquet) — epoch-2 promotions are invisible at
    AS_OF_TS and epoch-2 supersedes must not retro-hide epoch-1 facts.
    support_count is excluded: confirms mutate it in place (reference
    semantics), so it reflects the latest run, not the as-of instant."""
    from sage_spark.operators.canonicalize import facts_as_of

    batch, _, store_claims = _synth_split(spark)
    union1 = canonicalize_claims(store_claims, None, seen_at=RUN_TS)
    facts1 = split_facts(union1).localCheckpoint(eager=True)
    current1 = facts1.filter(F.col("status") == "current")
    union2 = canonicalize_claims(batch, current1, seen_at=RUN_TS2)
    facts2 = split_facts(union2)
    # emulate the store's fact_id-keyed upsert: epoch-2 re-emitted rows win
    # by fact_id, every other epoch-1 row (incl. facts superseded WITHIN
    # epoch 1 — not re-emitted, since only current facts feed the replay)
    # carries over unchanged
    all_facts = facts1.join(facts2.select("fact_id"), "fact_id", "left_anti").unionByName(facts2)
    return (
        facts_as_of(all_facts, AS_OF_TS)
        .select(
            "fact_id", "canonical_key", "claim_type", "predicate", "subject_key",
            "object_key", "value_text",
        )
        .orderBy("fact_id")
    )


def q_kg_fact_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance (under_development/saia.py:117-146): classify
    the new batch's promotable claims against the live fact store as
    added / confirmed / contradicted — one canonical_key-keyed join. Oracled
    against a serial nested-loop replay (kernel/expected.expected_fact_diff)."""
    from sage_spark.operators.incremental import fact_diff

    batch, facts, _ = _synth_split(spark)
    return fact_diff(batch, facts).orderBy("claim_id", "doc_id", "canonical_key")


def q_kg_impact_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Impact radius (under_development/saia.py:147-189): BFS out to depth 2
    from the entities touched by non-confirmed diff rows, over the store's
    entity mention graph — the iterative frontier-expansion shape of
    operators/components.py. Oracled against a serial BFS replay."""
    from sage_spark.operators.incremental import (
        changed_entities,
        fact_diff,
        impact_radius,
    )

    batch, facts, store_claims = _synth_split(spark)
    diff = fact_diff(batch, facts)
    seeds = changed_entities(diff, batch)
    out = impact_radius(seeds, claim_entity_edges(store_claims), max_depth=2)
    return out.select("entity_id", F.col("depth").cast("long").alias("depth")).orderBy("entity_id")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: KG triple construction. Loads the sf0.001 tables (driver
    contract), derives a webtext batch from the documents table, runs the
    full extract->claims kernel over it plus a synthetic grounded corpus,
    and returns the (subj, pred, obj) triple view."""
    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    as_webtext = docs.select(
        F.concat(F.lit("https://sf0001.example/doc/"), F.col("doc_id").cast("string")).alias("url"),
        F.lit("2026-04-01T10:00:00+00:00").alias("timestamp"),
        F.col("text").alias("content"),
        F.col("lang"),
        F.lit("u1").alias("sender"),
        F.array(F.lit("u2")).alias("receivers"),
        F.lit("direct:u1:u2").alias("conversation_id"),
        F.lit("direct").alias("conversation_type"),
        F.lit(None).cast("string").alias("group_id"),
        F.col("doc_id").cast("string").alias("message_id"),
        F.lit("chat_message").alias("source"),
        F.sha2(F.col("text"), 256).alias("doc_id"),
    )
    persons = build_persons(SYNTH_PERSONS, SEED)
    sf_claims = extract_claims_stage(as_webtext, persons, build_groups(), run_ts=RUN_TS)
    synth = _synth_claims(spark)
    all_claims = sf_claims.unionByName(synth)
    return all_claims.select(
        F.coalesce("subject_entity_id", "subject_key").alias("subj"),
        F.col("predicate").alias("pred"),
        F.coalesce("object_entity_id", "object_key").alias("obj"),
        "claim_type",
        "canonical_key",
    )


# queries whose inputs are wholly synthetic KB-scale frames (no sf_dir
# parquet): they run under _TINY_SHUFFLE partitions; everything else
# restores the session's own setting (see _set_shuffle)
_TINY_QUERIES = {
    "kg_claims", "kg_triples", "kg_facts_current", "kg_chunks",
    "kg_entity_components", "kg_components_incremental", "kg_facts_with_evidence", "kg_insight",
    "kg_fact_diff", "kg_impact_radius", "kg_facts_as_of", "graph_pagerank",
    "retrieval_trace", "retrieval_trace_summary",
    "chat_conversations", "chat_message_access", "chat_unread_counts",
    "chat_participations",
}


def _wrap_conf(name: str, fn: Callable[[SparkSession, str], DataFrame]):
    # NOTE: spark.sql.shuffle.partitions is session conf read at ACTION
    # time, so this relies on build-then-execute-one-query-at-a-time (what
    # the driver, bench.py and verify_entry all do). Interleaving builds of
    # several registry queries before collecting them would run each under
    # the last-built query's setting — results stay correct (the setting is
    # partitioning-invariant), only the tiny-query latency win is lost.
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        _set_shuffle(spark, name in _TINY_QUERIES)
        return fn(spark, sf_dir)

    wrapped.__name__ = fn.__name__
    wrapped.__doc__ = fn.__doc__
    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """EXACTLY 50 entries — the driver's check window (it verifies the first
    50 registry rows; round 3 shipped 56 and the tail went unchecked).

    Round-5 rotation (per the round-4 verdict): the six NEW rows (two
    incremental-maintenance, cluster dedup, audio features, span-level
    dedup, token-mixture sampling) plus four of the round-4-retired rows
    lead; ten rows that have been driver-green in every round they
    appeared (r1-r4) rotate OUT this round —
    anti_customers_without_orders, window_degree_top_users,
    ist_display_events, text_token_stats, text_fingerprint, dedup_simhash,
    agg_event_type_daily, join_top_brands_by_revenue, graph_one_hop_orders,
    events_sessionize — so every operator family re-earns a driver-green
    row at least every other round. Every rotated-out query keeps its q_
    function AND its oracle and stays continuously checked via
    queries_all() (run by tools/verify_entry.py in CI).

    Late round 5: kg_components_incremental (incremental connected
    components vs the full-recompute recursive-CTE oracle) takes the slot
    of dedup_exact_keep (green r1-r4; its family keeps a window row via
    dedup_exact_groups), and kg_facts_as_of (processing-time travel vs
    the epoch-1-only serial replay) takes corpus_stratified_sample's
    (green r1-r4; the corpus family keeps four other window rows). Both
    rotated-out queries stay oracled in queries_all().

    Final round-5 rotation: the three graph-analytics rows new this round
    (graph_triangle_counts — degree-ordered wedge enumeration vs the
    id-oriented SQL; graph_communities — synchronous LPA vs its serial
    replay; graph_core_numbers — distributed H-index iteration vs a serial
    min-degree PEEL, a genuinely different algorithm with a provably equal
    fixed point) take the slots of text_unigram_logprob,
    text_pii_redacted and dedup_ngram_jaccard (all multi-round green; the
    text family keeps quality/language_id/repetition in-window, dedup
    keeps exact_groups/minhash/embedding_near/clusters/spans)."""
    reg = {
        # --- round-5 new + rotated-back-in -------------------------------
        "kg_facts_as_of": q_kg_facts_as_of,
        "kg_fact_diff": q_kg_fact_diff,
        "kg_impact_radius": q_kg_impact_radius,
        "dedup_near_clusters": q_dedup_near_clusters,
        "multimodal_audio_features": q_multimodal_audio_features,
        "dedup_duplicated_spans": q_dedup_duplicated_spans,
        "corpus_mix": q_corpus_mix,
        "dedup_exact_groups": q_dedup_exact_groups,
        "agg_rollup_events": q_agg_rollup_events,
        "chat_participations": q_chat_participations,
        "semi_suppliers_with_recent_shipments": q_semi_suppliers_with_recent_shipments,
        # --- first green in r4 (second consecutive check) ----------------
        "corpus_stats_by_source": q_corpus_stats_by_source,
        "corpus_decontaminate": q_corpus_decontaminate,
        "corpus_pack_sequences": q_corpus_pack_sequences,
        "web_url_canonicalize": q_web_url_canonicalize,
        "web_strip_boilerplate": q_web_strip_boilerplate,
        "multimodal_image_features": q_multimodal_image_features,
        "retrieval_trace": q_retrieval_trace,
        "kg_insight": q_kg_insight,
        "chat_unread_counts": q_chat_unread_counts,
        # --- KG pipeline (serial-replay oracled) -------------------------
        "kg_claims": q_kg_claims,
        "kg_triples": q_kg_triples,
        "kg_facts_current": q_kg_facts_current,
        "kg_chunks": q_kg_chunks,
        "kg_entity_components": q_kg_entity_components,
        "kg_components_incremental": q_kg_components_incremental,
        "graph_pagerank": q_graph_pagerank,
        "kg_facts_with_evidence": q_kg_facts_with_evidence,
        # --- relational operators (DuckDB-oracled) -----------------------
        "agg_pricing_summary": q_agg_pricing_summary,
        "join_revenue_by_nation": q_join_revenue_by_nation,
        "window_top_order_per_customer": q_window_top_order_per_customer,
        "recency_weighted_events": q_recency_weighted_events,
        "join_asof_last_signup": q_join_asof_last_signup,
        "join_range_after_purchase": q_join_range_after_purchase,
        "agg_hypertable_rollup": q_agg_hypertable_rollup,
        # --- text analysis (DuckDB-oracled) ------------------------------
        "text_quality": q_text_quality,
        "text_language_id": q_text_language_id,
        "text_repetition_stats": q_text_repetition_stats,
        # --- graph analytics (new this round) ----------------------------
        "graph_triangle_counts": q_graph_triangle_counts,
        "graph_communities": q_graph_communities,
        "graph_core_numbers": q_graph_core_numbers,
        # --- dedup -------------------------------------------------------
        "dedup_embedding_near": q_dedup_embedding_near,
        "dedup_minhash_candidates": q_dedup_minhash_candidates,
        # --- similarity search -------------------------------------------
        "sim_cosine_topk": q_sim_cosine_topk,
        "sim_lsh_recall": q_sim_lsh_recall,
        "sim_ivf_recall": q_sim_ivf_recall,
        # --- retrieval read path -----------------------------------------
        "retrieval_person_scoped": q_retrieval_person_scoped,
        "retrieval_trace_summary": q_retrieval_trace_summary,
        # --- chat/conversation graph -------------------------------------
        "chat_conversations": q_chat_conversations,
        "chat_message_access": q_chat_message_access,
        # --- corpus management -------------------------------------------
    }
    assert len(reg) == 50, len(reg)
    return {n: _wrap_conf(n, f) for n, f in reg.items()}


def queries_all() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The FULL registry — the 50-slot driver window plus every rotated-out
    query (all keep their oracles). tools/verify_entry.py checks this set,
    so rotation out of the driver window never drops a query from
    continuous verification (round-4 advice)."""
    extra = {
        "dedup_exact_keep": q_dedup_exact_keep,
        "corpus_stratified_sample": q_corpus_stratified_sample,
        "agg_event_type_daily": q_agg_event_type_daily,
        "join_top_brands_by_revenue": q_join_top_brands_by_revenue,
        "graph_one_hop_orders": q_graph_one_hop_orders,
        "events_sessionize": q_events_sessionize,
        "anti_customers_without_orders": q_anti_customers_without_orders,
        "window_degree_top_users": q_window_degree_top_users,
        "ist_display_events": q_ist_display_events,
        "text_token_stats": q_text_token_stats,
        "text_fingerprint": q_text_fingerprint,
        "dedup_simhash": q_dedup_simhash,
        "text_quality_filter": q_text_quality_filter,
        "corpus_sample": q_corpus_sample,
        "corpus_host_cap": q_corpus_host_cap,
        "sim_lsh_topk": q_sim_lsh_topk,
        "sim_ivf_topk": q_sim_ivf_topk,
        "text_unigram_logprob": q_text_unigram_logprob,
        "text_pii_redacted": q_text_pii_redacted,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "graph_ppr": q_graph_ppr,
    }
    out = queries()
    out.update({n: _wrap_conf(n, f) for n, f in extra.items()})
    return out


_LANG_SCORE_SQL = """
WITH toks AS (
    SELECT doc_id,
           regexp_extract_all(lower(text), '[a-z]+') AS tt
    FROM documents
), scores AS (
    SELECT doc_id, 'en' AS lang, len(list_filter(tt, x -> list_contains({en}, x))) AS score FROM toks
    UNION ALL
    SELECT doc_id, 'de', len(list_filter(tt, x -> list_contains({de}, x))) FROM toks
    UNION ALL
    SELECT doc_id, 'fr', len(list_filter(tt, x -> list_contains({fr}, x))) FROM toks
    UNION ALL
    SELECT doc_id, 'es', len(list_filter(tt, x -> list_contains({es}, x))) FROM toks
), ranked AS (
    SELECT doc_id, lang, score,
           row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn,
           max(score) OVER (PARTITION BY doc_id) AS best
    FROM scores
)
SELECT doc_id, CASE WHEN best > 0 THEN lang ELSE 'und' END AS lang_pred
FROM ranked WHERE rn = 1 ORDER BY doc_id
""".format(
    en=str(_EN).replace("'", "'"),
    de=str(_DE),
    fr=str(_FR),
    es=str(_ES),
)


def _kernel_fingerprint() -> str:
    """Content hash of every source file the expected-row replay depends on
    (kernel + datagen): baked into the cache dir names so editing any of
    them invalidates the cached expectations automatically instead of
    silently comparing against stale parquet."""
    import hashlib
    import pathlib

    root = pathlib.Path(__file__).resolve().parent / "sage_spark"
    h = hashlib.sha256()
    for p in sorted((root / "kernel").glob("*.py")) + [root / "datagen.py"]:
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


def _expected_kg_dir() -> str:
    """Materialize the pure-Python (no Spark) replay of the synthetic KG
    pipeline as parquet, once; the KG oracle SQLs are plain SELECTs over it.
    The kernel functions are differential-parity-proven vs the reference, so
    this checks the distributed plan against a serial run of the same
    semantics (see sage_spark/kernel/expected.py)."""
    import pathlib

    import pandas as pd

    out = pathlib.Path(
        f"/tmp/sage_expected_kg_v4_{SYNTH_DOCS}_{SYNTH_PERSONS}_{SEED}_{_kernel_fingerprint()}"
    )
    marker = out / "_DONE"
    if marker.exists():
        return str(out)
    from sage_spark.kernel.expected import (
        expected_chat,
        expected_chunks,
        expected_claims,
        expected_documents,
        expected_facts_and_edges,
        expected_facts_with_evidence,
        expected_insight,
        expected_unread_counts,
    )

    docs = expected_documents(SYNTH_DOCS, SYNTH_PERSONS, SEED)
    claims = expected_claims(docs, SYNTH_PERSONS, SEED, run_ts=RUN_TS)
    chunks = expected_chunks(docs)
    facts, edges = expected_facts_and_edges(claims, seen_at=RUN_TS)
    evidence = expected_facts_with_evidence(facts, edges, claims)
    # build in a per-process staging dir, publish with one atomic rename:
    # concurrent callers (driver + a verify run) can't see half-written files
    import os as _os
    import shutil as _shutil

    stage = out.with_name(out.name + f".__build{_os.getpid()}__")
    if stage.exists():
        _shutil.rmtree(stage)
    stage.mkdir(parents=True)

    def dump(rows: list[dict], cols: list[str], name: str) -> None:
        pd.DataFrame([{c: r.get(c) for c in cols} for r in rows], columns=cols).to_parquet(
            stage / f"{name}.parquet", index=False
        )

    dump(claims, CLAIM_COLS, "claims")
    triples = [
        {
            "subj": c.get("subject_entity_id") or c.get("subject_key"),
            "pred": c.get("predicate"),
            "obj": c.get("object_entity_id") or c.get("object_key"),
            "claim_id": c.get("claim_id"),
        }
        for c in claims
    ]
    dump(triples, ["subj", "pred", "obj", "claim_id"], "triples")
    dump(chunks, CHUNK_COLS, "chunks")
    dump([f for f in facts if f.get("status") == "current"], FACT_COLS, "facts_current")
    dump(evidence, ["fact_id", "canonical_key", "evidence_doc_id"], "facts_evidence")
    # epoch-1-only serial replay: the kg_facts_as_of oracle (the distributed
    # two-epoch table filtered to the inter-epoch instant must equal this)
    epoch1_claims = [c for c in claims if (c.get("doc_id") or "")[:1] in set("01234567")]
    epoch1_facts, _ = expected_facts_and_edges(epoch1_claims, seen_at=RUN_TS)
    dump(
        [f for f in epoch1_facts if f.get("status") == "current"],
        ["fact_id", "canonical_key", "claim_type", "predicate", "subject_key",
         "object_key", "value_text"],
        "facts_current_epoch1",
    )
    from sage_spark.kernel.expected import expected_pagerank

    pr_edges = [
        (c["subject_entity_id"], c["object_entity_id"])
        for c in claims
        if c.get("subject_entity_id") and c.get("object_entity_id")
    ]
    pr = [
        {"v": r["v"], "rank": round(r["rank"], 6)}
        for r in expected_pagerank(pr_edges, damping=0.85, iterations=20)
    ]
    dump(pr, ["v", "rank"], "pagerank")
    from sage_spark.kernel.expected import expected_core_numbers, expected_label_propagation

    dump(
        expected_label_propagation(pr_edges, iterations=5),
        ["entity", "community"],
        "communities",
    )
    dump(expected_core_numbers(pr_edges), ["entity", "core"], "coreness")
    from sage_spark.kernel.expected import expected_personalized_pagerank

    ppr_seeds = sorted({a for a, _ in pr_edges} | {b for _, b in pr_edges})[:2]
    ppr = [
        {"v": r["v"], "rank": round(r["rank"], 6)}
        for r in expected_personalized_pagerank(
            pr_edges, ppr_seeds, damping=0.85, iterations=20
        )
    ]
    dump(ppr, ["v", "rank"], "ppr")
    messages, convs, parts = expected_chat(SYNTH_DOCS, SYNTH_PERSONS, SEED)
    dump(convs, ["conversation_id", "conversation_type", "group_id", "n_messages", "updated_at"], "chat_conversations")
    dump(parts, ["person_id", "conversation_id"], "chat_participations")
    user_convs = {p["conversation_id"] for p in parts if p["person_id"] == "EMP001"}
    access = [m for m in messages if m["conversation_id"] in user_convs]
    dump(access, ["message_id", "conversation_id"], "chat_access_emp001")
    unread = expected_unread_counts(messages, parts, "EMP001")
    dump(unread, ["conversation_id", "unread_count"], "chat_unread_emp001")
    from sage_spark.kernel.entities import EntityCatalog as _Cat

    _persons, _groups = build_persons(SYNTH_PERSONS, SEED), build_groups()
    _catalog = _Cat(_persons, _groups)
    display_names = {
        i: _catalog.display_name(i)
        for i in [p["id"] for p in _persons] + [g["id"] for g in _groups]
    }
    ins_docs = [
        {"doc_id": d, "origin_message_id": f"m-{d}"}
        for d in sorted({c["doc_id"] for c in claims})
    ]
    insight = expected_insight(ins_docs, claims, facts, edges, display_names)
    dump(
        insight,
        ["message_id", "source_doc_id", "claim_id", "claim_type", "relation_type",
         "fact_id", "canonical_key", "fact_status", "support_count",
         "previous_fact_id", "subject_display", "object_display", "display_text"],
        "insight",
    )
    # incremental-maintenance replay: same store/batch split as _synth_split
    from sage_spark.kernel.expected import expected_fact_diff, expected_impact_radius

    store_claims = [c for c in claims if c["doc_id"][0] in "01234567"]
    batch_claims = [c for c in claims if c["doc_id"][0] not in "01234567"]
    store_facts, _ = expected_facts_and_edges(store_claims, seen_at=RUN_TS)
    diff = expected_fact_diff(batch_claims, store_facts)
    dump(diff, ["claim_id", "doc_id", "canonical_key", "change", "existing_fact_id"], "fact_diff")
    flagged = {r["claim_id"] for r in diff if r["change"] in ("contradicted", "added")}
    seeds = sorted(
        {
            eid
            for c in batch_claims
            if c["claim_id"] in flagged
            for eid in (c.get("subject_entity_id"), c.get("object_entity_id"))
            if eid
        }
    )
    ir_edges = [
        (c["subject_entity_id"], c["object_entity_id"])
        for c in store_claims
        if c.get("subject_entity_id") and c.get("object_entity_id")
    ]
    impact = expected_impact_radius(seeds, ir_edges, max_depth=2)
    dump(impact, ["entity_id", "depth"], "impact_radius")
    (stage / "_DONE").touch()
    try:
        _os.rename(stage, out)
    except OSError:  # another process published first
        _shutil.rmtree(stage, ignore_errors=True)
    return str(out)


def _expected_docs_dir() -> str:
    """Expected rows for the hash-family dedup operators over the driver's
    document corpora: Spark's xxhash64 is reproduced bit-exactly in pure
    Python (sage_spark/kernel/xxhash.py, parity-tested), so SimHash values
    and MinHash-LSH candidate pairs get a serial no-Spark oracle. Rows are
    keyed by corpus_n = count(*) of the source table, and the oracle SQL
    switches on the registered view's count — one parquet serves every known
    sf (the driver's sf0.001/sf0.01/sf0.1 test corpora)."""
    import glob
    import pathlib

    import pandas as pd

    out = pathlib.Path(f"/tmp/sage_expected_docs_v3_{_kernel_fingerprint()}")
    marker = out / "_DONE"
    if marker.exists():
        return str(out)
    from sage_spark.kernel.expected import (
        expected_ivf_topk,
        expected_minhash_candidates,
        expected_simhash,
    )

    sim_rows: list[dict] = []
    mh_rows: list[dict] = []
    for path in sorted(glob.glob("/root/testdata/sf*/documents.parquet")):
        pdf = pd.read_parquet(path, columns=["doc_id", "text", "n_chars"])
        # corpus key = sum(n_chars): cheap to recompute on the registered
        # view and unique across the test corpora (count alone is not —
        # sf0.001 and sf0.01 both hold 500 docs)
        corpus_key = int(pdf["n_chars"].sum())
        docs = list(pdf[["doc_id", "text"]].itertuples(index=False, name=None))
        for r in expected_simhash(docs):
            sim_rows.append({"corpus_key": corpus_key, **r})
        sliced = [(str(d), t) for d, t in docs if d < 500]
        for r in expected_minhash_candidates(sliced, shingle_len=5, num_hashes=64, bands=8):
            mh_rows.append({"corpus_key": corpus_key, **r})
    import os as _os
    import shutil as _shutil

    stage = out.with_name(out.name + f".__build{_os.getpid()}__")
    if stage.exists():
        _shutil.rmtree(stage)
    stage.mkdir(parents=True)
    pd.DataFrame(sim_rows, columns=["corpus_key", "doc_id", "simhash"]).to_parquet(
        stage / "simhash.parquet", index=False
    )
    pd.DataFrame(mh_rows, columns=["corpus_key", "id_a", "id_b"]).to_parquet(
        stage / "minhash_candidates.parquet", index=False
    )
    ivf_rows: list[dict] = []
    for path in sorted(glob.glob("/root/testdata/sf*/embeddings.parquet")):
        pdf = pd.read_parquet(path, columns=["vec_id", "embedding", "label"])
        corpus_key = int(((pdf["label"] + 1) * (pdf["vec_id"] + 1)).sum())
        vecs = [(int(v), list(e)) for v, e in zip(pdf["vec_id"], pdf["embedding"])]
        for r in expected_ivf_topk(vecs, QUERY_VEC, k=10, n_cells=16, n_probe=8):
            ivf_rows.append({"corpus_key": corpus_key, **r})
    pd.DataFrame(ivf_rows, columns=["corpus_key", "vec_id", "similarity"]).to_parquet(
        stage / "ivf_topk.parquet", index=False
    )
    # multimodal: expected dims come from the payload-construction FORMULA
    # (independent of the header parser under test); sha is the pure hash of
    # the shared payload rule. doc_id < 100 exists in every driver corpus,
    # so one parquet serves all sf dirs.
    import hashlib as _hashlib

    from sage_spark.datagen import synth_media_payload

    mm_rows = []
    for i in range(100):
        data = synth_media_payload(i)
        mm_rows.append(
            {
                "media_id": f"img-{i:03d}",
                "content_sha256": _hashlib.sha256(data).hexdigest(),
                "fmt": "png" if i % 2 == 0 else "gif",
                "width": 1 + (i * 7) % 64,
                "height": 1 + (i * 11) % 64,
                "bit_depth": 8,
                "n_channels": 3,
            }
        )
    pd.DataFrame(
        mm_rows,
        columns=["media_id", "content_sha256", "fmt", "width", "height", "bit_depth", "n_channels"],
    ).to_parquet(stage / "multimodal.parquet", index=False)
    # audio: expected fields come from the payload-construction FORMULA
    # (synth_audio_params), independent of the RIFF parser under test
    from sage_spark.datagen import synth_audio_params, synth_audio_payload

    au_rows = []
    for i in range(100):
        rate, channels, bits, frames = synth_audio_params(i)
        au_rows.append(
            {
                "media_id": f"aud-{i:03d}",
                "content_sha256": _hashlib.sha256(synth_audio_payload(i)).hexdigest(),
                "fmt": "wav",
                "sample_rate": rate,
                "n_channels": channels,
                "bit_depth": bits,
                "n_frames": frames,
                "duration_ms": frames * 1000 // rate,
            }
        )
    pd.DataFrame(
        au_rows,
        columns=[
            "media_id", "content_sha256", "fmt", "sample_rate",
            "n_channels", "bit_depth", "n_frames", "duration_ms",
        ],
    ).to_parquet(stage / "multimodal_audio.parquet", index=False)
    (stage / "_DONE").touch()
    try:
        _os.rename(stage, out)
    except OSError:
        _shutil.rmtree(stage, ignore_errors=True)
    return str(out)


def _lsh_topk_oracle_sql() -> str:
    """ANSI oracle for the hyperplane-LSH top-k: the planes are deterministic
    literals, so bucket assignment, the multiprobe set, and the within-probe
    exact top-k are all plain SQL."""
    from sage_spark.operators.similarity import _hyperplane

    n_planes, seed, dim = 8, 13, 64
    planes = [_hyperplane(dim, p, seed) for p in range(n_planes)]
    qbits = 0
    for p, plane in enumerate(planes):
        if sum(a * b for a, b in zip(QUERY_VEC, plane)) >= 0:
            qbits |= 1 << p
    probes = {qbits}
    for p in range(n_planes):
        probes.add(qbits ^ (1 << p))
    for p in range(n_planes):
        for q in range(p + 1, n_planes):
            probes.add(qbits ^ (1 << p) ^ (1 << q))

    def arr(vals: list[float]) -> str:
        return "[" + ", ".join(f"{v!r}" for v in vals) + "]::DOUBLE[]"

    bucket_expr = " + ".join(
        f"(CASE WHEN list_dot_product(e, {arr(pl)}) >= 0 THEN {2 ** p} ELSE 0 END)"
        for p, pl in enumerate(planes)
    )
    probes_sql = ", ".join(str(v) for v in sorted(probes))
    return f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        b AS (SELECT vec_id, e, {bucket_expr} AS bucket FROM v)
        SELECT vec_id,
               round(list_dot_product(e, {_QUERY_VEC_SQL})
                     / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product({_QUERY_VEC_SQL}, {_QUERY_VEC_SQL}))), 6) AS similarity
        FROM b WHERE bucket IN ({probes_sql})
        ORDER BY similarity DESC, vec_id ASC LIMIT 10
    """


def _components_oracle_sql() -> str:
    """Independent connected-components oracle: the same deterministic persons
    dim (id<->email, id<->name co-reference edges) fed to a DuckDB recursive
    CTE (transitive closure + min label) — a different algorithm from the
    Spark operator's iterative min-label propagation."""
    persons = build_persons(SYNTH_PERSONS, SEED)
    edges: list[tuple[str, str]] = []
    for p in persons:
        if p.get("email"):
            edges.append((p["id"], p["email"].lower()))
        if p.get("name"):
            edges.append((p["id"], p["name"].lower()))
    values = ", ".join("('{}', '{}')".format(a.replace("'", "''"), b.replace("'", "''")) for a, b in edges)
    return f"""
        WITH RECURSIVE e(src, dst) AS (SELECT * FROM (VALUES {values}) v(src, dst)),
        sym(a, b) AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        reach(v, lab) AS (
            SELECT a, a FROM sym
            UNION
            SELECT sym.a, reach.lab FROM sym JOIN reach ON sym.b = reach.v
        )
        SELECT v AS vertex, min(lab) AS component FROM reach GROUP BY v ORDER BY vertex
    """


def oracle_sql() -> dict[str, str]:
    kg = _expected_kg_dir()
    return {
        "kg_claims": f"""
            SELECT doc_id, claim_id, claim_type, predicate, subject_key, object_key,
                   value_text, temporal_start, canonical_key, normalized_text
            FROM '{kg}/claims.parquet' ORDER BY doc_id, claim_id
        """,
        "kg_triples": f"SELECT subj, pred, obj, claim_id FROM '{kg}/triples.parquet' ORDER BY claim_id",
        "kg_chunks": f"SELECT chunk_id, doc_id, seq, summary FROM '{kg}/chunks.parquet' ORDER BY chunk_id",
        "kg_facts_current": f"""
            SELECT fact_id, canonical_key, claim_type, predicate, subject_key,
                   object_key, value_text, status, support_count
            FROM '{kg}/facts_current.parquet' ORDER BY fact_id
        """,
        "kg_facts_with_evidence": f"""
            SELECT fact_id, canonical_key, evidence_doc_id
            FROM '{kg}/facts_evidence.parquet' ORDER BY fact_id
        """,
        "kg_entity_components": _components_oracle_sql(),
        "kg_facts_as_of": f"""
            SELECT fact_id, canonical_key, claim_type, predicate, subject_key,
                   object_key, value_text
            FROM '{kg}/facts_current_epoch1.parquet' ORDER BY fact_id
        """,
        "kg_components_incremental": _components_oracle_sql(),
        "chat_conversations": f"""
            SELECT conversation_id, conversation_type, group_id, n_messages, updated_at
            FROM '{kg}/chat_conversations.parquet' ORDER BY conversation_id
        """,
        "chat_message_access": f"""
            SELECT message_id, conversation_id
            FROM '{kg}/chat_access_emp001.parquet' ORDER BY message_id
        """,
        "chat_unread_counts": f"""
            SELECT conversation_id, CAST(unread_count AS BIGINT) AS unread_count
            FROM '{kg}/chat_unread_emp001.parquet' ORDER BY conversation_id
        """,
        "kg_insight": f"""
            SELECT message_id, source_doc_id, claim_id, claim_type, relation_type,
                   fact_id, canonical_key, fact_status,
                   CAST(support_count AS BIGINT) AS support_count,
                   previous_fact_id, subject_display, object_display, display_text
            FROM '{kg}/insight.parquet' ORDER BY claim_id, fact_id, previous_fact_id
        """,
        "graph_pagerank": f"SELECT v, rank FROM '{kg}/pagerank.parquet' ORDER BY v",
        "graph_communities": f"""
            SELECT entity, community FROM '{kg}/communities.parquet' ORDER BY entity
        """,
        "graph_ppr": f"SELECT v, rank FROM '{kg}/ppr.parquet' ORDER BY v",
        "graph_core_numbers": f"""
            SELECT entity, CAST(core AS BIGINT) AS core
            FROM '{kg}/coreness.parquet' ORDER BY entity
        """,
        "kg_fact_diff": f"""
            SELECT claim_id, doc_id, canonical_key, change, existing_fact_id
            FROM '{kg}/fact_diff.parquet' ORDER BY claim_id, doc_id, canonical_key
        """,
        "kg_impact_radius": f"""
            SELECT entity_id, CAST(depth AS BIGINT) AS depth
            FROM '{kg}/impact_radius.parquet' ORDER BY entity_id
        """,
        "chat_participations": f"""
            SELECT person_id, conversation_id
            FROM '{kg}/chat_participations.parquet' ORDER BY person_id, conversation_id
        """,
        "corpus_host_cap": """
            SELECT doc_id, source FROM (
                SELECT doc_id, source,
                       row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
                FROM documents
            ) WHERE rn <= 40 ORDER BY doc_id
        """,
        "corpus_sample": """
            SELECT doc_id FROM documents
            WHERE ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000 < 100000
            ORDER BY doc_id
        """,
        "corpus_stratified_sample": """
            SELECT doc_id, source FROM documents
            WHERE ('0x' || substr(sha256(source || '|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000
                  < (CASE source WHEN 'src0' THEN 250000 WHEN 'src1' THEN 0 ELSE 1000000 END)
            ORDER BY doc_id
        """,
        "corpus_stats_by_source": """
            SELECT source AS group_key,
                   count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   round(avg(n_chars), 4) AS mean_chars,
                   CAST(quantile_disc(n_chars, 0.5) AS BIGINT) AS p50_chars,
                   CAST(quantile_disc(n_chars, 0.9) AS BIGINT) AS p90_chars
            FROM documents GROUP BY source ORDER BY group_key
        """,
        "retrieval_person_scoped": f"""
            WITH scored AS (
                SELECT CAST(vec_id AS VARCHAR) AS identifier, label,
                       list_dot_product(CAST(embedding AS DOUBLE[]), {_PS_QVEC_SQL})
                       / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                          * sqrt(list_dot_product({_PS_QVEC_SQL}, {_PS_QVEC_SQL}))) AS sim
                FROM embeddings
            ), topk_global AS (
                SELECT identifier, sim FROM scored ORDER BY sim DESC, identifier LIMIT 3
            ), topk_person AS (
                SELECT identifier, sim FROM scored WHERE label = 1 ORDER BY sim DESC, identifier LIMIT 3
            ), merged AS (
                SELECT identifier, max(sim) AS sim
                FROM (SELECT * FROM topk_global UNION ALL SELECT * FROM topk_person)
                GROUP BY identifier
            )
            SELECT identifier, 'chunk' AS kind, round(sim, 6) AS rank_score, identifier AS doc_id
            FROM merged ORDER BY sim DESC, identifier
        """,
        "corpus_decontaminate": """
            WITH toks AS (
                SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tt
                FROM documents
            ), bench AS (
                SELECT DISTINCT array_to_string(tt[11:18], ' ') AS g
                FROM toks WHERE doc_id % 37 = 0 AND len(tt) >= 18
            ), doc_grams AS (
                SELECT doc_id, array_to_string(tt[i.gs:i.gs+7], ' ') AS g
                FROM toks, UNNEST(generate_series(1, greatest(len(tt) - 7, 0))) AS i(gs)
            ), hits AS (
                SELECT d.doc_id, count(DISTINCT d.g) AS n
                FROM doc_grams d JOIN bench b USING (g)
                GROUP BY d.doc_id
            )
            SELECT t.doc_id,
                   CAST(coalesce(h.n, 0) AS BIGINT) AS n_contaminated_ngrams,
                   coalesce(h.n, 0) > 0 AS contaminated
            FROM (SELECT DISTINCT doc_id FROM documents) t
            LEFT JOIN hits h ON t.doc_id = h.doc_id
            ORDER BY t.doc_id
        """,
        "corpus_pack_sequences": """
            WITH base AS (
                SELECT doc_id,
                       CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS tok,
                       ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS shard
                FROM documents
            ), laid AS (
                SELECT doc_id, tok,
                       sum(tok) OVER (ORDER BY shard, doc_id ROWS UNBOUNDED PRECEDING) - tok AS goff
                FROM base
            )
            SELECT doc_id, tok AS n_tokens, CAST(goff AS BIGINT) AS global_offset,
                   CAST(goff // 2048 AS BIGINT) AS first_pack,
                   CAST(CASE WHEN tok > 0 THEN (goff + tok - 1) // 2048
                             ELSE goff // 2048 END AS BIGINT) AS last_pack,
                   CAST(goff % 2048 AS BIGINT) AS offset_in_pack
            FROM laid ORDER BY doc_id
        """,
        "web_url_canonicalize": """
            SELECT doc_id,
                   CASE doc_id % 4
                       WHEN 0 THEN 'https://example' || k || '.com/p/' || i || '?a=1&b=2'
                       WHEN 1 THEN 'http://example' || k || '.com/'
                       WHEN 2 THEN 'https://sub.example' || k || '.co.uk/path/'
                       ELSE 'http://example' || k || '.com/p?y=2&z=1'
                   END AS canonical_url,
                   CASE doc_id % 4
                       WHEN 2 THEN 'example' || k || '.co.uk'
                       ELSE 'example' || k || '.com'
                   END AS registered_domain
            FROM (
                SELECT doc_id, CAST(doc_id % 7 AS VARCHAR) AS k,
                       CAST(doc_id AS VARCHAR) AS i
                FROM documents
            )
            ORDER BY doc_id
        """,
        "web_strip_boilerplate": """
            WITH d AS (
                SELECT doc_id, source,
                       text || chr(10) || '(c) site ' || source || ' footer'
                            || chr(10) || 'All rights reserved' AS text
                FROM documents
            ), ls AS (
                SELECT doc_id, source, string_split(text, chr(10)) AS parts FROM d
            ), lines AS (
                SELECT doc_id, source, t.gs AS seq, parts[t.gs] AS line
                FROM ls, UNNEST(generate_series(1, len(parts))) AS t(gs)
            ), sizes AS (
                SELECT source, count(DISTINCT doc_id) AS nd FROM d GROUP BY source
            ), stats AS (
                SELECT source, trim(line) AS norm, count(DISTINCT doc_id) AS nw
                FROM lines WHERE trim(line) <> '' GROUP BY 1, 2
            ), boiler AS (
                SELECT s.source, s.norm
                FROM stats s JOIN sizes z USING (source)
                WHERE z.nd >= 2 AND s.nw >= 0.9 * z.nd
            ), kept AS (
                SELECT l.doc_id, l.seq, l.line
                FROM lines l LEFT JOIN boiler b
                  ON l.source = b.source AND trim(l.line) = b.norm
                WHERE b.norm IS NULL
            ), rebuilt AS (
                SELECT doc_id, string_agg(line, chr(10) ORDER BY seq) AS text_clean,
                       count(*) AS nk
                FROM kept GROUP BY doc_id
            ), tot AS (
                SELECT doc_id, count(*) AS nt FROM lines GROUP BY doc_id
            )
            SELECT t.doc_id, sha256(coalesce(r.text_clean, '')) AS clean_sha,
                   CAST(t.nt - coalesce(r.nk, 0) AS BIGINT) AS n_lines_removed
            FROM tot t LEFT JOIN rebuilt r USING (doc_id) ORDER BY t.doc_id
        """,
        "retrieval_trace": _trace_oracle_sql("evidence"),
        "retrieval_trace_summary": _trace_oracle_sql("summary"),
        "dedup_ngram_jaccard": """
            WITH norm AS (
                SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                       lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
                FROM documents WHERE doc_id < 500
            ), sh AS (
                SELECT doc_id,
                       CASE WHEN length(t) < 5 THEN [t]
                            ELSE list_distinct([substring(t, i, 5) for i in range(1, length(t) - 3)])
                       END AS s
                FROM norm
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(len(list_intersect(a.s, b.s)) * 1.0
                         / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE least(len(a.s), len(b.s)) * 2 >= greatest(len(a.s), len(b.s))
              AND len(list_intersect(a.s, b.s)) * 1.0
                  / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
            ORDER BY id_a, id_b
        """,
        "sim_lsh_recall": "SELECT CAST(10 AS BIGINT) AS k, CAST(10 AS BIGINT) AS hits, true AS recall_ok",
        "sim_ivf_recall": "SELECT CAST(10 AS BIGINT) AS k, CAST(10 AS BIGINT) AS hits, true AS recall_ok",
        "sim_lsh_topk": _lsh_topk_oracle_sql(),
        "dedup_simhash": f"""
            WITH n AS (SELECT sum(n_chars) AS c FROM documents)
            SELECT e.doc_id, e.simhash
            FROM '{_expected_docs_dir()}/simhash.parquet' e JOIN n ON e.corpus_key = n.c
            ORDER BY e.doc_id
        """,
        "dedup_minhash_candidates": f"""
            WITH n AS (SELECT sum(n_chars) AS c FROM documents)
            SELECT e.id_a, e.id_b
            FROM '{_expected_docs_dir()}/minhash_candidates.parquet' e JOIN n ON e.corpus_key = n.c
            ORDER BY e.id_a, e.id_b
        """,
        "sim_ivf_topk": f"""
            WITH n AS (SELECT sum((label + 1) * (vec_id + 1)) AS c FROM embeddings)
            SELECT e.vec_id, e.similarity
            FROM '{_expected_docs_dir()}/ivf_topk.parquet' e JOIN n ON e.corpus_key = n.c
            ORDER BY e.similarity DESC, e.vec_id
        """,
        "multimodal_image_features": f"""
            SELECT media_id, content_sha256, fmt,
                   CAST(width AS BIGINT) AS width,
                   CAST(height AS BIGINT) AS height,
                   CAST(bit_depth AS BIGINT) AS bit_depth,
                   CAST(n_channels AS BIGINT) AS n_channels
            FROM '{_expected_docs_dir()}/multimodal.parquet' ORDER BY media_id
        """,
        "multimodal_audio_features": f"""
            SELECT media_id, content_sha256, fmt,
                   CAST(sample_rate AS BIGINT) AS sample_rate,
                   CAST(n_channels AS BIGINT) AS n_channels,
                   CAST(bit_depth AS BIGINT) AS bit_depth,
                   CAST(n_frames AS BIGINT) AS n_frames,
                   CAST(duration_ms AS BIGINT) AS duration_ms
            FROM '{_expected_docs_dir()}/multimodal_audio.parquet' ORDER BY media_id
        """,
        "dedup_near_clusters": """
            WITH RECURSIVE norm AS (
                SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                       lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
                FROM documents WHERE doc_id < 500
            ), sh AS (
                SELECT doc_id,
                       CASE WHEN length(t) < 5 THEN [t]
                            ELSE list_distinct([substring(t, i, 5) for i in range(1, length(t) - 3)])
                       END AS s
                FROM norm
            ), pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                WHERE least(len(a.s), len(b.s)) * 2 >= greatest(len(a.s), len(b.s))
                  AND len(list_intersect(a.s, b.s)) * 1.0
                      / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
            ), sym AS (
                SELECT id_a AS a, id_b AS b FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ), reach(v, lab) AS (
                SELECT a, a FROM sym
                UNION
                SELECT sym.a, reach.lab FROM sym JOIN reach ON sym.b = reach.v
            ), comp AS (
                SELECT v AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY v
            )
            SELECT n.doc_id,
                   coalesce(c.cluster_id, n.doc_id) AS cluster_id,
                   n.doc_id = coalesce(c.cluster_id, n.doc_id) AS is_survivor
            FROM norm n LEFT JOIN comp c ON n.doc_id = c.doc_id
            ORDER BY n.doc_id
        """,
        "dedup_duplicated_spans": """
            WITH toks AS (
                SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                       regexp_extract_all(lower(text), '[A-Za-z0-9]+') AS tt
                FROM documents WHERE doc_id < 500
            ), w AS (
                SELECT doc_id, CAST(p.pos AS BIGINT) AS pos,
                       array_to_string(tt[p.pos + 1 : p.pos + 13], ' ') AS wstr
                FROM toks, LATERAL (SELECT unnest(range(0, len(tt) - 13 + 1)) AS pos) p
                WHERE len(tt) >= 13
            ), c AS (
                SELECT doc_id, pos,
                       count(*) OVER (PARTITION BY wstr) AS n_occurrences,
                       row_number() OVER (PARTITION BY wstr ORDER BY doc_id, pos) AS rn
                FROM w
            )
            SELECT doc_id, pos, CAST(n_occurrences AS BIGINT) AS n_occurrences,
                   rn = 1 AS is_first
            FROM c WHERE n_occurrences >= 2 ORDER BY doc_id, pos
        """,
        "corpus_mix": """
            WITH mass AS (
                SELECT source, CAST(sum(n_chars) AS BIGINT) AS m,
                       CAST(CASE source WHEN 'src0' THEN 400000 WHEN 'src3' THEN 350000
                                        WHEN 'src5' THEN 250000 ELSE 0 END AS BIGINT) AS w
                FROM documents GROUP BY source
            ), sel AS (SELECT * FROM mass WHERE w > 0),
            b AS (SELECT min(m * 1000000 // w) AS bb FROM sel),
            thr AS (SELECT source, ((bb * w // 1000000) * 1000000) // m AS t FROM sel, b)
            SELECT d.doc_id, d.source
            FROM documents d JOIN thr ON d.source = thr.source
            WHERE ('0x' || substr(sha256(d.source || '|' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                  % 1000000 < thr.t
            ORDER BY d.doc_id
        """,
        "agg_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2098-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "join_revenue_by_nation": """
            SELECT n_name,
                   count(*) AS order_count,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name ORDER BY n_name
        """,
        "join_top_brands_by_revenue": """
            SELECT p_brand,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand
            ORDER BY revenue DESC, p_brand ASC
            LIMIT 10
        """,
        "anti_customers_without_orders": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
            ORDER BY c_custkey
        """,
        "semi_suppliers_with_recent_shipments": """
            SELECT s_suppkey, s_name FROM supplier
            WHERE s_suppkey IN (
                SELECT l_suppkey FROM lineitem WHERE l_shipdate >= TIMESTAMP '2001-11-01'
            )
            ORDER BY s_suppkey
        """,
        "window_top_order_per_customer": """
            SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS top_totalprice
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC
                ) AS rn
                FROM orders
            ) WHERE rn = 1
            ORDER BY o_custkey
        """,
        "window_degree_top_users": """
            SELECT user_id, count(*) AS event_count
            FROM events GROUP BY user_id
            ORDER BY event_count DESC, user_id ASC LIMIT 10
        """,
        "agg_event_type_daily": """
            SELECT CAST(ts AS DATE) AS day, event_type,
                   count(*) AS n, round(sum(value), 4) AS sum_value
            FROM events GROUP BY day, event_type ORDER BY day, event_type
        """,
        "ist_display_events": """
            SELECT event_id,
                   strftime((ts AT TIME ZONE 'UTC') AT TIME ZONE 'Asia/Kolkata',
                            '%Y-%m-%d %I:%M %p') || ' IST' AS ist_time
            FROM events WHERE event_id < 200 ORDER BY event_id
        """,
        "graph_one_hop_orders": """
            WITH seeds AS (SELECT CAST(c_custkey AS VARCHAR) AS seed FROM customer WHERE c_custkey < 20),
            edges AS (SELECT CAST(o_custkey AS VARCHAR) AS src, CAST(o_orderkey AS VARCHAR) AS dst,
                             'PLACED' AS type FROM orders)
            SELECT DISTINCT * FROM (
                SELECT seed, dst AS neighbor, type, 'out' AS direction FROM seeds JOIN edges ON seed = src
                UNION ALL
                SELECT seed, src AS neighbor, type, 'in' AS direction FROM seeds JOIN edges ON seed = dst
            ) ORDER BY seed, neighbor, direction
        """,
        "graph_triangle_counts": """
            WITH m AS (
                SELECT DISTINCT l_orderkey AS doc, CAST(l_partkey AS BIGINT) AS ent
                FROM lineitem
            ), e AS (
                SELECT a.ent AS u, b.ent AS v
                FROM m a JOIN m b ON a.doc = b.doc AND a.ent < b.ent
                GROUP BY 1, 2
            ), deg AS (
                SELECT ent, count(*) AS degree FROM (
                    SELECT u AS ent FROM e UNION ALL SELECT v AS ent FROM e
                ) GROUP BY ent
            ), tri AS (
                SELECT e1.u AS a, e1.v AS b, e2.v AS c
                FROM e e1
                JOIN e e2 ON e1.v = e2.u
                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
            ), pv AS (
                SELECT ent, count(*) AS triangles FROM (
                    SELECT a AS ent FROM tri
                    UNION ALL SELECT b FROM tri
                    UNION ALL SELECT c FROM tri
                ) GROUP BY ent
            )
            SELECT deg.ent AS entity, deg.degree,
                   COALESCE(pv.triangles, 0) AS triangles,
                   CASE WHEN deg.degree >= 2
                        THEN round(2.0 * COALESCE(pv.triangles, 0)
                                   / (deg.degree * (deg.degree - 1.0)), 6)
                        ELSE 0.0 END AS clustering
            FROM deg LEFT JOIN pv USING (ent)
            ORDER BY entity
        """,
        "agg_hypertable_rollup": """
            WITH ev AS (
                SELECT ts, CAST(round(value * 100) AS BIGINT) AS cents FROM events
            ), lv AS (
                SELECT 'hour' AS granularity, date_trunc('hour', ts) AS bucket,
                       count(*) AS n, sum(cents) AS s, min(cents) AS mn, max(cents) AS mx
                FROM ev GROUP BY 2
                UNION ALL
                SELECT 'day', date_trunc('day', ts), count(*), sum(cents), min(cents), max(cents)
                FROM ev GROUP BY 2
            )
            SELECT granularity, bucket, CAST(n AS BIGINT) AS n,
                   CAST(s AS BIGINT) AS sum_cents, CAST(mn AS BIGINT) AS min_cents,
                   CAST(mx AS BIGINT) AS max_cents,
                   CAST(s AS BIGINT) * 10000 // CAST(n AS BIGINT) AS mean_microunits
            FROM lv ORDER BY granularity, bucket
        """,
        "join_asof_last_signup": """
            SELECT l.event_id, r.event_id AS last_signup_event_id
            FROM events l
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') r
              ON l.user_id = r.user_id AND l.ts >= r.ts
            ORDER BY l.event_id
        """,
        "join_range_after_purchase": """
            SELECT e.event_id, p.event_id AS window_id
            FROM events e
            JOIN (SELECT user_id, event_id, ts AS start_ts,
                         ts + INTERVAL 1 HOUR AS end_ts
                  FROM events WHERE event_type = 'purchase') p
              ON e.user_id = p.user_id AND e.ts >= p.start_ts AND e.ts < p.end_ts
            ORDER BY e.event_id, window_id
        """,
        "agg_rollup_events": """
            SELECT event_type, CAST(ts AS DATE) AS day,
                   count(*) AS n, round(sum(value), 4) AS sum_value
            FROM events
            GROUP BY ROLLUP (event_type, day)
            ORDER BY event_type ASC NULLS FIRST, day ASC NULLS FIRST
        """,
        "events_sessionize": """
            WITH flagged AS (
                SELECT user_id, ts,
                       CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800 OR lag(ts) OVER w IS NULL
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), labeled AS (
                SELECT user_id, ts,
                       sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
                FROM flagged
            ), sessions AS (
                SELECT user_id, session_id, count(*) AS n_events
                FROM labeled GROUP BY user_id, session_id
            )
            SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_session_events
            FROM sessions GROUP BY user_id ORDER BY user_id
        """,
        "recency_weighted_events": """
            SELECT user_id,
                   round(sum(0.18 * exp(-date_diff('day', CAST(ts AS DATE), DATE '2026-01-01') / 21.0) * value), 4)
                       AS recency_value
            FROM events GROUP BY user_id ORDER BY user_id
        """,
        "text_token_stats": f"""
            SELECT doc_id,
                   len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS n_tokens,
                   length(text) AS text_chars
            FROM documents ORDER BY doc_id
        """,
        "text_quality": f"""
            SELECT doc_id,
                   len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS n_tokens,
                   round(CASE WHEN length(text) > 0
                        THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text)
                        ELSE 0.0 END, 6) AS alpha_ratio,
                   round(CASE WHEN length(text) > 0
                        THEN length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0 / length(text)
                        ELSE 0.0 END, 6) AS punct_ratio,
                   round(CASE WHEN len(regexp_extract_all(text, '{TOKEN_PATTERN}')) > 0
                        THEN len(list_filter(regexp_extract_all(lower(text), '[a-z]+'),
                                             x -> list_contains({_EN}, x))) * 1.0
                             / len(regexp_extract_all(text, '{TOKEN_PATTERN}'))
                        ELSE 0.0 END, 6) AS stopword_ratio,
                   round(CASE WHEN len(regexp_extract_all(text, '{TOKEN_PATTERN}')) > 0
                        THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
                             / len(regexp_extract_all(text, '{TOKEN_PATTERN}'))
                        ELSE 0.0 END, 6) AS mean_token_len
            FROM documents ORDER BY doc_id
        """,
        "text_language_id": _LANG_SCORE_SQL,
        "text_quality_filter": f"""
            SELECT doc_id FROM (
                SELECT doc_id,
                       len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS n_tokens,
                       CASE WHEN length(text) > 0
                            THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text)
                            ELSE 0.0 END AS alpha_ratio,
                       CASE WHEN len(regexp_extract_all(text, '{TOKEN_PATTERN}')) > 0
                            THEN len(list_filter(regexp_extract_all(lower(text), '[a-z]+'),
                                                 x -> list_contains({_EN}, x))) * 1.0
                                 / len(regexp_extract_all(text, '{TOKEN_PATTERN}'))
                            ELSE 0.0 END AS stopword_ratio
                FROM documents
            )
            WHERE n_tokens >= 20 AND n_tokens <= 100000
              AND alpha_ratio >= 0.6 AND stopword_ratio >= 0.005
            ORDER BY doc_id
        """,
        "text_pii_redacted": """
            SELECT doc_id,
                   sha256(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                         '\\+?[0-9]{1,3}[-. ]?\\(?[0-9]{3}\\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}', '<PHONE>', 'g'),
                       '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g')
                   ) AS redacted_sha
            FROM documents ORDER BY doc_id
        """,
        "text_repetition_stats": """
            WITH w AS (
                SELECT doc_id,
                       regexp_extract_all(lower(text), '[a-z0-9]+') AS ws,
                       list_filter(str_split(text, chr(10)), x -> trim(x) <> '') AS ls
                FROM documents
            ), b AS (
                SELECT doc_id, ls,
                       CASE WHEN len(ws) >= 2
                            THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
                            ELSE [] END AS bs
                FROM w
            ), line_stats AS (
                SELECT doc_id, len(ls) AS n_lines, len(list_distinct(ls)) AS n_distinct FROM b
            ), g AS (
                SELECT doc_id, unnest(bs) AS gram FROM b
            ), gc AS (
                SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2
            ), agg AS (
                SELECT doc_id, max(c) AS top_c, sum(c) AS total_c FROM gc GROUP BY 1
            )
            SELECT ls.doc_id,
                   round(CASE WHEN n_lines > 0 THEN 1.0 - n_distinct * 1.0 / n_lines ELSE 0.0 END, 6) AS dup_line_frac,
                   round(CASE WHEN coalesce(total_c, 0) > 0 THEN top_c * 1.0 / total_c ELSE 0.0 END, 6) AS top_bigram_frac
            FROM line_stats ls LEFT JOIN agg USING (doc_id)
            ORDER BY ls.doc_id
        """,
        "text_unigram_logprob": """
            WITH toks AS (
                SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
                FROM documents
            ), vocab AS (
                SELECT tok, count(*) AS c FROM toks GROUP BY tok
            ), total AS (
                SELECT count(*) AS t FROM toks
            ), per_doc AS (
                SELECT toks.doc_id, round(avg(ln(vocab.c * 1.0 / total.t)), 6) AS mean_unigram_logprob
                FROM toks JOIN vocab USING (tok) CROSS JOIN total
                GROUP BY toks.doc_id
            )
            SELECT d.doc_id, coalesce(p.mean_unigram_logprob, 0.0) AS mean_unigram_logprob
            FROM documents d LEFT JOIN per_doc p USING (doc_id)
            ORDER BY d.doc_id
        """,
        "text_fingerprint": """
            SELECT doc_id, sha256(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint
            FROM documents ORDER BY doc_id
        """,
        "dedup_exact_groups": """
            WITH fp AS (
                SELECT doc_id, sha256(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint
                FROM documents
            ), grp AS (
                SELECT fingerprint, count(*) AS dup_count
                FROM fp GROUP BY fingerprint HAVING count(*) > 1
            )
            SELECT g.fingerprint, g.dup_count, f.doc_id
            FROM grp g JOIN fp f USING (fingerprint)
            ORDER BY fingerprint, doc_id
        """,
        "dedup_exact_keep": """
            WITH fp AS (
                SELECT doc_id, sha256(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint
                FROM documents
            )
            SELECT doc_id FROM (
                SELECT doc_id, row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id ASC) AS rn
                FROM fp
            ) WHERE rn = 1 ORDER BY doc_id
        """,
        "sim_cosine_topk": f"""
            SELECT vec_id,
                   round(list_dot_product(CAST(embedding AS DOUBLE[]), {_QUERY_VEC_SQL})
                         / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                            * sqrt(list_dot_product({_QUERY_VEC_SQL}, {_QUERY_VEC_SQL}))), 6) AS similarity
            FROM embeddings
            ORDER BY similarity DESC, vec_id ASC LIMIT 10
        """,
        "dedup_embedding_near": f"""
            WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.e, b.e)
                         / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
            FROM v a JOIN v b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.e, b.e)
                  / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.5
            ORDER BY id_a, id_b
        """,
    }
