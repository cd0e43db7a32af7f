"""Site-level boilerplate removal for crawl corpora.

Navigation chrome, cookie banners, and footers repeat on (nearly) every
page of a site; per-document signals (Gopher dup_line_frac,
textstats.with_repetition_stats) can spot heavy repetition but cannot
remove a footer that appears once per page. The site-level rule —
drop any line occurring in at least ``frac`` of a site's documents — is
the standard fix, and it is fully relational:

1. explode documents into (group, line, seq) with per-line document
   counts — one shuffle keyed on (group, normalized line);
2. boilerplate dimension = lines above the threshold in groups with at
   least ``min_docs`` documents (small: bounded by distinct repeated
   lines per site, broadcastable in practice);
3. anti-join the exploded lines against it and reassemble each document
   in original line order — one shuffle keyed on doc id.

Hot-site skew note: the line-stats shuffle keys on (group, line), so a
single huge site spreads across its distinct lines rather than one key;
the reassembly keys on doc_id (uniform). No single-key bottleneck.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def strip_boilerplate(
    docs: DataFrame,
    *,
    group_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 3,
    frac: float = 0.5,
) -> DataFrame:
    """Returns (id_col, text_clean, n_lines_removed): each document with
    its group's boilerplate lines removed (matched on trimmed content,
    original spelling and order preserved for surviving lines).

    The exploded line table is checkpointed before its three
    consumers (line stats, per-doc totals, the kept/rebuild branch) so the
    corpus text is split exactly once — without it Catalyst re-derives the
    explode per consumer. Same discipline as the unigram-logprob TF table;
    in production this is the persisted intermediate."""
    lines = docs.select(
        F.col(id_col),
        F.col(group_col).alias("__g"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__seq", "__line"),
    ).withColumn("__norm", F.trim(F.col("__line"))).localCheckpoint(eager=True)
    group_sizes = docs.groupBy(F.col(group_col).alias("__g")).agg(
        F.count_distinct(F.col(id_col)).alias("__n_docs")
    )
    line_stats = (
        lines.filter(F.col("__norm") != "")
        .groupBy("__g", "__norm")
        .agg(F.count_distinct(id_col).alias("__n_with"))
    )
    boiler = (
        line_stats.join(group_sizes, "__g")
        .filter((F.col("__n_docs") >= min_docs) & (F.col("__n_with") >= frac * F.col("__n_docs")))
        .select("__g", "__norm")
    )
    kept = lines.join(boiler, ["__g", "__norm"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__seq", "__line"))),
                lambda s: s["__line"],
            ),
            "\n",
        ).alias("text_clean"),
        F.count("*").alias("__n_kept"),
    )
    totals = lines.groupBy(id_col).agg(F.count("*").alias("__n_total"))
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            (F.col("__n_total") - F.coalesce("__n_kept", F.lit(0))).cast("long").alias("n_lines_removed"),
        )
    )
