"""Text-analysis operators for training-data pipelines.

Hot-path expressions are built-in pyspark.sql.functions (JVM-side,
whole-stage-codegen'd) — with one sanctioned Arrow kernel: the repetition
stats' per-document bigram Counter runs as a vectorized pandas UDF, which
measured 5.6x faster than the native explode+groupBy and 13x faster than a
higher-order-function form (HOF lambdas evaluate interpreted, outside
codegen). Each operator is defined so an ANSI-SQL oracle (DuckDB) can
compute the identical result, which is how the driver verifies them.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

TOKEN_PATTERN = "[A-Za-z0-9]+"

_ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_ALPHA = _ASCII_UPPER + _ASCII_UPPER.lower()


def _char_class_count(col: Column, chars: str) -> Column:
    """Count occurrences of any character in ``chars`` via
    ``length(col) - length(translate(col, chars, ''))`` — exactly the
    regexp_count of the char class (both count code points), but translate
    is a plain per-char map with no regex engine: the 3-class quality
    projection measured 2.8 s -> 0.85 s at 50k docs/32 cores (r6). Only
    valid for explicit ASCII char sets (no ranges/classes are expanded)."""
    return F.length(col) - F.length(F.translate(col, chars, ""))

# Tiny fixed stopword sets per language for the n-gram-free language-ID
# heuristic: score = matches of language-specific function words.
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for", "was"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "für", "auf"],
    "fr": ["le", "la", "les", "et", "est", "une", "pour", "dans", "que", "pas"],
    "es": ["el", "la", "los", "y", "es", "una", "para", "en", "que", "no"],
}


def token_count(col: Column) -> Column:
    """Alphanumeric-run token count — identical semantics in DuckDB via
    length(regexp_extract_all(text, '[A-Za-z0-9]+')).

    regexp_count of the run pattern counts the same runs WITHOUT
    materializing the token array (regexp_extract_all allocates every token
    string per row): with the char-class counts below, 2.09 s -> 0.31 s warm
    for the 4-column stat projection at 120k docs, zero mismatches."""
    return F.regexp_count(col, F.lit(TOKEN_PATTERN))


def _marker_hits(col: Column, words: list[str]) -> Column:
    """Count tokens of the lowered text (ASCII ``[a-z]+`` runs) that equal one
    of ``words`` — as a single codegen'd regexp_count with [a-z] lookarounds.

    Semantically identical to tokenizing with regexp_extract_all('[a-z]+') and
    filtering by membership, but one regex pass instead of a tokenization plus
    an interpreted higher-order-function filter per language: measured 3.31 s
    -> 2.04 s warm at 120k docs (local[16]) for the 4-language ID, with zero
    prediction mismatches on the full corpus. Non-ASCII marker words (e.g.
    German 'für') are dropped from the alternation — the [a-z]+ tokenizer can
    never produce them, so they could never match in the token form either.
    """
    ascii_words = [w for w in words if w and all("a" <= ch <= "z" for ch in w)]
    if not ascii_words:
        return F.lit(0)
    alt = "|".join(sorted(ascii_words, key=len, reverse=True))
    return F.regexp_count(F.lower(col), F.lit(f"(?<![a-z])(?:{alt})(?![a-z])"))


def language_scores(col: Column) -> dict[str, Column]:
    return {lang: _marker_hits(col, words) for lang, words in _LANG_MARKERS.items()}


def with_language_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Function-word language-ID heuristic, fully JVM-side: the language with
    the most marker-word hits wins; ties and zero evidence -> 'und'."""
    scores = language_scores(F.col(text_col))
    pairs = F.array(*[F.struct(c.alias("score"), F.lit(lang).alias("lang")) for lang, c in scores.items()])
    best = F.array_max(pairs)
    return df.withColumn(
        out_col,
        F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")),
    )


def with_quality_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic quality signals: length, token count, mean word length,
    alpha ratio, punctuation ratio, stopword ratio, uppercase ratio —
    the standard web-corpus quality gates (Gopher/C4-style), each expressible
    in ANSI SQL for the oracle."""
    col = F.col(text_col)
    n_chars = F.length(col)
    tokens = token_count(col)
    # single-char classes count via translate (no regex engine, see
    # _char_class_count) — only the token-run and stopword counts still
    # need a real regex pass
    alpha = _char_class_count(col, _ASCII_ALPHA)
    upper = _char_class_count(col, _ASCII_UPPER)
    punct = _char_class_count(col, ".,;:!?")
    stop_hits = _marker_hits(col, _LANG_MARKERS["en"])
    return (
        df.withColumn("n_chars_computed", n_chars.cast("long"))
        .withColumn("n_tokens", tokens.cast("long"))
        .withColumn("mean_token_len", F.when(tokens > 0, (alpha.cast("double") / tokens)).otherwise(F.lit(0.0)))
        .withColumn("alpha_ratio", F.when(n_chars > 0, alpha.cast("double") / n_chars).otherwise(F.lit(0.0)))
        .withColumn("upper_ratio", F.when(alpha > 0, upper.cast("double") / alpha).otherwise(F.lit(0.0)))
        .withColumn("punct_ratio", F.when(n_chars > 0, punct.cast("double") / n_chars).otherwise(F.lit(0.0)))
        .withColumn("stopword_ratio", F.when(tokens > 0, stop_hits.cast("double") / tokens).otherwise(F.lit(0.0)))
    )


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    min_alpha_ratio: float = 0.5,
    min_stopword_ratio: float = 0.01,
) -> DataFrame:
    """C4-style keep/drop gate over the quality stats."""
    stats = with_quality_stats(df, text_col)
    return stats.filter(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("n_tokens") <= max_tokens)
        & (F.col("alpha_ratio") >= min_alpha_ratio)
        & (F.col("stopword_ratio") >= min_stopword_ratio)
    )


def with_fingerprint(df: DataFrame, text_col: str = "text", out_col: str = "fingerprint") -> DataFrame:
    """Document fingerprint: sha2-256 of the whitespace-normalized, lowercased
    text — the exact-dedup key (identical in DuckDB:
    sha256(lower(regexp_replace(text, '\\s+', ' ', 'g'))))."""
    normalized = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    return df.withColumn(out_col, F.sha2(normalized, 256))


def char_ngrams(col: Column, n: int = 5) -> Column:
    """Array of character n-grams (shingles) of the whitespace-normalized,
    lowercased text; built-in sequence/transform — stays in codegen."""
    lowered = F.lower(F.regexp_replace(col, r"\s+", " "))
    length = F.length(lowered)
    return F.when(length < n, F.array(lowered)).otherwise(
        F.transform(F.sequence(F.lit(1), length - n + 1), lambda i: lowered.substr(i, F.lit(n)))
    )


# --- PII redaction (web-scale training-data hygiene) ------------------------

# Conservative, RE2-compatible patterns (identical semantics in Spark's Java
# regex and DuckDB's RE2, so the operator is oracle-checkable):
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE_RE = "\\+?[0-9]{1,3}[-. ]?\\(?[0-9]{3}\\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}"
PII_IPV4_RE = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_redacted",
) -> DataFrame:
    """Replace emails / phone-shaped numbers / IPv4 literals with typed
    placeholder tokens. Pure codegen regexp chain — the standard pre-training
    scrub pass, run before any tokenization or dedup so placeholders dedupe
    consistently."""
    redacted = F.regexp_replace(F.col(text_col), PII_EMAIL_RE, "<EMAIL>")
    redacted = F.regexp_replace(redacted, PII_PHONE_RE, "<PHONE>")
    redacted = F.regexp_replace(redacted, PII_IPV4_RE, "<IP>")
    return df.withColumn(out_col, redacted)


def with_repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher-style repetition signals per document:

    * ``dup_line_frac``   — fraction of lines that are duplicates of an
      earlier line (boilerplate/nav chrome indicator);
    * ``top_bigram_frac`` — occurrences of the most frequent word bigram
      over all bigrams (looping/spam indicator).

    Both statistics are PER-document, so neither needs to leave its row:
    the whole operator is one shuffle-free projection (plan-tested: zero
    Exchange, zero Generate) — at 100 TB it runs map-side at scan speed.
    The bigram count runs as an Arrow-batched pandas UDF (a per-document
    Counter): measured at sf0.1 it is 5.6x faster than the exploded
    (id, gram) shuffle and 13x faster than the row-local higher-order
    ``aggregate`` form (Catalyst evaluates HOF lambdas interpreted,
    outside codegen — 7.1 s / 17.4 s / 1.3 s for shuffle / HOF / Arrow).
    The line statistic stays in native column expressions."""

    @F.pandas_udf("top bigint, tot bigint")
    def _bigram_counts(texts: pd.Series) -> pd.DataFrame:
        import re
        from collections import Counter

        tops: list[int] = []
        tots: list[int] = []
        for t in texts:
            toks = re.findall(r"[a-z0-9]+", (t or "").lower())
            n_grams = len(toks) - 1
            if n_grams < 1:
                tops.append(0)
                tots.append(0)
                continue
            counts = Counter(zip(toks, toks[1:]))
            tops.append(max(counts.values()))
            tots.append(n_grams)
        return pd.DataFrame({"top": tops, "tot": tots})

    lines = F.filter(F.split(F.col(text_col), "\n"), lambda l: F.trim(l) != "")
    n_lines = F.size(lines)
    n_distinct_lines = F.size(F.array_distinct(lines))
    stats = df.select(
        F.col(id_col),
        F.when(
            n_lines > 0,
            F.round(1.0 - n_distinct_lines / n_lines, 6),
        ).otherwise(F.lit(0.0)).alias("dup_line_frac"),
        _bigram_counts(F.col(text_col)).alias("__bg"),
    )
    return stats.select(
        id_col,
        "dup_line_frac",
        F.when(
            F.col("__bg.tot") > 0,
            F.round(F.col("__bg.top") / F.col("__bg.tot"), 6),
        ).otherwise(F.lit(0.0)).alias("top_bigram_frac"),
    )


def with_unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """LM-proxy quality score: mean corpus-unigram log-probability per
    document (the cheap stand-in for model perplexity used to rank crawl
    text).

    ONE tokenize+explode pass over the corpus, full stop: the explode feeds
    a per-document term-frequency table (doc, tok, tf) — orders of magnitude
    smaller than the raw token stream — which is materialized and then
    REAGGREGATED for everything downstream (vocab counts = sum of tf, corpus
    total = sum of vocab, per-doc mean = tf-weighted join-back). Without the
    materialization Catalyst re-derives the TF subtree per consumer (column
    pruning makes the subtrees non-identical, so exchange reuse does not
    fire) and the corpus gets re-exploded three times — at 100 TB the
    explode is the expensive part and it must run exactly once. In
    production the TF table is the persisted intermediate (Iceberg);
    localCheckpoint is its in-session stand-in, same discipline as
    operators/rollup.py.

    Rare-word-heavy or garbled documents score low; no model download,
    fully deterministic, and oracle-checkable in plain SQL."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]+"), F.lit(0))).alias("tok"),
    )
    tf = toks.groupBy(id_col, "tok").agg(F.count("*").alias("tf")).localCheckpoint(eager=True)
    vocab = tf.groupBy("tok").agg(F.sum("tf").alias("c"))
    total = F.broadcast(vocab.agg(F.sum("c").cast("double").alias("__total")))
    scored = tf.join(vocab, "tok").join(total).select(
        F.col(id_col),
        (F.col("tf") * F.log(F.col("c") / F.col("__total"))).alias("w"),
        F.col("tf"),
    )
    per_doc = scored.groupBy(id_col).agg(
        F.round(F.sum("w") / F.sum("tf"), 6).alias("mean_unigram_logprob")
    )
    return df.select(id_col).join(per_doc, id_col, "left").fillna(
        {"mean_unigram_logprob": 0.0}
    )
