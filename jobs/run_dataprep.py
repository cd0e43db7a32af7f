"""spark-submit entry point for the training-data preparation pipeline.

The companion job to jobs/run_kg.py: where run_kg builds the knowledge
graph, run_dataprep turns a raw crawl-document table into training-ready
text — the standard pre-training sequence, each stage one of the engine's
operators:

    1 boilerplate   site-level repeated-line removal   (operators/boilerplate.py)
    2 language      n-gram marker language-ID filter   (operators/textstats.py)
    3 quality       C4/Gopher-style keep gates         (operators/textstats.py)
    4 pii           email/phone/ip redaction           (operators/textstats.py)
    5 exact dedup   min-id representative per hash     (operators/dedup.py)
    6 near dedup    MinHash-LSH candidate drop         (operators/dedup.py)
                    (+ optional exact-Jaccard verify, --verify-jaccard T;
                     --cluster-dedup for transitive keep-one-per-component;
                     --clip-spans W for span-level removal of repeated
                     W-token windows inside surviving docs)
    7 decontam      benchmark n-gram overlap drop      (operators/decontam.py)  [optional]
    8 pack          concat-and-chunk window layout     (operators/packing.py)

Outputs under --output: ``corpus/`` (cleaned documents + token counts) and
``packs/`` (the deterministic pack manifest). One JSON summary line on
stdout with per-stage survivor counts — the numbers you watch when a new
crawl goes through.

Cluster usage:

    zip -r sage_spark.zip sage_spark
    spark-submit --py-files sage_spark.zip jobs/run_dataprep.py \
        --input s3://bucket/crawl/documents/ --output s3://bucket/prep/

Local smoke run:

    python jobs/run_dataprep.py --input /root/testdata/sf0.001/documents.parquet \
        --output /tmp/prep

In-process, ``main(argv)`` takes the same arguments and returns the summary.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from sage_spark.operators.boilerplate import strip_boilerplate  # noqa: E402
from sage_spark.operators.decontam import decontaminate  # noqa: E402
from sage_spark.operators.dedup import (  # noqa: E402
    clip_duplicate_spans,
    cluster_dedup,
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
)
from sage_spark.operators.packing import pack_sequences  # noqa: E402
from sage_spark.operators.textstats import (  # noqa: E402
    quality_filter,
    redact_pii,
    token_count,
    with_language_id,
)
from sage_spark.session import build_spark  # noqa: E402


def main(argv: list[str]) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents parquet (doc_id, text, source, ...)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--lang", default="en", help="keep documents language-ID'd as this (empty = keep all)")
    ap.add_argument("--group-col", default="source", help="site/group column for boilerplate removal")
    ap.add_argument("--benchmark", default=None, help="parquet of eval texts to decontaminate against")
    ap.add_argument("--decontam-ngram", type=int, default=8)
    ap.add_argument("--window", type=int, default=2048, help="pack size in tokens")
    ap.add_argument("--min-tokens", type=int, default=5)
    ap.add_argument("--skip-near-dedup", action="store_true")
    # bands=8 x rows=8 puts the LSH knee near Jaccard ~0.77 — dedup means
    # near-duplicates, not merely same-template pages (bands=16 would gate
    # at ~0.5 and eat template-heavy sites)
    ap.add_argument("--lsh-bands", type=int, default=8)
    ap.add_argument("--lsh-hashes", type=int, default=64)
    ap.add_argument(
        "--verify-jaccard", type=float, default=None, metavar="T",
        help="verify LSH candidates with exact shingle Jaccard and drop only "
             "pairs >= T (one extra candidate-sized join; cuts LSH false-positive drops)",
    )
    ap.add_argument(
        "--clip-spans", type=int, default=None, metavar="W",
        help="span-level dedup after document dedup: remove every non-first "
             "occurrence of a W-token window repeated anywhere in the surviving "
             "corpus (output text becomes the normalized token stream)",
    )
    ap.add_argument(
        "--cluster-dedup", action="store_true",
        help="transitive near-dedup: connected components over the (verified) "
             "pairs, keep the min-id document per cluster — pairwise drop keeps "
             "BOTH a and b of an unpaired (a, c)+(b, c) wedge; cluster mode "
             "keeps one representative per chained group",
    )
    args = ap.parse_args(argv)

    spark = build_spark(app_name="sage-dataprep")
    spark.sparkContext.setLogLevel("WARN")

    docs = spark.read.parquet(args.input)
    counts: dict[str, int] = {"input": docs.count()}

    cleaned = strip_boilerplate(docs, group_col=args.group_col).join(
        docs.drop("text"), "doc_id"
    ).withColumnRenamed("text_clean", "text")
    # pin the boilerplate join once: every stage count below is an action,
    # and without this each would recompute the (site, line) stats scan
    cleaned = cleaned.localCheckpoint(eager=True)
    if args.lang:
        cleaned = with_language_id(cleaned).filter(F.col("lang_pred") == args.lang)
        counts["language"] = cleaned.count()
    kept = quality_filter(cleaned, min_tokens=args.min_tokens)
    counts["quality"] = kept.count()
    kept = redact_pii(kept, out_col="text")
    kept = exact_dedup(kept, "text", "doc_id").localCheckpoint(eager=True)
    counts["exact_dedup"] = kept.count()

    if not args.skip_near_dedup:
        sided = kept.withColumn("__sid", F.col("doc_id").cast("string"))
        pairs = minhash_lsh_candidates(
            sided, "text", "__sid",
            bands=args.lsh_bands, num_hashes=args.lsh_hashes,
        )
        if args.verify_jaccard is not None:
            # exact-verify stage: only candidate pairs whose true shingle
            # Jaccard clears the threshold get dropped (candidate-driven
            # join — never all-pairs)
            pairs = ngram_jaccard_pairs(
                sided, "text", "__sid",
                threshold=args.verify_jaccard,
                candidates=pairs.select("id_a", "id_b"),
            )
        if args.cluster_dedup:
            # transitive semantics: one survivor (min id) per connected
            # component of the pair graph — the component iteration runs
            # only over ids appearing in >= 1 pair, never the full corpus
            kept = cluster_dedup(sided, pairs.select("id_a", "id_b"), "__sid").drop("__sid")
        else:
            # pairwise semantics: keep id_a (the smaller id of each
            # candidate pair), drop id_b
            drop = pairs.select(F.col("id_b").alias("__sid")).distinct()
            kept = sided.join(drop, "__sid", "left_anti").drop("__sid")
        counts["near_dedup"] = kept.count()

    if args.clip_spans:
        # span-level pass AFTER document-level dedup: the corpus keeps one
        # copy of every repeated clip_spans-token window
        kept = clip_duplicate_spans(
            kept, "text", "doc_id", width=args.clip_spans, out_col="text"
        ).localCheckpoint(eager=True)
        counts["span_clip"] = kept.count()

    if args.benchmark:
        bench = spark.read.parquet(args.benchmark)
        flags = decontaminate(kept, bench, n=args.decontam_ngram)
        kept = kept.join(flags.filter(~F.col("contaminated")).select("doc_id"), "doc_id")
        counts["decontaminated"] = kept.count()

    corpus = kept.withColumn("n_tokens", token_count(F.col("text")).cast("long"))
    corpus = corpus.localCheckpoint(eager=True)
    out = Path(args.output)
    corpus.write.mode("overwrite").parquet(str(out / "corpus"))
    packs = pack_sequences(corpus, token_col="n_tokens", window=args.window)
    packs.write.mode("overwrite").parquet(str(out / "packs"))
    total_tokens = corpus.agg(F.sum("n_tokens")).collect()[0][0] or 0
    counts["documents_out"] = corpus.count()
    summary = {
        **counts,
        "total_tokens": int(total_tokens),
        "n_packs": int(total_tokens // args.window + (1 if total_tokens % args.window else 0)),
        "window": args.window,
    }
    print(json.dumps(summary))
    return summary


if __name__ == "__main__":
    main(sys.argv[1:])
