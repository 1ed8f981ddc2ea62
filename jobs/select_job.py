#!/usr/bin/env python
"""spark-submit entry point for target-domain data selection.

Ship and run:

    python scripts/package.py                       # -> dist/ocr_spark.zip
    spark-submit --py-files dist/ocr_spark.zip \\
        jobs/select_job.py \\
        --input   /path/to/docs_table \\
        --target  /path/to/target_docs_table \\
        --catalog /path/to/catalog \\
        [--blocklist /path/to/domains.csv] \\
        [--quality-threshold 0.5] [--buckets 262144] [--select-k 0] \\
        [--log-threshold 0.0] [--seed 0]

The selection flow between web curation (jobs/curate_job.py) and mix
assembly (jobs/mix_job.py): cheapest verdict first, each stage writes its
rejects with the evidence columns (per-item isolation, F3 style).

    1. optional ``blocklist_filter`` — UT1-style domain blocklist over the
       crawl URL (subdomain-inclusive); blocked docs go to
       ``select_blocked`` with their canonical host;
    2. quality gate — ``classifier_score`` (hashed linear classifier)
       scores every survivor (row-local, zero shuffles) and one filter
       splits on ``--quality-threshold``; sub-threshold docs go to
       ``select_lowquality`` with their score;
    3. DSIR — fit the target-vs-raw hashed-ngram log-ratio model
       (arXiv:2302.03169) on the survivors, score them, then select:
       ``--select-k > 0`` draws exactly k docs by Gumbel-top-k
       (TakeOrderedAndProject); otherwise the row-local
       ``dsir_sample_fraction`` keeps docs by the sigmoid acceptance
       around ``--log-threshold`` (the corpus-sized path).

Writes ``selected``, ``select_blocked``, ``select_lowquality`` and a
one-row ``select_stats`` to the catalog, and prints the stats row. Its
counts are the input's ``count()`` and the rows each write counted (no
table is re-read to count it). The blocklist and the DSIR model
are broadcast; the only corpus-wide shuffles are the two model-sized fit
aggregations and the id-keyed score sum (see operators/dsir scale notes).
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet dir of docs(doc_id, url, text)")
    ap.add_argument("--target", required=True, help="parquet dir of target-domain docs(text)")
    ap.add_argument("--catalog", required=True, help="output catalog root")
    ap.add_argument("--blocklist", default=None, help="csv of blocked domains (no header)")
    ap.add_argument("--quality-threshold", type=float, default=0.5)
    ap.add_argument("--buckets", type=int, default=1 << 18)
    ap.add_argument("--select-k", type=int, default=0,
                    help="> 0: Gumbel-top-k draw; 0: sigmoid fraction path")
    ap.add_argument("--log-threshold", type=float, default=0.0,
                    help="sigmoid acceptance center for the fraction path")
    ap.add_argument("--seed", type=int, default=0)
    args = ap.parse_args()

    # imports resolve from the --py-files zip on executors
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from ocr_spark.operators.classify import classifier_score, make_seeded_weights
    from ocr_spark.operators.dsir import (
        dsir_log_ratios,
        dsir_resample,
        dsir_sample_fraction,
        dsir_score,
    )
    from ocr_spark.operators.web import blocklist_filter
    from ocr_spark.session import get_spark
    from ocr_spark.storage import Catalog

    active = SparkSession.getActiveSession()
    spark = active if active is not None else get_spark(app_name="ocr_spark_select")

    docs = spark.read.parquet(args.input)
    target = spark.read.parquet(args.target).select("text")
    catalog = Catalog(spark, args.catalog)

    n_input = docs.count()
    n_blocked = 0
    if args.blocklist:
        bl = spark.read.csv(args.blocklist, schema="domain string")
        # localCheckpoint: the verdict frame fans out to the rejects write
        # AND the survivor stream (same reason mix_job checkpoints flags)
        verdicts = blocklist_filter(docs, bl).localCheckpoint()
        n_blocked = catalog.write(verdicts.filter(F.col("blocked")).drop("blocked"),
                                  "select_blocked")
        docs = verdicts.filter(~F.col("blocked")).drop("host", "blocked")

    # seeded stand-in model (the T14 dummy-embedder convention: swap in a
    # trained (bucket, weight) vector in production); the weights are one
    # constant-folded array literal, not one plan-build call per weight
    scored = classifier_score(
        docs, make_seeded_weights(1 << 16, seed=args.seed + 1), seed=args.seed
    ).localCheckpoint()
    n_lowquality = catalog.write(
        scored.filter(F.col("score") < args.quality_threshold), "select_lowquality"
    )
    survivors = scored.filter(F.col("score") >= args.quality_threshold).drop(
        "n_words", "score"
    )

    llr = dsir_log_ratios(target, survivors, args.buckets, seed=args.seed)
    dsir_scored = dsir_score(
        survivors, llr, args.buckets, seed=args.seed
    ).localCheckpoint()
    if args.select_k > 0:
        selected = dsir_resample(dsir_scored, args.select_k, seed=args.seed)
    else:
        selected = dsir_sample_fraction(
            dsir_scored, args.log_threshold, seed=args.seed
        ).filter(F.col("keep")).drop("keep")
    stats = {"n_input": n_input, "n_blocked": n_blocked, "n_lowquality": n_lowquality,
             "n_selected": catalog.write(selected, "selected")}
    # one JVM-side row: createDataFrame of a Python list starts Python workers
    catalog.write(spark.range(1, numPartitions=1).select(
        *(F.lit(n).cast("long").alias(name) for name, n in stats.items())), "select_stats")
    print(f"stats={stats}")


if __name__ == "__main__":
    main()
