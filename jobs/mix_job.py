#!/usr/bin/env python
"""spark-submit entry point for training-mix assembly.

Ship and run:

    python scripts/package.py                       # -> dist/ocr_spark.zip
    spark-submit --py-files dist/ocr_spark.zip \\
        jobs/mix_job.py \\
        --input    /path/to/curated_table \\
        --benchmark /path/to/eval_docs_table \\
        --weights  /path/to/weights.csv \\
        --catalog  /path/to/catalog \\
        [--ngram 8] [--min-overlaps 1] [--seed 0] [--default-weight 1.0]

The last pipeline stage before tokenization, after curation
(jobs/curate_job.py) and dedup: remove eval-benchmark leakage, then sample
each source at its target mix weight.

    1. ``decontaminate`` — GPT-3-style n-gram overlap vs the benchmark
       table (Brown et al. 2020, App. C). Contaminated docs go to a
       ``mix_contaminated`` table WITH their overlap counts (auditable,
       per-item isolation — F3 style), clean docs continue;
    2. ``weighted_sample`` — per-source epoch weights from a small
       (source, weight) CSV; upsampled copies carry their ``copy`` index
       so downstream shuffling/sharding can keep epochs apart.

Writes ``mix`` (the sampled corpus), ``mix_contaminated`` and a per-source
``mix_stats`` (input docs, contaminated, sampled rows) to the catalog and
prints each table's row count as its write counted it (no table is re-read
to count it).
The benchmark gram set is broadcast; the only corpus-wide shuffle is the
per-doc overlap count of the (contamination-selective) matched stream —
see operators/mixing for the scale notes.
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet dir of docs(doc_id, source, text)")
    ap.add_argument("--benchmark", required=True, help="parquet dir of eval docs(doc_id, text)")
    ap.add_argument("--weights", required=True, help="csv of source,weight (no header)")
    ap.add_argument("--catalog", required=True, help="output catalog root")
    ap.add_argument("--ngram", type=int, default=8)
    ap.add_argument("--min-overlaps", type=int, default=1)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--default-weight", type=float, default=1.0)
    args = ap.parse_args()

    # imports resolve from the --py-files zip on executors
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from ocr_spark.operators.mixing import decontaminate, weighted_sample
    from ocr_spark.session import get_spark
    from ocr_spark.storage import Catalog

    active = SparkSession.getActiveSession()
    spark = active if active is not None else get_spark(app_name="ocr_spark_mix")

    docs = spark.read.parquet(args.input).select("doc_id", "source", "text")
    bench = spark.read.parquet(args.benchmark).select("text")
    weights = spark.read.csv(args.weights, schema="source string, weight double")
    catalog = Catalog(spark, args.catalog)

    # localCheckpoint: the decontaminate plan (corpus tokenize + gram
    # explode + broadcast join + per-doc count) fans out to THREE actions
    # below (mix_contaminated write, mix write, mix_stats) — materialize it
    # once instead of recomputing per action.
    flags = decontaminate(
        docs, bench, n=args.ngram, min_overlaps=args.min_overlaps
    ).localCheckpoint()
    flagged = docs.join(flags, "doc_id")
    rows = {"mix_contaminated": catalog.write(
        flagged.filter(~F.col("keep")).drop("keep"), "mix_contaminated"
    )}
    clean = flagged.filter(F.col("keep")).select("doc_id", "source", "text")

    mix = weighted_sample(
        clean, weights, seed=args.seed, default_weight=args.default_weight
    )
    rows["mix"] = catalog.write(mix, "mix")

    stats = (
        flagged.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("n_contaminated"),
        )
        .join(
            catalog.read("mix").groupBy("source").agg(F.count("*").alias("n_sampled")),
            "source",
            "left",
        )
        .withColumn("n_sampled", F.coalesce("n_sampled", F.lit(0)))
    )
    rows["mix_stats"] = catalog.write(stats, "mix_stats")

    for name in ("mix", "mix_contaminated", "mix_stats"):
        print(f"stage={name} rows={rows[name]}")


if __name__ == "__main__":
    main()
