#!/usr/bin/env python
"""spark-submit entry point for the extraction pipeline (SURVEY §7.1 M5).

Ship and run:

    python scripts/package.py                       # -> dist/ocr_spark.zip
    spark-submit --py-files dist/ocr_spark.zip \\
        jobs/extract_job.py \\
        --input  /path/to/docs_table \\
        --catalog /path/to/catalog \\
        [--checkpointed] [--n-partitions 64] [--dim 768] [--run-id r1]

Reads the interleaved docs table (input_hint shape), runs the 4-stage
pipeline (extracted / questions / problems / embeddings), writes each stage
to the catalog and prints its row count as the write counted it (no table
is re-read to count it). ``extracted`` is written first and the other three
stages are built from the written table, so the docs are scanned once; those
three are written as concurrent Spark jobs, one driver thread each, and the
rows print in stage order. ``--checkpointed`` uses the per-partition
manifest + resume path (north_rule); a resumed stage's rows come from the
manifest, and a run over other docs files rewrites every stage.

On a cluster, pass the usual ``--master yarn|k8s:// --num-executors ...``
to spark-submit; this script only builds the SparkSession from the ambient
config (it sets engine defaults but no master).
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet dir of docs(doc_id, spans)")
    ap.add_argument("--catalog", required=True, help="output catalog root")
    ap.add_argument("--checkpointed", action="store_true",
                    help="per-partition manifest + resume (idempotent re-runs)")
    ap.add_argument("--n-partitions", type=int, default=64)
    ap.add_argument("--dim", type=int, default=768)
    ap.add_argument("--year", type=int, default=2024)
    ap.add_argument("--run-id", default=None)
    args = ap.parse_args()

    # imports resolve from the --py-files zip on executors
    from pyspark.sql import SparkSession

    from ocr_spark.plans.pipeline import run_pipeline, run_pipeline_checkpointed
    from ocr_spark.session import get_spark
    from ocr_spark.storage import Catalog

    active = SparkSession.getActiveSession()
    spark = active if active is not None else get_spark(app_name="ocr_spark_extract")

    docs = spark.read.parquet(args.input)
    catalog = Catalog(spark, args.catalog)

    if args.checkpointed:
        rows = run_pipeline_checkpointed(
            catalog, docs, dim=args.dim, year=args.year,
            n_partitions=args.n_partitions, run_id=args.run_id,
        )
    else:
        rows = run_pipeline(catalog, docs, dim=args.dim, year=args.year)

    for name, n in rows.items():
        print(f"stage={name} rows={n}")


if __name__ == "__main__":
    main()
