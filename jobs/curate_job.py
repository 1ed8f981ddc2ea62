#!/usr/bin/env python
"""spark-submit entry point for the corpus-curation pipeline.

Ship and run:

    python scripts/package.py                       # -> dist/ocr_spark.zip
    spark-submit --py-files dist/ocr_spark.zip \\
        jobs/curate_job.py \\
        --input  /path/to/documents_table \\
        --catalog /path/to/catalog \\
        [--min-words 50] [--chunk-words 10] [--redact-pii] [--dedup-lines] \\
        [--substr-dedup [--substr-words 20]]

The training-data curation flow over a (doc_id, text) table, cheapest
filter first so each stage sees less data:

    1. ``gopher_quality``  — row-local quality rules with the text carried
       through (``carry_text=True`` — splitting keeps from rejects never
       joins the flags back to the corpus); failures go to a
       ``curation_rejects`` table with their flag columns (per-item error
       isolation, SURVEY §2.10 F3 style);
    2. optional ``--redact-pii`` rewrites the surviving text through the
       typed-placeholder redactor BEFORE dedup, so dedup, stats and the
       written output all see the exact text that ships (and PII variants
       of otherwise-identical chunks dedup together);
    3. optional ``--dedup-lines`` removes INTRA-document repeated lines
       (C4's other dedup rule) before the cross-document pass, so a doc's
       own boilerplate never inflates the global chunk table;
    4. cross-document dedup on the survivors: ``chunk_dedup`` (C4-style
       aligned chunks, first occurrence wins) by default, or
       ``--substr-dedup`` for ExactSubstr sliding-window dedup
       (arXiv:2107.06499 — catches duplicated blocks no chunk boundary
       aligns with; ~2x the shuffle volume, see operators/curation);
    5. ``repetition_stats`` + ``token_entropy`` on the written curated
       text — stored as ``curation_stats`` for downstream threshold sweeps
       (signals, not filters: a re-run with new thresholds re-reads the
       small curated table, not the raw corpus).

Writes ``curated`` (doc_id, text, n_chunks, n_kept), ``curation_stats``
and ``curation_rejects`` to the catalog and prints each table's row count
as its write counted it (no table is re-read to count it). All stages are
native Spark SQL expressions; the only corpus-wide shuffle is chunk_dedup's
distinct-chunk aggregation (see operators/curation for the scale notes).
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet dir of docs(doc_id, text)")
    ap.add_argument("--catalog", required=True, help="output catalog root")
    ap.add_argument("--min-words", type=int, default=50)
    ap.add_argument("--max-words", type=int, default=100_000)
    ap.add_argument("--min-stopwords", type=int, default=2)
    ap.add_argument("--chunk-words", type=int, default=10)
    ap.add_argument("--redact-pii", action="store_true")
    ap.add_argument("--dedup-lines", action="store_true")
    ap.add_argument("--substr-dedup", action="store_true",
                    help="ExactSubstr sliding-window dedup instead of chunk_dedup")
    ap.add_argument("--substr-words", type=int, default=20)
    args = ap.parse_args()

    # imports resolve from the --py-files zip on executors
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from ocr_spark.operators.curation import (
        chunk_dedup,
        dedup_lines,
        exact_substring_dedup,
        gopher_quality,
        redact_pii,
        repetition_stats,
        token_entropy,
    )
    from ocr_spark.session import get_spark
    from ocr_spark.storage import Catalog

    active = SparkSession.getActiveSession()
    spark = active if active is not None else get_spark(app_name="ocr_spark_curate")

    docs = spark.read.parquet(args.input).select("doc_id", "text")
    catalog = Catalog(spark, args.catalog)

    flagged = gopher_quality(
        docs,
        min_words=args.min_words,
        max_words=args.max_words,
        min_stopwords=args.min_stopwords,
        carry_text=True,
    )
    rows = {"curation_rejects": catalog.write(
        flagged.filter(~F.col("keep")).drop("keep"), "curation_rejects")}
    kept = flagged.filter(F.col("keep")).select("doc_id", "text")
    if args.redact_pii:
        kept = kept.withColumn("text", redact_pii("text"))
    if args.dedup_lines:
        # chunk_dedup references its input in two join branches (no CSE
        # across branches) — materialize once or the whole line-dedup
        # pipeline (repartition + explode + two aggregations) runs twice
        kept = dedup_lines(kept).select("doc_id", "text").localCheckpoint()

    if args.substr_dedup:
        deduped = exact_substring_dedup(kept, min_words=args.substr_words)
    else:
        deduped = chunk_dedup(kept, chunk_words=args.chunk_words)
    rows["curated"] = catalog.write(deduped, "curated")

    texts = catalog.read("curated").select("doc_id", "text")
    stats = repetition_stats(texts).join(
        token_entropy(texts).select("doc_id", "entropy"), "doc_id"
    )
    rows["curation_stats"] = catalog.write(stats, "curation_stats")

    for name in ("curated", "curation_stats", "curation_rejects"):
        print(f"stage={name} rows={rows[name]}")


if __name__ == "__main__":
    main()
