"""End-to-end extraction pipeline (the Spark replacement of
/root/reference/run_pipeline.sh's 8-stage shell DAG — SURVEY §3.1).

    docs ──extract──▶ extracted ──┬─render+id──▶ questions
                                  ├─grammar────▶ problems
                                  └─embed──────▶ embeddings

Both modes write ``extracted`` first and build the :func:`derived_stages`
from the table read back, so the docs are scanned and extracted once, and
both return ``{table: rows}`` as counted by the writes (storage module
docstring). The three derived stages are independent, so they are written
as concurrent Spark jobs, one driver thread each (:func:`_write_derived`):
the overlap hides each branch's idle cores (driver-side plan building,
post-shuffle stages coalesced to one task, the embed UDF's Python-worker
start-up). :func:`run_pipeline` (throughput mode) overwrites each table
with ``Catalog.write``; :func:`run_pipeline_checkpointed` writes each stage
through storage.run_stage: the stage run is the resume unit, ``__pid``
buckets are the layout and the per-bucket manifest metrics, and a re-run
over the same docs files (at any bucket count) skips every completed stage.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from functools import partial

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.operators.embed import embed_text, seed_for_text
from ocr_spark.operators.extract import extract_docs, render_markdown
from ocr_spark.operators.structure import extract_problems
from ocr_spark.functions.textnorm import derive_question_id
from ocr_spark.schema import DEFAULT_EMBEDDING_DIM, DOC_SCHEMA
from ocr_spark.storage import Catalog, run_stage


def questions_from_extracted(extracted: DataFrame, year: int = 2024,
                             prefix: str = "Q") -> DataFrame:
    """Render markdown + derive question ids (reference stage 4,
    /root/reference/src/markdown_importer.py:171-279)."""
    md = render_markdown(extracted)
    return md.select(
        derive_question_id("doc_id", prefix).alias("question_id"),
        F.lit(year).alias("year"),
        "content",
        F.col("doc_id"),
    )


def embeddings_from_extracted(extracted: DataFrame,
                              dim: int = DEFAULT_EMBEDDING_DIM) -> DataFrame:
    """Text embeddings over rendered content (reference stage 6,
    /root/reference/src/generate_embedding.py:229-298)."""
    md = render_markdown(extracted)
    emb = embed_text(md, text_col="content", dim=dim)
    return emb.select(
        "doc_id",
        "embedding",
        F.lit("text").alias("embedding_type"),
        F.create_map(
            F.lit("seed"), seed_for_text("content").cast("string"),
            F.lit("n_chars"), F.length("content").cast("string"),
        ).alias("metadata"),
    )


def derived_stages(dim: int, year: int) -> dict[str, Callable[[DataFrame], DataFrame]]:
    """The stages built from ``extracted``, as {table: transform}."""
    return {
        "questions": lambda df: questions_from_extracted(df, year=year),
        "problems": extract_problems,
        "embeddings": lambda df: embeddings_from_extracted(df, dim=dim),
    }


def _write_derived(spark: SparkSession,
                   write: Callable[[str, Callable[[DataFrame], DataFrame]], int],
                   dim: int, year: int) -> dict[str, int]:
    """Call ``write(table, transform)`` for every derived stage at once, one
    driver thread per stage, so their Spark jobs run concurrently. The
    threads inherit the caller's Spark local properties (job group,
    scheduler pool) and job tags. Returns {table: rows} in stage order; if
    a stage raises, its error propagates once every other stage finished."""
    stages = derived_stages(dim, year)
    in_thread = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=len(stages)) as pool:
        futures = {name: pool.submit(in_thread(partial(write, name, transform)))
                   for name, transform in stages.items()}
    return {name: future.result() for name, future in futures.items()}


def run_pipeline(catalog: Catalog, docs: DataFrame, dim: int = DEFAULT_EMBEDDING_DIM,
                 year: int = 2024) -> dict[str, int]:
    """Throughput mode: write ``extracted``, read it back and write the
    three derived stages from the read-back as concurrent jobs, so the docs
    are scanned once. Returns {table: rows}: no Spark job runs besides the
    four writes. If a derived stage fails, the other two are still written
    and the failure is raised."""
    rows = {"extracted": catalog.write(extract_docs(docs), "extracted")}
    extracted = catalog.read("extracted")
    rows.update(_write_derived(
        catalog.spark, lambda name, transform: catalog.write(transform(extracted), name),
        dim, year))
    return rows


def _docs_lineage(docs: DataFrame) -> str:
    """``docs@<digest of the sorted input files>``, or ``docs`` when the
    frame reads no files: new docs files make a new lineage, so their run
    is not taken for a completed one."""
    files = sorted(docs.inputFiles())
    if not files:
        return "docs"
    return "docs@" + hashlib.sha256("\n".join(files).encode()).hexdigest()[:16]


def run_pipeline_checkpointed(
    catalog: Catalog,
    docs: DataFrame,
    dim: int = DEFAULT_EMBEDDING_DIM,
    year: int = 2024,
    n_partitions: int = 8,
    run_id: str | None = None,
) -> dict[str, int]:
    """Checkpointed pipeline: every stage materializes to the catalog with a
    per-bucket manifest, the three derived stages as concurrent jobs like
    :func:`run_pipeline`'s. Re-running after a crash skips the completed
    stages and redoes each incomplete one whole (F1/F2 semantics); a failed
    derived stage leaves the other two completed. A stage's lineage follows
    the docs files (:func:`_docs_lineage`), so a run over other docs
    rewrites every table. Returns {table: rows} like :func:`run_pipeline`;
    a resumed run takes the completed stages' rows from the manifest, never
    from the tables."""
    lineage = _docs_lineage(docs)
    rows = {"extracted": run_stage(
        catalog, "extracted", docs, extract_docs,
        n_partitions=n_partitions, run_id=run_id, lineage=lineage,
    )}
    # read with the schema so an empty stage (no bucket dirs) reads as 0 rows
    extracted = catalog.spark.read.schema(DOC_SCHEMA).parquet(catalog.path("extracted"))
    rows.update(_write_derived(
        catalog.spark, lambda name, transform: run_stage(
            catalog, name, extracted, transform,
            n_partitions=n_partitions, run_id=run_id, lineage=f"extracted<{lineage}",
        ), dim, year))
    return rows
