"""End-to-end extraction pipeline (the Spark replacement of
/root/reference/run_pipeline.sh's 8-stage shell DAG — SURVEY §3.1).

Stages (each an optional checkpoint via storage.run_stage):

    docs ──extract──▶ extracted ──┬─render+id──▶ questions
                                  ├─grammar────▶ problems
                                  └─embed──────▶ embeddings

All stage transforms are pure DataFrame functions, so the whole pipeline can
also run UNCHECKPOINTED as one fused Catalyst plan: the extraction stage is shuffle-free, problems adds one shuffle (doc_id), and
embeddings adds one Arrow-batched Python stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.operators.embed import embed_text, seed_for_text
from ocr_spark.operators.extract import extract_docs, render_markdown
from ocr_spark.operators.structure import extract_problems
from ocr_spark.functions.textnorm import derive_question_id
from ocr_spark.schema import DEFAULT_EMBEDDING_DIM
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


def run_pipeline(
    docs: DataFrame,
    dim: int = DEFAULT_EMBEDDING_DIM,
    year: int = 2024,
) -> dict[str, DataFrame]:
    """Unmaterialized (lazy) pipeline: returns all stage DataFrames."""
    extracted = extract_docs(docs)
    return {
        "extracted": extracted,
        "questions": questions_from_extracted(extracted, year=year),
        "problems": extract_problems(extracted),
        "embeddings": embeddings_from_extracted(extracted, dim=dim),
    }


def run_pipeline_checkpointed(
    catalog: Catalog,
    docs: DataFrame,
    dim: int = DEFAULT_EMBEDDING_DIM,
    year: int = 2024,
    n_partitions: int = 8,
    run_id: str | None = None,
) -> dict[str, DataFrame]:
    """Checkpointed pipeline: every stage materializes to the catalog with a
    per-partition manifest; re-running after a crash resumes from the first
    incomplete partition of the first incomplete stage (F1/F2 semantics)."""
    extracted = run_stage(
        catalog, "extracted", docs, extract_docs,
        n_partitions=n_partitions, run_id=run_id, lineage="docs",
    )
    questions = run_stage(
        catalog, "questions", extracted,
        lambda df: questions_from_extracted(df, year=year),
        n_partitions=n_partitions, run_id=run_id, lineage="extracted",
    )
    problems = run_stage(
        catalog, "problems", extracted, extract_problems,
        n_partitions=n_partitions, run_id=run_id, lineage="extracted",
    )
    embeddings = run_stage(
        catalog, "embeddings", extracted,
        lambda df: embeddings_from_extracted(df, dim=dim),
        n_partitions=n_partitions, run_id=run_id, lineage="extracted",
    )
    return {
        "extracted": extracted,
        "questions": questions,
        "problems": problems,
        "embeddings": embeddings,
    }
