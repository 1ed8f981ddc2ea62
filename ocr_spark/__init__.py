"""ocr_spark — a from-scratch PySpark-native document-extraction and
analytics engine with the computational capabilities of the reference
`kento-nakai-ai/ocr` pipeline (see SURVEY.md).

Everything is expressed in the pyspark.sql DataFrame API so Catalyst /
Tungsten / AQE own the physical plan; Python appears only inside
Arrow-vectorized pandas UDFs (never per-row).

Layout:
    session     SparkSession factory with scale-oriented defaults
    schema      canonical schemas (docs/spans, problems, embeddings, manifest)
    corpus      deterministic synthetic corpus generator (seeded, skew knobs)
    storage     parquet table catalog (overwrite, snapshot/restore) +
                per-partition manifest/resume
    functions/  native column-expression libraries (text normalization, ids,
                vector math, text stats)
    operators/  DataFrame → DataFrame operators (extraction, structure,
                embeddings, similarity, dedup, tags, scores, ann, media)
    plans/      end-to-end pipelines (extract → questions/problems/embeddings)
"""

__version__ = "0.1.0"

# Public API — the operators a reference user needs (lazy imports keep
# `import ocr_spark` cheap and avoid pulling pyspark before a session exists).
_API = {
    "get_spark": "ocr_spark.session",
    "generate_docs": "ocr_spark.corpus",
    "Catalog": "ocr_spark.storage",
    "run_stage": "ocr_spark.storage",
    "extract_docs": "ocr_spark.operators.extract",
    "render_markdown": "ocr_spark.operators.extract",
    "extract_problems": "ocr_spark.operators.structure",
    "render_problems_markdown": "ocr_spark.operators.structure",
    "embed_text": "ocr_spark.operators.embed",
    "embed_multimodal": "ocr_spark.operators.embed",
    "top_k_similar": "ocr_spark.operators.similarity",
    "top_k_per_query": "ocr_spark.operators.similarity",
    "ann_topk_per_query": "ocr_spark.operators.similarity",
    "ivf_topk_per_query": "ocr_spark.operators.similarity",
    "all_pairs_similarity_blocked": "ocr_spark.operators.similarity",
    "exact_dedup": "ocr_spark.operators.dedup",
    "minhash_dedup": "ocr_spark.operators.dedup",
    "simhash_dup_pairs": "ocr_spark.operators.dedup",
    "embedding_near_dup_ids": "ocr_spark.operators.dedup",
    "questions_by_tag": "ocr_spark.operators.tags",
    "questions_by_multiple_tags": "ocr_spark.operators.tags",
    "weighted_scores": "ocr_spark.operators.scores",
    "calculate_scores": "ocr_spark.operators.scores",
    "stride_sample": "ocr_spark.operators.sampling",
    "salted_join": "ocr_spark.operators.skew",
    "skewed_join_aqe": "ocr_spark.operators.skew",
    "media_table": "ocr_spark.operators.media",
    "sample_frames": "ocr_spark.operators.media",
    "run_pipeline": "ocr_spark.plans.pipeline",
    "run_pipeline_checkpointed": "ocr_spark.plans.pipeline",
}

__all__ = sorted(_API) + ["__version__"]


def __getattr__(name):
    if name in _API:
        import importlib

        return getattr(importlib.import_module(_API[name]), name)
    raise AttributeError(f"module 'ocr_spark' has no attribute {name!r}")
