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
    sources/    readers for raw inputs (JSONL, binary files, WARC/WET)
    reports     report and visual-grid builders

Import each function from its module (``from ocr_spark.operators.dedup
import exact_dedup``): the module is its one public home, and a leading
underscore is the one mark of a private name.
"""

__version__ = "0.1.0"
