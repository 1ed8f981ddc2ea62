"""Canonical schemas for the engine.

The primary input shape is mandated by ``BASELINE.json`` ``input_hint``:

    doc_id : string
    spans  : array<struct<kind:string, text:string, media_ref:string, offset:int>>

and mirrors the reference's interleaved page content (ordered prose / math /
figure / media spans — ``/root/reference/src/ocr_to_markdown.py:61-89,342-350``,
``/root/reference/ocr_demo_results.md:200-213``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Span kinds (content taxonomy from the reference's extraction prompts,
# /root/reference/src/claude_image_analyzer.py:134-192 and ocr_demo_results.md).
SPAN_KINDS = ("text", "heading", "math", "figure", "table", "choice", "media")

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT, False), False),
    ]
)

# Structured problem extraction output (reference contract:
# /root/reference/src/gemini_image_analyzer.py:187-219, README.md:171-203).
CHOICE_STRUCT = T.StructType(
    [
        T.StructField("number", T.IntegerType(), True),
        T.StructField("text", T.StringType(), True),
    ]
)

PROBLEM_STRUCT = T.StructType(
    [
        T.StructField("id", T.IntegerType(), True),
        T.StructField("question", T.StringType(), True),
        T.StructField("choices", T.ArrayType(CHOICE_STRUCT), True),
        T.StructField("explanation", T.StringType(), True),
        T.StructField("correct_answer", T.IntegerType(), True),
        T.StructField("has_circuit_diagram", T.BooleanType(), True),
        T.StructField("has_table", T.BooleanType(), True),
    ]
)

PROBLEMS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("problems", T.ArrayType(PROBLEM_STRUCT), True),
    ]
)

# Embedding output (reference contract: float32 fixed-dim unit vector,
# /root/reference/src/generate_embedding.py:158-166; dims 768/1536 per
# /root/reference/src/db_utils.py:93 and src/embed_importer.py:142).
EMBEDDING_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType(), False), False),
        T.StructField("embedding_type", T.StringType(), False),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# Per-partition checkpoint manifest (north_rule: per-partition lineage +
# row-count/error metrics; mirrors the reference's stage-skip resume,
# /root/reference/run_pipeline.sh:52-64).
MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),  # always "completed"
        T.StructField("rows_in", T.LongType(), False),
        T.StructField("rows_out", T.LongType(), False),
        T.StructField("errors", T.LongType(), False),
        T.StructField("lineage", T.StringType(), True),  # input table/snapshot id
        T.StructField("run_id", T.StringType(), False),
    ]
)

DEFAULT_EMBEDDING_DIM = 768
