"""Core extraction pipeline: docs(spans) → extracted(spans) (M1).

Re-creates the reference's per-page transform chain
(/root/reference/src/ocr_to_markdown.py:373-420: math patterns → figure tags
→ layout) over the interleaved span model.

Scale design
------------
The primary implementation (:func:`extract_docs`) uses ONLY higher-order
array functions (``transform`` / ``filter`` / ``flatten``) on the ``spans``
column: a narrow, shuffle-free, Python-free projection that whole-stage
codegen fuses into the scan. A 20k-span skew doc is just a big cell — no
hot partition, no salting needed on this path: a per-span shuffle costs far
more than one heavy cell's regex time (BENCH/SCALING_RUN.md).

Span semantics
--------------
* non-media spans: text := layout(math(text)); figure refs ``[図N] [表N]
  [Fig.N] [TableN]`` are rewritten to markdown image tags and PROMOTED to
  ``media`` spans in place (document order preserved, offsets re-densified).
* media spans pass through unchanged.
* per-row invariant: span-sequence equality (kind, text, media_ref, order).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_spark.functions.textnorm import (
    _IMG_SENTINEL,
    apply_math_patterns,
    format_layout,
    insert_image_tags,
)

_IMG_TAG_RE = r"^!\[図(\d+)\]\((.+)\)$"


def _normalized_text(span_text: Column, doc_id: Column, image_base_path: str) -> Column:
    """math rewrite → layout format → sentinel-wrapped image tags.

    Literal NULs are stripped from the content FIRST: the image-tag pass
    frames its insertions with an in-band ``\\x00`` sentinel, so a content
    NUL (guaranteed to occur somewhere in a 10^12-doc web corpus) would
    forge the framing and split a text span mid-word — the same
    content-vs-framing collision class as a WET payload containing
    'WARC/1.0'. NUL carries no text semantics, so stripping is lossless."""
    out = apply_math_patterns(F.regexp_replace(span_text, r"\x00", ""))
    out = format_layout(out)
    out = insert_image_tags(out, doc_id, image_base_path=image_base_path, sentinel=True)
    return out


def _split_span(span: Column, doc_id: Column, image_base_path: str) -> Column:
    """One span → array of spans (media promoted, offsets filled later)."""
    new_text = _normalized_text(span["text"], doc_id, image_base_path)
    parts = F.split(new_text, _IMG_SENTINEL)
    # keep empty parts only when the span produced a single (possibly empty) part
    kept = F.when(F.size(parts) == 1, parts).otherwise(
        F.filter(parts, lambda p: p != "")
    )
    return F.transform(
        kept,
        lambda p: F.when(
            p.rlike(_IMG_TAG_RE),
            F.struct(
                F.lit("media").alias("kind"),
                p.alias("text"),
                F.regexp_extract(p, _IMG_TAG_RE, 2).alias("media_ref"),
                F.lit(0).alias("offset"),
            ),
        ).otherwise(
            F.struct(
                span["kind"].alias("kind"),
                p.alias("text"),
                span["media_ref"].alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ),
    )


def extract_docs(docs: DataFrame, image_base_path: str = "images") -> DataFrame:
    """docs(doc_id, spans) → extracted(doc_id, spans). Narrow, shuffle-free.

    The input spans are first re-sorted by ``offset`` (the invariant's order
    key) so correctness never depends on upstream array order.
    """
    doc_id = F.col("doc_id")
    ordered = F.array_sort(
        F.col("spans"),
        lambda a, b: F.when(a["offset"] < b["offset"], -1)
        .when(a["offset"] > b["offset"], 1)
        .otherwise(0),
    )
    nested = F.transform(
        ordered,
        lambda s: F.when(s["kind"] == "media", F.array(s)).otherwise(
            _split_span(s, doc_id, image_base_path)
        ),
    )
    flat = F.flatten(nested)
    redense = F.transform(
        flat,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    return docs.select("doc_id", redense.alias("spans"))


def render_markdown(extracted: DataFrame) -> DataFrame:
    """extracted(doc_id, spans) → (doc_id, content): the markdown render
    used for the ``questions`` table (reference per-page .md files,
    /root/reference/src/ocr_to_markdown.py:452-459).

    Spans join with blank lines in offset order; pure native fold.
    """
    ordered = F.array_sort(
        F.col("spans"),
        lambda a, b: F.when(a["offset"] < b["offset"], -1)
        .when(a["offset"] > b["offset"], 1)
        .otherwise(0),
    )
    content = F.array_join(F.transform(ordered, lambda s: s["text"]), "\n\n")
    return extracted.select("doc_id", content.alias("content"))
