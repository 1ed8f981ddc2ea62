"""M2 tests: structured problem extraction grammar + deterministic embeddings."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from ocr_spark import corpus
from ocr_spark.operators.embed import (
    embed_multimodal,
    embed_text,
    oracle_embedding,
    seed_for_media,
    seed_for_text,
)
from ocr_spark.operators.structure import extract_problems
from ocr_spark.schema import DOC_SCHEMA

CHOICE_RE = re.compile(r"^\s*(\d+)[\.．、]?\s*(.*)$", re.S)
CORRECT_RE = re.compile(r"正解[:：]?\s*(\d+)")


def oracle_problems(spans: list[dict]) -> list[dict]:
    ordered = sorted(spans, key=lambda s: s["offset"])
    problems: list[dict] = []
    cur = None
    for s in ordered:
        if s["kind"] == "heading":
            cur = {
                "id": len(problems) + 1,
                "q": [s["text"]],
                "choices": [],
                "expl": [],
                "correct": None,
                "circuit": False,
                "table": False,
            }
            problems.append(cur)
            continue
        if cur is None:
            continue
        if s["kind"] == "text" and s["text"] is not None and s["text"].startswith("解説"):
            cur["expl"].append(s["text"])
        elif s["kind"] == "text":
            cur["q"].append(s["text"])
        elif s["kind"] == "choice":
            m = CHOICE_RE.match(s["text"])
            num = int(m.group(1)) if m and m.group(1) else None
            cur["choices"].append({"number": num, "text": m.group(2) if m else s["text"]})
        elif s["kind"] == "media":
            cur["circuit"] = True
        elif s["kind"] == "table":
            cur["table"] = True
        if s["text"]:
            cm = CORRECT_RE.search(s["text"])
            if cm and cur["correct"] is None:
                cur["correct"] = int(cm.group(1))
    if problems and not problems[-1]["choices"]:
        problems.pop()
    return [
        {
            "id": p["id"],
            "question": "\n".join(p["q"]),
            "choices": p["choices"],
            "explanation": "\n".join(p["expl"]),
            "correct_answer": p["correct"],
            "has_circuit_diagram": p["circuit"],
            "has_table": p["table"],
        }
        for p in problems
    ]


def _row_to_cmp(problems) -> list[tuple]:
    return [
        (
            p["id"],
            p["question"],
            tuple((c["number"], c["text"]) for c in p["choices"]),
            p["explanation"],
            p["correct_answer"],
            p["has_circuit_diagram"],
            p["has_table"],
        )
        for p in problems
    ]


DOCS = [
    {
        "doc_id": "D1",
        "spans": [
            {"kind": "text", "text": "preamble dropped", "media_ref": None, "offset": 0},
            {"kind": "heading", "text": "1. 問題一", "media_ref": None, "offset": 1},
            {"kind": "text", "text": "本文です", "media_ref": None, "offset": 2},
            {"kind": "choice", "text": "1. 選択肢A", "media_ref": None, "offset": 3},
            {"kind": "choice", "text": "2． 選択肢B", "media_ref": None, "offset": 4},
            {"kind": "text", "text": "解説: こう解く 正解: 2", "media_ref": None, "offset": 5},
            {"kind": "heading", "text": "2. 問題二", "media_ref": None, "offset": 6},
            {"kind": "media", "text": "", "media_ref": "img://D1/f1.png", "offset": 7},
            {"kind": "table", "text": "|a|b|", "media_ref": None, "offset": 8},
            {"kind": "choice", "text": "1、 回路図より", "media_ref": None, "offset": 9},
        ],
    },
    {   # truncated trailing problem → dropped (G07)
        "doc_id": "D2",
        "spans": [
            {"kind": "heading", "text": "1. 完全な問題", "media_ref": None, "offset": 0},
            {"kind": "choice", "text": "1. a", "media_ref": None, "offset": 1},
            {"kind": "heading", "text": "2. 途中で切れた問題", "media_ref": None, "offset": 2},
            {"kind": "text", "text": "この問題は選択肢がない", "media_ref": None, "offset": 3},
        ],
    },
    {   # no heading at all → empty problems
        "doc_id": "D3",
        "spans": [
            {"kind": "text", "text": "見出しなし", "media_ref": None, "offset": 0},
        ],
    },
]


def test_extract_problems_golden(spark):
    df = spark.createDataFrame(pd.DataFrame(DOCS), schema=DOC_SCHEMA)
    got = {
        r.doc_id: _row_to_cmp([p.asDict(recursive=True) for p in r.problems])
        for r in extract_problems(df).collect()
    }
    for d in DOCS:
        assert got[d["doc_id"]] == _row_to_cmp(oracle_problems(d["spans"])), d["doc_id"]


def test_extract_problems_random_corpus(spark):
    pdf = corpus.generate_docs_pandas(40, seed=3, heavy_pct=0.0)
    df = spark.createDataFrame(pdf, schema=DOC_SCHEMA)
    got = {
        r.doc_id: _row_to_cmp([p.asDict(recursive=True) for p in r.problems])
        for r in extract_problems(df).collect()
    }
    for rec in pdf.to_dict("records"):
        assert got[rec["doc_id"]] == _row_to_cmp(oracle_problems(rec["spans"])), rec["doc_id"]


def test_embedding_determinism_and_contract(spark):
    df = spark.createDataFrame(
        [("a", "ある問題文"), ("b", ""), ("c", None), ("d", "ある問題文")],
        ["doc_id", "content"],
    )
    out = embed_text(df, dim=64).select("doc_id", "embedding", seed_for_text("content").alias("seed"))
    rows = {r.doc_id: r for r in out.collect()}
    # empty and null both seed 42 (reference contract)
    assert rows["b"].seed == 42 and rows["c"].seed == 42
    np.testing.assert_allclose(rows["b"].embedding, rows["c"].embedding)
    # same text → same vector; unit norm; oracle match
    np.testing.assert_allclose(rows["a"].embedding, rows["d"].embedding)
    for r in rows.values():
        v = np.array(r.embedding, dtype=np.float32)
        assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-5
        np.testing.assert_allclose(v, oracle_embedding(r.seed, 64), rtol=1e-6)


def test_embed_multimodal_matches_oracle(spark):
    """T15: each vector is the driver-side oracle's for the row's
    (media_ref, text) seed, within 1e-6, and has unit norm; a null media
    ref or text hashes as empty."""
    df = spark.createDataFrame(
        [("a", "img://d/fig_1.png", "図の説明"), ("b", "img://d/fig_1.png", "other"),
         ("c", None, "図の説明"), ("d", "img://d/fig_2.png", None), ("e", "", "図の説明")],
        "doc_id string, media_ref string, content string",
    )
    out = embed_multimodal(df, dim=32).select(
        "doc_id", "embedding", seed_for_media("media_ref", "content").alias("seed")
    )
    rows = out.collect()
    seeds = {r.doc_id: r.seed for r in rows}
    assert seeds["c"] == seeds["e"] and len(set(seeds.values())) == 4
    for r in rows:
        v = np.array(r.embedding, dtype=np.float32)
        assert v.shape == (32,)
        np.testing.assert_allclose(v, oracle_embedding(r.seed, 32), atol=1e-6)
        assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-5


def test_embedding_partition_invariance(spark):
    pdf = pd.DataFrame({"doc_id": [f"d{i}" for i in range(50)], "content": [f"text {i%7}" for i in range(50)]})
    a = embed_text(spark.createDataFrame(pdf).repartition(2), dim=32)
    b = embed_text(spark.createDataFrame(pdf).repartition(11), dim=32)
    da = {r.doc_id: tuple(r.embedding) for r in a.collect()}
    db = {r.doc_id: tuple(r.embedding) for r in b.collect()}
    assert da == db
