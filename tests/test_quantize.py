"""Int8 embedding quantization + rescored top-k (operators/quantize)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from ocr_spark.operators.quantize import (
    quantize_vector_py,
    topk_similar_quantized,
    with_int8_vectors,
)
from tests.plan_util import plan_text

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")


def _vecs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )


def test_quantization_error_bound_and_zero_vector(spark):
    rows = [
        (1, [0.3, -1.7, 0.001, 2.54]),
        (2, [0.0, 0.0, 0.0, 0.0]),
        (3, [-127.0, 127.0, 63.5, -0.5]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, embedding array<double>")
    out = {r["doc_id"]: r for r in with_int8_vectors(df).collect()}
    for doc_id, vec in rows:
        r = out[doc_id]
        assert len(r["qvec"]) == len(vec)
        assert all(-127 <= q <= 127 for q in r["qvec"])
        for x, q in zip(vec, r["qvec"]):
            assert abs(x - q * r["qscale"]) <= r["qscale"] / 2 + 1e-12
    assert out[2]["qscale"] == 0.0 and list(out[2]["qvec"]) == [0, 0, 0, 0]


def test_python_twin_matches_spark_quantizer(spark):
    vecs = [
        [0.25, -0.75, 1.25, -1.75, 0.5],   # exact .5 ratios — rounding-mode sensitive
        [3.0, -2.0, 1.0, 0.0, -0.25],
        [1e-8, -1e-8, 5e-9, 0.0, 1e-7],
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "doc_id long, embedding array<double>"
    )
    spark_q = {r["doc_id"]: (list(r["qvec"]), r["qscale"])
               for r in with_int8_vectors(df).collect()}
    for i, v in enumerate(vecs):
        q, s = quantize_vector_py(v)
        assert spark_q[i][0] == q, (i, spark_q[i][0], q)
        assert abs(spark_q[i][1] - s) < 1e-15


def test_quantized_topk_excludes_zero_vectors_and_reuses_stored_columns(spark):
    """A zero-norm corpus vector must never appear in the top-k (its cosine
    is NaN, and NaN WINS a descending sort — the argmax pitfall); a frame
    already carrying qvec/qscale is consumed as-is (production shape)."""
    import pytest

    rows = [(1, [1.0, 0.0]), (2, [0.8, 0.6]), (3, [0.0, 0.0]), (4, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "doc_id long, embedding array<double>")
    got = topk_similar_quantized(df, [1.0, 0.0], k=4)
    ids = [r["doc_id"] for r in got.collect()]
    assert 3 not in ids and ids[0] == 1
    # pre-quantized input: same result, quantization not recomputed
    stored = with_int8_vectors(df)
    got2 = [r["doc_id"] for r in topk_similar_quantized(stored, [1.0, 0.0], k=4).collect()]
    assert got2 == ids
    with pytest.raises(ValueError):
        topk_similar_quantized(df, [0.0, 0.0], k=2)


def test_quantized_topk_matches_exact_on_test_corpus(spark):
    emb = _vecs(spark)
    qvec = [x for x in emb.filter(F.col("doc_id") == 0).collect()[0]["embedding"]]
    from ocr_spark.functions.vectors import cosine_similarity

    exact = (
        emb.withColumn("similarity", cosine_similarity("embedding", F.array([F.lit(float(v)) for v in qvec])))
        .orderBy(F.col("similarity").desc(), "doc_id")
        .limit(10)
        .select("doc_id")
    )
    exact_ids = [r["doc_id"] for r in exact.collect()]
    got = topk_similar_quantized(emb, qvec, k=10)
    got_ids = [r["doc_id"] for r in got.collect()]
    assert got_ids == exact_ids  # rescoring restores exact order at default factor
    # stage-1 scan must heap-select, never globally sort
    plan = plan_text(got)
    assert "TakeOrderedAndProject" in plan, plan[:1500]
