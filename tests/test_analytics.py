"""M3 tests: similarity, tags, scores vs pure-Python oracles."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from ocr_spark.functions.vectors import cosine_similarity, euclidean_distance
from ocr_spark.operators.scores import (
    MANDATORY_PENALTY_FACTOR,
    best_stat_per_user,
    calculate_scores,
    frequent_questions_excluding_recent,
    weak_questions,
    weighted_scores,
)
from ocr_spark.operators.similarity import (
    lsh_bucket_pairs,
    top_k_per_query,
    top_k_similar,
)
from ocr_spark.operators.tags import (
    dedupe_tags,
    enrich_tags,
    questions_by_multiple_tags,
    questions_by_tag,
    questions_with_min_years,
    tag_histogram,
)

RNG = np.random.RandomState(77)


def _unit(v):
    return v / np.linalg.norm(v)


@pytest.fixture(scope="module")
def emb_df(spark):
    rows = [(f"d{i:03d}", _unit(RNG.normal(0, 1, 16)).astype(np.float32).tolist()) for i in range(40)]
    return spark.createDataFrame(rows, "doc_id string, embedding array<float>"), rows


def test_cosine_and_euclidean_match_numpy(spark, emb_df):
    df, rows = emb_df
    a = np.array(rows[0][1], dtype=np.float64)
    out = df.select(
        "doc_id",
        cosine_similarity("embedding", F.array(*[F.lit(float(x)) for x in rows[0][1]])).alias("cos"),
        euclidean_distance("embedding", F.array(*[F.lit(float(x)) for x in rows[0][1]])).alias("euc"),
    ).collect()
    for r in out:
        b = np.array(dict(rows)[r.doc_id], dtype=np.float64)
        np.testing.assert_allclose(r.cos, float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))), rtol=1e-6)
        np.testing.assert_allclose(r.euc, float(np.linalg.norm(a - b)), rtol=1e-6)


def test_top_k_similar_oracle(spark, emb_df):
    df, rows = emb_df
    q = rows[0][1]
    got = top_k_similar(df, q, k=5, threshold=-1.0, exclude_id="d000").collect()
    qa = np.array(q, dtype=np.float64)
    sims = sorted(
        (
            (float(np.dot(qa, np.array(v, dtype=np.float64)) / (np.linalg.norm(qa) * np.linalg.norm(v))), i)
            for i, v in rows
            if i != "d000"
        ),
        key=lambda t: (-t[0], t[1]),
    )[:5]
    assert [r.doc_id for r in got] == [i for _, i in sims]
    np.testing.assert_allclose([r.similarity for r in got], [s for s, _ in sims], rtol=1e-6)


def test_top_k_per_query_counts_and_selfexclusion(spark, emb_df):
    df, rows = emb_df
    queries = df.limit(3).select(
        F.col("doc_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = top_k_per_query(df, queries, k=4, threshold=-1.0).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {r.query_id for r in queries.collect()}
    for qid, rs in by_q.items():
        assert len(rs) == 4
        assert all(r.doc_id != qid for r in rs)
        assert [r.rank for r in sorted(rs, key=lambda x: x.rank)] == [1, 2, 3, 4]


def test_all_pairs_vs_lsh_recall(spark):
    # clustered vectors → near-dup pairs; LSH must recover all high-sim pairs
    centers = [_unit(RNG.normal(0, 1, 16)) for _ in range(4)]
    rows = []
    for i in range(40):
        c = centers[i % 4]
        rows.append((f"v{i:03d}", _unit(c + RNG.normal(0, 0.02, 16)).astype(np.float32).tolist()))
    df = spark.createDataFrame(rows, "doc_id string, embedding array<float>")
    # exact pairs by numpy brute force (ids ascend with the row index)
    m = np.array([v for _, v in rows], dtype=np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    exact = {
        (rows[i][0], rows[j][0])
        for i, j in zip(*np.triu_indices(len(rows), 1))
        if sims[i, j] >= 0.98
    }
    approx = {
        (r.id_a, r.id_b)
        for r in lsh_bucket_pairs(df, dim=16, threshold=0.98, n_planes=8, n_bands=4).collect()
    }
    assert exact, "test needs non-empty ground truth"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"LSH recall too low: {recall}"
    assert approx <= exact  # exact rescoring: no false positives


TAGS = [
    ("Q001", "category", "circuit"), ("Q001", "difficulty", "HIGH"),
    ("Q002", "category", "circuit"), ("Q002", "difficulty", "LOW"),
    ("Q003", "category", "power"), ("Q003", "difficulty", "HIGH"),
    ("Q004", "category", "circuit"), ("Q004", "difficulty", "HIGH"),
    ("Q005", "year_list", '["R03","R04","R05"]'),
    ("Q006", "year_list", '["R05"]'),
]


@pytest.fixture(scope="module")
def tag_dfs(spark):
    qt = spark.createDataFrame(
        [(q, k, v, None) for q, k, v in TAGS],
        "question_id string, tag_key string, tag_value string, ai_inference string",
    )
    qs = spark.createDataFrame(
        [(f"Q{i:03d}",) for i in range(1, 7)], "question_id string"
    )
    return qs, qt


def test_tag_histogram(spark, tag_dfs):
    _, qt = tag_dfs
    got = [(r.tag_value, r["count"]) for r in tag_histogram(qt, "category").collect()]
    assert got == [("circuit", 3), ("power", 1)]


def test_questions_by_tag_and_multi(spark, tag_dfs):
    qs, qt = tag_dfs
    got = sorted(r.question_id for r in questions_by_tag(qs, qt, "category", "circuit").collect())
    assert got == ["Q001", "Q002", "Q004"]
    multi = sorted(
        r.question_id
        for r in questions_by_multiple_tags(
            qs, qt, {"category": "circuit", "difficulty": "HIGH"}
        ).collect()
    )
    assert multi == ["Q001", "Q004"]


def test_enrich_tags_matches_dict_join(spark, tag_dfs):
    """J4: every tag row keeps its place and gains its key's definition; a
    key with no definition (``year_list``) gets null."""
    _, qt = tag_dfs
    defs = {"category": ("分類", "enum"), "difficulty": ("難易度", "enum")}
    tag_defs = spark.createDataFrame(
        [(k, label, kind) for k, (label, kind) in defs.items()],
        "tag_key string, label string, value_type string",
    )
    got = sorted(
        (r.question_id, r.tag_key, r.tag_value, r.label, r.value_type)
        for r in enrich_tags(qt, tag_defs).collect()
    )
    want = sorted((q, k, v, *defs.get(k, (None, None))) for q, k, v in TAGS)
    assert got == want
    assert ("Q005", "year_list", '["R03","R04","R05"]', None, None) in got


def test_dedupe_tags_keeps_one_whole_row_per_key(spark):
    """U3: exactly one row survives per (question_id, tag_key), and each
    survivor is one whole input row, never fields stitched from two."""
    rows = [
        ("Q1", "category", "circuit", "model-a"),
        ("Q1", "category", "power", "model-b"),
        ("Q1", "difficulty", "HIGH", None),
        ("Q2", "category", "circuit", "model-a"),
        ("Q2", "category", "circuit", "model-c"),
        ("Q2", "category", "power", None),
    ]
    qt = spark.createDataFrame(
        rows, "question_id string, tag_key string, tag_value string, ai_inference string"
    ).repartition(3)
    got = [tuple(r) for r in dedupe_tags(qt).collect()]
    keys = [(q, k) for q, k, *_ in got]
    assert sorted(keys) == sorted({(q, k) for q, k, *_ in rows})
    assert all(r in rows for r in got)


def test_questions_with_min_years(spark, tag_dfs):
    _, qt = tag_dfs
    got = {r.question_id: r.n_years for r in questions_with_min_years(qt, 2).collect()}
    assert got == {"Q005": 3}


META = [
    ("Q001", "HIGH", True, "1級電気"),
    ("Q002", "LOW", False, "1級電気"),
    ("Q003", "MID", True, "1級電気"),
    ("Q004", "HIGH", False, "1級電気"),
]
ANSWERS = [
    # user u1: Q001 correct, Q002 wrong, Q003 correct, Q004 wrong, unknown Q999 correct
    ("u1", "Q001", True, "1級電気", "2024-01-01 10:00:00"),
    ("u1", "Q002", False, "1級電気", "2024-01-01 10:01:00"),
    ("u1", "Q003", True, "1級電気", "2024-01-01 10:02:00"),
    ("u1", "Q004", False, "1級電気", "2024-01-01 10:03:00"),
    ("u1", "Q999", True, "1級電気", "2024-01-01 10:04:00"),
]


def _mk_meta(spark):
    return spark.createDataFrame(
        META, "question_id string, difficulty string, is_mandatory boolean, exam_type string"
    )


def _mk_answers(spark):
    df = spark.createDataFrame(
        ANSWERS, "user_id string, question_id string, status boolean, exam_type string, created_at string"
    )
    return df.withColumn("created_at", F.to_timestamp("created_at"))


def test_weighted_scores_oracle(spark):
    """Python oracle reimplementation of user_answer_service._calculate_score."""
    got = weighted_scores(_mk_answers(spark), _mk_meta(spark)).collect()[0]
    # oracle
    weights = {"LOW": 0.8, "MID": 1.0, "HIGH": 1.2}
    meta = {q: (d, m) for q, d, m, _ in META}
    correct = sum(1 for _, _, s, _, _ in ANSWERS if s)
    total = len(ANSWERS)
    base = correct / total * 100
    ws, tw = 0.0, 0.0
    for _, qid, status, _, _ in ANSWERS:
        if qid not in meta:
            continue
        d, m = meta[qid]
        w = weights[d] * (1.5 if m else 1.0)
        if status:
            ws += w
        tw += w
    expected = round(base * 0.4 + (ws / tw * 100) * 0.6, 2)
    assert got.total_score == pytest.approx(expected, abs=1e-9)
    assert got.correct_count == correct and got.wrong_count == total - correct


def test_calculate_scores_oracle(spark):
    got = calculate_scores(_mk_answers(spark), _mk_meta(spark)).collect()[0]
    total_questions = len(META)
    total_mandatory = sum(1 for _, _, m, _ in META if m)
    meta = {q: (d, m) for q, d, m, _ in META}
    known = [(q, s) for _, q, s, _, _ in ANSWERS if q in meta]
    correct = sum(1 for _, s in known if s)
    correct_mand = sum(1 for q, s in known if s and meta[q][1])
    correct_high = sum(1 for q, s in known if s and meta[q][0] == "HIGH")
    base = correct / total_questions * 100
    factor = 1.0 if correct_mand == total_mandatory else 1.0 - (1.0 - correct_mand / total_mandatory) * MANDATORY_PENALTY_FACTOR
    bonus = correct_high * 0.2
    expected = round(min(100.0, base * factor + bonus), 1)
    assert got.final_score == pytest.approx(expected, abs=1e-9)


def test_best_stat_and_weak_and_frequent(spark):
    stats = spark.createDataFrame(
        [("u1", "e", 80.0, 8, 2), ("u1", "e", 90.5, 9, 1), ("u1", "e", 70.0, 7, 3)],
        "user_id string, exam_type string, total_score double, correct_count int, wrong_count int",
    )
    best = best_stat_per_user(stats).collect()[0]
    assert best.total_score == 90.5 and best.correct_count == 9

    weak = weak_questions(_mk_answers(spark), _mk_meta(spark), "u1", "1級電気", 10).collect()
    # wrong: Q002 (LOW, not mandatory, prio 1), Q004 (HIGH, not mandatory, prio 3)
    assert [r.question_id for r in weak] == ["Q004", "Q002"]

    freq = spark.createDataFrame(
        [("Q001", "1級電気", 95.5), ("Q010", "1級電気", 90.0), ("Q011", "1級電気", 85.0)],
        "question_id string, exam_type string, final_score double",
    )
    got = frequent_questions_excluding_recent(freq, _mk_answers(spark), "u1", "1級電気", 10)
    # Q001 answered recently → excluded
    assert [r.question_id for r in got.collect()] == ["Q010", "Q011"]
