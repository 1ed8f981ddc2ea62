"""Hashed linear classifier (operators/classify) and SemDeDup / k-means
(operators/cluster)."""

import hashlib
import math

import numpy as np
import pyspark.sql.functions.builtin as spark_builtin
import pytest
from pyspark.sql import functions as F

from ocr_spark.functions.vectors import double_array_literal
from ocr_spark.operators.classify import (
    classifier_score,
    classifier_score_joined,
    make_seeded_weights,
)
from ocr_spark.operators.cluster import (
    assign_clusters,
    kmeans_fit,
    semdedup,
)
from tests.plan_util import plan_text


# ---------------------------------------------------------------- classify

def _py_bucket(word: str, n_buckets: int, seed: int) -> int:
    return int(hashlib.md5(f"{seed}|{word}".encode()).hexdigest()[:8], 16) % n_buckets


def _py_score(text: str, weights, bias: float, seed: int) -> float:
    words = text.split()
    if not words:
        return 1.0 / (1.0 + math.exp(-bias))
    s = sum(weights[_py_bucket(w, len(weights), seed)] for w in words)
    return 1.0 / (1.0 + math.exp(-(bias + s / len(words))))


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "lorem ipsum dolor sit amet consectetur"),
    (3, "spark spark spark spark"),
    (4, ""),
    (5, "   \t\n  "),
    (6, None),
    (7, "one"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id int, text string")


def test_classifier_matches_python_reference(spark, docs_df):
    w = make_seeded_weights(16, seed=9)
    got = {
        r["doc_id"]: (r["n_words"], r["score"])
        for r in classifier_score(docs_df, w, bias=0.5, seed=2).collect()
    }
    for doc_id, text in DOCS:
        words = (text or "").split()
        assert got[doc_id][0] == len(words)
        assert got[doc_id][1] == pytest.approx(
            _py_score(text or "", w, 0.5, 2), abs=1e-12
        )


def test_literal_and_joined_paths_agree(spark, docs_df):
    w = make_seeded_weights(16, seed=9)
    weights_df = spark.createDataFrame(
        list(enumerate(w)), "bucket int, weight double"
    )
    lit = {
        r["doc_id"]: (r["n_words"], r["score"])
        for r in classifier_score(docs_df, w, bias=0.5, seed=2).collect()
    }
    joined = {
        r["doc_id"]: (r["n_words"], r["score"])
        for r in classifier_score_joined(
            docs_df, weights_df, bias=0.5, seed=2
        ).collect()
    }
    assert set(lit) == set(joined)
    for k in lit:
        assert lit[k][0] == joined[k][0]
        # summation ORDER differs (array fold vs aggregate), so compare
        # numerically, not bit-for-bit
        assert lit[k][1] == pytest.approx(joined[k][1], abs=1e-12)


def test_classifier_plan_build_is_not_per_weight(spark, docs_df, monkeypatch):
    """The weight vector is one string literal, not one py4j call per
    weight (F.lit(list) made 4,096 calls here and ~30 s of driver time at
    2^16 weights)."""
    calls = []
    invoke = spark_builtin._invoke_function

    def counting(name, *args):
        calls.append(name)
        return invoke(name, *args)

    monkeypatch.setattr(spark_builtin, "_invoke_function", counting)
    classifier_score(docs_df, make_seeded_weights(4096), seed=1)
    assert 0 < len(calls) < 50


@pytest.mark.parametrize("seed", [1, 2])
def test_weight_literal_is_bit_identical(spark, seed):
    w = make_seeded_weights(1 << 16, seed=seed)
    got = spark.range(1).select(double_array_literal(w).alias("w")).first()["w"]
    assert got == w  # element for element, exact


def test_classifier_over_no_docs(spark, docs_df):
    out = classifier_score(docs_df.limit(0), make_seeded_weights(16), seed=1)
    assert {"n_words", "score"} <= set(out.columns)
    assert out.count() == 0


def test_classifier_literal_path_has_no_exchange(spark, docs_df):
    plan = plan_text(classifier_score(docs_df, make_seeded_weights(8), seed=1))
    assert "Exchange" not in plan  # row-local end to end


def test_classifier_rejects_empty_model(spark, docs_df):
    with pytest.raises(ValueError):
        classifier_score(docs_df, [], seed=1)


# ------------------------------------------------------------------ cluster

def _toy_embeddings(spark, seed=7, n=60, dim=8, k=3):
    """Well-separated clusters: k orthogonal-ish anchors + small noise."""
    rng = np.random.default_rng(seed)
    anchors = np.eye(k, dim) * 10.0
    rows = []
    for i in range(n):
        v = anchors[i % k] + rng.normal(0, 0.05, dim)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "doc_id long, embedding array<double>"), rows


def _np_lloyd(rows, cent_rows, n_iter):
    """Numpy reference of kmeans_fit's Lloyd loop (cosine assignment,
    component means, empty cells dropped + dense renumber)."""
    X = np.array([v for _, v in rows], dtype=np.float64)
    C = np.array([r["cvec"] for r in cent_rows], dtype=np.float64)
    for _ in range(n_iter):
        sims = (X @ C.T) / (
            np.linalg.norm(X, axis=1, keepdims=True)
            * np.linalg.norm(C, axis=1, keepdims=True).T
        )
        assign = sims.argmax(axis=1)
        C = np.stack(
            [X[assign == c].mean(axis=0) for c in sorted(set(assign.tolist()))]
        )
    return C


def test_kmeans_fit_matches_numpy_lloyd(spark):
    emb, rows = _toy_embeddings(spark)
    init = kmeans_fit(emb, k=3, n_iter=0)
    got = kmeans_fit(emb, k=3, n_iter=2)
    want = _np_lloyd(rows, init, 2)
    got_mat = np.array([r["cvec"] for r in got])
    assert got_mat.shape == want.shape
    np.testing.assert_allclose(got_mat, want, rtol=1e-9, atol=1e-9)


def test_kmeans_niter0_is_the_seeded_pick(spark):
    emb, _ = _toy_embeddings(spark)
    cents = kmeans_fit(emb, k=4, n_iter=0)
    assert [r["cell"] for r in cents] == [0, 1, 2, 3]
    ids = {tuple(r["cvec"]) for r in cents}
    all_vecs = {tuple(r["embedding"]) for r in emb.collect()}
    assert ids <= all_vecs  # init centroids are actual corpus rows


def test_assign_clusters_blas_agrees_with_native(spark):
    """assign_clusters (the BLAS UDF) picks the cell the native ranking
    that the Lloyd steps run (similarity.with_best_cells) picks."""
    from ocr_spark.operators.similarity import with_best_cells

    emb, _ = _toy_embeddings(spark)
    cents = kmeans_fit(emb, k=3, n_iter=1)
    nat = {
        r["doc_id"]: r["__cells"][0]
        for r in with_best_cells(spark, emb, F.col("embedding"), 1, cents).collect()
    }
    blas = {
        r["doc_id"]: r["cell"]
        for r in assign_clusters(emb, cents).collect()
    }
    assert nat == blas


def test_semdedup_marks_planted_duplicates(spark):
    # three tight clusters; docs 0/3/6 (cluster 0 members) are near-copies
    # of each other => only the smallest id among mutually-similar cell
    # mates survives at a high threshold
    emb, rows = _toy_embeddings(spark, n=9, k=3)
    out = semdedup(emb, n_cells=3, threshold=0.999, n_iter=2)
    got = {r["doc_id"]: (r["cell"], r["keep"]) for r in out.collect()}
    assert len(got) == 9
    # within each anchor family {i, i+3, i+6} the minimum id keeps
    for base in (0, 1, 2):
        family = [base, base + 3, base + 6]
        keeps = [got[d][1] for d in family]
        assert keeps[0] is True
        assert keeps[1] is False and keeps[2] is False
        # all three land in one cell
        assert len({got[d][0] for d in family}) == 1


def test_semdedup_threshold_one_keeps_everything(spark):
    emb, _ = _toy_embeddings(spark, n=12, k=3)
    out = semdedup(emb, n_cells=3, threshold=1.0001, n_iter=1)
    assert all(r["keep"] for r in out.collect())


def test_semdedup_pair_stream_is_aggregated_not_distincted(spark):
    emb, _ = _toy_embeddings(spark, n=12, k=3)
    plan = plan_text(semdedup(emb, n_cells=3, threshold=0.9, n_iter=0), "optimized")
    assert "Deduplicate" not in plan  # no dropDuplicates on the pair stream


def test_semdedup_subblocked_giant_cells_match_selfjoin(spark):
    """The giant-cell defense (max_cell_size) must be a pure plan change:
    forcing EVERY cell through the salted block-pair BLAS kernel yields
    the same keep/drop verdicts as the expression self-join on a
    well-separated corpus (r4 verdict #4: sub-block oversized cells,
    keeping the min-id witness semantics)."""
    emb, _ = _toy_embeddings(spark, n=90, k=3)
    kw = dict(n_cells=3, threshold=0.999, n_iter=2)
    # the default (4096) leaves these tiny cells on the self-join path
    plain = {r["doc_id"]: r["keep"] for r in semdedup(emb, **kw).collect()}
    # every cell holds 30 docs > max_cell_size=4 -> all work in the kernel
    blocked = {
        r["doc_id"]: r["keep"]
        for r in semdedup(emb, max_cell_size=4, **kw).collect()
    }
    assert blocked == plain


def test_semdedup_subblocked_string_ids(spark):
    """The kernel's generic (non-integer) id path: min-witness semantics
    over string ids, forced through sub-blocking."""
    rows = [(f"doc_{i:02d}", [1.0, 0.0, 0.0]) for i in range(8)] + [
        ("zz_unique", [0.0, 1.0, 0.0])
    ]
    emb = spark.createDataFrame(rows, "doc_id string, embedding array<double>")
    out = semdedup(
        emb, n_cells=2, threshold=0.99, n_iter=2, max_cell_size=3
    ).collect()
    got = {r["doc_id"]: r["keep"] for r in out}
    assert got["doc_00"] is True  # min id of the duplicate family survives
    assert all(got[f"doc_{i:02d}"] is False for i in range(1, 8))
    assert got["zz_unique"] is True


def test_semdedup_oversize_kernel_emits_partials_not_pairs(spark):
    """An all-duplicates giant cell must move O(m) witness partials out of
    the kernel, never O(m²) pairs: count the kernel's total output rows
    directly (each block-pair task emits at most one row per doc)."""
    from ocr_spark.operators.cluster import (
        _oversize_cell_witnesses,
        semdedup_assign,
    )

    n = 40
    rows = [(i, [1.0, 0.0]) for i in range(n)]
    emb = spark.createDataFrame(rows, "doc_id long, embedding array<double>")
    assigned = semdedup_assign(emb, 1, id_col="doc_id", vec_col="embedding")
    big = assigned.withColumn("__cn", F.lit(n))
    partials = _oversize_cell_witnesses(
        big, 0.99, "doc_id", "embedding", block_target=8
    )
    rows_out = partials.collect()
    # s = ceil(40/8) = 5 blocks; each non-min doc appears once per block
    # pair it sits in (<= s), doc 0 never: strictly fewer than n*s rows,
    # vastly fewer than the 780 pairs
    assert 0 < len(rows_out) <= (n - 1) * 5
    # and the min over partials is the true witness for every non-min doc
    wit = {}
    for r in rows_out:
        d = r["doc_id"]
        wit[d] = min(wit.get(d, r["dup_witness"]), r["dup_witness"])
    assert 0 not in wit
    assert all(wit[d] == 0 for d in range(1, n))


def test_semdedup_validation_max_cell_size(spark):
    emb, _ = _toy_embeddings(spark, n=6, k=3)
    with pytest.raises(ValueError):
        semdedup(emb, n_cells=3, max_cell_size=1)
