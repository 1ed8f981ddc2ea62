"""Unit tests: multimodal binary operators, ANN top-k, stride sampling."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ocr_spark.operators.media import (
    _MAX_BYTES,
    byte_histogram_features,
    make_decode_udf,
    make_resize_udf,
    synthesize_media_bytes,
)
from ocr_spark.operators.sampling import stride_sample
from ocr_spark.operators.similarity import ann_topk_per_query, top_k_per_query
from tests.plan_util import plan_text


# ---------------------------------------------------------------------------
# media
# ---------------------------------------------------------------------------
def _blob_df(spark, blobs):
    return spark.createDataFrame([(i, b) for i, b in enumerate(blobs)], ["i", "data"])


def test_decode_meta_fake_contract(spark):
    blobs = [b"\x89PNG1234", b"\xff\xd8rest", b"plainbytes" * 100, None]
    rows = (
        _blob_df(spark, blobs)
        .withColumn("m", make_decode_udf()("data"))
        .select("i", "m.*")
        .orderBy("i")
        .collect()
    )
    for r, b in zip(rows, blobs):
        if b is None:
            assert r.width is None and r.format is None
            continue
        assert r.n_bytes == len(b)
        assert r.width == 1 + len(b) % 600
        assert r.height == 1 + sum(b[:16]) % 600
    assert rows[0].format == "png"
    assert rows[1].format == "jpeg"
    assert rows[2].format == "fake-bin"


def test_resize_loop_matches_reference_semantics(spark):
    # below cap: passthrough; just above: q=80 suffices; huge: deeper q
    blobs = [b"x" * 10, b"y" * _MAX_BYTES, b"z" * (_MAX_BYTES + 1), b"w" * 200_000]
    rows = (
        _blob_df(spark, blobs)
        .withColumn("r", make_resize_udf()("data"))
        .select("i", "r.*")
        .orderBy("i")
        .collect()
    )
    assert (rows[0].resized, rows[0].quality, rows[0].n_bytes) == (False, 100, 10)
    assert (rows[1].resized, rows[1].n_bytes) == (False, _MAX_BYTES)
    assert rows[2].resized and rows[2].quality == 80
    assert rows[2].n_bytes == int((_MAX_BYTES + 1) * 80 / 100)
    # 200k: first q with 200000*q/100 <= 25000 → q = 10? steps stop at 20 →
    # no q passes (200000*20/100 = 40000) → fallback q=20, size 40000
    assert rows[3].quality == 20 and rows[3].n_bytes == 40_000 and rows[3].resized


def test_features_unit_norm_and_none(spark):
    df = _blob_df(spark, [b"abcabc", None]).withColumn(
        "f", byte_histogram_features(64)("data")
    )
    assert df.schema["f"].dataType.simpleString() == "array<double>"
    rows = df.orderBy("i").collect()
    v = np.array(rows[0].f, dtype=np.float64)
    assert len(v) == 64
    assert abs(np.linalg.norm(v) - 1.0) < 1e-12
    assert rows[1].f is None


def test_sample_frames_fanout_and_stride(spark):
    from ocr_spark.operators.media import sample_frames

    blobs = [b"A" * 2500, b"B" * 100, None]
    df = spark.createDataFrame(
        [(f"d{i}", b) for i, b in enumerate(blobs)], ["doc_id", "data"]
    )
    rows = sample_frames(df, frame_size=1000, every_k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.frame_no, len(bytes(r.frame))))
    # d0: 3 frames (1000,1000,500) -> sampled frames 0 and 2
    assert sorted(by_doc["d0"]) == [(0, 1000), (2, 500)]
    # d1: single short frame
    assert by_doc["d1"] == [(0, 100)]
    # null blob contributes nothing
    assert "d2" not in by_doc


def test_native_meta_equals_udf_paths(spark):
    """decode_meta_native / resize_meta_native must agree with the two-UDF
    path (make_decode_udf + make_resize_udf's n_bytes/quality/resized) on
    arbitrary byte patterns (incl. magic prefixes, 16-byte boundary, cap
    boundary, empty, null)."""
    from ocr_spark.operators.media import (
        decode_meta_native,
        make_resize_udf,
        resize_meta_native,
    )

    rng = np.random.RandomState(3)
    blobs = [
        b"",
        b"\x89PNG",
        b"\x89PNG" + bytes(rng.randint(0, 256, 40_000, dtype=np.uint8)),
        b"\xff\xd8" + bytes(rng.randint(0, 256, 12, dtype=np.uint8)),
        bytes(rng.randint(0, 256, 15, dtype=np.uint8)),
        bytes(rng.randint(0, 256, 16, dtype=np.uint8)),
        bytes(rng.randint(0, 256, 17, dtype=np.uint8)),
        b"q" * _MAX_BYTES,
        b"q" * (_MAX_BYTES + 1),
        bytes(rng.randint(0, 256, 200_000, dtype=np.uint8)),
        None,
    ]
    df = _blob_df(spark, blobs)
    udf_rows = (
        df.withColumn("m", make_decode_udf()("data"))
        .withColumn("r", make_resize_udf()("data"))
        .select("i", "m.*", F.col("r.n_bytes").alias("final_bytes"),
                "r.quality", "r.resized")
        .orderBy("i")
        .collect()
    )
    nat_rows = (
        df.withColumn("m", decode_meta_native("data"))
        .withColumn("r", resize_meta_native(F.col("m.n_bytes")))
        .select("i", "m.*", F.col("r.n_bytes").alias("final_bytes"),
                "r.quality", "r.resized")
        .orderBy("i")
        .collect()
    )
    assert len(udf_rows) == len(nat_rows) == len(blobs)
    for u, n in zip(udf_rows, nat_rows):
        if u.n_bytes is None:
            # native expressions are total functions of the bytes; only the
            # null ROW contract differs (the UDFs emit all-null structs)
            continue
        assert tuple(u) == tuple(n), (u, n)


def test_synthesize_bytes_deterministic(spark):
    df = spark.createDataFrame([("r", "p")], ["a", "b"])
    out = df.select(synthesize_media_bytes("a", "b").alias("x")).collect()[0].x
    assert bytes(out) == b"r:p"


# ---------------------------------------------------------------------------
# ANN
# ---------------------------------------------------------------------------
def _emb_df(spark, n=80, dim=16, seed=7):
    rng = np.random.RandomState(seed)
    rows = []
    for i in range(n):
        v = rng.normal(0, 1, dim)
        rows.append((i, (v / np.linalg.norm(v)).astype(float).tolist()))
    return spark.createDataFrame(rows, ["doc_id", "embedding"])


def test_ann_subset_of_bruteforce_and_exact_sims(spark):
    emb = _emb_df(spark)
    qs = emb.filter(F.col("doc_id") < 2).select(
        F.col("doc_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    ann = ann_topk_per_query(emb, qs, dim=16, k=5, n_planes=4, n_bands=2).collect()
    brute = {
        (r.query_id, r.doc_id): r.similarity
        for r in top_k_per_query(
            emb, qs, k=80, threshold=-2.0
        ).collect()
    }
    assert len(ann) > 0
    for r in ann:
        assert r.doc_id != r.query_id
        # exact rescoring: similarity equals the brute-force cosine
        assert abs(brute[(r.query_id, r.doc_id)] - r.similarity) < 1e-12


def test_ivf_exact_sims_and_recall(spark):
    from ocr_spark.operators.similarity import ivf_topk_per_query

    emb = _emb_df(spark, n=120, dim=16, seed=9)
    qs = emb.filter(F.col("doc_id") < 2).select(
        F.col("doc_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    ivf = ivf_topk_per_query(emb, qs, n_cells=8, n_probe=3, k=5).collect()
    brute = {
        (r.query_id, r.doc_id): r.similarity
        for r in top_k_per_query(emb, qs, k=120, threshold=-2.0).collect()
    }
    assert len(ivf) > 0
    for r in ivf:
        assert abs(brute[(r.query_id, r.doc_id)] - r.similarity) < 1e-12
    # probing ALL cells must recover the exact brute-force top-k
    full = ivf_topk_per_query(emb, qs, n_cells=8, n_probe=8, k=5).collect()
    brute_top = {
        (r.query_id, r.doc_id)
        for r in top_k_per_query(emb, qs, k=5, threshold=-2.0).collect()
    }
    assert {(r.query_id, r.doc_id) for r in full} == brute_top


def test_ivf_lloyd_refinement(spark):
    """refine_iters runs k-means on the seeded pick: results stay exact
    cosine values (rescoring unchanged), every returned doc exists in the
    brute-force ranking, and full-probe recall stays perfect after
    refinement (refined cells still partition the corpus)."""
    from ocr_spark.operators.similarity import ivf_topk_per_query

    emb = _emb_df(spark, n=150, dim=16, seed=21)
    qs = emb.filter(F.col("doc_id") < 2).select(
        F.col("doc_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    brute = {
        (r.query_id, r.doc_id): r.similarity
        for r in top_k_per_query(emb, qs, k=150, threshold=-2.0).collect()
    }
    out = ivf_topk_per_query(emb, qs, n_cells=8, n_probe=3, k=5, refine_iters=2).collect()
    assert len(out) > 0
    for r in out:
        assert abs(brute[(r.query_id, r.doc_id)] - r.similarity) < 1e-12
    # probing every refined cell recovers the exact brute-force top-k
    full = ivf_topk_per_query(emb, qs, n_cells=8, n_probe=8, k=5, refine_iters=2).collect()
    brute_top = {
        (r.query_id, r.doc_id)
        for r in top_k_per_query(emb, qs, k=5, threshold=-2.0).collect()
    }
    assert {(r.query_id, r.doc_id) for r in full} == brute_top


def test_ivf_production_dims_plan_stays_flat(spark):
    """The r2 quantizer embedded n_cells x dim literal nodes per probe
    expression — a plan-compile/eval blowup at the reference's pgvector
    config (lists=100 x dim=1536). Centroids now enter as ONE broadcast
    array column: the smoke must complete and the optimized plan must stay
    small and literal-free regardless of (n_cells, dim)."""
    from ocr_spark.operators.similarity import ivf_topk_per_query

    n, dim, n_cells = 150, 1536, 100
    rng = np.random.default_rng(5)
    rows = [(i, rng.normal(size=dim).tolist()) for i in range(n)]
    emb = spark.createDataFrame(rows, "doc_id long, embedding array<double>")
    qs = emb.filter(F.col("doc_id") < 2).select(
        F.col("doc_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ivf_topk_per_query(emb, qs, n_cells=n_cells, n_probe=4, k=3)
    plan = plan_text(out, "optimized")
    # the literal form would be ~150k lit nodes (megabytes of plan text)
    assert len(plan) < 100_000, f"plan blew up: {len(plan)} chars"
    got = out.collect()
    assert len(got) > 0
    brute = {
        (r.query_id, r.doc_id): r.similarity
        for r in top_k_per_query(emb, qs, k=n, threshold=-2.0).collect()
    }
    for r in got:  # rescoring stays exact at production dims
        assert abs(brute[(r.query_id, r.doc_id)] - r.similarity) < 1e-12


def test_ivf_blas_assignment_matches_native(spark):
    """The BLAS pandas-UDF assignment (scale path) must agree with the
    native broadcast-array argmax on a well-separated corpus."""
    from ocr_spark.operators.similarity import (
        ivf_centroid_pick,
        make_ivf_assign_blas_udf,
    )
    from ocr_spark.functions.vectors import cosine_similarity

    emb = _emb_df(spark, n=120, dim=16, seed=3)
    cents = sorted(
        ivf_centroid_pick(emb, 8).collect(), key=lambda r: (r["__key"], r["__cid"])
    )
    cent_rows = [{"cell": i, "cvec": r["cvec"]} for i, r in enumerate(cents)]

    # native argmax via the same one-row broadcast shape the operator uses
    cents_df = spark.createDataFrame(
        [(r["cell"], [float(x) for x in r["cvec"]]) for r in cent_rows],
        "cell int, cvec array<double>",
    ).agg(F.collect_list(F.struct("cell", "cvec")).alias("__cents"))
    scored = F.transform(
        F.col("__cents"),
        lambda c: F.struct(
            (-cosine_similarity(F.col("embedding"), c["cvec"])).alias("ns"),
            c["cell"].alias("cell"),
        ),
    )
    native = {
        r.doc_id: r.cell
        for r in emb.crossJoin(F.broadcast(cents_df))
        .select(
            "doc_id",
            F.element_at(
                F.transform(F.array_sort(scored), lambda s: s["cell"]), 1
            ).alias("cell"),
        )
        .collect()
    }
    blas = {
        r.doc_id: r.cell
        for r in emb.select(
            "doc_id", make_ivf_assign_blas_udf(cent_rows)("embedding").alias("cell")
        ).collect()
    }
    assert native == blas


def _numpy_pairs(emb, threshold):
    """{(id_a, id_b): cosine} over id_a < id_b with cosine >= threshold, by
    numpy brute force."""
    rows = sorted(emb.select("doc_id", "embedding").collect())
    m = np.array([r.embedding for r in rows], dtype=np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    return {
        (rows[i].doc_id, rows[j].doc_id): sims[i, j]
        for i, j in zip(*np.triu_indices(len(rows), 1))
        if sims[i, j] >= threshold
    }


def test_blocked_allpairs_matches_numpy_brute_force(spark):
    from ocr_spark.operators.similarity import all_pairs_similarity_blocked

    emb = _emb_df(spark, n=60, dim=8, seed=11)
    want = _numpy_pairs(emb, 0.3)
    blocked = {
        (r.id_a, r.id_b): r.similarity
        for r in all_pairs_similarity_blocked(emb, threshold=0.3, n_blocks=3).collect()
    }
    assert set(want) == set(blocked)
    for k in want:
        assert abs(want[k] - blocked[k]) < 1e-9


@pytest.mark.parametrize("ids", ["long", "string"])
def test_embedding_near_dup_ids_matches_numpy(spark, ids):
    """Exact-path near-dup ids: every id within 0.95 cosine of a LOWER id,
    for numeric and string ids alike (the blocked kernel takes its output
    id type from the input schema)."""
    from ocr_spark.operators.dedup import embedding_near_dup_ids

    rng = np.random.RandomState(5)
    base = rng.normal(0, 1, (30, 8))
    vecs = np.vstack([base, base[:10] + rng.normal(0, 0.01, (10, 8))])
    key = (lambda i: i) if ids == "long" else (lambda i: f"d{i:03d}")
    emb = spark.createDataFrame(
        [(key(i), v.tolist()) for i, v in enumerate(vecs)], ["doc_id", "embedding"]
    )
    want = {b for _, b in _numpy_pairs(emb, 0.95)}
    got = {r.doc_id for r in embedding_near_dup_ids(emb, threshold=0.95).collect()}
    assert len(want) >= 10 and got == want


def test_extreme_pair_tiebreak_is_deterministic_for_string_ids(spark):
    """The most-similar tiebreak negates SIMILARITY, not the ids — with
    string ids a negated id would cast to double → NULL and make tie
    resolution nondeterministic. Duplicate vectors force similarity-1.0
    ties; the winner must be the smallest (id_a, id_b) pair."""
    from ocr_spark.operators.similarity import most_least_similar_pair

    vec = [1.0, 2.0, 3.0, 4.0]
    anti = [-1.0, -2.0, -3.0, -4.0]
    rows = [(f"doc_{i:02d}", vec) for i in range(4)] + [("doc_99", anti)]
    emb = spark.createDataFrame(rows, ["doc_id", "embedding"])
    out = most_least_similar_pair(emb, n_blocks=2).collect()[0]
    assert (out.most_similar.id_a, out.most_similar.id_b) == ("doc_00", "doc_01")
    assert abs(out.max_similarity - 1.0) < 1e-12
    assert abs(out.min_similarity - (-1.0)) < 1e-12


def test_head_tail_key_cols_dedup(spark):
    """key_cols dedups on the key subset (needed when rows carry
    non-groupable types); overlap rows label 'similar' and the output
    schema matches the input + side."""
    from ocr_spark.operators.similarity import head_tail_similar

    rows = [(i, float(i), {"k": str(i)}) for i in range(4)]
    scored = spark.createDataFrame(rows, ["doc_id", "similarity", "meta"])
    # num_similar + num_dissimilar > table size → every row in both slices;
    # the map-typed column would fail a groupBy-all-columns dedup
    out = head_tail_similar(
        scored, num_similar=3, num_dissimilar=3,
        tiebreak_cols=("doc_id",), key_cols=("doc_id",),
    )
    got = {r.doc_id: r.side for r in out.collect()}
    assert set(out.columns) == {"doc_id", "similarity", "meta", "side"}
    assert got[3] == "similar" and got[0] == "dissimilar"
    assert len(got) == 4  # one row per key, overlaps collapsed


def test_ann_partitioning_invariant(spark):
    emb = _emb_df(spark)
    qs = emb.filter(F.col("doc_id") < 2).select(
        F.col("doc_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    a = sorted(
        (r.query_id, r.doc_id, r.rank)
        for r in ann_topk_per_query(emb, qs, dim=16, k=5).collect()
    )
    b = sorted(
        (r.query_id, r.doc_id, r.rank)
        for r in ann_topk_per_query(emb.repartition(13), qs, dim=16, k=5).collect()
    )
    assert a == b


# ---------------------------------------------------------------------------
# stride sampling (S3)
# ---------------------------------------------------------------------------
def _reference_indices(n: int, k: int) -> list[int]:
    """Twin of /root/reference/src/extract_sample_pages.py:38-50."""
    if n <= k:
        return list(range(n))
    idx = [int(i * n / k) for i in range(k)]
    if n - 1 not in idx:
        idx[-1] = n - 1
    return idx


@pytest.mark.parametrize("n,k", [(500, 10), (23, 10), (10, 10), (7, 10), (101, 7)])
def test_stride_sample_matches_reference(spark, n, k):
    df = spark.range(n).select((F.col("id") * 3).alias("doc_id"))
    got = sorted(r.idx for r in stride_sample(df, "doc_id", k=k).collect())
    want = sorted(set(_reference_indices(n, k)))
    assert got == want

def test_head_tail_key_cols_picks_whole_rows(spark):
    """Duplicate-key rows landing in OPPOSITE slices must resolve to one
    actual input row (the 'similar'-side one). The first key_cols form
    aggregated each column independently with any_value, which could stitch
    a chimera row mixing fields from the two source rows."""
    from ocr_spark.operators.similarity import head_tail_similar

    rows = [
        ("d1", 9.9, "metaX"),
        ("d1", 0.1, "metaY"),
        ("d2", 5.0, "m2"),
        ("d3", 4.0, "m3"),
    ]
    scored = spark.createDataFrame(rows, ["doc_id", "similarity", "meta"])
    # head 2 = (d1,9.9),(d2,5.0); tail 2 = (d1,0.1),(d3,4.0): d1 is in both
    # slices via two DIFFERENT rows
    out = head_tail_similar(
        scored, num_similar=2, num_dissimilar=2,
        tiebreak_cols=("doc_id",), key_cols=("doc_id",),
    ).collect()
    got = {r.doc_id: (r.similarity, r.meta, r.side) for r in out}
    assert got["d1"] == (9.9, "metaX", "similar")  # whole similar-side row
    assert got["d2"] == (5.0, "m2", "similar")
    assert got["d3"] == (4.0, "m3", "dissimilar")
    input_rows = set(rows)
    for r in out:  # every output row is a genuine input row
        assert (r.doc_id, r.similarity, r.meta) in input_rows


def test_ivf_blas_assignment_ignores_zero_norm_centroid(spark):
    """A zero-norm centroid (possible from caller-supplied centroid rows)
    must never win an assignment: the unguarded form normalized it to a NaN
    row, and NaN wins argmax — silently assigning EVERY vector to the bogus
    cell. The guard pins its similarities at -inf instead."""
    from ocr_spark.operators.similarity import make_ivf_assign_blas_udf

    cent_rows = [
        {"cell": 0, "cvec": [1.0, 0.0]},
        {"cell": 1, "cvec": [0.0, 0.0]},  # zero norm
        {"cell": 2, "cvec": [0.0, 1.0]},
    ]
    emb = spark.createDataFrame(
        [(1, [2.0, 0.1]), (2, [0.1, 3.0]), (3, [-1.0, -1.0])],
        "doc_id long, embedding array<double>",
    )
    got = {
        r.doc_id: r.cell
        for r in emb.select(
            "doc_id", make_ivf_assign_blas_udf(cent_rows)("embedding").alias("cell")
        ).collect()
    }
    # doc 3 ties cells 0 and 2 at cosine -0.707…; argmax takes the first
    assert got == {1: 0, 2: 2, 3: 0}
