"""Tests: dedup family (exact, minhash-LSH, simhash) + text-stats functions."""

from __future__ import annotations

import re

import pyspark.sql.functions as F
import pytest

from ocr_spark.functions.textstats import (
    bpe_token_count,
    detect_language,
    doc_fingerprint,
    quality_score,
    rolling_fingerprints,
    whitespace_token_count,
)
from ocr_spark.operators.dedup import (
    exact_dedup,
    hamming64,
    jaccard_pairs,
    minhash_lsh_candidates,
    simhash_dup_pairs,
    with_shingles,
)
from tests.plan_util import plan_text

DOCS = [
    ("a1", "the quick brown fox jumps over the lazy dog near the river bank today"),
    ("a2", "The quick  brown fox jumps over the lazy dog near the river bank today"),  # exact dup (normalized)
    ("a3", "the quick brown fox jumps over the lazy dog near the river bank yesterday"),  # near dup
    ("b1", "completely different content about electrical circuits and impedance analysis methods"),
    ("b2", "a totally unrelated sentence regarding Japanese exam question extraction pipelines"),
    ("c1", "short text"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id string, text string")


def test_exact_dedup(spark, docs_df):
    out = sorted(r.doc_id for r in exact_dedup(docs_df).collect())
    assert out == ["a1", "a3", "b1", "b2", "c1"]  # a2 dropped (keeps smallest id)


def test_word_shingles_oracle(spark, docs_df):
    got = {r.doc_id: sorted(r.shingles) for r in with_shingles(docs_df, "text", 3).collect()}
    for doc_id, text in DOCS:
        words = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
        if len(words) < 3:
            want = sorted({" ".join(words)})
        else:
            want = sorted({" ".join(words[i : i + 3]) for i in range(len(words) - 2)})
        assert got[doc_id] == want, doc_id


def test_minhash_near_dup_detection(spark, docs_df):
    cands = minhash_lsh_candidates(docs_df, n_hashes=32, n_bands=16)
    pairs = {(r.id_a, r.id_b): r.jaccard for r in jaccard_pairs(docs_df, cands, threshold=0.5).collect()}
    assert ("a1", "a2") in pairs and pairs[("a1", "a2")] == 1.0
    assert ("a1", "a3") in pairs and 0.5 <= pairs[("a1", "a3")] < 1.0
    assert all(not (a.startswith("a") and b.startswith("b")) for a, b in pairs)
    # every planted near-dup is the larger id of some verified pair
    assert {b for _, b in pairs} == {"a2", "a3"}


def test_simhash_near_dup(spark, docs_df):
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_dup_pairs(docs_df, max_hamming=12, n_blocks=16).collect()}
    assert ("a1", "a2") in pairs and pairs[("a1", "a2")] == 0
    assert ("a1", "a3") in pairs
    assert ("b1", "b2") not in pairs
    # hamming function sanity
    d = spark.createDataFrame([(0b1011, 0b0010)], "x long, y long")
    assert d.select(hamming64("x", "y").alias("h")).collect()[0].h == 2


def test_simhash_md5_variant_matches_python_oracle(spark, docs_df):
    """The md5 SimHash must agree with a pure-Python reimplementation of the
    bit math, packed as a signed 64-bit long (test_simhash_near_dup checks
    the pairs built from it)."""
    import hashlib
    import re as _re

    from ocr_spark.operators.dedup import simhash_signatures

    def py_sh(text: str) -> int:
        words = _re.sub(r"\s+", " ", text.lower()).strip().split(" ")
        counters = [0] * 64
        for w in words:
            v = int(hashlib.md5(w.encode()).hexdigest()[:16], 16)
            for j in range(64):
                counters[j] += 1 if (v >> j) & 1 else -1
        sh = sum(1 << j for j, c in enumerate(counters) if c > 0)
        return sh - (1 << 64) if sh >= 1 << 63 else sh

    got = {r.id: r.sh for r in simhash_signatures(docs_df).collect()}
    for doc_id, text in DOCS:
        assert got[doc_id] == py_sh(text), doc_id


def test_simhash_pair_index_recall_guard(spark, docs_df):
    """h differing bits can dirty h blocks; fewer than 2 clean blocks ⇒ no
    shared pair is guaranteed — the guard must refuse, not silently miss."""
    with pytest.raises(ValueError, match="pair-index recall"):
        simhash_dup_pairs(docs_df, max_hamming=7, n_blocks=8)
    with pytest.raises(ValueError, match="pair-index recall"):
        simhash_dup_pairs(docs_df, max_hamming=15, n_blocks=16)


def test_simhash_pair_index_occupancy_sublinear(spark):
    """The scale rationale for the multi-index, measured on the gate-shaped
    smoke corpus (sf0.001 docs + planted near-copies; SimHashes of same-
    vocabulary docs are CORRELATED, so this is the adversarial case, not
    the uniform one): pair-of-blocks buckets must be at most half as
    occupied as single 8-bit blocks and generate at most half the candidate
    pairs. Measured at 625 docs: max occupancy 172 → 41 (27.5% → 6.6% of
    the corpus in the hottest bucket), candidates 65,407 → 14,246 (4.6×).
    On uniform hashes the occupancy ratio approaches 2^width = 256×; the
    guarantee pinned here is the conservative 2× floor."""
    import os

    from ocr_spark.operators.dedup import _pair_index_candidates, simhash_signatures

    sf = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")
    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    near = docs.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    un = docs.unionByName(near).withColumn(
        "doc_id", F.lpad(F.col("doc_id").cast("string"), 7, "0")
    )
    n_docs = un.count()
    n_blocks, width = 8, 8
    base = simhash_signatures(un)
    for b in range(n_blocks):
        base = base.withColumn(
            f"block_{b}",
            F.shiftright("sh", b * width).bitwiseAND(F.lit((1 << width) - 1)),
        )

    single_occ = (
        base.select(
            F.posexplode(
                F.array(*[F.col(f"block_{b}") for b in range(n_blocks)])
            ).alias("b", "v")
        )
        .groupBy("b", "v")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    pair_keys = F.array(
        *[
            F.struct(
                F.lit(i * n_blocks + j).alias("pidx"),
                (
                    F.col(f"block_{i}").cast("long") * F.lit(1 << width)
                    + F.col(f"block_{j}")
                ).alias("pkey"),
            )
            for i in range(n_blocks)
            for j in range(i + 1, n_blocks)
        ]
    )
    pair_occ = (
        base.select(F.explode(pair_keys).alias("k"))
        .groupBy("k.pidx", "k.pkey")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert n_docs > 0
    assert 2 * pair_occ <= single_occ, (pair_occ, single_occ)

    # candidate volume: distinct pair-index candidates vs single-block's
    n_pair_cands = (
        _pair_index_candidates(base, n_blocks, width)
        .select("id_a", "id_b")
        .distinct()
        .count()
    )
    blocks = base.select(
        "id",
        F.posexplode(
            F.array(*[F.col(f"block_{b}") for b in range(n_blocks)])
        ).alias("block", "block_val"),
    )
    a = blocks.select(F.col("id").alias("id_a"), "block", "block_val")
    b = blocks.select(F.col("id").alias("id_b"), "block", "block_val")
    n_single_cands = (
        a.join(b, ["block", "block_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
        .count()
    )
    assert 2 * n_pair_cands <= n_single_cands, (n_pair_cands, n_single_cands)


def test_with_shingles_materializes_words_once(spark, docs_df):
    """with_shingles must keep the normalize+split OUT of the transform
    lambda: a split referenced from the lambda is re-inlined per element
    (no CSE in HOF lambdas) — measured O(len²): 67s vs 2.3s on ONE
    20k-word doc. The optimized plan must contain exactly one
    regexp_replace (in the words projection), none inside the lambda."""
    plan = plan_text(
        with_shingles(docs_df, "text", 3)
        .select("doc_id", "shingles"), "optimized"
    )
    assert plan.count("regexp_replace") == 1, plan[:1500]


def test_exploded_shingles_have_no_inferred_lambda_filter(spark, docs_df):
    """The EXPLODED path (what minhash_signatures runs) must not carry the
    optimizer's inferred size()>0 Filter: predicate pushdown substitutes the
    full shingle expression into it with the split re-inlined inside the
    lambda — O(len²) per row, caught by jstack on the 47k-word corpus docs.
    explode_outer (arrays provably non-empty) generates no such filter."""
    from ocr_spark.operators.dedup import minhash_signatures, simhash_signatures

    for df in (
        minhash_signatures(docs_df, n_hashes=4),
        simhash_signatures(docs_df),
    ):
        plan = plan_text(df, "optimized")
        for line in plan.splitlines():
            if line.strip().startswith(("Filter", "+- Filter")):
                assert "lambdafunction" not in line, line[:500]
                assert "split(" not in line, line[:500]


def test_dup_clusters_transitive_chain(spark):
    """A≈B and B≈C (A,C never a pair) must share one cluster; isolated
    nodes become singletons; star + chain shapes both converge."""
    from ocr_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(2, 9), (9, 4), (4, 30), (50, 51), (52, 51)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in [2, 9, 4, 30, 50, 51, 52, 77]],
                                  "doc_id long")
    want = {2: 2, 9: 2, 4: 2, 30: 2, 50: 50, 51: 50, 52: 50, 77: 77}
    got = {r.doc_id: r.cluster for r in dup_clusters(pairs, nodes=nodes).collect()}
    assert got == want


def test_dup_clusters_raises_on_non_convergence(spark):
    """An edge set still changing after max_iter rounds must raise, not
    silently split the component."""
    from ocr_spark.operators.dedup import dup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dup_clusters(chain, max_iter=1)
    # converged run resolves the whole chain to min id 0
    full = dup_clusters(chain, max_iter=15)
    assert {r.cluster for r in full.collect()} == {0}


def test_dup_clusters_star_bounds_rounds_on_long_chains(spark):
    """Alternating large-star/small-star converges in O(log²) rounds
    regardless of graph DIAMETER: a 1000-link chain — which needs ~1000
    min-label-propagation rounds — must resolve to one cluster well inside
    the default max_iter=20."""
    from ocr_spark.operators.dedup import dup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1000)], "id_a long, id_b long"
    )
    stats: dict = {}
    out = dup_clusters(chain, max_iter=20, stats=stats)
    assert stats["rounds"] <= 15
    assert {r.cluster for r in out.collect()} == {0}
    assert out.count() == 1001


def _union_find_clusters(edges, nodes):
    """{id: smallest id of its component} by union-find."""
    parent = {n: n for n in nodes}
    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_dup_clusters_matches_union_find_on_random_graphs(spark):
    """Property check: the (id, cluster) map equals a union-find oracle on
    a seeded random mix of chains, stars, cliques, and isolated nodes (the
    shapes the q_dedup_clusters planted edges stress)."""
    import random

    from ocr_spark.operators.dedup import dup_clusters

    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(40, 70)]              # 30-link chain
    edges += [(100, 100 + j) for j in range(1, 8)]           # star
    edges += [(a, b) for a in range(200, 205)
              for b in range(a + 1, 205)]                    # clique
    edges += [(rng.randrange(300, 340), rng.randrange(300, 340))
              for _ in range(25)]                            # random (w/ self loops)
    isolated = list(range(400, 410))
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in isolated], "doc_id long")
    got = {r.doc_id: r.cluster
           for r in dup_clusters(pairs, nodes=nodes, max_iter=40).collect()}
    assert got == _union_find_clusters(edges, isolated)


def test_minhash_dedup_clustered_keeps_one_per_component(spark):
    """Chained near-dups (base ≈ c1 ≈ c2, base vs c2 below threshold) must
    collapse to the single smallest id per component of the verified
    pairs."""
    from ocr_spark.operators.dedup import dup_clusters

    base = "the quick brown fox jumps over the lazy dog near the river bank today again and again"
    c1 = base + " drift one two three four five"
    c2 = c1 + " more drift six seven eight nine ten"
    rows = [("a1", base), ("a2", c1), ("a3", c2), ("z9", "entirely unrelated content about transformers")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    verified = jaccard_pairs(
        df, minhash_lsh_candidates(df, n_hashes=32, n_bands=16), threshold=0.55
    )
    pairs = {(r.id_a, r.id_b) for r in verified.collect()}
    # the chain premise: adjacent pairs pass, the far pair does not
    assert ("a1", "a2") in pairs and ("a2", "a3") in pairs
    assert ("a1", "a3") not in pairs
    clusters = dup_clusters(verified, nodes=df)
    kept = sorted(
        r.doc_id
        for r in clusters.filter(F.col("doc_id") == F.col("cluster")).collect()
    )
    assert kept == ["a1", "z9"]


def test_token_counts(spark):
    rows = [("x", "hello world, this is 42 tokens-ish"), ("y", ""), ("z", None), ("w", "  padded   text  ")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r.doc_id: (r.ws, r.bpe) for r in df.select(
        "doc_id",
        whitespace_token_count("text").alias("ws"),
        bpe_token_count("text").alias("bpe"),
    ).collect()}
    assert got["x"][0] == 6
    # hello|world|,|this|is|42|tokens|-|ish
    assert got["x"][1] == 9
    assert got["y"] == (0, 0) and got["z"] == (0, 0)
    assert got["w"][0] == 2


def test_detect_language(spark):
    rows = [
        ("ja", "この回路の合成抵抗を求めよ。電圧と電流の関係を示せ。"),
        ("en", "The quick brown fox jumps over the lazy dog."),
        ("other", "12345 67890 !!!! ????"),
        ("unknown", ""),
    ]
    df = spark.createDataFrame(rows, "want string, text string")
    for r in df.select("want", detect_language("text").alias("got")).collect():
        assert r.got == r.want, (r.want, r.got)


def test_quality_score_ranges(spark):
    rows = [
        ("good", "A well formed paragraph of reasonable length. " * 6),
        ("digits", "1 2 3 4 5 6 7 8 9 0 " * 20),
        ("empty", ""),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r.doc_id: r.q for r in df.select("doc_id", quality_score("text").alias("q")).collect()}
    assert got["good"] >= 0.75
    assert got["digits"] <= 0.5
    assert 0.0 <= got["empty"] <= 0.5


def test_fingerprints(spark, docs_df):
    got = {r.doc_id: (r.fp, r.roll) for r in docs_df.select(
        "doc_id", doc_fingerprint("text").alias("fp"), rolling_fingerprints("text", 4).alias("roll")
    ).collect()}
    assert got["a1"][0] == got["a2"][0]  # normalization-equal docs → same fingerprint
    assert got["a1"][0] != got["a3"][0]
    n_words = len(DOCS[0][1].split())
    assert len(got["a1"][1]) == n_words - 3
    # near-dup docs share most rolling chunks
    shared = set(got["a1"][1]) & set(got["a3"][1])
    assert len(shared) >= len(got["a1"][1]) - 4


def test_simhash_canonical_index_emits_each_pair_once(spark, docs_df):
    """The canonical-index filter must leave EXACTLY one copy of every
    near-dup pair (the dropDuplicates it replaced guaranteed uniqueness;
    a filter bug would either duplicate pairs or drop them)."""
    for kw in (
        {"max_hamming": 12, "n_blocks": 16},
        {"max_hamming": 6, "n_blocks": 8},
    ):
        pairs = [(r.id_a, r.id_b) for r in simhash_dup_pairs(docs_df, **kw).collect()]
        assert len(pairs) == len(set(pairs)), kw
        assert pairs, kw  # corpus has planted near-dups
