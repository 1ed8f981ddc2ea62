"""Driver-scale parity for the subset gates.

Three correctness gates intentionally run on oracle-tractable slices
(``simhash_dups`` 125 docs, ``extreme_pair`` 200 vectors,
``media_features`` 100 docs) so their DuckDB twins stay cheap.  These
tests re-exercise each operator over the FULL sf0.01 tables (500 docs /
500 vectors — the scale the correctness driver actually reads) against
INDEPENDENT Python/numpy oracles, so correctness is checked at driver
scale and not only on the gate slice.
"""

import hashlib
import os
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")

pytestmark = pytest.mark.skipif(
    not os.path.exists(SF_DIR), reason=f"testdata missing: {SF_DIR}"
)


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


# --------------------------------------------------------------------------
# simhash_dups at full corpus scale: independent pure-Python SimHash oracle
# --------------------------------------------------------------------------
def _py_simhash(text: str) -> int:
    """Mirror of dedup.simhash_signatures: per-word 64-bit hash = first 16
    hex chars of md5(word) (hi = digits 1-8, lo = digits 9-16); bit j reads
    (half >> (j % 32)) & 1; majority counter strictly > 0 sets the bit."""
    counters = [0] * 64
    norm = re.sub(r"\s+", " ", text.lower()).strip()
    for w in norm.split(" "):  # split('', ' ') == [''] in Spark too
        hx = hashlib.md5(w.encode("utf-8")).hexdigest()
        hi, lo = int(hx[0:8], 16), int(hx[8:16], 16)
        for j in range(64):
            src = lo if j < 32 else hi
            counters[j] += 1 if (src >> (j % 32)) & 1 else -1
    packed = 0
    for j in range(64):
        if counters[j] > 0:
            packed |= 1 << j
    return packed


def test_simhash_dups_full_sf001_matches_python_oracle(spark):
    """The pair-of-blocks multi-index path over the FULL 500-doc corpus
    (plus 125 planted near-copies) must produce exactly the all-pairs
    hamming<=6 set a brute-force Python SimHash computes — recall
    (pigeonhole at n_blocks-2) AND precision (no phantom pairs), with the
    hamming values exact."""
    from ocr_spark.operators.dedup import simhash_dup_pairs

    docs = _docs(spark).select("doc_id", "text")
    near = docs.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    un = docs.unionByName(near).withColumn(
        "doc_id", F.lpad(F.col("doc_id").cast("string"), 7, "0")
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_dup_pairs(un, max_hamming=6, n_blocks=8).collect()
    }
    # no duplicated pairs from the multi-index candidate streams
    assert len(got) == simhash_dup_pairs(un, max_hamming=6, n_blocks=8).count()

    rows = un.collect()
    sigs = {r["doc_id"]: _py_simhash(r["text"]) for r in rows}
    ids = sorted(sigs)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin(sigs[a] ^ sigs[b]).count("1")
            if h <= 6:
                want[(a, b)] = h
    assert got == want
    # the planted exact-structure guarantees the set is non-trivial
    assert len(want) > 0


# --------------------------------------------------------------------------
# extreme_pair over ALL 500 vectors: numpy brute-force oracle
# --------------------------------------------------------------------------
def test_extreme_pair_full_sf001_matches_numpy(spark):
    """most_least_similar_pair over the full embeddings table must report
    the true global max/min cosine similarity (numpy brute force), and the
    reported pairs must achieve those extremes."""
    from ocr_spark.operators.similarity import most_least_similar_pair

    emb = _emb(spark).withColumnRenamed("vec_id", "doc_id")
    out = most_least_similar_pair(emb).collect()[0]

    rows = sorted(
        ((r["doc_id"], np.asarray(r["embedding"], dtype=np.float64))
         for r in emb.collect()),
        key=lambda t: t[0],
    )
    ids = [t[0] for t in rows]
    M = np.stack([t[1] for t in rows])
    norms = np.linalg.norm(M, axis=1)
    norms[norms == 0] = 1.0
    S = (M / norms[:, None]) @ (M / norms[:, None]).T
    iu = np.triu_indices(len(ids), k=1)
    sims = S[iu]
    want_max, want_min = float(sims.max()), float(sims.min())

    assert abs(out["max_similarity"] - want_max) < 1e-9
    assert abs(out["min_similarity"] - want_min) < 1e-9
    # the reported pairs actually achieve the extremes (tie-safe check:
    # blocked-BLAS vs full-matrix summation order may differ ~1e-15, so
    # near-tied pairs are allowed as long as their similarity matches)
    idx = {v: i for i, v in enumerate(ids)}
    ma, mb = out["most_similar"]["id_a"], out["most_similar"]["id_b"]
    la, lb = out["least_similar"]["id_a"], out["least_similar"]["id_b"]
    assert abs(S[idx[ma], idx[mb]] - want_max) < 1e-9
    assert abs(S[idx[la], idx[lb]] - want_min) < 1e-9


# --------------------------------------------------------------------------
# media_features over ALL 500 docs: pure-Python pipeline oracle
# --------------------------------------------------------------------------
def test_media_features_full_sf001_matches_python(spark):
    """synthesize → fake-decode/resize loop → byte-histogram features over
    the full documents table, value-compared against a plain-Python
    recomputation of the identical deterministic pipeline."""
    from ocr_spark.operators.media import (
        _MAX_BYTES,
        _QUALITY_STEPS,
        byte_histogram_features,
        make_decode_udf,
        make_resize_udf,
        synthesize_media_bytes,
    )

    docs = _docs(spark).select(
        "doc_id", F.col("source").alias("media_ref"), "text"
    )
    decode_image_meta, resize_image_if_needed = make_decode_udf(), make_resize_udf()
    feat = byte_histogram_features(64)
    got_rows = (
        docs.withColumn("data", synthesize_media_bytes("media_ref", "text"))
        .withColumn("meta", decode_image_meta("data"))
        .withColumn("rz", resize_image_if_needed("data"))
        .withColumn("features", feat(F.col("rz.data")))
        .select("doc_id", "features")
        .collect()
    )
    got = {r["doc_id"]: np.asarray(r["features"], dtype=np.float64)
           for r in got_rows}

    src = {r["doc_id"]: (r["media_ref"], r["text"]) for r in docs.collect()}
    assert set(got) == set(src)
    for doc_id, (ref, text) in src.items():
        b = f"{ref}:{text}".encode("utf-8")
        if len(b) > _MAX_BYTES:
            for q in _QUALITY_STEPS:
                out = b[: int(len(b) * q / 100)]
                if len(out) <= _MAX_BYTES:
                    break
            b = out
        arr = np.frombuffer(b, dtype=np.uint8)
        hist = np.bincount(arr % 64, minlength=64).astype(np.float64)
        norm = np.linalg.norm(hist)
        want = hist / norm if norm > 0 else hist
        assert np.allclose(got[doc_id], want, atol=1e-12), doc_id
