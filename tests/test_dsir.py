"""DSIR importance resampling (operators/dsir)."""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from ocr_spark.operators.dsir import (
    bucket_counts,
    dsir_log_ratios,
    dsir_resample,
    dsir_sample_fraction,
    dsir_score,
    gram_bucket_stream,
)
from tests.plan_util import plan_text

TARGET = [
    (1, "the theory of prime numbers and modular arithmetic"),
    (2, "prime numbers appear in modular arithmetic proofs"),
    (3, "a theorem about prime factorization"),
]

RAW = [
    (10, "the quick brown fox jumps over the lazy dog"),
    (11, "prime numbers and modular arithmetic in theory"),
    (12, "lorem ipsum dolor sit amet"),
    (13, "modular arithmetic prime theorem proofs"),
    (14, ""),
    (15, "   \t  "),
    (16, None),
    (17, "fox"),
]


@pytest.fixture(scope="module")
def target_df(spark):
    return spark.createDataFrame(TARGET, "doc_id int, text string")


@pytest.fixture(scope="module")
def raw_df(spark):
    return spark.createDataFrame(RAW, "doc_id int, text string")


def _py_bucket(gram: str, n_buckets: int, seed: int) -> int:
    return int(hashlib.md5(f"{seed}|{gram}".encode()).hexdigest()[:8], 16) % n_buckets


def _py_grams(text, ns):
    words = (text or "").split()
    out = []
    for n in ns:
        out += [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)]
    return out


def _py_model(target_rows, raw_rows, n_buckets, ns, seed, add_k):
    def counts(rows):
        c = [0] * n_buckets
        for _, text in rows:
            for g in _py_grams(text, ns):
                c[_py_bucket(g, n_buckets, seed)] += 1
        return c

    ct, cr = counts(target_rows), counts(raw_rows)
    td, rd = sum(ct) + add_k * n_buckets, sum(cr) + add_k * n_buckets
    return [
        math.log((ct[b] + add_k) / td) - math.log((cr[b] + add_k) / rd)
        for b in range(n_buckets)
    ]


def _py_log_w(text, llr, ns, seed):
    return sum(llr[_py_bucket(g, len(llr), seed)] for g in _py_grams(text, ns))


def test_gram_bucket_stream_matches_python(spark, raw_df):
    got = sorted(
        (r["doc_id"], r["bucket"])
        for r in gram_bucket_stream(
            raw_df, 16, ns=(1, 2), seed=3, id_cols=("doc_id",)
        ).collect()
    )
    want = sorted(
        (doc_id, _py_bucket(g, 16, 3))
        for doc_id, text in RAW
        for g in _py_grams(text, (1, 2))
    )
    assert got == want


def test_bucket_counts_is_model_sized(spark, raw_df):
    rows = bucket_counts(raw_df, 8, ns=(1,), seed=0).collect()
    assert len(rows) <= 8
    total_words = sum(len((t or "").split()) for _, t in RAW)
    assert sum(r["c"] for r in rows) == total_words


def test_log_ratios_match_python(spark, target_df, raw_df):
    llr_df = dsir_log_ratios(target_df, raw_df, 16, ns=(1, 2), seed=3, add_k=0.5)
    got = {r["bucket"]: r["llr"] for r in llr_df.collect()}
    want = _py_model(TARGET, RAW, 16, (1, 2), 3, 0.5)
    assert set(got) == set(range(16))  # dense: never-seen buckets included
    for b in range(16):
        assert got[b] == pytest.approx(want[b], abs=1e-12)


def test_score_matches_python(spark, target_df, raw_df):
    llr_df = dsir_log_ratios(target_df, raw_df, 16, ns=(1, 2), seed=3)
    got = {
        r["doc_id"]: (r["n_feats"], r["log_w"])
        for r in dsir_score(raw_df, llr_df, 16, ns=(1, 2), seed=3).collect()
    }
    llr = _py_model(TARGET, RAW, 16, (1, 2), 3, 0.5)
    assert set(got) == {d for d, _ in RAW}
    for doc_id, text in RAW:
        n_feats, log_w = got[doc_id]
        assert n_feats == len(_py_grams(text, (1, 2)))
        # summation order differs (shuffle vs list order)
        assert log_w == pytest.approx(_py_log_w(text, llr, (1, 2), 3), abs=1e-9)
    # featureless docs are indifferent, not missing
    assert got[14] == (0, 0.0)
    assert got[15] == (0, 0.0)
    assert got[16] == (0, 0.0)


def test_target_like_docs_outscore_unrelated(spark, target_df, raw_df):
    llr_df = dsir_log_ratios(target_df, raw_df, 64, ns=(1, 2), seed=3)
    got = {
        r["doc_id"]: r["log_w"] / max(r["n_feats"], 1)
        for r in dsir_score(raw_df, llr_df, 64, ns=(1, 2), seed=3).collect()
    }
    # 11/13 are worded like the target; 10/12 are not
    assert min(got[11], got[13]) > max(got[10], got[12])


def test_resample_is_deterministic_and_layout_independent(spark, target_df, raw_df):
    llr_df = dsir_log_ratios(target_df, raw_df, 16, ns=(1, 2), seed=3)
    scored = dsir_score(raw_df, llr_df, 16, ns=(1, 2), seed=3)
    a = sorted(r["doc_id"] for r in dsir_resample(scored, 4, seed=5).collect())
    b = sorted(
        r["doc_id"]
        for r in dsir_resample(scored.repartition(7), 4, seed=5).collect()
    )
    assert a == b and len(a) == 4


def test_resample_plans_as_take_ordered(spark, target_df, raw_df):
    llr_df = dsir_log_ratios(target_df, raw_df, 16, ns=(1, 2), seed=3)
    scored = dsir_score(raw_df, llr_df, 16, ns=(1, 2), seed=3)
    plan = plan_text(dsir_resample(scored, 4, seed=5))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan


def test_score_stream_shuffles_only_on_doc_id(spark, target_df, raw_df):
    """The exploded bucket stream must reuse the pinned HashPartitioning:
    the only exchanges in the scoring plan are the pinned repartition(s)
    and the model-side broadcast — never a shuffle keyed on the stream."""
    llr_df = dsir_log_ratios(target_df, raw_df, 16, ns=(1, 2), seed=3)
    plan = plan_text(dsir_score(raw_df, llr_df, 16, ns=(1, 2), seed=3))
    assert "BroadcastExchange" in plan
    import re

    keyed = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert all("doc_id" in ln for ln in keyed), plan[:2000]
    assert not re.search(r"Exchange hashpartitioning\(bucket", plan), plan[:2000]


def test_sample_fraction_is_row_local(spark, target_df, raw_df):
    llr_df = dsir_log_ratios(target_df, raw_df, 16, ns=(1, 2), seed=3)
    scored = dsir_score(raw_df, llr_df, 16, ns=(1, 2), seed=3).localCheckpoint()
    out = dsir_sample_fraction(scored, log_threshold=0.0, seed=5)
    plan = plan_text(out)
    # selection adds NO exchange over the checkpointed scores
    assert "Exchange" not in plan
    rows = out.collect()
    assert {r["doc_id"] for r in rows} == {d for d, _ in RAW}
    # extreme thresholds pin the decision
    all_keep = dsir_sample_fraction(scored, log_threshold=-1e6, seed=5).collect()
    assert all(r["keep"] for r in all_keep)
    none_keep = dsir_sample_fraction(scored, log_threshold=1e6, seed=5).collect()
    assert not any(r["keep"] for r in none_keep)


def test_validation_errors(spark, target_df, raw_df):
    with pytest.raises(ValueError):
        gram_bucket_stream(raw_df, 0)
    with pytest.raises(ValueError):
        gram_bucket_stream(raw_df, 8, ns=())
    with pytest.raises(ValueError):
        dsir_log_ratios(target_df, raw_df, 8, add_k=0.0)
    with pytest.raises(ValueError):
        dsir_resample(raw_df.withColumn("log_w", F.lit(0.0)), 0)
    llr_df = dsir_log_ratios(target_df, raw_df, 8)
    scored = dsir_score(raw_df, llr_df, 8)
    with pytest.raises(ValueError):
        dsir_sample_fraction(scored, 0.0, temperature=0.0)


def test_select_job_end_to_end(spark, tmp_path, monkeypatch):
    """The packaged selection job: blocklist -> quality gate -> DSIR
    score + Gumbel-top-k, exercised through its argv interface."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import select_job

    rows = [
        (1, "http://ads.bad.example/x", "prime numbers and modular arithmetic"),
        (2, "http://ok.org/a", "prime numbers appear in modular proofs"),
        (3, "http://ok.org/b", "the quick brown fox jumps over the dog"),
        (4, "http://fine.net/c", "lorem ipsum dolor sit amet"),
        (5, "http://fine.net/d", "modular arithmetic theorem about primes"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string, text string")
    target = spark.createDataFrame(
        [(100, "prime numbers modular arithmetic theorem"),],
        "doc_id long, text string",
    )
    inp, tgt, cat = str(tmp_path / "docs"), str(tmp_path / "tgt"), str(tmp_path / "cat")
    docs.write.parquet(inp)
    target.write.parquet(tgt)
    blpath = tmp_path / "bl.csv"
    blpath.write_text("bad.example\n")
    monkeypatch.setattr(
        sys,
        "argv",
        ["select_job.py", "--input", inp, "--target", tgt, "--catalog", cat,
         "--blocklist", str(blpath), "--quality-threshold", "0.0",
         "--buckets", "64", "--select-k", "2", "--seed", "3"],
    )
    select_job.main()

    blocked = [r["doc_id"] for r in spark.read.parquet(f"{cat}/select_blocked").collect()]
    assert blocked == [1]
    sel = spark.read.parquet(f"{cat}/selected").collect()
    assert len(sel) == 2
    assert all(r["doc_id"] in (2, 3, 4, 5) for r in sel)
    stats = spark.read.parquet(f"{cat}/select_stats").collect()[0]
    assert (stats["n_input"], stats["n_blocked"], stats["n_selected"]) == (5, 1, 2)
    assert stats["n_lowquality"] == 0
