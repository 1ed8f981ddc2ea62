"""Trainable hashed char-n-gram language ID (operators/langid)."""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from ocr_spark.operators.langid import (
    langid_fit,
    langid_predict,
    langid_scores,
)
from tests.plan_util import plan_text

SEED_DOCS = [
    ("en", "the quick brown fox jumps over the lazy dog again and again"),
    ("en", "a theory of prime numbers and other fine things to read"),
    ("xx", "zxqzx vxwvx kxqkx zxqzx wxvwx qxzqx kxwkx zxqzx"),
    ("xx", "qxzqx wxvwx zxqzx kxqkx vxwvx zxqzx"),
]

SCORE_DOCS = [
    (1, "the brown fox and the fine dog read things"),
    (2, "zxqzx wxvwx kxqkx qxzqx zxqzx"),
    (3, ""),
    (4, None),
]


def _py_bucket(gram, n_buckets, seed):
    return int(hashlib.md5(f"{seed}|{gram}".encode()).hexdigest()[:8], 16) % n_buckets


def _py_grams(text, n):
    t = (text or "").lower()
    return [t[i : i + n] for i in range(len(t) - n + 1)]


def _py_model(rows, n_buckets, n, seed, add_k):
    langs = sorted({l for l, _ in rows})
    counts = {l: [0] * n_buckets for l in langs}
    nd = {l: 0 for l in langs}
    for l, t in rows:
        nd[l] += 1
        for g in _py_grams(t, n):
            counts[l][_py_bucket(g, n_buckets, seed)] += 1
    td = sum(nd.values())
    model = {}
    for l in langs:
        tot = sum(counts[l])
        prior = math.log(nd[l] / td)
        model[l] = (
            prior,
            [
                math.log((c + add_k) / (tot + add_k * n_buckets))
                for c in counts[l]
            ],
        )
    return model


def _py_score(text, model, n_buckets, n, seed):
    out = {}
    for l, (prior, logp) in model.items():
        s = prior
        for g in _py_grams(text, n):
            s += logp[_py_bucket(g, n_buckets, seed)]
        out[l] = s
    return out


@pytest.fixture(scope="module")
def seed_df(spark):
    return spark.createDataFrame(SEED_DOCS, "lang string, text string")


@pytest.fixture(scope="module")
def score_df(spark):
    return spark.createDataFrame(SCORE_DOCS, "doc_id int, text string")


def test_fit_matches_python(spark, seed_df):
    model = langid_fit(seed_df, 32, n=3, seed=5, add_k=0.5)
    rows = model.collect()
    assert len(rows) == 2 * 32  # dense grid: every (lang, bucket)
    want = _py_model(SEED_DOCS, 32, 3, 5, 0.5)
    for r in rows:
        prior, logp = want[r["lang"]]
        assert r["prior"] == pytest.approx(prior, abs=1e-12)
        assert r["logp"] == pytest.approx(logp[r["bucket"]], abs=1e-12)


def test_scores_match_python_and_separate_langs(spark, seed_df, score_df):
    model = langid_fit(seed_df, 32, n=3, seed=5)
    scores = langid_scores(score_df, model, 32, n=3, seed=5)
    got = {
        (r["doc_id"], r["lang"]): (r["n_grams"], r["score"])
        for r in scores.collect()
    }
    want_model = _py_model(SEED_DOCS, 32, 3, 5, 0.5)
    assert set(got) == {(d, l) for d, _ in SCORE_DOCS for l in ("en", "xx")}
    for doc_id, text in SCORE_DOCS:
        ws = _py_score(text or "", want_model, 32, 3, 5)
        for lang in ("en", "xx"):
            n_grams, score = got[(doc_id, lang)]
            assert n_grams == len(_py_grams(text, 3))
            assert score == pytest.approx(ws[lang], abs=1e-9)
    # the english-ish doc scores en > xx; the synthetic one the reverse
    assert got[(1, "en")][1] > got[(1, "xx")][1]
    assert got[(2, "xx")][1] > got[(2, "en")][1]


def test_predict_argmax_and_tiebreak(spark, seed_df, score_df):
    model = langid_fit(seed_df, 32, n=3, seed=5)
    scores = langid_scores(score_df, model, 32, n=3, seed=5)
    got = {r["doc_id"]: r["lang"] for r in langid_predict(scores).collect()}
    assert got[1] == "en" and got[2] == "xx"
    # featureless docs tie on the bare priors: both langs have 2 seed docs
    # -> equal priors -> deterministic smallest-language tiebreak
    assert got[3] == "en" and got[4] == "en"


def test_predict_is_layout_independent(spark, seed_df, score_df):
    model = langid_fit(seed_df, 32, n=3, seed=5)
    a = sorted(
        (r["doc_id"], r["lang"])
        for r in langid_predict(
            langid_scores(score_df, model, 32, n=3, seed=5)
        ).collect()
    )
    b = sorted(
        (r["doc_id"], r["lang"])
        for r in langid_predict(
            langid_scores(score_df.repartition(7), model, 32, n=3, seed=5)
        ).collect()
    )
    assert a == b


def test_score_plan_shape(spark, seed_df, score_df):
    """Broadcast model join; the only keyed exchanges are on the doc id
    (the pinned repartition) — the gram stream never shuffles on bucket —
    and argmax is an aggregation, not a window."""
    import re

    model = langid_fit(seed_df, 32, n=3, seed=5)
    out = langid_predict(langid_scores(score_df, model, 32, n=3, seed=5))
    plan = plan_text(out)
    assert "BroadcastExchange" in plan
    assert "Window" not in plan
    keyed = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert all("doc_id" in ln for ln in keyed), plan[:2000]
    assert not re.search(r"Exchange hashpartitioning\(bucket", plan)


def test_zero_gram_language_keeps_prior_row(spark, score_df):
    """A language whose entire fit slice is shorter than n chars yields
    ZERO n-grams; it must still appear in the model (prior + uniform
    smoothed logp = ln(k / (0 + k*B))) so every document scores every
    language — the inner-join form dropped it entirely (r4 advisor)."""
    rows = SEED_DOCS + [("zz", "ab"), ("zz", "x")]  # all < 3 chars
    seed = spark.createDataFrame(rows, "lang string, text string")
    model = langid_fit(seed, 32, n=3, seed=5, add_k=0.5)
    got = model.filter(F.col("lang") == "zz").collect()
    assert len(got) == 32  # full dense bucket row survives
    uniform = math.log(0.5 / (0 + 0.5 * 32))
    prior = math.log(2 / 6)
    for r in got:
        assert abs(r["logp"] - uniform) < 1e-12
        assert abs(r["prior"] - prior) < 1e-12
    # and scoring emits a zz row for every document (prior-only on grams=0)
    scores = langid_scores(score_df, model, 32, n=3, seed=5)
    per_doc = (
        scores.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    )
    assert all(r["n"] == 3 for r in per_doc)


def test_validation(spark, seed_df):
    with pytest.raises(ValueError):
        langid_fit(seed_df, 8, add_k=0.0)


@pytest.mark.parametrize("n", [0, -1])
def test_gram_order_must_be_positive(spark, seed_df, score_df, n):
    """An n < 1 gram order has no grams to hash: both the fit and the score
    path reject it instead of returning a model or labels."""
    with pytest.raises(ValueError, match="n must be >= 1"):
        langid_fit(seed_df, 8, n=n)
    model = langid_fit(seed_df, 8, n=3)
    with pytest.raises(ValueError, match="n must be >= 1"):
        langid_scores(score_df, model, 8, n=n)


def test_xxhash_family_same_predictions(spark, seed_df, score_df):
    """The JVM-native scale family must behave like a hash family: same
    fit/score/argmax shape, same predictions on separated corpora (bucket
    values differ, the distribution-matching does not)."""
    model = langid_fit(seed_df, 64, n=3, seed=5, hash_family="xxhash")
    scores = langid_scores(
        score_df, model, 64, n=3, seed=5, hash_family="xxhash"
    )
    got = {r["doc_id"]: r["lang"] for r in langid_predict(scores).collect()}
    assert got[1] == "en" and got[2] == "xx"
    with pytest.raises(ValueError):
        langid_fit(seed_df, 64, hash_family="sha9000")


def test_char_grams_match_sliding_substr(spark):
    """_char_grams (split + argument-level zip_with folds, O(n*len)) must
    be byte-exact with the sliding-substr form it replaced — which was
    O(len^2) per doc (UTF8String.substring walks from byte 0 to find the
    i-th code point; the heaviest docs dominate a corpus sum of len^2 and
    straggled the r5 scaling leg for 20+ CPU-minutes in one task).
    Includes the adversarial surfaces where code-point vs code-unit vs
    byte indexing could diverge: astral plane (UTF-16 surrogate pairs),
    combining accents, NULs, zero-width chars, CJK, short/empty texts."""
    from ocr_spark.operators.langid import _char_grams

    cases = [
        "hello world",
        "",
        "a",
        "ab",
        "abc",
        "\U0001d11e\U0001d11exy",
        "ééabc",
        "\r\n\x0b\f mixed \t ws",
        "  　nbspace",
        "日本語のテキスト",
        "mixed \U0001d11e astral café",
        "\x00nul\x00bytes",
        "zero​width‍join",
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(cases)], "id int, t string"
    )
    t = F.col("t")
    for n in (1, 2, 3, 4):
        cnt = F.length(t) - (n - 1)
        idx = F.when(cnt >= 1, F.sequence(F.lit(1), cnt)).otherwise(
            F.array().cast("array<int>")
        )
        sliding = F.transform(idx, lambda i: t.substr(i, F.lit(n)))
        rows = df.select(
            "id", sliding.alias("old"), _char_grams(t, n).alias("new")
        ).collect()
        for r in rows:
            assert r["old"] == r["new"], (n, cases[r["id"]], r["old"], r["new"])
