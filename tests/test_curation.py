"""Unit + property tests for operators/curation (Gopher repetition/quality,
C4 chunk dedup, token entropy, PII redaction) against tiny hand-computable
corpora and pure-Python oracles."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ocr_spark.operators.curation import (
    PII_PATTERNS,
    chunk_dedup,
    gopher_quality,
    pii_counts,
    redact_pii,
    repetition_stats,
    token_entropy,
    words_column,
)
from tests.plan_util import plan_text


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# repetition_stats
# ---------------------------------------------------------------------------
def test_repetition_stats_hand_computed(spark):
    docs = _docs(
        spark,
        [
            (1, "a b a b a"),          # words: 5, distinct 2; 2grams: ab ba ab ba -> top 2/4
            (2, "x y z"),              # all distinct; 2grams xy yz -> top 1/2; 3gram xyz 1/1
            (3, ""),                   # empty
            (4, "w"),                  # single word: no 2/3-grams
        ],
    )
    out = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert out[1]["n_words"] == 5
    assert out[1]["dup_word_frac"] == pytest.approx(1 - 2 / 5)
    assert out[1]["top2gram_frac"] == pytest.approx(2 / 4)
    assert out[1]["top3gram_frac"] == pytest.approx(2 / 3)  # aba bab aba
    assert out[2]["dup_word_frac"] == 0.0
    assert out[2]["top2gram_frac"] == pytest.approx(1 / 2)
    assert out[2]["top3gram_frac"] == 1.0
    assert out[3]["n_words"] == 0 and out[3]["dup_word_frac"] == 0.0
    assert out[3]["top2gram_frac"] == 0.0 and out[3]["top3gram_frac"] == 0.0
    assert out[4]["n_words"] == 1
    assert out[4]["top2gram_frac"] == 0.0  # no grams — NOT a [1,0]-sequence artifact
    assert len(out) == 4  # every input doc present exactly once


def test_repetition_stats_python_oracle(spark):
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 40))))
        for i in range(60)
    ]
    docs = _docs(spark, rows)
    got = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    for doc_id, text in rows:
        words = text.split() if text.strip() else []
        n = len(words)
        assert got[doc_id]["n_words"] == n
        exp_dup = 1 - len(set(words)) / n if n else 0.0
        assert got[doc_id]["dup_word_frac"] == pytest.approx(exp_dup)
        for k in (2, 3):
            grams = [" ".join(words[i : i + k]) for i in range(n - k + 1)]
            exp = (
                max(grams.count(g) for g in set(grams)) / len(grams) if grams else 0.0
            )
            assert got[doc_id][f"top{k}gram_frac"] == pytest.approx(exp), (doc_id, k)


# ---------------------------------------------------------------------------
# gopher_quality
# ---------------------------------------------------------------------------
def test_gopher_quality_flags(spark):
    good = "the quick brown fox jumps over with many of the fine dogs and cats that have fur"
    symbolic = "the of # # # # # # # # # # and that have with more words here now"
    numeric = "the of 111 222 333 444 555 666 777 888 999 000 111 222 333 444 555 666"
    docs = _docs(spark, [(1, good), (2, symbolic), (3, numeric), (4, "")])
    out = {
        r["doc_id"]: r
        for r in gopher_quality(docs, min_words=10, min_mean_word_len=2.0).collect()
    }
    assert out[1]["keep"] is True
    assert out[2]["keep"] is False  # symbol_ratio 10/20 > 0.1
    assert out[2]["symbol_ratio"] == pytest.approx(10 / 20)
    assert out[3]["keep"] is False  # alpha_word_frac 2/18 < 0.8
    assert out[4]["keep"] is False and out[4]["n_words"] == 0
    assert out[1]["n_stopwords"] >= 2
    exp_mean = sum(len(w) for w in good.split()) / len(good.split())
    assert out[1]["mean_word_len"] == pytest.approx(exp_mean)


# ---------------------------------------------------------------------------
# token_entropy
# ---------------------------------------------------------------------------
def test_token_entropy_uniform_and_degenerate(spark):
    docs = _docs(
        spark,
        [
            (1, "a b c d"),       # uniform over 4 -> ln 4
            (2, "a a a a"),       # degenerate -> 0
            (3, "a a b b b b"),   # 2/6, 4/6
            (4, ""),
        ],
    )
    out = {r["doc_id"]: r["entropy"] for r in token_entropy(docs).collect()}
    assert out[1] == pytest.approx(math.log(4))
    assert out[2] == pytest.approx(0.0)
    exp = -(2 / 6) * math.log(2 / 6) - (4 / 6) * math.log(4 / 6)
    assert out[3] == pytest.approx(exp)
    assert out[4] == 0.0


# ---------------------------------------------------------------------------
# chunk_dedup
# ---------------------------------------------------------------------------
def test_chunk_dedup_first_occurrence_wins(spark):
    # chunk_words=3: doc 1 = [abc][def]; doc 2 repeats [abc] then fresh [xyz]
    # doc 3 repeats BOTH of doc 1's chunks -> fully deduped
    docs = _docs(
        spark,
        [
            (1, "a b c d e f"),
            (2, "a b c x y z"),
            (3, "a b c d e f"),
            (4, ""),
        ],
    )
    out = {r["doc_id"]: r for r in chunk_dedup(docs, chunk_words=3).collect()}
    assert out[1]["text"] == "a b c d e f" and out[1]["n_kept"] == 2
    assert out[2]["text"] == "x y z" and out[2]["n_kept"] == 1
    assert out[3]["text"] == "" and out[3]["n_kept"] == 0 and out[3]["n_chunks"] == 2
    assert out[4]["text"] == "" and out[4]["n_chunks"] == 0
    assert len(out) == 4


def test_chunk_dedup_python_oracle(spark):
    """Full-output equality against a pure-Python first-occurrence oracle on
    a random self-similar corpus (short vocab => many shared chunks)."""
    import random

    rng = random.Random(11)
    vocab = [f"t{i}" for i in range(6)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 23))))
        for i in range(40)
    ]
    K = 4
    seen: set[str] = set()
    expected = {}
    for doc_id, text in sorted(rows):  # keeper order = (doc_id, chunk_idx)
        words = text.split()
        chunks = [" ".join(words[i : i + K]) for i in range(0, len(words), K)]
        kept = []
        for c in chunks:
            if c not in seen:
                seen.add(c)
                kept.append(c)
        expected[doc_id] = (" ".join(kept), len(chunks), len(kept))
    docs = _docs(spark, rows).repartition(5)
    got = {
        r["doc_id"]: (r["text"], r["n_chunks"], r["n_kept"])
        for r in chunk_dedup(docs, chunk_words=K).collect()
    }
    assert got == expected
    assert sum(v[2] for v in got.values()) == len(seen)


def test_chunk_dedup_deterministic_keeper(spark):
    """The keeper is ordered by (doc_id, chunk_idx): the LOWEST doc id owns a
    shared chunk regardless of input partitioning."""
    rows = [(i, "s h a r e d c h u n k") for i in range(8)]
    docs = _docs(spark, rows).repartition(7)
    out = {r["doc_id"]: r["n_kept"] for r in chunk_dedup(docs, chunk_words=12).collect()}
    assert out[0] == 1
    assert all(out[i] == 0 for i in range(1, 8))


# ---------------------------------------------------------------------------
# PII
# ---------------------------------------------------------------------------
def test_pii_redaction_and_counts(spark):
    text = (
        "mail a.b-c_d%x+1@sub.example.co.jp and admin@example.com, "
        "host 192.168.0.1 backup 10.0.255.7, call 090-1234-5678 or 03-123-456 "
        "but not 1234-5678 (no leading 0) and not 300.300.300.300x (no break)"
    )
    docs = _docs(spark, [(1, text)])
    counts = pii_counts("text")
    row = docs.select(
        *[c.alias(k) for k, c in counts.items()], redact_pii("text").alias("red")
    ).collect()[0]
    assert row["email"] == 2
    assert row["ip"] == 2
    assert row["phone"] == 2
    red = row["red"]
    assert "<EMAIL>" in red and "@" not in red
    assert "192.168.0.1" not in red and "<IP>" in red
    assert "090-1234-5678" not in red and "<PHONE>" in red
    assert "1234-5678 (no leading 0)" in red


def test_pii_patterns_are_global_and_ordered(spark):
    # email containing digit runs must be consumed by the EMAIL pattern first
    docs = _docs(spark, [(1, "x 0123-456-7890@mail.example.com y 0123-456-7890 z")])
    red = docs.select(redact_pii("text").alias("r")).collect()[0]["r"]
    assert red == "x <EMAIL> y <PHONE> z"
    assert len(PII_PATTERNS) == 3


# ---------------------------------------------------------------------------
# curate_job (spark-submit entry)
# ---------------------------------------------------------------------------
def test_curate_job_end_to_end(spark, tmp_path, monkeypatch):
    """The packaged curation job: quality split -> chunk dedup -> stats,
    exercised through its argv interface against the active session."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import curate_job

    good = (
        "the quick brown fox jumps with many of the fine dogs and cats "
        "that have fur and the story goes on and on about the fine dogs"
    )
    rows = [
        (0, good),
        (1, good + " extra tail words here"),
        (2, "too short"),
        (3, good + "\n" + good),  # intra-doc duplicate line for --dedup-lines
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    inp = str(tmp_path / "docs")
    docs.write.parquet(inp)
    cat = str(tmp_path / "catalog")
    monkeypatch.setattr(
        sys,
        "argv",
        ["curate_job.py", "--input", inp, "--catalog", cat,
         "--min-words", "10", "--chunk-words", "5", "--redact-pii",
         "--dedup-lines"],
    )
    curate_job.main()

    curated = {r["doc_id"]: r for r in spark.read.parquet(f"{cat}/curated").collect()}
    rejects = [r["doc_id"] for r in spark.read.parquet(f"{cat}/curation_rejects").collect()]
    stats = {r["doc_id"]: r for r in spark.read.parquet(f"{cat}/curation_stats").collect()}
    assert rejects == [2]  # quality-filtered out
    assert set(curated) == {0, 1, 3}
    assert curated[0]["text"] == good  # first occurrence keeps everything
    assert curated[1]["n_kept"] < curated[1]["n_chunks"]  # shared chunks deduped
    # --dedup-lines collapsed doc 3's duplicated line BEFORE chunk dedup,
    # so its remaining chunks are exact duplicates of doc 0's and drop there
    assert curated[3]["n_kept"] == 0 and curated[3]["text"] == ""
    assert set(stats) == {0, 1, 3} and stats[0]["entropy"] > 0


def test_curate_job_substr_dedup_mode(spark, tmp_path, monkeypatch):
    """--substr-dedup swaps the cross-document stage for ExactSubstr:
    doc 1's copy of the shared block is removed as ONE maximal span even
    though no chunk boundary aligns (it sits at a 3-word offset)."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import curate_job

    good = (
        "the quick brown fox jumps with many of the fine dogs and cats "
        "that have fur and the story goes on and on about the fine dogs"
    )
    rows = [
        (0, good),
        (1, "a few offset words " + good),
        (2, "too short"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    inp = str(tmp_path / "docs")
    docs.write.parquet(inp)
    cat = str(tmp_path / "catalog")
    monkeypatch.setattr(
        sys,
        "argv",
        ["curate_job.py", "--input", inp, "--catalog", cat,
         "--min-words", "10", "--substr-dedup", "--substr-words", "6"],
    )
    curate_job.main()

    curated = {r["doc_id"]: r for r in spark.read.parquet(f"{cat}/curated").collect()}
    assert set(curated) == {0, 1}
    assert curated[0]["text"] == good
    assert curated[1]["text"] == "a few offset words"
    assert curated[1]["n_dup_spans"] == 1
    assert curated[1]["n_removed"] == len(good.split())


def test_unigram_lm_rejects_zero_add_k(spark):
    """add_k=0 is a plausible 'no smoothing' request, but the unseen-word
    contract log(k/denom) is undefined there — it must raise a clear
    ValueError, not a bare math domain error."""
    import pytest

    from ocr_spark.operators.curation import unigram_lm

    corpus = _docs(spark, [(1, "a b")])
    with pytest.raises(ValueError, match="add_k"):
        unigram_lm(corpus, add_k=0)
    with pytest.raises(ValueError, match="add_k"):
        unigram_lm(corpus, add_k=-1.0)


def test_lm_cross_entropy_matches_hand_math(spark):
    """Unigram LM + per-doc cross-entropy against hand-computed values,
    incl. the unseen-word floor and the empty doc."""
    import math

    from ocr_spark.operators.curation import lm_cross_entropy, unigram_lm

    corpus = _docs(spark, [(1, "a a b"), (2, "b c")])
    lm, unseen = unigram_lm(corpus, add_k=0.5)
    got_lm = {r["word"]: r["logp"] for r in lm.collect()}
    denom = 5 + 0.5 * (3 + 1)  # total=5, vocab=3
    assert abs(got_lm["a"] - math.log(2.5 / denom)) < 1e-12
    assert abs(got_lm["c"] - math.log(1.5 / denom)) < 1e-12
    # the smoothed unseen mass the LM reserves (the k*(V+1) '+1')
    assert abs(unseen - math.log(0.5 / denom)) < 1e-12

    scored = _docs(spark, [(10, "a b"), (11, "a zz"), (12, "")])
    out = {r["doc_id"]: r for r in
           lm_cross_entropy(scored, lm, unseen_logp=unseen).collect()}
    want_10 = -(math.log(2.5 / denom) + math.log(2.5 / denom)) / 2
    assert abs(out[10]["cross_entropy"] - want_10) < 1e-12
    assert out[10]["n_words"] == 2
    # 'zz' is unseen: scored at the LM's smoothed unseen mass
    want_11 = -(math.log(2.5 / denom) + unseen) / 2
    assert abs(out[11]["cross_entropy"] - want_11) < 1e-12
    assert out[12]["n_words"] == 0 and out[12]["cross_entropy"] == 0.0
    # without the smoothing contract, the default is the -30 hard floor
    floored = {r["doc_id"]: r for r in lm_cross_entropy(scored, lm).collect()}
    want_floor = -(math.log(2.5 / denom) + (-30.0)) / 2
    assert abs(floored[11]["cross_entropy"] - want_floor) < 1e-12
    # plan: the per-(doc, word) aggregation is partition-local after the
    # one doc-pinned repartition; the LM join is deliberately unhinted
    p = plan_text(lm_cross_entropy(scored, lm))
    assert "Window" not in p, p[:2000]


def test_dedup_lines_keeps_first_occurrence_in_order(spark):
    """C4 intra-doc repeated-line removal: duplicates drop, survivors keep
    original order, cross-doc lines are untouched, empty text is one
    (kept) empty line — and the exploded line stream never reshuffles
    after the doc-pinned repartition."""
    from ocr_spark.operators.curation import dedup_lines

    docs = _docs(spark, [
        (1, "alpha\nbeta\nalpha\ngamma\nbeta"),
        (2, "alpha\nalpha\nalpha"),   # same line as doc 1 — cross-doc untouched
        (3, ""),
        (4, "only line"),
    ])
    out = {r["doc_id"]: r for r in dedup_lines(docs).collect()}
    assert out[1]["text"] == "alpha\nbeta\ngamma"
    assert out[1]["n_lines"] == 5 and out[1]["n_kept"] == 3
    assert out[2]["text"] == "alpha" and out[2]["n_kept"] == 1
    assert out[3]["text"] == "" and out[3]["n_lines"] == 1 and out[3]["n_kept"] == 1
    assert out[4]["text"] == "only line"
    p = plan_text(dedup_lines(docs))
    assert p.count("Exchange") - p.count("BroadcastExchange") <= 1, p[:2000]
    assert "Window" not in p, p[:2000]


# ---------------------------------------------------------------------------
# whitespace edges (review regression: F.trim strips spaces ONLY)
# ---------------------------------------------------------------------------
def test_no_phantom_words_from_nonspace_whitespace(spark):
    """Leading/trailing newlines/tabs must not create empty-string words:
    '\\nhello world' is 2 words (was 3 via trim+split), '\\n' is 0 words —
    checked through every word-level operator and the shared token count."""
    from ocr_spark.functions.textstats import whitespace_token_count

    docs = _docs(spark, [(1, "\nhello world\t"), (2, "\n"), (3, "\ta b\nc ")])
    rep = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert rep[1]["n_words"] == 2 and rep[1]["dup_word_frac"] == 0.0
    assert rep[2]["n_words"] == 0
    assert rep[3]["n_words"] == 3
    gq = {r["doc_id"]: r for r in gopher_quality(docs).collect()}
    assert gq[1]["n_words"] == 2 and gq[1]["alpha_word_frac"] == 1.0
    assert gq[2]["n_words"] == 0
    cd = {r["doc_id"]: r for r in chunk_dedup(docs, chunk_words=2).collect()}
    assert cd[1]["text"] == "hello world" and cd[1]["n_chunks"] == 1
    assert cd[2]["text"] == "" and cd[2]["n_chunks"] == 0
    assert cd[3]["text"] == "a b c" and cd[3]["n_chunks"] == 2
    tc = {r["doc_id"]: r["c"] for r in docs.select(
        "doc_id", whitespace_token_count("text").alias("c")).collect()}
    assert tc == {1: 2, 2: 0, 3: 3}


# ---------------------------------------------------------------------------
# CCNet head/middle/tail perplexity buckets
# ---------------------------------------------------------------------------
def test_perplexity_buckets_explicit_thresholds_row_local(spark):
    from ocr_spark.operators.curation import perplexity_buckets

    scored = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)],
        "doc_id int, cross_entropy double",
    ).localCheckpoint()
    out = perplexity_buckets(scored, thresholds=(2.0, 3.0))
    got = {r["doc_id"]: r["bucket"] for r in out.collect()}
    # boundary docs fall to the LOWER bucket (<=)
    assert got == {1: "head", 2: "head", 3: "middle", 4: "tail"}
    plan = plan_text(out)
    assert "Exchange" not in plan  # explicit thresholds: pure row-local


def _py_order_stat_buckets(rows, fractions=(1.0 / 3, 2.0 / 3),
                           labels=("head", "middle", "tail")):
    """Reference: each cut is the ceil(n*f)-th smallest score (the discrete
    order statistic the perplexity gate uses); a doc at a cut goes to the
    lower bucket."""
    vals = sorted(v for _, v in rows)
    cuts = [vals[max(math.ceil(len(vals) * f), 1) - 1] for f in fractions]
    return {
        d: next((lab for lab, c in zip(labels, cuts) if v <= c), labels[-1])
        for d, v in rows
    }


def test_perplexity_buckets_exact_tertiles(spark):
    from ocr_spark.operators.curation import perplexity_buckets

    rows = [(i, float(i)) for i in range(1, 10)]
    scored = spark.createDataFrame(rows, "doc_id int, cross_entropy double")
    got = {r["doc_id"]: r["bucket"]
           for r in perplexity_buckets(scored).collect()}
    # 1..9: the 3rd and 6th smallest values are the cuts
    want = {i: ("head" if i <= 3 else "middle" if i <= 6 else "tail")
            for i in range(1, 10)}
    assert got == want == _py_order_stat_buckets(rows)


def test_perplexity_buckets_approx_default_matches_exact_here(spark):
    from ocr_spark.operators.curation import perplexity_buckets

    rows = [(i, float(i % 37)) for i in range(300)]
    scored = spark.createDataFrame(
        rows, "doc_id int, cross_entropy double"
    ).localCheckpoint()
    approx = {r["doc_id"]: r["bucket"]
              for r in perplexity_buckets(scored).collect()}
    # the sketch at default accuracy is exact on 300 values
    assert approx == _py_order_stat_buckets(rows)


def test_perplexity_buckets_empty_corpus_raises_value_error(spark):
    """percentile over zero rows is NULL; computed-threshold mode must
    raise a meaningful ValueError, not list(None)'s TypeError (r4
    advisor). Explicit thresholds stay fine on an empty frame."""
    import pytest as _pytest

    from ocr_spark.operators.curation import perplexity_buckets

    empty = spark.createDataFrame([], "doc_id int, cross_entropy double")
    with _pytest.raises(ValueError, match="empty corpus"):
        perplexity_buckets(empty)
    # all-null scores are the same degenerate case
    nulls = spark.createDataFrame(
        [(1, None), (2, None)], "doc_id int, cross_entropy double"
    )
    with _pytest.raises(ValueError, match="empty corpus"):
        perplexity_buckets(nulls)
    assert perplexity_buckets(empty, thresholds=(1.0, 2.0)).count() == 0


def test_perplexity_buckets_validation(spark):
    import pytest as _pytest

    from ocr_spark.operators.curation import perplexity_buckets

    scored = spark.createDataFrame(
        [(1, 1.0)], "doc_id int, cross_entropy double"
    )
    with _pytest.raises(ValueError):
        perplexity_buckets(scored, thresholds=(1.0,), labels=("a", "b", "c"))
    with _pytest.raises(ValueError):
        perplexity_buckets(scored, thresholds=(2.0, 1.0))


# ---------------------------------------------------------------------------
# ExactSubstr dedup (Lee et al. 2021)
# ---------------------------------------------------------------------------
def _py_exact_substr(rows, k):
    """Reference implementation: window text keyed directly (no hashing)."""
    words = {d: (t or "").split() for d, t in rows}
    occs = {}
    for d, ws in sorted(words.items()):
        for p in range(len(ws) - k + 1):
            occs.setdefault(" ".join(ws[p : p + k]), []).append((d, p))
    removed = {d: set() for d in words}
    for posns in occs.values():
        if len(posns) < 2:
            continue
        keeper = min(posns)
        for d, p in posns:
            if (d, p) == keeper:
                continue
            removed[d].update(range(p, p + k))
    out = {}
    for d, t in rows:
        ws, rem = words[d], removed[d]
        kept = [w for i, w in enumerate(ws) if i not in rem]
        # span count = maximal runs of removed indices
        spans = sum(
            1 for i in sorted(rem) if i - 1 not in rem
        )
        out[d] = (
            t if not rem else " ".join(kept),
            len(ws),
            len(rem),
            spans,
        )
    return out


def test_exact_substring_dedup_matches_python_oracle(spark):
    from ocr_spark.operators.curation import exact_substring_dedup

    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, f"intro one two {shared} outro A"),
        (2, f"different start {shared} and a different end"),
        (3, "no duplication here at all whatsoever truly"),
        (4, f"{shared} {shared} internal repeat tail"),
        (5, ""),
        (6, None),
        (7, "short doc"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_words"], r["n_removed"], r["n_dup_spans"])
        for r in exact_substring_dedup(docs, min_words=4).collect()
    }
    want = _py_exact_substr([(d, t) for d, t in rows], 4)
    assert got == want
    # doc 1 (lexicographically first occurrences) keeps its text verbatim
    assert got[1][0] == rows[0][1]
    assert got[1][2] == 0
    # doc 2 lost the shared block
    assert shared not in got[2][0]
    assert got[3] == (rows[2][1], 7, 0, 0)


def test_exact_substring_dedup_keeps_first_occurrence(spark):
    from ocr_spark.operators.curation import exact_substring_dedup

    rows = [(1, "a b c d tail one"), (2, "a b c d tail two")]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_removed"])
        for r in exact_substring_dedup(docs, min_words=4).collect()
    }
    want = _py_exact_substr(rows, 4)
    assert got == {d: (t, nr) for d, (t, _, nr, _) in want.items()}
    # the shared 5-word prefix survives only in the first doc
    assert got[1] == (rows[0][1], 0) and got[2][0] == "two"


def test_exact_substring_dedup_overlap_merges_to_one_span(spark):
    from ocr_spark.operators.curation import exact_substring_dedup

    # the shared run is 6 words, window 4: three overlapping windows in
    # doc 2 must union into ONE maximal removed span
    rows = [
        (1, "p q r s t u one"),
        (2, "two p q r s t u"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_removed"], r["n_dup_spans"])
        for r in exact_substring_dedup(docs, min_words=4).collect()
    }
    assert got[1] == ("p q r s t u one", 0, 0)
    assert got[2] == ("two", 6, 1)


def test_exact_substring_dedup_untouched_doc_keeps_exact_whitespace(spark):
    from ocr_spark.operators.curation import exact_substring_dedup

    rows = [(1, "  weird\t spacing \n preserved here ok  ")]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    got = exact_substring_dedup(docs, min_words=3).collect()[0]
    assert got["text"] == rows[0][1]


def test_exact_substring_dedup_plan_shape(spark):
    from ocr_spark.operators.curation import exact_substring_dedup

    docs = spark.range(300).select(
        F.col("id").cast("int").alias("doc_id"),
        F.concat(
            F.lit("w" ), (F.col("id") % 7).cast("string"),
            F.lit(" common block of words here tail "),
            F.col("id").cast("string"),
        ).alias("text"),
    )
    out = exact_substring_dedup(docs, min_words=4)
    plan = plan_text(out)
    # keeper selection is an aggregation, never a window over the key
    assert "Window" not in plan
    # no global sort anywhere (interval merge is a row-local fold)
    assert "Exchange rangepartitioning" not in plan
    out.write.format("noop").mode("overwrite").save()


def test_exact_substring_dedup_validation(spark):
    import pytest as _pytest

    from ocr_spark.operators.curation import exact_substring_dedup

    docs = spark.createDataFrame([(1, "a b")], "doc_id int, text string")
    with _pytest.raises(ValueError):
        exact_substring_dedup(docs, min_words=1)
