"""Hashing-trick linear text classifier scoring (fastText-style filters).

Modern web-corpus pipelines gate documents with a cheap linear classifier
over hashed bag-of-words features (CCNet's fastText LID + quality heads,
DCLM's fastText filter, FineWeb-Edu's scorer). The reference repo applies
per-document quality judgments in its analyze step
(/root/reference/src/analyze_image.py:141-162, per-item accept/reject);
at corpus scale the analogous cheap gate is this scorer.

Model = (weights[n_buckets], bias). A word contributes the weight of its
hash bucket; the document logit is the mean contribution plus bias, and
the score is the logistic of the logit — exactly fastText's mean-pooled
unigram architecture with the hashing trick, minus the softmax (binary
head).

Scale design — two forms, equivalence-tested; neither runs per-row Python:

* :func:`classifier_score`: the weight vector is ONE constant array
  literal, built from one string
  (:func:`ocr_spark.functions.vectors.double_array_literal`, a handful of
  driver calls at any model size), and scoring is a row-local fold: zero
  shuffles. The gate and jobs/select_job.py run it; a quality gate is
  this score plus one ``score >= threshold`` filter, written inline by the
  caller. The md5 bucket hash is engine-portable, so the DuckDB oracle
  mirrors it digit-by-digit (same trick as mixing.portable_uniform).
  Every action still pays for the folded literal on the driver (a
  one-row action takes about 1.9 s at 2^18 buckets, 1 s at 2^16), and
  the fold runs interpreted (``aggregate`` has no codegen), so on the
  ``classify`` scaling leg it is slower and scales worse than the joined
  form.
* :func:`classifier_score_joined`: for large models (the ``classify``
  scaling leg runs it at 2^18 buckets) — repartition the RAW docs by id
  (pinned; HashPartitioning(id) satisfies the downstream groupBy, so the
  exploded word stream never shuffles — the curation.repetition_stats
  pattern), posexplode words, broadcast-join the (bucket, weight) table,
  sum back per doc. One broadcast, zero wide shuffles. It is not used
  inside select_job: there it raised curate_select_mix's write_amp past
  its bound (BENCH/BASELINE.md).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_spark.functions.vectors import double_array_literal
from ocr_spark.operators.curation import _pinned_partitions, words_column


def word_bucket(word: Column, n_buckets: int, seed: int = 0) -> Column:
    """Hash bucket of one word: first 8 hex chars of md5(seed || '|' || word)
    as an integer, mod ``n_buckets``. Portable to any engine with md5 —
    DuckDB recomputes it digit-by-digit (strpos over the hex alphabet),
    the same trick as :func:`ocr_spark.operators.mixing.portable_uniform`."""
    h8 = F.substring(F.md5(F.concat_ws("|", F.lit(str(seed)), word)), 1, 8)
    return F.pmod(F.conv(h8, 16, 10).cast("long"), F.lit(n_buckets)).cast("int")


def make_seeded_weights(n_buckets: int, seed: int = 1) -> list[float]:
    """Deterministic pseudo-random weight vector in [-1, 1) — the stand-in
    for a trained model in tests and gates (the same role the seeded dummy
    embedder plays for T14, operators/embed.py). Derivation matches the
    engine-side bucket hash family (md5 first-8-hex) so any engine — or the
    oracle — can regenerate it from (n_buckets, seed) alone."""
    out = []
    for i in range(n_buckets):
        h8 = hashlib.md5(f"{seed}|{i}".encode()).hexdigest()[:8]
        out.append(round(int(h8, 16) / 16**8 * 2.0 - 1.0, 6))
    return out


def classifier_score(
    docs: DataFrame,
    weights: list[float],
    bias: float = 0.0,
    text_col: str = "text",
    seed: int = 0,
    score_col: str = "score",
) -> DataFrame:
    """Score every document with the literal-array path (see module doc).

    Adds ``n_words`` and ``score_col`` (logistic of the mean bucket-weight
    logit). An empty/whitespace-only document scores ``sigmoid(bias)``.

    The word array is materialized as a real column BEFORE being used twice
    (fold input + size): referencing the raw expression twice would run the
    regexp split twice per row (no CSE across the uses)."""
    n_buckets = len(weights)
    if n_buckets < 1:
        raise ValueError("classifier needs at least one weight bucket")
    warr = double_array_literal(weights)
    with_words = docs.withColumn("__words", words_column(text_col))
    # fold input is the materialized column; the lambda body touches only
    # its element + the literal array (cheap, constant) — not the expensive
    # split expression, so the lambda re-inlining pitfall does not apply
    wsum = F.aggregate(
        F.col("__words"),
        F.lit(0.0),
        lambda acc, w: acc
        + F.element_at(warr, word_bucket(w, n_buckets, seed) + 1),
    )
    n = F.size("__words")
    logit = F.lit(float(bias)) + F.when(n > 0, wsum / n).otherwise(F.lit(0.0))
    return (
        with_words.withColumn("n_words", n)
        .withColumn(score_col, F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)))
        .drop("__words")
    )


def classifier_score_joined(
    docs: DataFrame,
    weights_df: DataFrame,
    bias: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
    score_col: str = "score",
) -> DataFrame:
    """Score via a broadcast (bucket, weight) table — the million-bucket
    path. ``weights_df`` must have columns ``bucket`` (int) and ``weight``
    (double); its row count is taken as ``n_buckets`` (dense 0..n-1).

    Plan shape: one pinned repartition of the RAW docs on ``id_col``
    (REPARTITION_BY_NUM — AQE cannot coalesce it below cores even though
    the next stage explodes), then posexplode + broadcast join + two
    id-keyed aggregations that reuse the established HashPartitioning —
    the exploded word stream itself never shuffles. Missing buckets (a
    sparse model) contribute weight 0 via the left join."""
    n_buckets = weights_df.count()  # bounded: model size, not data size
    if n_buckets < 1:
        raise ValueError("classifier needs at least one weight bucket")
    pinned = docs.repartition(_pinned_partitions(docs), id_col)
    words = pinned.select(
        id_col, F.explode_outer(words_column(text_col)).alias("__w")
    )
    contrib = words.join(
        F.broadcast(weights_df),
        word_bucket(F.col("__w"), n_buckets, seed) == F.col("bucket"),
        "left",
    )
    per_doc = contrib.groupBy(id_col).agg(
        F.count("__w").alias("n_words"),
        F.sum(F.coalesce("weight", F.lit(0.0))).alias("__wsum"),
    )
    logit = F.lit(float(bias)) + F.when(
        F.col("n_words") > 0, F.col("__wsum") / F.col("n_words")
    ).otherwise(F.lit(0.0))
    scored = per_doc.withColumn(
        score_col, F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
    ).drop("__wsum")
    return pinned.join(scored, id_col)
