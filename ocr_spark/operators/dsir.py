"""DSIR data selection: hashed n-gram importance resampling.

DSIR (Xie et al. 2023, "Data Selection for Language Models via Importance
Resampling", arXiv:2302.03169) picks pretraining documents that LOOK LIKE a
small target corpus: fit two bag-of-hashed-ngrams models — one on the
target, one on the raw pool — score every raw document with the
log-likelihood ratio of its features, and resample by Gumbel-top-k over the
scores. It is the distribution-matching complement to the absolute-quality
gates (operators/classify, curation.lm_quality): a classifier asks "is this
document good", DSIR asks "is this document shaped like the data I want".
The reference pipeline hand-curates its corpus to one exam-PDF domain
(/root/reference/run_pipeline.sh:118-160); DSIR is how the north star's
10^12-document pool gets focused onto such a domain without hand-curation.

Scale design — every stage is a shape this repo already measures:

* **Feature hashing is row-local.** A document's features are its word
  unigrams + bigrams hashed into ``n_buckets`` md5 buckets
  (classify.word_bucket — engine-portable, so the DuckDB oracle recomputes
  every bucket digit-by-digit). The gram arrays come from curation._ngrams
  over a MATERIALIZED words column (the no-CSE-in-lambdas pitfall).
* **Model fit never moves data.** Each corpus contributes ONE map-side
  combined groupBy(bucket) count; the shuffle carries at most
  ``n_buckets`` partial rows per task, and the fitted log-ratio table is
  model-sized (``n_buckets`` rows) by construction.
* **Scoring is the classify joined shape.** Pinned REPARTITION_BY_NUM on
  the doc id (AQE-coalesce-proof before an exploding stage), posexplode of
  the bucket stream, broadcast join against the log-ratio table, and an
  id-keyed sum that reuses the established HashPartitioning — the exploded
  feature stream itself never shuffles.
* **Resampling is a heap, not a sort.** Gumbel-top-k = one
  TakeOrderedAndProject over ``log_w + gumbel(portable_uniform(id))`` —
  per-partition k-heaps + driver merge, deterministic in (seed, id), no
  global sort. For production-sized k (selecting 10^9 of 10^12) use
  :func:`dsir_sample_fraction` instead: a row-local Bernoulli thinning by
  the sigmoid-calibrated weight — no top-k state at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_spark.operators.classify import word_bucket
from ocr_spark.operators.curation import _ngrams, _pinned_partitions, words_column


def gram_bucket_stream(
    docs: DataFrame,
    n_buckets: int,
    ns: tuple[int, ...] = (1, 2),
    seed: int = 0,
    text_col: str = "text",
    id_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One row per (doc, feature occurrence): ``id_cols`` + ``bucket``.

    Features are the document's order-``n`` word grams for every ``n`` in
    ``ns`` (DSIR's default unigram+bigram), hashed with the md5 bucket
    family. The words array is materialized as a real column before the
    gram lambdas touch it; the concatenated gram array is provably non-empty
    only for long docs, so ``explode_outer`` + null-filter keeps the
    optimizer from re-inlining the gram expression under an inferred
    size()>0 filter (the dedup/boilerplate pitfall)."""
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    if not ns or any(n < 1 for n in ns):
        raise ValueError(f"ns must be positive gram orders: {ns}")
    with_words = docs.withColumn("__words", words_column(text_col))
    grams = F.concat(*[_ngrams(F.col("__words"), n) for n in ns])
    exploded = with_words.select(
        *id_cols, F.explode_outer(grams).alias("__gram")
    ).filter(F.col("__gram").isNotNull())
    return exploded.select(
        *id_cols,
        word_bucket(F.col("__gram"), n_buckets, seed).alias("bucket"),
    )


def bucket_counts(
    docs: DataFrame,
    n_buckets: int,
    ns: tuple[int, ...] = (1, 2),
    seed: int = 0,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide hashed-feature counts: ``(bucket, c)``. One map-side
    combined aggregation; the shuffle carries at most ``n_buckets`` partial
    rows per task (model-sized, never data-sized)."""
    return (
        gram_bucket_stream(docs, n_buckets, ns, seed, text_col)
        .groupBy("bucket")
        .agg(F.count("*").alias("c"))
    )


def dsir_log_ratios(
    target: DataFrame,
    raw: DataFrame,
    n_buckets: int,
    ns: tuple[int, ...] = (1, 2),
    seed: int = 0,
    add_k: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """The fitted DSIR model: ``(bucket, llr)`` over the FULL dense bucket
    range, where ``llr = log p_target(bucket) - log p_raw(bucket)`` with
    add-``add_k`` smoothing over the closed ``n_buckets``-way feature space
    (hashing makes the vocabulary finite, so no unseen-mass bucket is
    needed — unlike curation.unigram_lm's open vocabulary).

    The two corpus passes aggregate to model-sized tables; the dense range
    comes from a ``spark.range`` left join so never-seen buckets still get
    their smoothed prior. The totals are two 2-scalar collects (bounded by
    contract). The result is localCheckpoint'd: it is about to be broadcast
    into the scoring join, and re-deriving it per downstream action would
    re-run both corpus scans."""
    if add_k <= 0:
        raise ValueError("add_k must be > 0 (smoothing over a closed space)")
    spark = target.sparkSession
    tc = bucket_counts(target, n_buckets, ns, seed, text_col)
    rc = bucket_counts(raw, n_buckets, ns, seed, text_col)
    dense = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    joined = (
        dense.join(tc.withColumnRenamed("c", "__ct"), "bucket", "left")
        .join(rc.withColumnRenamed("c", "__cr"), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("__ct", F.lit(0)).alias("__ct"),
            F.coalesce("__cr", F.lit(0)).alias("__cr"),
        )
        .localCheckpoint()
    )
    totals = joined.agg(
        F.sum("__ct").alias("tt"), F.sum("__cr").alias("tr")
    ).collect()[0]
    t_denom = float(totals["tt"] or 0) + add_k * n_buckets
    r_denom = float(totals["tr"] or 0) + add_k * n_buckets
    llr = F.log((F.col("__ct") + F.lit(float(add_k))) / F.lit(t_denom)) - F.log(
        (F.col("__cr") + F.lit(float(add_k))) / F.lit(r_denom)
    )
    return joined.select("bucket", llr.alias("llr")).localCheckpoint()


def dsir_score(
    docs: DataFrame,
    log_ratios: DataFrame,
    n_buckets: int,
    ns: tuple[int, ...] = (1, 2),
    seed: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document importance log-weight: input columns + ``n_feats`` +
    ``log_w`` (sum of the log-ratio of every feature OCCURRENCE; a
    featureless document scores 0.0 — weight 1, indifferent).

    Plan: pinned repartition on ``id_col`` -> row-local gram/bucket explode
    -> broadcast join against the model -> id-keyed sum reusing the pinned
    HashPartitioning -> join back onto the (equally pinned) raw rows. The
    exploded stream never shuffles; the model is bounded at ``n_buckets``
    rows by contract."""
    pinned = docs.repartition(_pinned_partitions(docs), id_col)
    stream = gram_bucket_stream(
        pinned, n_buckets, ns, seed, text_col, id_cols=(id_col,)
    )
    per_doc = (
        stream.join(F.broadcast(log_ratios), "bucket")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_feats"),
            F.sum("llr").alias("log_w"),
        )
    )
    return pinned.join(per_doc, id_col, "left").select(
        *docs.columns,
        F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
        F.coalesce("log_w", F.lit(0.0)).alias("log_w"),
    )


def gumbel_key(id_col: Column | str, seed: int = 0) -> Column:
    """Standard-Gumbel draw, deterministic in (seed, id) and engine-portable:
    ``-ln(-ln(u))`` over the md5 uniform shifted to the OPEN interval
    (0, 1) — ``u = (h + 0.5) / 16^8`` — because ``u = 0`` would hit
    ``ln(0)`` (NULL in Spark, -inf elsewhere: a silent cross-engine fork)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h8 = F.substring(
        F.md5(F.concat_ws("|", F.lit(str(seed)), c.cast("string"))), 1, 8
    )
    u = (F.conv(h8, 16, 10).cast("double") + F.lit(0.5)) / F.lit(float(16**8))
    return -F.log(-F.log(u))


def dsir_resample(
    scored: DataFrame,
    k: int,
    seed: int = 0,
    id_col: str = "doc_id",
    weight_col: str = "log_w",
) -> DataFrame:
    """Gumbel-top-k sampling WITHOUT replacement from the softmax of the
    importance log-weights (the DSIR selection rule): adds ``gumbel_score =
    log_w + Gumbel(seed, id)`` and keeps the ``k`` largest, ties broken by
    ``id_col`` ascending. Plans as TakeOrderedAndProject — per-partition
    k-heaps, driver merges k rows, no global sort. Bounded-k by contract;
    for corpus-sized selections use :func:`dsir_sample_fraction`."""
    if k < 1:
        raise ValueError("k must be >= 1")
    keyed = scored.withColumn(
        "gumbel_score", F.col(weight_col) + gumbel_key(id_col, seed)
    )
    return keyed.orderBy(F.desc("gumbel_score"), F.col(id_col)).limit(k)


def dsir_sample_fraction(
    scored: DataFrame,
    log_threshold: float,
    temperature: float = 1.0,
    seed: int = 0,
    id_col: str = "doc_id",
    weight_col: str = "log_w",
) -> DataFrame:
    """The corpus-sized selection path: keep each document with probability
    ``sigmoid((log_w - log_threshold) / temperature)`` decided by the
    portable uniform — purely row-local (no top-k state, no shuffle), so a
    10^12-row selection is a filter, not a sort. ``log_threshold`` centers
    the acceptance curve (documents at the threshold keep with p=0.5;
    calibrate it from a score histogram or quantile sketch); adds ``keep``."""
    from ocr_spark.operators.mixing import portable_uniform

    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    p = F.lit(1.0) / (
        F.lit(1.0)
        + F.exp(
            -(F.col(weight_col) - F.lit(float(log_threshold)))
            / F.lit(float(temperature))
        )
    )
    return scored.withColumn("keep", portable_uniform(id_col, seed) < p)
