"""Trainable language identification: hashed char-n-gram naive Bayes.

CCNet's pipeline (Wenzek et al. 2020 §4.2) gates every document through a
fastText language classifier before dedup and LM filtering; this module is
that stage's engine-native twin, completing the CCNet triple alongside
:mod:`ocr_spark.operators.dedup` and ``curation.lm_cross_entropy``. The
existing :func:`ocr_spark.functions.textstats.detect_language` is a fixed
two-script heuristic; this one is TRAINED — fit per-language character
n-gram distributions from any labeled seed corpus, then score and argmax.
fastText's architecture (char n-gram hash buckets -> linear layer) reduces
to exactly this under a naive-Bayes objective, so the plan shapes carry
over to a distilled real model's weights unchanged.

Scale design (the classify/dsir playbook):

* **Features are row-local**: lowercased char n-grams hashed into
  ``n_buckets`` md5 buckets (engine-portable — the DuckDB oracle replays
  every bucket digit-by-digit). The n-gram build slides ``Column.substr``
  over the string — no split, no array materialization beyond the gram
  list itself.
* **Fit never moves data**: one map-side-combined ``groupBy(lang,
  bucket)`` count; the shuffle carries at most ``n_langs x n_buckets``
  partial rows per task, and the fitted model is model-sized by
  construction. Smoothing is add-k over the CLOSED bucket space (hashing
  makes the vocabulary finite — the dsir argument), plus a doc-count
  class prior.
* **Scoring is the pinned-join shape**: REPARTITION_BY_NUM on the doc id
  before the gram explode, broadcast model join on ``bucket`` (fans each
  feature out to ``n_langs`` rows — bounded by the language inventory,
  ~10-200 at web scale), then per-(doc, lang) and per-doc aggregations
  that BOTH reuse the pinned HashPartitioning (their keys contain the
  id) — the exploded stream never shuffles.
* **Argmax is an aggregation**, never a window: ``max(struct(score,
  ...))`` with the score rounded to ``tie_dp`` decimals first and ties
  broken by language id ascending — float-sum order across engines (or
  partitionings) must not flip the winner.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_spark.operators.classify import word_bucket
from ocr_spark.operators.curation import _pinned_partitions


def _bucket_of(gram: Column, n_buckets: int, seed: int, hash_family: str) -> Column:
    """``md5`` = the engine-portable family (DuckDB replays it digit by
    digit — required by every oracle-backed gate) at ~10-20x the compute:
    the hex string, substring and base-16 parse allocate per gram.
    ``xxhash`` = the JVM-native scale family (one long, zero string
    allocations) — measured ~17us -> <1us per gram on the 500k corpus;
    use it for production-scale scoring where no SQL twin is needed. Fit
    and score MUST use the same family (the model is keyed by bucket)."""
    if hash_family == "md5":
        return word_bucket(gram, n_buckets, seed)
    if hash_family == "xxhash":
        return F.pmod(F.xxhash64(F.lit(seed), gram), F.lit(n_buckets)).cast("int")
    raise ValueError(f"unknown hash_family: {hash_family!r} (md5|xxhash)")


def _char_grams(t: Column, n: int) -> Column:
    """Array of the ``n``-code-point substrings of ``t``, built in
    O(n·len) per row: one ``split`` into a char array plus ``n-1``
    ``zip_with`` folds against argument-level shifted ``slice``\\ s.

    The obvious sliding form — ``transform(sequence(1, len-n+1),
    i -> t.substr(i, n))`` — is **O(len²) per document**:
    ``UTF8String.substring`` walks from byte 0 to locate the ``i``-th
    code point on every call, and a corpus ``Σ len²`` is dominated by
    its heaviest documents (a 500 KB doc alone cost ~20 CPU-minutes in
    ONE task of the r5 langid scaling leg — thread-dumped straggling in
    ``UTF8String.substring``). Array ARGUMENTS of ``zip_with``/
    ``transform``/``filter`` are evaluated once per row; only lambda
    bodies get re-inlined (the no-CSE pitfall), and these lambdas touch
    nothing but their own element vars.

    ``zip_with`` pads the shorter (shifted) side with null and
    ``concat`` null-propagates, so the trailing ``n-1`` entries are null
    padding — a real gram (concat of non-null single chars) is never
    null, so ``filter(isNotNull)`` trims exactly the padding. The
    ``length >= n`` guard covers ``n == 1`` over empty text, where
    ``split('', '') == ['']`` would otherwise emit one empty gram.
    Equality with the sliding-substr form (incl. astral plane, combining
    accents, NULs, zero-width chars) is pinned by
    ``test_char_grams_match_sliding_substr``."""
    chars = F.split(t, "")
    g = chars
    for j in range(1, n):
        shifted = F.slice(chars, j + 1, F.greatest(F.size(chars) - j, F.lit(0)))
        g = F.zip_with(g, shifted, lambda a, b: F.concat(a, b))
    grams = F.filter(g, lambda x: x.isNotNull())
    return F.when(F.length(t) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def _grams_of(t: Column, n_buckets: int, n: int, seed: int, hash_family: str = "md5") -> Column:
    """Array of the hash buckets of ``t``'s char ``n``-grams — the one
    gram build under both :func:`langid_fit` and :func:`langid_scores`."""
    if n < 1:
        raise ValueError("n must be >= 1")
    return F.transform(
        _char_grams(t, n),
        lambda gram: _bucket_of(gram, n_buckets, seed, hash_family),
    )


def _gram_stream(
    docs: DataFrame,
    n_buckets: int,
    n: int,
    seed: int,
    text_col: str,
    id_cols: tuple[str, ...],
    hash_family: str = "md5",
) -> DataFrame:
    # materialize the folded text as a REAL column before the gram
    # arguments touch it (one fold per row), using the PORTABLE fold —
    # engine lower() tables drift across Unicode versions and the gram
    # bytes feed value-exact md5 bucket oracles (uniconst contract)
    from ocr_spark.functions.textstats import fold_lower

    prepared = docs.select(*id_cols, fold_lower(text_col).alias("__t"))
    grams = _grams_of(F.col("__t"), n_buckets, n, seed, hash_family)
    return (
        prepared.select(*id_cols, grams.alias("__bs"))
        .select(*id_cols, F.explode_outer("__bs").alias("bucket"))
        .filter(F.col("bucket").isNotNull())
    )


def langid_fit(
    labeled: DataFrame,
    n_buckets: int,
    n: int = 3,
    seed: int = 0,
    add_k: float = 0.5,
    text_col: str = "text",
    lang_col: str = "lang",
    hash_family: str = "md5",
) -> DataFrame:
    """Fit the per-language model from ``(lang, text)`` rows: one row per
    ``(lang, bucket)`` over the FULL dense bucket range with
    ``logp = log (c + k) / (total_lang + k*n_buckets)`` plus a per-lang
    ``prior = log (docs_lang / docs_total)``. Model-sized (``n_langs x
    n_buckets`` rows) by construction; localCheckpoint'd because it is
    about to be broadcast and re-deriving it per action would re-scan the
    seed corpus."""
    if add_k <= 0:
        raise ValueError("add_k must be > 0 (smoothing over a closed space)")
    spark = labeled.sparkSession
    stream = _gram_stream(
        labeled, n_buckets, n, seed, text_col, (lang_col,), hash_family
    )
    counts = stream.groupBy(lang_col, "bucket").agg(F.count("*").alias("__c"))
    # per-language totals + doc-count priors: model-sized aggregations
    totals = counts.groupBy(lang_col).agg(F.sum("__c").alias("__t"))
    ndocs = labeled.groupBy(lang_col).agg(F.count("*").alias("__nd"))
    priors = ndocs.crossJoin(ndocs.agg(F.sum("__nd").alias("__td"))).select(
        lang_col, F.log(F.col("__nd") / F.col("__td")).alias("prior")
    )
    dense = spark.range(n_buckets).select(
        F.col("id").cast("int").alias("bucket")
    )
    # LEFT join totals: a language whose whole fit slice yields zero grams
    # (every text shorter than n chars) must still get its prior row and
    # the uniform smoothed model logp = ln(add_k / (0 + add_k*n_buckets)),
    # not silently vanish from the model ('every document scores every
    # language' — the r4 advisor finding; the SQL oracle cross-joins ALL
    # languages, so an inner join here diverges on degenerate slices).
    grid = (
        priors.join(totals, lang_col, "left")
        .withColumn("__t", F.coalesce("__t", F.lit(0)))
        .crossJoin(dense)
    )
    model = (
        grid.join(counts, [lang_col, "bucket"], "left")
        .select(
            lang_col,
            "bucket",
            "prior",
            F.log(
                (F.coalesce("__c", F.lit(0)) + F.lit(float(add_k)))
                / (F.col("__t") + F.lit(float(add_k) * n_buckets))
            ).alias("logp"),
        )
        .localCheckpoint()
    )
    return model


def langid_scores(
    docs: DataFrame,
    model: DataFrame,
    n_buckets: int,
    n: int = 3,
    seed: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    hash_family: str = "md5",
) -> DataFrame:
    """Per-(doc, language) naive-Bayes log-score: ``(id_col, lang,
    n_grams, score)`` where ``score = prior + sum logp(bucket)`` over the
    doc's gram occurrences. Every document scores every language
    (featureless docs score the bare priors). Plan: pinned doc
    repartition -> row-local gram explode -> broadcast model join -> ONE
    (id, lang) aggregation that reuses the pinned HashPartitioning
    (every gram matches every language in the dense model, so any doc
    with >=1 gram already has all language rows) -> broadcast prior join.
    Featureless docs are detected by a row-local length test — never an
    anti/outer join back onto the corpus (a (doc, lang)-keyed join would
    re-shuffle BOTH sides: EnsureRequirements co-partitions sort-merge
    children on the full key set even when each side is id-clustered).
    The priors come from the model's bucket-0 slice — a filter, not a
    distinct (a distinct would add a model-sized but key-foreign
    exchange)."""
    pinned = docs.repartition(_pinned_partitions(docs), id_col)
    stream = _gram_stream(
        pinned, n_buckets, n, seed, text_col, (id_col,), hash_family
    )
    per_lang = (
        stream.join(F.broadcast(model.select(lang_col, "bucket", "logp")), "bucket")
        .groupBy(id_col, lang_col)
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum("logp").alias("__ll"),
        )
    )
    priors = model.filter(F.col("bucket") == 0).select(lang_col, "prior")
    scored = per_lang.join(F.broadcast(priors), lang_col).select(
        id_col,
        lang_col,
        "n_grams",
        (F.col("prior") + F.col("__ll")).alias("score"),
    )
    # featureless ⟺ the text is shorter than one gram. The portable fold
    # is 1:1 by construction (fold_lower docstring), so the raw length IS
    # the folded length — no second fold pass needed here (the engine
    # lower() this replaced could expand char counts, e.g. U+0130 → 1:2
    # in Java, which is exactly the drift the frozen fold excludes).
    lowered_len = F.length(F.coalesce(F.col(text_col), F.lit("")))
    empty = (
        pinned.filter(lowered_len < F.lit(n))
        .select(id_col)
        .crossJoin(F.broadcast(priors))
        .select(
            id_col,
            lang_col,
            F.lit(0).cast("long").alias("n_grams"),
            F.col("prior").alias("score"),
        )
    )
    return scored.unionByName(empty)


def langid_predict(
    scores: DataFrame,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    tie_dp: int = 6,
) -> DataFrame:
    """Argmax over :func:`langid_scores` output: ``(id_col, lang,
    score)`` with the winning language per doc. One map-side-combined
    ``max(struct(...))`` aggregation — never a window. The score is
    rounded to ``tie_dp`` decimals for the comparison (float-sum order
    must not pick the winner) and exact ties break to the
    lexicographically SMALLEST language, deterministically in any engine:
    the struct max takes the reversed-byte language key."""
    # min(struct(-rounded_score, lang, raw)): the negated score makes the
    # struct-min pick the LARGEST score, and on exact rounded ties the
    # second field breaks to the smallest language — no window, one
    # map-side-combined aggregation
    pick = F.min(
        F.struct(
            (-F.round("score", tie_dp)).alias("ns"),
            F.col(lang_col).alias("l"),
            F.col("score").alias("s"),
        )
    ).alias("w")
    return (
        scores.groupBy(id_col)
        .agg(pick)
        .select(
            id_col,
            F.col("w.l").alias(lang_col),
            F.col("w.s").alias("score"),
        )
    )
