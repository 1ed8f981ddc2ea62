"""Training-mix assembly operators: eval-set decontamination and
deterministic weighted corpus sampling.

The last two steps a pretraining pipeline runs after extraction
(operators/extract, operators/boilerplate), curation (operators/curation)
and dedup (operators/dedup): remove documents that leak the eval benchmark
(Brown et al. 2020 "Language Models are Few-Shot Learners", Appendix C —
13-gram overlap decontamination), then assemble the final mix by sampling
each source/domain at a target weight, possibly > 1 (upsampling by integer
repetition + a fractional Bernoulli copy — the Pile/DoReMi-style epoch
weighting, Gao et al. 2021 §1).

The reference repo draws its corpus from a single curated exam-PDF source
(/root/reference/run_pipeline.sh:118-160 — one directory, one subject
grade at a time), so contamination control and mixing are implicit; these
operators are the corpus-level generalization the north star's
10^12-document interleaved table needs.

Scale design:
  * the benchmark n-gram set is DISTINCT'd and broadcast — eval suites are
    10^6..10^7 grams, far under the broadcast ceiling; training-side grams
    meet it in a map-side broadcast join, so the exploded training gram
    stream NEVER shuffles (the post-join matched stream that does reach the
    per-doc aggregation is contamination-selective, orders of magnitude
    smaller than the corpus);
  * per-document totals (n_grams) come from a native size() expression on
    the raw row — the gram array is never exploded for counting;
  * weighted sampling is a pure per-row native expression over a portable
    md5-derived uniform (no sampling state, no shuffle): the mix decision
    for a row is reproducible from (seed, id) alone, so resumed/retried
    partitions make identical decisions (the F1/F2 idempotency contract);
    upsampled copies materialize through posexplode of a bounded
    sequence — weights are validated against a hard cap first;
  * the per-stratum weight table is a broadcast join (tens..thousands of
    sources), never a literal-map expression (the IVF plan-literal lesson,
    operators/similarity.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_spark.operators.curation import _ngrams, words_column

_MAX_WEIGHT = 64.0  # hard upsampling cap: explode width is bounded by design


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_overlaps: int = 1,
) -> DataFrame:
    """Flag training documents sharing word n-grams with an eval benchmark.

    GPT-3-style decontamination (Brown et al. 2020, Appendix C): a training
    document is contaminated when it shares >= ``min_overlaps`` DISTINCT
    lowercased word ``n``-grams with any benchmark document. Returns one row
    per ``docs`` row: ``(id_col, n_grams, n_contaminated, keep)`` where
    ``n_grams`` counts the document's grams, ``n_contaminated`` its distinct
    benchmark-overlapping grams, and ``keep = n_contaminated <
    min_overlaps``. Short documents (< n words) have zero grams and are
    always kept.

    Plan shape: benchmark grams -> distinct -> broadcast; training grams
    array_distinct'd PER ROW then explode_outer -> broadcast INNER join
    (map-side, nothing shuffles until after the selective join) -> per-doc
    count -> left join back onto native per-doc totals. A document's grams
    all come from ONE input row, so the row-local array_distinct makes the
    exploded stream doc-locally distinct already: the per-doc aggregation
    is a plain count with map-side combine (one partial row per doc, a
    few bytes) instead of a count_distinct whose (doc, gram) pre-distinct
    shuffled the full matched gram text (~600 MB at 500k docs, measured).

    The benchmark side is always broadcast: eval suites are typically
    10^6..10^7 distinct grams, far under the build ceiling.
    """
    # portable fold, not engine lower(): gram text is a value-exact gate
    # surface and the engines' case tables drift (uniconst contract)
    from ocr_spark.functions.textstats import fold_lower

    words = words_column(fold_lower(F.col(text_col)))

    bench_grams = (
        benchmark.select(words.alias("__w"))
        .select(F.explode_outer(F.array_distinct(_ngrams(F.col("__w"), n))).alias("gram"))
        .filter(F.col("gram").isNotNull())
        .distinct()
    )

    doc_grams = docs.select(
        F.col(id_col), words.alias("__w")
    ).select(
        id_col, F.explode_outer(F.array_distinct(_ngrams(F.col("__w"), n))).alias("gram")
    ).filter(F.col("gram").isNotNull())

    matched = (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_contaminated"))
    )

    totals = docs.select(
        F.col(id_col),
        F.greatest(F.size(words) - (n - 1), F.lit(0)).cast("int").alias("n_grams"),
    )
    return totals.join(matched, id_col, "left").select(
        id_col,
        "n_grams",
        F.coalesce("n_contaminated", F.lit(0)).cast("int").alias("n_contaminated"),
        (F.coalesce("n_contaminated", F.lit(0)) < min_overlaps).alias("keep"),
    )


def portable_uniform(id_col: Column | str, seed: int = 0) -> Column:
    """Deterministic uniform in [0, 1) from (seed, id), portable to any
    engine with md5: first 8 hex chars of md5(seed || '|' || id) as an
    integer, divided by 16^8. DuckDB recomputes it digit-by-digit (strpos
    over the hex alphabet) — same trick as the SimHash oracle
    (operators/dedup.simhash_signatures).

    32 bits of uniformity is plenty for mix rates; the value is exact in a
    double (< 2^53), so Spark and the oracle agree bit-for-bit."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h8 = F.substring(F.md5(F.concat_ws("|", F.lit(str(seed)), c.cast("string"))), 1, 8)
    return F.conv(h8, 16, 10).cast("double") / F.lit(float(16**8))


def split_corpus(
    docs: DataFrame,
    fractions: dict[str, float] | None = None,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic holdout split: adds a ``split`` label column.

    ``fractions`` maps label -> fraction (must sum to 1 within 1e-9);
    default ``{"train": 0.98, "val": 0.01, "test": 0.01}``. A document's
    label is decided by where its portable uniform falls in the cumulative
    fraction ladder — row-local, no shuffle, reproducible from (seed, id)
    alone, and stable under corpus growth: adding documents never moves an
    existing document between splits (the property random-number splits
    lack), so eval holdouts stay fixed across ingest increments.

    Labels are laddered in SORTED order so the assignment is a pure
    function of (fractions, seed, id), not of dict insertion order.
    """
    if fractions is None:
        fractions = {"train": 0.98, "val": 0.01, "test": 0.01}
    # inverted comparisons so NaN fails validation (NaN compares False)
    if not fractions or not all(f >= 0 for f in fractions.values()):
        raise ValueError(f"fractions must be non-negative: {fractions}")
    total = sum(fractions.values())
    if not (abs(total - 1.0) <= 1e-9):
        raise ValueError(f"fractions must sum to 1, got {total}: {fractions}")

    u = portable_uniform(id_col, seed)
    expr = None
    cum = 0.0
    labels = sorted(fractions)
    for label in labels[:-1]:
        cum += fractions[label]
        cond, val = u < F.lit(cum), F.lit(label)
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    # the last label takes the remainder (avoids FP-edge unassigned rows)
    expr = F.lit(labels[-1]) if expr is None else expr.otherwise(F.lit(labels[-1]))
    return docs.withColumn("split", expr)


def pack_sequences(
    docs: DataFrame,
    capacity: int,
    n_shards: int = 1024,
    token_col: Column | str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-budget sequence packing: the concat-and-chunk step between a
    curated corpus and tokenization — documents are laid out in a
    deterministic order and cut into training sequences of ``capacity``
    tokens (the standard greedy packing; a document straddling a boundary
    belongs to the pack where it STARTS). Returns
    ``(id_col, shard, pack_id, n_tokens, offset_in_pack)``.

    Layout: a document's shard is ``doc_id % n_shards`` (deterministic,
    growth-stable for appended id ranges); within a shard documents pack
    in ``id_col`` order by running token count, ``pack_id = floor(
    tokens_before / capacity)`` — so packs are reproducible from
    (capacity, n_shards) alone, independent of cluster size or partition
    layout (the property a parallel first-fit packer lacks).

    Scale: the running sum is a window PARTITIONED BY SHARD — one task
    per shard, evaluated as a streaming running-total frame (no per-task
    materialization beyond the sort). ``n_shards`` is therefore the
    PARALLELISM KNOB, exactly as in production packers (shard-parallel,
    sequential within shard): size it to tasks ≫ cores, and keep shards
    small enough that a shard's rows sort within an executor (at 10¹²
    docs use 10⁵–10⁶ shards, not the default). This is the one operator
    family where a window is the honest tool — the skew-bomb rule
    (CLAUDE.md) is about VALUE-keyed windows; shard keys are uniform by
    construction.
    """
    tokens = (
        F.col(token_col) if isinstance(token_col, str)
        else token_col if token_col is not None
        else F.size(words_column(text_col))
    )
    from pyspark.sql import Window
    from pyspark.sql.types import NumericType

    # pmod over a string id would implicitly cast to NULL, collapsing the
    # whole corpus into one NULL-shard window partition — the exact skew
    # bomb the docstring warns about.  Numeric ids keep the documented
    # growth-stable doc_id % n_shards layout; string ids shard by xxhash64
    # (deterministic, uniform) instead of erroring.
    shard_src = (
        F.col(id_col)
        if isinstance(docs.schema[id_col].dataType, NumericType)
        else F.xxhash64(F.col(id_col))
    )
    shard = F.pmod(shard_src, F.lit(n_shards)).cast("int")
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = docs.select(
        F.col(id_col), shard.alias("shard"), tokens.cast("long").alias("n_tokens")
    )
    cum = base.withColumn("__cum", F.sum("n_tokens").over(w))
    before = F.col("__cum") - F.col("n_tokens")
    return cum.select(
        id_col,
        "shard",
        F.floor(before / capacity).cast("int").alias("pack_id"),
        "n_tokens",
        F.pmod(before, F.lit(capacity)).cast("int").alias("offset_in_pack"),
    )


def weighted_sample(
    docs: DataFrame,
    weights: DataFrame,
    strat_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 0,
    default_weight: float = 1.0,
) -> DataFrame:
    """Assemble a training mix by per-stratum target weights.

    ``weights`` is a small DataFrame ``(strat_col, weight)``; a stratum's
    documents are emitted ``floor(weight)`` times plus one more copy with
    probability ``frac(weight)``, decided by the portable per-document
    uniform — so ``weight=0.25`` keeps a quarter of the stratum,
    ``weight=2.5`` emits every document twice and half of them a third
    time (epoch-style upsampling). Strata absent from ``weights`` get
    ``default_weight``. Output: the input columns plus ``copy`` (int,
    0-based repetition index); deterministic in (seed, id).

    The weight table is broadcast-joined (never a literal map expression);
    the copy fan-out is a posexplode of a bounded sequence — weights above
    a hard cap (64) raise, keeping the explode width a design constant
    rather than a data-dependent hazard.
    """
    w_rows = weights.select(strat_col, "weight").collect()
    bad = [r for r in w_rows if r["weight"] < 0 or r["weight"] > _MAX_WEIGHT]
    if bad or not (0 <= default_weight <= _MAX_WEIGHT):
        raise ValueError(
            f"weights must be in [0, {_MAX_WEIGHT}]: "
            f"{bad or [('default', default_weight)]}"
        )

    u = portable_uniform(id_col, seed)
    w = F.coalesce(F.col("weight"), F.lit(float(default_weight)))
    n_copies = (
        F.floor(w).cast("int")
        + F.when(u < (w - F.floor(w)), F.lit(1)).otherwise(F.lit(0))
    )
    with_n = docs.join(F.broadcast(weights.select(strat_col, "weight")), strat_col, "left").withColumn(
        "__n", n_copies
    )
    # sequence(0, -1) would step DOWNWARD ([0, -1]) — guard n == 0
    copies = F.when(
        F.col("__n") >= 1, F.sequence(F.lit(0), F.col("__n") - 1)
    ).otherwise(F.array().cast("array<int>"))
    out_cols = [c for c in docs.columns]
    return (
        with_n.select(*out_cols, F.explode(copies).alias("copy"))
    )
