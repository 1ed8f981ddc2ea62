"""Corpus-curation operators for LLM training-data pipelines.

Gopher-style repetition statistics and quality-rule flags (Rae et al. 2021,
"Scaling Language Models", §A1.1), C4-style cross-document chunk
deduplication (Raffel et al. 2020, §2.2 — "discard repeated spans, keeping
the first occurrence"), per-document unigram token entropy, and PII
redaction — the filters a web-scale pretraining pipeline runs between
extraction (operators/extract, operators/boilerplate) and dedup
(operators/dedup).

The reference repo curates implicitly through its extraction prompts'
completeness rules (/root/reference/src/claude_image_analyzer.py:134-192 —
drop truncated problems, ignore page numbers); these operators are the
explicit, corpus-level generalization the north star's 10^12-document table
needs.

Scale design:
  * every per-document statistic is a native Spark SQL expression
    (whole-stage codegen, no Python);
  * doc-local corpus ops (`repetition_stats`, `token_entropy`) shuffle the
    RAW documents once (repartition by id — one row per doc); every
    aggregation after the explode groups on a superset of the id, so
    HashPartitioning(id) already satisfies it and no exploded token ever
    crosses the network. `chunk_dedup` is genuinely cross-doc and shuffles
    one row per DISTINCT chunk (struct-min with map-side combine);
  * the words/gram arrays are materialized as real columns BEFORE any
    explode and exploded with ``posexplode_outer`` — Catalyst re-inlines
    aliased expressions into inferred ``size()>0`` filters and HOF lambda
    bodies (see operators/dedup.with_shingles' docstring), and the `_outer`
    variants keep the optimizer from inferring that filter at all;
  * no windows at all: `chunk_dedup`'s first-occurrence keeper is a
    struct-min hash aggregate (map-side combined), never a window
    partitioned by the chunk text — duplicated chunks would all land in
    one window task (measured 0.13 N→4N efficiency before the rewrite).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_spark.functions.vectors import double_array_literal


def words_column(text_col: Column | str) -> Column:
    """Whitespace word array of a text column; empty array for empty/null/
    whitespace-only text (never null — callers posexplode_outer without an
    inferred filter).

    Words are extracted as MAXIMAL NON-WHITESPACE RUNS with the explicit
    shared class (:data:`ocr_spark.functions.textstats.NON_WS_RUN`), never
    an engine-default ``\\s`` split: the earlier strip+split form leaned on
    Java's ``\\s`` interpretation and edge-anchor semantics, while the
    DuckDB oracles leaned on RE2's — ``regexp_extract_all`` with one
    explicit ``[^ \\t\\n\\x0b\\f\\r]+`` literal is structurally identical in
    both engines (no strip, no split, no empty-string special case) so the
    word list matches byte-for-byte on ANY corpus content."""
    from ocr_spark.functions.textstats import NON_WS_RUN

    c = F.coalesce(F.col(text_col) if isinstance(text_col, str) else text_col, F.lit(""))
    return F.regexp_extract_all(c, F.lit(NON_WS_RUN), F.lit(0))


def _pinned_partitions(df: DataFrame) -> int:
    """Explicit repartition width = spark.sql.shuffle.partitions.

    Passing the number makes the shuffle REPARTITION_BY_NUM, which AQE will
    not coalesce — necessary when the stage after the exchange EXPANDS its
    input (token explode): AQE sizes post-shuffle partitions by the bytes
    written, so a compact pre-explosion shuffle gets coalesced to a handful
    of giant tasks."""
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))


def _ngrams(words: Column, n: int) -> Column:
    """All order-n word grams of a materialized words-array COLUMN.

    ``words`` must be a plain column reference (not an expensive
    expression): the outer-scope reference is re-inlined into both lambda
    bodies by Catalyst, which is free for an attribute and quadratic for an
    expression (the with_shingles lesson). ``element_at`` is O(1) per
    element, so gram construction is O(n) per gram."""
    count = F.size(words) - (n - 1)
    # sequence(1, 0) steps DOWNWARD ([1, 0]) — guard short docs explicitly
    idx = F.when(count >= 1, F.sequence(F.lit(1), count)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.transform(F.sequence(F.lit(0), F.lit(n - 1)), lambda j: F.element_at(words, i + j))
        ),
    )


def repetition_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngrams: tuple[int, ...] = (2, 3),
) -> DataFrame:
    """Gopher-style repetition signals per document.

    Returns ``(id_col, n_words, dup_word_frac, top{n}gram_frac ...)``:

      * ``dup_word_frac`` — fraction of word occurrences that are repeats of
        an earlier occurrence: ``1 - distinct_words / n_words`` (0 for empty
        docs). Gopher drops docs whose duplicate-line/word mass is high.
      * ``top{n}gram_frac`` — fraction of all n-gram occurrences claimed by
        the single most frequent n-gram (0 for docs shorter than n words).
        Gopher's "top 2-gram fraction > 0.20 → drop" style rules.

    Every signal is doc-local, so the ONLY shuffle is a `repartition` of
    the un-exploded documents by id — one row per doc, raw-text bytes.
    After it, HashPartitioning(_id) satisfies the clustering requirement of
    BOTH aggregations (grouping keys are supersets of _id), so the token
    explode, the ``(doc, order, token)`` counts and the final doc fold all
    run partition-local with zero further exchanges. Shuffling the exploded
    token stream instead (the obvious shape) carries ~3× the corpus text
    even with map-side combine — measured 0.55 N→4N efficiency on a 120k
    corpus before this rewrite; the words/grams ride one combined tagged
    array so the text is regex-split once per row, and one
    ``posexplode_outer``'s null row keeps empty docs alive.

    The repartition pins an EXPLICIT partition count
    (spark.sql.shuffle.partitions): a bare ``repartition(col)`` lets AQE
    coalesce the exchange by its PRE-explosion byte size, blind to the ~20×
    token expansion the stage then processes — measured: 130 MB of raw text
    coalesced to 9 tasks whose per-partition hash tables grew 4×, 1.5× the
    total CPU and 1.1 ragged waves on 8 cores (0.49 N→4N efficiency).
    """
    base = (
        docs.repartition(_pinned_partitions(docs), F.col(id_col))
        .select(F.col(id_col).alias("_id"), words_column(text_col).alias("words"))
    )

    streams = [
        F.transform(
            F.col("words"),
            lambda w: F.struct(F.lit(1).alias("n"), w.alias("tok")),
        )
    ]
    # bind n with a REAL closure — a default-arg lambda has two parameters,
    # and transform() reads arity 2 as an (element, index) lambda, silently
    # binding the loop variable to the array index (see CLAUDE.md pitfalls)
    def _make_tag(order: int):
        def tag(g):
            return F.struct(F.lit(order).alias("n"), g.alias("tok"))

        return tag

    for n in ngrams:
        streams.append(F.transform(_ngrams(F.col("words"), n), _make_tag(n)))

    exploded = (
        base.select("_id", F.concat(*streams).alias("toks"))
        .select("_id", F.posexplode_outer("toks").alias("_p", "t"))
        .select("_id", F.col("t.n").alias("n"), F.col("t.tok").alias("tok"))
    )
    counts = exploded.groupBy("_id", "n", "tok").agg(F.count("*").alias("c"))
    ok = F.col("tok").isNotNull()
    aggs = [
        F.coalesce(
            F.sum(F.when(ok & (F.col("n") == 1), F.col("c"))), F.lit(0)
        ).alias("n_words"),
        F.count(F.when(ok & (F.col("n") == 1), F.col("tok"))).alias("n_distinct"),
    ]
    for n in ngrams:
        aggs.append(F.max(F.when(ok & (F.col("n") == n), F.col("c"))).alias(f"mx{n}"))
        aggs.append(F.sum(F.when(ok & (F.col("n") == n), F.col("c"))).alias(f"tot{n}"))
    stats = counts.groupBy("_id").agg(*aggs)

    cols = [
        F.col("_id").alias(id_col),
        F.col("n_words"),
        F.when(
            F.col("n_words") > 0,
            1.0 - F.col("n_distinct").cast("double") / F.col("n_words"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_word_frac"),
    ]
    for n in ngrams:
        cols.append(
            F.when(
                F.coalesce(F.col(f"tot{n}"), F.lit(0)) > 0,
                F.col(f"mx{n}").cast("double") / F.col(f"tot{n}"),
            )
            .otherwise(F.lit(0.0))
            .alias(f"top{n}gram_frac")
        )
    return stats.select(*cols)


#: Minimal English stopword set for the Gopher "has ≥ k stopwords" rule
#: (Rae et al. use {the, be, to, of, and, that, have, with}).
DEFAULT_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stopwords: int = 2,
    stopwords: tuple[str, ...] = DEFAULT_STOPWORDS,
    carry_text: bool = False,
) -> DataFrame:
    """Gopher quality-rule flags per document, all native expressions.

    Returns ``(id_col, [text,] n_words, mean_word_len, symbol_ratio,
    alpha_word_frac, n_stopwords, keep)`` where ``keep`` is the conjunction
    of the Gopher §A1.1 bounds (word count, mean word length, symbol-to-word
    ratio for ``#``/ellipsis, fraction of words containing a letter,
    stopword presence). Thresholds are parameters so small test corpora can
    tighten them. ``carry_text=True`` passes the text column through so a
    caller splitting keeps from rejects never has to JOIN the flags back to
    the corpus (that join would shuffle the full corpus text — this
    operator is a zero-shuffle projection, keep it that way).

    Purely row-local — fuses into one whole-stage-codegen projection over
    the scan; no shuffle at any corpus size.
    """
    words = words_column(text_col)
    d = docs.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"), words.alias("words"))
    n = F.size("words")
    nz = F.greatest(n, F.lit(1)).cast("double")
    from ocr_spark.functions.textstats import WS_CLASS

    mean_len = F.length(F.regexp_replace(F.coalesce(F.col("_t"), F.lit("")), WS_CLASS, "")) / nz
    symbols = F.regexp_count(F.coalesce(F.col("_t"), F.lit("")), F.lit(r"#|\.\.\.|…"))
    # frozen letter class + portable fold, never engine \p{L} / lower():
    # the engines' Unicode tables disagree on recently-assigned codepoints
    # (value-exact gate surface — the uniconst contract)
    from ocr_spark.functions.textstats import LETTER_CLASS, fold_lower

    alpha_words = F.size(F.filter(F.col("words"), lambda w: w.rlike(LETTER_CLASS)))
    stops = F.size(F.filter(F.col("words"), lambda w: fold_lower(w).isin(*stopwords)))
    out = d.select(
        F.col("_id").alias(id_col),
        *([F.col("_t").alias(text_col)] if carry_text else []),
        n.alias("n_words"),
        mean_len.alias("mean_word_len"),
        (symbols / nz).alias("symbol_ratio"),
        (alpha_words / nz).alias("alpha_word_frac"),
        stops.alias("n_stopwords"),
    )
    keep = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("symbol_ratio") <= max_symbol_ratio)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("n_stopwords") >= min_stopwords)
    )
    return out.withColumn("keep", keep)


def _doc_pinned_word_counts(
    docs: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """``(_id, w, c)`` word counts per document — the shared first stage of
    token_entropy and lm_cross_entropy: ONE doc-keyed pinned repartition
    (see repetition_stats on why AQE must not size this exchange by
    pre-explosion bytes), then a PARTITION-LOCAL posexplode + count whose
    grouping keys contain _id. Empty docs yield one ``w IS NULL`` row."""
    base = docs.repartition(_pinned_partitions(docs), F.col(id_col)).select(
        F.col(id_col).alias("_id"), words_column(text_col).alias("words")
    )
    return (
        base.select("_id", F.posexplode_outer("words").alias("_p", "w"))
        .groupBy("_id", "w")
        .agg(F.count("*").alias("c"))
    )


def token_entropy(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unigram Shannon entropy (nats) of each document's word distribution.

    ``H = ln(N) - Σ c·ln(c) / N`` over word counts ``c`` — the numerically
    stable single-pass form (avoids materializing probabilities). Low
    entropy flags degenerate/templated text (a CCNet-style quality signal).
    Returns ``(id_col, n_words, entropy)``; empty docs get entropy 0.

    Same shuffle shape as `repetition_stats`: ONE doc-keyed repartition of
    the raw documents (explicit partition count — see repetition_stats on
    why AQE must not size this exchange by pre-explosion bytes); the word
    counts and the entropy fold then run partition-local (their grouping
    keys contain _id).
    """
    return (
        _doc_pinned_word_counts(docs, text_col, id_col)
        .groupBy("_id")
        .agg(
            F.coalesce(F.sum(F.when(F.col("w").isNotNull(), F.col("c"))), F.lit(0)).alias("n_words"),
            F.coalesce(
                F.sum(F.when(F.col("w").isNotNull(), F.col("c") * F.log(F.col("c")))),
                F.lit(0.0),
            ).alias("_clogc"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_words",
            # greatest(·, 0): entropy is provably >= 0, but the float form
            # ln(N) - Σc·ln(c)/N lands ±1 ulp of 0 on degenerate all-same-
            # word docs and a tiny negative ROUNDS TO -0.0 in engines whose
            # round() keeps the sign (DuckDB) while Spark's BigDecimal round
            # never emits -0.0 — a value-hash mismatch. Clamp here and
            # mirror greatest(x, 0.0) in every SQL twin.
            F.greatest(
                F.when(
                    F.col("n_words") > 0,
                    F.log(F.col("n_words")) - F.col("_clogc") / F.col("n_words"),
                ).otherwise(F.lit(0.0)),
                F.lit(0.0),
            ).alias("entropy"),
        )
    )


def top_ngrams(
    docs: DataFrame,
    n: int = 3,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide most frequent word n-grams: ``(gram, n_occurrences)``,
    the k most frequent, ties broken by gram ascending (deterministic).

    The corpus-frequency sweep behind badword/template/boilerplate list
    construction (C4's blocklist pass, Raffel et al. 2020 §2.2) and vocab
    sanity checks. Counts EVERY occurrence (unlike `decontaminate`, which
    distincts per document).

    Scale shape: grams materialize per row and explode with
    ``posexplode_outer`` (no inferred filter re-substituting the split);
    the count is a hash aggregate with map-side combine (one partial row
    per distinct gram per task — duplicate mass collapses before the
    shuffle, the chunk_dedup lesson), and the top-k is
    TakeOrderedAndProject (two bounded heaps, never a global sort).
    """
    words = words_column(text_col)
    grams = docs.select(words.alias("__w")).select(
        F.posexplode_outer(_ngrams(F.col("__w"), n)).alias("_p", "gram")
    )
    return (
        grams.filter(F.col("gram").isNotNull())
        .groupBy("gram")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("gram"))
        .limit(k)
    )


def unigram_lm(
    docs: DataFrame,
    text_col: str = "text",
    add_k: float = 0.5,
) -> tuple[DataFrame, float]:
    """Corpus unigram language model with add-k smoothing —
    ``p(w) = (c(w) + k) / (total + k·(V + 1))``, the +1 reserving mass for
    unseen words. Returns ``(lm, unseen_logp)``: the ``(word, logp)``
    table AND ``log(k / denom)``, the smoothed log-probability an
    out-of-vocabulary word should score — pass it to
    :func:`lm_cross_entropy` when scoring held-out documents.

    The count table is localCheckpoint'd: the scalar (total, vocab) pass
    materializes it once, and the returned plan reuses that result — so
    the corpus-wide tokenize+count shuffle runs exactly once, not once
    per downstream action."""
    if add_k <= 0:
        # add_k == 0 would be a plausible "no smoothing" request, but the
        # unseen-word contract (log(k / denom)) is undefined at k = 0 —
        # fail loudly instead of surfacing math.log's bare domain error.
        raise ValueError("add_k must be > 0 (the unseen-word mass is k/denom)")
    words = docs.select(F.explode_outer(words_column(text_col)).alias("w")).filter(
        F.col("w").isNotNull()
    )
    counts = words.groupBy("w").agg(F.count("*").alias("c")).localCheckpoint()
    # two scalars — metadata-sized by design
    tot_row = counts.agg(
        F.sum("c").alias("total"), F.count("*").alias("vocab")
    ).collect()[0]
    total, vocab = int(tot_row["total"] or 0), int(tot_row["vocab"] or 0)
    denom = float(total) + add_k * (vocab + 1)
    lm = counts.select(
        F.col("w").alias("word"),
        F.log((F.col("c") + F.lit(float(add_k))) / F.lit(denom)).alias("logp"),
    )
    return lm, math.log(add_k / denom) if denom > 0 else -30.0


def lm_cross_entropy(
    docs: DataFrame,
    lm: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    unseen_logp: float | None = None,
) -> DataFrame:
    """CCNet-style LM quality score (Wenzek et al. 2020, §4.3 — perplexity
    filtering, with the Kneser-Ney LM replaced by the deterministic
    unigram model of :func:`unigram_lm`): per-document cross-entropy
    ``H = -(1/N) Σ log p(wᵢ)`` in nats. High H = improbable/degenerate
    text. Returns ``(id_col, n_words, cross_entropy)``; empty docs get
    0.0. Words absent from ``lm`` score ``unseen_logp`` — pass the
    smoothed value :func:`unigram_lm` returns for CCNet-faithful scoring
    of held-out documents; the -30 default is only a hard floor for LMs
    built without a smoothing contract.

    Scale shape: tokens collapse to DISTINCT ``(doc, word, count)`` rows
    BEFORE the LM join — the doc-pinned repartition makes that first
    aggregation partition-local (zero exploded-token shuffle), and the
    join then moves one row per distinct word per doc, not every token.
    The LM side is deliberately UNHINTED: a web-corpus vocabulary can be
    billions of rows, so broadcast-vs-shuffle is AQE's call by stats.
    """
    if unseen_logp is None:
        unseen_logp = -30.0
    per_word = _doc_pinned_word_counts(docs, text_col, id_col)
    scored = per_word.join(
        lm.select(F.col("word").alias("w"), "logp"), "w", "left"
    ).select(
        "_id",
        F.when(F.col("w").isNull(), F.lit(0.0))
        .otherwise(F.coalesce("logp", F.lit(float(unseen_logp))))
        .alias("logp"),
        F.when(F.col("w").isNull(), F.lit(0)).otherwise(F.col("c")).alias("n"),
    )
    return (
        scored.groupBy("_id")
        .agg(
            F.sum("n").cast("int").alias("n_words"),
            F.coalesce(F.sum(F.col("logp") * F.col("n")), F.lit(0.0)).alias("_ll"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_words",
            F.when(F.col("n_words") > 0, -F.col("_ll") / F.col("n_words"))
            .otherwise(F.lit(0.0))
            .alias("cross_entropy"),
        )
    )


def perplexity_buckets(
    scored: DataFrame,
    thresholds: tuple[float, ...] | None = None,
    fractions: tuple[float, ...] = (1.0 / 3, 2.0 / 3),
    accuracy: int = 10000,
    score_col: str = "cross_entropy",
    labels: tuple[str, ...] = ("head", "middle", "tail"),
    bucket_col: str = "bucket",
) -> DataFrame:
    """CCNet's head/middle/tail perplexity split (Wenzek et al. 2020 §4.3):
    label every document by where its LM score falls in the corpus
    distribution — ``head`` = most natural text, ``tail`` = most degenerate.
    Input is :func:`lm_cross_entropy` output (or anything with
    ``score_col``); adds ``bucket_col``. A doc at a threshold goes to the
    LOWER bucket (``score <= t``).

    Threshold sourcing, in production-preference order:

    * ``thresholds`` explicit (len = len(labels)-1): the 10^12-row path —
      calibrate once (offline, or from a sample) and the labeling is a pure
      row-local expression, zero extra passes;
    * otherwise one ``percentile_approx`` pass over ``fractions`` — a
      bounded-memory sketch at any corpus size; on corpora smaller than
      ``accuracy`` it returns the discrete order statistic (the
      ceil(n·f)-th smallest value).

    The computed thresholds are a len(fractions) scalar collect — bounded
    by contract, never data-sized."""
    if thresholds is not None:
        cuts = [float(t) for t in thresholds]
    else:
        pcts = double_array_literal(fractions)
        agg = F.percentile_approx(score_col, pcts, F.lit(accuracy))
        got = scored.agg(agg.alias("t")).collect()[0]["t"]
        if got is None:
            # percentile over zero rows (or an all-null score column) is
            # NULL — fail with the actual problem, not list(None)'s
            # TypeError (r4 advisor finding)
            raise ValueError(
                "cannot compute perplexity thresholds from an empty corpus "
                f"(no non-null {score_col!r} values); pass explicit "
                "thresholds= instead"
            )
        cuts = list(got)
    if len(cuts) != len(labels) - 1:
        raise ValueError(
            f"need {len(labels) - 1} thresholds for {labels}, got {len(cuts)}"
        )
    if sorted(cuts) != cuts:
        raise ValueError(f"thresholds must be non-decreasing: {cuts}")
    expr = None
    for label, cut in zip(labels[:-1], cuts):
        cond = F.col(score_col) <= F.lit(float(cut))
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    expr = (
        F.lit(labels[-1]) if expr is None else expr.otherwise(F.lit(labels[-1]))
    )
    return scored.withColumn(bucket_col, expr)


def dedup_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style INTRA-document repeated-line removal (Raffel et al. 2020
    §2.2 — alongside the cross-document :func:`chunk_dedup`): within each
    document, a line identical to an earlier line of the same document is
    dropped; survivors keep their original order. Returns
    ``(id_col, text, n_lines, n_kept)`` (lines split on '\\n'; empty text
    has one empty line, preserved).

    Scale shape: same as `repetition_stats` — ONE doc-keyed pinned
    repartition of the raw documents, then posexplode_outer + two
    aggregations whose keys all contain the id, so every stage after the
    exchange is partition-local and the exploded line stream never
    crosses the network. First-occurrence selection is ``min(pos)`` per
    (doc, line) — a hash aggregate with map-side combine, never a window
    partitioned by the line text (the chunk-keeper skew lesson)."""
    base = docs.repartition(_pinned_partitions(docs), F.col(id_col)).select(
        F.col(id_col).alias("_id"),
        F.split(F.coalesce(F.col(text_col), F.lit("")), "\n").alias("lines"),
    )
    exploded = base.select("_id", F.posexplode_outer("lines").alias("pos", "line"))
    firsts = exploded.groupBy("_id", "line").agg(
        F.min("pos").alias("keep_pos"), F.count("*").alias("n_copies")
    )
    return (
        firsts.groupBy("_id")
        .agg(
            F.sum("n_copies").cast("int").alias("n_lines"),
            F.count("*").cast("int").alias("n_kept"),
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("keep_pos", "line"))),
                    lambda s: s["line"],
                ),
            ).alias("text"),
        )
        .select(F.col("_id").alias(id_col), "text", "n_lines", "n_kept")
    )


def chunk_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 10,
) -> DataFrame:
    """C4-style cross-document exact chunk dedup, first occurrence wins.

    Splits each document into consecutive ``chunk_words``-word chunks (the
    tail chunk may be shorter), keeps only the FIRST occurrence of each
    distinct chunk text across the whole corpus (ordered by
    ``(doc_id, chunk_idx)`` — deterministic), and reassembles each document
    from its surviving chunks in original order. C4 does this with
    three-sentence spans; the word-chunk variant is the same operator for
    text without sentence boundaries.

    Returns ``(id_col, text, n_chunks, n_kept)`` — ``text`` is the
    deduplicated document ('' when every chunk was claimed earlier), and
    every input document appears exactly once in the output.

    Scale: the first-occurrence keeper is a ``min(struct(doc, idx))``
    AGGREGATION keyed by chunk, never a window — a window partitioned by
    the chunk text sends EVERY copy of a duplicated chunk to one task
    (measured: 2 cores beat 8 on a self-similar 120k corpus, 0.13 scaling
    efficiency — the duplicate mass is exactly where the skew lands),
    while the hash aggregate collapses duplicates map-side so the shuffle
    carries one row per distinct chunk per task. The output is then
    rebuilt from the WINNERS frame alone (a kept chunk's winner row IS its
    (doc, idx, text)) — the exploded pair stream is never shuffled or
    joined. Shuffles: distinct-chunk min, winner regroup by doc, and a
    doc-keyed left join against the per-doc totals (all doc/chunk
    cardinality, none proportional to duplicate volume).
    """
    if chunk_words < 1:
        raise ValueError("chunk_words must be >= 1")
    base = docs.select(F.col(id_col).alias("_id"), words_column(text_col).alias("words"))
    n_chunks = F.ceil(F.size("words") / F.lit(float(chunk_words))).cast("int")
    # sequence(0, -1) steps DOWNWARD ([0, -1]) — guard empty docs explicitly
    idx = F.when(n_chunks >= 1, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    chunks_arr = F.transform(
        idx,
        lambda i: F.concat_ws(" ", F.slice(F.col("words"), i * chunk_words + 1, chunk_words)),
    )
    with_chunks = base.select("_id", chunks_arr.alias("chunks"))
    chunked = with_chunks.select(
        "_id", F.posexplode_outer("chunks").alias("chunk_idx", "chunk")
    ).filter(F.col("chunk").isNotNull())
    # one row per DISTINCT chunk: lexicographic struct-min = first occurrence
    winners = chunked.groupBy("chunk").agg(
        F.min(F.struct("_id", "chunk_idx")).alias("w")
    )
    rebuilt = (
        winners.select(
            F.col("w._id").alias("_id"),
            F.col("w.chunk_idx").alias("chunk_idx"),
            "chunk",
        )
        .groupBy("_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk"))),
                    lambda s: s["chunk"],
                ),
            ).alias("text"),
        )
    )
    # totals re-scans the input (no CSE across join branches) — count words
    # with the shared regexp_count helper instead of materializing the
    # split array, so this branch never pays the chunk-string build
    # (measured ~2x on the whole job at 2 cores) nor the array allocation
    from ocr_spark.functions.textstats import whitespace_token_count

    totals = docs.select(
        F.col(id_col).alias("_id"),
        F.ceil(whitespace_token_count(text_col) / F.lit(float(chunk_words)))
        .cast("int")
        .alias("n_chunks"),
    )
    return (
        totals.join(rebuilt, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("text", F.lit("")).alias("text"),
            F.col("n_chunks").cast("long").alias("n_chunks"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


#: (name, java_and_re2_compatible_pattern, replacement) — applied in order.
#: Patterns avoid lookarounds/backrefs so Spark (Java regex) and any RE2
#: oracle (DuckDB) agree byte-for-byte.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b0\d{1,4}-\d{1,4}-\d{3,4}\b", "<PHONE>"),
)


def exact_substring_dedup(
    docs: DataFrame,
    min_words: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better", arXiv:2107.06499 §4.1): remove every
    ``min_words``-word span whose text appears verbatim ANYWHERE else in
    the corpus. Unlike :func:`chunk_dedup` (fixed aligned chunks), the
    match window SLIDES — overlapping duplicated windows union into
    maximal removed spans, so a 200-word boilerplate block shared by two
    docs disappears wholesale even though no chunk boundary aligns.

    The lexicographically first occurrence ``min(struct(doc, pos))`` of
    each duplicated window is spared, so the corpus keeps one copy of
    everything (the paper tool instead removes all occurrences). Returns
    ``(id_col, text_col, n_words, n_removed, n_dup_spans)`` with every
    input doc exactly once; an untouched doc keeps its ORIGINAL text
    byte-for-byte (only rebuilt docs are re-joined with single spaces, the
    family's convention).

    Scale (the suffix-array of the paper is a single-machine design; this
    is the shuffle-native equivalent):

    * **Window keys are two independent 64-bit hashes**, not window text:
      ``xxhash64`` chained over the k words (length-framed — no concat
      ambiguity) under two salts. The count shuffle carries 16-byte keys
      instead of k-word strings (~20x less volume at k=20); a pair
      collision at 10^12 windows has probability ~1e-15, vs ~1e4 EXPECTED
      single-hash collisions at that scale — this is what makes hashed
      ExactSubstr safe where single-xxhash would silently weld documents.
    * **First-occurrence keeper is a min-struct AGGREGATION** keyed on the
      hash pair (map-side combined), never a window over the key — the
      chunk_dedup skew lesson: duplicate mass is exactly where a
      value-keyed window would land it.
    * The hash-pair join back feeds only the MATCHED stream (duplicated
      occurrences, selective by design) into the doc-keyed regroup.
    * **The rebuild is row-local**: sorted starts fold into merged
      ``[s, e)`` intervals (equal window lengths make the fold exact), and
      the kept text is the gap slices of the materialized words array —
      no per-word explode, no doc-partitioned window.
    * The gram build is O(words x k) element hashing on the PINNED frame
      (REPARTITION_BY_NUM before the explode — AQE sizes by pre-explosion
      bytes); a rolling polynomial hash would make it O(words) but k<=100
      keeps the constant irrelevant next to the two stream shuffles.
    """
    if min_words < 2:
        raise ValueError("min_words must be >= 2")
    k = int(min_words)
    pinned = docs.repartition(_pinned_partitions(docs), id_col)
    base = pinned.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_text"),
        words_column(text_col).alias("words"),
    )

    def _win_hash(salt: int, i: Column) -> Column:
        return F.xxhash64(
            F.lit(salt), *[F.element_at(F.col("words"), i + j) for j in range(k)]
        )

    n_wins = F.size("words") - (k - 1)
    # sequence(1, 0) steps DOWNWARD — guard short docs explicitly
    idx = F.when(n_wins >= 1, F.sequence(F.lit(1), n_wins)).otherwise(
        F.array().cast("array<int>")
    )
    hashes = F.transform(
        idx, lambda i: F.struct(_win_hash(1, i).alias("h1"), _win_hash(2, i).alias("h2"))
    )
    stream = (
        base.select("_id", hashes.alias("hs"))
        .select("_id", F.posexplode_outer("hs").alias("pos", "h"))
        .filter(F.col("h").isNotNull())
        .select("_id", "pos", "h.h1", "h.h2")
    )
    winners = (
        stream.groupBy("h1", "h2")
        .agg(F.count("*").alias("__c"), F.min(F.struct("_id", "pos")).alias("w"))
        .filter(F.col("__c") >= 2)
    )
    matched = stream.join(winners, ["h1", "h2"]).filter(
        ~((F.col("_id") == F.col("w._id")) & (F.col("pos") == F.col("w.pos")))
    )
    starts = matched.groupBy("_id").agg(
        F.array_sort(F.collect_list("pos")).alias("starts")
    )

    empty_iv = F.array().cast("array<struct<s:int,e:int>>")
    # equal-length windows: sorted starts mean p+k >= last.e always, so the
    # fold's merge branch just extends e to p+k (p == last.e merges the
    # adjacent span — same removal set)
    intervals = F.aggregate(
        F.col("starts"),
        empty_iv,
        lambda acc, p: F.when(
            (F.size(acc) > 0) & (p <= F.element_at(acc, -1)["e"]),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["s"].alias("s"),
                        (p + k).cast("int").alias("e"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(F.struct(p.cast("int").alias("s"), (p + k).cast("int").alias("e"))),
            )
        ),
    )
    joined = base.join(starts, "_id", "left").select(
        "_id", "_text", "words", F.coalesce(intervals, empty_iv).alias("ivs")
    )
    n = F.size("words")
    gap_s = F.concat(F.array(F.lit(0)), F.transform("ivs", lambda x: x["e"]))
    gap_e = F.concat(F.transform("ivs", lambda x: x["s"]), F.array(n))
    kept = F.flatten(
        F.zip_with(gap_s, gap_e, lambda g0, g1: F.slice("words", g0 + 1, g1 - g0))
    )
    rebuilt = F.when(F.size("ivs") == 0, F.col("_text")).otherwise(
        F.concat_ws(" ", kept)
    )
    n_removed = F.aggregate(
        "ivs", F.lit(0), lambda acc, x: acc + (x["e"] - x["s"])
    )
    return joined.select(
        F.col("_id").alias(id_col),
        rebuilt.alias(text_col),
        n.cast("long").alias("n_words"),
        n_removed.cast("long").alias("n_removed"),
        F.size("ivs").cast("long").alias("n_dup_spans"),
    )


def pii_counts(text_col: Column | str) -> dict[str, Column]:
    """Per-kind PII match counts on the ORIGINAL text (before redaction, so
    counts are independent of replacement order).

    Caveat: each pattern counts independently, so a region matching two
    kinds is counted by BOTH (a phone-shaped digit run inside an email
    address adds to n_phone AND n_email), while `redact_pii` consumes it
    once, by the first pattern in `PII_PATTERNS` order — counts are match
    statistics, not a census of emitted placeholders."""
    c = F.coalesce(F.col(text_col) if isinstance(text_col, str) else text_col, F.lit(""))
    return {name: F.regexp_count(c, F.lit(pat)) for name, pat, _ in PII_PATTERNS}


def redact_pii(text_col: Column | str) -> Column:
    """Redact emails, IPv4 addresses and JP-style phone numbers with typed
    placeholder tokens — chained native ``regexp_replace`` (global), applied
    in `PII_PATTERNS` order (email first: an address can embed digit runs a
    later pattern might clip)."""
    c = F.coalesce(F.col(text_col) if isinstance(text_col, str) else text_col, F.lit(""))
    for _, pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c
