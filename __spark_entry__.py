"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline on sf0.001;
``queries()`` exposes one callable per implemented operator family from
SURVEY.md §2; ``oracle_sql()`` gives the DuckDB-equivalent SQL for every
SQL-expressible query.

Cross-engine parity notes — each gate contract is stated once:
* Oracle regex chains are GENERATED from the same pattern tables the Spark
  operators use (ocr_spark.functions.textnorm, curation.PII_PATTERNS) by a
  Java→RE2 translator, so Spark and DuckDB literally share one source of
  truth. RE2 lacks lookahead, so the one lookahead rule (choice
  normalization) is emulated with a verified two-rule rewrite.
* Synthesized gate inputs are written once as SQL (``_*_SQL``), embedded by
  the oracle and evaluated by Spark with F.expr / selectExpr / spark.sql —
  except where the dialects disagree (Spark rejects ``//`` and ``cast(x as
  varchar)``, reads ``trim(a, b)`` as trim(trimStr, str), and types
  ``floor(x / 2)`` bigint where DuckDB returns a double).
* Operator constants (fold tables, whitespace classes, web/boilerplate
  regexes) are interpolated into the oracle SQL, never pasted as literals.
* Float aggregates are rounded (2–4 dp) on both sides before hashing.
* Every LIMIT/top-k query carries a deterministic tiebreak column.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from string import ascii_lowercase, ascii_uppercase

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocr_spark.functions.textnorm import (
    FIGURE_REF_PATTERNS,
    LAYOUT_PATTERNS,
    MATH_PATTERNS,
    apply_math_patterns,
    derive_question_id,
    format_layout,
    insert_image_tags,
)
from ocr_spark.functions.textstats import (
    NON_WS_RUN,
    WS_CHARS,
    WS_CLASS,
    bpe_token_count,
    detect_language,
    quality_score,
    whitespace_token_count,
)
from ocr_spark.functions.textstats import doc_fingerprint, rolling_fingerprints
from ocr_spark.functions.textnorm import extract_json_block, mime_type
from ocr_spark.functions.uniconst import FOLD_FROM, FOLD_TO
from ocr_spark.operators.boilerplate import _ANCHOR_RE, _TAG_RE, BLOCK_TAG_RE
from ocr_spark.operators.curation import PII_PATTERNS
from ocr_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_candidates,
    simhash_dup_pairs,
)
from ocr_spark.operators.extract import extract_docs, render_markdown
from ocr_spark.operators.sampling import stride_sample
from ocr_spark.operators.similarity import ann_topk_per_query, head_tail_similar
from ocr_spark.operators.tags import questions_with_min_years, tag_histogram
from ocr_spark.operators.scores import (
    best_stat_per_user,
    calculate_scores,
    frequent_questions_excluding_recent,
    weighted_scores,
)
from ocr_spark.operators.similarity import top_k_per_query, top_k_similar
from ocr_spark.operators.structure import CHOICE_RE, extract_problems
from ocr_spark.operators.tags import questions_by_multiple_tags
from ocr_spark.operators.web import _SCHEME_RE, TRACKING_PARAM_RE
from ocr_spark.plans.pipeline import embeddings_from_extracted
from ocr_spark.schema import SPAN_STRUCT


# ---------------------------------------------------------------------------
# Java-regex → RE2 translation (oracle generation)
# ---------------------------------------------------------------------------
def _java_repl_to_re2(repl: str) -> str:
    """Translate a Java Matcher replacement ($1 group, \\$ literal) into an
    RE2 rewrite string (\\1 group, \\\\ literal backslash)."""
    out: list[str] = []
    i = 0
    while i < len(repl):
        ch = repl[i]
        if ch == "\\" and i + 1 < len(repl):
            nxt = repl[i + 1]
            out.append("\\\\" if nxt == "\\" else nxt)
            i += 2
        elif ch == "$" and i + 1 < len(repl) and repl[i + 1].isdigit():
            out.append("\\" + repl[i + 1])
            i += 2
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _re2_pattern(pat: str) -> str:
    """Strip the Unicode flag (RE2 classes are ASCII; oracle inputs are ASCII
    for \\w/\\d-bearing patterns, so semantics agree) and align whitespace
    EXPLICITLY: neither engine's ``\\s`` shorthand is trusted on the
    value-exact comparison surface, so every ``\\s`` becomes the shared
    class textstats.WS_CLASS (its characters WS_CHARS inside an existing
    class) and a bare ``\\S`` becomes its complement."""
    pat = pat.replace("(?mU)", "(?m)").replace("(?U)", "")
    out: list[str] = []
    i, in_class = 0, False
    while i < len(pat):
        ch = pat[i]
        if ch == "\\" and i + 1 < len(pat):
            nxt = pat[i + 1]
            if nxt == "s":
                out.append(WS_CHARS if in_class else WS_CLASS)
            elif nxt == "S" and not in_class:
                out.append("[^" + WS_CHARS + "]")
            else:
                out.append(ch + nxt)
            i += 2
            continue
        if ch == "[":
            in_class = True
        elif ch == "]":
            in_class = False
        out.append(ch)
        i += 1
    return "".join(out)


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


# translate() arguments of the portable case fold, textstats.fold_lower
_FOLD_SQL_ARGS = f"'{FOLD_FROM}', '{FOLD_TO}'"


def _normalized_text_sql(expr: str) -> str:
    """SQL twin of dedup.normalized_text: fold, collapse whitespace, trim."""
    return (
        f"trim(regexp_replace(translate({expr}, {_FOLD_SQL_ARGS}), "
        f"'{WS_CLASS}+', ' ', 'g'), ' ')"
    )


def _words_sql(expr: str) -> str:
    """SQL twin of curation.words_column: the maximal non-whitespace runs."""
    return f"regexp_extract_all({expr}, '{NON_WS_RUN}')"


def _pii_chain_sql(expr: str) -> str:
    """SQL twin of curation.redact_pii, generated from PII_PATTERNS."""
    out = expr
    for _, pat, repl in PII_PATTERNS:
        out = (
            f"regexp_replace({out},\n                 "
            f"{_sql_quote(pat)}, {_sql_quote(repl)}, 'g')"
        )
    return out


def _math_chain_sql(expr: str) -> str:
    out = expr
    for pat, repl in MATH_PATTERNS:
        out = (
            f"regexp_replace({out}, {_sql_quote(_re2_pattern(pat))}, "
            f"{_sql_quote(_java_repl_to_re2(repl))}, 'g')"
        )
    return out


# The choice-normalization rule uses a lookahead, which RE2 lacks; this
# two-rule emulation is verified equivalent (see tests/test_entry_parity.py).
_CHOICE_RULE_SQL = (
    (r"(?m)^(\s*)(\d+)[\.．、](\s*)([^0-9\s]|$)", r"\1\2. \4"),
    (r"(?m)^(\s*)(\d+)[\.．、](\s*)(\s\d)", r"\1\2. \4"),
)


def _layout_chain_sql(expr: str) -> str:
    out = expr
    for pat, repl in LAYOUT_PATTERNS[:-1]:
        out = (
            f"regexp_replace({out}, {_sql_quote(_re2_pattern(pat))}, "
            f"{_sql_quote(_java_repl_to_re2(repl))}, 'g')"
        )
    for pat, repl in _CHOICE_RULE_SQL:
        out = (
            f"regexp_replace({out}, {_sql_quote(_re2_pattern(pat))}, "
            f"{_sql_quote(repl)}, 'g')"
        )
    return out


def _figure_chain_sql(expr: str, base_expr: str, image_base: str = "images") -> str:
    out = expr
    for pat in FIGURE_REF_PATTERNS:
        repl = (
            f"chr(10) || chr(10) || '![図\\1](' || {_sql_quote(image_base + '/')} "
            f"|| {base_expr} || '_figure_\\1.png)' || chr(10) || chr(10)"
        )
        # RE2 rewrite refs live in the concatenated string pieces
        out = (
            f"regexp_replace({out}, {_sql_quote(_re2_pattern(pat))}, "
            f"{repl}, 'g')"
        )
    return out


# ---------------------------------------------------------------------------
# shared synthesized inputs: written once in SQL, evaluated by both engines
# (Spark through F.expr / spark.sql, DuckDB inside the oracle)
# ---------------------------------------------------------------------------
_MATH_SUFFIX_SQL = (
    "coalesce(text, '') || ' sqrt test √' || (doc_id % 97) || ' frac ' || (doc_id % 50) || '/' "
    "|| ((doc_id % 9) + 1) || ' pow x^' || (doc_id % 9) || ' sub a_' || (doc_id % 7) "
    "|| ' sin(x) cos(2t) tan(z) [数式:E=mc^2] ∫x dx α β γ θ π ∞'"
)

_LAYOUT_TEXT_SQL = (
    "(doc_id % 5) || '． Heading line' || chr(10) || ((doc_id + 1) % 4) || "
    "'、choice no space digit' || chr(10) || '2.  3 backtrack case' || chr(10) || "
    "'3.4 no match' || chr(10) || '• bullet one' || chr(10) || '・ bullet two' || "
    "chr(10) || chr(10) || chr(10) || chr(10) || chr(10) || coalesce(text, '')"
)

_FIG_TEXT_SQL = (
    "'see [図' || ((doc_id % 4) + 1) || '] and [表' || ((doc_id % 3) + 1) || '] mid ' "
    "|| coalesce(text, '') || ' then [Fig.' || ((doc_id % 5) + 1) || '] end [Table' || "
    "((doc_id % 2) + 1) || ']'"
)

_HTML_SQL = (
    "'<nav><a href=\"#\">Home</a> <a href=\"#\">About</a> <a href=\"#\">Contact</a></nav><h1>' "
    "|| source || ' document ' || doc_id || ' heading line</h1><p>' || coalesce(text, '') || "
    "'</p><p>tiny</p><div>More <a href=\"#\">link one</a> <a href=\"#\">link two</a> txt</div>"
    "<footer><a href=\"#\">Privacy</a> | <a href=\"#\">Terms</a></footer>'"
)

# ASCII-only case variant: engine upper() tables drift on exotic cased
# codepoints (the uniconst lesson, upper side)
_ASCII_UPPER_SQL = (
    f"translate(coalesce(text, ''), '{ascii_lowercase}', '{ascii_uppercase}')"
)

_LANG_TEXT_SQL = """case when doc_id % 7 = 0
                      then 'この回路の合成抵抗を求めよ。電圧と電流の関係を示せ。'
                      else coalesce(text, '') end"""

_JSON_TEXT_SQL = """'intro ' || substring(coalesce(text, ''), 1, 20) || ' ```json' || chr(10) ||
                 '{"k": ' || doc_id || '}' || chr(10) || '``` outro'"""

_MIME_EXT_SQL = """case when doc_id % 4 = 0 then 'png'
                      when doc_id % 4 = 1 then 'JPG'
                      when doc_id % 4 = 2 then 'webp' else 'txt' end"""
_MIME_NAME_SQL = "source || '_' || doc_id || '.' || ext"

_SUBSTR_TEXT_SQL = """case when doc_id % 3 = 0
                      then 'subscribe to our newsletter for daily updates today '
                           || coalesce(text, '')
                      else text end"""

_LANGID_LANG_SQL = """case when doc_id % 3 = 0 then 'aa'
                      when doc_id % 3 = 1 then 'bb'
                      else 'cc' end"""
_LANGID_TEXT_SQL = """case when doc_id % 3 = 0 then coalesce(text, '')
                            when doc_id % 3 = 1
                              then translate(coalesce(text, ''), 'etaoins', 'XXXXXXX')
                            else translate(coalesce(text, ''), 'rhldcum', 'QQQQQQQ') end"""

# the synthesized tables the score gates join; {orders} is the orders table
# (a DataFrame argument of spark.sql on the Spark side)
_DERIVED_ANSWERS_SQL = (
    "select 'u' || (o_custkey % 37) as user_id, 'Q' || (o_orderkey % 200) as question_id, "
    "o_orderstatus = 'F' as status, 'EXAM' as exam_type, o_orderdate as created_at from {orders}"
)
_DERIVED_META_SQL = (
    "select 'Q' || i as question_id, "
    "case when i % 3 = 0 then 'LOW' when i % 3 = 1 then 'MID' else 'HIGH' end as difficulty, "
    "i % 2 = 0 as is_mandatory, 'EXAM' as exam_type from range(200) t(i)"
)


def _span_kind_sql(word: str, pos: str) -> str:
    """Word-level span kind, a pure function of (word, pos): shared by the
    reconstruction / numbering / grammar gates and their oracles."""
    return (
        f"case when {pos} % 13 = 1 then 'heading' "
        f"when {pos} % 13 in (5, 6) then 'choice' "
        f"when {word} = 'table' then 'media' "
        f"when {pos} % 11 = 3 then 'table' else 'text' end"
    )


def _docs_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with the null≡'' text contract applied at the source: a
    null-text doc must flow through every gate exactly like an empty-text
    doc (one output row, zeroed stats) instead of silently vanishing from
    splits/explodes on one engine and surviving on the other. Oracles
    mirror this with coalesce(text, '') at their first read."""
    df = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return df.withColumn("text", F.coalesce(F.col("text"), F.lit("")))


def _emb_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def _tpch(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _words_with_pos(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, word) — 1-based positions, matching generate_subscripts."""
    return docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "word")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")


def _spans_from_documents(docs: DataFrame) -> DataFrame:
    """Synthesize the input_hint spans shape deterministically from the
    driver's documents table (word-level spans, kind from (word, pos))."""
    w = _words_with_pos(docs)
    kind = F.expr(_span_kind_sql("word", "pos"))
    spans = w.select(
        "doc_id",
        F.struct(
            kind.alias("kind"),
            F.col("word").alias("text"),
            F.when(
                kind == "media",
                F.concat(F.lit("img://"), F.col("doc_id").cast("string"), F.lit("/"), F.col("pos").cast("string")),
            ).alias("media_ref"),
            (F.col("pos") - 1).cast("int").alias("offset"),
        ).alias("s"),
    )
    return spans.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("s.offset").alias("o"), F.col("s").alias("s")))),
            lambda x: x["s"],
        ).cast(f"array<{SPAN_STRUCT.simpleString()}>").alias("spans")
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------
def q_t4_math_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_table(spark, sf_dir)
    return docs.select(
        "doc_id", apply_math_patterns(F.expr(_MATH_SUFFIX_SQL)).alias("rewritten")
    )


def q_t5_figure_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_table(spark, sf_dir)
    base = F.concat(F.lit("doc_"), F.col("doc_id").cast("string"))
    return docs.select(
        "doc_id", insert_image_tags(F.expr(_FIG_TEXT_SQL), base).alias("tagged")
    )


def q_t6_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_table(spark, sf_dir)
    return docs.select("doc_id", format_layout(F.expr(_LAYOUT_TEXT_SQL)).alias("formatted"))


def q_t13_question_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_table(spark, sf_dir)
    name = (
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.col("source"), F.lit("_page_"), F.col("doc_id").cast("string")))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.lit("question-"), F.col("doc_id").cast("string")))
        .otherwise(F.concat(F.col("doc_id").cast("string"), F.lit("memo")))
    )
    return docs.select(
        "doc_id", name.alias("file_name"), derive_question_id(name).alias("question_id")
    )


def q_span_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode → shuffle → order-exact reassembly; result must equal the
    original text (the span-sequence invariant exercised on driver data)."""
    docs = _docs_table(spark, sf_dir)
    w = _words_with_pos(docs).repartition(8, "doc_id")
    return w.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))), lambda x: x["word"]
            ),
            " ",
        ).alias("content"),
        F.count("*").alias("n_spans"),
    )


def q_figure_numbering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7: media spans numbered 1..N per doc in document order."""
    docs = _docs_table(spark, sf_dir)
    w = _words_with_pos(docs)
    media = w.filter(F.expr(_span_kind_sql("word", "pos")) == "media")
    win = Window.partitionBy("doc_id").orderBy("pos")
    return media.select(
        "doc_id", "pos", F.row_number().over(win).alias("fig_no")
    )


def q_problems_grammar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 grammar over synthesized spans: per-doc problem/choice counts."""
    docs = _docs_table(spark, sf_dir)
    spans = _spans_from_documents(docs)
    probs = extract_problems(spans)
    return probs.select(
        "doc_id",
        F.size("problems").alias("n_problems"),
        F.aggregate(
            F.transform(F.col("problems"), lambda p: F.size(p["choices"])),
            F.lit(0),
            lambda acc, x: acc + x,
        ).alias("kept_choices"),
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_table(spark, sf_dir).select("doc_id", "text", "source")
    copies = docs.filter(F.col("doc_id") % 10 == 0).selectExpr(
        "doc_id + 100000 as doc_id", f"'  ' || {_ASCII_UPPER_SQL} || '  ' as text", "source"
    )
    unioned = docs.unionByName(copies)
    return exact_dedup(unioned).select("doc_id", "source")


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates → exact Jaccard ≥ 0.8 over near-dup corpus."""
    docs = _docs_table(spark, sf_dir).filter(F.col("doc_id") < 150).select("doc_id", "text")
    near = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail marker token")).alias("text"),
    )
    # zero-pad ids so string ordering == numeric ordering (pair orientation
    # must match the oracle's integer comparison)
    unioned = docs.unionByName(near).withColumn(
        "doc_id", F.lpad(F.col("doc_id").cast("string"), 7, "0")
    )
    cands = minhash_lsh_candidates(unioned, n_hashes=32, n_bands=16)
    pairs = jaccard_pairs(unioned, cands, threshold=0.8)
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round("jaccard", 4).alias("jaccard"),
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component duplicate clustering (large-star/small-star):
    chain edges planted on doc ids (i—i+1e5—i+2e5 for i%7==0, plus
    i—i+3e5 for i%5==0) must resolve TRANSITIVELY to the smallest reachable
    id; the oracle recomputes components with a recursive CTE."""
    from ocr_spark.operators.dedup import dup_clusters

    docs = _docs_table(spark, sf_dir).select("doc_id")
    d = F.col("doc_id")
    e1 = docs.filter(d % 7 == 0).select(d.alias("id_a"), (d + 100000).alias("id_b"))
    e2 = docs.filter(d % 7 == 0).select(
        (d + 100000).alias("id_a"), (d + 200000).alias("id_b")
    )
    e3 = docs.filter(d % 5 == 0).select(d.alias("id_a"), (d + 300000).alias("id_b"))
    edges = e1.unionByName(e2).unionByName(e3)
    return dup_clusters(edges, nodes=docs, id_col="doc_id")


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_table(spark, sf_dir)
    return docs.select(
        "doc_id",
        whitespace_token_count("text").alias("ws_tokens"),
        bpe_token_count("text").alias("bpe_tokens"),
        F.length("text").alias("n_chars_obs"),
    )


def q_lang_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_table(spark, sf_dir)
    return docs.select("doc_id", detect_language(F.expr(_LANG_TEXT_SQL)).alias("lang"))


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_table(spark, sf_dir)
    return docs.select("doc_id", quality_score("text").alias("quality"))


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (duplicate-word mass, top-2/3-gram
    coverage) per document — the pretraining-corpus repetition filter."""
    from ocr_spark.operators.curation import repetition_stats

    docs = _docs_table(spark, sf_dir).select("doc_id", "text")
    out = repetition_stats(docs)
    return out.select(
        "doc_id",
        "n_words",
        F.round("dup_word_frac", 4).alias("dup_word_frac"),
        F.round("top2gram_frac", 4).alias("top2gram_frac"),
        F.round("top3gram_frac", 4).alias("top3gram_frac"),
    )


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher §A1.1 quality-rule flags + keep decision (bounds tightened to
    the gate corpus' 10-99-word docs so `keep` varies)."""
    from ocr_spark.operators.curation import gopher_quality

    docs = _docs_table(spark, sf_dir).select("doc_id", "text")
    out = gopher_quality(docs, min_words=25, min_mean_word_len=2.0)
    return out.select(
        "doc_id",
        "n_words",
        F.round("mean_word_len", 4).alias("mean_word_len"),
        F.round("symbol_ratio", 4).alias("symbol_ratio"),
        F.round("alpha_word_frac", 4).alias("alpha_word_frac"),
        "n_stopwords",
        "keep",
    )


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram Shannon entropy (nats) — CCNet-style
    degenerate-text signal."""
    from ocr_spark.operators.curation import token_entropy

    docs = _docs_table(spark, sf_dir).select("doc_id", "text")
    out = token_entropy(docs)
    return out.select("doc_id", "n_words", F.round("entropy", 4).alias("entropy"))


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document chunk dedup (10-word chunks, first occurrence
    by (doc_id, chunk_idx) wins) — full reassembled-text value equality."""
    from ocr_spark.operators.curation import chunk_dedup

    docs = _docs_table(spark, sf_dir).select("doc_id", "text")
    return chunk_dedup(docs, chunk_words=10).select(
        "doc_id", "text", "n_chunks", "n_kept"
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over deterministically planted emails/IPs/phones
    (docs with doc_id % 4 == 0 stay clean) — counts on the original text,
    typed placeholder replacement, value-exact redacted output."""
    from ocr_spark.operators.curation import pii_counts, redact_pii

    docs = _docs_table(spark, sf_dir).select("doc_id", "text")
    planted = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 4 == 0, F.col("text")).otherwise(
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".7 call 090-1234-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            )
        ),
    )
    counts = pii_counts("text")
    return planted.select(
        "doc_id",
        counts["email"].alias("n_email"),
        counts["ip"].alias("n_ip"),
        counts["phone"].alias("n_phone"),
        redact_pii("text").alias("redacted"),
    )


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation flow (jobs/curate_job.py): Gopher quality
    filter -> C4 chunk dedup over the survivors — value-exact over the
    reassembled deduplicated text of every kept doc."""
    from ocr_spark.operators.curation import chunk_dedup, gopher_quality

    docs = _docs_table(spark, sf_dir).select("doc_id", "text")
    kept = (
        gopher_quality(docs, min_words=25, min_mean_word_len=2.0, carry_text=True)
        .filter(F.col("keep"))
        .select("doc_id", "text")
    )
    return chunk_dedup(kept, chunk_words=10).select(
        "doc_id", "text", "n_chunks", "n_kept"
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style eval-set decontamination (Brown et al. 2020 App. C):
    docs sharing a lowercased word 3-gram with the benchmark slice
    (doc_id % 97 == 0) are flagged. n=3 so the synthetic word-soup corpus
    actually collides (real pipelines use 8-13)."""
    from ocr_spark.operators.mixing import decontaminate

    docs = _docs_table(spark, sf_dir).select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(train, bench, n=3).orderBy("doc_id")


def _messy_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic messy-URL synthesis: every PAIR of doc_ids shares a
    canonical URL (base = doc_id // 2) but each member is dirtied
    differently — even ids get WWW + :80 + trailing slash, odd ids get
    tracking params + fragment + :8080 is kept only when doc_id % 4 == 1."""
    d = F.col("doc_id")
    base = F.floor(d / 2).cast("long")
    even = d % 2 == 0
    url = F.concat(
        F.lit("HTTP://"),
        F.when(even, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("Site"), (base % 10).cast("string"), F.lit(".Example.COM"),
        F.when(even, F.lit(":80")).otherwise(
            F.when(d % 4 == 1, F.lit(":8080")).otherwise(F.lit(""))
        ),
        F.lit("/Path/"), base.cast("string"),
        F.when(even, F.lit("/")).otherwise(F.lit("")),
        F.when(even, F.lit("?b=2&a=1")).otherwise(
            F.lit("?utm_source=x&b=2&a=1")
        ),
        F.when(~even, F.lit("#frag")).otherwise(F.lit("")),
    )
    return _docs_table(spark, sf_dir).select("doc_id", url.alias("url"))


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + URL-level dedup (operators/web): messy pairs
    (WWW/case/default-port/trailing-slash/tracking-params/fragment) must
    collapse to one canonical URL each — EXCEPT odd ids carrying a real
    :8080 port, which stay distinct. Winner = smallest doc_id, whole row
    atomic. The oracle re-runs the identical RE2-portable normalization
    chain in DuckDB."""
    from ocr_spark.operators.web import url_dedup

    urls = _messy_urls(spark, sf_dir)
    return url_dedup(urls).select(
        "canonical_url", "doc_id", "url"
    ).orderBy("canonical_url")


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain share cap (C4/RefinedWeb-style): one hot domain holds 80%
    of the corpus; cap=25 keeps small domains intact and thins the hot one
    via the row-local portable-uniform threshold (no domain-keyed window —
    the skew-bomb-free scale path). DuckDB recomputes counts + the md5
    uniform and must select the identical survivor set."""
    from ocr_spark.operators.web import domain_cap

    d = F.col("doc_id")
    dom = F.when(
        d % 5 == 0, F.concat(F.lit("cold"), (d % 7).cast("string"))
    ).otherwise(F.lit("hot"))
    urls = _docs_table(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit("https://"), dom, F.lit(".com/"), d.cast("string")).alias("url"),
    )
    out = domain_cap(urls, cap=25, seed=11)
    return out.select("doc_id", "domain", "domain_docs").orderBy("doc_id")


def q_classifier_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed linear quality classifier (CCNet/DCLM-shape
    gate): 32 seeded weight buckets, md5-portable word hashing, mean-pooled
    logit + logistic — row-local, zero shuffles. The oracle regenerates the
    identical weight vector from (n_buckets, seed) and recomputes the md5
    bucket digit-by-digit."""
    from ocr_spark.operators.classify import classifier_score, make_seeded_weights

    docs = _docs_table(spark, sf_dir).select("doc_id", "text")
    out = classifier_score(
        docs, make_seeded_weights(32, seed=5), bias=0.25, seed=3
    )
    return out.select(
        "doc_id",
        "n_words",
        F.round("score", 4).alias("quality_prob"),
        (F.col("score") >= 0.5).alias("keep"),
    ).orderBy("doc_id")


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (operators/cluster): seeded-centroid k-means
    cells (the oracle-reproducible n_iter=0 form), cell-local cosine pairs,
    drop any doc with a smaller-id cell-mate above the threshold. The
    0.4 threshold matches the planted near-dup band of the synthetic
    embeddings (same as embedding_near_dup) so both verdicts appear."""
    from ocr_spark.operators.cluster import semdedup

    emb = _emb_table(spark, sf_dir).withColumnRenamed("vec_id", "doc_id")
    # semdedup localCheckpoints its assignments, so the broadcast
    # assignment runs once instead of once per plan branch (the gate plan
    # has five: both join sides, the verdict join, the cell-size count,
    # and the giant-cell split) — measured 6.4 -> ~3 s at sf0.1
    out = semdedup(emb, n_cells=8, threshold=0.4, n_iter=0)
    return out.select("doc_id", "cell", "keep").orderBy("doc_id")


# gate pairs that share an expensive model-fit upstream (DSIR, langid, the
# CCNet LM) memoize it per (session, name, sf_dir) as an eager
# localCheckpoint — value-identical (every stage is deterministic), and the
# driver's back-to-back invocations pay the corpus-fit scans once, not twice
_GATE_MEMO: dict = {}


def _memo_checkpoint(spark: SparkSession, key, build) -> DataFrame:
    k = (spark, key)
    got = _GATE_MEMO.get(k)
    if got is None:
        got = build().localCheckpoint()
        _GATE_MEMO[k] = got
    return got


def _dsir_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared upstream of the two DSIR gates: target = every 11th document
    (a deterministic 'domain' slice), raw = the rest; 32 md5 buckets over
    unigram+bigram features, add-0.5 smoothing — every stage md5/ln-portable
    so DuckDB replays the whole fit + scoring bit-for-bit."""
    from ocr_spark.operators.dsir import dsir_log_ratios, dsir_score

    def build():
        docs = _docs_table(spark, sf_dir).select("doc_id", "text")
        target = docs.filter(F.col("doc_id") % 11 == 0)
        raw = docs.filter(F.col("doc_id") % 11 != 0)
        llr = dsir_log_ratios(target, raw, 32, ns=(1, 2), seed=3, add_k=0.5)
        return dsir_score(raw, llr, 32, ns=(1, 2), seed=3)

    return _memo_checkpoint(spark, ("dsir", sf_dir), build)


def q_dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights (operators/dsir, arXiv:2302.03169-style
    hashed-ngram distribution matching): per-raw-document sum of the
    target-vs-raw log-likelihood ratio of its hashed unigram+bigram
    features."""
    return _dsir_scored(spark, sf_dir).select(
        "doc_id", "n_feats", F.round("log_w", 4).alias("log_w")
    ).orderBy("doc_id")


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR Gumbel-top-k selection: the 20 raw documents with the largest
    ``log_w + Gumbel(seed, id)`` key (sampling-without-replacement from the
    softmax of the importance weights), ties by doc_id — plans as
    TakeOrderedAndProject, and the Gumbel draw is the md5-portable uniform
    shifted to the open interval so ln never sees 0 in either engine."""
    from ocr_spark.operators.dsir import dsir_resample

    out = dsir_resample(_dsir_scored(spark, sf_dir), 20, seed=7)
    return out.select(
        "doc_id", F.round("gumbel_score", 4).alias("gumbel_score")
    ).orderBy("doc_id")


def q_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UT1-style domain blocklist verdicts (operators/web.blocklist_filter):
    blocking a registrable domain blocks every subdomain — suffix fan-out
    is bounded (max_depth), the blocklist broadcasts, only matched docs
    reach the per-doc aggregation (the decontaminate plan shape). Hosts are
    synthesized with case + www noise so canonicalization is exercised."""
    from ocr_spark.operators.web import blocklist_filter

    d = F.col("doc_id")
    sub = F.when(d % 2 == 0, F.lit("ads.")).otherwise(F.lit(""))
    base = F.when(
        d % 3 == 0,
        F.concat(F.lit("bad"), (d % 2).cast("string"), F.lit(".example")),
    ).otherwise(F.concat(F.lit("ok"), (d % 5).cast("string"), F.lit(".org")))
    urls = _docs_table(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("https://WWW."), sub, base, F.lit("/p/"), d.cast("string")
        ).alias("url"),
    )
    bl = spark.createDataFrame(
        [("bad0.example",), ("bad1.example",), ("unused.net",)], "domain string"
    )
    out = blocklist_filter(urls, bl)
    return out.select("doc_id", "host", "blocked").orderBy("doc_id")


def q_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source mix weights (Pile-style epoch weighting):
    src0 upsampled 2.5x, src1 kept at 25%, src2 dropped, everything else
    at the 1.0 default — decided by the portable md5 uniform so DuckDB
    recomputes the identical mix."""
    from ocr_spark.operators.mixing import weighted_sample

    docs = _docs_table(spark, sf_dir).select("doc_id", "source")
    weights = spark.createDataFrame(
        [("src0", 2.5), ("src1", 0.25), ("src2", 0.0)], ["source", "weight"]
    )
    out = weighted_sample(docs, weights, strat_col="source", seed=7)
    return out.select(
        "doc_id", "source", F.col("copy").alias("copy_idx")
    ).orderBy("doc_id", "copy_idx")


def q_split_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test holdout split via the portable md5
    uniform. Fractions are binary-exact (0.75/0.125/0.125) so the
    cumulative ladder is bit-identical across engines."""
    from ocr_spark.operators.mixing import split_corpus

    docs = _docs_table(spark, sf_dir).select("doc_id")
    return split_corpus(
        docs, fractions={"train": 0.75, "val": 0.125, "test": 0.125}, seed=11
    ).orderBy("doc_id")


def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide 20 most frequent word 3-grams (C4-style blocklist
    sweep), ties broken by gram ascending."""
    from ocr_spark.operators.curation import top_ngrams

    docs = _docs_table(spark, sf_dir).select("text")
    return top_ngrams(docs, n=3, k=20)


def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 intra-document repeated-line removal. The flat corpus has no
    newlines, so the gate synthesizes 2-word lines from the word stream
    (identically in both engines — ~35% of docs then carry a duplicate
    line) and checks the deduplicated text value-exactly."""
    from ocr_spark.operators.curation import dedup_lines, words_column

    # materialize the words array BEFORE the lambda: referencing the
    # words_column expression inside F.transform re-inlines the full
    # regexp split per synthesized line (the lambda-CSE pitfall)
    wdocs = _docs_table(spark, sf_dir).select(
        "doc_id", words_column(F.col("text")).alias("__w")
    )
    w = F.col("__w")
    idx = F.when(
        F.size(w) >= 1, F.sequence(F.lit(0), F.floor((F.size(w) - 1) / 2).cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    lines = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(w, i * 2 + 1, 2)))
    lined = wdocs.select("doc_id", F.concat_ws("\n", lines).alias("text"))
    return dedup_lines(lined).orderBy("doc_id")


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (capacity 256, 8 shards): pack layout
    must be reproducible from (capacity, n_shards) alone."""
    from ocr_spark.operators.mixing import pack_sequences

    docs = _docs_table(spark, sf_dir).select("doc_id", "text")
    return pack_sequences(docs, capacity=256, n_shards=8).orderBy("doc_id")


def _lm_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared upstream of the two CCNet-LM gates: unigram LM (add-0.5
    smoothing) built from the corpus itself, per-doc cross-entropy in
    nats."""
    from ocr_spark.operators.curation import lm_cross_entropy, unigram_lm

    def build():
        docs = _docs_table(spark, sf_dir).select("doc_id", "text")
        lm, unseen = unigram_lm(docs, add_k=0.5)
        return lm_cross_entropy(docs, lm, unseen_logp=unseen)

    return _memo_checkpoint(spark, ("lm", sf_dir), build)


def q_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality score: unigram LM (add-0.5 smoothing) built
    from the corpus itself, per-doc cross-entropy in nats."""
    out = _lm_scored(spark, sf_dir)
    return out.select(
        "doc_id", "n_words", F.round("cross_entropy", 4).alias("cross_entropy")
    ).orderBy("doc_id")


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity split (curation.perplexity_buckets)
    over the lm_quality upstream, exercising the operator's PRODUCTION
    explicit-thresholds path with discrete order-statistic tertile cuts.

    The cuts are the ceil(n/3)-th and ceil(2n/3)-th smallest 4dp-rounded
    cross-entropies — actual grid values, identical in any engine fed the
    same multiset. Interpolating quantiles (percentile/quantile_cont) are
    NOT a cross-engine value surface: ulp-level CE sum-order differences
    shift an interpolated cut, and with degenerate docs tied exactly at
    the boundary a whole cluster flips bucket (caught by the fuzz section
    of the adversarial corpus). Doc at a threshold goes to the lower
    bucket. The percentile_approx compute path stays pytest-covered (no
    SQL twin by design)."""
    from ocr_spark.operators.curation import perplexity_buckets

    scored = _lm_scored(spark, sf_dir).withColumn(
        "cross_entropy", F.round("cross_entropy", 4)
    )
    n = scored.count()
    cuts = [0.0, 0.0]  # an empty upstream has no order statistic to cut at
    if n:
        cuts = [
            float(
                scored.orderBy("cross_entropy", "doc_id")
                .limit(int(k))
                .agg(F.max("cross_entropy").alias("t"))
                .collect()[0]["t"]
            )
            for k in ((n + 2) // 3, (2 * n + 2) // 3)  # ceil(n/3), ceil(2n/3)
        ]
    out = perplexity_buckets(scored, thresholds=tuple(cuts))
    return out.select(
        "doc_id", "n_words", "cross_entropy", "bucket"
    ).orderBy("doc_id")


def q_substr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup (curation.exact_substring_dedup, arXiv:2107.06499):
    a shared 8-word boilerplate block is planted at the head of every third
    document, so its sliding 5-word windows are corpus-wide duplicates; the
    lexicographically first occurrence keeps its text, every other planted
    doc loses the maximal merged span. Value-exact via md5 of the rebuilt
    text (untouched docs keep their original text byte-for-byte)."""
    from ocr_spark.operators.curation import exact_substring_dedup

    planted = _docs_table(spark, sf_dir).selectExpr("doc_id", f"{_SUBSTR_TEXT_SQL} as text")
    out = exact_substring_dedup(planted, min_words=5)
    return out.select(
        "doc_id",
        F.md5(F.coalesce("text", F.lit(""))).alias("text_md5"),
        "n_words",
        "n_removed",
        "n_dup_spans",
    ).orderBy("doc_id")


def q_wet_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET record parsing (sources/warc.wet_record_columns): every document
    is serialized into a CRLF WARC conversion record (headers + blank line
    + payload + record padding) and parsed back columnar — the oracle is
    the identity on the planted fields, with the payload's trailing
    newline run folded into the record padding (the WET framing makes the
    two indistinguishable by design)."""
    from ocr_spark.sources.warc import wet_record_columns

    d = _docs_table(spark, sf_dir).select(
        "doc_id", F.coalesce("text", F.lit("")).alias("t")
    )
    rec = d.select(
        "doc_id",
        F.concat(
            F.lit("\r\nWARC-Type: conversion\r\nWARC-Target-URI: http://ex.com/"),
            F.col("doc_id").cast("string"),
            F.lit("\r\nWARC-Date: 2024-01-0"),
            (F.col("doc_id") % 9 + 1).cast("string"),
            F.lit("T00:00:00Z\r\nContent-Length: "),
            F.length("t").cast("string"),
            F.lit("\r\n\r\n"),
            F.col("t"),
            F.lit("\r\n\r\n"),
        ).alias("value"),
    )
    cols = wet_record_columns("value")
    return rec.select(
        "doc_id",
        cols["record_type"].alias("record_type"),
        cols["url"].alias("url"),
        cols["warc_date"].alias("warc_date"),
        cols["content_length"].alias("content_length"),
        F.md5(F.coalesce(cols["text"], F.lit(""))).alias("text_md5"),
        # the synthesis declares Content-Length in CHARACTERS (a realistic
        # producer bug), so multibyte documents fail the octet cross-check
        # while ASCII ones pass — both length_ok verdicts are exercised
        cols["length_ok"].alias("length_ok"),
    ).orderBy("doc_id")


def _langid_inputs(spark: SparkSession, sf_dir: str):
    """Shared upstream of the two langid gates: three synthetic 'languages'
    derived deterministically from the documents table (doc_id % 3 —
    'aa' = raw text, 'bb' = vowel-masked, 'cc' = consonant-masked, each a
    distinct char-trigram distribution), fit on the doc_id % 5 == 0 slice,
    score the rest. Both masks are translate() — PER-CODEPOINT in every
    engine; the earlier 'cc' = reverse() diverged on combining marks
    (DuckDB reverses GRAPHEMES, Spark reverses codepoints)."""
    d = F.col("doc_id")
    docs = _docs_table(spark, sf_dir).selectExpr(
        "doc_id", f"{_LANGID_LANG_SQL} as lang", f"{_LANGID_TEXT_SQL} as text"
    )
    fit = docs.filter(d % 5 == 0).select("lang", "text")
    score = docs.filter(d % 5 != 0).select("doc_id", "text")
    return fit, score


def _langid_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared fit+score upstream of the two langid gates (the per-char
    md5 gram stream is the expensive part — pay it once)."""
    from ocr_spark.operators.langid import langid_fit, langid_scores

    def build():
        fit, score = _langid_inputs(spark, sf_dir)
        model = langid_fit(fit, 64, n=3, seed=9, add_k=0.5)
        return langid_scores(score, model, 64, n=3, seed=9)

    return _memo_checkpoint(spark, ("langid", sf_dir), build)


def q_langid_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(doc, language) naive-Bayes log-scores from the trained hashed
    char-trigram model (operators/langid, CCNet §4.2's lid stage): 64 md5
    buckets, add-0.5 smoothing, doc-count priors — every stage replayed
    bit-for-bit by the oracle."""
    out = _langid_scored(spark, sf_dir)
    return out.select(
        "doc_id", "lang", "n_grams", F.round("score", 4).alias("score")
    ).orderBy("doc_id", "lang")


def q_langid_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax language per document over the q_langid_scores model — a
    map-side max-struct aggregation (never a window), scores rounded 6dp
    for the comparison with exact ties breaking to the smallest language
    in BOTH engines."""
    from ocr_spark.operators.langid import langid_predict

    out = langid_predict(_langid_scored(spark, sf_dir))
    return out.select(
        "doc_id", "lang", F.round("score", 4).alias("score")
    ).orderBy("doc_id")


def q_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized candidate scan + exact rescore (operators/quantize):
    the 4x-smaller-storage ANN path. The oracle recomputes the identical
    quantization (round half away from zero in both engines), the identical
    left-associated approx product, and the same rescore."""
    from ocr_spark.operators.quantize import topk_similar_quantized

    emb = _emb_table(spark, sf_dir).withColumnRenamed("vec_id", "doc_id")
    qvec = [float(x) for x in emb.filter(F.col("doc_id") == 0).collect()[0]["embedding"]]
    out = topk_similar_quantized(
        emb.filter(F.col("doc_id") != 0), qvec, k=10, rescore_factor=4
    )
    return out.select("doc_id", F.round("similarity", 4).alias("similarity"))


def q_topk_similar(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb_table(spark, sf_dir).withColumnRenamed("vec_id", "doc_id")
    qvec = emb.filter(F.col("doc_id") == 0).select("embedding").collect()[0][0]
    top = top_k_similar(emb, list(qvec), k=10, threshold=-1.0, exclude_id=0)
    return top.select("doc_id", F.round("similarity", 4).alias("similarity"))


def q_topk_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb_table(spark, sf_dir).withColumnRenamed("vec_id", "doc_id")
    queries_df = emb.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = top_k_per_query(emb, queries_df, k=5, threshold=-1.0)
    return out.select(
        "query_id", "doc_id", F.round("similarity", 4).alias("similarity"), "rank"
    )


def q_allpairs_label_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 over labels, via the blocked-matmul pair source
    (all_pairs_similarity_blocked: each task holds two hash-blocks and runs
    one BLAS matmul — the r2 gate ran the per-pair expression cross join,
    correct but 6× slower at 2000 vectors and the wrong shape for a large
    corpus). The oracle counts pairs at cosine ≥ 0.25 per label pair —
    implementation-agnostic, so the plan swap is gate-invisible; labels
    rejoin BROADCAST onto the surviving pairs only."""
    from ocr_spark.operators.similarity import all_pairs_similarity_blocked

    emb = _emb_table(spark, sf_dir)
    pairs = all_pairs_similarity_blocked(
        emb, threshold=0.25, id_col="vec_id", vec_col="embedding"
    )
    labels = emb.select("vec_id", "label")
    return (
        pairs.join(
            F.broadcast(labels.select(F.col("vec_id").alias("id_a"), F.col("label").alias("label_a"))),
            "id_a",
        )
        .join(
            F.broadcast(labels.select(F.col("vec_id").alias("id_b"), F.col("label").alias("label_b"))),
            "id_b",
        )
        .groupBy("label_a", "label_b")
        .agg(F.count("*").alias("n_pairs"))
    )


def q_recent_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_table(spark, sf_dir).filter(F.col("user_id") < 10)
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "event_type", "rn")
    )


def q_event_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_table(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value")
    )


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_table(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.withColumn("k_bucket", k % 10)
        .groupBy("k_bucket")
        .agg(F.count("*").alias("n"), F.round(F.avg(k), 4).alias("avg_k"))
    )


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _tpch(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _tpch(spark, sf_dir, "orders")
    cust = _tpch(spark, sf_dir, "customer")
    nation = _tpch(spark, sf_dir, "nation")
    joined = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    return (
        joined.select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "c_name", "n_name")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
    )


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _tpch(spark, sf_dir, "orders")
    cust = _tpch(spark, sf_dir, "customer")
    nation = _tpch(spark, sf_dir, "nation")
    no_orders = cust.join(
        orders.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti"
    )
    return (
        no_orders.join(F.broadcast(nation), no_orders.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"))
    )


def q_parts_multi_cond(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 AND-search via the real questions_by_multiple_tags operator."""
    part = _tpch(spark, sf_dir, "part")
    li = _tpch(spark, sf_dir, "lineitem")
    questions = part.select(F.col("p_partkey").cast("string").alias("question_id"), "p_brand")
    tags = li.select(
        F.col("l_partkey").cast("string").alias("question_id"),
        F.col("l_returnflag").alias("tag_key"),
        F.lit("y").alias("tag_value"),
    )
    hits = questions_by_multiple_tags(questions, tags, {"R": "y", "A": "y"})
    return hits.groupBy("p_brand").agg(F.count("*").alias("n_parts"))


def _derived_answers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a DataFrame argument, not a temp view: one session may read several
    # sf dirs, and a named view would be shared between them
    return spark.sql(_DERIVED_ANSWERS_SQL, orders=_tpch(spark, sf_dir, "orders"))


def _derived_meta(spark: SparkSession) -> DataFrame:
    return spark.sql(_DERIVED_META_SQL)


def q_weighted_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = weighted_scores(_derived_answers(spark, sf_dir), _derived_meta(spark))
    return out.select("user_id", "exam_type", "correct_count", "wrong_count", "total_score")


def q_calculate_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = calculate_scores(_derived_answers(spark, sf_dir), _derived_meta(spark))
    return out.select("user_id", "exam_type", "final_score")


def q_best_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _tpch(spark, sf_dir, "orders")
    stats = orders.select(
        F.concat(F.lit("u"), (F.col("o_custkey") % 37).cast("string")).alias("user_id"),
        F.lit("EXAM").alias("exam_type"),
        F.col("o_totalprice").alias("total_score"),
        (F.col("o_orderkey") % 10).cast("int").alias("correct_count"),
        (F.col("o_orderkey") % 7).cast("int").alias("wrong_count"),
    )
    out = best_stat_per_user(stats)
    return out.select(
        "user_id", "exam_type", F.round("total_score", 2).alias("total_score"),
        "correct_count", "wrong_count",
    )


def q_frequent_questions(spark: SparkSession, sf_dir: str) -> DataFrame:
    freq = spark.range(200).select(
        F.concat(F.lit("Q"), F.col("id").cast("string")).alias("question_id"),
        F.lit("EXAM").alias("exam_type"),
        ((F.col("id") * 37 % 1000) / 10.0).alias("final_score"),
    )
    out = frequent_questions_excluding_recent(
        freq, _derived_answers(spark, sf_dir), "u5", "EXAM", limit=10, recent_n=20
    )
    return out.select("question_id", F.round("final_score", 2).alias("final_score"))


def q_weak_questions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+O4: most-missed questions ranked by priority — the reference's
    third analytics endpoint (/root/reference/app/services/
    weak_question_service.py:47-103)."""
    from ocr_spark.operators.scores import weak_questions

    out = weak_questions(
        _derived_answers(spark, sf_dir), _derived_meta(spark), "u5", "EXAM", limit=10
    )
    return out.select("question_id", "incorrect_count", "priority")


def q_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native vector-math surface: l2_norm, euclidean_distance and the
    once-per-row unit_vector normalization, all JVM-side expressions."""
    from ocr_spark.functions.vectors import euclidean_distance, l2_norm, unit_vector

    emb = _emb_table(spark, sf_dir)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    q = F.array(*[F.lit(float(x)) for x in qvec])
    return emb.select(
        "vec_id",
        F.round(l2_norm("embedding"), 4).alias("norm"),
        F.round(euclidean_distance("embedding", q), 4).alias("dist_q0"),
        F.round(F.element_at(unit_vector("embedding"), 1), 4).alias("u1"),
    )


def q_union_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _tpch(spark, sf_dir, "customer")
    seg = cust.filter(F.col("c_mktsegment") == "BUILDING").unionByName(
        cust.filter(F.col("c_mktsegment") == "MACHINERY")
    )
    negative = cust.filter(F.col("c_acctbal") < 0).select("c_custkey")
    return seg.join(negative, "c_custkey", "left_anti").select("c_custkey", "c_name")


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _tpch(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("l_extendedprice"), "l_orderkey", "l_linenumber"
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("l_returnflag", "l_orderkey", "l_linenumber",
                F.round("l_extendedprice", 2).alias("l_extendedprice"), "rn")
    )


def q_tag_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: tag-value histogram (/root/reference/src/tag_manager.py:552-558)."""
    li = _tpch(spark, sf_dir, "lineitem")
    tags = li.select(
        F.col("l_partkey").cast("string").alias("question_id"),
        F.col("l_returnflag").alias("tag_key"),
        F.col("l_linestatus").alias("tag_value"),
    )
    return tag_histogram(tags, "R").withColumnRenamed("count", "n")


def q_tag_min_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: json_array_length(tag_value) >= k (/root/reference/src/tag_manager.py:513-520)."""
    docs = _docs_table(spark, sf_dir)
    years = F.transform(
        F.sequence(F.lit(2019), (F.lit(2019) + F.col("doc_id") % 4).cast("int")),
        lambda y: y.cast("string"),
    )
    tags = docs.select(
        F.col("doc_id").cast("string").alias("question_id"),
        F.lit("year_list").alias("tag_key"),
        F.to_json(years).alias("tag_value"),
    )
    return questions_with_min_years(tags, min_years=3).select("question_id", "n_years")


def q_head_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5: head/tail slice by similarity (/root/reference/src/embedding_analyzer.py:329-333)."""
    from ocr_spark.functions.vectors import cosine_similarity

    emb = _emb_table(spark, sf_dir).withColumnRenamed("vec_id", "doc_id")
    qvec = emb.filter(F.col("doc_id") == 0).select("embedding").collect()[0][0]
    q = F.array(*[F.lit(float(x)) for x in qvec])
    scored = (
        emb.filter(F.col("doc_id") != 0)
        .select("doc_id", cosine_similarity("embedding", q).alias("similarity"))
    )
    out = head_tail_similar(scored, 5, 5, tiebreak_cols=("doc_id",))
    return out.select("doc_id", F.round("similarity", 4).alias("similarity"), "side")


def q_json_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9: fenced-JSON block extraction (/root/reference/src/generate_embedding.py:187-193)."""
    docs = _docs_table(spark, sf_dir)
    return docs.select("doc_id", extract_json_block(F.expr(_JSON_TEXT_SQL)).alias("block"))


def q_markdown_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10: span sequence -> markdown render, order-exact
    (/root/reference/src/compare_samples.py:129-146)."""
    docs = _spans_from_documents(_docs_table(spark, sf_dir))
    return render_markdown(docs)


def q_base64_mime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12: base64 encode + extension MIME sniff + byte checksum
    (/root/reference/src/ocr_engine.py:190-198, src/ocr_to_markdown.py:95-123)."""
    docs = _docs_table(spark, sf_dir).selectExpr("*", f"{_MIME_EXT_SQL} as ext")
    fname = F.expr(_MIME_NAME_SQL)
    checksum = F.aggregate(
        F.transform(F.split(F.substring("text", 1, 16), ""), lambda c: F.ascii(c)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return docs.select(
        "doc_id",
        fname.alias("file_name"),
        mime_type(fname).alias("mime"),
        # Spark's base64() is the MIME encoder: it inserts a CRLF every 76
        # output chars, so any 32-char prefix wider than 57 BYTES (multibyte
        # content) wraps while DuckDB's to_base64 never does. Strip the
        # wrapping for the portable RFC-4648-unchunked contract.
        F.regexp_replace(
            F.base64(F.encode(F.substring("text", 1, 32), "utf-8")), "\r\n", ""
        ).alias("b64"),
        checksum.alias("checksum"),
    )


def q_stride_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: k evenly-spaced docs incl. last (/root/reference/src/extract_sample_pages.py:38-50)."""
    docs = _docs_table(spark, sf_dir).select("doc_id")
    return stride_sample(docs, "doc_id", k=10)


def q_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: pairs with identical 64-bit fingerprints of
    normalized text. Oracle checks text-equality pairs — identical text <=>
    identical xxhash64 fingerprint (collision-free at this scale)."""
    docs = _docs_table(spark, sf_dir).select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 7 == 0).selectExpr(
        "doc_id + 200000 as doc_id", f"'  ' || {_ASCII_UPPER_SQL} as text"
    )
    un = docs.unionByName(copies)
    fp = un.select("doc_id", doc_fingerprint("text").alias("fp"))
    a = fp.select(F.col("doc_id").alias("id_a"), "fp")
    b = fp.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
    )


def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash (winnowing-style) chunk overlap between docs and their
    tail-modified copies: shared distinct 8-word chunk fingerprints per pair.
    Oracle computes shared literal chunks (hash is 1:1 on equal chunks)."""
    docs = _docs_table(spark, sf_dir).filter(F.col("doc_id") < 60).select("doc_id", "text")
    near = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" appended drift tokens here")).alias("text"),
    )
    un = docs.unionByName(near)
    chunks = un.select(
        "doc_id", F.explode(F.array_distinct(rolling_fingerprints("text", window=8))).alias("chunk")
    )
    a = chunks.select(F.col("doc_id").alias("id_a"), "chunk")
    b = chunks.select(F.col("doc_id").alias("id_b"), "chunk")
    return (
        a.join(b, "chunk")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared_chunks"))
        .filter(F.col("shared_chunks") >= 5)
    )


def q_simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs on the md5 per-word hash (DuckDB recomputes
    the identical bits, so this row is fully oracle-checked) — the same
    operator the 500k scaling leg measures. Exact copies must surface at
    hamming 0; drifted copies at small hamming."""
    docs = _docs_table(spark, sf_dir).filter(F.col("doc_id") < 100).select("doc_id", "text")
    near = docs.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    un = docs.unionByName(near).withColumn(
        "doc_id", F.lpad(F.col("doc_id").cast("string"), 7, "0")
    )
    # 8 blocks of 8 bits, PAIR-of-blocks candidate indexes (the ≥10⁹-doc
    # scale path: 2^16 buckets per index instead of 2^8): pigeonhole
    # guarantees full recall at hamming <= n_blocks-2 = 6, exactly the ask.
    # The oracle's result set is {pairs at hamming <= 6} — independent of
    # the candidate scheme, so it checks recall as well as the hash.
    return simhash_dup_pairs(un, max_hamming=6, n_blocks=8).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "hamming",
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup removal (drop-the-larger-id policy):
    survivors of cosine >= 0.4 against any lower id."""
    from ocr_spark.operators.dedup import embedding_near_dup_ids

    emb = _emb_table(spark, sf_dir).withColumnRenamed("vec_id", "doc_id")
    dropped = embedding_near_dup_ids(emb, threshold=0.4)
    return emb.join(dropped, "doc_id", "left_anti").select("doc_id", "label")


def q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling one-hour event-time windows: per-(window, event_type)
    counts and value sums."""
    ev = _events_table(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def q_extreme_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: most/least similar pair via max_by/min_by
    (/root/reference/src/embedding_analyzer.py:245-259)."""
    from ocr_spark.operators.similarity import most_least_similar_pair

    emb = _emb_table(spark, sf_dir).filter(F.col("vec_id") < 200).withColumnRenamed(
        "vec_id", "doc_id"
    )
    out = most_least_similar_pair(emb)
    return out.select(
        F.col("most_similar.id_a").alias("most_a"),
        F.col("most_similar.id_b").alias("most_b"),
        F.round("max_similarity", 4).alias("max_sim"),
        F.col("least_similar.id_a").alias("least_a"),
        F.col("least_similar.id_b").alias("least_b"),
        F.round("min_similarity", 4).alias("min_sim"),
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic coarse quantizer + cell-local exact search
    (pgvector ivfflat analog); oracle recomputes cells + probes in SQL."""
    from ocr_spark.operators.similarity import ivf_topk_per_query

    emb = _emb_table(spark, sf_dir).withColumnRenamed("vec_id", "doc_id")
    qs = emb.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ivf_topk_per_query(emb, qs, n_cells=16, n_probe=4, k=5)
    return out.select(
        "query_id", "doc_id", F.round("similarity", 4).alias("similarity"), "rank"
    )


def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary metadata: synthesize blobs (some with PNG/JPEG
    magic), decode metadata and run the T11 resize-quality loop
    (/root/reference/src/gemini_image_analyzer.py:536-576) — via the NATIVE
    JVM-side byte-stat path (decode_meta_native/resize_meta_native): zero
    Arrow traffic for a metadata-only query (the r1 two-UDF version shipped
    every multi-KB blob to Python twice — 52% of the whole bench). The
    pandas-UDF decode plumbing stays exercised by media_features and the
    native≡UDF property test (tests/test_media_ann_sampling.py)."""
    from ocr_spark.operators.media import decode_meta_native, resize_meta_native

    docs = _docs_table(spark, sf_dir)
    # printable-ASCII sanitize: the DuckDB twin replays the byte arithmetic
    # with ord()/length() on STRINGS, which is byte-exact only when every
    # char is single-byte — so the synthesized payload is canonicalized to
    # [ -~] on BOTH sides before encoding (the operator still sees real
    # bytes; only the fixture synthesis is restricted)
    ascii_text = F.regexp_replace("text", "[^ -~]", "")
    payload = F.concat(
        F.col("source"), F.lit(":"),
        F.repeat(F.substring(ascii_text, 1, 50), ((F.col("doc_id") % 40) * 20).cast("int")),
    )
    ascii_bytes = F.encode(payload, "utf-8")
    blob = (
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.unhex(F.lit("89504E47")), ascii_bytes))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.unhex(F.lit("FFD8")), ascii_bytes))
        .otherwise(ascii_bytes)
    )
    df = (
        docs.withColumn("data", blob)
        .withColumn("meta", decode_meta_native("data"))
        .withColumn("rz", resize_meta_native(F.col("meta.n_bytes")))
    )
    return df.select(
        "doc_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.format").alias("format"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("rz.n_bytes").alias("final_bytes"),
        F.col("rz.quality").alias("quality"),
        F.col("rz.resized").alias("resized"),
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-histogram media features (T15's image half, deterministic fake
    decode): synthesize bytes -> decode meta -> resize -> float64
    features; exploded for value-exact oracle comparison."""
    from ocr_spark.operators.media import (
        byte_histogram_features,
        make_decode_udf,
        make_resize_udf,
        synthesize_media_bytes,
    )

    decode_image_meta, resize_image_if_needed = make_decode_udf(), make_resize_udf()
    docs = _docs_table(spark, sf_dir).filter(F.col("doc_id") < 100).select(
        "doc_id",
        F.col("source").alias("media_ref"),
        # printable-ASCII sanitize — see q_media_meta; the DuckDB twin's
        # ord() histogram is byte-exact only on single-byte chars
        F.regexp_replace("text", "[^ -~]", "").alias("text"),
    )
    feat = byte_histogram_features(64)
    mt = (
        docs.withColumn("data", synthesize_media_bytes("media_ref", "text"))
        .withColumn("meta", decode_image_meta("data"))
        .withColumn("rz", resize_image_if_needed("data"))
        .withColumn("features", feat(F.col("rz.data")))
    )
    return mt.select("doc_id", F.posexplode("features").alias("bucket", "v")).select(
        "doc_id", "bucket", F.round("v", 4).alias("val")
    )


def q_problems_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10: problems struct -> reference-exact markdown render
    (/root/reference/src/compare_samples.py:129-146), fully native fold."""
    from ocr_spark.operators.structure import render_problems_markdown

    docs = _spans_from_documents(_docs_table(spark, sf_dir))
    probs = extract_problems(docs)
    return render_problems_markdown(probs).select("doc_id", "markdown")


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via LCG random-projection buckets + exact rescoring — the
    scale path replacing pgvector ivfflat (/root/reference/src/db_utils.py:104-107).
    The oracle recomputes the identical bucket arithmetic in SQL."""
    emb = _emb_table(spark, sf_dir).withColumnRenamed("vec_id", "doc_id")
    qs = emb.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ann_topk_per_query(emb, qs, dim=64, k=5, n_planes=8, n_bands=2, seed=42)
    return out.select(
        "query_id", "doc_id", F.round("similarity", 4).alias("similarity"), "rank"
    )


def q_pdf_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 page-split plumbing: synthesized form-feed 'PDF' blobs (one per
    doc, pages of 10 words) → mapInPandas page splitter → reference-scheme
    page ids; the oracle re-derives pages from the same word arithmetic, so
    the fan-out (one file row → many page rows) is value-checked."""
    from ocr_spark.sources.pdf import pages_to_docs, split_pages

    # words materialized as a column: referencing the split EXPRESSION inside
    # the chunk lambda would re-evaluate it per chunk (lambda-CSE pitfall).
    # Literal \f is stripped from the content FIRST: the synthesized blob
    # frames pages with form-feeds, so a content \f would forge page breaks
    # (content-vs-framing collision — same class as the \x00 image
    # sentinel); the oracle mirrors with replace(text, chr(12), '')
    docs = _docs_table(spark, sf_dir).withColumn(
        "__words", F.split(F.regexp_replace("text", r"\f", ""), " ")
    )
    n = F.size("__words")
    chunks = F.transform(
        F.sequence(F.lit(0), F.ceil(n / F.lit(10.0)).cast("int") - 1),
        lambda i: F.array_join(F.slice(F.col("__words"), i * 10 + 1, 10), " "),
    )
    pdf = F.encode(F.array_join(chunks, "\f"), "utf-8")
    files = docs.select(
        F.concat(
            F.lit("mem://"), F.col("source"), F.lit("/"),
            F.col("doc_id").cast("string"), F.lit(".pdf"),
        ).alias("path"),
        pdf.alias("content"),
    )
    pages = pages_to_docs(split_pages(files))
    return pages.select(
        "doc_id",
        "page_no",
        F.size(F.split("text", " ")).alias("n_words"),
        F.length("text").alias("page_chars"),
    )


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL source plumbing: serialize docs to JSON lines (every 50th line
    corrupted), parse back typed via from_json — corrupt lines must isolate
    as null docs (F3), intact lines must round-trip span count and the last
    span's kind exactly."""
    from ocr_spark.sources.jsonl import doc_to_json, parse_jsonl_column

    docs = _spans_from_documents(_docs_table(spark, sf_dir))
    line = F.when(
        F.col("doc_id") % 50 == 0, F.lit('{"broken')
    ).otherwise(doc_to_json(F.col("doc_id").cast("string"), F.col("spans")))
    parsed = parse_jsonl_column(docs.select("doc_id", line.alias("line")))
    return parsed.select(
        "doc_id",
        F.col("doc.doc_id").isNotNull().alias("parsed_ok"),
        F.size("doc.spans").alias("n_spans"),
        F.element_at("doc.spans", -1)["kind"].alias("last_kind"),
    )


def q_html_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule boilerplate strip: synthesized HTML (nav/heading/content/
    short/link-farm/footer blocks) → density-classified main content.
    Expected survivors: the heading and the document body."""
    from ocr_spark.operators.boilerplate import strip_boilerplate

    docs = _docs_table(spark, sf_dir).selectExpr("doc_id", f"{_HTML_SQL} as html")
    out = strip_boilerplate(docs)
    return out.select(
        "doc_id",
        "n_blocks",
        "n_content",
        F.length("main_text").alias("main_len"),
        F.substring("main_text", 1, 60).alias("main_head"),
    )


def q_html_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-level density features (the DOM-scoring half of the north
    rule), value-exact per block."""
    from ocr_spark.operators.boilerplate import classify_blocks, html_blocks

    docs = _docs_table(spark, sf_dir).filter(F.col("doc_id") < 30).selectExpr(
        "doc_id", f"{_HTML_SQL} as html"
    )
    out = classify_blocks(html_blocks(docs))
    return out.select(
        "doc_id",
        "block_no",
        "text_chars",
        "n_words",
        "n_tags",
        "link_chars",
        F.round("link_density", 4).alias("link_density"),
        F.round("text_density", 4).alias("text_density"),
        "is_content",
    )


def _layout_tokens(docs: DataFrame) -> DataFrame:
    """Deterministic page geometry planted on the word stream: words group
    into 12-token blocks, alternating between two columns; 3 lines of 4
    tokens per block; 64px vertical gaps between blocks vs 12px between
    lines. The layout operator must recover exactly these blocks from the
    coordinates alone."""
    w = _words_with_pos(docs)
    p0 = F.col("pos") - 1
    blk = F.floor(p0 / 12)
    line = F.floor((p0 % 12) / 4)
    slot = p0 % 4
    return w.select(
        "doc_id",
        ((blk % 2) * 400 + slot * 50).cast("double").alias("x"),
        (F.floor(blk / 2) * 100 + line * 12).cast("double").alias("y"),
        F.col("word").alias("token"),
    )


def q_layout_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule layout detection: geometric block clustering + reading
    order; the oracle derives ground-truth regions from the generative
    arithmetic, so a pass proves the clustering recovers the planted
    layout."""
    from ocr_spark.operators.layout import detect_regions

    docs = _docs_table(spark, sf_dir)
    out = detect_regions(_layout_tokens(docs), column_width=400.0, gap_threshold=30.0)
    return out.select(
        "doc_id", "column", "region_no", "y0", "y1", "x0", "x1",
        "n_tokens", "text", "reading_rank",
    )


def q_reading_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full reading-order reassembly: column-major region concatenation."""
    from ocr_spark.operators.layout import assemble_reading_order, detect_regions

    docs = _docs_table(spark, sf_dir)
    regions = detect_regions(_layout_tokens(docs), column_width=400.0, gap_threshold=30.0)
    return assemble_reading_order(regions).select("doc_id", "content", "n_regions")


def q_extraction_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full extraction pipeline over synthesized spans, VALUE-exact.

    ``span_hash`` is md5 over the canonical serialization of the extracted
    span sequence — every (kind, text, media_ref, offset) in order, fields
    joined by chr(31), spans by chr(30) — so the BASELINE.json span-sequence
    invariant itself sits under the driver gate (the r2 oracle checked only
    counts). The DuckDB twin recomputes each span's post-extraction text
    with the SAME generated math+layout regex chains the t4/t6 oracles use
    (non-media spans: layout(math(word)); media spans pass through
    unchanged), then hashes the identical serialization. Counts stay as
    secondary columns."""
    ext = extract_docs(_spans_from_documents(_docs_table(spark, sf_dir)))
    ser = F.array_join(
        F.transform(
            "spans",
            lambda s: F.concat(
                s["kind"], F.lit("\x1f"),
                s["text"], F.lit("\x1f"),
                F.coalesce(s["media_ref"], F.lit("")), F.lit("\x1f"),
                s["offset"].cast("string"),
            ),
        ),
        "\x1e",
    )
    return ext.select(
        "doc_id",
        F.size("spans").alias("n_spans"),
        F.size(F.filter("spans", lambda s: s["kind"] == "media")).alias("n_media"),
        F.size(F.filter("spans", lambda s: s["kind"] == "heading")).alias("n_headings"),
        F.md5(ser).alias("span_hash"),
    )


def q_embeddings_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding generation; the SQL-checkable contract is exactly one
    unit-norm record per doc with the declared dim/type — the norm itself is
    value-checked (rounded 4dp; float32 unit vectors deviate ~1e-7). The
    numpy draw is pinned by tests/test_structure_embed.py's numpy oracle."""
    from ocr_spark.functions.vectors import l2_norm

    docs = _spans_from_documents(_docs_table(spark, sf_dir))
    emb = embeddings_from_extracted(extract_docs(docs), dim=64)
    return emb.select(
        "doc_id",
        F.size("embedding").alias("dim"),
        "embedding_type",
        F.round(l2_norm("embedding"), 4).alias("norm"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Dict ORDER is load-bearing: the correctness driver checks the FIRST 50
    # entries against the DuckDB oracle.  Round-5 rotation (VERDICT r4 #6):
    # the three r4 hash-red gates stay in until proven green, every gate
    # touched by this round's operator changes joins them, then the 33
    # r3-only gates whose driver evidence is now two rounds old; the 33
    # r4-green gates with fresh rows rotate to positions 51-83.
    return {
    # --- r4 hash-red gates, fixed by the word-split contract pin ---
        "token_entropy": q_token_entropy,
        "chunk_dedup": q_chunk_dedup,
        "curation_pipeline": q_curation_pipeline,
    # --- operators changed this round (WARC framing, langid
    #     zero-gram left-join, blocklist lambda materialization,
    #     SemDeDup giant-cell sub-blocking, perplexity empty guard) ---
        "wet_parse": q_wet_parse,
        "langid_scores": q_langid_scores,
        "langid_predict": q_langid_predict,
        "semdedup_keep": q_semdedup,
        "url_blocklist": q_blocklist,
        "perplexity_buckets": q_perplexity_buckets,
    # --- r4-green gates whose shared word-split stage changed in the
    #     contract pin (re-verify under the new tokenizer) ---
        "gopher_quality": q_gopher_quality,
        "repetition_stats": q_repetition_stats,
        "lm_quality": q_lm_quality,
        "top_ngrams": q_top_ngrams,
        "substr_dedup": q_substr_dedup,
        "classifier_quality": q_classifier_quality,
        "dsir_scores": q_dsir_scores,
        "pack_sequences": q_pack_sequences,
    # --- r3-green gates rotated back in (oldest driver evidence:
    #     their last row is two rounds old) ---
        "winnow_overlap": q_winnow_overlap,
        "simhash_dups": q_simhash_dups,
        "ann_topk": q_ann_topk,
        "media_meta": q_media_meta,
        "media_features": q_media_features,
        "embedding_near_dup": q_embedding_near_dup,
        "extreme_pair": q_extreme_pair,
        "event_windows": q_event_windows,
        "ivf_topk": q_ivf_topk,
        "pdf_pages": q_pdf_pages,
        "t4_math_rewrite": q_t4_math_rewrite,
        "t5_figure_tags": q_t5_figure_tags,
        "t13_question_id": q_t13_question_id,
        "figure_numbering": q_figure_numbering,
        "recent_events": q_recent_events,
        "event_histogram": q_event_histogram,
        "json_props": q_json_props,
        "q1_pricing_summary": q1_pricing_summary,
        "topk_orders": q_topk_orders,
        "customers_without_orders": q_customers_without_orders,
        "parts_multi_cond": q_parts_multi_cond,
        "weighted_scores": q_weighted_scores,
        "weak_questions": q_weak_questions,
        "vector_norms": q_vector_norms,
        "calculate_scores": q_calculate_scores,
        "best_stat": q_best_stat,
        "frequent_questions": q_frequent_questions,
        "union_except": q_union_except,
        "tag_histogram": q_tag_histogram,
        "tag_min_years": q_tag_min_years,
        "json_block": q_json_block,
        "base64_mime": q_base64_mime,
        "stride_sample": q_stride_sample,
    # --- rotated out this round (green driver rows in r4; every gate
    #     stays covered by tests/test_entry_parity.py) ---
        "extraction_pipeline": q_extraction_pipeline,
        "embeddings_pipeline": q_embeddings_pipeline,
        "html_boilerplate": q_html_boilerplate,
        "html_blocks": q_html_blocks,
        "layout_regions": q_layout_regions,
        "reading_order": q_reading_order,
        "jsonl_roundtrip": q_jsonl_roundtrip,
        "pii_redact": q_pii_redact,
        "decontaminate": q_decontaminate,
        "weighted_mix": q_weighted_mix,
        "split_corpus": q_split_corpus,
        "quantized_topk": q_quantized_topk,
        "dedup_lines": q_dedup_lines,
        "url_canonical": q_url_canonical,
        "domain_cap": q_domain_cap,
        "dsir_select": q_dsir_select,
        "t6_layout": q_t6_layout,
        "span_reconstruct": q_span_reconstruct,
        "problems_grammar": q_problems_grammar,
        "problems_markdown": q_problems_markdown,
        "dedup_exact": q_dedup_exact,
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_clusters": q_dedup_clusters,
        "token_stats": q_token_stats,
        "lang_detect": q_lang_detect,
        "quality_score": q_quality_score,
        "topk_similar": q_topk_similar,
        "topk_per_query": q_topk_per_query,
        "allpairs_label_counts": q_allpairs_label_counts,
        "topk_per_group": q_topk_per_group,
        "head_tail": q_head_tail,
        "markdown_render": q_markdown_render,
        "fingerprint_dups": q_fingerprint_dups,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB)
# ---------------------------------------------------------------------------
_WORDS_CTE = (
    "with words as (select doc_id, unnest(string_split(coalesce(text, ''), ' ')) as word, "
    "generate_subscripts(string_split(coalesce(text, ''), ' '), 1) as pos from documents)"
)


def oracle_sql() -> dict[str, str]:
    sql: dict[str, str] = {}
    text_words = _words_sql("coalesce(text, '')")
    answers = _DERIVED_ANSWERS_SQL.format(orders="orders")

    sql["t4_math_rewrite"] = (
        f"select doc_id, {_math_chain_sql('(' + _MATH_SUFFIX_SQL + ')')} as rewritten "
        "from documents"
    )
    sql["t5_figure_tags"] = (
        f"select doc_id, {_figure_chain_sql('(' + _FIG_TEXT_SQL + ')', chr(39) + 'doc_' + chr(39) + ' || doc_id')} "
        "as tagged from documents"
    )
    sql["t6_layout"] = (
        f"select doc_id, {_layout_chain_sql('(' + _LAYOUT_TEXT_SQL + ')')} as formatted "
        "from documents"
    )
    sql["t13_question_id"] = r"""
        with named as (
          select doc_id,
                 case when doc_id % 3 = 0 then source || '_page_' || doc_id
                      when doc_id % 3 = 1 then 'question-' || doc_id
                      else doc_id || 'memo' end as file_name
          from documents
        ), nums as (
          select doc_id, file_name,
                 case when regexp_extract(file_name, '_page_(\d+)', 1) <> ''
                        then regexp_extract(file_name, '_page_(\d+)', 1)
                      when regexp_extract(file_name, '[_-](\d+)', 1) <> ''
                        then regexp_extract(file_name, '[_-](\d+)', 1)
                      when regexp_extract(file_name, '^(\d+)', 1) <> ''
                        then regexp_extract(file_name, '^(\d+)', 1)
                      else '000' end as num
          from named
        )
        select doc_id, file_name,
               'Q' || (case when length(num) < 3 then lpad(num, 3, '0') else num end)
               as question_id
        from nums
    """
    sql["span_reconstruct"] = (
        "select doc_id, coalesce(text, '') as content, "
        "len(string_split(coalesce(text, ''), ' ')) as n_spans "
        "from documents"
    )
    sql["figure_numbering"] = f"""
        {_WORDS_CTE}
        select doc_id, pos,
               row_number() over (partition by doc_id order by pos) as fig_no
        from words where ({_span_kind_sql('word', 'pos')}) = 'media'
    """
    sql["problems_grammar"] = f"""
        {_WORDS_CTE},
        spans as (
          select doc_id, pos, word, ({_span_kind_sql('word', 'pos')}) as kind from words
        ),
        numbered as (
          select *, sum(case when kind = 'heading' then 1 else 0 end)
                    over (partition by doc_id order by pos
                          rows between unbounded preceding and current row) as pid
          from spans
        ),
        groups as (
          select doc_id, pid,
                 sum(case when kind = 'choice' then 1 else 0 end) as n_choices
          from numbered where pid > 0 group by doc_id, pid
        ),
        lasts as (
          select doc_id, max(pid) as last_pid from groups group by doc_id
        ),
        stats as (
          select g.doc_id,
                 count(*) as n_groups,
                 sum(g.n_choices) as total_choices,
                 max(case when g.pid = l.last_pid and g.n_choices = 0 then 1 else 0 end) as drop_last
          from groups g join lasts l using (doc_id)
          group by g.doc_id
        )
        select d.doc_id,
               coalesce(s.n_groups - s.drop_last, 0) as n_problems,
               cast(coalesce(s.total_choices, 0) as int) as kept_choices
        from documents d left join stats s using (doc_id)
    """
    sql["dedup_exact"] = rf"""
        with unioned as (
          select doc_id, coalesce(text, '') as text, source from documents
          union all
          select doc_id + 100000 as doc_id, '  ' || {_ASCII_UPPER_SQL} || '  ' as text, source
          from documents where doc_id % 10 = 0
        )
        select doc_id, source from unioned
        qualify row_number() over (
          partition by {_normalized_text_sql("text")}
          order by doc_id) = 1
    """
    sql["dedup_jaccard"] = rf"""
        with base as (
          select doc_id, coalesce(text, '') as text from documents where doc_id < 150
          union all
          select doc_id + 100000, coalesce(text, '') || ' tail marker token'
          from documents where doc_id < 150 and doc_id % 5 = 0
        ),
        sh as (
          select doc_id,
                 list_distinct(list_transform(
                   range(1, greatest(len(string_split({_normalized_text_sql("text")}, ' ')) - 2, 1) + 1),
                   i -> array_to_string(list_slice(string_split({_normalized_text_sql("text")}, ' '), i, i + 2), ' ')
                 )) as shingles
          from base
        )
        select a.doc_id as id_a, b.doc_id as id_b,
               round(cast(len(list_intersect(a.shingles, b.shingles)) as double)
                     / len(list_distinct(list_concat(a.shingles, b.shingles))), 4) as jaccard
        from sh a join sh b on a.doc_id < b.doc_id
        where cast(len(list_intersect(a.shingles, b.shingles)) as double)
              / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.8
    """
    sql["dedup_clusters"] = """
        with recursive base as (select doc_id from documents),
        edges as (
          select doc_id as a, doc_id + 100000 as b from base where doc_id % 7 = 0
          union all
          select doc_id + 100000, doc_id + 200000 from base where doc_id % 7 = 0
          union all
          select doc_id, doc_id + 300000 from base where doc_id % 5 = 0
        ),
        sym as (select a, b from edges union select b as a, a as b from edges),
        nodes as (select doc_id as id from base union select a as id from sym),
        r(id, v) as (
          select id, id from nodes
          union
          select r.id, s.b from r join sym s on s.a = r.v
        )
        select id as doc_id, min(v) as cluster from r group by id
    """
    sql["token_stats"] = rf"""
        select doc_id,
               len({text_words}) as ws_tokens,
               len(regexp_extract_all(coalesce(text, ''), '\p{{L}}+|\p{{N}}+|[^\p{{L}}\p{{N}}{WS_CHARS}]')) as bpe_tokens,
               length(coalesce(text, '')) as n_chars_obs
        from documents
    """
    sql["lang_detect"] = rf"""
        with t as (
          select doc_id,
                 {_LANG_TEXT_SQL} as t2
          from documents
        ), c as (
          select doc_id, length(t2) as total,
                 len(regexp_extract_all(t2, '[぀-ゟ]')) as hira,
                 len(regexp_extract_all(t2, '[゠-ヿ]')) as kata,
                 len(regexp_extract_all(t2, '[一-鿿]')) as cjk,
                 len(regexp_extract_all(t2, '[A-Za-z]')) as latin
          from t
        )
        select doc_id,
               case when total = 0 then 'unknown'
                    when (hira + kata + cjk) / cast(greatest(total, 1) as double) >= 0.15 then 'ja'
                    when latin / cast(greatest(total, 1) as double) >= 0.40 then 'en'
                    else 'other' end as lang
        from c
    """
    sql["quality_score"] = rf"""
        with d as (select doc_id, coalesce(text, '') as text from documents),
        c as (
          select doc_id, text,
                 length(text) as raw_len,
                 greatest(length(text), 1) as total,
                 len(regexp_extract_all(text, '[[:punct:]。、「」・]')) as punct,
                 len(regexp_extract_all(text, '[0-9]')) as digit,
                 len(regexp_extract_all(text, '{WS_CLASS}')) as space,
                 len({_words_sql("text")}) as ws_tokens
          from d
        )
        select doc_id,
               round((
                 least(cast(raw_len as double) / 200.0, 1.0)
                 + (case when (cast(total as double) - space) / greatest(ws_tokens, 1) between 2.0 and 12.0 then 1.0 else 0.0 end)
                 + (case when cast(punct as double) / total <= 0.30 then 1.0 else 0.0 end)
                 + (case when (cast(total as double) - digit - space) / total >= 0.5 then 1.0 else 0.0 end)
               ) / 4.0, 5) as quality
        from c
    """
    sql["topk_similar"] = """
        select vec_id as doc_id,
               round(list_cosine_similarity(embedding::DOUBLE[],
                     (select embedding from embeddings where vec_id = 0)::DOUBLE[]), 4) as similarity
        from embeddings
        where vec_id <> 0
        order by list_cosine_similarity(embedding::DOUBLE[],
                 (select embedding from embeddings where vec_id = 0)::DOUBLE[]) desc, vec_id
        limit 10
    """
    sql["pack_sequences"] = rf"""
        with t as (
          select doc_id, cast(doc_id % 8 as int) as shard,
                 cast(len({text_words}) as bigint) as n_tokens
          from documents
        ),
        c as (
          select doc_id, shard, n_tokens,
                 sum(n_tokens) over (partition by shard order by doc_id
                                     rows between unbounded preceding and current row) as cum
          from t
        )
        select doc_id, shard,
               cast((cum - n_tokens) // 256 as int) as pack_id,
               n_tokens,
               cast((cum - n_tokens) % 256 as int) as offset_in_pack
        from c order by doc_id
    """
    sql["lm_quality"] = rf"""
        with words as (
          select doc_id,
                 unnest({text_words}) as w
          from documents
          where len({text_words}) > 0
        ),
        counts as (select w, count(*) as c from words group by w),
        consts as (select cast(sum(c) as double) as total,
                          cast(count(*) as double) as vocab from counts),
        lm as (select w, ln((c + 0.5) / (total + 0.5 * (vocab + 1))) as logp
               from counts cross join consts),
        per_word as (select doc_id, w, count(*) as c from words group by doc_id, w),
        scored as (
          select p.doc_id,
                 cast(sum(p.c) as int) as n_words,
                 sum(l.logp * p.c) as ll
          from per_word p join lm l using (w)
          group by p.doc_id
        )
        select d.doc_id,
               coalesce(s.n_words, 0) as n_words,
               round(coalesce(-s.ll / s.n_words, 0.0), 4) as cross_entropy
        from documents d left join scored s using (doc_id)
        order by d.doc_id
    """
    # CCNet head/middle/tail: the lm_quality scoring CTEs + discrete
    # order-statistic tertile thresholds (see q_perplexity_buckets)
    sql["perplexity_buckets"] = rf"""
        with words as (
          select doc_id,
                 unnest({text_words}) as w
          from documents
          where len({text_words}) > 0
        ),
        counts as (select w, count(*) as c from words group by w),
        consts as (select cast(sum(c) as double) as total,
                          cast(count(*) as double) as vocab from counts),
        lm as (select w, ln((c + 0.5) / (total + 0.5 * (vocab + 1))) as logp
               from counts cross join consts),
        per_word as (select doc_id, w, count(*) as c from words group by doc_id, w),
        scored as (
          select p.doc_id,
                 cast(sum(p.c) as int) as n_words,
                 sum(l.logp * p.c) as ll
          from per_word p join lm l using (w)
          group by p.doc_id
        ),
        all_ce as (
          select d.doc_id,
                 coalesce(s.n_words, 0) as n_words,
                 coalesce(-s.ll / s.n_words, 0.0) as ce
          from documents d left join scored s using (doc_id)
        ),
        ranked as (
          select round(ce, 4) as ce4,
                 row_number() over (order by round(ce, 4), doc_id) as rn,
                 count(*) over () as n
          from all_ce
        ),
        th as (
          -- discrete order-statistic tertiles over the 4dp grid (floor of
          -- exact integer ratios — never an interpolating quantile, which
          -- is not cross-engine value-stable; see q_perplexity_buckets)
          select max(case when rn <= floor((n + 2) / 3.0) then ce4 end) as t1,
                 max(case when rn <= floor((2 * n + 2) / 3.0) then ce4 end) as t2
          from ranked
        )
        select doc_id, n_words, round(ce, 4) as cross_entropy,
               case when round(ce, 4) <= t1 then 'head'
                    when round(ce, 4) <= t2 then 'middle'
                    else 'tail' end as bucket
        from all_ce cross join th
        order by doc_id
    """
    sql["dedup_lines"] = rf"""
        with words as (
          select doc_id,
                 unnest({text_words}) as w,
                 generate_subscripts({text_words}, 1) as pos
          from documents
          where len({text_words}) > 0
        ),
        lines as (
          select doc_id, cast((pos - 1) // 2 as int) as ci,
                 string_agg(w, ' ' order by pos) as line
          from words group by doc_id, cast((pos - 1) // 2 as int)
        ),
        firsts as (
          select doc_id, line, min(ci) as keep_ci, count(*) as n_copies
          from lines group by doc_id, line
        ),
        agg as (
          select doc_id,
                 cast(sum(n_copies) as int) as n_lines,
                 cast(count(*) as int) as n_kept,
                 string_agg(line, chr(10) order by keep_ci) as text
          from firsts group by doc_id
        )
        select d.doc_id,
               coalesce(a.text, '') as text,
               coalesce(a.n_lines, 1) as n_lines,
               coalesce(a.n_kept, 1) as n_kept
        from documents d left join agg a using (doc_id)
        order by d.doc_id
    """
    sql["quantized_topk"] = """
        with qrow as (select embedding::DOUBLE[] as v,
                             list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 as s
                      from embeddings where vec_id = 0),
        qq as (select v as query_v, s as query_s,
                      case when s > 0 then list_transform(v, x -> round(x / s))
                           else list_transform(v, x -> 0.0) end as query_q
               from qrow),
        e as (select vec_id as doc_id, embedding::DOUBLE[] as v,
                     list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 as s
              from embeddings where vec_id <> 0),
        eq as (select doc_id, v, s,
                      case when s > 0 then list_transform(v, x -> round(x / s))
                           else list_transform(v, x -> 0.0) end as qa
               from e),
        cand as (select doc_id, v, query_v,
                        list_dot_product(qa, query_q) * s * query_s as approx
                 from eq cross join qq
                 where s > 0  -- zero vector: cosine undefined (Spark twin filters qscale > 0)
                 order by approx desc, doc_id limit 40)
        select doc_id, round(list_cosine_similarity(v, query_v), 4) as similarity
        from cand
        order by list_cosine_similarity(v, query_v) desc, doc_id
        limit 10
    """
    sql["topk_per_query"] = """
        with q as (select vec_id as query_id, embedding::DOUBLE[] as qv from embeddings where vec_id < 3)
        select query_id, vec_id as doc_id,
               round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) as similarity,
               cast(row_number() over (partition by query_id
                    order by list_cosine_similarity(embedding::DOUBLE[], qv) desc, vec_id) as int) as rank
        from embeddings cross join q
        where vec_id <> query_id
        qualify rank <= 5
    """
    sql["allpairs_label_counts"] = """
        select a.label as label_a, b.label as label_b, count(*) as n_pairs
        from embeddings a join embeddings b on a.vec_id < b.vec_id
        where list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.25
        group by a.label, b.label
    """
    sql["recent_events"] = """
        select user_id, event_id, event_type,
               cast(row_number() over (partition by user_id order by ts desc, event_id desc) as int) as rn
        from events where user_id < 10
        qualify rn <= 3
    """
    sql["event_histogram"] = """
        select event_type, count(*) as n_events, round(sum(value), 2) as total_value
        from events group by event_type
    """
    sql["json_props"] = """
        select cast(json_extract(props, '$.k') as int) % 10 as k_bucket,
               count(*) as n,
               round(avg(cast(json_extract(props, '$.k') as int)), 4) as avg_k
        from events group by 1
    """
    sql["q1_pricing_summary"] = """
        select l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) as sum_qty,
               round(sum(l_extendedprice), 2) as sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) as sum_disc_price,
               round(avg(l_quantity), 4) as avg_qty,
               round(avg(l_discount), 4) as avg_disc,
               count(*) as count_order
        from lineitem
        where l_shipdate <= timestamp '1998-09-01'
        group by l_returnflag, l_linestatus
    """
    sql["topk_orders"] = """
        select o_orderkey, round(o_totalprice, 2) as o_totalprice, c_name, n_name
        from orders
        join customer on o_custkey = c_custkey
        join nation on c_nationkey = n_nationkey
        order by orders.o_totalprice desc, o_orderkey
        limit 10
    """
    sql["customers_without_orders"] = """
        select n_name, count(*) as n_customers
        from customer join nation on c_nationkey = n_nationkey
        where c_custkey not in (select o_custkey from orders)
        group by n_name
    """
    sql["parts_multi_cond"] = """
        select p_brand, count(*) as n_parts
        from part
        where p_partkey in (
          select l_partkey from lineitem where l_returnflag in ('R', 'A')
          group by l_partkey having count(distinct l_returnflag) = 2)
        group by p_brand
    """
    sql["weighted_scores"] = f"""
        with ua as ({answers}),
        qm as ({_DERIVED_META_SQL}),
        j as (
          select ua.user_id, ua.exam_type, ua.status, qm.difficulty, qm.is_mandatory
          from ua left join qm using (question_id)
        ),
        agg as (
          select user_id, exam_type,
                 -- cast: DuckDB sum(case) is HUGEINT, which pandas widens to
                 -- float64 ("102.0") and the driver's value hash then differs
                 -- from Spark's bigint ("102") despite identical values
                 cast(sum(case when status then 1 else 0 end) as bigint) as correct_count,
                 cast(sum(case when status then 0 else 1 end) as bigint) as wrong_count,
                 sum(case when difficulty is not null then
                     (case difficulty when 'LOW' then 0.8 when 'HIGH' then 1.2 else 1.0 end)
                     * (case when is_mandatory then 1.5 else 1.0 end) else 0.0 end) as total_weight,
                 sum(case when status and difficulty is not null then
                     (case difficulty when 'LOW' then 0.8 when 'HIGH' then 1.2 else 1.0 end)
                     * (case when is_mandatory then 1.5 else 1.0 end) else 0.0 end) as weighted_correct
          from j group by user_id, exam_type
        )
        select user_id, exam_type, correct_count, wrong_count,
               round(
                 (case when correct_count + wrong_count > 0
                       then cast(correct_count as double) / (correct_count + wrong_count) * 100.0
                       else 0.0 end) * 0.4
                 + (case when total_weight > 0
                         then weighted_correct / total_weight * 100.0 else 0.0 end) * 0.6,
               2) as total_score
        from agg
    """
    sql["calculate_scores"] = f"""
        with ua as ({answers}),
        qm as ({_DERIVED_META_SQL}),
        totals as (
          select exam_type, count(*) as total_questions,
                 sum(case when is_mandatory then 1 else 0 end) as total_mandatory
          from qm group by exam_type
        ),
        j as (
          select ua.user_id, ua.exam_type, ua.status, qm.difficulty, qm.is_mandatory
          from ua join qm using (question_id)
        ),
        per_user as (
          select user_id, exam_type,
                 sum(case when status then 1 else 0 end) as correct_answers,
                 sum(case when status and is_mandatory then 1 else 0 end) as correct_mandatory,
                 sum(case when status and difficulty = 'HIGH' then 1 else 0 end) as correct_high
          from j group by user_id, exam_type
        )
        select user_id, p.exam_type,
               round(least(100.0,
                 (cast(correct_answers as double) / total_questions * 100.0)
                 * (case when total_mandatory = 0 then 1.0
                         when correct_mandatory = total_mandatory then 1.0
                         else 1.0 - (1.0 - cast(correct_mandatory as double) / total_mandatory) * 0.2 end)
                 + correct_high * 0.2), 1) as final_score
        from per_user p join totals using (exam_type)
    """
    sql["weak_questions"] = f"""
        with ua as ({answers}),
        qm as ({_DERIVED_META_SQL}),
        incorrect as (
          select question_id, cast(count(*) as bigint) as incorrect_count
          from ua
          where user_id = 'u5' and exam_type = 'EXAM' and not status
          group by question_id
        ),
        j as (
          select i.question_id, i.incorrect_count,
                 cast((case qm.difficulty when 'LOW' then 1 when 'MID' then 2 else 3 end)
                      * (case when qm.is_mandatory then 2 else 1 end) as int) as priority
          from incorrect i join qm using (question_id)
        )
        select question_id, incorrect_count, priority
        from j
        order by priority desc, incorrect_count desc, question_id
        limit 10
    """
    sql["vector_norms"] = """
        with q as (select embedding::DOUBLE[] as qv from embeddings where vec_id = 0)
        select vec_id,
               round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 4) as norm,
               round(sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                     i -> (embedding[i]::DOUBLE - qv[i]) * (embedding[i]::DOUBLE - qv[i])))), 4) as dist_q0,
               round(embedding[1]::DOUBLE
                     / sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 4) as u1
        from embeddings cross join q
    """
    sql["best_stat"] = """
        with stats as (
          select 'u' || (o_custkey % 37) as user_id, 'EXAM' as exam_type,
                 o_totalprice as total_score,
                 cast(o_orderkey % 10 as int) as correct_count,
                 cast(o_orderkey % 7 as int) as wrong_count
          from orders
        )
        select user_id, exam_type, round(total_score, 2) as total_score,
               correct_count, wrong_count
        from stats
        qualify row_number() over (partition by user_id, exam_type
                                   order by total_score desc) = 1
    """
    sql["frequent_questions"] = f"""
        with ua as ({answers}),
        freq as (
          select 'Q' || i as question_id, 'EXAM' as exam_type,
                 (i * 37 % 1000) / 10.0 as final_score
          from range(200) t(i)
        ),
        recent as (
          select distinct question_id from (
            select question_id from ua
            where user_id = 'u5' and exam_type = 'EXAM'
            qualify row_number() over (order by created_at desc, question_id desc) <= 20
          )
        )
        select question_id, round(final_score, 2) as final_score
        from freq
        where exam_type = 'EXAM' and question_id not in (select question_id from recent)
        order by freq.final_score desc, question_id
        limit 10
    """
    sql["union_except"] = """
        select c_custkey, c_name from customer
        where c_mktsegment in ('BUILDING', 'MACHINERY')
          and c_custkey not in (select c_custkey from customer where c_acctbal < 0)
    """
    sql["topk_per_group"] = """
        select l_returnflag, l_orderkey, l_linenumber,
               round(l_extendedprice, 2) as l_extendedprice,
               cast(row_number() over (partition by l_returnflag
                    order by l_extendedprice desc, l_orderkey, l_linenumber) as int) as rn
        from lineitem
        qualify rn <= 3
    """
    sql["tag_histogram"] = """
        select l_linestatus as tag_value, count(*) as n
        from lineitem where l_returnflag = 'R' group by 1
    """
    sql["tag_min_years"] = """
        with tags as (
          select cast(doc_id as varchar) as question_id,
                 to_json(list_transform(range(2019, 2019 + doc_id % 4 + 1),
                                        y -> cast(y as varchar))) as tag_value
          from documents
        )
        select question_id,
               cast(json_array_length(tag_value) as int) as n_years
        from tags where json_array_length(tag_value) >= 3
    """
    sql["head_tail"] = """
        with scored as (
          select vec_id as doc_id,
                 list_cosine_similarity(embedding::DOUBLE[],
                   (select embedding from embeddings where vec_id = 0)::DOUBLE[]) as sim
          from embeddings where vec_id <> 0
        ),
        ranked as (
          select doc_id, sim,
                 row_number() over (order by sim desc, doc_id) as rn_top,
                 row_number() over (order by sim asc, doc_id) as rn_bot
          from scored
        )
        select doc_id, round(sim, 4) as similarity,
               case when rn_top <= 5 then 'similar' else 'dissimilar' end as side
        from ranked where rn_top <= 5 or rn_bot <= 5
    """
    sql["json_block"] = f"""
        select doc_id,
               trim(regexp_extract(
                 {_JSON_TEXT_SQL},
                 '(?s)```json(.*?)```', 1), ' ') as block
        from documents
    """
    sql["markdown_render"] = """
        select doc_id, replace(coalesce(text, ''), ' ', chr(10) || chr(10)) as content
        from documents
    """
    # checksum chars: '(?s).' not '.' — RE2's bare dot skips \n, silently
    # dropping newline codepoints from the sum (Spark's split('') does not)
    sql["base64_mime"] = f"""
        with named as (
          select doc_id, coalesce(text, '') as text, source,
                 {_MIME_EXT_SQL} as ext
          from documents
        )
        select doc_id,
               {_MIME_NAME_SQL} as file_name,
               case lower(ext) when 'png' then 'image/png'
                    when 'jpg' then 'image/jpeg' when 'jpeg' then 'image/jpeg'
                    when 'webp' then 'image/webp' when 'gif' then 'image/gif'
                    else 'application/octet-stream' end as mime,
               to_base64(encode(substring(text, 1, 32))) as b64,
               cast(coalesce(list_aggregate(list_transform(
                 regexp_extract_all(substring(text, 1, 16), '(?s).'), c -> ord(c)),
                 'sum'), 0) as int) as checksum
        from named
    """
    sql["stride_sample"] = """
        with d as (
          select doc_id,
                 cast(row_number() over (order by doc_id) - 1 as bigint) as idx,
                 count(*) over () as n
          from documents
        ),
        ind as (
          select *, list_transform(range(0, 10), i -> (i * n) // 10) as base from d
        ),
        fx as (
          select doc_id, idx, n,
                 case when list_contains(base, n - 1) then base
                      else list_append(base[1:9], n - 1) end as inds
          from ind
        )
        select doc_id, idx from fx where n <= 10 or list_contains(inds, idx)
    """
    sql["fingerprint_dups"] = rf"""
        with un as (
          select doc_id, coalesce(text, '') as text from documents
          union all
          select doc_id + 200000, '  ' || {_ASCII_UPPER_SQL}
          from documents where doc_id % 7 = 0
        ),
        norm as (
          select doc_id,
                 {_normalized_text_sql("text")} as nt
          from un
        )
        select a.doc_id as id_a, b.doc_id as id_b
        from norm a join norm b on a.nt = b.nt and a.doc_id < b.doc_id
    """
    sql["winnow_overlap"] = rf"""
        with un as (
          select doc_id, coalesce(text, '') as text from documents where doc_id < 60
          union all
          select doc_id + 300000, coalesce(text, '') || ' appended drift tokens here'
          from documents where doc_id < 60 and doc_id % 3 = 0
        ),
        words as (
          select doc_id,
                 string_split({_normalized_text_sql("text")}, ' ') as w
          from un
        ),
        chunks as (
          select doc_id,
                 unnest(list_distinct(list_transform(
                   range(1, greatest(len(w) - 7, 1) + 1),
                   i -> array_to_string(list_slice(w, i, i + 7), ' ')))) as chunk
          from words
        )
        select a.doc_id as id_a, b.doc_id as id_b, count(*) as shared_chunks
        from chunks a join chunks b on a.chunk = b.chunk and a.doc_id < b.doc_id
        group by 1, 2 having count(*) >= 5
    """
    sql["simhash_dups"] = rf"""
        with un as (
          select doc_id, coalesce(text, '') as text from documents where doc_id < 100
          union all
          select doc_id + 400000, coalesce(text, '') || ' zz'
          from documents where doc_id < 100 and doc_id % 4 = 0
        ),
        words as (
          select doc_id,
                 unnest(string_split({_normalized_text_sql("text")}, ' ')) as w
          from un
        ),
        h as (select doc_id, md5(w) as h from words),
        -- bit j of the 64-bit value = ((hex digit (15 - j//4)) >> (j%4)) & 1;
        -- counter = sum of (2*bit - 1) over words (the Spark twin uses
        -- conv(digit,16,10) — identical values for lowercase hex)
        bitsum as (
          select doc_id, j,
                 sum(case when (cast(strpos('0123456789abcdef',
                                            substring(h, 16 - j // 4, 1)) - 1 as int)
                                >> (j % 4)) & 1 = 1
                          then 1 else -1 end) as c
          from h cross join range(0, 64) t(j)
          group by doc_id, j
        ),
        bits as (
          select doc_id,
                 list(case when c > 0 then 1 else 0 end order by j) as bits
          from bitsum group by doc_id
        ),
        blk as (
          -- 8 blocks x 8 bits (recall guaranteed for hamming <= 7)
          select doc_id, bits,
                 list_transform(range(0, 8), b ->
                   list_sum(list_transform(range(0, 8), i ->
                     bits[b * 8 + i + 1] * (1 << i)))) as blocks
          from bits
        ),
        pairs as (
          select a.doc_id as id_a, b.doc_id as id_b,
                 cast(list_sum(list_transform(range(1, 65), i ->
                   case when a.bits[i] <> b.bits[i] then 1 else 0 end)) as int) as hamming
          from blk a join blk b
            on a.doc_id < b.doc_id
           and len(list_filter(range(1, 9), k -> a.blocks[k] = b.blocks[k])) > 0
        )
        select id_a, id_b, hamming from pairs where hamming <= 6
    """
    sql["ann_topk"] = """
        with e as (select vec_id, embedding::DOUBLE[] as v from embeddings),
        bands as (select * from (values (0, 42), (1, 7961)) t(band, s)),
        planes as (select * from range(0, 8) t(p)),
        proj as (
          select e.vec_id, b.band, pl.p,
                 list_aggregate(list_transform(range(0, 64),
                   i -> v[i+1] * (((1103515245*(b.s + pl.p*8191 + i) + 12345)
                                   % 2147483648) / 2147483648.0 - 0.5)),
                   'sum') as d
          from e, bands b, planes pl
        ),
        buckets as (
          select vec_id, band,
                 sum(case when d >= 0 then cast(pow(2, p) as bigint) else 0 end) as bucket
          from proj group by 1, 2
        ),
        qb as (select * from buckets where vec_id < 3),
        cand as (
          select distinct q.vec_id as query_id, eb.vec_id as doc_id
          from qb q join buckets eb on q.band = eb.band and q.bucket = eb.bucket
          where eb.vec_id <> q.vec_id
        ),
        scored as (
          select c.query_id, c.doc_id, list_cosine_similarity(eq.v, ed.v) as sim
          from cand c
          join e eq on eq.vec_id = c.query_id
          join e ed on ed.vec_id = c.doc_id
        )
        select query_id, doc_id, round(sim, 4) as similarity,
               cast(row_number() over (partition by query_id
                    order by sim desc, doc_id) as int) as rank
        from scored qualify rank <= 5
    """
    sql["ivf_topk"] = """
        with e as (
          select vec_id, embedding::DOUBLE[] as v from embeddings
        ),
        keyed as (
          -- centroid pick = n_cells smallest LCG keys (mirrors the Spark
          -- TakeOrderedAndProject pick bit-for-bit; ids are non-negative so
          -- % == pmod)
          select vec_id, v,
                 (1103515245 * vec_id + 12345) % 2147483648 as key
          from e
        ),
        cents as (
          select cast(row_number() over (order by key, vec_id) as int) - 1 as cell,
                 v as cvec
          from keyed
          qualify row_number() over (order by key, vec_id) <= 16
        ),
        assign as (
          select e.vec_id, e.v, c.cell,
                 row_number() over (partition by e.vec_id
                     order by list_cosine_similarity(e.v, c.cvec) desc, c.cell) as rn
          from e cross join cents c
        ),
        cells as (select vec_id, v, cell from assign where rn = 1),
        qprobe as (
          select vec_id as query_id, v as qv, cell
          from assign where vec_id < 3 and rn <= 4
        ),
        cand as (
          select q.query_id, q.qv, d.vec_id as doc_id, d.v
          from qprobe q join cells d using (cell)
          where d.vec_id <> q.query_id
        ),
        scored as (
          select query_id, doc_id, list_cosine_similarity(v, qv) as sim from cand
        )
        select query_id, doc_id, round(sim, 4) as similarity,
               cast(row_number() over (partition by query_id
                    order by sim desc, doc_id) as int) as rank
        from scored qualify rank <= 5
    """
    sql["event_windows"] = """
        select time_bucket(interval '1 hour', ts) as window_start,
               time_bucket(interval '1 hour', ts) + interval '1 hour' as window_end,
               event_type,
               count(*) as n_events,
               round(sum(value), 2) as total_value
        from events
        group by 1, 2, 3
    """
    sql["extreme_pair"] = """
        with pairs as (
          select a.vec_id as id_a, b.vec_id as id_b,
                 list_cosine_similarity(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]) as sim
          from embeddings a join embeddings b on a.vec_id < b.vec_id
          where a.vec_id < 200 and b.vec_id < 200
        ),
        -- deterministic tiebreak mirroring the Spark max_by/min_by key:
        -- among equal similarities take the smallest (id_a, id_b)
        most as (
          select id_a, id_b, sim from pairs order by sim desc, id_a, id_b limit 1
        ),
        least as (
          select id_a, id_b, sim from pairs order by sim asc, id_a, id_b limit 1
        )
        select most.id_a as most_a, most.id_b as most_b,
               round(most.sim, 4) as max_sim,
               least.id_a as least_a, least.id_b as least_b,
               round(least.sim, 4) as min_sim
        from most, least
    """
    sql["problems_markdown"] = f"""
        {_WORDS_CTE},
        spans as (
          select doc_id, pos, word, ({_span_kind_sql('word', 'pos')}) as kind from words
        ),
        numbered as (
          select *, sum(case when kind = 'heading' then 1 else 0 end)
                    over (partition by doc_id order by pos
                          rows between unbounded preceding and current row) as pid
          from spans
        ),
        groups as (
          select doc_id, pid,
                 coalesce(string_agg(
                   case when kind in ('heading','text') then word end,
                   chr(10) order by pos), '') as question,
                 coalesce(string_agg(
                   case when kind = 'choice' then
                     coalesce(nullif(regexp_extract(word,
                       {_sql_quote(_re2_pattern(CHOICE_RE))}, 1), ''), '')
                     || '. ' ||
                     regexp_extract(word, {_sql_quote(_re2_pattern(CHOICE_RE))}, 2)
                     || chr(10)
                   end, '' order by pos), '') as choices_md,
                 sum(case when kind = 'choice' then 1 else 0 end) as n_choices
          from numbered where pid > 0
          group by doc_id, pid
        ),
        lasts as (select doc_id, max(pid) as last_pid from groups group by doc_id),
        kept as (
          select g.* from groups g join lasts l using (doc_id)
          where not (g.pid = l.last_pid and g.n_choices = 0)
        ),
        rendered as (
          select doc_id,
                 string_agg(
                   '## 問題 ' || pid || chr(10) || chr(10) ||
                   question || chr(10) || chr(10) ||
                   '### 選択肢' || chr(10) || chr(10) ||
                   choices_md || chr(10) ||
                   '### 正解' || chr(10) || chr(10) || 'N/A' || chr(10) || chr(10) ||
                   '---' || chr(10) || chr(10),
                   '' order by pid) as markdown
          from kept group by doc_id
        )
        select d.doc_id, coalesce(r.markdown, '') as markdown
        from documents d left join rendered r using (doc_id)
    """
    sql["embedding_near_dup"] = """
        select e.vec_id as doc_id, e.label
        from embeddings e
        where not exists (
          select 1 from embeddings o
          where o.vec_id < e.vec_id
            and list_cosine_similarity(o.embedding::DOUBLE[],
                                       e.embedding::DOUBLE[]) >= 0.4)
    """
    # NOTE (media_meta / media_features): the oracles use DuckDB CHARACTER
    # arithmetic (ord/length/substring on strings) as a twin for the Spark
    # side's BYTE arithmetic. Both sides sanitize the synthesized payload
    # to printable ASCII ([ -~]) first, making the string arithmetic
    # byte-exact on ANY corpus content (null text == '').
    sql["media_meta"] = """
        with base as (
          select doc_id,
                 source || ':' || repeat(substring(
                   regexp_replace(coalesce(text, ''), '[^ -~]', '', 'g'), 1, 50),
                   (doc_id % 40) * 20) as s,
                 doc_id % 3 as m
          from documents
        ),
        sized as (
          select doc_id, s, m,
                 case when m = 0 then 4 when m = 1 then 2 else 0 end as magic_len,
                 case when m = 0 then 137+80+78+71 when m = 1 then 255+216 else 0 end as magic_sum
          from base
        ),
        meta as (
          select doc_id, m, magic_len,
                 magic_len + length(s) as n,
                 magic_sum + coalesce(list_aggregate(list_transform(
                   regexp_extract_all(substring(s, 1, 16 - magic_len), '(?s).'),
                   c -> ord(c)), 'sum'), 0) as head_sum
          from sized
        ),
        rz as (
          select doc_id, m, n, head_sum,
                 n > 25000 as resized,
                 case when n <= 25000 then 100
                      else coalesce(list_filter([80,70,60,50,40,30,20],
                                                q -> (n*q)//100 <= 25000)[1], 20)
                 end as quality
          from meta
        )
        select doc_id,
               cast(1 + n % 600 as int) as width,
               cast(1 + head_sum % 600 as int) as height,
               case when m = 0 then 'png' when m = 1 then 'jpeg'
                    else 'fake-bin' end as format,
               cast(n as int) as n_bytes,
               cast(case when resized then (n * quality)//100 else n end as int) as final_bytes,
               cast(quality as int) as quality,
               resized
        from rz
    """
    sql["media_features"] = """
        with base as (
          select doc_id,
                 source || ':' || regexp_replace(coalesce(text, ''), '[^ -~]', '', 'g') as s
          from documents where doc_id < 100
        ),
        chars as (
          select doc_id,
                 unnest(list_transform(regexp_extract_all(s, '(?s).'), c -> ord(c) % 64)) as bucket
          from base
        ),
        counts as (
          select doc_id, bucket, cast(count(*) as double) as cnt
          from chars group by 1, 2
        ),
        norms as (select doc_id, sqrt(sum(cnt*cnt)) as nrm from counts group by 1),
        grid as (select b.doc_id, r.b as bucket from base b, range(0, 64) r(b))
        select g.doc_id, cast(g.bucket as int) as bucket,
               round(coalesce(c.cnt, 0) / n.nrm, 4) as val
        from grid g
        join norms n using (doc_id)
        left join counts c on c.doc_id = g.doc_id and c.bucket = g.bucket
    """
    # own words CTE: content \f is stripped before page framing (mirrors
    # the Spark side's forgery defense above)
    sql["pdf_pages"] = f"""
        with words as (
          select doc_id,
                 unnest(string_split(replace(coalesce(text, ''), chr(12), ''), ' ')) as word,
                 generate_subscripts(string_split(replace(coalesce(text, ''), chr(12), ''), ' '), 1) as pos
          from documents
        )
        select doc_id || '_page_' ||
               case when length(cast(page_no as varchar)) < 3
                    then lpad(cast(page_no as varchar), 3, '0')
                    else cast(page_no as varchar) end as doc_id,
               page_no, n_words, page_chars
        from (
          select doc_id,
                 cast((pos - 1) // 10 + 1 as int) as page_no,
                 cast(count(*) as int) as n_words,
                 cast(sum(length(word)) + count(*) - 1 as int) as page_chars
          from words
          group by doc_id, (pos - 1) // 10
        )
    """
    # parse(to_json(doc)) is the identity on intact lines, so the oracle
    # derives the expected fields straight from the word stream; corrupt
    # lines (doc_id % 50 == 0) must yield nulls
    sql["jsonl_roundtrip"] = f"""
        {_WORDS_CTE},
        agg as (
          select doc_id, cast(count(*) as int) as n, max(pos) as maxpos
          from words group by doc_id
        ),
        lastw as (
          select a.doc_id, a.n,
                 ({_span_kind_sql('w.word', 'w.pos')}) as lk
          from agg a join words w on w.doc_id = a.doc_id and w.pos = a.maxpos
        )
        select d.doc_id,
               d.doc_id % 50 <> 0 as parsed_ok,
               case when d.doc_id % 50 = 0 then null else l.n end as n_spans,
               case when d.doc_id % 50 = 0 then null else l.lk end as last_kind
        from documents d join lastw l using (doc_id)
    """
    # --- north-rule operators: boilerplate strip + layout regions ----------
    # Regex semantics verified identical between Java regex and RE2 for
    # these patterns (block-tag split, tag strip, lazy anchor extraction).
    _FEAT_CTE = f"""
        bl as (select doc_id, string_split_regex(html, '{BLOCK_TAG_RE}') as arr from base),
        blocks as (
          select doc_id, generate_subscripts(arr, 1) - 1 as block_no,
                 unnest(arr) as raw
          from bl
        ),
        feat as (
          select doc_id, cast(block_no as int) as block_no,
                 trim(regexp_replace(regexp_replace(raw, '{_TAG_RE}', ' ', 'g'),
                                     '{WS_CLASS}+', ' ', 'g'), ' ') as text,
                 cast(coalesce(list_sum(list_transform(
                        regexp_extract_all(raw, '{_ANCHOR_RE}', 1),
                        a -> length(trim(regexp_replace(regexp_replace(a,
                               '{_TAG_RE}', ' ', 'g'), '{WS_CLASS}+', ' ', 'g'), ' ')))), 0)
                      as int) as link_chars,
                 cast(len(regexp_extract_all(raw, '{_TAG_RE}')) as int) as n_tags
          from blocks
        ),
        scored as (
          select doc_id, block_no, text,
                 cast(length(text) as int) as text_chars,
                 cast(case when text = '' then 0
                      else len(string_split(text, ' ')) end as int) as n_words,
                 n_tags, link_chars,
                 round(link_chars / greatest(length(text), 1), 6) as ld6,
                 round(length(text) / (1 + n_tags), 6) as td6
          from feat
        ),
        cls as (
          select *, (text_chars >= 25 and ld6 < 1.0/3.0) as is_content
          from scored
        )
    """
    sql["html_blocks"] = f"""
        with base as (
          select doc_id, ({_HTML_SQL}) as html from documents where doc_id < 30
        ),
        {_FEAT_CTE}
        select doc_id, block_no, text_chars, n_words, n_tags, link_chars,
               round(ld6, 4) as link_density, round(td6, 4) as text_density,
               is_content
        from cls
    """
    sql["html_boilerplate"] = f"""
        with base as (
          select doc_id, ({_HTML_SQL}) as html from documents
        ),
        {_FEAT_CTE}
        select doc_id,
               count(*) as n_blocks,
               cast(sum(case when is_content then 1 else 0 end) as int) as n_content,
               cast(length(coalesce(string_agg(case when is_content then text end,
                      chr(10) || chr(10) order by block_no), '')) as int) as main_len,
               substring(coalesce(string_agg(case when is_content then text end,
                      chr(10) || chr(10) order by block_no), ''), 1, 60) as main_head
        from cls group by doc_id
    """
    _LAYOUT_REG_CTE = f"""
        {_WORDS_CTE},
        tok as (
          select doc_id, pos, word,
                 (pos - 1) // 12 as blk,
                 ((pos - 1) // 12) % 2 as col,
                 ((pos - 1) % 12) // 4 as line,
                 (pos - 1) % 4 as slot
          from words
        ),
        reg as (
          select doc_id, blk, col,
                 cast((blk // 2) * 100 as double) as y0,
                 cast((blk // 2) * 100 + max(line) * 12 as double) as y1,
                 cast(col * 400 as double) as x0,
                 cast(col * 400 + max(slot) * 50 as double) as x1,
                 count(*) as n_tokens,
                 string_agg(word, ' ' order by pos) as text
          from tok group by doc_id, blk, col
        ),
        numbered as (
          select doc_id, cast(col as int) as "column",
                 cast(row_number() over (partition by doc_id, col order by blk)
                      as int) as region_no,
                 y0, y1, x0, x1, n_tokens, text,
                 cast(row_number() over (partition by doc_id order by col, blk)
                      as int) as reading_rank
          from reg
        )
    """
    # ground truth derived from the GENERATIVE arithmetic (blk = (pos-1)//12)
    # — independent of the operator's geometric clustering, so a pass proves
    # the clustering recovers the planted blocks from coordinates alone
    sql["layout_regions"] = f"""
        {_LAYOUT_REG_CTE}
        select doc_id, "column", region_no, y0, y1, x0, x1, n_tokens, text,
               reading_rank
        from numbered
    """
    sql["reading_order"] = f"""
        {_LAYOUT_REG_CTE}
        select doc_id,
               string_agg(text, chr(10) || chr(10) order by reading_rank) as content,
               count(*) as n_regions
        from numbered group by doc_id
    """
    # VALUE-exact flagship oracle: recompute every extracted span's text with
    # the same generated math+layout chains the t4/t6 oracles use (media
    # spans pass through untouched), then md5 the canonical serialization of
    # the whole (kind, text, media_ref, offset) sequence in order. Offsets
    # re-densify to pos-1 because no corpus word matches a figure-ref
    # pattern (no split/promotion) — and the HASH now catches it if that
    # property ever breaks, unlike the r2 count-only oracle.
    _EXTRACTED_WORD_SQL = _layout_chain_sql(_math_chain_sql("word"))
    _RAW_KIND_SQL = _span_kind_sql("raw_word", "pos")
    # non-media span text strips literal NULs first, mirroring the
    # operator's sentinel-forgery defense (extract._normalized_text strips
    # \x00 before the in-band image-sentinel pass); kind is decided on the
    # RAW word and media spans bypass extraction entirely, exactly like
    # extract_docs
    sql["extraction_pipeline"] = f"""
        {_WORDS_CTE},
        cleaned as (
          select doc_id, pos, word as raw_word,
                 replace(word, chr(0), '') as word
          from words
        ),
        spans as (
          select doc_id, pos,
                 ({_RAW_KIND_SQL}) as kind,
                 case when ({_RAW_KIND_SQL}) = 'media' then raw_word
                      else {_EXTRACTED_WORD_SQL} end as text,
                 case when ({_RAW_KIND_SQL}) = 'media'
                      then 'img://' || doc_id || '/' || pos end as media_ref
          from cleaned
        )
        select doc_id,
               cast(count(*) as int) as n_spans,
               cast(sum(case when kind = 'media' then 1 else 0 end) as int) as n_media,
               cast(sum(case when kind = 'heading' then 1 else 0 end) as int) as n_headings,
               md5(string_agg(kind || chr(31) || text || chr(31) ||
                              coalesce(media_ref, '') || chr(31) ||
                              cast(pos - 1 as varchar),
                              chr(30) order by pos)) as span_hash
        from spans group by doc_id
    """
    # The embedding stage's numpy draw has no SQL twin (pytest pins it against
    # a numpy oracle); the SQL-checkable contract is exactly-one unit record
    # per doc with the declared dim and type.
    sql["embeddings_pipeline"] = """
        select doc_id, cast(64 as int) as dim, 'text' as embedding_type,
               cast(1.0 as double) as norm
        from documents
    """
    # --- corpus-curation family (operators/curation) -----------------------
    # words mirror curation.words_column exactly: maximal non-whitespace
    # runs over the EXPLICIT shared class (textstats.WS_CHARS — engine \s
    # shorthand is never trusted on a value-exact surface); empty text ->
    # zero words (left joins restore empty docs with zeroed stats)
    _CURATION_WORDS = rf"""
        words as (
          select doc_id,
                 unnest({text_words}) as w,
                 generate_subscripts({text_words}, 1) as pos
          from documents
          where len({text_words}) > 0
        )
    """
    sql["repetition_stats"] = f"""
        with {_CURATION_WORDS},
        uni as (
          select doc_id, count(*) as n_words, count(distinct w) as nd
          from words group by doc_id
        ),
        g2 as (
          select doc_id,
                 w || ' ' || lead(w) over (partition by doc_id order by pos) as g
          from words
        ),
        t2 as (
          select doc_id, cast(max(c) as double) / sum(c) as f from (
            select doc_id, g, count(*) as c from g2 where g is not null
            group by doc_id, g
          ) group by doc_id
        ),
        g3 as (
          select doc_id,
                 w || ' ' || lead(w, 1) over win || ' ' || lead(w, 2) over win as g
          from words window win as (partition by doc_id order by pos)
        ),
        t3 as (
          select doc_id, cast(max(c) as double) / sum(c) as f from (
            select doc_id, g, count(*) as c from g3 where g is not null
            group by doc_id, g
          ) group by doc_id
        )
        select d.doc_id,
               coalesce(u.n_words, 0) as n_words,
               round(coalesce(1.0 - cast(u.nd as double) / u.n_words, 0.0), 4)
                 as dup_word_frac,
               round(coalesce(t2.f, 0.0), 4) as top2gram_frac,
               round(coalesce(t3.f, 0.0), 4) as top3gram_frac
        from documents d
        left join uni u using (doc_id)
        left join t2 using (doc_id)
        left join t3 using (doc_id)
    """
    sql["gopher_quality"] = rf"""
        with base as (
          select doc_id, coalesce(text, '') as t,
                 {text_words} as ws
          from documents
        ),
        raw as (
          select doc_id,
                 len(ws) as n_words,
                 cast(length(regexp_replace(t, '{WS_CLASS}', '', 'g')) as double)
                   / greatest(len(ws), 1) as mean_word_len,
                 cast(len(regexp_extract_all(t, '#|\.\.\.|…')) as double)
                   / greatest(len(ws), 1) as symbol_ratio,
                 cast(len(list_filter(ws, x -> regexp_matches(x, '\p{{L}}'))) as double)
                   / greatest(len(ws), 1) as alpha_word_frac,
                 len(list_filter(ws, x -> translate(x, {_FOLD_SQL_ARGS}) in
                     ('the','be','to','of','and','that','have','with'))) as n_stopwords
          from base
        )
        select doc_id, n_words,
               round(mean_word_len, 4) as mean_word_len,
               round(symbol_ratio, 4) as symbol_ratio,
               round(alpha_word_frac, 4) as alpha_word_frac,
               n_stopwords,
               (n_words between 25 and 100000
                and mean_word_len between 2.0 and 10.0
                and symbol_ratio <= 0.1
                and alpha_word_frac >= 0.8
                and n_stopwords >= 2) as keep
        from raw
    """
    sql["token_entropy"] = f"""
        with {_CURATION_WORDS},
        cnt as (
          select doc_id, w, count(*) as c from words group by doc_id, w
        ),
        ent as (
          select doc_id, sum(c) as n, sum(c * ln(c)) as s
          from cnt group by doc_id
        )
        select d.doc_id,
               cast(coalesce(e.n, 0) as bigint) as n_words,
               round(greatest(coalesce(ln(e.n) - e.s / e.n, 0.0), 0.0), 4) as entropy
        from documents d left join ent e using (doc_id)
    """
    sql["chunk_dedup"] = f"""
        with {_CURATION_WORDS},
        ch as (
          select doc_id, cast((pos - 1) // 10 as int) as ci,
                 string_agg(w, ' ' order by pos) as chunk
          from words group by doc_id, cast((pos - 1) // 10 as int)
        ),
        fl as (
          select doc_id, ci, chunk,
                 row_number() over (partition by chunk order by doc_id, ci) as rn
          from ch
        ),
        agg as (
          select doc_id,
                 count(*) as n_chunks,
                 sum(case when rn = 1 then 1 else 0 end) as n_kept,
                 coalesce(string_agg(case when rn = 1 then chunk end,
                                     ' ' order by ci), '') as text
          from fl group by doc_id
        )
        select d.doc_id,
               coalesce(a.text, '') as text,
               coalesce(a.n_chunks, 0) as n_chunks,
               cast(coalesce(a.n_kept, 0) as bigint) as n_kept
        from documents d left join agg a using (doc_id)
    """
    # ExactSubstr dedup: windows keyed by TEXT here (the Spark side keys on
    # a dual-xxhash64 pair — equivalent absent a 128-bit collision, which
    # at sf scale is ~1e-15); keeper = row_number 1 by (doc, pos), interval
    # merge via gaps-and-islands (equal window length k=5 makes the
    # running-max lag(pos)+5), rebuild = words not covered by any island.
    sql["substr_dedup"] = rf"""
        with docs0 as (
          select doc_id,
                 {_SUBSTR_TEXT_SQL} as t
          from documents
        ),
        base as (
          select doc_id, coalesce(t, '') as t,
                 {_words_sql("coalesce(t, '')")} as ws
          from docs0
        ),
        wins as (
          select doc_id,
                 unnest(range(1, greatest(len(ws) - 3, 1))) - 1 as pos,
                 unnest(list_transform(range(1, greatest(len(ws) - 3, 1)),
                        p -> array_to_string(ws[p:p+4], ' '))) as wtext
          from base
        ),
        fl as (
          select doc_id, pos,
                 count(*) over (partition by wtext) as c,
                 row_number() over (partition by wtext order by doc_id, pos) as rn
          from wins
        ),
        rem as (select doc_id, pos from fl where c >= 2 and rn > 1),
        isl as (
          select doc_id, pos,
                 case when pos > coalesce(lag(pos) over (partition by doc_id order by pos),
                                          -1000000) + 5
                      then 1 else 0 end as brk
          from rem
        ),
        isl2 as (
          select doc_id, pos,
                 sum(brk) over (partition by doc_id order by pos) as gid
          from isl
        ),
        ivs as (
          select doc_id, gid, min(pos) as s, max(pos) + 5 as e
          from isl2 group by doc_id, gid
        ),
        stats as (
          select doc_id, sum(e - s) as n_removed, count(*) as n_spans
          from ivs group by doc_id
        ),
        ww as (
          select doc_id, unnest(ws) as w, generate_subscripts(ws, 1) as pos
          from base where len(ws) > 0
        ),
        keptagg as (
          select w.doc_id, string_agg(w.w, ' ' order by w.pos) as newtext
          from ww w
          where not exists (select 1 from ivs v
                            where v.doc_id = w.doc_id
                              and w.pos - 1 >= v.s and w.pos - 1 < v.e)
          group by w.doc_id
        )
        select b.doc_id,
               md5(case when st.doc_id is null then b.t
                        else coalesce(ka.newtext, '') end) as text_md5,
               cast(len(b.ws) as bigint) as n_words,
               cast(coalesce(st.n_removed, 0) as bigint) as n_removed,
               cast(coalesce(st.n_spans, 0) as bigint) as n_dup_spans
        from base b
        left join stats st using (doc_id)
        left join keptagg ka using (doc_id)
        order by b.doc_id
    """
    # Trained char-trigram language ID: the full fit (per-lang bucket
    # counts over the doc_id%5==0 slice, add-0.5 smoothing over the
    # closed 64-bucket space, ln doc-count priors) and scoring replayed
    # exactly; the md5 bucket digit-by-digit (the dsir pattern)
    _LANGID_COMMON = rf"""
        with docs0 as (
          select doc_id,
                 {_LANGID_LANG_SQL} as lang,
                 translate({_LANGID_TEXT_SQL},
                   {_FOLD_SQL_ARGS}) as t
          from documents
        ),
        grams as (
          select doc_id, lang,
                 unnest(list_transform(range(1, greatest(length(t) - 1, 1)),
                        i -> substring(t, cast(i as int), 3))) as g
          from docs0
        ),
        b as (
          select doc_id, lang,
                 cast(list_sum(list_transform(range(0, 8), p ->
                   (strpos('0123456789abcdef',
                           substring(substring(md5('9|' || g), 1, 8),
                                     cast(p + 1 as int), 1)) - 1)
                   * power(16, 7 - p))) as bigint) % 64 as bucket
          from grams
        ),
        tc as (select lang, bucket, count(*) as c
               from b where doc_id % 5 = 0 group by lang, bucket),
        tt as (select lang, sum(c) as t from tc group by lang),
        nd as (select lang, count(*) as nd
               from docs0 where doc_id % 5 = 0 group by lang),
        td as (select sum(nd) as td from nd),
        langs as (select lang, ln(cast(nd as double) / td) as prior
                  from nd cross join td),
        model as (
          select l.lang, d.bucket, l.prior,
                 ln((coalesce(tc.c, 0) + 0.5) / (tt.t + 0.5 * 64)) as logp
          from langs l
          cross join (select cast(range as bigint) as bucket from range(0, 64)) d
          join tt on tt.lang = l.lang
          left join tc on tc.lang = l.lang and tc.bucket = d.bucket
        ),
        per as (
          select s.doc_id, m.lang, count(*) as n_grams, sum(m.logp) as ll
          from (select doc_id, bucket from b where doc_id % 5 <> 0) s
          join model m using (bucket)
          group by s.doc_id, m.lang
        ),
        scores as (
          select sd.doc_id, l.lang,
                 cast(coalesce(p.n_grams, 0) as bigint) as n_grams,
                 l.prior + coalesce(p.ll, 0.0) as score
          from (select doc_id from docs0 where doc_id % 5 <> 0) sd
          cross join langs l
          left join per p on p.doc_id = sd.doc_id and p.lang = l.lang
        )
    """
    sql["langid_scores"] = _LANGID_COMMON + r"""
        select doc_id, lang, n_grams, round(score, 4) as score
        from scores order by doc_id, lang
    """
    sql["langid_predict"] = _LANGID_COMMON + r"""
        , sel as (
          select doc_id, lang, score,
                 row_number() over (partition by doc_id
                                    order by round(score, 6) desc, lang) as rn
          from scores
        )
        select doc_id, lang, round(score, 4) as score
        from sel where rn = 1 order by doc_id
    """
    # WET parse roundtrip: expected output restated from the planted
    # construction — the identity IS the contract (construct -> parse);
    # the payload's trailing newlines fold into the record padding
    sql["wet_parse"] = r"""
        with d as (select doc_id, coalesce(text, '') as t from documents)
        select doc_id,
               'conversion' as record_type,
               'http://ex.com/' || cast(doc_id as varchar) as url,
               '2024-01-0' || cast(doc_id % 9 + 1 as varchar)
                 || 'T00:00:00Z' as warc_date,
               cast(length(t) as bigint) as content_length,
               md5(regexp_replace(t, '(\r?\n)+$', '')) as text_md5,
               -- length_ok: declared octets must bracket the parsed payload
               -- (strlen = BYTE length; the record body is t + 4 CRLF CRLF
               -- framing bytes; declared is length(t) = CHARACTERS, so any
               -- multibyte text under-declares and fails)
               (strlen(regexp_replace(t, '(\r?\n)+$', '')) <= length(t)
                and length(t) <= strlen(t) + 4) as length_ok
        from d order by doc_id
    """
    sql["curation_pipeline"] = rf"""
        with base as (
          select doc_id, coalesce(text, '') as t,
                 {text_words} as ws
          from documents
        ),
        raw as (
          select doc_id,
                 len(ws) as n_words,
                 cast(length(regexp_replace(t, '{WS_CLASS}', '', 'g')) as double)
                   / greatest(len(ws), 1) as mean_word_len,
                 cast(len(regexp_extract_all(t, '#|\.\.\.|…')) as double)
                   / greatest(len(ws), 1) as symbol_ratio,
                 cast(len(list_filter(ws, x -> regexp_matches(x, '\p{{L}}'))) as double)
                   / greatest(len(ws), 1) as alpha_word_frac,
                 len(list_filter(ws, x -> translate(x, {_FOLD_SQL_ARGS}) in
                     ('the','be','to','of','and','that','have','with'))) as n_stopwords
          from base
        ),
        kept as (
          select doc_id from raw
          where n_words between 25 and 100000
            and mean_word_len between 2.0 and 10.0
            and symbol_ratio <= 0.1
            and alpha_word_frac >= 0.8
            and n_stopwords >= 2
        ),
        words as (
          select d.doc_id,
                 unnest({_words_sql("coalesce(d.text, '')")}) as w,
                 generate_subscripts({_words_sql("coalesce(d.text, '')")}, 1) as pos
          from documents d join kept using (doc_id)
          where len({_words_sql("coalesce(d.text, '')")}) > 0
        ),
        ch as (
          select doc_id, cast((pos - 1) // 10 as int) as ci,
                 string_agg(w, ' ' order by pos) as chunk
          from words group by doc_id, cast((pos - 1) // 10 as int)
        ),
        fl as (
          select doc_id, ci, chunk,
                 row_number() over (partition by chunk order by doc_id, ci) as rn
          from ch
        ),
        agg as (
          select doc_id,
                 count(*) as n_chunks,
                 sum(case when rn = 1 then 1 else 0 end) as n_kept,
                 coalesce(string_agg(case when rn = 1 then chunk end,
                                     ' ' order by ci), '') as text
          from fl group by doc_id
        )
        select k.doc_id,
               coalesce(a.text, '') as text,
               coalesce(a.n_chunks, 0) as n_chunks,
               cast(coalesce(a.n_kept, 0) as bigint) as n_kept
        from kept k left join agg a using (doc_id)
    """
    sql["decontaminate"] = rf"""
        with base as (
          select doc_id,
                 {_words_sql(f"coalesce(translate(text, {_FOLD_SQL_ARGS}), '')")} as ws
          from documents
        ),
        grams as (
          select doc_id,
                 unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
                        i -> array_to_string(ws[i:i+2], ' '))) as gram
          from base
        ),
        bench as (select distinct gram from grams where doc_id % 97 = 0),
        hits as (
          select g.doc_id, count(distinct g.gram) as n_contaminated
          from grams g join bench using (gram)
          where g.doc_id % 97 <> 0
          group by g.doc_id
        )
        select b.doc_id,
               greatest(len(b.ws) - 2, 0) as n_grams,
               coalesce(h.n_contaminated, 0) as n_contaminated,
               coalesce(h.n_contaminated, 0) < 1 as keep
        from base b left join hits h using (doc_id)
        where b.doc_id % 97 <> 0
        order by b.doc_id
    """
    # full RE2-portable mirror of web.normalize_url (trim/fragment/scheme/
    # host/www/default-port/path-slash/tracking-param/sort chain), then the
    # smallest-doc_id winner per canonical URL
    sql["url_canonical"] = rf"""
        with raw as (
          select doc_id,
                 'HTTP://' || case when doc_id % 2 = 0 then 'WWW.' else '' end ||
                 'Site' || cast((doc_id // 2) % 10 as varchar) || '.Example.COM' ||
                 case when doc_id % 2 = 0 then ':80'
                      when doc_id % 4 = 1 then ':8080' else '' end ||
                 '/Path/' || cast(doc_id // 2 as varchar) ||
                 case when doc_id % 2 = 0 then '/' else '' end ||
                 case when doc_id % 2 = 0 then '?b=2&a=1'
                      else '?utm_source=x&b=2&a=1' end ||
                 case when doc_id % 2 = 1 then '#frag' else '' end as url
          from documents
        ),
        n0 as (
          select doc_id, url, regexp_replace(trim(url, ' '), '#.*$', '') as u0
          from raw
        ),
        n1 as (
          select *,
            lower(regexp_extract(u0, '{_SCHEME_RE}', 1)) as scheme,
            regexp_replace(u0, '{_SCHEME_RE}', '') as rest
          from n0
        ),
        n2 as (
          select *, regexp_extract(rest, '^([^/?]*)', 1) as hostport,
                    regexp_replace(rest, '^[^/?]*', '') as pathq
          from n1
        ),
        n3 as (
          select *,
            regexp_replace(lower(regexp_extract(hostport, '^([^:]*)', 1)),
                           '^www\.', '') as host,
            regexp_extract(hostport, ':(\d+)$', 1) as port
          from n2
        ),
        n4 as (
          select *,
            case when port = '' or (scheme = 'http' and port = '80')
                      or (scheme = 'https' and port = '443')
                 then '' else ':' || port end as port_part,
            case when regexp_replace(regexp_extract(pathq, '^([^?]*)', 1),
                                     '/+$', '') = ''
                 then '/'
                 else regexp_replace(regexp_extract(pathq, '^([^?]*)', 1),
                                     '/+$', '') end as pth,
            regexp_replace(pathq, '^[^?]*\??', '') as qs
          from n3
        ),
        n5 as (
          select *,
            array_to_string(list_sort(list_filter(string_split(qs, '&'),
              p -> p <> '' and not regexp_matches(p,
                '{TRACKING_PARAM_RE}'))), '&') as qjoin
          from n4
        ),
        n6 as (
          select doc_id, url,
            case when scheme = '' then trim(url, ' ')
                 else scheme || '://' || host || port_part || pth ||
                      case when qjoin = '' then '' else '?' || qjoin end
            end as canonical_url
          from n5
        ),
        win as (
          select canonical_url, doc_id, url,
                 row_number() over (partition by canonical_url
                                    order by doc_id) as rn
          from n6
        )
        select canonical_url, doc_id, url from win where rn = 1
        order by canonical_url
    """
    sql["domain_cap"] = r"""
        with urls as (
          select doc_id,
                 (case when doc_id % 5 = 0
                       then 'cold' || cast(doc_id % 7 as varchar)
                       else 'hot' end) || '.com' as domain
          from documents
        ),
        c as (select domain, count(*) as domain_docs from urls group by domain),
        u as (
          select doc_id, urls.domain as domain, domain_docs,
                 list_sum(list_transform(range(0, 8), p ->
                   (strpos('0123456789abcdef',
                           substring(substring(md5('11|' || cast(doc_id as varchar)), 1, 8),
                                     cast(p + 1 as int), 1)) - 1)
                   * power(16, 7 - p))) / 4294967296.0 as uu
          from urls join c using (domain)
        )
        select doc_id, domain, domain_docs from u
        where domain_docs <= 25 or uu < 25.0 / domain_docs
        order by doc_id
    """
    # classifier weights are REGENERATED here from (n_buckets, seed) — the
    # same derivation the Spark gate uses (classify.make_seeded_weights), so
    # the literal vector is identical on both sides by construction
    from ocr_spark.operators.classify import make_seeded_weights

    _wlit = "[" + ", ".join(repr(x) for x in make_seeded_weights(32, seed=5)) + "]"
    sql["classifier_quality"] = rf"""
        with docs as (select doc_id, coalesce(text, '') as text from documents),
        words as (
          select doc_id, unnest({_words_sql("text")}) as w
          from docs
        ),
        -- md5 word bucket, digit-by-digit (the portable_uniform trick):
        -- first 8 hex chars of md5('3|' || word) as an integer, mod 32
        b as (
          select doc_id,
                 cast(list_sum(list_transform(range(0, 8), p ->
                   (strpos('0123456789abcdef',
                           substring(substring(md5('3|' || w), 1, 8),
                                     cast(p + 1 as int), 1)) - 1)
                   * power(16, 7 - p))) as bigint) % 32 as bucket
          from words
        ),
        s as (
          select doc_id, count(*) as n_words,
                 sum((WLIT::DOUBLE[])[bucket + 1]) as wsum
          from b group by doc_id
        ),
        sc as (
          select d.doc_id,
                 cast(coalesce(s.n_words, 0) as int) as n_words,
                 1.0 / (1.0 + exp(-(0.25 + coalesce(s.wsum / s.n_words, 0.0)))) as score
          from docs d left join s using (doc_id)
        )
        select doc_id, n_words, round(score, 4) as quality_prob,
               score >= 0.5 as keep
        from sc order by doc_id
    """.replace("WLIT", _wlit)
    sql["semdedup_keep"] = """
        with e as (
          select vec_id, embedding::DOUBLE[] as v from embeddings
        ),
        keyed as (
          -- centroid pick = 8 smallest LCG keys (mirrors the Spark
          -- TakeOrderedAndProject pick bit-for-bit, same as ivf_topk)
          select vec_id, v,
                 (1103515245 * vec_id + 12345) % 2147483648 as key
          from e
        ),
        cents as (
          select cast(row_number() over (order by key, vec_id) as int) - 1 as cell,
                 v as cvec
          from keyed
          qualify row_number() over (order by key, vec_id) <= 8
        ),
        assign as (
          select e.vec_id, e.v, c.cell,
                 row_number() over (partition by e.vec_id
                     order by list_cosine_similarity(e.v, c.cvec) desc, c.cell) as rn
          from e cross join cents c
        ),
        cells as (select vec_id, v, cell from assign where rn = 1),
        -- cell-local pairs only; a doc is dropped iff some smaller-id
        -- cell-mate sits at cosine >= threshold
        dups as (
          select a.vec_id as vid
          from cells a join cells b using (cell)
          where b.vec_id < a.vec_id
            and list_cosine_similarity(a.v, b.v) >= 0.4
          group by a.vec_id
        )
        select c.vec_id as doc_id, c.cell, (d.vid is null) as keep
        from cells c left join dups d on d.vid = c.vec_id
        order by doc_id
    """
    # DSIR (operators/dsir): target = doc_id % 11 == 0, raw = the rest;
    # 32 md5 buckets over unigram+bigram features, add-0.5 smoothing over
    # the CLOSED 32-way space. Every stage is replayed exactly: the md5
    # bucket digit-by-digit, ln on doubles, the dense bucket range.
    _DSIR_COMMON = rf"""
        with docs as (select doc_id, coalesce(text, '') as text from documents),
        base as (
          select doc_id,
                 {text_words} as ws
          from docs
        ),
        grams as (
          select doc_id, unnest(ws) as gram from base
          union all
          -- bigrams: DuckDB list slices are 1-based INCLUSIVE (ws[i:i+1]
          -- is two elements); range(start, stop) excludes stop
          select doc_id,
                 unnest(list_transform(range(1, greatest(len(ws), 1)),
                        i -> array_to_string(ws[i:i+1], ' '))) as gram
          from base
        ),
        b as (
          select doc_id,
                 cast(list_sum(list_transform(range(0, 8), p ->
                   (strpos('0123456789abcdef',
                           substring(substring(md5('3|' || gram), 1, 8),
                                     cast(p + 1 as int), 1)) - 1)
                   * power(16, 7 - p))) as bigint) % 32 as bucket
          from grams
        ),
        tc as (select bucket, count(*) as c from b where doc_id % 11 = 0 group by bucket),
        rc as (select bucket, count(*) as c from b where doc_id % 11 <> 0 group by bucket),
        tt as (select coalesce(sum(c), 0) as t from tc),
        rt as (select coalesce(sum(c), 0) as t from rc),
        llr as (
          select d.bucket,
                 ln((coalesce(tc.c, 0) + 0.5) / (tt.t + 0.5 * 32))
               - ln((coalesce(rc.c, 0) + 0.5) / (rt.t + 0.5 * 32)) as llr
          from (select cast(range as bigint) as bucket from range(0, 32)) d
          left join tc using (bucket) left join rc using (bucket)
          cross join tt cross join rt
        ),
        perdoc as (
          select b.doc_id, count(*) as n_feats, sum(llr.llr) as log_w
          from b join llr using (bucket)
          where b.doc_id % 11 <> 0
          group by b.doc_id
        ),
        scored as (
          select d.doc_id,
                 cast(coalesce(p.n_feats, 0) as bigint) as n_feats,
                 coalesce(p.log_w, 0.0) as log_w
          from docs d left join perdoc p using (doc_id)
          where d.doc_id % 11 <> 0
        )
    """
    sql["dsir_scores"] = _DSIR_COMMON + r"""
        select doc_id, n_feats, round(log_w, 4) as log_w
        from scored order by doc_id
    """
    sql["url_blocklist"] = r"""
        with u as (
          select doc_id,
                 (case when doc_id % 2 = 0 then 'ads.' else '' end) ||
                 (case when doc_id % 3 = 0
                       then 'bad' || cast(doc_id % 2 as varchar) || '.example'
                       else 'ok' || cast(doc_id % 5 as varchar) || '.org' end) as host
          from documents
        ),
        s as (
          select doc_id, host,
                 list_transform(range(1, len(string_split(host, '.')) + 1),
                     i -> array_to_string(string_split(host, '.')[i:], '.')) as sfx
          from u
        )
        select doc_id, host,
               list_has_any(sfx, ['bad0.example', 'bad1.example', 'unused.net']) as blocked
        from s order by doc_id
    """
    sql["dsir_select"] = _DSIR_COMMON + r"""
        , gumbel as (
          select doc_id,
                 log_w + (-ln(-ln((list_sum(list_transform(range(0, 8), p ->
                   (strpos('0123456789abcdef',
                           substring(substring(md5('7|' || cast(doc_id as varchar)), 1, 8),
                                     cast(p + 1 as int), 1)) - 1)
                   * power(16, 7 - p))) + 0.5) / 4294967296.0))) as g
          from scored
        ),
        topk as (
          select doc_id, g from gumbel
          order by g desc, doc_id
          limit 20
        )
        select doc_id, round(g, 4) as gumbel_score
        from topk order by doc_id
    """
    sql["weighted_mix"] = r"""
        with w as (
          select doc_id, source,
                 case source when 'src0' then 2.5 when 'src1' then 0.25
                             when 'src2' then 0.0 else 1.0 end as wt,
                 substring(md5('7|' || cast(doc_id as varchar)), 1, 8) as h
          from documents
        ),
        u as (
          select doc_id, source, wt,
                 list_sum(list_transform(range(0, 8), p ->
                   (strpos('0123456789abcdef', substring(h, cast(p + 1 as int), 1)) - 1)
                   * power(16, 7 - p))) / 4294967296.0 as uu
          from w
        ),
        n as (
          select doc_id, source,
                 cast(floor(wt) + case when uu < wt - floor(wt) then 1 else 0 end as int) as n
          from u
        )
        select doc_id, source, unnest(range(0, n)) as copy_idx
        from n
        order by doc_id, copy_idx
    """
    sql["split_corpus"] = r"""
        with u as (
          select doc_id,
                 list_sum(list_transform(range(0, 8), p ->
                   (strpos('0123456789abcdef',
                           substring(substring(md5('11|' || cast(doc_id as varchar)), 1, 8),
                                     cast(p + 1 as int), 1)) - 1)
                   * power(16, 7 - p))) / 4294967296.0 as uu
          from documents
        )
        select doc_id,
               case when uu < 0.125 then 'test'
                    when uu < 0.875 then 'train'
                    else 'val' end as split
        from u
        order by doc_id
    """
    sql["top_ngrams"] = rf"""
        with base as (
          select {text_words} as ws
          from documents
        ),
        grams as (
          select unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
                        i -> array_to_string(ws[i:i+2], ' '))) as gram
          from base
        )
        select gram, cast(count(*) as bigint) as n_occurrences
        from grams
        group by gram
        order by n_occurrences desc, gram
        limit 20
    """
    pii_counts = "".join(
        f"len(regexp_extract_all(text,\n                 {_sql_quote(pat)})) as n_{name},\n               "
        for name, pat, _ in PII_PATTERNS
    )
    sql["pii_redact"] = f"""
        with planted as (
          select doc_id,
                 case when doc_id % 4 = 0 then coalesce(text, '')
                      else coalesce(text, '') || ' contact user' || doc_id
                           || '@example.com or 10.0.' || (doc_id % 256)
                           || '.7 call 090-1234-'
                           || lpad(cast(doc_id % 10000 as varchar), 4, '0')
                 end as text
          from documents
        )
        select doc_id,
               {pii_counts}{_pii_chain_sql("text")} as redacted
        from planted
    """
    return sql


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_extraction_pipeline(spark, "/root/testdata/sf0.001")
