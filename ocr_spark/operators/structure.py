"""T8 — structured problem extraction: spans → typed problems array (M2).

Re-creates the reference's structured-extraction capability
(/root/reference/src/claude_image_analyzer.py:134-241,
src/gemini_image_analyzer.py:175-284: page content → ``{problems:[{id,
question, choices[{number,text}], explanation, correct_answer,
has_circuit_diagram, has_table}]}``) as a deterministic grammar over the span
sequence — entirely native DataFrame ops (explode → running-sum window →
grouped aggregation), so it scales to arbitrarily long documents without
per-doc Python.

Grammar (the deterministic analog of the reference's LLM prompt contract):

* a ``heading`` span opens problem N (1-based, document order);
  spans before the first heading are preamble and are dropped;
* ``question``  = heading text + subsequent non-explanation text spans,
  joined with a single newline, in offset order;
* ``choices``   = choice spans parsed by ``^\\s*(\\d+)[.．、]?\\s*(.*)$``;
* ``explanation`` = text spans starting with 解説, joined by newline;
* ``correct_answer`` = first ``正解[:：]?\\s*(\\d+)`` match in the problem;
* ``has_circuit_diagram`` = problem contains a media span
  (reference flag: src/gemini_image_analyzer.py:199);
* ``has_table`` = problem contains a table span;
* completeness rule (reference prompt "drop truncated trailing problem",
  /root/reference/src/claude_image_analyzer.py:185-191): the LAST problem of
  a doc is dropped when it has zero choices.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

CHOICE_RE = r"^\s*(\d+)[\.．、]?\s*(.*)$"
CORRECT_RE = r"正解[:：]?\s*(\d+)"


def extract_problems(docs: DataFrame) -> DataFrame:
    """docs(doc_id, spans) → (doc_id, problems); a doc without a heading
    gets empty ``problems``.

    One shuffle total: the running-sum window and both groupBys share the
    ``doc_id`` hash partitioning, so Catalyst plans a single Exchange.
    """
    ex = docs.select("doc_id", F.explode("spans").alias("s"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy(F.col("s.offset"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ex = ex.withColumn(
        "problem_id", F.sum(F.when(F.col("s.kind") == "heading", 1).otherwise(0)).over(w)
    ).filter(F.col("problem_id") > 0)

    s = F.col("s")
    is_text = s["kind"].isin("text", "heading")
    is_expl = (s["kind"] == "text") & s["text"].startswith("解説")

    per_problem = ex.groupBy("doc_id", "problem_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(is_text & ~is_expl, F.struct(s["offset"], s["text"]))
                    )
                ),
                lambda x: x["text"],
            ),
            "\n",
        ).alias("question"),
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        s["kind"] == "choice",
                        F.struct(
                            s["offset"].alias("offset"),
                            F.regexp_extract(s["text"], CHOICE_RE, 1).alias("num"),
                            F.regexp_extract(s["text"], CHOICE_RE, 2).alias("ctext"),
                        ),
                    )
                )
            ),
            lambda x: F.struct(
                F.nullif(x["num"], F.lit("")).cast("int").alias("number"),
                x["ctext"].alias("text"),
            ),
        ).alias("choices"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(is_expl, F.struct(s["offset"], s["text"])))
                ),
                lambda x: x["text"],
            ),
            "\n",
        ).alias("explanation"),
        F.min(
            F.when(
                F.regexp_extract(s["text"], CORRECT_RE, 1) != "",
                F.struct(
                    s["offset"].alias("offset"),
                    F.regexp_extract(s["text"], CORRECT_RE, 1).cast("int").alias("ans"),
                ),
            )
        )["ans"].alias("correct_answer"),
        F.max((s["kind"] == "media").cast("int")).cast("boolean").alias("has_circuit_diagram"),
        F.max((s["kind"] == "table").cast("int")).cast("boolean").alias("has_table"),
    )

    per_doc = per_problem.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("problem_id"),
                        F.struct(
                            F.col("problem_id").cast("int").alias("id"),
                            F.col("question"),
                            F.col("choices"),
                            F.col("explanation"),
                            F.col("correct_answer"),
                            F.col("has_circuit_diagram"),
                            F.col("has_table"),
                        ).alias("p"),
                    )
                )
            ),
            lambda x: x["p"],
        ).alias("problems_raw")
    )

    # completeness rule: drop a choice-less trailing problem
    problems = F.when(
        (F.size("problems_raw") > 0)
        & (F.size(F.element_at("problems_raw", -1)["choices"]) == 0),
        F.slice("problems_raw", 1, F.greatest(F.size("problems_raw") - 1, F.lit(0))),
    ).otherwise(F.col("problems_raw"))

    out = per_doc.select("doc_id", problems.alias("problems"))
    # docs with no heading at all: emit empty problems (left join back)
    all_docs = docs.select("doc_id")
    return (
        all_docs.join(out, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(
                "problems",
                F.array().cast(out.schema["problems"].dataType),
            ).alias("problems"),
        )
    )


def render_problems_markdown(
    problems_df: DataFrame, problems_col: str = "problems", out_col: str = "markdown"
) -> DataFrame:
    """T10 — problems struct → reference-exact markdown
    (/root/reference/src/compare_samples.py:129-146):

    ``## 問題 {id|N/A}`` / question / ``### 選択肢`` / ``{num}. {text}`` lines /
    ``### 正解`` / answer|N/A / optional ``### 解説`` (emitted when an
    explanation is present — the reference's ``'explanation' in problem``
    check; our typed struct models absence as null/empty) / ``---``.

    Pure native fold (``aggregate`` over the problems array) — no Python.
    """

    def _one(pr: Column) -> Column:
        choices_md = F.aggregate(
            pr["choices"],
            F.lit(""),
            lambda acc, c: F.concat(
                acc,
                F.coalesce(c["number"].cast("string"), F.lit("")),
                F.lit(". "),
                F.coalesce(c["text"], F.lit("")),
                F.lit("\n"),
            ),
        )
        base = F.concat(
            F.lit("## 問題 "),
            F.coalesce(pr["id"].cast("string"), F.lit("N/A")),
            F.lit("\n\n"),
            F.coalesce(pr["question"], F.lit("")),
            F.lit("\n\n### 選択肢\n\n"),
            choices_md,
            F.lit("\n### 正解\n\n"),
            F.coalesce(pr["correct_answer"].cast("string"), F.lit("N/A")),
            F.lit("\n\n"),
        )
        expl = F.when(
            pr["explanation"].isNotNull() & (pr["explanation"] != ""),
            F.concat(F.lit("### 解説\n\n"), pr["explanation"], F.lit("\n\n")),
        ).otherwise(F.lit(""))
        return F.concat(base, expl, F.lit("---\n\n"))

    md = F.aggregate(F.col(problems_col), F.lit(""), lambda acc, pr: F.concat(acc, _one(pr)))
    return problems_df.withColumn(out_col, md)
