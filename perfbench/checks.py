"""Correctness checks on the jobs' catalog output.

Each check returns a list of problems; an op with any problem counts as
failed. Digests are order-independent: a row count, plus the sum and xor of
``xxhash64(to_json(row))`` over the table, with columns sorted by name and
the checkpoint bucket column ``__pid`` left out.
"""

from __future__ import annotations

import functools
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench.inputs import HEAVY_SPANS
from tests.oracle import extract_doc

EXTRACT_TABLES = ("extracted", "questions", "problems", "embeddings")
CURATION_TABLES = (
    "curated", "curation_rejects", "curation_stats",
    "select_blocked", "select_lowquality", "selected", "select_stats",
    "mix", "mix_contaminated", "mix_stats",
)
SAMPLE_PCT = 1


def _row_hashes(df: DataFrame, table: str) -> DataFrame:
    cols = sorted(c for c in df.columns if c != "__pid")
    return df.select(F.lit(table).alias("t"), F.xxhash64(F.to_json(F.struct(*cols))).alias("h"))


def digests(spark: SparkSession, catalog: str, tables) -> dict[str, tuple]:
    """``{table: (rows, sum, xor)}``, all tables in one Spark job."""
    hashes = [_row_hashes(spark.read.parquet(os.path.join(catalog, t)), t) for t in tables]
    rows = functools.reduce(DataFrame.unionByName, hashes).groupBy("t").agg(
        F.count("*").alias("n"),
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
        F.bit_xor("h").alias("x"),
    ).collect()
    got = {r["t"]: (int(r["n"]), str(r["s"]), int(r["x"])) for r in rows}
    return {t: got.get(t, (0, "None", 0)) for t in tables}


def _sampled(df: DataFrame) -> DataFrame:
    """Every heavy doc plus a 1% hash sample of the rest."""
    return df.filter(
        (F.size("spans") >= HEAVY_SPANS)
        | (F.pmod(F.xxhash64("doc_id"), F.lit(100)) < SAMPLE_PCT)
    )


def _span_tuples(spans) -> list[tuple]:
    ordered = sorted(spans, key=lambda s: s["offset"])
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in ordered]


def check_extracted(spark: SparkSession, docs_path: str, catalog: str) -> list[str]:
    """``extracted`` matches the Python oracle span for span (kind, text,
    media_ref, order) on every heavy doc and a 1% hash sample."""
    inputs = {r["doc_id"]: r["spans"] for r in _sampled(spark.read.parquet(docs_path)).collect()}
    out = {
        r["doc_id"]: r["spans"]
        for r in spark.read.parquet(os.path.join(catalog, "extracted"))
        .filter(F.col("doc_id").isin(list(inputs)))
        .collect()
    }
    problems = []
    if not any(len(s) >= HEAVY_SPANS for s in inputs.values()):
        problems.append("sample holds no heavy doc")
    for doc_id, spans in sorted(inputs.items()):
        want = _span_tuples(extract_doc(doc_id, [s.asDict() for s in spans]))
        got = _span_tuples(out.get(doc_id) or [])
        if got != want:
            problems.append(f"extracted {doc_id}: spans differ from the oracle")
    return problems


def check_row_counts(digests: dict[str, tuple], n_docs: int) -> list[str]:
    """One row per input doc in every extraction table."""
    return [f"{t}: {d[0]} rows for {n_docs} docs" for t, d in digests.items() if d[0] != n_docs]


def check_curation(spark: SparkSession, catalog: str, digests: dict[str, tuple],
                   n_docs: int) -> list[str]:
    """Row accounting across curate, select and mix."""
    count = lambda t: digests[t][0]  # noqa: E731
    problems = []
    if count("curated") + count("curation_rejects") != n_docs:
        problems.append("curated + curation_rejects != input")
    mix_docs = spark.read.parquet(os.path.join(catalog, "mix_stats")).agg(F.sum("n_docs")).first()[0]
    if mix_docs != n_docs:
        problems.append(f"mix_stats.n_docs sums to {mix_docs}, input {n_docs}")
    s = spark.read.parquet(os.path.join(catalog, "select_stats")).first().asDict()
    if (
        s["n_input"] != n_docs
        or s["n_blocked"] != count("select_blocked")
        or s["n_lowquality"] != count("select_lowquality")
        or s["n_selected"] != count("selected")
        or s["n_blocked"] + s["n_lowquality"] + s["n_selected"] > n_docs
    ):
        problems.append(f"select_stats inconsistent: {s}")
    return problems


def plant_corrupt_span(spark: SparkSession, catalog: str) -> None:
    """Self-test hook: append one character to the first span of the
    largest extracted doc, rewriting the table in place."""
    path = os.path.join(catalog, "extracted")
    df = spark.read.parquet(path)
    victim = df.orderBy(F.size("spans").desc(), "doc_id").first()["doc_id"]
    first = F.col("spans")[0]
    bad = F.concat(
        F.array(first.withField("text", F.concat(first["text"], F.lit("#")))),
        F.slice("spans", 2, 1 << 30),
    )
    fixed = df.withColumn("spans", F.when(F.col("doc_id") == victim, bad).otherwise(F.col("spans")))
    staging = path + ".__corrupt__"
    fixed.write.mode("overwrite").parquet(staging)
    shutil.rmtree(path)
    os.rename(staging, path)
