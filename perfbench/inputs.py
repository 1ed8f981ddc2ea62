"""Seeded benchmark inputs, generated and written to parquet before timing.

The jobs see only the parquet and CSV files written here. Every file is a
pure function of ``(seed, n_docs)``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.corpus import generate_docs
from ocr_spark.operators.extract import extract_docs, render_markdown

# Skew knobs of the generated corpus. The generator draws heavy docs with
# probability 0.1% and 5k-20k spans, which on 1,000 docs gives 0 to 4 of
# them: over seeds 1-20 the corpus then holds 19k-75k spans (IQR/median
# 0.51), and half the seeds have no heavy doc. Here their count is fixed at
# 0.1% (at least one), each a generator heavy draw cut to its first
# HEAVY_SPANS spans, the low end of that range, so every seed's corpus
# holds the same heavy work. The 1% media-dense docs stay the generator's
# own draw.
HEAVY_SHARE = 0.001
HEAVY_SPANS = 5_000

SOURCES = ("web", "books", "papers", "code")
HOSTS = ("example.com", "news.example.org", "spam.test", "blog.bad.test", "wiki.example.net")
BLOCKLIST = ("spam.test", "bad.test")
WEIGHTS = (("web", 0.5), ("books", 2.0), ("papers", 1.5), ("code", 1.0))
TARGET_SLICE = 37


@dataclass
class Inputs:
    n_docs: int
    docs: str
    text: str = ""
    target: str = ""
    blocklist: str = ""
    weights: str = ""


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


def make_docs(spark: SparkSession, n_docs: int, seed: int) -> DataFrame:
    """``n_docs`` generated docs (DOC_SCHEMA) with a fixed heavy-doc count."""
    n_heavy = max(1, round(n_docs * HEAVY_SHARE))
    n_light = n_docs - n_heavy
    light = generate_docs(spark, n_light, seed=seed, heavy_pct=0.0)
    drawn = generate_docs(spark, n_heavy, seed=seed + 1, heavy_pct=1.0)
    # renamed to the ids the generator would give docs n_light.., media
    # refs (img://<doc_id>/fig_N.png) included
    page = F.lit(n_light) + F.substring_index("doc_id", "_", -1).cast("int")
    media_ref = lambda s: F.concat(  # noqa: E731
        F.lit("img://"), F.col("doc_id"), F.lit("/"), F.substring_index(s["media_ref"], "/", -1)
    )
    heavy = (
        drawn.select(
            F.format_string("R%02d_page_%06d", F.pmod(page, F.lit(7)) + 1, page).alias("doc_id"),
            F.slice("spans", 1, HEAVY_SPANS).alias("spans"),
        )
        .withColumn("spans", F.transform("spans", lambda s: s.withField("media_ref", media_ref(s))))
    )
    return light.unionByName(heavy)


def write_extract_inputs(spark: SparkSession, work: str, n_docs: int, seed: int) -> Inputs:
    docs = os.path.join(work, "docs")
    make_docs(spark, n_docs, seed).write.parquet(docs)
    return Inputs(n_docs, docs)


def write_curation_inputs(spark: SparkSession, work: str, n_docs: int, seed: int) -> Inputs:
    """The rendered text of the generated docs as ``(doc_id, source, url,
    text)``, a 1/37 slice of it as the DSIR target and decontamination
    benchmark, a two-domain blocklist and a four-source weights CSV."""
    inputs = write_extract_inputs(spark, work, n_docs, seed)
    rendered = render_markdown(extract_docs(spark.read.parquet(inputs.docs)))
    pick = lambda options, salt: F.element_at(  # noqa: E731
        F.array(*[F.lit(o) for o in options]),
        F.pmod(F.xxhash64("doc_id", F.lit(salt)), F.lit(len(options))).cast("int") + 1,
    )
    text = rendered.select(
        "doc_id",
        pick(SOURCES, "source").alias("source"),
        F.concat(F.lit("https://"), pick(HOSTS, "host"), F.lit("/doc/"), "doc_id").alias("url"),
        F.col("content").alias("text"),
    )
    inputs.text = os.path.join(work, "text")
    text.write.parquet(inputs.text)
    inputs.target = os.path.join(work, "target")
    (
        spark.read.parquet(inputs.text)
        .filter(F.pmod(F.xxhash64("doc_id"), F.lit(TARGET_SLICE)) == 0)
        .select("doc_id", "text")
        .write.parquet(inputs.target)
    )
    inputs.blocklist = os.path.join(work, "blocklist.csv")
    with open(inputs.blocklist, "w") as f:
        f.writelines(d + "\n" for d in BLOCKLIST)
    inputs.weights = os.path.join(work, "weights.csv")
    with open(inputs.weights, "w") as f:
        f.writelines(f"{s},{w}\n" for s, w in WEIGHTS)
    return inputs
