"""extract_job end to end through its argv interface: throughput mode scans
the docs once and starts the derived writes only after ``extracted`` is
written; both modes print row counts taken during the writes (a checkpointed
run and its resume count no table, and the manifest's per-bucket counts are
the tables'); the fused and checkpointed catalogs hold the same rows, typed
as ``ocr_spark.schema`` documents them; a fused re-run into a populated
catalog replaces rows instead of adding them; an empty docs table gives four
empty tables."""

from __future__ import annotations

import contextlib
import io
import os
import re
import shutil
import sys
import time
from urllib.parse import urlparse

import pyspark.sql.functions as F
import pytest
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.types import MapType

from ocr_spark import corpus
from ocr_spark.operators.extract import extract_docs
from ocr_spark.schema import DOC_SCHEMA, EMBEDDING_SCHEMA, PROBLEMS_SCHEMA, SPAN_KINDS
from ocr_spark.storage import Catalog

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
import extract_job  # noqa: E402

STAGES = ["extracted", "questions", "problems", "embeddings"]


def _run_job(docs_dir: str, catalog: str, *extra: str) -> dict[str, int]:
    """Run ``extract_job.main()`` and parse its ``stage=… rows=…`` lines."""
    out = io.StringIO()
    with pytest.MonkeyPatch.context() as mp, contextlib.redirect_stdout(out):
        mp.setattr(sys, "argv", ["extract_job.py", "--input", docs_dir, "--catalog", catalog,
                                 "--dim", "8", *extra])
        extract_job.main()
    lines = re.findall(r"^stage=(\S+) rows=(\d+)$", out.getvalue(), re.M)
    return {stage: int(n) for stage, n in lines}


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    """One fused run, with every ``Catalog.write`` recording its input
    files and when it started and finished, and one checkpointed run, over
    the same 40 generated docs."""
    root = tmp_path_factory.mktemp("extract_job")
    docs_dir = str(root / "docs")
    corpus.generate_docs(spark, 40, seed=11, heavy_pct=0.0).write.parquet(docs_dir)
    fused, ck = str(root / "fused"), str(root / "checkpointed")
    writes, finished = [], {}
    write = Catalog.write

    def recording_write(self, df, name, *args, **kwargs):
        writes.append((name, [_path(f) for f in df.inputFiles()], time.perf_counter()))
        try:
            return write(self, df, name, *args, **kwargs)
        finally:
            finished[name] = time.perf_counter()

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(Catalog, "write", recording_write)
        fused_rows = _run_job(docs_dir, fused)
    ck_rows = _run_job(docs_dir, ck, "--checkpointed", "--n-partitions", "4")
    return {"docs": docs_dir, "fused": fused, "checkpointed": ck, "writes": writes,
            "finished": finished, "fused_rows": fused_rows, "ck_rows": ck_rows}


def _path(uri: str) -> str:
    return urlparse(uri).path


def test_fused_mode_reads_the_docs_once(runs):
    """``extracted`` is written first and finishes before any derived write
    starts; the derived writes run concurrently, so their order is free."""
    docs = runs["docs"] + os.sep
    extracted = os.path.join(runs["fused"], "extracted") + os.sep
    names = [name for name, _, _ in runs["writes"]]
    assert names[0] == "extracted"
    assert len(names) == len(STAGES) and set(names[1:]) == set(STAGES[1:])
    assert all(runs["finished"]["extracted"] <= start for _, _, start in runs["writes"][1:])
    from_docs = [name for name, files, _ in runs["writes"]
                 if any(f.startswith(docs) for f in files)]
    assert from_docs == ["extracted"]
    for name, files, _ in runs["writes"][1:]:
        assert files and all(f.startswith(extracted) for f in files), name


def _comparable(df):
    """Drop ``__pid`` and turn map columns into sorted entry arrays, which
    set operations accept."""
    df = df.drop("__pid")
    return df.select(*(
        F.array_sort(F.map_entries(f.name)).alias(f.name) if isinstance(f.dataType, MapType)
        else F.col(f.name)
        for f in df.schema.fields
    ))


def test_printed_rows_match_tables_and_fused_equals_checkpointed(spark, runs):
    assert list(runs["fused_rows"]) == STAGES
    assert runs["ck_rows"] == runs["fused_rows"]
    for stage in STAGES:
        fused = spark.read.parquet(os.path.join(runs["fused"], stage))
        ck = spark.read.parquet(os.path.join(runs["checkpointed"], stage))
        assert runs["fused_rows"][stage] == fused.count() == 40, stage
        assert ck.count() == 40, stage
        a, b = _comparable(fused), _comparable(ck)
        assert a.exceptAll(b).count() == 0, stage
        assert b.exceptAll(a).count() == 0, stage


def test_tables_have_the_documented_schemas(spark, runs):
    """Each written table's types (nullability aside: ``simpleString``
    omits it) are the schema that documents it, in both modes, and every
    extracted span kind is a documented one."""
    documented = {"extracted": DOC_SCHEMA, "problems": PROBLEMS_SCHEMA,
                  "embeddings": EMBEDDING_SCHEMA}
    for mode in ("fused", "checkpointed"):
        for stage, schema in documented.items():
            got = spark.read.parquet(os.path.join(runs[mode], stage)).drop("__pid").schema
            assert got.simpleString() == schema.simpleString(), (mode, stage)
        extracted = spark.read.parquet(os.path.join(runs[mode], "extracted"))
        kinds = {r.kind for r in extracted.select(F.explode("spans.kind").alias("kind"))
                 .distinct().collect()}
        assert kinds and kinds <= set(SPAN_KINDS), (mode, kinds)


def test_checkpointed_rows_come_from_the_writes(spark, runs, tmp_path):
    """A checkpointed run and its resume print every table's true row
    count without a ``count()``: the resume takes them from the manifest."""
    catalog = str(tmp_path / "catalog")

    def no_count(self):
        raise AssertionError("DataFrame.count() called")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(ClassicDataFrame, "count", no_count)
        first = _run_job(runs["docs"], catalog, "--checkpointed", "--n-partitions", "4")
        again = _run_job(runs["docs"], catalog, "--checkpointed", "--n-partitions", "4")
    tables = {stage: spark.read.parquet(os.path.join(catalog, stage)).count() for stage in STAGES}
    assert first == again == tables == dict.fromkeys(STAGES, 40)


def test_manifest_counts_are_the_bucket_counts(spark, runs):
    """Every manifest ``rows_out`` of the checkpointed run is its bucket's
    row count in the written table."""
    catalog = runs["checkpointed"]
    manifest = spark.read.parquet(os.path.join(catalog, "__manifest__"))
    assert manifest.count() == len(STAGES) * 4
    for stage in STAGES:
        table = spark.read.parquet(os.path.join(catalog, stage))
        counted = {r["__pid"]: r["count"] for r in table.groupBy("__pid").count().collect()}
        recorded = {r.partition_id: r.rows_out
                    for r in manifest.filter(F.col("stage") == stage).collect()}
        assert sorted(recorded) == list(range(4)), stage
        assert {p: n for p, n in recorded.items() if n} == counted, stage


def test_fused_rerun_replaces_changed_rows(spark, runs, tmp_path):
    """F2 as the jobs run it: a fused re-run into a populated catalog, with
    one doc's spans changed, leaves one row per doc in every table, and the
    changed doc's ``extracted`` row is the new one."""
    catalog = str(tmp_path / "catalog")
    shutil.copytree(runs["fused"], catalog)
    docs = spark.read.parquet(runs["docs"])
    target = docs.agg(F.min("doc_id")).first()[0]
    is_target = F.col("doc_id") == target
    rewritten = F.transform(
        "spans", lambda s: s.withField("text", F.concat(s["text"], F.lit(" rewritten"))))
    docs_dir = str(tmp_path / "docs")
    docs.withColumn("spans", F.when(is_target, rewritten).otherwise(F.col("spans"))) \
        .write.parquet(docs_dir)

    assert _run_job(docs_dir, catalog) == dict.fromkeys(STAGES, 40)
    for stage in STAGES:
        table = spark.read.parquet(os.path.join(catalog, stage))
        assert table.count() == table.select("doc_id").distinct().count() == 40, stage

    def target_row(df):
        return _comparable(df.filter(is_target))

    got = target_row(spark.read.parquet(os.path.join(catalog, "extracted")))
    old = target_row(spark.read.parquet(os.path.join(runs["fused"], "extracted")))
    new = target_row(extract_docs(spark.read.parquet(docs_dir)))
    assert got.count() == new.count() == 1
    assert got.exceptAll(new).count() == 0 and new.exceptAll(got).count() == 0
    assert got.exceptAll(old).count() == 1


def test_empty_docs_give_empty_tables(spark, runs, tmp_path):
    docs_dir = str(tmp_path / "docs")
    spark.createDataFrame([], DOC_SCHEMA).write.parquet(docs_dir)
    catalog = str(tmp_path / "catalog")
    assert _run_job(docs_dir, catalog) == dict.fromkeys(STAGES, 0)
    for stage in STAGES:
        got = spark.read.parquet(os.path.join(catalog, stage))
        want = spark.read.parquet(os.path.join(runs["fused"], stage))
        assert got.count() == 0, stage
        assert got.schema.simpleString() == want.schema.simpleString(), stage
