"""M4 tests: crash-resume via manifest, empty buckets and empty input,
error split, end-to-end pipeline, concurrent derived stages, lineage."""

from __future__ import annotations

import threading

import pandas as pd
import pyspark.sql.functions as F
import pytest

from ocr_spark import corpus
from ocr_spark.operators.extract import extract_docs
from ocr_spark.plans import pipeline
from ocr_spark.plans.pipeline import run_pipeline, run_pipeline_checkpointed
from ocr_spark.schema import DOC_SCHEMA, MANIFEST_SCHEMA
from ocr_spark.storage import Catalog, run_stage

from .conftest import spans_of


@pytest.fixture()
def catalog(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "warehouse"))


def test_run_stage_resume_after_crash(spark, catalog, monkeypatch):
    docs = corpus.generate_docs(spark, 80, seed=21, heavy_pct=0.0)
    # crash after the data commit, before the manifest lands: the worst
    # point for the one-job path (every bucket written, none recorded)
    append = Catalog.append_manifest
    crashed = []

    def crash_once(self, rows):
        if not crashed:
            crashed.append(rows)
            raise RuntimeError("simulated crash")
        return append(self, rows)

    monkeypatch.setattr(Catalog, "append_manifest", crash_once)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_stage(catalog, "extracted", docs, extract_docs, n_partitions=4, lineage="docs")
    assert catalog.manifest().count() == 0
    # resume: every bucket is pending again and is overwritten, not appended
    rows = run_stage(catalog, "extracted", docs, extract_docs, n_partitions=4, lineage="docs")
    out = catalog.read("extracted")
    assert rows == out.count() == 80
    assert out.select("doc_id").distinct().count() == 80
    assert catalog.manifest().count() == 4
    # re-run again: fully no-op, manifest unchanged, rows from the manifest
    rows2 = run_stage(catalog, "extracted", docs, extract_docs, n_partitions=4, lineage="docs")
    assert rows2 == 80
    assert catalog.manifest().count() == 4
    assert spans_of(catalog.read("extracted")) == spans_of(extract_docs(docs))
    # a re-run at another bucket count is a no-op too: the completed stage
    # is skipped whole, no bucket of the new layout is written again
    rows8 = run_stage(catalog, "extracted", docs, extract_docs, n_partitions=8, lineage="docs")
    out = catalog.read("extracted")
    assert rows8 == out.count() == 80
    assert out.select("doc_id").distinct().count() == 80
    assert catalog.manifest().count() == 4


@pytest.mark.parametrize("n_partitions", [0, -1])
def test_run_stage_rejects_bucket_count_below_one(spark, catalog, n_partitions):
    docs = corpus.generate_docs(spark, 3, seed=5, heavy_pct=0.0)
    with pytest.raises(ValueError, match="n_partitions"):
        run_pipeline_checkpointed(catalog, docs, dim=8, n_partitions=n_partitions)
    assert not catalog.exists("extracted")
    assert catalog.manifest().count() == 0


def test_checkpointed_rerun_with_empty_buckets(spark, catalog):
    """3 docs over 16 buckets leave most bucket directories unwritten; the
    no-op re-run of the checkpointed pipeline must still report every
    stage's rows, and the tables read back."""
    docs = corpus.generate_docs(spark, 3, seed=5, heavy_pct=0.0)
    run_pipeline_checkpointed(catalog, docs, dim=8, n_partitions=16)
    again = run_pipeline_checkpointed(catalog, docs, dim=8, n_partitions=16)
    assert catalog.manifest().count() == 4 * 16
    want = {"extracted": 3, "questions": 3, "problems": 3, "embeddings": 3}
    assert again == want
    assert {name: catalog.read(name).count() for name in again} == want
    assert spans_of(catalog.read("extracted")) == spans_of(extract_docs(docs))


def test_checkpointed_empty_input(spark, catalog):
    docs = spark.createDataFrame([], DOC_SCHEMA)
    for _ in range(2):  # first run, then the no-op re-run
        rows = run_pipeline_checkpointed(catalog, docs, dim=8, n_partitions=4)
        assert rows == dict.fromkeys(["extracted", "questions", "problems", "embeddings"], 0)
        assert catalog.manifest().count() == 4 * 4
    # an empty stage has no bucket directories: it reads back by schema
    extracted = spark.read.schema(DOC_SCHEMA).parquet(catalog.path("extracted"))
    assert extracted.count() == 0
    assert extracted.schema.simpleString() == extract_docs(docs).schema.simpleString()


def test_error_split(spark, catalog, monkeypatch):
    df = spark.createDataFrame(
        [(f"d{i:02d}", -i if i % 10 == 0 else i) for i in range(1, 41)],
        "doc_id string, v int",
    )
    negative = sorted(f"d{i:02d}" for i in range(10, 41, 10))

    def transform(d):
        return d.withColumn(
            "error", F.when(F.col("v") < 0, F.lit("negative value")).otherwise(F.lit(None).cast("string"))
        )

    def run():
        run_stage(
            catalog, "checked", df, transform, n_partitions=4, lineage="raw",
            error_col="error",
        )

    # crash after the data and error writes, before the manifest lands: the
    # rerun redoes every bucket and must not duplicate its error rows
    append = Catalog.append_manifest
    crashed = []

    def crash_once(self, rows):
        if not crashed:
            crashed.append(rows)
            raise RuntimeError("simulated crash")
        return append(self, rows)

    monkeypatch.setattr(Catalog, "append_manifest", crash_once)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run()
    run()
    out = catalog.read("checked")
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in df.collect() if r.doc_id not in negative
    )
    errs = catalog.read("checked_errors").drop("__pid")
    assert errs.columns == ["doc_id", "v", "error"]
    assert sorted(r.doc_id for r in errs.collect()) == negative
    m = catalog.manifest()
    assert m.count() == 4
    assert m.agg(F.sum("errors")).collect()[0][0] == 4
    assert m.agg(F.sum("rows_in")).collect()[0][0] == 40
    assert m.agg(F.sum("rows_out")).collect()[0][0] == 36


def test_pipeline_end_to_end(spark, catalog, tmp_path):
    docs = corpus.generate_docs(spark, 40, seed=9, heavy_pct=0.0)
    fused_catalog = Catalog(spark, str(tmp_path / "fused"))
    rows = run_pipeline(fused_catalog, docs, dim=32)
    assert rows == dict.fromkeys(["extracted", "questions", "problems", "embeddings"], 40)
    fused = {name: fused_catalog.read(name) for name in rows}
    assert run_pipeline_checkpointed(catalog, docs, dim=32, n_partitions=3) == rows
    ck = {name: catalog.read(name) for name in rows}
    # checkpointed output == fused output, stage by stage
    assert spans_of(ck["extracted"]) == spans_of(fused["extracted"])
    fq = {r.question_id: (r.year, r.content) for r in fused["questions"].collect()}
    cq = {r.question_id: (r.year, r.content) for r in ck["questions"].collect()}
    assert fq == cq
    fe = {r.doc_id: tuple(r.embedding) for r in fused["embeddings"].collect()}
    ce = {r.doc_id: tuple(r.embedding) for r in ck["embeddings"].collect()}
    assert fe == ce
    fp = {r.doc_id: str(r.problems) for r in fused["problems"].collect()}
    cp = {r.doc_id: str(r.problems) for r in ck["problems"].collect()}
    assert fp == cp
    # manifest covers 4 stages × 3 partitions
    assert catalog.manifest().count() == 12
    # a re-run at another bucket count skips every completed stage
    assert run_pipeline_checkpointed(catalog, docs, dim=32, n_partitions=5) == rows
    assert {name: catalog.read(name).count() for name in rows} == rows
    assert catalog.manifest().count() == 12


STAGES = ["extracted", "questions", "problems", "embeddings"]


def _docs_files(spark, tmp_path, n: int, seed: int):
    """``n`` generated docs, written to parquet and read back."""
    path = str(tmp_path / f"docs-{n}-{seed}")
    corpus.generate_docs(spark, n, seed=seed, heavy_pct=0.0).write.parquet(path)
    return spark.read.parquet(path)


def _rows(df) -> list[str]:
    """A table's rows as sorted strings, bucket column dropped."""
    return sorted(map(str, df.drop("__pid").collect()))


def test_manifest_rows_round_trip_with_the_manifest_schema(spark, catalog):
    rows = [
        {"stage": "s'\"x", "partition_id": p, "status": "completed", "rows_in": 2**40 + p,
         "rows_out": p, "errors": 1, "lineage": None if p else "docs@ab", "run_id": "r"}
        for p in range(3)
    ]
    assert catalog.manifest().schema.simpleString() == MANIFEST_SCHEMA.simpleString()
    catalog.append_manifest(rows)
    m = catalog.manifest()
    assert m.schema.simpleString() == MANIFEST_SCHEMA.simpleString()
    assert sorted((r.asDict() for r in m.collect()), key=lambda r: r["partition_id"]) == rows


def test_concurrent_manifest_appends_all_land(spark, catalog):
    """More appending threads than cores, released together: every row
    lands once (two unserialized appends share ``_temporary``)."""
    n_threads = 8
    start = threading.Barrier(n_threads, timeout=60)
    errors = []

    def append(t):
        try:
            start.wait()
            catalog.append_manifest([
                {"stage": f"s{t}", "partition_id": p, "status": "completed", "rows_in": p,
                 "rows_out": p, "errors": 0, "lineage": None, "run_id": "r"}
                for p in range(4)
            ])
        except Exception as exc:  # reported below, with the thread's stage
            errors.append((t, exc))

    threads = [threading.Thread(target=append, args=(t,)) for t in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    got = sorted((r.stage, r.partition_id) for r in catalog.manifest().collect())
    assert got == sorted((f"s{t}", p) for t in range(n_threads) for p in range(4))


@pytest.mark.parametrize("checkpointed", [False, True], ids=["fused", "checkpointed"])
def test_derived_stages_run_concurrently(spark, catalog, monkeypatch, checkpointed):
    """Each derived write waits at a 3-party barrier before it starts: the
    run completes only if the three derived stages are in flight together."""
    docs = corpus.generate_docs(spark, 12, seed=3, heavy_pct=0.0)
    barrier = threading.Barrier(3, timeout=60)

    def gated(orig, name_at):
        def wrapper(*args, **kwargs):
            if args[name_at] != "extracted":
                barrier.wait()
            return orig(*args, **kwargs)
        return wrapper

    if checkpointed:
        monkeypatch.setattr(pipeline, "run_stage", gated(pipeline.run_stage, 1))
        rows = run_pipeline_checkpointed(catalog, docs, dim=8, n_partitions=2)
    else:
        monkeypatch.setattr(Catalog, "write", gated(Catalog.write, 2))
        rows = run_pipeline(catalog, docs, dim=8)
    assert list(rows) == STAGES
    assert rows == dict.fromkeys(STAGES, 12)


def _failing_problems(monkeypatch):
    def fail(df):
        raise RuntimeError("problems failed")

    monkeypatch.setattr(pipeline, "extract_problems", fail)


def test_failed_derived_stage_raises_after_the_others_are_written(spark, catalog, monkeypatch):
    docs = corpus.generate_docs(spark, 12, seed=4, heavy_pct=0.0)
    _failing_problems(monkeypatch)
    with pytest.raises(RuntimeError, match="problems failed"):
        run_pipeline(catalog, docs, dim=8)
    assert not catalog.exists("problems")
    for name in ("extracted", "questions", "embeddings"):
        assert catalog.read(name).count() == 12, name


def test_checkpointed_rerun_writes_only_the_failed_stage(spark, catalog, monkeypatch, tmp_path):
    docs = _docs_files(spark, tmp_path, 12, seed=4)
    with monkeypatch.context() as mp:
        _failing_problems(mp)
        with pytest.raises(RuntimeError, match="problems failed"):
            run_pipeline_checkpointed(catalog, docs, dim=8, n_partitions=3, run_id="r1")
    by_stage = {r.stage: r["count"] for r in catalog.manifest().groupBy("stage").count().collect()}
    assert by_stage == {"extracted": 3, "questions": 3, "embeddings": 3}

    assert run_pipeline_checkpointed(catalog, docs, dim=8, n_partitions=3, run_id="r2") == \
        dict.fromkeys(STAGES, 12)
    runs = {(r.stage, r.run_id) for r in catalog.manifest().select("stage", "run_id").collect()}
    assert runs == {(s, "r1") for s in ("extracted", "questions", "embeddings")} | {("problems", "r2")}
    clean = Catalog(spark, str(tmp_path / "clean"))
    run_pipeline_checkpointed(clean, docs, dim=8, n_partitions=3)
    for name in STAGES:
        assert _rows(catalog.read(name)) == _rows(clean.read(name)), name


def test_checkpointed_lineage_follows_the_docs(spark, catalog, tmp_path):
    """Other docs files into a completed catalog rewrite every stage; the
    same files again are a no-op."""
    first = _docs_files(spark, tmp_path, 10, seed=1)
    assert run_pipeline_checkpointed(catalog, first, dim=8, n_partitions=4) == \
        dict.fromkeys(STAGES, 10)
    second = _docs_files(spark, tmp_path, 25, seed=2)
    assert run_pipeline_checkpointed(catalog, second, dim=8, n_partitions=4) == \
        dict.fromkeys(STAGES, 25)
    n_manifest = catalog.manifest().count()
    assert run_pipeline_checkpointed(catalog, second, dim=8, n_partitions=4) == \
        dict.fromkeys(STAGES, 25)
    assert catalog.manifest().count() == n_manifest == 2 * 4 * 4
    assert spans_of(catalog.read("extracted")) == spans_of(extract_docs(second))
    fused = Catalog(spark, str(tmp_path / "fused"))
    run_pipeline(fused, second, dim=8)
    for name in STAGES:
        assert _rows(catalog.read(name)) == _rows(fused.read(name)), name
