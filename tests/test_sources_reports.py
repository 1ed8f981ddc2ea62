"""Unit tests: S1 binaryFile+page-split plumbing, S10 report renderer
(byte-exact golden), S11 catalog snapshot/restore."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_spark.sources.pdf import (
    PAGE_SEP,
    pages_to_docs,
    scan_binary_files,
    split_pages,
)


# ---------------------------------------------------------------------------
# S1 — binaryFile scan + page splitter
# ---------------------------------------------------------------------------
def test_binaryfile_scan_and_split(spark, tmp_path):
    (tmp_path / "examA.pdf").write_bytes(
        b"page one text" + PAGE_SEP + b"page two" + PAGE_SEP + b"p3"
    )
    (tmp_path / "examB.pdf").write_bytes(b"single page only")
    (tmp_path / "notes.txt").write_bytes(b"ignored")

    files = scan_binary_files(spark, str(tmp_path), glob="*.pdf")
    assert files.count() == 2
    assert set(files.columns) >= {"path", "content", "length"}

    docs = pages_to_docs(split_pages(files)).orderBy("doc_id").collect()
    ids = [r.doc_id for r in docs]
    assert ids == [
        "examA_page_001", "examA_page_002", "examA_page_003", "examB_page_001",
    ]
    assert [r.text for r in docs] == [
        "page one text", "page two", "p3", "single page only",
    ]
    assert [r.page_no for r in docs] == [1, 2, 3, 1]
    assert docs[0].n_bytes == len(b"page one text")


def test_page_ids_do_not_truncate_past_999(spark):
    """Spark lpad TRUNCATES past the pad width; page 1000 must not collide
    with page 100 (reference f'{N:03d}' pads without truncating)."""
    blob = PAGE_SEP.join(b"p%d" % i for i in range(1, 1101))
    df = spark.createDataFrame(
        [("m://big.pdf", bytearray(blob))], "path string, content binary"
    )
    docs = pages_to_docs(split_pages(df))
    ids = [r.doc_id for r in docs.collect()]
    assert len(ids) == len(set(ids)) == 1100
    assert "big_page_001" in ids and "big_page_100" in ids
    assert "big_page_1000" in ids and "big_page_1100" in ids


def test_split_pages_fanout_skew_shape(spark):
    """One 500-page file and one 1-page file in the same batch: the
    mapInPandas fan-out must emit 501 rows with exact per-page bytes."""
    big = PAGE_SEP.join(b"x" * (i % 7 + 1) for i in range(500))
    df = spark.createDataFrame(
        [("m://big.pdf", bytearray(big)), ("m://one.pdf", bytearray(b"solo"))],
        "path string, content binary",
    )
    pages = split_pages(df)
    assert pages.count() == 501
    got = {
        (r.path, r.page_no): r.n_bytes for r in pages.collect()
    }
    assert got[("m://big.pdf", 1)] == 1
    assert got[("m://big.pdf", 500)] == 499 % 7 + 1
    assert got[("m://one.pdf", 1)] == 4


# ---------------------------------------------------------------------------
# JSONL source
# ---------------------------------------------------------------------------
def test_read_jsonl_with_corrupt_isolation(spark, tmp_path):
    from ocr_spark.sources.jsonl import read_jsonl, split_corrupt

    lines = [
        '{"doc_id": "d1", "spans": [{"kind": "text", "text": "hello", '
        '"media_ref": null, "offset": 0}], "source": "s"}',
        '{"doc_id": "d2", "spans": [], "source": "s"}',
        "{this is not json",
        '{"doc_id": "d3"}',
    ]
    f = tmp_path / "corpus.jsonl"
    f.write_text("\n".join(lines) + "\n")
    good, bad = split_corrupt(read_jsonl(spark, str(f)))
    g = {r.doc_id: r for r in good.collect()}
    assert set(g) == {"d1", "d2", "d3"}
    assert g["d1"].spans[0].kind == "text" and g["d1"].spans[0].offset == 0
    assert g["d2"].spans == [] and g["d3"].spans is None
    assert [r._corrupt_record for r in bad.collect()] == ["{this is not json"]


def test_jsonl_roundtrip_identity(spark):
    from ocr_spark.sources.jsonl import doc_to_json, parse_jsonl_column

    df = spark.createDataFrame(
        [("a", [("text", "x", None, 0), ("media", "", "img://a/1", 1)])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    back = parse_jsonl_column(
        df.select(doc_to_json("doc_id", "spans").alias("line"))
    ).select("doc.*")
    r = back.collect()[0]
    assert r.doc_id == "a"
    assert [tuple(s) for s in r.spans] == [
        ("text", "x", None, 0), ("media", "", "img://a/1", 1),
    ]


# ---------------------------------------------------------------------------
# S10 — comparison report (byte-exact golden)
# ---------------------------------------------------------------------------
GOLDEN_REPORT = (
    "# Q001 の類似・非類似問題比較\n\n"
    "## ベース問題\n\n"
    "base question body\n\n"
    "## 類似問題\n\n"
    "### Q007 (距離: 0.1200)\n\n"
    "similar one\n\n"
    "### Q003 (距離: 0.3456)\n\n"
    "similar two\n\n"
    "## 非類似問題\n\n"
    "### Q099 (距離: 1.9000)\n\n"
    "far away\n\n"
)


def test_report_golden_bytes():
    from ocr_spark.reports import render_comparison_report

    md = render_comparison_report(
        "Q001",
        "base question body",
        [("Q007", 0.12, "similar one"), ("Q003", 0.34561, "similar two")],
        [("Q099", 1.9, "far away")],
    )
    assert md == GOLDEN_REPORT


def test_report_truncates_to_max_samples():
    from ocr_spark.reports import render_comparison_report

    md = render_comparison_report(
        "B", "c",
        [(f"S{i}", 0.1 * i, "x") for i in range(10)],
        [], max_samples=3,
    )
    assert md.count("### S") == 3


def test_report_from_head_tail_rows(spark):
    from ocr_spark.reports import report_from_head_tail

    rows = spark.createDataFrame(
        [(7, 0.9, "similar"), (3, 0.8, "similar"), (99, -0.5, "dissimilar")],
        "doc_id long, similarity double, side string",
    ).collect()
    md = report_from_head_tail(
        rows, "BASE", "base text", content_by_id={7: "seven"}
    )
    assert "### 7 (距離: 0.1000)" in md
    assert "seven" in md
    # similar section ordered by similarity desc; dissimilar present
    assert md.index("### 7") < md.index("### 3") < md.index("### 99")
    assert "### 99 (距離: 1.5000)" in md


# ---------------------------------------------------------------------------
# S10 visual half — draw-plan golden + env-gated matplotlib executor
# ---------------------------------------------------------------------------
GOLDEN_GRID_PLAN = {
    "grid": (3, 3),
    "figsize": (15, 15),
    "dpi": 150,
    "filename": "Q001_visual_comparison.png",
    "title_fontsize": 12,
    "cells": [
        {"row": 0, "col": 1, "image": "/img/base.png",
         "title": "ベース問題: Q001"},
        {"row": 1, "col": 0, "image": "/img/s1.png",
         "title": "類似問題 1 (距離: 0.1200)"},
        {"row": 2, "col": 0, "image": "/img/s2.png",
         "title": "類似問題 2 (距離: 0.3456)"},
        {"row": 1, "col": 2, "image": "/img/d1.png",
         "title": "非類似問題 1 (距離: 1.9000)"},
    ],
}


def test_visual_grid_plan_golden():
    """Pure layout plan mirrors the reference grid byte-exactly
    (compare_samples.py:243-315): n_rows = 1 + min(max(sim, dis), 3), base
    centered in row 0, similar down column 0, dissimilar down column 2."""
    from ocr_spark.reports import plan_visual_grid

    plan = plan_visual_grid(
        "Q001", "/img/base.png",
        [("/img/s1.png", 0.12), ("/img/s2.png", 0.34561)],
        [("/img/d1.png", 1.9)],
    )
    assert plan == GOLDEN_GRID_PLAN


def test_visual_grid_plan_skips_like_the_reference():
    """Missing base image or an empty side returns None (the reference
    warns and skips); >3 rows clamp to 3 with only 3 cells per side."""
    from ocr_spark.reports import plan_visual_grid

    sim = [(f"/s{i}.png", 0.1) for i in range(5)]
    dis = [(f"/d{i}.png", 0.9) for i in range(5)]
    assert plan_visual_grid("B", None, sim, dis) is None
    assert plan_visual_grid("B", "/b.png", [], dis) is None
    assert plan_visual_grid("B", "/b.png", sim, []) is None
    plan = plan_visual_grid("B", "/b.png", sim, dis)
    assert plan["grid"] == (4, 3) and len(plan["cells"]) == 7


def _has_mod(mod: str) -> bool:
    try:
        __import__(mod)
        return True
    except ImportError:
        return False


@pytest.mark.skipif(_has_mod("matplotlib"),
                    reason="matplotlib present: real render tested below")
def test_visual_grid_render_guards_without_matplotlib():
    from ocr_spark.reports import plan_visual_grid, render_visual_grid

    plan = plan_visual_grid("B", "/b.png", [("/s.png", 0.1)], [("/d.png", 0.9)])
    with pytest.raises(NotImplementedError):
        render_visual_grid(plan, "/tmp")


def test_visual_grid_render_through_matplotlib(tmp_path):
    """With matplotlib present (cluster image), the executor must write the
    reference-named png from the plan via headless Agg."""
    pytest.importorskip("matplotlib")
    import numpy as np

    from ocr_spark.reports import plan_visual_grid, render_visual_grid

    plan = plan_visual_grid(
        "B", "base", [("s", 0.1)], [("d", 0.9)]
    )
    out = render_visual_grid(
        plan, str(tmp_path),
        image_loader=lambda _: np.zeros((4, 4, 3), dtype="uint8"),
    )
    assert out.endswith("B_visual_comparison.png")
    import os
    assert os.path.getsize(out) > 0


# ---------------------------------------------------------------------------
# S11 — snapshot / restore
# ---------------------------------------------------------------------------
def test_snapshot_restore_roundtrip(spark, tmp_path):
    from ocr_spark.storage import Catalog

    cat = Catalog(spark, str(tmp_path / "cat"))
    t0 = spark.range(5).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    cat.write(t0, "scores")
    cat.snapshot("scores", "v1")

    # mutate: overwrite with different rows
    cat.write(spark.createDataFrame([(0, 100), (10, 100)], "k long, v long"), "scores")
    assert sorted((r.k, r.v) for r in cat.read("scores").collect()) == [(0, 100), (10, 100)]

    # restore brings back the exact pre-mutation contents
    cat.restore("scores", "v1")
    got = sorted((r.k, r.v) for r in cat.read("scores").collect())
    assert got == [(i, 2 * i) for i in range(5)]

    # restore is repeatable and snapshots enumerable
    cat.restore("scores", "v1")
    assert sorted((r.k, r.v) for r in cat.read("scores").collect()) == got
    assert cat.list_snapshots("scores") == ["v1"]

    # re-snapshot same name is an idempotent overwrite
    cat.snapshot("scores", "v1")
    assert cat.list_snapshots("scores") == ["v1"]

    with pytest.raises(FileNotFoundError):
        cat.restore("scores", "nope")


def test_snapshot_name_rejects_path_escape(spark, tmp_path):
    """Snapshot names become path components; separators and traversal
    would escape the __snapshots__ tree — both snapshot and restore must
    refuse them before touching the filesystem."""
    from ocr_spark.storage import Catalog

    cat = Catalog(spark, str(tmp_path / "cat"))
    t0 = spark.range(3).select(F.col("id").alias("k"))
    cat.write(t0, "scores")
    for bad in ("a/b", "..", ".", "", "a\\b", "../../etc"):
        with pytest.raises(ValueError):
            cat.snapshot("scores", bad)
        with pytest.raises(ValueError):
            cat.restore("scores", bad)


def test_snapshot_restore_preserves_bucketed_layout(spark, tmp_path):
    """Restoring a run_stage table must keep its __pid partition layout:
    the directory never mixes flat files with partition dirs, and a re-run
    of the same stage over the restored table is a no-op with the same
    rows."""
    import os

    from ocr_spark.storage import Catalog, run_stage

    cat = Catalog(spark, str(tmp_path / "cat"))
    docs = spark.range(40).select(F.col("id").alias("doc_id"), F.col("id").alias("v"))

    def stage():
        run_stage(cat, "st", docs, lambda df: df.withColumn("w", F.col("v") * 2),
                  n_partitions=4)
        return cat.read("st").drop("__pid")

    want = sorted(stage().collect())
    cat.snapshot("st", "s1")
    cat.write(spark.createDataFrame([(1, 1, 1)], "doc_id long, v long, w long"), "st")
    cat.restore("st", "s1")
    # layout preserved: only __pid= partition dirs at the root
    entries = os.listdir(cat.path("st"))
    pid_dirs = [e for e in entries if e.startswith("__pid=")]
    flat_files = [e for e in entries if e.endswith(".parquet")]
    assert pid_dirs and not flat_files, entries
    # every bucket is still complete in the manifest: the re-run writes
    # nothing and reads back the restored rows
    assert sorted(stage().collect()) == want
    assert cat.manifest().count() == 4


def test_table_name_rejects_path_escape(spark, tmp_path):
    """The TABLE name is a path component too (the r2 advisor fix only
    guarded snapshot_name): every catalog entry point must refuse absolute
    paths, backslashes, and '.'/'..' components before touching the
    filesystem. Internal nested names (__snapshots__/t/s) stay legal."""
    from ocr_spark.storage import Catalog

    cat = Catalog(spark, str(tmp_path / "cat"))
    t0 = spark.range(3).select(F.col("id").alias("k"))
    cat.write(t0, "scores")
    for bad in ("../../tmp/evil", "..", "/abs", "a\\b", "a//b", "a/./b", ""):
        for fn in (
            lambda: cat.snapshot(bad, "s"),
            lambda: cat.restore(bad, "s"),
            lambda: cat.write(t0, bad),
            lambda: cat.read(bad),
        ):
            with pytest.raises(ValueError):
                fn()
    assert cat.path("__snapshots__/scores/v1").endswith("__snapshots__/scores/v1")


# ------------------------------------------------------------------ WET/WARC

WET_SAMPLE = (
    "WARC/1.0\r\n"
    "WARC-Type: warcinfo\r\n"
    "WARC-Date: 2024-01-01T00:00:00Z\r\n"
    "Content-Length: 17\r\n"
    "\r\n"
    "isPartOf: CC-MAIN\r\n"
    "\r\n"
    "WARC/1.0\r\n"
    "WARC-Type: conversion\r\n"
    "WARC-Target-URI: http://example.com/a\r\n"
    "WARC-Date: 2024-01-02T03:04:05Z\r\n"
    "Content-Length: 29\r\n"
    "\r\n"
    "First doc line one.\nLine two.\r\n"
    "\r\n"
    "WARC/1.0\r\n"
    "WARC-Type: conversion\r\n"
    "WARC-Target-URI: http://example.org/b\r\n"
    "WARC-Date: 2024-01-02T03:04:06Z\r\n"
    "Content-Length: 11\r\n"
    "\r\n"
    "Second doc.\r\n"
    "\r\n"
    "WARC/1.0\r\n"
    "garbage record with no header block"
)


def test_read_wet_keeps_conversion_records(spark, tmp_path):
    from ocr_spark.sources.warc import read_wet

    p = tmp_path / "sample.warc.wet"
    p.write_text(WET_SAMPLE)
    out = read_wet(spark, str(p)).orderBy("url").collect()
    assert [r["url"] for r in out] == ["http://example.com/a", "http://example.org/b"]
    assert out[0]["text"] == "First doc line one.\nLine two."
    assert out[1]["text"] == "Second doc."
    assert out[0]["content_length"] == 29
    assert out[0]["warc_date"] == "2024-01-02T03:04:05Z"
    # ids are stable content hashes, not layout-dependent counters
    ids = {r["doc_id"] for r in out}
    assert len(ids) == 2 and all(i is not None for i in ids)
    again = {r["doc_id"] for r in read_wet(spark, str(p)).collect()}
    assert again == ids


def test_read_wet_gzip_member(spark, tmp_path):
    import gzip

    from ocr_spark.sources.warc import read_wet

    p = tmp_path / "sample.warc.wet.gz"
    with gzip.open(p, "wt") as f:
        f.write(WET_SAMPLE)
    out = read_wet(spark, str(p)).orderBy("url").collect()
    assert [r["url"] for r in out] == ["http://example.com/a", "http://example.org/b"]


def test_read_wet_keep_all_records_isolates_malformed(spark, tmp_path):
    from ocr_spark.sources.warc import read_wet

    p = tmp_path / "sample.warc.wet"
    p.write_text(WET_SAMPLE)
    rec = read_wet(spark, str(p), keep_all_records=True).collect()
    types = sorted((r["record_type"] or "?") for r in rec if r["_raw"].strip())
    # warcinfo + 2 conversions + the garbage record (nulls, not a crash)
    assert types == ["?", "conversion", "conversion", "warcinfo"]
    bad = [r for r in rec if r["record_type"] is None and r["_raw"].strip()]
    assert bad and bad[0]["text"] is None and bad[0]["url"] is None


def test_read_wet_payload_mentioning_warc_version_stays_whole(spark, tmp_path):
    """The record delimiter is the FULL framing (CRLF CRLF + version line),
    not the bare 'WARC/1.0' token — a page ABOUT web archives (Common
    Crawl contains them) must come back as ONE untruncated document."""
    from ocr_spark.sources.warc import read_wet

    payload = "The WARC/1.0 format begins every record with WARC/1.0 on line 1."
    sample = (
        "WARC/1.0\r\n"
        "WARC-Type: conversion\r\n"
        "WARC-Target-URI: http://archive.example/about\r\n"
        "WARC-Date: 2024-03-01T00:00:00Z\r\n"
        f"Content-Length: {len(payload)}\r\n"
        "\r\n" + payload + "\r\n\r\n"
    )
    p = tmp_path / "mention.warc.wet"
    p.write_text(sample)
    out = read_wet(spark, str(p)).collect()
    assert len(out) == 1
    assert out[0]["text"] == payload


def test_read_wet_forged_framing_quarantined_not_truncated(spark, tmp_path):
    """A payload that embeds the COMPLETE record framing still splits at
    the reader (it is byte-identical to a real boundary), but the first
    fragment then declares more Content-Length octets than it carries —
    the cross-check must EXCLUDE it from the default stream (silent
    truncation was the r4 advisor finding) and surface it with
    length_ok=false in the forensics stream."""
    from ocr_spark.sources.warc import read_wet

    forged = "before the forgery\r\n\r\nWARC/1.0\r\nafter the forgery"
    sample = (
        "WARC/1.0\r\n"
        "WARC-Type: conversion\r\n"
        "WARC-Target-URI: http://evil.example/forged\r\n"
        "WARC-Date: 2024-03-02T00:00:00Z\r\n"
        f"Content-Length: {len(forged)}\r\n"
        "\r\n" + forged + "\r\n\r\n"
        "WARC/1.0\r\n"
        "WARC-Type: conversion\r\n"
        "WARC-Target-URI: http://good.example/ok\r\n"
        "WARC-Date: 2024-03-02T00:00:01Z\r\n"
        "Content-Length: 8\r\n"
        "\r\n"
        "all good\r\n\r\n"
    )
    p = tmp_path / "forged.warc.wet"
    p.write_text(sample)
    out = read_wet(spark, str(p)).collect()
    # only the honest record survives; neither forged fragment leaks
    assert [r["url"] for r in out] == ["http://good.example/ok"]
    assert out[0]["text"] == "all good"
    forensics = read_wet(spark, str(p), keep_all_records=True).collect()
    bad = [r for r in forensics if r["length_ok"] is False]
    assert len(bad) == 1 and bad[0]["url"] == "http://evil.example/forged"
    assert bad[0]["text"] == "before the forgery"  # visibly truncated


def test_wet_record_columns_lf_only_and_column_reuse(spark):
    from ocr_spark.sources.warc import wet_record_columns

    chunk = (
        "\nWARC-Type: conversion\n"
        "WARC-Target-URI: http://lf.example/x\n"
        "WARC-Date: 2024-02-03T00:00:00Z\n"
        "Content-Length: 5\n"
        "\n"
        "hello\n\n"
    )
    df = spark.createDataFrame([(chunk,)], "value string")
    cols = wet_record_columns("value")
    row = df.select(*[v.alias(k) for k, v in cols.items()]).collect()[0]
    assert row["url"] == "http://lf.example/x"
    assert row["record_type"] == "conversion"
    assert row["text"] == "hello"
    assert row["content_length"] == 5
