"""bench.py's result record: the stdout line must stay short and parseable,
because a reader that keeps only the tail of stdout loses a long line."""

from __future__ import annotations

import json

import __spark_entry__ as entry_mod
import bench


def test_stdout_headline_is_short_json_and_detail_carries_every_query():
    results = {name: 9999.999 for name in entry_mod.queries()}
    extraction = {
        "n_docs": 10**9, "n_spans": 10**12,
        "docs_per_sec": 123456789.1, "spans_per_sec": 123456789012.3,
    }
    headline, detail = bench.records(results, 0.1, extraction, 128)
    assert len(headline) < 1000, len(headline)
    got = json.loads(headline)
    assert set(got) == {"metric", "value", "unit", "sf", "extraction", "cpus"}
    assert got["value"] == round(sum(results.values()), 3)
    assert json.loads(detail)["queries"] == results
