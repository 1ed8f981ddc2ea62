"""URL canonicalization / url_dedup / domain_cap (operators/web)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from ocr_spark.operators.web import (
    domain_cap,
    normalize_url,
    url_dedup,
    url_domain,
)
from tests.plan_util import plan_text


def _norm(spark, url: str) -> str:
    df = spark.createDataFrame([(url,)], "url string")
    return df.select(normalize_url("url").alias("n")).collect()[0]["n"]


@pytest.mark.parametrize(
    "raw, want",
    [
        ("HTTP://WWW.Example.COM/Path", "http://example.com/Path"),
        ("http://example.com:80/a", "http://example.com/a"),
        ("https://example.com:443/a", "https://example.com/a"),
        ("https://example.com:8443/a", "https://example.com:8443/a"),
        ("http://example.com/a#frag", "http://example.com/a"),
        ("http://example.com/a/", "http://example.com/a"),
        ("http://example.com///", "http://example.com/"),
        ("http://example.com", "http://example.com/"),
        (
            "http://example.com/p?utm_source=x&b=2&a=1&fbclid=z",
            "http://example.com/p?a=1&b=2",
        ),
        ("http://example.com/p?utm_campaign=x", "http://example.com/p"),
        ("  http://example.com/a  ", "http://example.com/a"),
        # path case is PRESERVED (case-sensitive on real servers)
        ("http://a.com/CaseSensitive", "http://a.com/CaseSensitive"),
        # schemeless garbage passes through trimmed, unparsed
        ("not a url", "not a url"),
        ("example.com/x", "example.com/x"),
    ],
)
def test_normalize_url_cases(spark, raw, want):
    assert _norm(spark, raw) == want


def test_url_domain(spark):
    df = spark.createDataFrame(
        [("https://WWW.Sub.Example.com:8443/x?q=1",)], "url string"
    )
    got = df.select(
        url_domain(normalize_url("url")).alias("d")
    ).collect()[0]["d"]
    assert got == "sub.example.com"


def test_url_dedup_keeps_whole_smallest_row(spark):
    """Equal canonical URLs collapse to the smallest doc_id's ENTIRE row
    (atomic representative — no chimera mixing columns across rows)."""
    df = spark.createDataFrame(
        [
            (3, "http://A.com/x?utm_s=1", "t3"),
            (1, "HTTP://a.com/x/", "t1"),
            (2, "http://a.com/x", "t2"),
            (9, "http://b.com/y", "t9"),
        ],
        "doc_id long, url string, text string",
    )
    out = {r["canonical_url"]: r for r in url_dedup(df).collect()}
    assert set(out) == {"http://a.com/x", "http://b.com/y"}
    winner = out["http://a.com/x"]
    assert (winner["doc_id"], winner["url"], winner["text"]) == (
        1, "HTTP://a.com/x/", "t1"
    )


def _py_uniform(doc_id, seed=0) -> float:
    h8 = hashlib.md5(f"{seed}|{doc_id}".encode()).hexdigest()[:8]
    return int(h8, 16) / 2**32


def test_domain_cap_hash_threshold_matches_python(spark):
    """Scale path: under-cap domains intact; over-cap domains keep exactly
    the docs whose portable uniform clears cap/n — mirrored in Python, so
    the survivor SET is pinned, not just its size."""
    rows = [(i, "http://hot.com/" + str(i)) for i in range(200)]
    rows += [(1000 + i, "http://cold.com/" + str(i)) for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = domain_cap(df, cap=20, seed=7)
    got = sorted(r["doc_id"] for r in out.collect())
    want = sorted(
        [i for i in range(200) if _py_uniform(i, 7) < 20 / 200]
        + [1000, 1001, 1002]
    )
    assert got == want
    # expectation check: hot survivors within a loose binomial band
    hot = [i for i in got if i < 1000]
    assert 5 <= len(hot) <= 40
    # carried metadata
    one = out.filter(F.col("doc_id") == 1000).collect()[0]
    assert one["domain"] == "cold.com" and one["domain_docs"] == 3
    with pytest.raises(ValueError, match="cap"):
        domain_cap(df, cap=0)


def test_domain_cap_scale_path_has_no_window(spark):
    """The default path must never plan a Window (value-keyed domain
    partitioning is the skew bomb CLAUDE.md pins) — keep decisions are
    row-local after the count join."""
    df = spark.createDataFrame(
        [(1, "http://a.com/1")], "doc_id long, url string"
    )
    plan = plan_text(domain_cap(df, cap=2), "optimized")
    assert "Window" not in plan


# ------------------------------------------------------------- blocklist

def test_host_suffixes_cases(spark):
    from ocr_spark.operators.web import _label_suffixes

    df = spark.createDataFrame(
        [("a.b.example.com",), ("example.com",), ("com",), ("",)],
        "host string",
    )
    labels = F.split("host", r"\.")
    got = [r["s"] for r in df.select(_label_suffixes(labels, 6).alias("s")).collect()]
    assert got[0] == ["a.b.example.com", "b.example.com", "example.com", "com"]
    assert got[1] == ["example.com", "com"]
    assert got[2] == ["com"]
    assert got[3] == [""]


def test_host_suffixes_depth_cap_keeps_short_end(spark):
    from ocr_spark.operators.web import _label_suffixes

    df = spark.createDataFrame([("a.b.c.d.e.f.g.com",)], "host string")
    labels = F.split("host", r"\.")
    got = df.select(_label_suffixes(labels, 3).alias("s")).collect()[0]["s"]
    assert got == ["f.g.com", "g.com", "com"]


def test_blocklist_filter_blocks_subdomains(spark):
    from ocr_spark.operators.web import blocklist_filter

    docs = spark.createDataFrame(
        [
            (1, "http://ads.tracker.example/x"),
            (2, "https://WWW.Tracker.EXAMPLE/y"),
            (3, "http://safe.org/z"),
            (4, "https://sub.safe.org/w"),
            (5, "http://org/just-a-tld"),
            (6, None),
        ],
        "doc_id int, url string",
    )
    bl = spark.createDataFrame([("tracker.example",)], "domain string")
    got = {r["doc_id"]: (r["host"], r["blocked"])
           for r in blocklist_filter(docs, bl).collect()}
    assert got[1] == ("ads.tracker.example", True)
    assert got[2] == ("tracker.example", True)  # canonical host, www/case-folded
    assert got[3] == ("safe.org", False)
    assert got[4] == ("sub.safe.org", False)
    assert got[5] == ("org", False)
    assert got[6][1] is False  # null url -> never blocked, row survives


def test_blocklist_filter_plan_broadcasts_and_never_distincts_stream(spark):
    from ocr_spark.operators.web import blocklist_filter

    docs = spark.range(200).select(
        F.col("id").cast("int").alias("doc_id"),
        F.concat(F.lit("http://h"), (F.col("id") % 9).cast("string"),
                 F.lit(".example.com/p")).alias("url"),
    )
    bl = spark.createDataFrame([("h3.example.com",), ("nope.net",)], "domain string")
    out = blocklist_filter(docs, bl)
    plan = plan_text(out)
    assert "BroadcastExchange" in plan
    # the suffix stream is aggregated per doc, never deduplicated wholesale
    assert "HashAggregate" in plan
    got = {r["doc_id"]: r["blocked"] for r in out.collect()}
    assert all(got[i] == (i % 9 == 3) for i in range(200))


def _lambda_bodies(plan: str) -> list[str]:
    """Balanced ``lambdafunction(...)`` substrings of a plan string (the
    plan prints one giant line per Project, so line-level greps can't tell
    'lambda in this projection' from 'expression INSIDE the lambda')."""
    out, i = [], 0
    while True:
        j = plan.find("lambdafunction(", i)
        if j < 0:
            return out
        k, depth = j + len("lambdafunction("), 1
        while depth and k < len(plan):
            if plan[k] == "(":
                depth += 1
            elif plan[k] == ")":
                depth -= 1
            k += 1
        out.append(plan[j:k])
        i = k


def test_blocklist_suffix_lambda_touches_only_materialized_labels(spark):
    """The suffix transform lambda must reference the materialized
    __labels attribute, never the normalize_url+url_domain regexp chain:
    Catalyst re-inlines aliased expressions into HOF lambda bodies (no
    CSE there), which would re-canonicalize the URL once PER SUFFIX
    (r4 advisor finding)."""
    from ocr_spark.operators.web import blocklist_filter

    docs = spark.createDataFrame(
        [(1, "https://ads.example.com/x?utm_a=1")], "doc_id long, url string"
    )
    bl = spark.createDataFrame([("example.com",)], "domain string")
    plan = plan_text(blocklist_filter(docs, bl), "optimized")
    for body in _lambda_bodies(plan):
        assert "regexp" not in body.lower(), body[:300]
        assert "split(" not in body, body[:300]
