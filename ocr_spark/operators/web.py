"""URL canonicalization, URL-level dedup, and domain share caps.

The web-corpus curation steps every large-scale training pipeline runs
before content-level dedup (C4 / RefinedWeb / FineWeb lineage): normalize
the crawl URL, drop exact URL duplicates, and cap any one registered
domain's share of the corpus. The reference pipeline ingests per-file
artifacts keyed by name (/root/reference/src/pdf_to_images.py:71-75 id
scheme); at web scale the analogous key is the canonical URL.

Scale notes:

* :func:`normalize_url` is pure row-local native expression work —
  RE2-portable regexps only (no lookbehind, no backrefs), so the DuckDB
  oracle can mirror it exactly and the Spark side stays inside
  whole-stage codegen.
* :func:`url_dedup` is the exact-dedup shape: one shuffle on the
  canonical-URL hash, atomic min-struct representative (no chimera rows —
  CLAUDE.md pitfall).
* :func:`domain_cap` never runs a value-keyed window on the domain (a
  giant domain would put its whole partition in ONE task — the 0.13-
  efficiency skew bomb pinned in CLAUDE.md). The scale path is a
  hash-threshold sample: one map-side-combined count per domain, joined
  back (same-key exchange reuse), then a ROW-LOCAL keep decision from the
  portable md5 uniform — every hot domain keeps ``cap`` docs in
  expectation, deterministically in (seed, id).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_spark.operators.mixing import portable_uniform

# tracking params dropped during canonicalization (RE2-portable alternation)
TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|msclkid|ref)="

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"


def normalize_url(col: Column | str) -> Column:
    """Canonical form of an absolute http(s) URL, built entirely from
    RE2-portable regexps (identical semantics in Spark and DuckDB):

    * scheme and host lowercased; leading ``www.`` dropped
    * fragment dropped; default ports (``:80`` http, ``:443`` https) dropped
    * tracking params (``utm_*``, ``fbclid``, ``gclid``, ``msclkid``,
      ``ref``) removed; remaining params sorted lexicographically
    * trailing slashes collapsed; empty path becomes ``/``

    A value without a ``scheme://`` prefix passes through trimmed and
    unparsed (not a URL — canonicalizing garbage would manufacture
    collisions).
    """
    c = F.col(col) if isinstance(col, str) else col
    url = F.regexp_replace(F.trim(c), r"#.*$", "")  # strip fragment
    scheme = F.lower(F.regexp_extract(url, _SCHEME_RE, 1))
    rest = F.regexp_replace(url, _SCHEME_RE, "")
    hostport = F.regexp_extract(rest, r"^([^/?]*)", 1)
    pathq = F.regexp_replace(rest, r"^[^/?]*", "")
    host = F.regexp_replace(
        F.lower(F.regexp_extract(hostport, r"^([^:]*)", 1)), r"^www\.", ""
    )
    port = F.regexp_extract(hostport, r":(\d+)$", 1)
    default_port = (
        (scheme == F.lit("http")) & (port == F.lit("80"))
    ) | ((scheme == F.lit("https")) & (port == F.lit("443")))
    port_part = F.when(
        (port == F.lit("")) | default_port, F.lit("")
    ).otherwise(F.concat(F.lit(":"), port))
    path = F.regexp_replace(
        F.regexp_extract(pathq, r"^([^?]*)", 1), r"/+$", ""
    )
    path = F.when(path == F.lit(""), F.lit("/")).otherwise(path)
    query = F.regexp_replace(pathq, r"^[^?]*\??", "")
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != F.lit("")) & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    query_part = F.when(
        F.size(params) == 0, F.lit("")
    ).otherwise(F.concat(F.lit("?"), F.array_join(params, "&")))
    normalized = F.concat(
        scheme, F.lit("://"), host, port_part, path, query_part
    )
    return F.when(scheme == F.lit(""), F.trim(c)).otherwise(normalized)


def url_domain(col: Column | str) -> Column:
    """Registered host of a canonical URL (the :func:`normalize_url`
    output): the lowercased ``www.``-less authority without the port."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(c, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/:?]*)", 1)


def url_dedup(
    docs: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Keep exactly one row per canonical URL — the smallest ``id_col``,
    chosen ATOMICALLY (one min_by over a struct of the remaining columns,
    never per-column any_value — the chimera-row pitfall). Adds
    ``canonical_url``. One shuffle, on the canonical URL."""
    canon = normalize_url(url_col)
    rest = [f for f in docs.columns]
    keyed = docs.withColumn("canonical_url", canon)
    return (
        keyed.groupBy("canonical_url")
        .agg(
            F.min_by(
                F.struct(*[F.col(f) for f in rest]), F.col(id_col)
            ).alias("__rep")
        )
        .select("canonical_url", *[F.col(f"__rep.{f}").alias(f) for f in rest])
    )


def domain_cap(
    docs: DataFrame,
    cap: int,
    url_col: str = "url",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Cap each domain's document count at ``cap``.

    Domains at or under the cap keep everything;
    over-cap domains keep each doc with probability ``cap / n_docs``,
    decided by the row-local portable md5 uniform — ``cap`` survivors in
    EXPECTATION per hot domain, deterministic in ``(seed, id)``, no
    value-keyed window anywhere (a 10⁹-doc domain stays spread across
    tasks). Adds ``domain`` and ``domain_docs``.
    """
    if cap < 1:
        raise ValueError("domain_cap needs cap >= 1")
    with_dom = docs.withColumn(
        "domain", url_domain(normalize_url(url_col))
    )
    counts = with_dom.groupBy("domain").agg(F.count("*").alias("domain_docs"))
    joined = with_dom.join(counts, "domain")
    keep = (F.col("domain_docs") <= cap) | (
        portable_uniform(id_col, seed)
        < F.lit(float(cap)) / F.col("domain_docs")
    )
    return joined.filter(keep)


def _label_suffixes(labels: Column, max_depth: int) -> Column:
    """All dot-suffixes of a host's label array, most-specific first —
    ``[a, b, example, com]`` -> ``[a.b.example.com, b.example.com,
    example.com, com]`` — capped at the ``max_depth`` SHORTEST suffixes (a
    pathological 100-label host yields only its last ``max_depth``
    suffixes; blocklists key on registrable domains, which live at the
    short end, so the dropped deep suffixes cost nothing). Row-local; each
    suffix is an O(depth) ``slice`` + join of the labels array.

    The transform lambda references ``labels`` once PER SUFFIX — pass a
    materialized column, never an expensive expression (Catalyst
    re-inlines aliased exprs into lambda bodies, no CSE there)."""
    n = F.size(labels)
    start = F.when(n > max_depth, n - max_depth + 1).otherwise(F.lit(1))
    idx = F.when(n >= 1, F.sequence(start, n)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx, lambda i: F.array_join(F.slice(labels, i, n - i + 1), ".")
    )


def blocklist_filter(
    docs: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    domain_col: str = "domain",
    max_depth: int = 6,
) -> DataFrame:
    """UT1-style domain blocklist verdicts: adds ``host`` and ``blocked``
    (true iff SOME dot-suffix of the canonical host appears in
    ``blocklist[domain_col]`` — so blocking ``example.com`` blocks
    ``ads.example.com`` too, the adult/malware-list contract every web
    pipeline applies before content filtering).

    Plan shape is decontaminate's: the per-doc suffix fan-out is bounded
    (``max_depth`` rows per doc), the blocklist — 10^5..10^6 rows for the
    published UT1/Dolma lists — is DISTINCT'd and broadcast, the suffix
    stream meets it in a map-side inner join, and only the MATCHED stream
    (blocked docs, selective by design) reaches the per-doc aggregation.
    The verdict joins back onto the raw rows id-keyed. Never a distinct or
    window over the suffix stream."""
    host = url_domain(normalize_url(url_col))
    with_host = docs.withColumn("host", host)
    # materialize the canonical host's LABEL ARRAY as a real column before
    # the suffix lambda touches it: building suffixes straight off the
    # host expression re-inlines the whole normalize_url+url_domain regexp
    # chain into the per-element lambda body (no CSE inside lambdas —
    # CLAUDE.md pitfall, r4 advisor finding), re-canonicalizing the URL up
    # to max_depth times per doc. With __labels a plain attribute, the
    # chain runs once per row in the projection below it.
    labeled = with_host.select(
        id_col, F.split(F.col("host"), r"\.").alias("__labels")
    )
    suffixes = labeled.select(
        id_col,
        F.explode_outer(
            _label_suffixes(F.col("__labels"), max_depth)
        ).alias("__sfx"),
    ).filter(F.col("__sfx") != "")
    bl = F.broadcast(
        blocklist.select(F.col(domain_col).alias("__sfx")).distinct()
    )
    hits = (
        suffixes.join(bl, "__sfx")
        .groupBy(id_col)
        .agg(F.count("*").alias("__nhits"))
    )
    return (
        with_host.join(hits, id_col, "left")
        .withColumn("blocked", F.col("__nhits").isNotNull())
        .drop("__nhits")
    )
