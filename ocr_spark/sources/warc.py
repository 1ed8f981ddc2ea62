"""WARC / WET web-archive source — the Common Crawl ingest path.

Every public web-scale corpus (C4, CCNet, Gopher/MassiveWeb, RefinedWeb,
Dolma, FineWeb) starts from Common Crawl WARC or WET files; this module is
the engine's front door for that shape. The reference walks a directory of
per-page files (/root/reference/src/markdown_importer.py:96-137); the
crawl-scale analog is a directory of ``*.warc.wet[.gz]`` archives.

Design — record splitting stays JVM-side, parsing is columnar:

* :func:`read_wet` reads archives with ``spark.read.text`` and the FULL
  record framing ``"\r\n\r\nWARC/1.0\r\n"`` as the RECORD delimiter
  (record-terminating double CRLF + version line, per the WARC/ISO-28500
  spec), so the Hadoop line reader hands back one row per WARC record
  with zero Python in the loop. Splitting on the full framing — never the
  bare ``WARC/1.0`` token — means a payload that merely MENTIONS
  ``WARC/1.0`` (pages about web archives exist in Common Crawl) does not
  split; a payload that contains the complete forged framing still
  splits, and the Content-Length cross-check below catches the truncated
  fragment instead of keeping it silently. Uncompressed archives split
  WITHIN a file at delimiter boundaries (block-level parallelism); gzip
  members are per-file tasks — Common Crawl ships ~1 GB .gz segments by
  the tens of thousands, so file-count parallelism is the real axis at
  crawl scale (set ``spark.sql.files.maxPartitionBytes`` accordingly;
  never one giant archive).
* **Content-Length cross-check**: every record carries ``length_ok`` —
  the declared ``Content-Length`` (octets) must bracket the parsed
  payload (``octet_length(text) <= declared <= octet_length(raw body)``;
  the slack is the trailing-newline run the framing makes ambiguous). A
  record whose payload was truncated by forged in-band framing declares
  MORE bytes than its fragment carries and fails the check: ``read_wet``
  excludes it from the default stream rather than keeping corrupted text
  (route ``keep_all_records=True`` + ``length_ok = false`` to a
  quarantine/forensics sink).
* :func:`wet_record_columns` turns a raw record chunk into typed columns
  with built-in regexps only (header fields + payload slice) — reusable
  over any string column (an Iceberg raw-records table, a Kafka payload)
  without touching the file reader.

Non-conversion records (``warcinfo``, request/response of full WARC) and
the pre-delimiter preamble parse to null fields; ``read_wet`` keeps only
``conversion`` records with a target URI — the WET contract. Malformed
records therefore drop out as nulls instead of failing the job (the F3
per-item isolation convention, same as the JSONL source).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# a WARC header line: "Name: value" with CRLF or LF endings
_HDR = r"(?m)^{name}:[ \t]*([^\r\n]*)\r?$"


def _header(rec: Column, name: str) -> Column:
    got = F.regexp_extract(rec, _HDR.format(name=name), 1)
    return F.when(got == "", F.lit(None).cast("string")).otherwise(got)


def wet_record_columns(rec: Column | str) -> dict[str, Column]:
    """Typed columns from one WARC record chunk (headers + blank line +
    payload; a leading ``WARC/1.0`` version line is tolerated — the
    framing-delimited reader leaves one on the FIRST record of each file).

    Returns ``record_type`` / ``url`` / ``warc_date`` / ``content_length``
    (declared, from the header), ``text`` (the actual payload: bytes
    after the first blank line, record-terminator newline run stripped)
    and ``length_ok`` (declared Content-Length brackets the parsed
    payload in octets — false means the record was truncated or padded,
    e.g. by forged in-band framing; null declared length passes). All
    row-local regexp/slice work; a chunk with no header block yields
    nulls."""
    c = F.col(rec) if isinstance(rec, str) else rec
    # payload = everything after the first blank line; non-greedy dotall
    # header strip, then drop the record-terminator CRLF CRLF tail padding
    # anchored + dotall without (?m): can only match once, at offset 0
    body = F.regexp_replace(c, r"(?s)^.*?\r?\n\r?\n", "")
    has_blank = c.rlike(r"(?s)\r?\n\r?\n")
    payload = F.when(has_blank, F.regexp_replace(body, r"(\r?\n)+$", ""))
    declared = _header(c, "Content-Length").cast("long")
    # the framing makes a payload's own trailing newline run ambiguous with
    # record padding, so the declared octet count must land BETWEEN the
    # stripped payload and the raw post-header body; a forged-framing
    # truncation declares more bytes than its fragment carries -> false
    length_ok = F.when(
        declared.isNull(), F.lit(True)
    ).otherwise(
        has_blank
        & (F.octet_length(payload) <= declared)
        & (declared <= F.octet_length(body))
    )
    return {
        "record_type": _header(c, "WARC-Type"),
        "url": _header(c, "WARC-Target-URI"),
        "warc_date": _header(c, "WARC-Date"),
        "content_length": declared,
        "text": payload,
        "length_ok": length_ok,
    }


def read_wet(
    spark: SparkSession,
    path: str,
    id_col: str = "doc_id",
    keep_all_records: bool = False,
) -> DataFrame:
    """One row per WET document: ``(doc_id, url, warc_date,
    content_length, text)``; ``doc_id`` is ``xxhash64(url, warc_date)``
    (stable across re-reads and re-partitioning — never
    ``monotonically_increasing_id``, which renumbers per task layout).

    ``keep_all_records=True`` returns every record (any ``record_type``,
    nulls included, plus the chunk and its ``length_ok`` verdict) for
    archive forensics/quarantine; the default keeps the WET contract —
    ``conversion`` records with a URI whose payload passes the
    Content-Length cross-check (truncated/forged-framing fragments are
    EXCLUDED, not kept silently corrupted — fish them out of the
    ``keep_all_records`` stream)."""
    raw = spark.read.option("lineSep", "\r\n\r\nWARC/1.0\r\n").text(path)
    cols = wet_record_columns("value")
    rec = raw.select(
        *[v.alias(k) for k, v in cols.items()], F.col("value").alias("_raw")
    )
    if keep_all_records:
        return rec
    return rec.filter(
        (F.col("record_type") == "conversion")
        & F.col("url").isNotNull()
        & F.col("length_ok")
    ).select(
        F.xxhash64("url", "warc_date").alias(id_col),
        "url",
        "warc_date",
        "content_length",
        "text",
    )
