"""Shared Spark-vs-DuckDB comparison canon for the parity suites.

Mirrors the driver's CORRECTNESS compare (sort columns by name, row-order
insensitive, value-normalized) but STRICTER on one axis the driver's value
hash proved it distinguishes and the old local canon did not: the sign of
a floating zero. DuckDB's ``round()`` keeps the sign (``round(-1e-16, 4)``
is ``-0.0``) while Spark's BigDecimal-based round can only produce ``+0.0``
— normalizing both to "0" locally hid exactly the class of divergence the
round-4 driver run flagged on ``token_entropy``.

It is also dtype-strict: the CORRECTNESS compare hashes each value's
text, so an int64 ``32`` and a float64 ``32.0`` differ there even though
``canon`` folds both to "32". ``assert_frames_match`` therefore compares
each column's pandas dtype kind (signed and unsigned ints are one kind; a
column that is all-null on either side carries no type evidence and is
skipped).
"""

from __future__ import annotations

import math

import pandas as pd


def canon(df: pd.DataFrame) -> list[tuple]:
    df = df.reindex(sorted(df.columns), axis=1)

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, float):
            if v == 0.0 and math.copysign(1.0, v) < 0.0:
                return "-0.0"  # signed zero is a REAL cross-engine diff
            if v == int(v) and abs(v) < 1e15:
                return str(int(v))
            return f"{v:.9g}"
        if isinstance(v, bool):
            return str(int(v))
        if hasattr(v, "isoformat"):
            return v.isoformat()
        return str(v)

    rows = [tuple(norm(v) for v in row) for row in df.itertuples(index=False, name=None)]
    return sorted(rows)


def _dtype_kind(col: pd.Series) -> str | None:
    if col.isna().all():
        return None
    return "i" if col.dtype.kind == "u" else col.dtype.kind


def assert_frames_match(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> None:
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: column mismatch {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}"
    )
    kinds = {c: (_dtype_kind(spark_pdf[c]), _dtype_kind(duck_pdf[c])) for c in spark_pdf.columns}
    mismatched = {c: k for c, k in kinds.items() if None not in k and k[0] != k[1]}
    assert not mismatched, f"{name}: dtype kind mismatch (spark, duckdb): {mismatched}"
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} vs {len(duck_pdf)}"
    )
    a, b = canon(spark_pdf), canon(duck_pdf)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")
