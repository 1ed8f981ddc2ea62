"""Driver-gate rehearsal: run every queries() entry on Spark and its
oracle_sql() twin on DuckDB over the same parquet, compare row count +
columns + values (order-insensitive), mimicking CORRECTNESS_r{N}.json.

Runs at sf0.001 for speed; the driver uses sf0.01 (spot-checked manually).
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from ocr_spark.functions.textstats import WS_CHARS
from ocr_spark.functions.uniconst import FOLD_FROM, FOLD_TO
from ocr_spark.operators.boilerplate import _ANCHOR_RE, _TAG_RE
from ocr_spark.operators.curation import PII_PATTERNS
from ocr_spark.operators.web import _SCHEME_RE, TRACKING_PARAM_RE
from tests.parity_util import assert_frames_match

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


ORACLE_KEYS = sorted(entry_mod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    spark_pdf = q(spark, SF_DIR).toPandas()
    duck_pdf = duck.execute(entry_mod.oracle_sql()[name]).df()
    assert_frames_match(name, spark_pdf, duck_pdf)


@pytest.mark.parametrize(
    "name, col",
    [("token_entropy", "n_words"), ("chunk_dedup", "n_kept"),
     ("curation_pipeline", "n_kept")],
)
def test_oracle_counts_are_integers(duck, name, col):
    """DuckDB's sum() returns HUGEINT, which pandas renders as float64
    (32.0 against Spark's 32). A compare that hashes each value's text
    tells the two apart even though canon() folds 32.0 to 32, so the
    oracle must cast."""
    pdf = duck.execute(entry_mod.oracle_sql()[name]).df()
    assert pd.api.types.is_integer_dtype(pdf[col]), (name, col, pdf[col].dtype)


def test_canon_tells_an_int_from_an_integral_float():
    """The CORRECTNESS compare hashes each value's text, so int64 32 and
    float64 32.0 differ there; the local canon must reject the pair too."""
    spark_pdf = pd.DataFrame({"n": pd.Series([32], dtype="int64")})
    duck_pdf = pd.DataFrame({"n": pd.Series([32.0], dtype="float64")})
    with pytest.raises(AssertionError, match="dtype kind"):
        assert_frames_match("n", spark_pdf, duck_pdf)
    # int widths and signedness are one kind; an all-null column is skipped
    assert_frames_match("n", spark_pdf, pd.DataFrame({"n": pd.Series([32], dtype="uint8")}))
    assert_frames_match(
        "n", pd.DataFrame({"n": [None]}), pd.DataFrame({"n": pd.Series([None], dtype="float64")})
    )


CONTRACT_CONSTANTS = {
    "FOLD_FROM": FOLD_FROM,
    "FOLD_TO": FOLD_TO,
    "WS_CHARS": WS_CHARS,
    **{f"PII_PATTERNS.{name}": pat for name, pat, _ in PII_PATTERNS},
    "TRACKING_PARAM_RE": TRACKING_PARAM_RE,
    "_SCHEME_RE": _SCHEME_RE,
    "_TAG_RE": _TAG_RE,
    "_ANCHOR_RE": _ANCHOR_RE,
}


@pytest.mark.parametrize("const", list(CONTRACT_CONSTANTS))
def test_oracle_sql_interpolates_the_fold_tables(const):
    """Each contract constant lives once, in its operator module: the
    oracle SQL interpolates it instead of carrying a pasted copy, raw or
    backslash-escaped inside a plain string literal, with or without its
    groups' parentheses."""
    value = CONTRACT_CONSTANTS[const]
    with open(entry_mod.__file__, encoding="utf-8") as f:
        src = f.read()
    for copy in (value, value.replace("(", "").replace(")", "")):
        assert copy not in src and copy.replace("\\", "\\\\") not in src, copy
    assert any(value in q for q in entry_mod.oracle_sql().values())


def test_rows_only_queries(spark):
    for name in set(entry_mod.queries()) - set(ORACLE_KEYS):
        df = entry_mod.queries()[name](spark, SF_DIR)
        assert df.count() >= 0
        assert len(df.schema) > 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
