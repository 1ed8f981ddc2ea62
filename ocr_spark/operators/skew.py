"""Skew-mitigation join utilities (north_rule: salted repartitioning + AQE
skew-join mitigation for heavy/media-dense documents).

Two complementary strategies, both over plain DataFrames:

* **AQE skew join** — declarative: with
  ``spark.sql.adaptive.skewJoin.enabled`` (on by default in
  ``session.get_spark``) Spark splits oversized shuffle partitions at
  runtime; any plain ``join`` gets it.

* **Salted join** — explicit: :func:`salted_join` replicates the small side
  ``n_salts`` times and scatters the skewed side's hot keys across salts, so
  a single hot key occupies ``n_salts`` reducers instead of one. Use when
  the skew is known a priori (e.g. joining span-level rows of multi-
  hundred-page docs against doc metadata) or when AQE's post-shuffle split
  cannot help (aggregation-style hotspots).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Explicit salt-scatter equi-join on one key column.

    big rows get ``salt = pmod(xxhash64(monotonically_increasing_id), n)``;
    the small side is replicated once per salt (explode of a literal range —
    cheap for dimension-sized inputs). Join key becomes ``(on, salt)``, so a
    hot key's rows spread over ``n_salts`` reducers. Result equals the plain
    join exactly (tested), with ``n_salts``× small-side duplication as the
    price.

    ``how`` is restricted to joins whose output never emits unmatched
    SMALL-side rows: under right/full-outer every unmatched small-side
    replica would surface ``n_salts`` times, diverging from the plain join.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "left_anti", "leftanti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join does not support how={how!r}: unmatched small-side "
            "replicas would be emitted n_salts times (allowed: inner/left/"
            "left_semi/left_anti)"
        )
    big_s = big.withColumn(
        "__salt",
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts)).cast("int"),
    )
    small_s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<int>"))
    )
    return big_s.join(small_s, [on, "__salt"], how).drop("__salt")
