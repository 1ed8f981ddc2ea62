"""Skew-join mitigation (AQE + salting) and bucketed co-located joins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_spark.operators.skew import salted_join
from tests.plan_util import plan_text


def _skewed_facts(spark, n=200_000, hot_frac=0.9):
    """90% of rows share one key — the hot-doc shape."""
    return spark.range(n).select(
        F.when(F.rand(seed=1) < hot_frac, F.lit(7)).otherwise(
            (F.col("id") % 97).cast("long")
        ).alias("k"),
        (F.col("id") * 3).alias("payload"),
    )


def _dim(spark):
    return spark.range(97).select(
        F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("name")
    )


def test_salted_join_equals_plain_join(spark):
    facts, dim = _skewed_facts(spark, n=20_000), _dim(spark)
    plain = facts.join(dim, "k").groupBy("k").agg(
        F.count("*").alias("n"), F.sum("payload").alias("s")
    )
    salted = salted_join(facts, dim, "k", n_salts=8).groupBy("k").agg(
        F.count("*").alias("n"), F.sum("payload").alias("s")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_equivalence_per_join_type(spark):
    """Every allowed `how` must equal the plain join; small side is missing
    half the keys so left-outer nulls and anti survivors are exercised."""
    facts = _skewed_facts(spark, n=10_000)
    dim = _dim(spark).filter(F.col("k") < 50)  # keys 50..96 unmatched
    for how in ("inner", "left", "left_semi", "left_anti"):
        plain = facts.join(dim, "k", how)
        salted = salted_join(facts, dim, "k", n_salts=8, how=how)
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, salted.collect())
        ), f"salted_join diverges from plain join for how={how}"


def test_salted_join_rejects_outer_small_side(spark):
    facts, dim = _skewed_facts(spark, n=1_000), _dim(spark)
    for how in ("right", "full", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="salted_join does not support"):
            salted_join(facts, dim, "k", n_salts=8, how=how)


def test_salted_join_spreads_hot_key(spark):
    facts, dim = _skewed_facts(spark, n=20_000), _dim(spark)
    salted = salted_join(facts, dim, "k", n_salts=8)
    # the physical join key includes the salt: the hot key's rows hash to
    # multiple (k, salt) combinations -> multiple reducers
    ex = facts.withColumn(
        "__salt",
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(8)).cast("int"),
    )
    n_groups = (
        ex.filter(F.col("k") == 7).select("__salt").distinct().count()
    )
    assert n_groups == 8
    assert salted.count() == facts.join(dim, "k").count()


def test_aqe_skew_join_configured_and_correct(spark):
    """get_spark turns on AQE and its skew-join split, so a plain join of
    skewed facts gets the runtime split with no wrapper."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    facts, dim = _skewed_facts(spark, n=50_000), _dim(spark)
    out = facts.join(dim, "k")
    assert out.count() == facts.count()  # every key 0..96 exists in dim


def test_aqe_actually_splits_skewed_partition(spark):
    """Not just config: the finalized adaptive plan must show the hot
    partition split (SortMergeJoin(skew=true) + skewed AQEShuffleRead).

    Plan finalization only lands on the DataFrame's OWN query execution, so
    the action must run through the DF (foreachPartition), not count()."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        facts = spark.range(1_500_000).select(
            F.when(F.rand(seed=2) < 0.9, F.lit(7)).otherwise(F.col("id") % 1000).alias("k"),
            F.concat(F.lit("payload_"), F.col("id")).alias("p"),
        )
        dim = spark.range(1000).select(
            F.col("id").alias("k"), F.concat(F.lit("n"), F.col("id")).alias("name")
        )
        out = facts.join(dim, "k")
        out.foreachPartition(lambda it: sum(1 for _ in it))
        plan = plan_text(out)
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
        assert "skewed" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_bucketed_join_is_shuffle_free(spark):
    """Pre-bucketing both sides on the join key removes the join Exchange —
    the co-located-join strategy for repeatedly-joined 100 TB tables.

    (warehouse dir is static config — uses the session default, tables
    dropped afterwards; orphan locations from crashed runs purged first.)"""
    import shutil

    for t in ("qb", "eb"):
        spark.sql(f"drop table if exists {t}")
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    q = spark.range(5_000).select(
        F.col("id").alias("question_id"), F.concat(F.lit("q"), F.col("id")).alias("content")
    )
    emb = spark.range(5_000).select(
        F.col("id").alias("question_id"), (F.col("id") % 13).cast("double").alias("score")
    )
    q.write.bucketBy(8, "question_id").sortBy("question_id").saveAsTable("qb")
    emb.write.bucketBy(8, "question_id").saveAsTable("eb")

    # force the sort-merge path (tiny test tables would otherwise broadcast,
    # which bypasses bucketing entirely; at 100 TB neither side broadcasts)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("qb").join(spark.table("eb"), "question_id")
        plan = plan_text(joined)
        assert "Exchange hashpartitioning" not in plan, plan[:2000]
        assert "Bucketed: true" in plan, plan[:2000]
        assert joined.count() == 5_000

        # contrast: the same join over unbucketed data shuffles both sides
        plain = q.join(emb, "question_id")
        plain_plan = plan_text(plain)
        assert "Exchange hashpartitioning" in plain_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    spark.sql("drop table if exists qb")
    spark.sql("drop table if exists eb")
