"""Salted joins must be result-identical to plain joins (operators/skew.py),
and the salt must actually spread a hot key across salt values.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bifrost_spark.operators.skew import salted_join, salted_join_hot_keys
from bifrost_spark.tables import load_table


def _key_counts(df, key):
    return {
        tuple(r)
        for r in df.groupBy(key).count().collect()
    }


def test_salted_join_equals_plain(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plain = li.join(o, "l_orderkey")
    salted = salted_join(li, o, "l_orderkey", num_salts=4)
    assert _key_counts(plain, "l_orderkey") == _key_counts(salted, "l_orderkey")
    assert plain.count() == salted.count()


def test_salted_join_shuffles_the_replicated_side(spark, sf_dir):
    """The S×-replicated small side must not be broadcast: a broadcast
    collects and hashes it on the driver, which undoes the salting."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    salted = salted_join(li, o, "l_orderkey", num_salts=8)
    salted.collect()
    plan = salted._jdf.queryExecution().executedPlan().toString()
    joins = [ln for ln in plan.splitlines() if "__salt" in ln and "Join" in ln]
    assert joins, plan
    assert not [ln for ln in joins if "BroadcastHashJoin" in ln], joins


def test_salted_join_hot_keys_equals_plain(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    hot = [r[0] for r in li.groupBy("l_orderkey").count().orderBy(F.desc("count")).limit(5).collect()]
    plain = li.join(o, "l_orderkey")
    hybrid = salted_join_hot_keys(li, o, "l_orderkey", hot_keys=hot, num_salts=4)
    assert plain.count() == hybrid.count()
    assert _key_counts(plain, "l_orderkey") == _key_counts(hybrid, "l_orderkey")


def test_salt_spreads_hot_key(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity", "l_linenumber")
    salted = li.withColumn(
        "__salt", F.pmod(F.xxhash64("l_orderkey", "l_quantity", "l_linenumber"), F.lit(4)).cast("int")
    )
    # the busiest key must land on >1 salt value (it has >=4 line items)
    top = li.groupBy("l_orderkey").count().orderBy(F.desc("count")).first()
    n_salts = (
        salted.filter(F.col("l_orderkey") == top["l_orderkey"])
        .select("__salt")
        .distinct()
        .count()
    )
    assert n_salts > 1


def test_salted_join_rejects_outer_flavors(spark, sf_dir):
    """Outer salted joins would emit each unmatched small-side row once per
    salt replica; the operator refuses rather than mis-multiplying."""
    import pytest

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    with pytest.raises(ValueError, match="inner.*left"):
        salted_join(li, o, "l_orderkey", how="full")


def test_aqe_splits_skewed_join_partition(spark):
    """SCALE.md claims AQE handles hot keys the salting helpers don't need
    to cover: prove it — a 90%-one-key join under tightened skew
    thresholds must execute as SortMergeJoin(skew=true) with an
    AQEShuffleRead that reports skew splitting in the FINAL adaptive
    plan (the plan only finalizes after an action on the same
    QueryExecution)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "65536",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.range(150000).select(
            F.when(F.col("id") % 10 < 9, F.lit(1))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.concat(F.lit("payload-"), F.col("id")).alias("pay"),
        )
        small = spark.range(1000).select(
            F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v")
        )
        j = big.join(small, "k")
        assert len(j.collect()) == 150000  # every big row matches exactly once
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan
        assert "skewed" in plan  # AQEShuffleRead ... skewed
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
