"""Global index + balanced-shard layout: the mid-decomposition pin,
row_number equality, boundary independence, shard sizes and the
range-partition plan's balance.  All ordering uses orders.o_orderkey
— the testdata's lineitem (l_orderkey, l_linenumber) is NOT unique,
which is exactly the nondeterminism global_index's unique-key
precondition forbids."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from indigent_defense_stats_spark.operators import sharding as S

SF_DIR = "/root/testdata/sf0.001"


def _orders(spark):
    return spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )


def test_mid_decomposition_matches_spark_partition_id(spark):
    # the lower-33-bit record number + upper-bit partition id layout
    # global_index relies on (documented monotonically_increasing_id
    # behavior) — if a Spark upgrade changes it, fail HERE, loudly
    df = (
        spark.range(0, 10_000, 1, 8)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.spark_partition_id().cast("long"))
    )
    bad = df.filter(F.shiftright("_mid", 33) != F.col("_pid")).count()
    assert bad == 0


def test_global_index_equals_row_number(spark):
    o = _orders(spark)
    got = S.global_index(o, ["o_orderkey"])
    w = Window.orderBy("o_orderkey")
    exp = o.withColumn("exp", F.row_number().over(w) - 1)
    joined = got.join(exp, ["o_orderkey", "o_custkey"])
    assert joined.filter(F.col("idx") != F.col("exp")).count() == 0
    n = o.count()
    agg = got.agg(
        F.min("idx").alias("lo"),
        F.max("idx").alias("hi"),
        F.countDistinct("idx").alias("d"),
    ).head()
    assert (agg["lo"], agg["hi"], agg["d"]) == (0, n - 1, n)


def test_index_is_boundary_independent(spark):
    # same key order, wildly different input partitioning -> same index
    o = _orders(spark)
    a = S.global_index(o.repartition(13), ["o_orderkey"])
    b = S.global_index(o.coalesce(1), ["o_orderkey"])
    assert (
        a.join(b.withColumnRenamed("idx", "idx2"), ["o_orderkey"])
        .filter(F.col("idx") != F.col("idx2"))
        .count()
        == 0
    )


def test_balanced_shards_sizes(spark):
    rows = S.balanced_shards(spark, SF_DIR).collect()
    n = sum(r["n_rows"] for r in rows)
    assert [r["shard_id"] for r in rows] == list(range(len(rows)))
    for r in rows[:-1]:
        assert r["n_rows"] == S.ROWS_PER_SHARD
    assert rows[-1]["n_rows"] == (n % S.ROWS_PER_SHARD or S.ROWS_PER_SHARD)
    # key ranges tile in order without overlap (o_orderkey unique)
    for prev, cur in zip(rows, rows[1:]):
        assert prev["last_orderkey"] < cur["first_orderkey"]


def test_range_partition_plan_balance(spark):
    from indigent_defense_stats_spark.operators.sharding import (
        RP_BUCKETS,
        range_partition_plan,
    )

    rows = range_partition_plan(spark, SF_DIR).collect()
    assert len(rows) == RP_BUCKETS
    assert sorted(r["bucket"] for r in rows) == list(range(RP_BUCKETS))
    n = spark.read.parquet(f"{SF_DIR}/orders.parquet").count()
    assert sum(r["n_rows"] for r in rows) == n
    by_bucket = sorted(rows, key=lambda r: r["bucket"])
    # buckets are contiguous, ordered key ranges
    for a, b in zip(by_bucket, by_bucket[1:]):
        assert a["max_key"] < b["min_key"]
    # a 256-point sample over a uniform key space keeps every bucket
    # within 2x of perfect balance (KMV quantile error at k=256)
    for r in rows:
        assert 0.5 < r["balance"] < 2.0, r
