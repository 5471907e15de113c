"""Bucketed table layout — the co-located-join storage strategy.

At 100 TB the dominant cost of a key-repeated workload (join the same
fact table to dims / aggregate on the same key every wave) is the
shuffle.  Bucketing amortizes it ONCE at write time: rows are hashed
into a fixed number of buckets on the join key and each bucket is
sort-ordered, so every later equi-join or aggregation on that key is
exchange-free — Spark's scan reports the bucket distribution and the
planner drops both Exchanges (and with ``sortBy`` both Sorts) from the
SortMergeJoin.  ``tests/test_plans.py`` asserts exactly that from the
executed plan: cold bucketed tables join with ZERO ShuffleExchange
nodes, while the identical unbucketed layout shuffles both sides.

This is the same layout contract the engine uses operationally
(cluster_id-partitioned IVF index: operators/similarity.py); here it
is exposed as the general table-format primitive.  Production
mapping: Spark bucketed tables == Iceberg ``bucket(N, key)``
partition transforms (the metastore-free equivalent); a crawl
deployment buckets the frontier, the seen-set and the documents table
by host/doc key so wave joins never re-shuffle the corpus.

Sizing rule of thumb: buckets ≈ (table bytes / target partition
bytes), rounded to a power of two, with target ≈ 128-512 MB so a
bucket fits an executor core's memory; both sides of a co-located
join MUST agree on (key, bucket count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    key: str,
    n_buckets: int,
    sort: bool = True,
) -> None:
    """Write ``df`` as an external parquet table bucketed (and
    optionally sort-ordered) by ``key`` — the write-once shuffle that
    later joins/aggregations on ``key`` reuse."""
    w = df.write.bucketBy(n_buckets, key)
    if sort:
        w = w.sortBy(key)
    w.option("path", path).mode("overwrite").format("parquet").saveAsTable(table)


def colocated_join(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Equi-join two tables written with :func:`write_bucketed` on the
    same (key, bucket count).  The plan must contain no
    ShuffleExchange — asserted by tests/test_plans.py."""
    return spark.table(left_table).join(spark.table(right_table), key)
