"""Deterministic global row indexing + size-balanced shard assignment.

At 100 TB the naive way to number rows globally — ``row_number()``
over an unpartitioned window — is a single-task global sort: the one
plan shape that can NEVER scale.  The classic distributed form (the
RDD ``zipWithIndex`` idiom, re-expressed on DataFrames) is:

1. range-partition + sort within partitions by a UNIQUE order key
   (the only corpus-sized shuffle);
2. per-partition row counts -> a bounded O(#partitions) driver
   collect -> cumulative offsets;
3. global index = partition offset + local position.

The result depends only on the total order of the key — NOT on where
the (sampled) range boundaries fall — so the output is deterministic
even though ``repartitionByRange`` samples its boundaries.  The
sorted+numbered table is ``localCheckpoint``-ed BEFORE the count
collect so the offset job and every downstream consumer read the SAME
materialization (a re-sample between two actions would silently
mis-offset; the pin makes that impossible).

Local position comes from ``monotonically_increasing_id``'s documented
layout (partition id in the upper bits, a consecutive per-partition
record number in the lower 33); ``test_sharding.py`` pins both the
decomposition against ``spark_partition_id()`` and the end result
against a ``row_number()`` oracle.

On top of the index:

- ``balanced_shards`` — the driver-graded query: assign orders rows
  (ordered by the unique o_orderkey) to fixed-size shards of
  ``ROWS_PER_SHARD`` and report per-shard row counts, key ranges, and
  an exact integer checksum.  (lineitem is NOT used: this testdata's
  (l_orderkey, l_linenumber) is not a unique key, and a non-unique
  order key makes any global index nondeterministic.)  Every shard
  but the last is exactly full — the property that keeps downstream
  training jobs (sequence packing, shard-per-worker data loading) free
  of straggler tasks.

Reference analog: the scraper writes one JSON file per case in
arrival order (reference src/scraper/__init__.py case loop); the shard
assignment is that sink's cut generalized to a deterministic, evenly
sized global order.
"""

from __future__ import annotations

from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

ROWS_PER_SHARD = 1024
_LOW33 = (1 << 33) - 1


def global_index(
    df: DataFrame, order_cols: Sequence[str], index_col: str = "idx"
) -> DataFrame:
    """Add a 0-based BIGINT global index in ``order_cols`` order
    without a single-partition sort.  ``order_cols`` must be a unique
    key (ties would make the index nondeterministic; the oracle and
    tests use unique keys only)."""
    cols = [F.col(c) for c in order_cols]
    numbered = (
        df.repartitionByRange(*cols)
        .sortWithinPartitions(*cols)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.spark_partition_id().cast("long"))
        # pin: the offset job and every consumer must see the SAME
        # range-sample; without this a second action re-samples
        # boundaries and the offsets no longer match the data
        .localCheckpoint(eager=False)
    )
    counts = numbered.groupBy("_pid").count().collect()  # O(#partitions)
    off, offsets = 0, []
    for r in sorted(counts, key=lambda r: r["_pid"]):
        offsets.append((int(r["_pid"]), off))
        off += int(r["count"])
    spark = df.sparkSession
    off_df = spark.createDataFrame(offsets, "_pid long, _off long")
    return (
        numbered.join(F.broadcast(off_df), "_pid")
        .withColumn(
            index_col, F.col("_off") + (F.col("_mid").bitwiseAND(F.lit(_LOW33)))
        )
        .drop("_mid", "_pid", "_off")
    )


def balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size shard layout over orders in o_orderkey order (the
    table's unique key — a non-unique order key would make any global
    index nondeterministic): per shard the row count, the key range it
    covers, and sum(idx * o_custkey) as an exact integer checksum of
    the assignment (any mis-indexed row changes it)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    idx = global_index(o, ["o_orderkey"])
    return (
        # integer DIV, not float division: exact at any row count
        idx.withColumn("shard_id", F.expr(f"idx DIV {ROWS_PER_SHARD}"))
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_orderkey").alias("first_orderkey"),
            F.max("o_orderkey").alias("last_orderkey"),
            F.sum(F.col("idx") * F.col("o_custkey")).alias("checksum"),
        )
        .orderBy("shard_id")
    )


_ORACLE = f"""
    WITH r AS (
        SELECT o_orderkey, o_custkey,
               row_number() OVER (ORDER BY o_orderkey) - 1 AS idx
        FROM orders
    )
    SELECT CAST(idx // {ROWS_PER_SHARD} AS BIGINT) AS shard_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(o_orderkey) AS BIGINT) AS first_orderkey,
           CAST(max(o_orderkey) AS BIGINT) AS last_orderkey,
           CAST(sum(idx * o_custkey) AS BIGINT) AS checksum
    FROM r
    GROUP BY 1
    ORDER BY shard_id
"""

RP_SAMPLE_K = 256  # hash-bottom sample size
RP_BUCKETS = 8


def range_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive range-partition BOUNDS from a mergeable bottom-k-by-hash
    sample and AUDIT the resulting balance with exact counts — the
    skew-defusing step the north rule names (range-partition the
    heavy-county corpus): boundaries must come from a sample (the full
    sort is the thing being avoided), and a partitioner is only as
    good as its measured imbalance.

    Shape: the sample is a TOP-K by portable hash (Spark plans
    ``orderBy(hash).limit(K)`` as per-partition local top-K + merge —
    never a global sort; the same KMV object sketches.bottomk_sample
    maintains incrementally); bounds are every (K/B)-th sampled key in
    key order; assignment counts bounds below each key via a
    BROADCAST inequality join against the (B-1)-row bounds dim; audit
    is one grouped aggregate + a 1-row total broadcast.  All integers
    + one division for the share.
    """
    from .textstats import md5_int

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey")
    h = md5_int(F.col("o_orderkey").cast("string"))
    samp = (
        o.select(F.col("o_orderkey").alias("k"), h.alias("h"))
        .orderBy("h", "k")
        .limit(RP_SAMPLE_K)
    )
    from pyspark.sql import Window

    ranked = samp.select(
        "k", F.row_number().over(Window.orderBy("k")).alias("r")
    )
    step = RP_SAMPLE_K // RP_BUCKETS
    bounds = ranked.filter(
        (F.col("r") % step == 0) & (F.col("r") < RP_SAMPLE_K)
    ).select(F.col("k").alias("bk"))
    assigned = (
        o.join(F.broadcast(bounds), F.col("o_orderkey") > F.col("bk"), "left")
        .groupBy("o_orderkey")
        .agg(F.count("bk").cast("int").alias("bucket"))
    )
    per = assigned.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )
    total = per.agg(F.sum("n_rows").cast("long").alias("t"))
    return per.crossJoin(F.broadcast(total)).select(
        "bucket",
        "n_rows",
        "min_key",
        "max_key",
        # share in units of 1/B: 1.0 = perfectly balanced bucket
        F.round(
            F.col("n_rows") * F.lit(RP_BUCKETS) * 1.0 / F.col("t"), 6
        ).alias("balance"),
    )


_RP_ORACLE = f"""
    WITH samp AS (
        SELECT o_orderkey AS k
        FROM orders
        ORDER BY ('0x' || left(md5(o_orderkey::VARCHAR), 15))::BIGINT,
                 o_orderkey
        LIMIT {RP_SAMPLE_K}
    ),
    ranked AS (
        SELECT k, row_number() OVER (ORDER BY k) AS r FROM samp
    ),
    bounds AS (
        SELECT k AS bk FROM ranked
        WHERE r % {RP_SAMPLE_K // RP_BUCKETS} = 0 AND r < {RP_SAMPLE_K}
    ),
    assigned AS (
        SELECT o.o_orderkey,
               CAST(count(b.bk) AS INT) AS bucket
        FROM orders o LEFT JOIN bounds b ON o.o_orderkey > b.bk
        GROUP BY o.o_orderkey
    ),
    per AS (
        SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(min(o_orderkey) AS BIGINT) AS min_key,
               CAST(max(o_orderkey) AS BIGINT) AS max_key
        FROM assigned GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_rows) AS BIGINT) AS t FROM per)
    SELECT bucket, n_rows, min_key, max_key,
           round(n_rows * {RP_BUCKETS} * 1.0 / t, 6) AS balance
    FROM per CROSS JOIN tot
"""

QUERIES = {
    "balanced_shards": balanced_shards,
    "range_partition_plan": range_partition_plan,
}
ORACLE_SQL = {
    "balanced_shards": _ORACLE,
    "range_partition_plan": _RP_ORACLE,
}
