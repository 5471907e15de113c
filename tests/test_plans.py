"""Physical-plan invariants — the 100 TB contract, asserted.

Correct results with a wrong plan don't survive a 1000-executor
cluster; these tests pin the plan shapes the engine's scale story
depends on (SURVEY §4.2): predicate pushdown into parquet, column
pruning, broadcast dimension joins, broadcast anti-join for the
seen-filter shape, and the parse stage's zero-shuffle guarantee.
"""

from __future__ import annotations

import os
import re

import pytest

from indigent_defense_stats_spark.operators import relational, textstats
from indigent_defense_stats_spark.operators.parse import (
    good_records,
    parse_documents,
)

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/lineitem.parquet"), reason="testdata missing"
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_pushes_scan_filter_and_partial_agg(spark):
    p = _plan(relational.q1_pricing_summary(spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # partial+final hash aggregation (map-side combine before shuffle)
    assert p.count("HashAggregate") >= 2


def test_region_revenue_broadcasts_all_dimensions(spark):
    # 4 dimension joins (orders->customer->nation->region chain); every
    # one must be a broadcast — a shuffle join on a dim table at 100 TB
    # would shuffle the fact side
    p = _plan(relational.region_revenue(spark, SF_DIR))
    assert p.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in p


def test_seen_filter_shape_is_broadcast_anti_join(spark):
    p = _plan(relational.customers_without_big_orders(spark, SF_DIR))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p


def test_priority_lookup_is_broadcast_left_outer(spark):
    p = _plan(relational.priority_severity_rollup(spark, SF_DIR))
    assert "BroadcastHashJoin" in p and "LeftOuter" in p


def test_token_stats_prunes_to_needed_columns(spark):
    p = _plan(textstats.token_stats(spark, SF_DIR))
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, p
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"doc_id", "text"}, cols  # not lang/source/n_chars


def test_part_type_class_is_pure_case_when(spark):
    # J3's containment lookup must constant-fold: no join at all
    p = _plan(relational.part_type_class(spark, SF_DIR))
    assert "Join" not in p


def test_parse_stage_has_zero_shuffles(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").selectExpr(
        "cast(doc_id as string) doc_id",
        "'x' as county",
        "array(struct('text' as kind, text, '' as media_ref, 0 as offset)) as spans",
    )
    # the parse returns Arrow structs: no from_json decode either, also
    # in the plan the pipeline runs (the good filter pushed down to it)
    for df in (parse_documents(docs), good_records(parse_documents(docs))):
        p = _plan(df)
        assert "MapInArrow" in p, p
        assert "Exchange" not in p, p
        assert "from_json" not in p and "JsonToStructs" not in p, p


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Co-located join contract (sources/bucketed.py): two COLD tables
    bucketed+sorted on the same (key, n_buckets) must SortMergeJoin
    with ZERO ShuffleExchange and zero explicit Sort; the identical
    unbucketed layout shuffles both sides.  (Broadcast disabled so the
    planner can't sidestep the comparison.)"""
    import pyspark.sql.functions as F

    from indigent_defense_stats_spark.sources import bucketed

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    agg = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    bucketed.write_bucketed(ev, "bkt_ev_t", f"{tmp_path}/ev", "user_id", 8)
    bucketed.write_bucketed(agg, "bkt_us_t", f"{tmp_path}/us", "user_id", 8)
    # unbucketed control: same data, plain parquet, re-read cold
    ev.write.mode("overwrite").parquet(f"{tmp_path}/ev_plain")
    agg.write.mode("overwrite").parquet(f"{tmp_path}/us_plain")

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed.colocated_join(spark, "bkt_ev_t", "bkt_us_t", "user_id")
        p = _plan(j)
        assert "SortMergeJoin" in p
        assert "Exchange" not in p  # no shuffle AND no broadcast
        assert j.count() == ev.count()  # every event matched its agg row

        ctrl = spark.read.parquet(f"{tmp_path}/ev_plain").join(
            spark.read.parquet(f"{tmp_path}/us_plain"), "user_id"
        )
        pc = _plan(ctrl)
        assert pc.count("Exchange") >= 2  # both sides shuffle
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_ev_t")
        spark.sql("DROP TABLE IF EXISTS bkt_us_t")


def test_runtime_bloom_filter_join_pruning(spark):
    """Catalyst's runtime bloom-filter injection — the optimizer
    surface that makes selective dim joins cheap at 100 TB: a bloom
    filter built from the filtered dim side is pushed into the fact
    scan as ``might_contain``, so most fact rows die before the
    shuffle.  Production defaults gate it on a >=10 GB probe side
    (exactly the target regime); the sandbox fact table is far
    smaller, so the test lowers the application-side threshold to
    demonstrate the plan and pins result equality with the filter on
    and off."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}

    def _run():
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        pt = spark.read.parquet("/root/testdata/sf0.001/part.parquet").filter(
            F.col("p_type").startswith("SMALL")
        )
        return (
            li.join(pt, li.l_partkey == pt.p_partkey)
            .groupBy("p_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        with_bf = _run()
        plan = with_bf._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
        rows_on = {tuple(r) for r in with_bf.collect()}
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "false"
        )
        rows_off = {tuple(r) for r in _run().collect()}
        assert rows_on == rows_off and rows_on
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
