"""Relational operator suite over the driver's TPC-H-ish tables.

Each query here is the Spark-first re-expression of a reference
operator from SURVEY.md §2 (citation in each docstring), paired with
an ANSI-SQL oracle string (DuckDB) in :data:`ORACLE_SQL`.  Column
aliases match between the two exactly — the correctness driver sorts
columns by name and value-hashes, so names and values must agree.

Float discipline: every floating aggregate is ``round(x, 2)`` on both
sides so parallel-summation ulp noise cannot flip the hash (sums here
are ~1e8 with ~1e-8 absolute FP noise — far inside the rounding
guard).

Scale notes (100 TB thinking) are in each docstring: what shuffles,
what broadcasts, what prunes.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.epochs import epoch_floor_s


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# aggregations
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial+final hash aggregation with a pushed-down scan filter.

    Reference analogs: A1 (conditional counts) + A8 (means) over the
    whole dataset (tools/print_stats.py:41-63).  At scale: the filter
    and the 4-column projection reach the parquet scan (PushedFilters/
    ReadSchema); the groupBy keys are 6 distinct values -> map-side
    partial agg collapses ~everything before the shuffle.
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def stats_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mean / median / mode (A8, tools/print_stats.py:41-47).

    Mode is made deterministic (reference ``statistics.mode`` takes
    first-seen on ties; SQL has no 'first seen') as: smallest value
    among the most frequent — expressed identically on both sides.
    """
    o = _t(spark, sf_dir, "orders")
    mode_df = (
        o.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("o_orderpriority"))
        .limit(1)
        .select(F.col("o_orderpriority").alias("mode_priority"))
    )
    stats = o.agg(
        F.round(F.avg("o_totalprice"), 2).alias("mean_price"),
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("median_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return stats.crossJoin(mode_df)


def dismissed_count_analog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional count per group (A1, parser/hays.py:43-52):
    'dismissed' -> returnflag R.  Map-side combine; no skew (keys are
    orderkeys, uniform)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("long")
            .alias("returned_count")
        )
        .filter(F.col("returned_count") > 0)
    )


def earliest_date_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min(date) + ISO formatting (A3, cleaner/__init__.py:132-137)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("earliest_ship")
    )


# ---------------------------------------------------------------------------
# top-k / sorts / limits
# ---------------------------------------------------------------------------

def top5_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N by metric (A7/O3, tools/print_stats.py:32-47).

    orderBy(desc).limit(k) compiles to TakeOrderedAndProject — per-
    partition heaps + driver merge, no global sort.  Deterministic
    tiebreak on the key column.
    """
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(5)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total_price"))
    )


def first_1000_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded export (O4, tools/combine_parsed.py:25) — made
    deterministic with an explicit sort (the reference relies on
    directory order, which is nondeterministic; not reproduced)."""
    o = _t(spark, sf_dir, "orders")
    return o.orderBy("o_orderkey").limit(1000).select("o_orderkey", "o_orderstatus")


# ---------------------------------------------------------------------------
# joins
# ---------------------------------------------------------------------------

def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way dimension join + aggregate (J1/J2 broadcast pattern,
    parser/hays.py:59-67, cleaner/__init__.py:124-127).

    nation/region are broadcast (tiny dims); customer->orders->lineitem
    shuffle on the fact keys.  At 100 TB, AQE picks broadcast for every
    side under the 64 MB threshold; the lineitem-orders join is the
    only real shuffle.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def nation_customer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim join + agg (J2 inner-join enrich)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


def customers_without_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join — the URL/content-seen dedup shape (J4/D2,
    updater/__init__.py:92-105), the exact form plans/frontier.py
    runs per wave (anti vs a filtered subset so the result is
    non-trivial)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


def next_version_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioning aggregate (J5/A5, updater/__init__.py:108-119):
    next version = max(existing)+1, 1 when none."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    mx = o.groupBy("o_custkey").agg(F.max("o_orderkey").alias("max_ok"))
    return (
        c.join(mx, c.c_custkey == mx.o_custkey, "left")
        .select(
            "c_custkey",
            (F.coalesce(F.col("max_ok"), F.lit(0)) + F.lit(1)).alias("next_version"),
        )
    )


# ---------------------------------------------------------------------------
# windows
# ---------------------------------------------------------------------------

def event_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number per partition in time order (W1,
    tools/build_event_csv.py:74-80).  One shuffle on user_id; ties
    broken by event_id for determinism."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id", "user_id", F.row_number().over(w).alias("seq")
    )


def days_elapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first-event date + elapsed days (W2,
    tools/build_event_csv.py:69-81): min(ts) over an unbounded
    partition window, then datediff."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    return e.select(
        "event_id",
        "user_id",
        F.datediff(
            F.col("ts").cast("date"), F.min(F.col("ts").cast("date")).over(w)
        ).alias("days_elapsed"),
    )


def primary_order_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """is-first-in-group flag (W3, cleaner/__init__.py:109)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        (F.row_number().over(w) == 1).alias("is_primary"),
    )


def top_charge_argmin_analog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmin with first-wins tiebreak (A2/W5, parser/hays.py:54-85):
    per order, the line with minimal extendedprice (linenumber breaks
    ties = 'first seen')."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_extendedprice", "l_linenumber"
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_orderkey",
            F.col("l_partkey").alias("cheapest_part"),
            F.round("l_extendedprice", 2).alias("min_price"),
        )
    )


# ---------------------------------------------------------------------------
# set ops / dedup
# ---------------------------------------------------------------------------

def dedup_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates-keeping-first (D3, scraper/__init__.py:486-490),
    expressed as a deterministic row_number window instead of the
    nondeterministic dropDuplicates."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id")
    )


def union_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName reassembly (§2.7: event rows + disposition rows)."""
    o = _t(spark, sf_dir, "orders")
    hi = o.filter(F.col("o_totalprice") > 200000).select(
        "o_orderkey", F.lit("high").alias("bucket")
    )
    lo = o.filter(F.col("o_totalprice") <= 200000).select(
        "o_orderkey", F.lit("low").alias("bucket")
    )
    return hi.unionByName(lo).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n")
    )


def denormalize_order_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parent-child denormalize (J6, tools/build_event_csv.py:60-89):
    each line inherits order demographics.  In the case pipeline this
    is posexplode (no shuffle); over normalized tables it is a key
    join."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "l_orderkey",
            "l_linenumber",
            "o_orderstatus",
            "o_orderpriority",
            F.round("l_extendedprice", 2).alias("price"),
        )
    )


# ---------------------------------------------------------------------------
# lookup joins / containment predicates / array ops
# ---------------------------------------------------------------------------

# J1's 6-row charge->level map: entries 4-/5- deliberately absent so the
# left-outer default path ("Unknown", parser/hays.py:67) is exercised
PRIORITY_SEVERITY = [("1-URGENT", 1), ("2-HIGH", 2), ("3-MEDIUM", 3)]


def priority_severity_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast left-outer lookup with default on miss (J1,
    parser/hays.py:59-67: charge_map probe, 'Unknown' fallback).
    Scale: dim is O(10) rows — always broadcast; no shuffle on the
    fact side until the final tiny aggregate."""
    import pandas as pd

    o = _t(spark, sf_dir, "orders")
    dim = spark.createDataFrame(
        pd.DataFrame(PRIORITY_SEVERITY, columns=["o_orderpriority", "severity"]),
        "o_orderpriority string, severity int",
    )
    return (
        o.join(F.broadcast(dim), "o_orderpriority", "left")
        .withColumn("severity", F.coalesce("severity", F.lit(999)))
        .groupBy("severity")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


def part_type_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment theta-'join' constant-folded to CASE WHEN (J3,
    parser/hays.py:4-11, 33-41: severity by substring match, first
    match wins, 999 sentinel).  Scale: pure map-side expression in
    whole-stage codegen; no join, no shuffle except the rollup."""
    p = _t(spark, sf_dir, "part")
    cls = (
        F.when(F.col("p_type").contains("ECONOMY"), 1)
        .when(F.col("p_type").contains("SMALL"), 2)
        .when(F.col("p_type").contains("STANDARD"), 3)
        .when(F.col("p_type").contains("LARGE"), 4)
        .otherwise(999)
    )
    return (
        p.select(cls.alias("type_class"), "p_retailprice")
        .groupBy("type_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.avg("p_retailprice"), 2).alias("avg_price"),
        )
    )


# J7's 7-row GOOD_MOTIONS list, re-aimed at the documents vocabulary
GOOD_PHRASES = ["table scan", "hash join", "sort merge", "stream filter"]


def doc_motion_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constant-list containment semi-'join' as a pure array expression
    (J7/A4, cleaner/__init__.py:14-22, 141-155, 225-230): which of the
    known phrases appear in each document + the boolean evidence flag.
    Scale: no join — the 7-row 'dimension' is a literal array evaluated
    per row map-side; ordering of hits is the literal order, exactly
    like the reference's list comprehension.

    Hits are serialized to a comma-joined string: the driver's pandas
    canonicalizer sorts columns and cannot hash list values, so both
    sides emit scalars (VERDICT r1 item 1)."""
    d = _t(spark, sf_dir, "documents")
    phrases = F.array(*[F.lit(p) for p in GOOD_PHRASES])
    hits = F.filter(phrases, lambda m: F.col("text").contains(m))
    return d.select(
        "doc_id",
        F.concat_ws(",", hits).alias("good_hits"),
        (F.size(hits) > 0).alias("has_evidence"),
    )


def stride5_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stride-5 chunking of a flat token stream into records (F15,
    parser/hays.py:178-187: charge table cells -> structs of 5).
    Relational form: posexplode -> group by pos div 5 -> pivot pos mod
    5.  Scale: the explode is map-side; the aggregate shuffles
    (doc_id, chunk_id) keys with partial aggregation."""
    d = _t(spark, sf_dir, "documents")
    ex = d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
    ex = ex.withColumn("chunk_id", F.expr("pos div 5")).withColumn(
        "f", F.col("pos") % 5
    )
    return (
        ex.groupBy("doc_id", "chunk_id")
        .agg(
            *[
                F.max(F.when(F.col("f") == k, F.col("tok"))).alias(f"f{k}")
                for k in range(5)
            ],
            F.count(F.lit(1)).alias("__n"),
        )
        .filter(F.col("__n") == 5)
        .drop("__n")
    )


def user_event_ids_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe collect_list via salted two-phase aggregation
    (plans/skew.py): identical result to the vanilla aggregate, but a
    hot user's rows spread over n_salt reducers first (north rule:
    skew handled explicitly)."""
    from ..plans import skew

    e = _t(spark, sf_dir, "events").select("user_id", "event_id")
    out = skew.collect_list_salted(e, "user_id", "event_id", n_salt=8)
    # scalarize for the driver canonicalizer (lists are unhashable there)
    return out.select(
        "user_id",
        F.concat_ws(
            ",", F.transform("event_ids", lambda x: x.cast("string"))
        ).alias("event_ids"),
    )


def user_events_reversed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-reversal materialized as a sorted array (O1,
    parser/hays.py:224-226: portal lists newest-first, parser flips).
    collect_list has no deterministic order under parallelism — the
    explicit sort_array over (ts, event_id) structs is the Spark-native
    way to carry document order (SURVEY §2.5 invariant)."""
    e = _t(spark, sf_dir, "events")
    arr = F.sort_array(F.collect_list(F.struct("ts", "event_id")), asc=False)
    return e.groupBy("user_id").agg(
        F.concat_ws(
            ",", F.transform(arr, lambda s: s["event_id"].cast("string"))
        ).alias("events_newest_first")
    )


def event_type_day_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity rollup (the hypertable continuous-aggregate
    shape): event counts + distinct users at (event_type, day), per
    event_type subtotal, and grand total in ONE pass via
    ``rollup()`` — Spark expands the grouping sets inside a single
    aggregate (partial+final), so the three granularities cost one
    shuffle, not three jobs.  Measures are exact integers only (count,
    count distinct); a float sum here would be combine-order-dependent
    and flake the cross-engine hash.  NULL group markers are the
    engine-portable rollup indicator (both engines emit NULL for
    rolled-up levels)."""
    e = _t(spark, sf_dir, "events").withColumn(
        "day", F.to_date(F.col("ts"))
    )
    return e.rollup("event_type", "day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    ).select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        "n_users",
    )


def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT surface: per-user event counts spread into one column per
    event type (explicit value list, so the plan is a single partial+
    final aggregate — Spark never runs the extra distinct-values job
    and the output schema is static, which is what you want at scale).
    Counts are exact integers; missing cells are 0."""
    e = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        e.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in types
        ],
    )


def clicked_never_purchased(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operator surface (EXCEPT / INTERSECT): users who clicked but
    never purchased, tagged 'click_only', unioned with users who did
    both, tagged 'click_and_buy'.  ``exceptAll``/``intersect`` compile
    to the same hash aggregate + join shapes as anti/semi joins — one
    linear shuffle per side, broadcastable when one side is small."""
    e = _t(spark, sf_dir, "events")
    clickers = e.filter(F.col("event_type") == "click").select("user_id")
    buyers = e.filter(F.col("event_type") == "purchase").select("user_id")
    only = clickers.distinct().exceptAll(buyers.distinct()).select(
        "user_id", F.lit("click_only").alias("cohort")
    )
    both = clickers.intersect(buyers).select(
        "user_id", F.lit("click_and_buy").alias("cohort")
    )
    return only.unionByName(both)


def daily_event_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification (gap filling): per-user daily event
    counts over the user's OWN active range, with missing days emitted
    as zero — the resample/gap-fill primitive a monitoring rollup
    needs (dashboards can't tell 'no data' from 'no row' otherwise).

    Shape: one aggregate for per-user (min_day, max_day, per-day
    counts), then the calendar is generated per user with
    ``sequence(min_day, max_day)`` + ``posexplode`` — rows expand to
    user-days, which is the OUTPUT size, so the plan is linear in what
    it must emit; the count join-back is a shuffle on (user, day).
    Nothing is driver-side; no global calendar table is broadcast
    (each user carries only its own range)."""
    e = _t(spark, sf_dir, "events").withColumn(
        "day", F.to_date(F.col("ts"))
    )
    per_day = e.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    ranges = e.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    calendar = ranges.select(
        "user_id",
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day"),
    )
    return (
        calendar.join(per_day, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias(
                "n_events"
            ),
        )
    )


ROLLING_WINDOW_S = 7 * 86400  # rolling 7 days, inclusive of current row


def rolling_week_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (time-based, not row-count): for every
    event, how many events the same user produced in the trailing 7
    days including this one.  ``rangeBetween`` frames differ from the
    ``rowsBetween`` frames used elsewhere (W1/W2, pack_interleaved): the
    frame is defined by the ORDER-BY VALUE distance, so ties share a
    frame and gaps shrink it — the rolling-metric semantics a
    monitoring pipeline needs.

    Shape: one shuffle on user_id + per-key sort; the running frame is
    computed in a single pass per partition (Spark's bounded-preceding
    range frame keeps a sliding aggregate, not O(n²) re-scans).
    Ordering key is epoch SECONDS (integer) so the frame boundary
    arithmetic is exact and identical across engines."""
    # timezone-free epoch (a cast through LTZ timestamp shifts ts_s by
    # the session offset under a non-UTC driver-owned session)
    e = _t(spark, sf_dir, "events").withColumn(
        "ts_s", epoch_floor_s("ts")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_s")
        .rangeBetween(-(ROLLING_WINDOW_S - 1), 0)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts_s",
        F.count(F.lit(1)).over(w).alias("n_events_7d"),
    )


def variant_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured rollup through Spark 4's VARIANT type: the
    events ``props`` JSON is parsed ONCE into a variant
    (``parse_json``) and the typed path ``$.k`` extracted with
    ``variant_get`` — the schema-on-read column type that replaces
    string-churning ``get_json_object`` at scale (binary-encoded,
    shredding-ready, no per-access re-parse).  The reference stores
    per-case blobs exactly this way (JSON fields of varying shape;
    SURVEY.md §2 F14).  Integer-only measures keep the cross-engine
    hash exact; the DuckDB oracle extracts the same path from the raw
    JSON."""
    e = _t(spark, sf_dir, "events")
    vk = F.variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return (
        e.select("event_type", vk.alias("vk"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("vk").cast("bigint").alias("k_sum"),
            F.max("vk").cast("bigint").alias("k_max"),
            F.count_distinct(F.col("vk")).cast("bigint").alias("k_distinct"),
        )
    )


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB) — keys match QUERIES
# ---------------------------------------------------------------------------

QUERIES = {
    "variant_props_rollup": variant_props_rollup,
    "rolling_week_user_events": rolling_week_user_events,
    "event_type_day_rollup": event_type_day_rollup,
    "event_type_pivot": event_type_pivot,
    "clicked_never_purchased": clicked_never_purchased,
    "daily_event_series": daily_event_series,
    "q1_pricing_summary": q1_pricing_summary,
    "stats_orders": stats_orders,
    "dismissed_count_analog": dismissed_count_analog,
    "earliest_date_per_order": earliest_date_per_order,
    "top5_orders": top5_orders,
    "first_1000_orders": first_1000_orders,
    "region_revenue": region_revenue,
    "nation_customer_stats": nation_customer_stats,
    "customers_without_big_orders": customers_without_big_orders,
    "next_version_per_customer": next_version_per_customer,
    "event_sequence": event_sequence,
    "days_elapsed": days_elapsed,
    "primary_order_flag": primary_order_flag,
    "top_charge_argmin_analog": top_charge_argmin_analog,
    "dedup_first_event": dedup_first_event,
    "union_tagged": union_tagged,
    "denormalize_order_lines": denormalize_order_lines,
    "priority_severity_rollup": priority_severity_rollup,
    "part_type_class": part_type_class,
    "doc_motion_flags": doc_motion_flags,
    "stride5_chunks": stride5_chunks,
    "user_events_reversed": user_events_reversed,
    "user_event_ids_salted": user_event_ids_salted,
}

ORACLE_SQL = {
    "variant_props_rollup": """
        WITH v AS (
            SELECT event_type,
                   CAST(json_extract_string(props, '$.k') AS INT) AS vk
            FROM events
        )
        SELECT event_type, count(*) AS n,
               CAST(sum(vk) AS BIGINT) AS k_sum,
               CAST(max(vk) AS BIGINT) AS k_max,
               CAST(count(DISTINCT vk) AS BIGINT) AS k_distinct
        FROM v GROUP BY event_type
    """,
    # count() window over RANGE frame: DuckDB returns BIGINT (same as
    # Spark's long) — no HUGEINT hazard for count, unlike sum
    "rolling_week_user_events": f"""
        WITH e AS (
            SELECT event_id, user_id,
                   CAST(epoch_us(ts) // 1000000 AS BIGINT) AS ts_s
            FROM events
        )
        SELECT event_id, user_id, ts_s,
               count(*) OVER (
                   PARTITION BY user_id ORDER BY ts_s
                   RANGE BETWEEN {ROLLING_WINDOW_S - 1} PRECEDING
                             AND CURRENT ROW
               ) AS n_events_7d
        FROM e
    """,
    "event_type_day_rollup": """
        SELECT event_type,
               strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY ROLLUP (event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d'))
    """,
    "event_type_pivot": """
        SELECT user_id,
               count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
               count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
               count(CASE WHEN event_type = 'purchase' THEN 1 END)
                   AS n_purchase,
               count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
               count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view
        FROM events GROUP BY 1
    """,
    "clicked_never_purchased": """
        SELECT user_id, 'click_only' AS cohort FROM (
            SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
            EXCEPT
            SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        )
        UNION ALL
        SELECT user_id, 'click_and_buy' AS cohort FROM (
            SELECT user_id FROM events WHERE event_type = 'click'
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'purchase'
        )
    """,
    "daily_event_series": """
        WITH e AS (
            SELECT user_id, CAST(ts AS DATE) AS day FROM events
        ),
        per_day AS (
            SELECT user_id, day, count(*) AS n_events FROM e GROUP BY 1, 2
        ),
        r AS (
            SELECT user_id, min(day) AS d0, max(day) AS d1 FROM e GROUP BY 1
        ),
        cal AS (
            SELECT user_id, unnest(generate_series(d0, d1,
                                                   INTERVAL 1 DAY))::DATE
                       AS day
            FROM r
        )
        SELECT cal.user_id,
               strftime(cal.day, '%Y-%m-%d') AS day,
               coalesce(per_day.n_events, 0) AS n_events
        FROM cal LEFT JOIN per_day
          ON cal.user_id = per_day.user_id AND cal.day = per_day.day
    """,
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2)                          AS sum_qty,
               round(sum(l_extendedprice), 2)                     AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2)  AS sum_disc_price,
               round(avg(l_quantity), 2)                          AS avg_qty,
               round(avg(l_extendedprice), 2)                     AS avg_price,
               count(*)                                           AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "stats_orders": """
        WITH mode_cte AS (
            SELECT o_orderpriority AS mode_priority
            FROM orders GROUP BY o_orderpriority
            ORDER BY count(*) DESC, o_orderpriority ASC LIMIT 1
        )
        SELECT round(avg(o_totalprice), 2)               AS mean_price,
               round(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
               count(*)                                   AS n_orders,
               (SELECT mode_priority FROM mode_cte)       AS mode_priority
        FROM orders
    """,
    "dismissed_count_analog": """
        SELECT l_orderkey,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
                   AS returned_count
        FROM lineitem GROUP BY l_orderkey
        HAVING sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) > 0
    """,
    "earliest_date_per_order": """
        SELECT l_orderkey, strftime(min(l_shipdate), '%Y-%m-%d') AS earliest_ship
        FROM lineitem GROUP BY l_orderkey
    """,
    "top5_orders": """
        SELECT o_orderkey, round(o_totalprice, 2) AS total_price
        FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 5
    """,
    "first_1000_orders": """
        SELECT o_orderkey, o_orderstatus FROM orders
        ORDER BY o_orderkey LIMIT 1000
    """,
    "region_revenue": """
        SELECT r_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_lineitems
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
    "nation_customer_stats": """
        SELECT n_name, count(*) AS n_customers,
               round(sum(c_acctbal), 2) AS total_acctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "customers_without_big_orders": """
        SELECT c_custkey FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    """,
    "next_version_per_customer": """
        SELECT c_custkey, coalesce(mx.max_ok, 0) + 1 AS next_version
        FROM customer
        LEFT JOIN (SELECT o_custkey, max(o_orderkey) AS max_ok
                   FROM orders GROUP BY o_custkey) mx
          ON c_custkey = mx.o_custkey
    """,
    "event_sequence": """
        SELECT event_id, user_id,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
        FROM events
    """,
    "days_elapsed": """
        SELECT event_id, user_id,
               datediff('day', min(CAST(ts AS DATE)) OVER (PARTITION BY user_id),
                        CAST(ts AS DATE)) AS days_elapsed
        FROM events
    """,
    "primary_order_flag": """
        SELECT o_orderkey, o_custkey,
               (row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) = 1) AS is_primary
        FROM orders
    """,
    "top_charge_argmin_analog": """
        SELECT l_orderkey, cheapest_part, min_price FROM (
            SELECT l_orderkey, l_partkey AS cheapest_part,
                   round(l_extendedprice, 2) AS min_price,
                   row_number() OVER (PARTITION BY l_orderkey
                                      ORDER BY l_extendedprice, l_linenumber) AS rn
            FROM lineitem) t
        WHERE rn = 1
    """,
    "dedup_first_event": """
        SELECT user_id, event_type, event_id FROM (
            SELECT user_id, event_type, event_id,
                   row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) AS rn
            FROM events) t
        WHERE rn = 1
    """,
    "union_tagged": """
        SELECT bucket, count(*) AS n FROM (
            SELECT o_orderkey, 'high' AS bucket FROM orders WHERE o_totalprice > 200000
            UNION ALL
            SELECT o_orderkey, 'low'  AS bucket FROM orders WHERE o_totalprice <= 200000
        ) u GROUP BY bucket
    """,
    "denormalize_order_lines": """
        SELECT l_orderkey, l_linenumber, o_orderstatus, o_orderpriority,
               round(l_extendedprice, 2) AS price
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    """,
    "priority_severity_rollup": """
        WITH dim(o_orderpriority, severity) AS (
            VALUES ('1-URGENT', 1), ('2-HIGH', 2), ('3-MEDIUM', 3))
        SELECT coalesce(dim.severity, 999) AS severity,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total
        FROM orders LEFT JOIN dim USING (o_orderpriority)
        GROUP BY 1
    """,
    "part_type_class": """
        SELECT CASE WHEN contains(p_type, 'ECONOMY') THEN 1
                    WHEN contains(p_type, 'SMALL') THEN 2
                    WHEN contains(p_type, 'STANDARD') THEN 3
                    WHEN contains(p_type, 'LARGE') THEN 4
                    ELSE 999 END AS type_class,
               count(*) AS n_parts,
               round(avg(p_retailprice), 2) AS avg_price
        FROM part GROUP BY 1
    """,
    "doc_motion_flags": """
        SELECT doc_id,
               coalesce(array_to_string(
                   list_filter(['table scan', 'hash join', 'sort merge',
                                'stream filter'],
                               m -> contains(text, m)), ','), '') AS good_hits,
               len(list_filter(['table scan', 'hash join', 'sort merge',
                                'stream filter'],
                               m -> contains(text, m))) > 0 AS has_evidence
        FROM documents
    """,
    "stride5_chunks": """
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        ex AS (
            SELECT doc_id, unnest(toks) AS tok,
                   CAST(generate_subscripts(toks, 1) - 1 AS BIGINT) AS pos
            FROM t)
        SELECT doc_id, pos // 5 AS chunk_id,
               max(CASE WHEN pos % 5 = 0 THEN tok END) AS f0,
               max(CASE WHEN pos % 5 = 1 THEN tok END) AS f1,
               max(CASE WHEN pos % 5 = 2 THEN tok END) AS f2,
               max(CASE WHEN pos % 5 = 3 THEN tok END) AS f3,
               max(CASE WHEN pos % 5 = 4 THEN tok END) AS f4
        FROM ex
        GROUP BY doc_id, chunk_id
        HAVING count(*) = 5
    """,
    "user_events_reversed": """
        SELECT user_id,
               array_to_string(list(event_id ORDER BY ts DESC, event_id DESC),
                               ',') AS events_newest_first
        FROM events GROUP BY user_id
    """,
    "user_event_ids_salted": """
        SELECT user_id,
               array_to_string(list(event_id ORDER BY event_id), ',')
                   AS event_ids
        FROM events GROUP BY user_id
    """,
}
