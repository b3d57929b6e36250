"""Relational parity queries (SURVEY.md §2), re-expressed over the
driver's TPC-H-ish test tables.

Each public function takes ``(spark, sf_dir)`` and returns a lazy
DataFrame. Every computed/aggregate column is aliased so names match
the DuckDB oracle in ``__spark_entry__.oracle_sql`` exactly (the
driver's compare sorts columns by name before hashing).

Determinism notes applied throughout:

* Every ``LIMIT`` carries a total-order tiebreak (the reference's
  ``ORDER BY tot_reports DESC LIMIT 15`` at
  ``athena_queries/arrest_pct_by_community_VIOLENT.txt:23-24`` is
  tie-ambiguous; we add a key column so Spark and the oracle pick the
  same rows).
* Double-typed aggregates are ``ROUND``ed (2dp) on output so
  floating-point summation order can't flip the value hash. The
  reference itself rounds its one computed double
  (``arrest_pct_by_community_VIOLENT.txt:5``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_de_final_project_spark import etl
from aws_de_final_project_spark.functions.numeric import epoch_us
from aws_de_final_project_spark.functions.numeric import round_half_up as rnd

from aws_de_final_project_spark.functions.dialect import (
    iso_day_of_week,
    presto_date_format,
    presto_date_parse,
)
from aws_de_final_project_spark.operators.util import cut
from aws_de_final_project_spark.sources.registry import load_tables


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-aggregate hash aggregation over the fact table (operator
    family A1 + F8-F10: grouped COUNT/SUM/AVG with arithmetic).

    TPC-H Q1 shape; the widest single-pass aggregation in the suite,
    and the headline bench query. At scale: one shuffle on a
    low-cardinality key (6 groups), fully resolved by partial
    (map-side) aggregation — reduce side sees ~6 rows per partition.
    """
    t = load_tables(spark, sf_dir, ("lineitem",))
    li = t["lineitem"]
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            rnd(F.sum("l_quantity"), 2).alias("sum_qty"),
            rnd(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            rnd(F.sum(disc_price), 2).alias("sum_disc_price"),
            rnd(F.sum(charge), 2).alias("sum_charge"),
            rnd(F.avg("l_quantity"), 2).alias("avg_qty"),
            rnd(F.avg("l_extendedprice"), 2).alias("avg_price"),
            rnd(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def return_pct_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship query — the arrest-pct shape (J1+A1+A2+F8-F10+O1 in
    one plan, mirroring ``arrest_pct_by_community_VIOLENT.txt:1-24``):
    two aggregations of the same base relation joined on the group
    key, a rounded percentage, and a top-15.

    Base relation: lineitem enriched with the supplier's nation — the
    broadcast dimension join the reference's ``supporting/`` crawler
    implied but never committed (``CDK/cdk/cdk_stack.py:113-134``).

    Scale: supplier/nation are broadcast (no fact shuffle for the
    enrich); the two aggregates shuffle on ``n_name`` once each and
    the final join of two ~25-row aggregates is trivially broadcast.
    """
    t = load_tables(spark, sf_dir, ("lineitem", "supplier", "nation"))
    base = (
        t["lineitem"]
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    tot = base.groupBy("n_name").agg(F.count(F.lit(1)).alias("tot_lineitems"))
    ret = (
        base.filter(F.col("l_returnflag") == "R")
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("tot_returns"))
    )
    return (
        tot.join(ret, "n_name", "inner")
        .select(
            "n_name",
            "tot_returns",
            "tot_lineitems",
            rnd(
                F.col("tot_returns").cast("double")
                / F.col("tot_lineitems").cast("double")
                * 100,
                2,
            ).alias("return_pct"),
        )
        .orderBy(F.desc("tot_lineitems"), F.asc("n_name"))
        .limit(15)
    )


def filter_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way OR with a nested AND + LIKE (operators P4/P6/P7),
    mirroring the violent-crimes predicate at
    ``athena_queries/dependency1_violent_crimes.txt:5-10``.

    Catalyst pushes the whole disjunction into the parquet scan
    (visible as PushedFilters: Or(...)); no shuffle at all.
    """
    t = load_tables(spark, sf_dir, ("part",))
    p = t["part"]
    return p.filter(
        ((F.col("p_type") == "PROMO") & F.col("p_brand").like("%#1%"))
        | (F.col("p_type") == "ECONOMY")
        | (F.col("p_type") == "LARGE")
        | (F.col("p_type") == "SMALL")
    ).select("*")


def count_by_concat_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY on a computed concat key (A3 + F7 + P5), mirroring
    ``count_by_crime_type.txt:2-6`` (``primary_type || ' - ' ||
    description``). ``F.concat`` is NULL-propagating like Presto
    ``||`` (``concat_ws`` would silently skip NULLs — wrong)."""
    t = load_tables(spark, sf_dir, ("part",))
    return (
        t["part"]
        .groupBy(
            F.concat(F.col("p_brand"), F.lit(" - "), F.col("p_type")).alias(
                "part_type"
            )
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("part_type")
    )


def weekday_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixed_dates_violent shape (F4/F5/F6 + nested select V3,
    mirroring ``fixed_dates_violent.txt:1-9``): a string timestamp is
    parsed with Presto tokens, then decorated with the weekday name
    (``%W``) and the ISO day-of-week number (``DAY_OF_WEEK``).

    The test tables carry real timestamps, so the inner select first
    formats ``ts`` to the reference's 12-hour string form — that
    round-trip IS operator F4's test surface.
    """
    t = load_tables(spark, sf_dir, ("events",))
    inner = t["events"].select(
        "event_id",
        F.date_format("ts", "MM/dd/yyyy hh:mm:ss a").alias("date_str"),
    )
    with_ts = inner.select(
        "*",
        presto_date_parse("date_str", "%m/%d/%Y %T %p").alias("date_timestamp"),
    )
    return with_ts.select(
        presto_date_format("date_timestamp", "%W").alias("day_of_week"),
        iso_day_of_week("date_timestamp").alias("day_of_week_num"),
        "event_id",
        "date_str",
    )


def etl_derive_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Glue job's transform chain (P1-P3 / F1-F3), mirroring
    ``Glue Script/process_crime_data.py:22-24``: parse a
    ``MM/dd/yyyy hh:mm:ss a`` string to a date, then derive month and
    day-of-month — the pipeline's own :func:`etl.derive_date_parts`.
    String input is produced by formatting the real shipdate, same
    round-trip rationale as :func:`weekday_features`.
    """
    t = load_tables(spark, sf_dir, ("lineitem",))
    raw = t["lineitem"].select(
        "l_orderkey",
        "l_linenumber",
        F.date_format("l_shipdate", etl.CRIME_DATE_PATTERN).alias("date"),
    )
    return etl.derive_date_parts(raw)


def filtered_agg_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-aggregation boolean filter (A2 + P8), mirroring
    ``arrest_pct_by_community_VIOLENT.txt:15-20`` (``WHERE arrest =
    True`` then grouped COUNT). The boolean is derived since the test
    schema has no native boolean column."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    flagged = t["lineitem"].withColumn("returned", F.col("l_returnflag") == "R")
    return (
        flagged.filter(F.col("returned"))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("tot_returns"))
        .orderBy("l_suppkey")
    )


def dim_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dimension join chain (J1 + S10's intended lookup
    join): customer -> nation -> region rollup. nation/region are tiny
    at any scale factor — Catalyst auto-broadcasts; at 100 TB the fact
    side never shuffles for the join, only for the group-by."""
    t = load_tables(spark, sf_dir, ("customer", "nation", "region"))
    return (
        t["customer"]
        .join(
            F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("num_customers"),
            rnd(F.avg("c_acctbal"), 2).alias("avg_acctbal"),
        )
        .orderBy("r_name", "n_name")
    )


def topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k without full sort (O1, mirroring ``ORDER BY
    tot_reports DESC LIMIT 15`` at
    ``arrest_pct_by_community_VIOLENT.txt:23-24``). Catalyst plans
    TakeOrderedAndProject — each partition keeps 15 rows, the driver
    merges; no global sort even at 100 TB."""
    t = load_tables(spark, sf_dir, ("orders",))
    return (
        t["orders"]
        .groupBy("o_custkey")
        .agg(rnd(F.sum("o_totalprice"), 2).alias("total_spend"))
        .orderBy(F.desc("total_spend"), F.asc("o_custkey"))
        .limit(15)
    )


def window_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window (SURVEY.md §2.9's suggested extension — the
    reference has no OVER clause): top-3 orders per market segment by
    price, with a unique tiebreak for determinism."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, ("orders", "customer"))
    joined = t["orders"].join(
        F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey")
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        joined.select(
            "c_mktsegment",
            "o_orderkey",
            rnd(F.col("o_totalprice"), 2).alias("o_totalprice"),
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 3)
        .orderBy("c_mktsegment", "rk")
    )


def left_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join (SURVEY.md §2.5 — absent in the reference;
    first-class here): every customer with their order count,
    including zero-order customers. The dim side (customer) is the
    probe side; at scale this shuffles both sides on the key unless
    one fits the broadcast threshold."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    per_cust = (
        t["customer"]
        .join(
            t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left_outer"
        )
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("c_mktsegment", "n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment", "n_orders")
    )


def anti_join_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (absent in the reference): customers with no
    1-URGENT orders. Plans as a broadcast/shuffled hash anti join —
    never a subquery-per-row."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        t["customer"]
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (absent in the reference): per-nation,
    per-region subtotal, and grand-total customer counts in one pass.
    Spark expands grouping sets inside the same hash aggregate — one
    shuffle, not three queries."""
    t = load_tables(spark, sf_dir, ("customer", "nation", "region"))
    joined = (
        t["customer"]
        .join(
            F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            rnd(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
        .orderBy(
            F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first()
        )
    )


def distinct_agg_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) aggregate (absent in the reference): distinct
    ordering customers and order count per priority. Catalyst plans
    distinct aggregates as a two-phase expand+aggregate — no
    driver-side dedup."""
    t = load_tables(spark, sf_dir, ("orders",))
    return (
        t["orders"]
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation (SURVEY.md §2.7 — absent in the reference, where
    the nearest analogue is the crawler's CombineCompatibleSchemas
    UNION-ALL of CSV files, ``cdk_stack.py:109-110``): UNION DISTINCT
    of two customer selections."""
    t = load_tables(spark, sf_dir, ("customer",))
    c = t["customer"]
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey", "c_name"
    )
    rich = c.filter(F.col("c_acctbal") > 5000).select("c_custkey", "c_name")
    return building.union(rich).distinct().orderBy("c_custkey")


def view_layering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layered views (V1-V4 + S11): a filter view consumed by an
    aggregate view, mirroring how ``dependency1_violent_crimes``
    feeds ``arrest_pct_by_community_VIOLENT`` (the ``dependency1_``
    filename prefix encodes creation order,
    ``cdk_stack.py:307-326``). Catalyst inlines the view bodies into
    one optimized plan — exactly what Athena did."""
    load_tables(spark, sf_dir, ("orders",))
    spark.sql(
        """
        CREATE OR REPLACE TEMP VIEW dependency1_urgent_orders AS
        SELECT * FROM orders
        WHERE o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH'
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMP VIEW urgent_by_status AS
        SELECT o_orderstatus,
               COUNT(*) AS num_orders,
               ROUND(SUM(o_totalprice), 2) AS total_price
        FROM dependency1_urgent_orders
        GROUP BY o_orderstatus
        """
    )
    return spark.sql(
        "SELECT * FROM urgent_by_status ORDER BY o_orderstatus"
    )


def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull an int out of the events JSON
    ``props`` column and aggregate. The reference stores only flat
    columns, but its DynamicFrame abstraction
    (``process_crime_data.py:19``) exists precisely to absorb
    semi-structured input — this is the Spark-native equivalent."""
    t = load_tables(spark, sf_dir, ("events",))
    return (
        t["events"]
        .select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation in batch form (the T1-T3 family:
    the reference is micro-batch incremental, SURVEY.md §2.10; the
    same plan runs unchanged under Structured Streaming with
    ``F.window`` + watermark — see streaming/windows.py)."""
    t = load_tables(spark, sf_dir, ("events",))
    return (
        t["events"]
        .groupBy(
            # date_trunc implicitly upcasts NTZ -> LTZ (session-tz
            # truncation is still correct — load_tables pins UTC) but
            # an LTZ OUTPUT localizes through the PROCESS tz at
            # collect(); cast back to NTZ so the result is wall-time
            # under any driver tz (caught by the Chatham-tz sweep)
            F.date_trunc("hour", F.col("ts"))
            .cast("timestamp_ntz")
            .alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            rnd(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("hour_start", "event_type")
    )


def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-window aggregation (built-in ``session_window``) in
    batch form; the identical expression runs under Structured
    Streaming with watermark-driven state eviction (see
    streaming/windows.py::session_stats). Oracle: gaps-and-islands
    rewrite (lag + running sum of gap breaks)."""
    from aws_de_final_project_spark.streaming.windows import session_stats

    t = load_tables(spark, sf_dir, ("events",))
    s = session_stats(t["events"], gap="30 minutes")
    return s.select(
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        rnd(F.col("sum_value"), 2).alias("sum_value"),
    ).orderBy("user_id", "session_start")


def asof_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (operators/asof.py): every purchase event
    attributed to the user's most recent click at-or-before it, plus
    the attribution gap. Oracle: DuckDB's native ASOF LEFT JOIN."""
    from aws_de_final_project_spark.operators.asof import asof_join

    t = load_tables(spark, sf_dir, ("events",))
    e = t["events"]
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    # unique (user, ts) on the reference side for determinism
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .withColumn("click_ts", F.col("ts"))
    )
    joined = asof_join(
        purchases,
        clicks,
        key_col="user_id",
        left_ts="purchase_ts",
        right_ts="ts",
        payload_cols=["click_id", "click_ts"],
    )
    return joined.select(
        "user_id",
        "purchase_id",
        "purchase_ts",
        F.col("r_click_id").alias("click_id"),
        F.col("r_click_ts").alias("click_ts"),
        (epoch_us("purchase_ts") - epoch_us("r_click_ts")).alias(
            "gap_us"
        ),
    ).orderBy("user_id", "purchase_id")


def pivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (absent in the reference): per-user event-type count
    matrix. The value list is pinned so Spark skips the extra
    distinct-scan pass it otherwise needs to discover columns —
    at scale, pivot on an unpinned high-cardinality column is a bug,
    not a feature."""
    t = load_tables(spark, sf_dir, ("events",))
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        t["events"]
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
        .orderBy("user_id")
    )


def range_join_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bin-bucketed range join (operators/rangejoin.py): every event
    matched back into its session's [start, end) interval, recounted
    per session. Self-consistent with user_sessions' n_events — and
    oracle-checked against a plain BETWEEN join in DuckDB."""
    from aws_de_final_project_spark.operators.rangejoin import range_join
    from aws_de_final_project_spark.streaming.windows import session_stats

    t = load_tables(spark, sf_dir, ("events",))
    events = t["events"]
    sessions = session_stats(events, gap="30 minutes").select(
        "user_id", "session_start", "session_end"
    )
    points = events.select("user_id", "ts")
    joined = range_join(
        points,
        sessions,
        key_col="user_id",
        point_ts="ts",
        interval_start="session_start",
        interval_end="session_end",
        bin_minutes=60,
    )
    return (
        joined.groupBy("user_id", "session_start", "session_end")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id", "session_start")
    )


def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-writer-wins dedup (the re-delivery gap in SURVEY.md §2.10:
    Socrata re-sends updated rows keyed by ``updated_on``,
    ``get_data_api.py:10-13``, and the reference never dedups them).
    Spark-first fix: ranking window by event time, keep the newest
    row per key."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, ("events",))
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        t["events"]
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type")
        .orderBy("user_id")
    )


def _skew_probe_build(spark: SparkSession, sf_dir: str):
    """Shared fixture for the skew demo: events re-keyed so ~90% of
    rows land on one hot key (the planted pathology), plus a 150-row
    dimension too small to matter but HINTED off the broadcast path —
    the scenario where skew handling matters is a build side above
    the broadcast threshold, and the hint recreates that shape at
    test scale."""
    t = load_tables(spark, sf_dir, ("events",))
    probe = t["events"].select(
        "event_id",
        "value",
        F.when(F.col("event_id") % 10 != 0, F.lit(0))
        .otherwise(F.pmod(F.col("user_id"), F.lit(150)))
        .cast("long")
        .alias("k"),
    )
    build = (
        spark.range(150)
        .select(
            F.col("id").alias("k"),
            F.concat(F.lit("seg_"), (F.col("id") % 8).cast("string")).alias(
                "segment"
            ),
        )
        .hint("shuffle_hash")
    )
    return probe, build


def skew_plain_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unmitigated baseline: shuffle join on the hot key — one
    reducer receives ~90% of the probe side. AQE's skew-join split
    (on in session.py) repairs this at runtime for sort-merge plans;
    tests/test_skew.py pins that repair. Benched against
    skew_salted_join so BENCH records the cost split."""
    from aws_de_final_project_spark.functions.numeric import round_half_up as _rnd

    probe, build = _skew_probe_build(spark, sf_dir)
    return (
        probe.join(build, "k")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _rnd(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("segment")
    )


def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted form of skew_plain_join: the hot key spreads over 16
    salt buckets (operators/skew.py), at the price of 16x replication
    of the small build side. Result-identical to the plain join —
    same oracle SQL — because salting only changes the partitioning,
    never the matches."""
    from aws_de_final_project_spark.functions.numeric import round_half_up as _rnd
    from aws_de_final_project_spark.operators.skew import salted_join

    probe, build = _skew_probe_build(spark, sf_dir)
    return (
        salted_join(probe, build, "k", n_salts=16, salt_on="event_id")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _rnd(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("segment")
    )


def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): every grouping-set combination in
    one pass — one shuffle, the expansion happens inside the
    aggregate, not as four scans."""
    t = load_tables(spark, sf_dir, ("orders",))
    return (
        t["orders"]
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            rnd(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy(
            F.asc_nulls_first("o_orderstatus"),
            F.asc_nulls_first("o_orderpriority"),
        )
    )


def set_intersect_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) of two customer slices."""
    t = load_tables(spark, sf_dir, ("customer",))
    c = t["customer"]
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey", "c_name")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey", "c_name")
    return a.intersect(b).orderBy("c_custkey")


def set_except_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): BUILDING customers without a high balance."""
    t = load_tables(spark, sf_dir, ("customer",))
    c = t["customer"]
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey", "c_name")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey", "c_name")
    return a.exceptAll(b).distinct().orderBy("c_custkey")


def moving_avg_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 3-event moving average (ROWS BETWEEN frame) — the
    sliding-frame window family, distinct from the ranking windows."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, ("events",))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, 0)
    )
    return (
        t["events"]
        .select(
            "user_id",
            "event_id",
            "ts",
            rnd(F.avg("value").over(w), 4).alias("mavg3"),
        )
        .orderBy("user_id", "ts", "event_id")
    )


def median_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT interpolated percentiles per group (vs the sketch twin in
    sketch_event_stats): a full sort per group — correct, and the
    reason the HLL/KLL sketch path exists at 100 TB."""
    t = load_tables(spark, sf_dir, ("events",))
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            rnd(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            rnd(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


def grouping_sets_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form ROLLUP/CUBE sugar):
    per-status totals, per-priority totals, and the grand total in
    one aggregation pass — one shuffle, the set expansion happens
    inside the aggregate."""
    load_tables(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               (floor((sum(o_totalprice)) * 100.0D + 0.5D) / 100.0D) AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus ASC NULLS FIRST,
                 o_orderpriority ASC NULLS FIRST
        """
    )


def user_value_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2-style validity intervals from a change log: each event's
    value is valid from its own timestamp until the user's next event
    (NULL = current version). One window shuffle on user_id — the
    standard temporal-table build a warehouse does for dimension
    history, absent from the reference (its processed zone keeps every
    version forever with no validity bounds)."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, ("events",))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        t["events"]
        .select(
            "user_id",
            "event_id",
            "value",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            (F.lead("ts").over(w).isNull()).alias("is_current"),
        )
        .orderBy("user_id", "valid_from", "event_id")
    )


def corr_qty_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates per return flag: sample stddev of
    quantity, quantity/price correlation and sample covariance — the
    built-in one-pass JVM aggregates (no second scan, no UDF)."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            rnd(F.stddev_samp("l_quantity"), 4).alias("std_qty"),
            rnd(F.corr("l_quantity", "l_extendedprice"), 4).alias(
                "corr_qty_price"
            ),
            rnd(F.covar_samp("l_quantity", "l_discount"), 4).alias(
                "covar_qty_disc"
            ),
        )
        .orderBy("l_returnflag")
    )


def order_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE decile bucketing of orders by total price (unique
    o_orderkey tiebreak makes the ordering — hence the buckets —
    deterministic), then per-decile stats.

    Scale note: a global NTILE is a single-partition sort (Spark warns
    on the unpartitioned window) — acceptable for bounded reporting
    output, NOT for a 100 TB fact table; at scale, bucket by
    percentile boundaries instead (exact percentiles distribute —
    see median_value_by_type), trading exact equal-count buckets for
    a fully parallel plan."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, ("orders",))
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        t["orders"]
        .withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            rnd(F.min("o_totalprice"), 2).alias("min_price"),
            rnd(F.max("o_totalprice"), 2).alias("max_price"),
            rnd(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .orderBy("decile")
    )


def gap_fill_hourly_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling with forward fill: per user, build the
    dense hourly spine between their first and last event
    (``sequence`` + explode — no driver loop, no cross join with a
    global calendar) and carry the last observed hourly average across
    gap hours (``last(ignorenulls)`` running window).

    The spine explode is per-key bounded (a user's own time range) —
    at 100 TB the row count is sum of per-key spans, not keys x global
    calendar, and the fill is one window shuffle on user_id."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, ("events",))
    hourly = (
        t["events"]
        .filter(F.col("user_id") < 20)
        # NTZ cast: date_trunc upcasts to LTZ, which would localize
        # through the process tz at collect() (see hourly_event_stats)
        .groupBy(
            "user_id",
            F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("hour"),
        )
        .agg(rnd(F.avg("value"), 4).alias("v"))
    )
    spine = (
        hourly.groupBy("user_id")
        .agg(F.min("hour").alias("mn"), F.max("hour").alias("mx"))
        .select(
            "user_id",
            F.explode(
                F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("hour").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        spine.join(hourly, ["user_id", "hour"], "left")
        .select(
            "user_id",
            "hour",
            F.last("v", ignorenulls=True).over(w).alias("value_filled"),
            F.col("v").isNull().alias("is_gap"),
        )
        .orderBy("user_id", "hour")
    )


def full_outer_nation_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two aggregates with asymmetric key domains:
    customer counts per nation vs counts of well-capitalized suppliers
    (acctbal > 9000 — most nations drop off that side), coalesced to a
    dense activity report. Completes the join-type surface (inner /
    left / semi / anti are covered elsewhere). Both inputs are
    post-aggregation ~25-row relations — the outer join is broadcast-
    trivial at any corpus scale."""
    t = load_tables(spark, sf_dir, ("customer", "supplier", "nation"))
    cust = (
        t["customer"].groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    supp = (
        t["supplier"].filter(F.col("s_acctbal") > 9000)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_rich_suppliers"))
    )
    return (
        cust.join(supp, "nationkey", "full_outer")
        .join(
            F.broadcast(t["nation"]),
            F.col("nationkey") == F.col("n_nationkey"),
            "left",
        )
        .select(
            "nationkey",
            "n_name",
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_rich_suppliers", F.lit(0)).alias("n_rich_suppliers"),
        )
        .orderBy("nationkey")
    )


def above_customer_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-scalar-subquery semantics ("orders above this
    customer's own average") expressed as a window aggregate — one
    shuffle on the correlation key instead of a per-row subquery
    re-scan; the decorrelation every optimizer hopes to reach,
    written directly."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, ("orders",))
    w = Window.partitionBy("o_custkey")
    flagged = t["orders"].select(
        "o_custkey",
        "o_totalprice",
        (F.col("o_totalprice") > F.avg("o_totalprice").over(w)).alias("_above"),
    )
    return (
        flagged.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("_above").cast("int")).alias("n_above_avg"),
            rnd(F.avg("o_totalprice"), 2).alias("avg_price"),
        )
        .orderBy("o_custkey")
    )


def funnel_user_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step funnel (view -> click -> purchase) over the
    events stream: a user counts for step N only if the step-N event
    happened strictly AFTER their step-(N-1) entry time (first
    qualifying event each). Classic product-analytics query the
    reference's Athena views can't express without window gymnastics.

    Plan shape: three aggregates on user_id. After the first shuffle
    the grouping key is stable, so AQE/exchange-reuse keeps the later
    joins co-partitioned — no re-shuffle of the events scan per step.
    """
    t = load_tables(spark, sf_dir, ("events",))
    e = t["events"]
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        e.join(v, "user_id")
        .filter((F.col("event_type") == "click") & (F.col("ts") > F.col("v_ts")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        e.join(c, "user_id")
        .filter(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("c_ts"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    steps = [
        v.agg(F.lit("1_view").alias("step"), F.count(F.lit(1)).alias("users")),
        c.agg(F.lit("2_click").alias("step"), F.count(F.lit(1)).alias("users")),
        p.agg(
            F.lit("3_purchase").alias("step"), F.count(F.lit(1)).alias("users")
        ),
    ]
    out = steps[0]
    for s in steps[1:]:
        out = out.unionByName(s)
    return out.orderBy("step")


def lateral_top_orders_per_customer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LATERAL correlated subquery (Spark 4 SQL surface): each
    customer's top-2 orders by price via a per-row dependent subquery
    with ORDER BY ... LIMIT — the SQL-standard spelling of what the
    DataFrame API writes as a ranking window. Catalyst decorrelates
    it into a join + per-key limit; DuckDB runs the identical text.
    Literals carry the D suffix so the floor-form rounding stays
    DOUBLE (a bare 100.0 parses as DECIMAL in Spark SQL and would
    change the output type, not just its value)."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    t["customer"].createOrReplaceTempView("customer")
    t["orders"].createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey,
               (floor(t.o_totalprice * 100.0D + 0.5D) / 100.0D)
                   AS total_price
        FROM customer c,
        LATERAL (
            SELECT o_orderkey, o_totalprice
            FROM orders WHERE o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2
        ) t
        ORDER BY c.c_custkey, total_price DESC, t.o_orderkey
        """
    )


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — local supplier volume: revenue per nation
    from lineitems where the customer and supplier share a nation,
    restricted to one region and one order-date year. Six relations
    in one declarative plan; Catalyst/AQE pick the join order and
    broadcast the three dimension tables — the canonical multi-way
    join-reordering showcase. Date bound uses timestamp literals
    (o_orderdate is a NTZ timestamp in the fixtures)."""
    t = load_tables(
        spark, sf_dir,
        ("customer", "orders", "lineitem", "supplier", "nation", "region"),
    )
    j = (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            t["supplier"],
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(
            F.broadcast(t["nation"]),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(t["region"]),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .filter(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        )
    )
    return (
        j.groupBy("n_name")
        .agg(
            rnd(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


def weighted_median_price_by_flag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantity-weighted median extended price per return flag
    (functions/numeric.weighted_quantile_frame): exact weighted order
    statistic — a 40-unit line pulls the median 40x harder than a
    1-unit one. The picked value is provably invariant to
    accumulation order among tied values, so the window needs no
    engine-specific tiebreak."""
    from aws_de_final_project_spark.functions.numeric import (
        weighted_quantile_frame,
    )

    t = load_tables(spark, sf_dir, ("lineitem",))
    out = weighted_quantile_frame(
        t["lineitem"],
        "l_returnflag",
        "l_extendedprice",
        "l_quantity",
        0.5,
        alias="_wm",
    )
    return out.select(
        "l_returnflag", rnd(F.col("_wm"), 2).alias("weighted_median_price")
    ).orderBy("l_returnflag")


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-grain cohort retention matrix: users grouped by the DAY of
    their first event; for each (cohort_day, day_offset) cell, how
    many of that cohort's users were active offset days later, plus
    the retention rate against the cohort's size.

    Plan shape: one aggregate on user_id for the cohort assignment, a
    join back to events co-partitioned on user_id (AQE reuses the
    exchange), then one hash aggregate on the (cohort, offset) cell —
    distinct-user counting happens inside that aggregate, no window.
    Date math is on DATE values (NTZ-safe — no session-zone
    dependence)."""
    t = load_tables(spark, sf_dir, ("events",))
    e = t["events"].select(
        "user_id", F.to_date("ts").alias("event_day")
    )
    firsts = e.groupBy("user_id").agg(
        F.min("event_day").alias("cohort_day")
    )
    cohort_sizes = firsts.groupBy("cohort_day").agg(
        F.countDistinct("user_id").alias("cohort_users")
    )
    cells = (
        e.join(firsts, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("event_day"), F.col("cohort_day")).alias(
                "day_offset"
            ),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )
    return (
        cells.join(F.broadcast(cohort_sizes), "cohort_day")
        .select(
            "cohort_day",
            "day_offset",
            "active_users",
            rnd(
                F.col("active_users").cast("double")
                / F.col("cohort_users").cast("double"),
                4,
            ).alias("retention"),
        )
        .orderBy("cohort_day", "day_offset")
    )


def interval_coverage_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union length of overlapping intervals per user (sweep line as
    a window): each event opens an interval [ts, ts + value seconds];
    the covered time is the union, not the sum — the classic
    uptime/coverage computation.

    Relational sweep line: sort a user's intervals by start, take the
    running max of end over PRECEDING rows, and count only
    end - max(start, prev_max_end) when positive. The per-user total
    is invariant to tie order among equal starts (standard sweep-line
    property), so no engine-specific tiebreak leaks into results.
    All arithmetic is integer microseconds (epoch_us + floor) —
    exact, NTZ-safe. One shuffle on user_id.
    """
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, ("events",))
    e = t["events"].select(
        "user_id",
        epoch_us(F.col("ts")).alias("_s"),
        (
            epoch_us(F.col("ts"))
            + F.floor(F.col("value") * F.lit(1000000.0)).cast("long")
        ).alias("_e"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("_s", "_e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    swept = e.withColumn("_pme", F.max("_e").over(w))
    contrib = F.greatest(
        F.col("_e")
        - F.greatest(F.col("_s"), F.coalesce(F.col("_pme"), F.col("_s"))),
        F.lit(0),
    )
    return (
        swept.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum(contrib).alias("covered_us"),
        )
        .orderBy("user_id")
    )


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts and probabilities between
    consecutive event types per user (behavioral-sequence analytics):
    one lead window over (user, time) then a hash aggregate on the
    (from, to) pair; probabilities derive from a broadcast per-source
    total. Deterministic ordering via the (ts, event_id) tiebreak."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, ("events",))
    w = Window.partitionBy("user_id").orderBy(
        epoch_us(F.col("ts")), F.col("event_id")
    )
    pairs = (
        t["events"]
        .select(
            "user_id",
            F.col("event_type").alias("from_type"),
            "ts",
            "event_id",
        )
        .withColumn("to_type", F.lead("from_type").over(w))
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    totals = pairs.groupBy("from_type").agg(
        F.sum("n_transitions").alias("_tot")
    )
    return (
        pairs.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            rnd(
                F.col("n_transitions").cast("double")
                / F.col("_tot").cast("double"),
                4,
            ).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


def scd2_user_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension build from the events change log: per-user
    ``event_type`` state runs with ``[valid_from, valid_to)``
    intervals and an ``is_current`` flag (see
    ``operators/scd.py`` — the point-in-time answer to the
    reference's re-sent-row accumulation, SURVEY.md §2.10). One
    shuffle on user_id; both windows run inside that partition."""
    from aws_de_final_project_spark.operators.scd import scd2_from_changelog

    t = load_tables(spark, sf_dir, ("events",))
    return scd2_from_changelog(
        t["events"], "user_id", ["event_type"], "ts", "event_id"
    ).orderBy("user_id", "valid_from")


def seasonal_hourly_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline monitoring: per (event_type, hour-of-day)
    cell, the mean/stddev baseline and how many observations sit
    more than 3 sigma from it — the simplest seasonality-aware
    outlier screen (a flat global threshold would flag every nightly
    peak). One hash aggregate builds the baseline, a broadcast join
    re-attaches it, a second aggregate counts exceedances; the fact
    table is scanned twice but never shuffled on anything wider than
    the 24*|event_type| cell key. hour() over TIMESTAMP_NTZ is
    session-zone-independent (see functions/numeric.epoch_us notes)."""
    t = load_tables(spark, sf_dir, ("events",))
    cells = t["events"].select(
        "event_type", F.hour("ts").alias("hour_of_day"), "value"
    )
    base = cells.groupBy("event_type", "hour_of_day").agg(
        F.avg("value").alias("_mu"),
        F.stddev_samp("value").alias("_sd"),
        F.count(F.lit(1)).alias("n_obs"),
    )
    return (
        cells.join(F.broadcast(base), ["event_type", "hour_of_day"])
        .groupBy("event_type", "hour_of_day")
        .agg(
            F.max("n_obs").alias("n_obs"),
            rnd(F.max("_mu"), 4).alias("baseline_mean"),
            rnd(F.max("_sd"), 4).alias("baseline_sd"),
            # the exceedance test uses the ROUNDED baseline on both
            # engines: mu/sd are float aggregates whose summation
            # order differs across engines, and an unrounded 3-sigma
            # boundary could classify a borderline observation
            # differently per engine — the integer count has no
            # rounding of its own to absorb that
            F.sum(
                F.when(
                    F.abs(F.col("value") - rnd(F.col("_mu"), 4))
                    > 3.0 * rnd(F.col("_sd"), 4),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
        )
        .orderBy("event_type", "hour_of_day")
    )


def cdc_apply_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch CDC fold (operators/scd.cdc_apply): events replayed as a
    change stream — an ``error`` event tombstones the user's state,
    anything else upserts it. Output is the final surviving row per
    user (users whose newest event is an error disappear), i.e.
    last-writer-wins WITH deletes — the case latest_event_per_user
    and the streaming MERGE don't cover."""
    from aws_de_final_project_spark.operators.scd import cdc_apply

    t = load_tables(spark, sf_dir, ("events",))
    changes = t["events"].select(
        "user_id",
        "event_type",
        "value",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    return cdc_apply(
        changes, ["user_id"], "ts", "event_id", "op"
    ).orderBy("user_id")


def k_anonymity_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (operators/dq.k_anonymity) of the customer
    table under the (nation, market-segment) quasi-identifier pair:
    equivalence classes smaller than k=10 are re-identification
    risks. One hash aggregate on the quasi tuple."""
    from aws_de_final_project_spark.operators.dq import k_anonymity

    t = load_tables(spark, sf_dir, ("customer",))
    return k_anonymity(
        t["customer"], ["c_nationkey", "c_mktsegment"], k=10
    ).orderBy("class_size", "c_nationkey", "c_mktsegment")


def ema_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponential moving average of event values over the
    trailing 20 events (alpha=0.3, finite-window normalized — see
    functions/numeric.ema_from_window_list): the smoothing primitive
    behind rate/latency dashboards, computed as ONE ranking-window
    collect over the bounded frame + a higher-order fold. Shuffles
    once on user_id; the frame list is <= 20 doubles per row."""
    from pyspark.sql.window import Window

    from aws_de_final_project_spark.functions.numeric import (
        ema_from_window_list,
    )

    t = load_tables(spark, sf_dir, ("events",))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, 0)
    )
    return (
        t["events"]
        # NULL values must be excluded BEFORE the window: Spark's
        # collect_list silently drops NULLs while other engines'
        # windowed list() keeps them, so without this filter the two
        # frames would misalign on any nullable input (the fixture
        # has no NULL values; this pins the contract rather than
        # relying on that)
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            "event_id",
            "ts",
            F.collect_list("value").over(w).alias("_frame"),
        )
        .select(
            "user_id",
            "event_id",
            "ts",
            rnd(ema_from_window_list(F.col("_frame"), 0.3), 4).alias(
                "ema_value"
            ),
        )
        .orderBy("user_id", "ts", "event_id")
    )


def state_diff_user_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time state diff: the SCD2 dimension built from events
    is read as of Jan 10 and Jan 20 and keyed-diffed
    (operators/scd.table_diff) — which users appeared, disappeared
    (no state yet at T1), or changed event-type state between the two
    instants. The audit query a snapshotted state table exists to
    answer; composition of two individually-oracled operators, pinned
    end-to-end."""
    from aws_de_final_project_spark.operators.scd import (
        scd2_from_changelog,
        scd2_point_in_time,
        table_diff,
    )

    t = load_tables(spark, sf_dir, ("events",))
    dim = cut(
        scd2_from_changelog(
            t["events"], "user_id", ["event_type"], "ts", "event_id"
        )
    )
    t1 = scd2_point_in_time(dim, "2024-01-10 00:00:00").select(
        "user_id", "event_type"
    )
    t2 = scd2_point_in_time(dim, "2024-01-20 00:00:00").select(
        "user_id", "event_type"
    )
    return table_diff(
        t1, t2, ["user_id"], ["event_type"]
    ).orderBy("user_id")


def profile_orders_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan column profile of the orders table
    (operators/dq.profile_table): row/null/exact-distinct counts and
    type-normalized min/max per column — the single Expand-aggregate
    shape, no per-column jobs."""
    from aws_de_final_project_spark.operators.dq import profile_table
    from aws_de_final_project_spark.operators.util import spread

    t = load_tables(spark, sf_dir, ("orders",))
    # 1-file scan = 1 task: the Expand-aggregate multiplies every row
    # by the column count before aggregating — parallelize it
    return profile_table(spread(t["orders"])).orderBy("column_name")


def chi2_event_type_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test between event_type and
    hour-of-day — 'is traffic mix time-of-day dependent?', the
    categorical complement of corr_qty_price_by_flag. The full
    contingency grid (including zero cells, which still contribute
    their expectation) is built by cross-joining the two tiny margin
    frames and left-joining observed counts; everything after the one
    cell aggregate is broadcast-sized."""
    t = load_tables(spark, sf_dir, ("events",))
    cells = (
        t["events"]
        .select("event_type", F.hour("ts").alias("hr"))
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    rows = cells.groupBy("event_type").agg(F.sum("o").alias("rt"))
    colsm = cells.groupBy("hr").agg(F.sum("o").alias("ct"))
    n = cells.agg(F.sum("o").alias("n"))
    grid = (
        rows.crossJoin(colsm)
        .join(cells, ["event_type", "hr"], "left")
        .select(
            "event_type",
            "hr",
            F.coalesce("o", F.lit(0)).alias("o"),
            "rt",
            "ct",
        )
        .crossJoin(F.broadcast(n))
    )
    e = F.col("rt") * F.col("ct") / F.col("n")
    term = (F.col("o") - e) * (F.col("o") - e) / e
    return (
        grid.agg(
            rnd(F.sum(term), 4).alias("chi2"),
            (
                (F.countDistinct("event_type") - 1)
                * (F.countDistinct("hr") - 1)
            ).cast("long").alias("dof"),
        )
    )


def max_event_gap_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness/continuity monitor: each user's largest silence
    between consecutive events (microseconds, exact integer) plus
    event count — the per-key heartbeat check behind 'did ingestion
    stall for anyone?'. One lag window inside the user partition."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, ("events",))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = t["events"].select(
        "user_id",
        (
            epoch_us(F.col("ts"))
            - epoch_us(F.lag("ts").over(w))
        ).alias("_gap"),
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            F.max("_gap").alias("max_gap_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


def topk_orders_per_customer_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer top-3 orders by price — computed as an AGGREGATE
    (collect_list -> sort_array -> slice -> explode), not a ranking
    window. Same semantics as the window form (deterministic
    (price desc, orderkey) order), different physical plan: the
    aggregate path gets map-side partial combine, so shuffle rows are
    per-customer partial top-lists instead of EVERY order row that a
    row_number() window must sort within its partition. For small k
    over high-cardinality keys this is the plan you want at 100 TB;
    the DuckDB oracle is the window form, so equality pins the two
    shapes to identical semantics. The unbounded collect_list is
    bounded in practice by orders-per-customer; for heavy keys the
    two-stage variant (pre-slice per partition via the same aggregate
    run twice) caps partial-list size."""
    t = load_tables(spark, sf_dir, ("orders",))
    k = 3
    top = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            (-F.col("o_totalprice")).alias("_negp"),
                            F.col("o_orderkey").alias("_ok"),
                        )
                    )
                ),
                1,
                k,
            ).alias("_top")
        )
        .select(
            "o_custkey",
            F.posexplode("_top").alias("_i", "_t"),
        )
        .select(
            "o_custkey",
            F.col("_t._ok").alias("o_orderkey"),
            (-F.col("_t._negp")).alias("o_totalprice"),
            (F.col("_i") + 1).cast("long").alias("rank"),
        )
    )
    return top.orderBy("o_custkey", "rank")


def latency_quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLA-style report: exact p50/p95/p99 of value per event_type
    from ONE percentile-array aggregate (a single shuffle on the
    5-value group key; the array form computes all three quantiles in
    one pass instead of three separate sorts). Exact interpolated
    percentiles match DuckDB's quantile_cont definition; 4dp
    floor-form rounding on output."""
    t = load_tables(spark, sf_dir, ("events",))
    q = (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.percentile(
                "value", F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99))
            ).alias("_q"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    return q.select(
        "event_type",
        "n_events",
        rnd(F.col("_q")[0], 4).alias("p50"),
        rnd(F.col("_q")[1], 4).alias("p95"),
        rnd(F.col("_q")[2], 4).alias("p99"),
    ).orderBy("event_type")
