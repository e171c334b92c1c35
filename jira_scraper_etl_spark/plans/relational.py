"""Relational query surface: aggregations, joins, windows, sorts, set ops.

The reference has no relational layer (SURVEY.md §2.3/§2.5 mark joins and
windows ABSENT), but the engine's correctness harness exercises a
TPC-H-ish star schema — these plans cover SURVEY.md §2.3 J2–J4, §2.4
A1–A6, §2.5 windows, §2.6 sorts/limits and §2.7 set ops with idiomatic,
shuffle-conscious Spark:

* join sides follow the broadcast rule in ``session.py``: region and
  nation broadcast at any scale factor, SF-linear tables under 32 MB;
* aggregations are plain ``groupBy`` so Catalyst plans partial (map-side)
  + final hash aggregation;
* top-k is ``orderBy().limit(k)`` which Spark plans as
  TakeOrderedAndProject (per-partition heap + driver merge, no global sort).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import load_events, load_table
from .registry import (register, money, dsum, o_dsum, davg, o_davg,
                       lsum, o_lsum, one_minus_rate, one_plus_rate)


# ---------------------------------------------------------------------------
# Aggregations (SURVEY.md §2.4 A1–A6)
# ---------------------------------------------------------------------------

@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           {sum_qty}, {sum_base_price}, {sum_disc_price}, {sum_charge},
           {avg_qty}, {avg_price}, {avg_disc},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """.format(
        sum_qty=o_dsum("l_quantity", "sum_qty"),
        sum_base_price=o_dsum("l_extendedprice", "sum_base_price"),
        # rate factors bounded to DECIMAL(3,2) on BOTH sides so the
        # product chain stays exact (see registry.one_minus_rate)
        # VARCHAR-mediated double cast: see registry.o_dsum
        sum_disc_price=(
            "CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))"
            " * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))"
            " AS VARCHAR) AS DOUBLE) AS sum_disc_price"),
        sum_charge=(
            "CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))"
            " * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))"
            " * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2))))"
            " AS VARCHAR) AS DOUBLE) AS sum_charge"),
        avg_qty=o_davg("l_quantity", "avg_qty"),
        avg_price=o_davg("l_extendedprice", "avg_price"),
        avg_disc=o_davg("l_discount", "avg_disc"),
    ),
    tags=("agg", "flagship"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1 pricing summary (partial+final hash agg, one shuffle).

    SURVEY.md §7.1 flagship shape; exercises A2/A3/A6 grouped aggregation.
    All money math in exact DECIMAL so the result is order-independent
    (bit-identical across engines and partitionings).
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = money("l_extendedprice") * one_minus_rate("l_discount")
    charge = disc_price * one_plus_rate("l_tax")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "agg_orders_by_priority",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           {total_price},
           CAST(COUNT(*) FILTER (WHERE o_totalprice > 100000) AS BIGINT) AS n_big,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders
    GROUP BY o_orderpriority
    """.format(total_price=o_dsum("o_totalprice", "total_price")),
    tags=("agg",),
)
def agg_orders_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 count-per-group + A3 conditional count + A5 distinct, one pass."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", "total_price"),
        F.count_if(F.col("o_totalprice") > 100000).alias("n_big"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


@register(
    "agg_running_max_per_group",
    oracle="""
    SELECT o_orderstatus,
           MAX(o_orderdate) AS latest_order,
           MIN(o_orderdate) AS first_order,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("agg",),
)
def agg_running_max_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: the reference's running MAX(updated) (extract.py:348-351) as
    a grouped max/min over real timestamps instead of string compares."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.max("o_orderdate").alias("latest_order"),
        F.min("o_orderdate").alias("first_order"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_distinct_segments",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
    tags=("agg",),
)
def agg_distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 relational DISTINCT (hash-agg based dedup)."""
    return load_table(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


@register(
    "agg_cube_flag_status",
    oracle="""
    SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
           COALESCE(l_linestatus, '<all>') AS linestatus,
           COUNT(*) AS n, {qty}
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """.format(qty=o_dsum("l_quantity", "qty")),
    tags=("agg",),
)
def agg_cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 grouping-set family: CUBE with COALESCE'd subtotal markers.

    COALESCE markers (not raw NULLs) so the hash compare cannot confuse
    a subtotal row with a genuinely-null group key.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), dsum("l_quantity", "qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("linestatus"),
            "n", "qty",
        )
    )


@register(
    "agg_rollup_year_status",
    oracle="""
    SELECT COALESCE(CAST(EXTRACT(YEAR FROM o_orderdate) AS VARCHAR), '<all>') AS order_year,
           COALESCE(o_orderstatus, '<all>') AS status,
           COUNT(*) AS n, {rev}
    FROM orders
    GROUP BY ROLLUP (EXTRACT(YEAR FROM o_orderdate), o_orderstatus)
    """.format(rev=o_dsum("o_totalprice", "rev")),
    tags=("agg",),
)
def agg_rollup_year_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: ROLLUP hierarchy year → status with subtotal markers."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.withColumn("order_year_i", F.year("o_orderdate"))
        .rollup("order_year_i", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "rev"))
        .select(
            F.coalesce(F.col("order_year_i").cast("string"), F.lit("<all>")).alias("order_year"),
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("status"),
            "n", "rev",
        )
    )


@register(
    "agg_exact_count_distinct",
    oracle="""
    SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
    FROM lineitem
    """,
    tags=("agg",),
)
def agg_exact_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 exact multi-column COUNT DISTINCT (expand + two-phase agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@register("agg_approx_count_distinct", oracle=None, tags=("agg", "approx"))
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 approx_count_distinct (HLL++). No oracle — sketch estimates are
    engine-specific; the driver records a rows-only check. At 100 TB this
    replaces exact distinct wherever a ±2% answer is acceptable (no expand,
    map-side mergeable sketch)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
    )


# ---------------------------------------------------------------------------
# Joins (SURVEY.md §2.3 J2–J4)
# ---------------------------------------------------------------------------

@register(
    "join_revenue_by_nation",
    oracle="""
    SELECT n.n_name AS nation, r.r_name AS region,
           {rev}, COUNT(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY n.n_name, r.r_name
    """.format(rev=o_dsum("o.o_totalprice", "rev")),
    tags=("join",),
)
def join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 multi-way equi join: fact ⋈ dims, with no join hints.

    nation (25 rows) and region (5 rows) broadcast from their file
    statistics at any SF. customer grows linearly with SF (~SF·150k
    rows — GBs at SF100), so AQE broadcasts it under the threshold and
    sort-merges above it; a forced broadcast OOMs at 100 TB.
    """
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(n.n_name.alias("nation"), r.r_name.alias("region"))
        .agg(dsum("o_totalprice", "rev"), F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "join_semi_customers_with_big_orders",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
    tags=("join",),
)
def join_semi_customers_with_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 left-semi join (EXISTS): customers holding a >300k order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


@register(
    "join_anti_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("join",),
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 left-anti join (NOT EXISTS): customers with no orders at all."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "join_left_outer_order_counts",
    oracle="""
    SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
    tags=("join",),
)
def join_left_outer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 left-outer join preserving order-less customers (count = 0)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "join_full_outer_entity_activity",
    oracle="""
    WITH ev AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
                FROM events GROUP BY user_id)
    SELECT COALESCE(c.c_custkey, e.user_id) AS entity_id,
           c.c_custkey IS NOT NULL AS is_customer,
           COALESCE(e.n, 0) AS n_events
    FROM customer c FULL JOIN ev e ON c.c_custkey = e.user_id
    """,
    tags=("join",),
)
def join_full_outer_entity_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 full-outer join: reconcile two entity universes (registered
    customers vs event actors), keeping rows present on either side —
    the master-data reconciliation shape. Events are pre-aggregated per
    user BEFORE the join so the outer join touches one row per entity;
    a full outer can never broadcast (both sides must be preserved), so
    Spark plans a sort-merge join on the key — correct and keyed at any
    scale.
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    ev = (load_events(spark, sf_dir).groupBy("user_id")
          .agg(F.count(F.lit(1)).alias("n")))
    return (
        c.join(ev, c.c_custkey == ev.user_id, "full")
        .select(
            F.coalesce("c_custkey", "user_id").alias("entity_id"),
            F.col("c_custkey").isNotNull().alias("is_customer"),
            F.coalesce("n", F.lit(0)).alias("n_events"),
        )
    )


@register(
    "join_range_price_bands",
    oracle="""
    WITH bands(band, lo, hi) AS (
        VALUES ('small', 0.0, 50000.0), ('medium', 50000.0, 200000.0),
               ('large', 200000.0, 1000000.0)
    )
    SELECT b.band AS band, COUNT(*) AS n, {rev}
    FROM orders o JOIN bands b ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """.format(rev=o_dsum("o.o_totalprice", "rev")),
    tags=("join",),
)
def join_range_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 theta/range join against a tiny broadcast band table.

    A non-equi join is only scalable when the small side broadcasts
    (otherwise Spark falls back to BNLJ over shuffled partitions);
    bands is 3 rows so the fact side streams map-side only.
    """
    o = load_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [("small", 0.0, 50000.0), ("medium", 50000.0, 200000.0),
         ("large", 200000.0, 1000000.0)],
        "band string, lo double, hi double",
    )
    return (
        o.join(F.broadcast(bands),  # a Python list: Catalyst can't size it
               (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi))
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "rev"))
    )


@register(
    "join_asof_last_event_before_order",
    oracle="""
    SELECT o_orderkey, ev.event_id AS event_id, ev.event_type AS event_type
    FROM (SELECT o_orderkey, o_custkey, o_orderdate FROM orders
          WHERE o_custkey <= 100) o
    LEFT JOIN LATERAL (
        SELECT event_id, event_type FROM events e
        WHERE e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
        ORDER BY e.ts DESC, e.event_id DESC LIMIT 1
    ) ev ON TRUE
    """,
    tags=("join", "asof"),
)
def join_asof_last_event_before_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 as-of join: latest event at-or-before each order date per user.

    Implemented as equi-join on the key + window rank over event time —
    the shuffle is on the join key only (no range explosion), which is
    the scalable formulation when the right side has bounded rows per
    key. Ties broken by event_id for determinism.
    """
    o = (load_table(spark, sf_dir, "orders")
         .where(F.col("o_custkey") <= 100)
         .select("o_orderkey", "o_custkey", "o_orderdate"))
    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    joined = o.join(e, (o.o_custkey == e.user_id) & (e.ts <= o.o_orderdate), "left")
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_orderkey", "event_id", "event_type")
    )


# ---------------------------------------------------------------------------
# Window functions (SURVEY.md §2.5)
# ---------------------------------------------------------------------------

@register(
    "window_top3_orders_per_customer",
    oracle="""
    SELECT c_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
    FROM (
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY c.c_custkey
                                  ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ) t WHERE rn <= 3
    """,
    tags=("window",),
)
def window_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 row_number: per-group top-k without a global sort."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
    )


@register(
    "window_rank_lag_orders",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(RANK() OVER w AS INTEGER) AS rk,
           LAG(o_orderkey) OVER w AS prev_orderkey,
           LEAD(o_orderkey) OVER w AS next_orderkey
    FROM orders
    WHERE o_custkey <= 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("window",),
)
def window_rank_lag_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 rank/lag/lead analytics over an event sequence per customer."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") <= 200)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey", "o_custkey",
        F.rank().over(w).alias("rk"),
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
    )


@register(
    "window_running_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_rev
    FROM orders WHERE o_custkey <= 200
    """,
    tags=("window",),
)
def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 running frame (rowsBetween) — exact decimal running sum."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") <= 200)
    w = (Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return o.select(
        "o_custkey", "o_orderkey",
        F.sum(money("o_totalprice")).over(w).cast("double").alias("running_rev"),
    )


@register(
    "window_ntile_distribution",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume
    FROM orders
    WHERE o_custkey <= 200
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
    tags=("window",),
)
def window_ntile_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 distribution window functions: ntile / percent_rank / cume_dist.

    The order-by includes the unique o_orderkey as a tiebreaker — ntile
    assignment at a tie boundary is otherwise partition-order-dependent
    and would not reproduce across engines. percent_rank and cume_dist
    are rank arithmetic ((rank-1)/(n-1), rank/n) on exact integers, so
    the doubles are bit-identical cross-engine.

    Scale note: a window partitioned by a low-cardinality key (5
    priorities) is a per-key global sort — fine here because the input
    is pre-filtered to a bounded slice, but at 100 TB distribution
    statistics over huge groups should use the mergeable sketch path
    instead (approx_percentile, see text_length_percentiles).
    """
    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") <= 200)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey", "o_orderpriority",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "window_first_last_orders",
    oracle="""
    SELECT o_orderkey, o_custkey,
           FIRST_VALUE(o_totalprice) OVER w AS first_price,
           LAST_VALUE(o_totalprice) OVER w AS last_price,
           NTH_VALUE(o_totalprice, 2) OVER w AS second_price
    FROM orders
    WHERE o_custkey <= 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    tags=("window",),
)
def window_first_last_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 navigation functions: first/last/nth order value per
    customer history. The frame is pinned to the FULL partition —
    last_value over the default frame (up to CURRENT ROW) is the
    classic silent-wrong-answer; making the frame explicit gives the
    same well-defined result in every engine. One shuffle on o_custkey.
    """
    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") <= 200)
    w = (Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    return o.select(
        "o_orderkey", "o_custkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


# ---------------------------------------------------------------------------
# Sorts / limits / top-k (SURVEY.md §2.6)
# ---------------------------------------------------------------------------

@register(
    "topk_expensive_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    tags=("sort",),
)
def topk_expensive_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 top-k: Spark plans TakeOrderedAndProject (heap per partition +
    driver merge — no global shuffle sort even at 100 TB)."""
    o = load_table(spark, sf_dir, "orders")
    return (o.select("o_orderkey", "o_custkey", "o_totalprice")
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")).limit(10))


# ---------------------------------------------------------------------------
# Set operations (SURVEY.md §2.7)
# ---------------------------------------------------------------------------

@register(
    "setop_union_segments",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 350000
    """,
    tags=("setop",),
)
def setop_union_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 UNION (distinct) of two key sets."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    a = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = o.where(F.col("o_totalprice") > 350000).select(F.col("o_custkey").alias("c_custkey"))
    return a.union(b).distinct()


@register(
    "setop_intersect_buyers",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    tags=("setop",),
)
def setop_intersect_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 INTERSECT: customers appearing in both order-status sets."""
    o = load_table(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    b = o.where(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    return a.intersect(b)


@register(
    "setop_except_never_priority",
    oracle="""
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    tags=("setop",),
)
def setop_except_never_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 EXCEPT: customers with no urgent orders."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = (load_table(spark, sf_dir, "orders")
         .where(F.col("o_orderpriority") == "1-URGENT")
         .select(F.col("o_custkey").alias("c_custkey")))
    return c.subtract(o)  # EXCEPT DISTINCT semantics


# ---------------------------------------------------------------------------
# Filters / projections (SURVEY.md §2.2)
# ---------------------------------------------------------------------------

@register(
    "filter_project_shipped_window",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-03-01'
      AND l_returnflag = 'R' AND l_quantity >= 25
    """,
    tags=("filter",),
)
def filter_project_shipped_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/P4-style predicate + projection; filters and the 4-column
    ReadSchema push into the parquet scan (verified via .explain)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-03-01").cast("timestamp_ntz"))
            & (F.col("l_returnflag") == "R")
            & (F.col("l_quantity") >= 25)
        )
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT COALESCE(o_orderpriority, '<all>') AS priority,
           COALESCE(o_orderstatus, '<all>') AS status,
           COUNT(*) AS n, {rev}
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """.format(rev=o_dsum("o_totalprice", "rev")),
    tags=("agg",),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 grouping-set family: explicit GROUPING SETS — per-priority
    totals, per-status totals, and the grand total in ONE aggregation
    pass (Catalyst expands to a single shuffle with a grouping-id
    column, not three scans). COALESCE markers as in agg_cube."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupingSets([["o_orderpriority"], ["o_orderstatus"], []],
                       "o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "rev"))
        .select(
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("status"),
            "n", "rev",
        )
    )


# ---------------------------------------------------------------------------
# Ordered-set / string aggregates (round-9 verdict #4): LISTAGG, MODE,
# PERCENTILE_DISC — the everyday warehouse surface the registry lacked.
# ---------------------------------------------------------------------------

@register(
    "agg_listagg_rich_customers",
    oracle="""
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_rich,
           STRING_AGG(c_name, ',' ORDER BY c_name) AS names
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > 9900
    GROUP BY n_name
    """,
    tags=("agg", "ordered-set"),
)
def agg_listagg_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG / STRING_AGG with a pinned order: per nation, the
    comma-joined ascending list of top-balance customer names.

    Spark has no ordered string_agg; the deterministic spelling is
    ``array_join(array_sort(collect_list(...)))`` — collect_list order
    is partition-arrival nondeterministic, so the sort INSIDE the
    aggregate row is what makes the result reproducible (and equal to
    DuckDB's ``STRING_AGG(... ORDER BY ...)``; both compare strings as
    binary ASCII here). Scale shape: the filter prunes to the rare
    tail BEFORE the shuffle, the nation dim broadcasts unhinted, and the
    per-group list is bounded by the filter's selectivity — an
    ordered-set aggregate over an unfiltered 100 TB column would
    instead go through the sort-based spill path (collect_list spills;
    the join stays the same)."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9900)
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_rich"),
             F.array_join(F.array_sort(F.collect_list("c_name")), ",")
             .alias("names"))
    )


@register(
    "agg_mode_priority_by_status",
    oracle="""
    WITH c AS (
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
        FROM orders GROUP BY o_orderstatus, o_orderpriority
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                  ORDER BY cnt DESC, o_orderpriority) AS rn
        FROM c
    )
    SELECT o_orderstatus, o_orderpriority AS mode_priority,
           CAST(cnt AS BIGINT) AS mode_count
    FROM r WHERE rn = 1
    """,
    tags=("agg", "ordered-set"),
)
def agg_mode_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODE(): the most frequent order priority per status, ties broken
    to the lexicographically smallest value (SQL's MODE() leaves ties
    unspecified — pinning the tie-break is what makes the entry
    oracle-exact).

    Plan: two map-side-combined hash aggregations and NO window — the
    election is ``min(struct(-cnt, priority))``, so the second pass
    reduces each status to one 2-field struct (the argmin trick:
    smallest negated count = highest count, then smallest priority).
    At 100 TB both shuffles carry only (status × priority) distinct
    rows; contrast the ROW_NUMBER spelling, which would sort. The
    oracle states the same semantics relationally."""
    o = load_table(spark, sf_dir, "orders")
    cnt = (o.groupBy("o_orderstatus", "o_orderpriority")
           .agg(F.count(F.lit(1)).alias("cnt")))
    m = (cnt.groupBy("o_orderstatus")
         .agg(F.min(F.struct((-F.col("cnt")).alias("negc"),
                             F.col("o_orderpriority").alias("p"))).alias("m")))
    return m.select(
        "o_orderstatus",
        F.col("m.p").alias("mode_priority"),
        (-F.col("m.negc")).cast("long").alias("mode_count"))


@register(
    "agg_percentile_disc_price",
    oracle="""
    WITH r AS (
        SELECT o_orderpriority, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey) AS rn,
               COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders
    )
    SELECT o_orderpriority,
           CAST(MAX(n) AS BIGINT) AS n,
           MIN(CASE WHEN rn = (n + 3) // 4 THEN o_totalprice END) AS p25,
           MIN(CASE WHEN rn = (n + 1) // 2 THEN o_totalprice END) AS p50,
           MIN(CASE WHEN rn = (3 * n + 3) // 4 THEN o_totalprice END) AS p75
    FROM r GROUP BY o_orderpriority
    """,
    tags=("agg", "ordered-set"),
)
def agg_percentile_disc_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENTILE_DISC(0.25/0.5/0.75): exact discrete order statistics
    of order value per priority — the value at 1-indexed rank
    ⌈q·n⌉ in ascending order (⌈n/4⌉ = (n+3)//4 etc., pure integer
    arithmetic; the selected value is an existing double COPIED, never
    interpolated, so there is no float computation to drift
    cross-engine — the events_winsorize_p1_p99 machinery generalized
    to the ordered-set-aggregate surface).

    The per-group sort is the same low-cardinality window hazard as
    winsorize, with the same 100 TB answer: swap to approx_percentile
    sketch partials (events_winsorize_approx precedent) once a group
    stops fitting a partition; the selection agg is unchanged."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice",
                                                      "o_orderkey")
    wn = Window.partitionBy("o_orderpriority")
    r = o.select(
        "o_orderpriority", "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"))
    return (
        r.groupBy("o_orderpriority")
        .agg(F.max("n").cast("long").alias("n"),
             F.min(F.when(F.col("rn") == F.expr("(n + 3) div 4"),
                          F.col("o_totalprice"))).alias("p25"),
             F.min(F.when(F.col("rn") == F.expr("(n + 1) div 2"),
                          F.col("o_totalprice"))).alias("p50"),
             F.min(F.when(F.col("rn") == F.expr("(3 * n + 3) div 4"),
                          F.col("o_totalprice"))).alias("p75"))
    )


@register(
    "window_relative_rank_stats",
    oracle="""
    SELECT o_orderkey, o_custkey,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd,
           nth_value(o_totalprice, 2) OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    """,
    tags=("window",),
)
def window_relative_rank_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 relative-rank analytics: percent_rank, cume_dist and
    nth_value per customer — the remaining ranking-family trio.
    Determinism: the window order is (totalprice, orderkey), a total
    order, so ranks are unique; percent_rank = (rank−1)/(n−1) and
    cume_dist = rank/n are single IEEE divisions of exact small
    integers, bit-identical cross-engine. nth_value needs the full
    unbounded frame in BOTH engines (its default frame differs between
    them — Spark's ends at CURRENT ROW, which nulls the second value
    for the first row of every partition). One window sort serves all
    three functions (same partition + order), so the plan is one
    exchange + one sort."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey", "o_custkey",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.nth_value("o_totalprice", 2).over(wf).alias("second_price"),
    )


@register(
    "agg_boolean_aggregates",
    oracle="""
    SELECT o_orderstatus,
           BOOL_AND(o_totalprice > 1000) AS all_over_1k,
           BOOL_OR(o_orderpriority = '1-URGENT') AS any_urgent,
           CAST(COUNT(*) FILTER (WHERE o_totalprice > 300000) AS BIGINT)
             AS n_big,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("agg",),
)
def agg_boolean_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 boolean aggregates: BOOL_AND / BOOL_OR (every/any) per
    group plus a filtered count — the predicate-summary surface every
    data-quality query leans on. All map-side combined (booleans fold
    to one byte of partial state per group)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
        F.count_if(F.col("o_totalprice") > 300000).alias("n_big"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# Linear-regression aggregates (the REGR_* family), bit-identical
# ---------------------------------------------------------------------------

@register(
    "agg_regression_price_qty",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_obs,
               CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)) AS DECIMAL(38,0)) AS sx,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS DECIMAL(38,0)) AS sy,
               SUM(CAST(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)
                        * CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS DECIMAL(38,0))) AS sxx,
               SUM(CAST(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)
                        * CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS DECIMAL(38,0))) AS sxy,
               SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                        * CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS DECIMAL(38,0))) AS syy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n_obs,
           CAST(n_obs * sxy - sx * sy AS DOUBLE)
             / CAST(n_obs * sxx - sx * sx AS DOUBLE) AS slope,
           (CAST(sy AS DOUBLE) / 100.0
              - (CAST(n_obs * sxy - sx * sy AS DOUBLE)
                 / CAST(n_obs * sxx - sx * sx AS DOUBLE))
                * (CAST(sx AS DOUBLE) / 100.0)) / CAST(n_obs AS DOUBLE)
             AS intercept,
           CAST(n_obs * sxy - sx * sy AS DOUBLE)
             / SQRT(CAST(n_obs * sxx - sx * sx AS DOUBLE)
                    * CAST(n_obs * syy - sy * sy AS DOUBLE)) AS corr_r
    FROM s
    """,
    tags=("agg", "stats"),
)
def agg_regression_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGR_SLOPE / REGR_INTERCEPT / CORR per return flag — the
    warehouse linear-regression aggregate family, computed so both
    engines produce BIT-IDENTICAL doubles (naive REGR_*/CORR would
    drift: float partial sums are order-dependent under Spark's
    parallel aggregation). The trick is the exact-moment pattern from
    the corr-matrix entry, specialized to the two-pass-free single
    aggregation: quantities/prices become integer CENTS (exact for
    2-decimal money), the five moment sums accumulate as
    DECIMAL(38,0) (per-row products fit int64, corpus sums don't), the
    covariance/variance COMBINATIONS n*Sxy - Sx*Sy stay in exact
    decimal arithmetic (magnitudes ~1e26 at sf1, well under the 38-
    digit cap), and only the final ratios run in IEEE doubles with an
    op order mirrored token-for-token in the oracle. Scaling by cents
    cancels in slope/corr (both axes scale by 100); the intercept
    divides back out explicitly.

    Scale shape: ONE map-side-combined aggregation to |returnflag|
    rows — the moments are algebraic (mergeable partials), exactly how
    a 1000-executor cluster computes regression over 100 TB without a
    second pass or a shuffle of anything but 6 numbers per flag."""
    l = load_table(spark, sf_dir, "lineitem")
    xc = (F.col("l_quantity").cast("decimal(12,2)") * 100).cast("long")
    yc = (F.col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long")
    d38 = "decimal(38,0)"
    s = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(xc).cast(d38).alias("sx"),
        F.sum(yc).cast(d38).alias("sy"),
        F.sum((xc * xc).cast(d38)).alias("sxx"),
        F.sum((xc * yc).cast(d38)).alias("sxy"),
        F.sum((yc * yc).cast(d38)).alias("syy"),
    )
    n = F.col("n_obs")
    cov = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    varx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vary = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = cov / varx
    return s.select(
        "l_returnflag", "n_obs",
        slope.alias("slope"),
        ((F.col("sy").cast("double") / 100.0
          - slope * (F.col("sx").cast("double") / 100.0)) / n.cast("double")
         ).alias("intercept"),
        (cov / F.sqrt(varx * vary)).alias("corr_r"),
    )
