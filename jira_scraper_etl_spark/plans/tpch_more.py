"""The remaining TPC-H query classes (Q6–Q12, Q14, Q16), completing the
22-query suite alongside relational.py's Q1 and warehouse_ops.py's
Q2/Q3/Q4/Q5/Q13/Q15/Q17/Q18/Q19/Q20/Q21/Q22.

Schema adaptations (this dataset has no partsupp table and lineitem
carries only l_shipdate — no commitdate/receiptdate/shipmode):

* Q9  — supply cost proxied by ``p_retailprice * l_quantity`` (the
  part↔cost link the schema does provide), keeping the class: a
  6-table join whose aggregate groups by a DERIVED pair
  (nation, year) computed from two different branches of the tree.
* Q11 — lineitem is the part↔supplier link (the q2_min_cost_supplier
  adaptation); the class kept is GROUP BY + HAVING against an
  UNCORRELATED scalar subquery over the same filtered tree.
* Q12 — shipmode/receipt-lateness replaced by shipping-delay buckets
  derived from ``l_shipdate - o_orderdate``; the class kept is a
  fact⨝fact join grouped by a computed dimension with conditional
  (CASE) counts.
* Q16 — supplier "complaints" exclusion becomes ``s_acctbal < 0``
  (the only supplier attribute with a natural bad-standing slice);
  the class kept is NOT IN (null-aware anti join) + COUNT(DISTINCT)
  over a triple group-by.

Cross-engine exactness follows the registry rules (registry.py module
docstring): money through exact DECIMAL chains, AVG as SUM/COUNT,
every float expression a fixed scalar op sequence over
correctly-rounded inputs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from .registry import RATE, lsum, money, o_lsum, one_minus_rate, register
from .warehouse_ops import _register_tpch_views

# ---------------------------------------------------------------------------
# Q6: forecasting revenue change — the pure scan-aggregate
# ---------------------------------------------------------------------------


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                          * CAST(l_discount AS DECIMAL(3,2)))
                AS VARCHAR) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND CAST(l_discount AS DECIMAL(3,2)) BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("agg", "scan"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): discount revenue that a
    policy change would forfeit — one year of shipments, a narrow
    discount band, small quantities. The canonical pure scan-aggregate:
    no join, no shuffle beyond the final 1-row partial merge.

    The 100 TB story is entirely pushdown: all three predicates are
    min/max-prunable parquet filters (`PushedFilters` carries the
    shipdate range, quantity bound, and discount band), so row groups
    outside the year never leave storage, and the projection reads
    exactly three columns of the fact. The discount band compares in
    DECIMAL(3,2) on BOTH engines — band edges like 0.05 are not exact
    doubles, and a raw double BETWEEN would make the qualifying set
    parse-dependent; the decimal cast is correctly rounded and
    identical everywhere."""
    li = load_table(spark, sf_dir, "lineitem")
    d = F.col("l_discount").cast(RATE)
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & (d >= F.lit("0.05").cast(RATE)) & (d <= F.lit("0.07").cast(RATE))
            & (F.col("l_quantity") < 24))
        .agg(F.sum(money("l_extendedprice") * d).cast("double").alias("revenue"),
             F.count(F.lit(1)).cast("long").alias("n_lines"))
    )


# ---------------------------------------------------------------------------
# Q7: volume shipping — bidirectional nation-pair trade flows
# ---------------------------------------------------------------------------

_Q7_NATIONS = ("NATION_1", "NATION_2")


@register(
    "q7_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INTEGER) AS l_year,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (CAST(1 AS DECIMAL(3,2))
                             - CAST(l_discount AS DECIMAL(3,2))))
                AS VARCHAR) AS DOUBLE) AS revenue
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = '{_Q7_NATIONS[0]}' AND n2.n_name = '{_Q7_NATIONS[1]}')
        OR (n1.n_name = '{_Q7_NATIONS[1]}' AND n2.n_name = '{_Q7_NATIONS[0]}'))
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY n1.n_name, n2.n_name, CAST(year(l_shipdate) AS INTEGER)
    """,
    tags=("join", "agg"),
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): two years of trade revenue between
    one nation pair, broken down by direction and year — the
    nation-pair disjunction is the interesting predicate: it
    constrains TWO different dimension branches (supplier's nation vs
    customer's nation) jointly, so neither branch alone can be
    filtered to one nation.

    Plan at 100 TB: each nation alias is independently pre-filtered to
    the 2-row pair set (the disjunction's per-branch projection — a
    nation is only relevant if it appears on EITHER side), both
    broadcast; the exact cross-branch disjunction re-applies above the
    joins on two tiny string columns. The two fact joins
    (lineitem⨝orders on orderkey) shuffle once on the orderkey; the
    shipdate range is a pushed scan filter. The (supp, cust, year)
    aggregate is 2·2·|years| groups — map-side combined to near-zero
    shuffle volume."""
    pair = list(_Q7_NATIONS)
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").where(
        F.col("n_name").isin(pair)).alias("n1")
    n2 = load_table(spark, sf_dir, "nation").where(
        F.col("n_name").isin(pair)).alias("n2")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz")))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("n1.n_nationkey"))
        .join(n2, F.col("c_nationkey") == F.col("n2.n_nationkey"))
        .where(
            ((F.col("n1.n_name") == pair[0]) & (F.col("n2.n_name") == pair[1]))
            | ((F.col("n1.n_name") == pair[1]) & (F.col("n2.n_name") == pair[0])))
        .groupBy(
            F.col("n1.n_name").alias("supp_nation"),
            F.col("n2.n_name").alias("cust_nation"),
            F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(money("l_extendedprice") * one_minus_rate("l_discount"))
             .cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q8: national market share — conditional share of a grouped total
# ---------------------------------------------------------------------------


@register(
    "q8_national_market_share",
    oracle="""
    SELECT o_year,
           CAST(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume
                              ELSE CAST(0 AS DECIMAL(17,4)) END)
                     AS VARCHAR) AS DOUBLE)
           / CAST(CAST(SUM(volume) AS VARCHAR) AS DOUBLE) AS mkt_share
    FROM (
        SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
               CAST(l_extendedprice AS DECIMAL(12,2))
                 * (CAST(1 AS DECIMAL(3,2))
                    - CAST(l_discount AS DECIMAL(3,2))) AS volume,
               n2.n_name AS nation
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region    ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'AMERICA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
          AND p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    """,
    tags=("join", "agg", "subquery"),
)
def q8_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): of all ECONOMY-part revenue
    sold into AMERICA-region customers over two years, the share
    supplied from one nation, by order year — the widest join tree in
    the suite (8 relations: part, lineitem, supplier, orders,
    customer, nation×2, region) and the conditional-share aggregate
    ``sum(case)/sum`` over a derived grouping column.

    Plan at 100 TB: the part filter (~1/6 of parts) semi-reduces
    lineitem FIRST via the broadcast p_partkey join — the fact never
    carries non-ECONOMY lines into the orderkey shuffle; region prunes
    nation n1 to the 5 AMERICA nations before customer joins it
    (broadcast chain of constant-size dims), and the orderdate range
    is a pushed orders-scan filter. Share arithmetic: both engine's
    sums are exact DECIMAL (the CASE's ELSE is a typed decimal zero,
    keeping the sum exact), and the final division is ONE IEEE op on
    two correctly-rounded doubles — bit-identical cross-engine, no
    float aggregation anywhere."""
    _register_tpch_views(
        spark, sf_dir,
        ("part", "lineitem", "supplier", "orders", "customer", "nation",
         "region"))
    return spark.sql("""
        SELECT o_year,
               CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume
                             ELSE CAST(0 AS DECIMAL(17,4)) END) AS DOUBLE)
               / CAST(SUM(volume) AS DOUBLE) AS mkt_share
        FROM (
            SELECT year(o_orderdate) AS o_year,
                   CAST(l_extendedprice AS DECIMAL(12,2))
                     * (CAST(1 AS DECIMAL(3,2))
                        - CAST(l_discount AS DECIMAL(3,2))) AS volume,
                   n2.n_name AS nation
            FROM thq_part
            JOIN thq_lineitem ON p_partkey = l_partkey
            JOIN thq_supplier ON s_suppkey = l_suppkey
            JOIN thq_orders   ON o_orderkey = l_orderkey
            JOIN thq_customer ON c_custkey = o_custkey
            JOIN thq_nation n1 ON c_nationkey = n1.n_nationkey
            JOIN thq_region    ON n1.n_regionkey = r_regionkey
            JOIN thq_nation n2 ON s_nationkey = n2.n_nationkey
            WHERE r_name = 'AMERICA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1998-01-01'
              AND p_type = 'ECONOMY'
        ) all_nations
        GROUP BY o_year
    """)


# ---------------------------------------------------------------------------
# Q9: product-type profit — derived (nation, year) grouping
# ---------------------------------------------------------------------------


@register(
    "q9_product_type_profit",
    oracle="""
    SELECT nation, o_year,
           CAST(CAST(SUM(amount) AS VARCHAR) AS DOUBLE) AS sum_profit
    FROM (
        SELECT n_name AS nation,
               CAST(year(o_orderdate) AS INTEGER) AS o_year,
               CAST(l_extendedprice AS DECIMAL(12,2))
                 * (CAST(1 AS DECIMAL(3,2))
                    - CAST(l_discount AS DECIMAL(3,2)))
               - CAST(p_retailprice AS DECIMAL(12,2))
                 * CAST(l_quantity AS DECIMAL(4,0)) AS amount
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    """,
    tags=("join", "agg"),
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): per supplier-nation,
    per order-year profit on parts whose name matches a substring —
    adapted to this schema (no partsupp: ``p_retailprice *
    l_quantity`` stands in for ``ps_supplycost * l_quantity`` as the
    cost leg; the join tree, the LIKE-driven part slice, and the
    derived (nation, year) grouping are the class).

    Plan at 100 TB: the LIKE '%red%' slice (~1/8 of parts — a
    substring match, NOT min/max-prunable) broadcasts and semi-reduces
    lineitem before the orderkey shuffle, exactly like Q8's type
    filter; orders contributes only (orderkey → year). Profit is
    exact decimal end-to-end — quantity is an integral double ≤ 50,
    cast to DECIMAL(4,0) losslessly on both engines, so the
    price-minus-cost difference never touches float until the final
    per-group cast."""
    _register_tpch_views(
        spark, sf_dir, ("part", "lineitem", "supplier", "orders", "nation"))
    return spark.sql("""
        SELECT nation, o_year,
               CAST(SUM(amount) AS DOUBLE) AS sum_profit
        FROM (
            SELECT n_name AS nation,
                   year(o_orderdate) AS o_year,
                   CAST(l_extendedprice AS DECIMAL(12,2))
                     * (CAST(1 AS DECIMAL(3,2))
                        - CAST(l_discount AS DECIMAL(3,2)))
                   - CAST(p_retailprice AS DECIMAL(12,2))
                     * CAST(l_quantity AS DECIMAL(4,0)) AS amount
            FROM thq_part
            JOIN thq_lineitem ON p_partkey = l_partkey
            JOIN thq_supplier ON s_suppkey = l_suppkey
            JOIN thq_orders   ON o_orderkey = l_orderkey
            JOIN thq_nation   ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%red%'
        ) profit
        GROUP BY nation, o_year
    """)


# ---------------------------------------------------------------------------
# Q10: returned-item reporting — fact join + top-k customers
# ---------------------------------------------------------------------------


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (CAST(1 AS DECIMAL(3,2))
                             - CAST(l_discount AS DECIMAL(3,2))))
                AS VARCHAR) AS DOUBLE) AS revenue,
           c_acctbal, n_name AS nation
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("join", "agg", "ranking"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): the 20 customers who
    returned the most revenue in one quarter — fact⨝fact join with
    both scans filtered (orderdate range on orders, returnflag on
    lineitem), a customer-grained aggregate, and a top-k.

    Plan at 100 TB: both predicates push to their scans (the quarter
    cuts orders ~25×, the R flag lineitem ~3×) BEFORE the orderkey
    shuffle; the customer dim joins after aggregation would be ideal
    but the grouping needs customer attributes, so customer rides the
    custkey join AQE-sized. The LIMIT is a TakeOrderedAndProject —
    map tasks forward 20 rows each, no global sort. Tie-break by
    c_custkey (revenue ties across customers are real at small SF)
    makes the top-20 deterministic cross-engine."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    return (
        o.where(
            (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz")))
        .join(li.where(F.col("l_returnflag") == "R"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal",
                 F.col("n_name").alias("nation"))
        .agg(F.sum(money("l_extendedprice") * one_minus_rate("l_discount"))
             .cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "nation")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q11: important parts — GROUP BY + HAVING vs an uncorrelated scalar subquery
# ---------------------------------------------------------------------------

_Q11_NATION = "NATION_7"


@register(
    "q11_important_parts",
    oracle=f"""
    SELECT l_partkey AS p_key,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
                     AS VARCHAR) AS DOUBLE) AS part_value
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE n_name = '{_Q11_NATION}'
    GROUP BY l_partkey
    HAVING CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
                AS VARCHAR) AS DOUBLE) > (
        SELECT 2.0 * CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
                      AS VARCHAR) AS DOUBLE)
               / CAST(COUNT(DISTINCT l_partkey) AS DOUBLE)
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE n_name = '{_Q11_NATION}')
    """,
    tags=("join", "agg", "subquery"),
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): parts whose traded value
    through one nation's suppliers exceeds a threshold derived from
    that nation's total — adapted to this schema (no partsupp:
    lineitem is the part↔supplier value link, as in
    q2_min_cost_supplier). The class is GROUP BY + HAVING against an
    UNCORRELATED scalar subquery over the same filtered tree.

    The threshold is 2× the nation's AVERAGE per-part value, not
    TPC-H's fixed ``0.0001`` fraction of the total: the spec scales
    that fraction by 1/SF precisely because a fixed fraction of a
    growing total eventually excludes every part — the
    average-relative form is the same query with the SF dependence
    factored out, so one text is meaningful from sf0.01 to 100 TB.

    Plan at 100 TB: the nation slice (≈1/25 of suppliers) broadcasts
    into the fact scan ONCE; Catalyst evaluates the threshold as a
    scalar Subquery — one extra aggregate of the same reduced tree,
    computed once and broadcast into the HAVING filter, never per
    group. Both engines compare doubles produced by the identical
    op sequence (correctly-rounded exact-decimal sums, one divide,
    one multiply), so the qualifying set is deterministic. The
    per-part aggregate is the only real shuffle, map-side combined
    on l_partkey."""
    _register_tpch_views(spark, sf_dir, ("lineitem", "supplier", "nation"))
    return spark.sql(f"""
        SELECT l_partkey AS p_key,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
                    AS DOUBLE) AS part_value
        FROM thq_lineitem
        JOIN thq_supplier ON l_suppkey = s_suppkey
        JOIN thq_nation   ON s_nationkey = n_nationkey
        WHERE n_name = '{_Q11_NATION}'
        GROUP BY l_partkey
        HAVING CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
                    AS DOUBLE) > (
            SELECT 2.0 * CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
                          AS DOUBLE)
                   / CAST(COUNT(DISTINCT l_partkey) AS DOUBLE)
            FROM thq_lineitem
            JOIN thq_supplier ON l_suppkey = s_suppkey
            JOIN thq_nation   ON s_nationkey = n_nationkey
            WHERE n_name = '{_Q11_NATION}')
    """)


# ---------------------------------------------------------------------------
# Q12: shipping-delay buckets — conditional counts by a computed dimension
# ---------------------------------------------------------------------------

_Q12_BUCKET_SQL = """CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30
             THEN 'FAST'
             WHEN date_diff('day', o_orderdate, l_shipdate) <= 90
             THEN 'NORMAL' ELSE 'SLOW' END"""


@register(
    "q12_shipping_delay_buckets",
    oracle=f"""
    SELECT {_Q12_BUCKET_SQL} AS delay_bucket,
           {o_lsum("CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')"
                   " THEN 1 ELSE 0 END", "high_line_count")},
           {o_lsum("CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')"
                   " THEN 0 ELSE 1 END", "low_line_count")}
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY {_Q12_BUCKET_SQL}
    """,
    tags=("join", "agg"),
)
def q12_shipping_delay_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes and order priority): one year of
    lines bucketed by shipping delay, with urgent-vs-other order
    counts per bucket — adapted to this schema (no l_shipmode or
    commit/receipt dates: the computed dimension is the
    ``l_shipdate - o_orderdate`` delay bucket). The class is a
    fact⨝fact join grouped by a DERIVED categorical with conditional
    CASE counts.

    Plan at 100 TB: the shipdate year pushes to the lineitem scan; the
    orderkey equi-join shuffles once; the 3-bucket aggregate carries
    two one-byte CASE partials, map-side combined to 3 rows per task —
    shuffle volume is O(tasks), not O(rows). The delay arithmetic is
    integer day subtraction on both engines (timestamps are
    midnight-aligned dates in this corpus), so bucket edges are exact."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (F.when(delay <= 30, "FAST")
              .when(delay <= 90, "NORMAL").otherwise("SLOW"))
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz")))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(bucket.alias("delay_bucket"))
        .agg(lsum(F.when(urgent, 1).otherwise(0), "high_line_count"),
             lsum(F.when(urgent, 0).otherwise(1), "low_line_count"))
    )


# ---------------------------------------------------------------------------
# Q14: promotion effect — conditional share of one month's revenue
# ---------------------------------------------------------------------------


@register(
    "q14_promotion_effect",
    oracle="""
    SELECT 100.0 * CAST(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN
                 CAST(l_extendedprice AS DECIMAL(12,2))
                 * (CAST(1 AS DECIMAL(3,2))
                    - CAST(l_discount AS DECIMAL(3,2)))
             ELSE CAST(0 AS DECIMAL(17,4)) END) AS VARCHAR) AS DOUBLE)
           / CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (CAST(1 AS DECIMAL(3,2))
                    - CAST(l_discount AS DECIMAL(3,2)))) AS VARCHAR)
                  AS DOUBLE) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate <  TIMESTAMP '1996-10-01'
    """,
    tags=("join", "agg"),
)
def q14_promotion_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): the percentage of one month's
    revenue that came from PROMO-type parts — the conditional-share
    scalar over a fact⨝dim join (p_type = 'PROMO' exactly, this
    schema's enum-valued p_type standing in for the LIKE 'PROMO%%'
    prefix).

    Plan at 100 TB: the month pushes to the lineitem scan (~1/84 of
    the fact); part grows with SF, so AQE, not a hint, decides whether
    its (p_partkey, p_type) projection broadcasts. Both sums are exact
    decimal with a typed decimal-zero ELSE; the final ``100.0 * a / b``
    is the identical two-op IEEE sequence in both engines
    (left-associative), so the single output double is bit-identical."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    vol = money("l_extendedprice") * one_minus_rate("l_discount")
    promo = F.when(F.col("p_type") == "PROMO", vol).otherwise(
        F.lit(0).cast("decimal(17,4)"))
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp_ntz")))
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg((F.lit(100.0) * F.sum(promo).cast("double")
              / F.sum(vol).cast("double")).alias("promo_revenue"))
    )


# ---------------------------------------------------------------------------
# Q16: supplier relationship — NOT IN exclusion + COUNT(DISTINCT)
# ---------------------------------------------------------------------------

_Q16_SIZES = (1, 3, 9, 14, 19, 23, 36, 45)


@register(
    "q16_part_supplier_relation",
    oracle=f"""
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#13'
      AND p_type <> 'PROMO'
      AND p_size IN {_Q16_SIZES}
      AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
    tags=("join", "agg", "subquery"),
)
def q16_part_supplier_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): how many distinct
    suppliers can deliver each qualifying (brand, type, size) part
    class, excluding bad-standing suppliers — adapted to this schema
    (no partsupp: lineitem is the part↔supplier link; the complaints
    exclusion becomes the negative-balance supplier set). The class is
    a NOT IN anti join + COUNT(DISTINCT) over a triple group-by.

    Plan at 100 TB: the brand/type/size predicates push to the part
    scan (~1/6 of parts survive the size IN-list alone); part and the
    bad suppliers grow with SF, so AQE, not a hint, picks their joins.
    NOT IN over the non-null supplier key plans as a LEFT ANTI join (the
    null-aware case never degrades to a nested loop here because
    s_suppkey is a key). The distinct-count is two map-side-combined
    hash aggregates — first (brand, type, size, suppkey) dedup, then
    the count — never a global expand."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#13") & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(list(_Q16_SIZES)))
    bad = load_table(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(bad, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).cast("long")
             .alias("supplier_cnt"))
    )
