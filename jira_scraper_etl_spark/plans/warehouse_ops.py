"""Warehouse-maintenance operators: data-quality profiling, MERGE-style
upsert, interval coalescing (gaps-and-islands), exact rolling medians,
and a correlation matrix from exact sufficient statistics.

These are the table-maintenance and statistics passes a lakehouse runs
around the curation pipeline itself: profile a table before trusting
it (the Deequ/great-expectations shape), apply a CDC batch to a
snapshot (MERGE INTO), coalesce point-in-time coverage into effective
ranges, tame a metric with an order-statistic smoother, and measure
which numeric columns move together.

Cross-engine exactness follows the registry rules: counts and min/max
COPY values (no float aggregation), money goes through exact DECIMAL,
and every float formula is a fixed scalar expression over
correctly-rounded inputs — both engines evaluate the identical IEEE
op sequence, so results are bit-identical without tolerance knobs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import load_table
from .registry import money, register

# ---------------------------------------------------------------------------
# Data-quality profile (the Deequ / great-expectations shape)
# ---------------------------------------------------------------------------

# (column, kind): numeric columns surface min/max as doubles (exact
# copies — orderkeys < 2^53, timestamps as epoch µs < 2^53), varchar
# columns as strings; mixing both in one long table needs the split
# min_num/min_str columns because the harness hashes by column.
_PROFILE_COLS = [
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "num"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
]


def _profile_sql_one(col: str, kind: str) -> str:
    if kind == "num":
        mn, mx = f"CAST(MIN({col}) AS DOUBLE)", f"CAST(MAX({col}) AS DOUBLE)"
    elif kind == "ts":
        mn = f"CAST(epoch_us(MIN({col})) AS DOUBLE)"
        mx = f"CAST(epoch_us(MAX({col})) AS DOUBLE)"
    else:
        mn = mx = "CAST(NULL AS DOUBLE)"
    ms, xs = (f"MIN({col})", f"MAX({col})") if kind == "str" else (
        "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
    return f"""
    SELECT '{col}' AS col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT({col}) AS BIGINT) AS n_nonnull,
           CAST(COUNT({col}) AS DOUBLE) / COUNT(*) AS completeness,
           CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
           {mn} AS min_num, {mx} AS max_num,
           {ms} AS min_str, {xs} AS max_str
    FROM orders"""


@register(
    "dq_profile_orders",
    oracle=" UNION ALL ".join(_profile_sql_one(c, k) for c, k in _PROFILE_COLS),
    tags=("quality", "agg"),
)
def dq_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass data-quality profile of a table — one row per column
    with row count, non-null count, completeness ratio, exact distinct
    count, and min/max (numeric columns as exact double copies,
    timestamps as epoch microseconds, strings as strings) — the
    pre-ingest audit every pipeline runs before trusting an upstream
    drop (the Deequ / great-expectations metric set).

    Plan shape (round-13 optimization, guide §2.3): one single-column
    aggregation branch PER PROFILED COLUMN, unioned. The former
    all-in-one aggregation made Spark rewrite the 6-column
    COUNT(DISTINCT) into a single Expand — ×(|columns|+1) row
    multiplication feeding one mixed-key hash aggregate, and for the
    near-unique columns (orderkey, totalprice) the partial aggregate
    collapses nothing, so ~7× the table crossed the first aggregation.
    Per-column branches keep each distinct count a plain two-level
    single-key aggregate (no Expand), each branch's scan prunes to its
    ONE column (total I/O unchanged — 6 × 1-column scans ≈ 1 × 6-column
    scan), and the branches schedule concurrently inside the one job.
    Measured 8.4 → 1.7 s at sf1 (1.5M orders), values identical
    (min/max/count are copy/count-only aggregates; completeness is one
    int/int IEEE division; output row order is _PROFILE_COLS order in
    both shapes)."""
    o = load_table(spark, sf_dir, "orders")

    parts = []
    for col, kind in _PROFILE_COLS:
        if kind == "num":
            mn = F.min(col).cast("double")
            mx = F.max(col).cast("double")
        elif kind == "ts":
            mn = F.expr(f"unix_micros(cast(min({col}) as timestamp))").cast("double")
            mx = F.expr(f"unix_micros(cast(max({col}) as timestamp))").cast("double")
        else:
            mn = mx = F.lit(None).cast("double")
        ms = F.min(col) if kind == "str" else F.lit(None).cast("string")
        xs = F.max(col) if kind == "str" else F.lit(None).cast("string")
        parts.append(o.select(col).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count(F.col(col)).cast("long").alias("n_nonnull"),
            F.countDistinct(F.col(col)).cast("long").alias("n_distinct"),
            mn.alias("min_num"), mx.alias("max_num"),
            ms.alias("min_str"), xs.alias("max_str"),
        ).select(
            F.lit(col).alias("col_name"), "n_rows", "n_nonnull",
            (F.col("n_nonnull").cast("double") / F.col("n_rows"))
            .alias("completeness"),
            "n_distinct", "min_num", "max_num", "min_str", "max_str"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# MERGE INTO semantics (lakehouse CDC upsert)
# ---------------------------------------------------------------------------

@register(
    "merge_upsert_customer_balance",
    oracle="""
    WITH target AS (
        SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 7 <> 0
    ),
    source AS (
        SELECT o_custkey AS c_custkey,
               SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS delta_d,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1998-05-01'
        GROUP BY o_custkey
    )
    SELECT COALESCE(t.c_custkey, s.c_custkey) AS c_custkey,
           CASE WHEN t.c_custkey IS NULL THEN 'insert'
                WHEN s.c_custkey IS NULL THEN 'keep'
                ELSE 'update' END AS action,
           t.c_acctbal AS old_bal,
           CAST(CAST(s.delta_d AS VARCHAR) AS DOUBLE) AS delta,
           CAST(CAST(
               COALESCE(CAST(t.c_acctbal AS DECIMAL(12,2)), CAST(0 AS DECIMAL(12,2)))
               + COALESCE(s.delta_d, CAST(0 AS DECIMAL(12,2)))
               AS VARCHAR) AS DOUBLE) AS new_bal,
           COALESCE(s.n_orders, 0) AS n_orders
    FROM target t FULL OUTER JOIN source s USING (c_custkey)
    """,
    tags=("warehouse", "join", "incremental"),
)
def merge_upsert_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics over a snapshot + change batch — the
    lakehouse CDC upsert: a stale customer snapshot (every 7th key
    missing, so the insert branch is exercised) merged with late-1998 order
    activity. Matched keys update (balance + exact-decimal delta),
    unmatched targets keep their row, unmatched sources insert — each
    row labeled with the action a Delta/Iceberg MERGE would take.

    Plan shape: the source pre-aggregates to one row per customer
    (map-side combine; the date predicate pushes to the parquet scan),
    then ONE full-outer shuffle join on the key — both sides are big at
    warehouse scale, so no broadcast is assumed; AQE handles a skewed
    key. The balance chain stays exact DECIMAL until the final
    correctly-rounded double cast."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    target = (c.where(F.col("c_custkey") % 7 != 0)
              .select("c_custkey", "c_acctbal"))
    source = (
        o.where(F.col("o_orderdate")
                >= F.lit("1998-05-01").cast("timestamp_ntz"))
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.sum(money("o_totalprice")).alias("delta_d"),
             F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    s = source.withColumnRenamed("c_custkey", "s_key")
    zero = F.lit(0).cast("decimal(12,2)")
    # presence is detected on the JOIN KEYS (never on value columns,
    # which could legitimately be NULL in a matched row)
    return (
        target.join(s, target.c_custkey == s.s_key, "full_outer")
        .select(
            F.coalesce("c_custkey", "s_key").alias("c_custkey"),
            F.when(F.col("c_custkey").isNull(), F.lit("insert"))
            .when(F.col("s_key").isNull(), F.lit("keep"))
            .otherwise(F.lit("update")).alias("action"),
            F.col("c_acctbal").alias("old_bal"),
            F.col("delta_d").cast("double").alias("delta"),
            (F.coalesce(money("c_acctbal"), zero)
             + F.coalesce(F.col("delta_d"), zero))
            .cast("double").alias("new_bal"),
            F.coalesce(F.col("n_orders"), F.lit(0).cast("long"))
            .alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# Interval coalescing (gaps-and-islands)
# ---------------------------------------------------------------------------

@register(
    "events_merge_intervals",
    oracle="""
    WITH iv AS (
        SELECT user_id, event_id, epoch_us(ts) AS s_us,
               epoch_us(ts) + 300000000 AS e_us
        FROM events
    ),
    flagged AS (
        SELECT *,
               CASE WHEN MAX(e_us) OVER (
                        PARTITION BY user_id ORDER BY s_us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        >= s_us
                    THEN 0 ELSE 1 END AS new_island
        FROM iv
    ),
    islands AS (
        SELECT *, SUM(new_island) OVER (
                   PARTITION BY user_id ORDER BY s_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM flagged
    )
    SELECT user_id, CAST(island AS INTEGER) AS interval_seq,
           MIN(s_us) AS start_us, MAX(e_us) AS end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM islands GROUP BY user_id, island
    """,
    tags=("events", "window", "warehouse"),
)
def events_merge_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval coalescing: each event covers
    [ts, ts+5min); overlapping or touching covers per user merge into
    maximal intervals — the classic "effective coverage" pass (machine
    uptime from heartbeats, user presence from activity pings). Output:
    one row per merged interval with its bounds (exact integer µs) and
    the number of events it absorbed.

    The island detector is the running-max form — an event starts a new
    island iff its start exceeds the max end of ALL previous covers
    (the naive lag-against-previous-end mis-merges when an earlier long
    cover outlasts its successor). One hash shuffle on user_id
    (high-cardinality); both windows and the final aggregation reuse
    that single exchange, and the running max/sum frames are
    incremental (no per-row rescan)."""
    e = load_table(spark, sf_dir, "events")
    iv = e.select(
        "user_id", "event_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("s_us"),
        (F.expr("unix_micros(cast(ts as timestamp))")
         + F.lit(300_000_000)).alias("e_us"))
    w = Window.partitionBy("user_id").orderBy("s_us", "event_id")
    prev_max = (F.max("e_us")
                .over(w.rowsBetween(Window.unboundedPreceding, -1)))
    flagged = iv.withColumn(
        "new_island",
        F.when(prev_max >= F.col("s_us"), F.lit(0)).otherwise(F.lit(1)))
    islands = flagged.withColumn(
        "island",
        F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    return (
        islands.groupBy("user_id", F.col("island").cast("int").alias("interval_seq"))
        .agg(F.min("s_us").alias("start_us"),
             F.max("e_us").alias("end_us"),
             F.count(F.lit(1)).cast("long").alias("n_events"))
    )


# ---------------------------------------------------------------------------
# Exact rolling median (order-statistic smoother)
# ---------------------------------------------------------------------------

@register(
    "window_rolling_median",
    oracle="""
    SELECT event_id, user_id, value,
           CAST(len(win) AS INTEGER) AS n_win,
           CASE WHEN len(win) % 2 = 1
                THEN list_sort(win)[(len(win) + 1) // 2]
                ELSE (list_sort(win)[len(win) // 2]
                      + list_sort(win)[len(win) // 2 + 1]) / 2.0
           END AS med
    FROM (SELECT event_id, user_id, value,
                 list(value) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
                   AS win
          FROM events)
    """,
    tags=("events", "window"),
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median of each user's metric over their trailing
    5 events — the robust smoother that a trailing MEAN can't replace
    when the stream has spikes (a single fat-fingered value drags a
    mean for 5 rows; the median shrugs it off). Spark has no median
    window function, so the operator composes built-ins: collect the
    ROWS frame, array_sort, index the middle (average of the two
    middles for even frames — frames 1-4 at each key's start).

    The frame is O(1) bounded (5 values), so the collected array adds
    constant bytes per row — this composition is linear and safe at
    any scale, unlike an unbounded-frame collect. One user_id hash
    shuffle; the sort-within-frame is 5 elements. The even-frame
    average divides two copied doubles by 2.0 — IEEE-identical in both
    engines."""
    e = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-4, 0))
    srt = F.array_sort(F.collect_list("value").over(w))
    n = F.size(srt)
    mid = ((n + F.lit(1)) / F.lit(2)).cast("int")  # exact: n <= 5
    lo_mid = (n / F.lit(2)).cast("int")
    med = F.when(
        n % 2 == 1, F.element_at(srt, mid)
    ).otherwise(
        (F.element_at(srt, lo_mid)
         + F.element_at(srt, lo_mid + 1)) / F.lit(2.0))
    return e.select(
        "event_id", "user_id", "value",
        n.cast("int").alias("n_win"), med.alias("med"))


# ---------------------------------------------------------------------------
# Correlation matrix from exact sufficient statistics
# ---------------------------------------------------------------------------

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_CORR_PAIRS = [(a, b) for i, a in enumerate(_CORR_COLS)
               for b in _CORR_COLS[i + 1:]]


def _corr_oracle() -> str:
    dec = "DECIMAL(12,2)"
    sums = ["CAST(COUNT(*) AS DOUBLE) AS nn"]
    for c in _CORR_COLS:
        sums.append(f"CAST(CAST(SUM(CAST({c} AS {dec})) AS VARCHAR) AS DOUBLE)"
                    f" AS s_{c}")
        sums.append(f"CAST(CAST(SUM(CAST({c} AS {dec}) * CAST({c} AS {dec}))"
                    f" AS VARCHAR) AS DOUBLE) AS s2_{c}")
    for a, b in _CORR_PAIRS:
        sums.append(f"CAST(CAST(SUM(CAST({a} AS {dec}) * CAST({b} AS {dec}))"
                    f" AS VARCHAR) AS DOUBLE) AS s_{a}_{b}")
    pair_sel = " UNION ALL ".join(
        f"""SELECT '{a}' AS col_x, '{b}' AS col_y,
            CAST(nn AS BIGINT) AS n,
            (nn * s_{a}_{b} - s_{a} * s_{b})
              / (sqrt(nn * s2_{a} - s_{a} * s_{a})
                 * sqrt(nn * s2_{b} - s_{b} * s_{b})) AS corr
            FROM moments""" for a, b in _CORR_PAIRS)
    return f"WITH moments AS (SELECT {', '.join(sums)} FROM lineitem) {pair_sel}"


@register(
    "stats_corr_matrix",
    oracle=_corr_oracle(),
    tags=("agg", "stats"),
)
def stats_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation for every pair of lineitem's numeric
    measures, computed from EXACT sufficient statistics: one scan
    accumulates Σx, Σx², Σxy as exact decimals (products of
    DECIMAL(12,2) are DECIMAL(25,4); sums stay exact), each moment is
    correctly rounded to double once, and the textbook formula
    (n·Σxy − ΣxΣy) / (√(n·Σx² − (Σx)²)·√(n·Σy² − (Σy)²)) evaluates as
    the identical IEEE op sequence in both engines — bit-identical
    correlations with no tolerance, where the built-in streaming
    ``corr`` (Welford-style co-moments) is order-dependent and
    irreproducible across partitionings.

    One aggregation over 15 decimal sums → a single 1-row partial per
    partition (map-side combine), then a driver-free explode into the
    6 pair rows. At 100 TB this is the cheapest possible shape: one
    scan of 4 pruned columns, O(1) shuffle bytes. Precision headroom:
    Σx² ≤ n·10¹⁰ stays inside DECIMAL(35,4) up to ~10²⁰ rows."""
    li = load_table(spark, sf_dir, "lineitem")
    d = {c: money(c) for c in _CORR_COLS}
    aggs = [F.count(F.lit(1)).cast("double").alias("nn")]
    for c in _CORR_COLS:
        aggs.append(F.sum(d[c]).cast("double").alias(f"s_{c}"))
        aggs.append(F.sum(d[c] * d[c]).cast("double").alias(f"s2_{c}"))
    for a, b in _CORR_PAIRS:
        aggs.append(F.sum(d[a] * d[b]).cast("double").alias(f"s_{a}_{b}"))
    moments = li.agg(*aggs)
    nn = F.col("nn")
    structs = []
    for a, b in _CORR_PAIRS:
        sx, sy = F.col(f"s_{a}"), F.col(f"s_{b}")
        sxx, syy = F.col(f"s2_{a}"), F.col(f"s2_{b}")
        sxy = F.col(f"s_{a}_{b}")
        corr = ((nn * sxy - sx * sy)
                / (F.sqrt(nn * sxx - sx * sx) * F.sqrt(nn * syy - sy * sy)))
        structs.append(F.struct(
            F.lit(a).alias("col_x"), F.lit(b).alias("col_y"),
            nn.cast("long").alias("n"), corr.alias("corr")))
    return moments.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


# ---------------------------------------------------------------------------
# Distinct count over a bounded sliding window
# ---------------------------------------------------------------------------

@register(
    "events_trailing_distinct_types",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(len(list_distinct(win)) AS INTEGER) AS n_distinct_types,
           CAST(len(win) AS INTEGER) AS n_win
    FROM (SELECT event_id, user_id, event_type,
                 list(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id
                                        ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
                   AS win
          FROM events)
    """,
    tags=("events", "window"),
)
def events_trailing_distinct_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DISTINCT COUNT over a sliding window — how many different
    event types each user's trailing 10 events span (a behavioral-
    diversity signal: 1 = a repetitive bot-like run, high = active
    exploration). COUNT(DISTINCT) OVER a moving frame is famously
    unsupported by engines (no subtractable aggregate state: evicting
    a row needs to know whether its value still occurs in the frame);
    with a BOUNDED frame the composition collect_list → array_distinct
    → size is exact and adds O(frame) bytes per row — safe at any
    corpus size, unlike an unbounded-frame collect.

    One user_id hash shuffle (high-cardinality, no skew hazard); the
    frame work is 10 small strings per row inside whole-stage codegen.
    The same shape serves trailing distinct-items, distinct-sessions,
    distinct-SKUs — any bounded-recency diversity metric."""
    e = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-9, 0))
    win = F.collect_list("event_type").over(w)
    return e.select(
        "event_id", "user_id", "event_type",
        F.size(F.array_distinct(win)).cast("int").alias("n_distinct_types"),
        F.size(win).cast("int").alias("n_win"))


# ---------------------------------------------------------------------------
# Robust outlier detection: median/MAD modified z-score
# ---------------------------------------------------------------------------

_MED_SQL = """
    SELECT event_type,
           (MIN(CASE WHEN rn = (n + 1) // 2 THEN {v} END)
            + MIN(CASE WHEN rn = (n + 2) // 2 THEN {v} END)) / 2.0 AS {out}
    FROM (SELECT event_type, {v},
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY {v}, event_id) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM {src})
    GROUP BY event_type
"""


@register(
    "events_anomaly_mad",
    oracle=f"""
    WITH med AS ({_MED_SQL.format(v="value", out="med", src="events")}),
    dev AS (
        SELECT e.event_id, e.event_type, e.value, m.med,
               abs(e.value - m.med) AS dv
        FROM events e JOIN med m USING (event_type)
    ),
    mad AS ({_MED_SQL.format(v="dv", out="mad", src="dev")})
    SELECT d.event_id, d.event_type, d.value, d.med, mad.mad,
           CASE WHEN mad.mad > 0
                THEN 0.6745 * (d.value - d.med) / mad.mad END AS robust_z,
           COALESCE(abs(CASE WHEN mad.mad > 0
                THEN 0.6745 * (d.value - d.med) / mad.mad END) > 3.5, FALSE)
             AS is_outlier
    FROM dev d JOIN mad USING (event_type)
    """,
    tags=("events", "cleaning", "stats"),
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via the modified z-score (Iglewicz &
    Hoaglin): per event type, the EXACT median and median-absolute-
    deviation, then z = 0.6745·(x − med)/MAD with |z| > 3.5 flagging —
    the outlier detector that survives what breaks mean/stddev z-scores
    (the outliers themselves inflate σ and mask each other; the median
    and MAD have 50% breakdown points). Complements the winsorize pass:
    winsorize CLAMPS by percentile, this one LABELS by robust distance.

    Cross-engine exactness: the median formula (v[(n+1)÷2] + v[(n+2)÷2])/2
    covers odd frames exactly ((a+a)/2 ≡ a in IEEE); deviations are one
    subtraction + abs of copied doubles; z is a fixed scalar expression
    — bit-identical both sides, no tolerance. Like the winsorize twin,
    the per-type sort is the low-cardinality-group hazard; the 100 TB
    path swaps both medians for approx_percentile partials (the
    registered ``events_winsorize_approx`` pattern) with the same
    broadcast joins."""
    e = load_table(spark, sf_dir, "events")

    def exact_median(df: DataFrame, col: str, out: str) -> DataFrame:
        w = Window.partitionBy("event_type").orderBy(col, "event_id")
        wn = Window.partitionBy("event_type")
        r = df.select("event_type", col, "event_id",
                      F.row_number().over(w).alias("rn"),
                      F.count(F.lit(1)).over(wn).alias("n"))
        lo = F.min(F.when(F.col("rn") == F.expr("(n + 1) div 2"),
                          F.col(col)))
        hi = F.min(F.when(F.col("rn") == F.expr("(n + 2) div 2"),
                          F.col(col)))
        return r.groupBy("event_type").agg(((lo + hi) / 2.0).alias(out))

    med = exact_median(e, "value", "med")
    dev = (e.join(F.broadcast(med), "event_type")
           .select("event_id", "event_type", "value", "med",
                   F.abs(F.col("value") - F.col("med")).alias("dv")))
    mad = exact_median(dev, "dv", "mad")
    z = F.when(F.col("mad") > 0,
               F.lit(0.6745) * (F.col("value") - F.col("med")) / F.col("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .select("event_id", "event_type", "value", "med", "mad",
                z.alias("robust_z"),
                F.coalesce(F.abs(z) > 3.5, F.lit(False)).alias("is_outlier"))
    )


@register(
    "events_anomaly_mad_approx",
    oracle=None,  # rows-only: approx_percentile sketch has no DuckDB twin
    tags=("events", "cleaning", "stats", "approx"),
)
def events_anomaly_mad_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path for MAD outlier labeling (named by the exact
    entry's docstring, mirroring the winsorize pair): both medians come
    from mergeable ``approx_percentile`` sketches — partials combine
    map-side, no per-type sort, no low-cardinality-group hazard — then
    the same broadcast z-score labeling. Rows-only like the other
    sketch entries; the test pins rank-proximity of the approximate
    median/MAD to the exact plan's and decision-consistency of every
    label with its own bounds."""
    e = load_table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.5, 10000)").alias("med"))
    dev = (e.join(F.broadcast(med), "event_type")
           .select("event_id", "event_type", "value", "med",
                   F.abs(F.col("value") - F.col("med")).alias("dv")))
    mad = dev.groupBy("event_type").agg(
        F.expr("approx_percentile(dv, 0.5, 10000)").alias("mad"))
    z = F.when(F.col("mad") > 0,
               F.lit(0.6745) * (F.col("value") - F.col("med")) / F.col("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .select("event_id", "event_type", "value", "med", "mad",
                z.alias("robust_z"),
                F.coalesce(F.abs(z) > 3.5, F.lit(False)).alias("is_outlier"))
    )


# ---------------------------------------------------------------------------
# Referential integrity audit (cross-table data quality)
# ---------------------------------------------------------------------------

_FK_CHECKS = [
    ("orders.o_custkey -> customer.c_custkey",
     "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.l_orderkey -> orders.o_orderkey",
     "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey -> part.p_partkey",
     "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey -> supplier.s_suppkey",
     "lineitem", "l_suppkey", "supplier", "s_suppkey"),
]


def _fk_sql(name, child, fk, parent, pk) -> str:
    return f"""
    SELECT '{name}' AS fk,
           CAST((SELECT COUNT(*) FROM {child}) AS BIGINT) AS n_child_rows,
           CAST(COUNT(*) AS BIGINT) AS n_orphan_rows,
           CAST(COUNT(DISTINCT c.{fk}) AS BIGINT) AS n_orphan_keys,
           MIN(c.{fk}) AS sample_orphan_key
    FROM {child} c ANTI JOIN {parent} p ON c.{fk} = p.{pk}"""


@register(
    "dq_referential_integrity",
    oracle=" UNION ALL ".join(_fk_sql(*chk) for chk in _FK_CHECKS),
    tags=("quality", "join"),
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table referential-integrity audit — one row per declared
    foreign-key relationship with child volume, orphan row/key counts,
    and a sample orphan key (NULL when the constraint holds): the
    second member of the data-quality family next to the single-table
    profile. On the generator's consistent snapshot every relationship
    holds with zero orphans — the PASSING audit is the point; a
    violated one pinpoints the key to chase.

    Each check is one LEFT ANTI join from the child's key projection
    (column-pruned scan; the anti join shuffles only the key column,
    and AQE broadcasts parents under the threshold). Checks are
    independent branches unioned post-aggregation — at 100 TB they
    schedule as parallel stages, none blocking another."""
    out = None
    for name, child, fk, parent, pk in _FK_CHECKS:
        c = load_table(spark, sf_dir, child)
        p = load_table(spark, sf_dir, parent)
        n_child = c.groupBy().agg(F.count(F.lit(1)).cast("long")
                                  .alias("n_child_rows"))
        orphans = (c.select(F.col(fk).alias("k"))
                   .join(p.select(F.col(pk).alias("k")), "k", "left_anti"))
        agg = (orphans.groupBy()
               .agg(F.count(F.lit(1)).cast("long").alias("n_orphan_rows"),
                    F.countDistinct("k").cast("long").alias("n_orphan_keys"),
                    F.min("k").alias("sample_orphan_key"))
               .join(n_child)
               .select(F.lit(name).alias("fk"), "n_child_rows",
                       "n_orphan_rows", "n_orphan_keys",
                       "sample_orphan_key"))
        out = agg if out is None else out.unionByName(agg)
    return out


# ---------------------------------------------------------------------------
# Snapshot diff (the versioned-table time-travel comparator)
# ---------------------------------------------------------------------------

@register(
    "snapshot_diff_customers",
    oracle="""
    WITH old AS (
        SELECT c_custkey, c_name, c_acctbal
        FROM customer WHERE c_custkey % 7 <> 0
    ),
    new AS (
        SELECT c_custkey, c_name,
               CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 1.5
                    ELSE c_acctbal END AS c_acctbal
        FROM customer WHERE c_custkey % 5 <> 0
    )
    SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
           CASE WHEN o.c_custkey IS NULL THEN 'added'
                WHEN n.c_custkey IS NULL THEN 'removed'
                WHEN o.c_name IS DISTINCT FROM n.c_name
                     OR o.c_acctbal IS DISTINCT FROM n.c_acctbal
                     THEN 'changed'
                ELSE 'unchanged' END AS change
    FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
    """,
    tags=("warehouse", "join", "incremental"),
)
def snapshot_diff_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed diff between two table snapshots — the time-travel
    comparator behind ``operators/versioned.py::snapshot_diff`` (what
    changed between version N and N+1 of a dimension): every key
    labeled added / removed / changed / unchanged. The snapshots here
    derive from the customer table (an older membership rule, a newer
    one with drifted balances) so the oracle can reproduce them; the
    versioned-store tests run the same operator over really-committed
    ``v=N`` directories.

    Scale shape: values are compared as ONE xxhash64 of the non-key
    struct per row, so the full-outer diff join ships (key, hash)
    pairs regardless of table width — a wide-dimension diff costs the
    same shuffle as a narrow one (hash equality ⇔ value equality up to
    2⁻⁶⁴; the oracle compares the raw columns with IS DISTINCT FROM so
    NULL-vs-value counts as changed in both engines — xxhash64 over the
    struct already treats NULL as a distinct value)."""
    from ..operators.versioned import snapshot_diff

    c = load_table(spark, sf_dir, "customer")
    old = (c.where(F.col("c_custkey") % 7 != 0)
           .select("c_custkey", "c_name", "c_acctbal"))
    new = (c.where(F.col("c_custkey") % 5 != 0)
           .select("c_custkey", "c_name",
                   F.when(F.col("c_custkey") % 3 == 0,
                          F.col("c_acctbal") + 1.5)
                   .otherwise(F.col("c_acctbal")).alias("c_acctbal")))
    return snapshot_diff(old, new, "c_custkey")


# ---------------------------------------------------------------------------
# TPC-H Q3 (shipping priority): 3-table join → agg → top-k
# ---------------------------------------------------------------------------

@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
                AS VARCHAR) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    tags=("join", "agg", "ranking", "flagship"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): the 10 highest-revenue unshipped
    BUILDING-segment orders as of 1995-03-15 — the canonical 3-table
    join → aggregate → top-k benchmark query, here with exact-decimal
    revenue (DuckDB's official q3 answer drifts in the last double ulp
    without it).

    Plan: every predicate pushes to its own scan (segment on customer,
    orderdate on orders, shipdate on lineitem — `PushedFilters` in the
    plan), the pruned customer side broadcasts under AQE, orders ⨝
    lineitem shuffles on the orderkey, partials combine map-side to
    one row per qualifying order, and the top-10 is a TakeOrdered —
    no global sort materializes. The deterministic tie-break
    (revenue, orderdate, orderkey) makes the LIMIT reproducible
    cross-engine."""
    from .registry import money, one_minus_rate

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1995-03-15").cast("timestamp_ntz")
    return (
        c.where(F.col("c_mktsegment") == "BUILDING")
        .join(o, c.c_custkey == o.o_custkey)
        .where(F.col("o_orderdate") < cutoff)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.col("l_shipdate") > cutoff)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(money("l_extendedprice")
                   * one_minus_rate("l_discount"))
             .cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# TPC-H Q5 (local supplier volume): 6-table star join
# ---------------------------------------------------------------------------

@register(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name AS nation,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
                AS VARCHAR) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
    tags=("join", "agg", "flagship"),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): revenue by nation for 1996
    orders where the customer and the line's supplier sit in the SAME
    Asian nation — the canonical 6-table star join and the widest join
    tree in the suite (customer ⨝ orders ⨝ lineitem ⨝ supplier ⨝
    nation ⨝ region with a cross-dimension equality c_nationkey =
    s_nationkey).

    Plan shape at 100 TB: the date predicate pushes into the orders
    scan (one year ≈ 1/7 of the fact) and region's filter prunes
    nation to 5 rows BEFORE anything joins — nation⨝region broadcast
    as constant-size dims, so customer and supplier are each reduced
    by the nation semi-condition early. The two SF-linear sides
    (customer, supplier) are left to AQE (the broadcast rule in
    ``session.py``). The same-nation constraint rides the supplier
    join as a residual equality, never a post-join filter over a wider
    product. Revenue is the exact-decimal chain (registry rules) cast
    to double only at the end."""
    from .registry import one_minus_rate

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    # constant-size dims, pre-joined: 5 Asian nations
    dims = (n.join(r, n.n_regionkey == r.r_regionkey)
            .where(F.col("r_name") == "ASIA")
            .select("n_nationkey", "n_name"))
    lo = F.lit("1996-01-01").cast("timestamp_ntz")
    hi = F.lit("1997-01-01").cast("timestamp_ntz")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .where((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(dims, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(money("l_extendedprice") * one_minus_rate("l_discount"))
             .cast("double").alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q18 (large-volume customers): having-filtered semi join
# ---------------------------------------------------------------------------

Q18_QTY = 300


@register(
    "q18_large_volume_customers",
    oracle=f"""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           CAST(CAST(o_totalprice AS VARCHAR) AS DOUBLE) AS o_totalprice,
           CAST(SUM(l_quantity) AS BIGINT) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(l_quantity) > {Q18_QTY})
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    tags=("join", "agg", "ranking"),
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): the 100 biggest orders whose
    total line quantity exceeds Q18_QTY (300) units, with their
    customers — the canonical HAVING-subquery-into-semi-join benchmark.

    Plan shape at 100 TB: the qualifying-order set comes from one
    map-side-combined groupBy over (l_orderkey, quantity) — column
    pruning keeps the pre-aggregation scan to two columns — and is
    LEFT SEMI joined back (the IN subquery's relational form: no row
    multiplication, AQE can broadcast the qualifying keys since the
    >300 filter is ~1e-4 selective). Only then do the surviving
    lineitems re-aggregate and join orders/customer, so the expensive
    side of the plan runs on the filtered fact. Top-100 is a
    TakeOrderedAndProject with a deterministic (price, orderkey)
    tie-break — no global sort."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("q"))
           .where(F.col("q") > Q18_QTY)
           .select("l_orderkey"))
    return (
        li.join(big, "l_orderkey", "left_semi")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").cast("long").alias("total_qty"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                F.col("o_totalprice").cast("double").alias("o_totalprice"),
                "total_qty")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# TPC-H Q17 / Q2 shapes: correlated scalar subqueries (Catalyst
# decorrelation). The one relational class with zero prior coverage
# (round-8 verdict #3): real SQL users write WHERE x < (SELECT agg(...)
# FROM t2 WHERE t2.k = t1.k) constantly, and the engine's job is to
# decorrelate it into an aggregate + equi-join, never a per-row nested
# loop. Both entries run the ACTUAL correlated SQL through spark.sql()
# — the DataFrame API cannot express the correlation, and hand-
# decorrelating it would test our rewrite, not Catalyst's.
# ---------------------------------------------------------------------------


def _register_tpch_views(spark: SparkSession, sf_dir: str,
                         tables: tuple[str, ...]) -> None:
    """Temp views (thq_ prefix — no clash with any other plan's views)
    backed by the lazily planned catalog scans, so spark.sql text gets
    the same pushdown/pruning as the DataFrame plans."""
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"thq_{t}")


@register(
    "q17_small_qty_revenue",
    oracle="""
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
                AS VARCHAR) AS DOUBLE) / CAST(7 AS DOUBLE) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23'
      AND p_type = 'MEDIUM'
      AND l_quantity < (
          SELECT CAST(0.2 AS DOUBLE) * (SUM(l2.l_quantity) / COUNT(*))
          FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
    tags=("join", "agg", "subquery", "flagship"),
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): yearly revenue lost
    if small orders (below 20% of the part's average order quantity)
    were no longer taken, for one brand/type slice — the canonical
    correlated-AVG-subquery benchmark, adapted to this schema's part
    columns (no p_container; p_type stands in).

    The scale story IS the decorrelation: Catalyst rewrites the
    per-row `l_quantity < (SELECT 0.2*avg .. WHERE l2.l_partkey =
    p_partkey)` into one map-side-combined aggregate of lineitem by
    l_partkey joined back on the part key — the whole query is two
    scans of lineitem (one aggregated), a broadcast of the ~0.08%
    part slice, and equi-joins; a naive engine would re-scan lineitem
    once per qualifying row. The plan-pin test asserts no
    BroadcastNestedLoopJoin/CartesianProduct survives. Determinism:
    quantities are integral doubles (sums exact in IEEE at any
    partitioning), the avg is expressed as SUM/COUNT in BOTH engines
    (DuckDB's incremental AVG(double) would drift), and revenue goes
    through the exact-decimal chain (registry rules)."""
    _register_tpch_views(spark, sf_dir, ("lineitem", "part"))
    return spark.sql("""
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
                    AS DOUBLE) / CAST(7 AS DOUBLE) AS avg_yearly
        FROM thq_lineitem JOIN thq_part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#23'
          AND p_type = 'MEDIUM'
          AND l_quantity < (
              SELECT CAST(0.2 AS DOUBLE) * (SUM(l2.l_quantity) / COUNT(*))
              FROM thq_lineitem l2 WHERE l2.l_partkey = p_partkey)
    """)


@register(
    "q2_min_cost_supplier",
    oracle="""
    SELECT DISTINCT p_partkey, p_brand, s_name, n_name, s_acctbal,
           l_extendedprice AS supply_cost
    FROM part, lineitem, supplier, nation, region
    WHERE p_partkey = l_partkey AND l_suppkey = s_suppkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE' AND p_size < 10
      AND l_extendedprice = (
          SELECT MIN(l2.l_extendedprice)
          FROM lineitem l2, supplier s2, nation n2, region r2
          WHERE l2.l_partkey = p_partkey AND l2.l_suppkey = s2.s_suppkey
            AND s2.s_nationkey = n2.n_nationkey
            AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
    tags=("join", "subquery", "ranking", "flagship"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): for each small part,
    the European supplier(s) offering it at the region's minimum
    observed price — the canonical correlated-MIN-subquery benchmark,
    adapted to this schema (no partsupp table; lineitem is the
    part↔supplier price link, l_extendedprice the supply cost).

    Catalyst decorrelates the 4-table correlated MIN into one
    aggregate of the region-filtered lineitem⨝supplier⨝nation⨝region
    subtree by l_partkey, equi-joined back on the part key — the
    region dims broadcast (constant size), supplier stays AQE-sized,
    and no nested loop appears (plan-pin test). Determinism: the MIN
    and every output column are raw stored doubles (zero arithmetic,
    so cross-engine bit-identical), DISTINCT collapses equal-price
    line duplicates, and the (s_acctbal DESC, n_name, s_name,
    p_partkey) sort is a total order on the output (s_name is unique
    per supplier, one row per part×supplier), so the top-100 is
    reproducible."""
    _register_tpch_views(spark, sf_dir,
                         ("part", "lineitem", "supplier", "nation", "region"))
    return spark.sql("""
        SELECT DISTINCT p_partkey, p_brand, s_name, n_name, s_acctbal,
               l_extendedprice AS supply_cost
        FROM thq_part, thq_lineitem, thq_supplier, thq_nation, thq_region
        WHERE p_partkey = l_partkey AND l_suppkey = s_suppkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'EUROPE' AND p_size < 10
          AND l_extendedprice = (
              SELECT MIN(l2.l_extendedprice)
              FROM thq_lineitem l2, thq_supplier s2, thq_nation n2,
                   thq_region r2
              WHERE l2.l_partkey = p_partkey AND l2.l_suppkey = s2.s_suppkey
                AND s2.s_nationkey = n2.n_nationkey
                AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100
    """)


@register(
    "lateral_topk_customers_per_nation",
    oracle="""
    SELECT n_name AS nation, t.c_custkey, t.c_name, t.c_acctbal
    FROM nation,
    LATERAL (SELECT c_custkey, c_name, c_acctbal
             FROM customer
             WHERE c_nationkey = n_nationkey
             ORDER BY c_acctbal DESC, c_custkey
             LIMIT 3) t
    """,
    tags=("join", "subquery", "ranking"),
)
def lateral_topk_customers_per_nation(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery (the third subquery class after the
    Q17 scalar-agg and Q2 scalar-min shapes): per nation, the top-3
    account-balance customers, written as the SQL user writes it —
    `FROM nation, LATERAL (SELECT ... WHERE c_nationkey = n_nationkey
    ORDER BY ... LIMIT 3)`.

    The plan is the point: Catalyst decorrelates the per-row LIMIT
    into `WindowGroupLimit` (partial BEFORE the shuffle — each map
    task forwards at most 3 rows per nation, the top-k analog of
    map-side combine) + row_number ≤ 3 + one broadcast join of the
    constant-size dim; a naive engine re-sorts customer once per
    nation. Deterministic: raw stored doubles, (acctbal DESC, custkey)
    is a total order per group, and the 75-row output is fully
    determined with no outer sort needed (the driver compare is
    order-insensitive)."""
    _register_tpch_views(spark, sf_dir, ("nation", "customer"))
    return spark.sql("""
        SELECT n_name AS nation, t.c_custkey, t.c_name, t.c_acctbal
        FROM thq_nation,
        LATERAL (SELECT c_custkey, c_name, c_acctbal
                 FROM thq_customer
                 WHERE c_nationkey = n_nationkey
                 ORDER BY c_acctbal DESC, c_custkey
                 LIMIT 3) t
    """)


# ---------------------------------------------------------------------------
# CUSUM change-point detection on event volume
# ---------------------------------------------------------------------------

@register(
    "events_volume_cusum",
    oracle="""
    WITH hourly AS (
        SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    c AS (
        SELECT event_type, hr, n,
               SUM(n) OVER (PARTITION BY event_type ORDER BY hr
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS runsum,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr) AS rn,
               CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE)
                 / COUNT(*) OVER (PARTITION BY event_type) AS rate
        FROM hourly
    ),
    d AS (
        SELECT event_type, hr, n,
               runsum - rn * rate AS cusum
        FROM c
    )
    SELECT event_type, hr, n, cusum,
           abs(cusum) = MAX(abs(cusum)) OVER (PARTITION BY event_type)
             AS is_changepoint
    FROM d
    """,
    tags=("events", "monitoring", "window"),
)
def events_volume_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on hourly event volume per type:
    the cumulative deviation from the type's mean hourly rate, with
    the classic CUSUM change-point estimate (the hour where |cusum|
    peaks — before a rate shift the deviations accumulate one way,
    after it the other, so the elbow marks the shift). The monitoring
    pass a pipeline runs over its own throughput counters to catch
    upstream breakage or traffic regime changes.

    Numeric shape: cusum is NOT accumulated in floating point — it is
    ``runsum − rn·rate`` where runsum/rn are exact integers from the
    window and rate is one int/int division, so every value is a
    3-term IEEE scalar expression, bit-identical cross-engine (a
    naive float running sum would be order-dependent). One shuffle for
    the hourly aggregation; the per-type windows run over hour-grid
    cardinality (|types| × |hours| — bounded; at 100 TB the hourly
    pre-aggregation IS the reduction, shuffling one row per
    (type, hour))."""
    e = load_table(spark, sf_dir, "events")
    hourly = (e.groupBy("event_type",
                        F.expr("unix_micros(cast(ts as timestamp))"
                               " div 3600000000").alias("hr"))
              .agg(F.count(F.lit(1)).cast("long").alias("n")))
    w = Window.partitionBy("event_type").orderBy("hr")
    wt = Window.partitionBy("event_type")
    c = hourly.select(
        "event_type", "hr", "n",
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding,
                                      Window.currentRow)).alias("runsum"),
        F.row_number().over(w).alias("rn"),
        (F.sum("n").over(wt).cast("double")
         / F.count(F.lit(1)).over(wt)).alias("rate"))
    d = c.select("event_type", "hr", "n",
                 (F.col("runsum") - F.col("rn") * F.col("rate"))
                 .alias("cusum"))
    return d.select(
        "event_type", "hr", "n", "cusum",
        (F.abs("cusum") == F.max(F.abs("cusum")).over(wt))
        .alias("is_changepoint"))


# ---------------------------------------------------------------------------
# Market-basket affinity (order-level brand co-purchase with lift)
# ---------------------------------------------------------------------------

@register(
    "orders_basket_affinity",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS ok, p.p_brand AS brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM items),
    per AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_b FROM items
            GROUP BY brand),
    co AS (
        SELECT a.brand AS brand_a, b.brand AS brand_b,
               CAST(COUNT(*) AS BIGINT) AS n_co
        FROM items a JOIN items b
          ON a.ok = b.ok AND a.brand < b.brand
        GROUP BY 1, 2
    )
    SELECT brand_a, brand_b, n_co,
           pa.n_b AS n_a, pb.n_b AS n_b,
           CAST(n_co AS DOUBLE) / n.n_orders AS support,
           CAST(n_co * n.n_orders AS DOUBLE) / (pa.n_b * pb.n_b) AS lift
    FROM co
    JOIN per pa ON pa.brand = co.brand_a
    JOIN per pb ON pb.brand = co.brand_b
    CROSS JOIN n
    """,
    tags=("join", "mining"),
)
def orders_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining at ORDER granularity: for every
    pair of part brands bought together in one order, the co-purchase
    count, support, and lift (lift > 1 ⇒ bought together more than
    brand popularity predicts — the "customers who bought X also
    bought Y" signal; the user-level events_type_cooccurrence answers
    a different question over a user's whole history).

    Scale shape: the basket table is the DISTINCT (order, brand)
    projection — partial-aggregated before the self-join, so pair
    generation is Σ basket_size² per order (baskets are small by
    construction: an order has a handful of brands), keyed on the
    high-cardinality orderkey. Brand totals and the 1-row order count
    broadcast back; output cardinality is |brands|². Lift/support are
    exact-integer products with one IEEE division each.

    The basket table is a persist seam (round-14, guide §2.4): it has
    FOUR consumers (order count, brand totals, both self-join sides)
    and Catalyst does not reuse a subtree across branches, so the
    lineitem⨝part join + distinct ran four times (before-plan: 4
    lineitem scans)."""
    from ..seams import persist_seam

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    items = persist_seam(
        li.join(p, li.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("ok"),
                F.col("p_brand").alias("brand"))
        .distinct())
    n = items.agg(F.countDistinct("ok").cast("long").alias("n_orders"))
    per = items.groupBy("brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_b"))
    a, b = items.alias("a"), items.alias("b")
    co = (a.join(b, (F.col("a.ok") == F.col("b.ok"))
                 & (F.col("a.brand") < F.col("b.brand")))
          .groupBy(F.col("a.brand").alias("brand_a"),
                   F.col("b.brand").alias("brand_b"))
          .agg(F.count(F.lit(1)).cast("long").alias("n_co")))
    pa = F.broadcast(per.select(F.col("brand").alias("brand_a"),
                                F.col("n_b").alias("n_a")))
    pb = F.broadcast(per.select(F.col("brand").alias("brand_b"),
                                F.col("n_b").alias("n_b")))
    return (
        co.join(pa, "brand_a").join(pb, "brand_b").join(n)
        .select("brand_a", "brand_b", "n_co", "n_a", "n_b",
                (F.col("n_co").cast("double") / F.col("n_orders"))
                .alias("support"),
                ((F.col("n_co") * F.col("n_orders")).cast("double")
                 / (F.col("n_a") * F.col("n_b"))).alias("lift"))
    )


# ---------------------------------------------------------------------------
# Equi-width histogram with per-group CDF (profiling: value distribution)
# ---------------------------------------------------------------------------

HIST_WIDTH = 25_000.0  # dollars per bucket; totalprice spans ~[1k, 500k]


@register(
    "dq_histogram_totalprice",
    oracle=f"""
    WITH binned AS (
        SELECT o_orderpriority,
               CAST(FLOOR(o_totalprice / {HIST_WIDTH}) AS INTEGER) AS bin,
               o_totalprice
        FROM orders
    ),
    hist AS (
        SELECT o_orderpriority, bin,
               CAST(bin * {HIST_WIDTH} AS DOUBLE) AS bin_lo,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               MIN(o_totalprice) AS min_price,
               MAX(o_totalprice) AS max_price
        FROM binned GROUP BY o_orderpriority, bin
    )
    SELECT o_orderpriority, bin, bin_lo, n_orders, min_price, max_price,
           CAST(SUM(n_orders) OVER (
               PARTITION BY o_orderpriority ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_orders
    FROM hist
    """,
    tags=("quality", "agg", "window"),
)
def dq_histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width value histogram of order totals per priority class,
    with the running (cumulative) count per class — the distribution
    profile a DQ pass draws next to dq_profile_orders' scalar metrics,
    and the bucket layout an optimizer's column histogram stores.

    Scale shape: binning is a map-only projection (one double divide +
    floor per row — identical correctly-rounded IEEE ops on both
    engines, so bucket edges agree bit-exactly); the histogram is ONE
    map-side-combined aggregation on (priority, bin) — cardinality
    bounded by |priorities|×|buckets| (~100), independent of row
    count; the CDF is a window over those ~100 aggregated rows, not
    over the fact table. min/max are value COPIES (no float
    arithmetic), so every output column is exact."""
    o = load_table(spark, sf_dir, "orders")
    binned = o.select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") / F.lit(HIST_WIDTH))
        .cast("int").alias("bin"),
        "o_totalprice")
    hist = (binned.groupBy("o_orderpriority", "bin")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.min("o_totalprice").alias("min_price"),
                 F.max("o_totalprice").alias("max_price"))
            .withColumn("bin_lo",
                        (F.col("bin") * F.lit(HIST_WIDTH)).cast("double")))
    w = (Window.partitionBy("o_orderpriority").orderBy("bin")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return hist.select(
        "o_orderpriority", "bin", "bin_lo", "n_orders",
        "min_price", "max_price",
        F.sum("n_orders").over(w).alias("cum_orders"))


# ---------------------------------------------------------------------------
# TPC-H Q4 / Q19 / Q22 shapes (round 10): the remaining subquery and
# predicate classes — EXISTS (semi-join decorrelation with a non-equi
# correlated conjunct), cross-table disjunctive predicates (partial
# pushdown from a DNF), and uncorrelated scalar subquery + NOT EXISTS
# (one-row broadcast + anti join). Like Q17/Q2, these run the ACTUAL
# SQL through spark.sql so the plan pins test Catalyst's rewrite.
# ---------------------------------------------------------------------------


@register(
    "q4_order_priority_checking",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY o_orderpriority
    """,
    tags=("join", "subquery", "agg"),
)
def q4_order_priority_checking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking): orders in a quarter with at
    least one line item shipped >90 days after the order date, counted
    per priority — the canonical EXISTS benchmark, adapted to this
    schema (no l_commitdate/l_receiptdate; the late-shipping predicate
    keeps Q4's point: the EXISTS carries a NON-EQUI correlated conjunct
    alongside the key equality).

    Catalyst must rewrite the EXISTS into a LEFT SEMI join on
    l_orderkey with the shipdate comparison as an extra join predicate
    — one pass over each table, semi-join short-circuiting per key —
    never a per-order probe of lineitem. The date filter pushes to the
    orders scan (0.04 selectivity before the join). Timestamp + 90-day
    arithmetic is exact integer micros in both engines."""
    _register_tpch_views(spark, sf_dir, ("orders", "lineitem"))
    return spark.sql("""
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM thq_orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (SELECT 1 FROM thq_lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        GROUP BY o_orderpriority
    """)


@register(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
               AS VARCHAR) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#16' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#18' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 40
           AND l_quantity BETWEEN 20 AND 40)
    """,
    tags=("join", "filter", "agg"),
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): revenue over an OR of three
    brand/size/quantity conjunct groups — the canonical DISJUNCTIVE
    cross-table predicate, which no single-table pushdown can satisfy
    alone.

    What the optimizer owes us here: each disjunct mixes part columns
    (brand, size) with a lineitem column (quantity), so the full DNF
    can't push anywhere — but its PER-TABLE projection can: Catalyst
    extracts `(brand=16∧size∈[1,15]) ∨ (brand=18∧…) ∨ (brand=3∧…)`
    onto the part scan and the quantity-range union onto the lineitem
    scan, then re-applies the exact DNF above the equi-join. The plan
    test pins both extracted filters and the absence of any nested
    loop. Revenue goes through the exact-decimal chain (registry
    rules); quantities are integral doubles so the BETWEENs are
    boundary-exact in both engines."""
    _register_tpch_views(spark, sf_dir, ("lineitem", "part"))
    return spark.sql("""
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
                   AS DOUBLE) AS revenue,
               COUNT(*) AS n_lines
        FROM thq_lineitem JOIN thq_part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#16' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#18' AND p_size BETWEEN 10 AND 30
               AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 40
               AND l_quantity BETWEEN 20 AND 40)
    """)


@register(
    "q22_global_sales_opportunity",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS VARCHAR)
                AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_acctbal > (
            SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2)))
                        AS VARCHAR) AS DOUBLE) / COUNT(c_acctbal)
            FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    """,
    tags=("join", "subquery", "agg"),
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): well-funded customers who
    have never ordered, counted per segment — the uncorrelated scalar
    subquery (global positive-balance average) combined with NOT
    EXISTS, adapted to this schema (c_mktsegment stands in for the
    phone country code, and "never ordered" tightens to "never placed
    an URGENT order" — the synthetic corpus gives every customer some
    order, which would make the original anti-join vacuously empty).

    Plan shape: the scalar average is ONE map-side-combined aggregate
    whose 1-row result broadcasts into the filter (computed once, not
    per row); NOT EXISTS rewrites to a LEFT ANTI join on c_custkey
    against orders; the surviving sliver aggregates per segment. The
    average is exact-decimal SUM / COUNT surfaced as a correctly-
    rounded double in both engines (registry o_davg rule), so the
    boundary comparison cannot drift cross-engine."""
    _register_tpch_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql("""
        SELECT c_mktsegment,
               COUNT(*) AS numcust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                 AS totacctbal
        FROM thq_customer
        WHERE c_acctbal > (
                SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                       / COUNT(c_acctbal)
                FROM thq_customer WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM thq_orders
                          WHERE o_custkey = c_custkey
                            AND o_orderpriority = '1-URGENT')
        GROUP BY c_mktsegment
    """)


@register(
    "q21_suppliers_kept_waiting",
    oracle="""
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      JOIN orders ON o_orderkey = l1.l_orderkey
      JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND n_name IN ('NATION_3', 'NATION_7')
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
    tags=("join", "subquery", "agg"),
)
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting): for finished
    orders, suppliers whose line shipped late (>90%-quantile lateness
    proxy: >60 days after the order date) on a MULTI-supplier order
    where NO other supplier shipped late — the hardest TPC-H
    decorrelation class, because EXISTS and NOT EXISTS are BOTH
    correlated on the same fact table (lineitem), and the NOT EXISTS
    carries a non-equi conjunct referencing a SECOND outer table
    (o_orderdate). Adapted to this schema: no l_commitdate/
    l_receiptdate, so "late" = shipped >60 days after order date; the
    self-join structure — same-order other-supplier existence both
    positive and negative — is Q21's point and is preserved intact.

    Plan shape Catalyst owes us: lineitem scanned THREE times (l1
    fact, l2 semi, l3 anti) but each as one shuffle-keyed pass on
    l_orderkey — the EXISTS becomes a LEFT SEMI join with the
    suppkey-inequality as a join conjunct, the NOT EXISTS a LEFT ANTI
    join carrying both the inequality and the shipdate>orderdate+60d
    non-equi conjunct (o_orderdate travels with the outer row, so the
    anti join stays a hash join on l_orderkey). Never a per-row
    re-probe; the plan test pins the semi+anti pair and the absence of
    any nested loop. Ordering (numwait DESC, s_name) is total — s_name
    is the grouping key — so LIMIT 100 is deterministic."""
    _register_tpch_views(spark, sf_dir,
                         ("supplier", "lineitem", "orders", "nation"))
    # The EXISTS/NOT EXISTS are phrased against a CTE holding the
    # ALREADY-FILTERED fact stream: left to itself Catalyst placed the
    # decorrelated LeftSemi BELOW the supplier/orders joins, so the
    # semi processed the full unfiltered lineitem as its LEFT side
    # (180M rows at sf30) before the nation slice and the >60-day
    # predicate cut it ~20x. With the correlation anchored on `late`,
    # both the semi and the anti probe the reduced stream; the l2/l3
    # RIGHT sides still scan full lineitem (every same-order line must
    # be visible — that is the query), which the decade control shows
    # scales linearly. Measured at sf30: 46.6 s -> ~31 s, decade ratio
    # 4.0x -> ~2.8x for 3x rows (round-12).
    return spark.sql("""
        WITH late AS (
            SELECT s_name, l1.l_orderkey AS lo, l1.l_suppkey AS ls,
                   o_orderdate
            FROM thq_supplier JOIN thq_lineitem l1 ON s_suppkey = l1.l_suppkey
              JOIN thq_orders ON o_orderkey = l1.l_orderkey
              JOIN thq_nation ON s_nationkey = n_nationkey
            WHERE o_orderstatus = 'F'
              AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
              AND n_name IN ('NATION_3', 'NATION_7')
        )
        SELECT s_name, COUNT(*) AS numwait
        FROM late
        WHERE EXISTS (SELECT 1 FROM thq_lineitem l2
                      WHERE l2.l_orderkey = late.lo
                        AND l2.l_suppkey <> late.ls)
          AND NOT EXISTS (SELECT 1 FROM thq_lineitem l3
                          WHERE l3.l_orderkey = late.lo
                            AND l3.l_suppkey <> late.ls
                            AND l3.l_shipdate > late.o_orderdate + INTERVAL 60 DAY)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 100
    """)


@register(
    "q20_potential_part_promotion",
    oracle="""
    SELECT s_name, s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_1', 'NATION_5', 'NATION_9')
      AND s_suppkey IN (
        SELECT l1.l_suppkey FROM lineitem l1
        WHERE l1.l_partkey IN (SELECT p_partkey FROM part
                               WHERE p_name LIKE 'red%')
          AND l1.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l1.l_shipdate <  TIMESTAMP '1997-01-01'
        GROUP BY l1.l_suppkey, l1.l_partkey
        HAVING SUM(l1.l_quantity) > (
            SELECT 0.2 * SUM(l2.l_quantity) FROM lineitem l2
            WHERE l2.l_partkey = l1.l_partkey
              AND l2.l_shipdate >= TIMESTAMP '1996-01-01'
              AND l2.l_shipdate <  TIMESTAMP '1997-01-01'))
    ORDER BY s_name
    """,
    tags=("join", "subquery", "agg"),
)
def q20_potential_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion): suppliers in a nation set
    who shipped >20% of a "red" part's total windowed volume — the
    nested-IN-chain class: IN(part names) inside IN(supplier keys),
    with a CORRELATED scalar aggregate (per-part total) gating the
    inner group. Adapted to this schema: no partsupp table, so the
    supplier↔part relation is lineitem itself and ps_availqty's "half
    of shipped quantity" threshold becomes "20% of the part's total
    shipped quantity in the window" — the decorrelation shape (IN
    chain + correlated scalar agg on the same fact) is unchanged.

    Plan shape: the part-name IN becomes a broadcast semi join into
    the lineitem scan (257 of 2000 parts); the correlated per-part
    total decorrelates into ONE aggregate over the same filtered
    window joined back on l_partkey (never a per-group re-scan); the
    outer IN becomes a semi join into the 100-row supplier dim.
    Quantities are integral doubles — sums exact, and the 0.2×
    threshold is the identical IEEE multiply in both engines."""
    _register_tpch_views(spark, sf_dir,
                         ("supplier", "lineitem", "part", "nation"))
    return spark.sql("""
        SELECT s_name, s_acctbal
        FROM thq_supplier JOIN thq_nation ON s_nationkey = n_nationkey
        WHERE n_name IN ('NATION_1', 'NATION_5', 'NATION_9')
          AND s_suppkey IN (
            SELECT l1.l_suppkey FROM thq_lineitem l1
            WHERE l1.l_partkey IN (SELECT p_partkey FROM thq_part
                                   WHERE p_name LIKE 'red%')
              AND l1.l_shipdate >= TIMESTAMP '1996-01-01'
              AND l1.l_shipdate <  TIMESTAMP '1997-01-01'
            GROUP BY l1.l_suppkey, l1.l_partkey
            HAVING SUM(l1.l_quantity) > (
                SELECT 0.2 * SUM(l2.l_quantity) FROM thq_lineitem l2
                WHERE l2.l_partkey = l1.l_partkey
                  AND l2.l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l2.l_shipdate <  TIMESTAMP '1997-01-01'))
        ORDER BY s_name
    """)


@register(
    "q13_customer_order_distribution",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM (
      SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '1-%'
      GROUP BY c_custkey) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    tags=("join", "agg"),
)
def q13_customer_order_distribution(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): histogram of per-customer
    order counts where the order filter lives in the OUTER JOIN's ON
    clause — the class Q13 exists to test, because hoisting the
    predicate into WHERE silently turns the left-outer into an inner
    join and drops the zero-order customers the histogram's head is
    made of. Adapted: o_comment doesn't exist, so the non-trivial ON
    predicate is o_orderpriority NOT LIKE '1-%' (same shape — a
    pattern filter that must stay in the join condition).

    Plan shape: one shuffle-keyed LEFT OUTER hash join (customer ⟕
    filtered orders), COUNT(o_orderkey) counting only matched rows
    (NULL-skipping count is exactly the outer-join-aware semantics),
    then a second small aggregate over 1 row per customer. Both
    aggregates are map-side combined; nothing here is per-row."""
    _register_tpch_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql("""
        SELECT c_count, COUNT(*) AS custdist FROM (
          SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM thq_customer LEFT OUTER JOIN thq_orders
            ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '1-%'
          GROUP BY c_custkey) c_orders
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """)


@register(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
                  AS VARCHAR) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
    tags=("join", "subquery", "agg"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the max-over-view class — a revenue
    view (per-supplier quarterly revenue) consumed TWICE, once as the
    join input and once under MAX() in the filter. Verbatim Q15
    semantics; only the date window is adapted to this corpus's span.

    Plan shape: the revenue aggregate is ONE map-side-combined
    groupBy over the quarter's lineitem sliver (shipdate filter pushed
    to the scan); the MAX-of-view scalar subquery reduces that same
    100-row aggregate — the view is 1-row-per-supplier small, so
    recomputing it under the scalar is bounded by the dim size, never
    a second fact scan of consequence (Spark plans a ReusedExchange /
    reused scan for the shared subtree where eligible). Equality on
    total_revenue is safe cross-engine because both sides surface the
    identical exact-DECIMAL sum as a correctly-rounded double
    (registry money rule) — ties, if any, return all tied suppliers
    in both engines identically."""
    _register_tpch_views(spark, sf_dir, ("supplier", "lineitem"))
    return spark.sql("""
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (CAST(1 AS DECIMAL(3,2))
                         - CAST(l_discount AS DECIMAL(3,2))))
                      AS DOUBLE) AS total_revenue
          FROM thq_lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_revenue
        FROM thq_supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        ORDER BY s_suppkey
    """)
