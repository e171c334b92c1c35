"""Event-time windows over the ``events`` table (SURVEY.md §2.9 T5).

The reference has no event-time windowing (its only temporal semantics
are source offsets); these plans add the tumbling / sliding / session
windows a streaming engine needs, in their *batch* form — ``F.window``
and ``F.session_window`` are the exact same operators Structured
Streaming uses, so the streaming module (jira_scraper_etl_spark/
streaming/) reuses these plans verbatim behind ``readStream``.

Oracle notes: Spark aligns tumbling windows to the Unix epoch; DuckDB's
``time_bucket`` origin (2000-01-03) is hour/minute aligned with the
epoch, so buckets agree for any slide that divides a day evenly.
Session merge uses the half-open ``[ts, ts+gap)`` rule, i.e. a gap of
exactly 30min starts a NEW session — oracle uses strict ``<``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import load_events
from .registry import register, dsum, o_dsum


@register(
    "events_tumbling_1h",
    oracle="""
    SELECT DATE_TRUNC('hour', ts) AS win_start,
           event_type,
           COUNT(*) AS n, {v}
    FROM events
    GROUP BY DATE_TRUNC('hour', ts), event_type
    """.format(v=o_dsum("value", "total_value")),
    tags=("events", "window-time"),
)
def events_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 tumbling window: 1-hour buckets per event type. Same operator
    Structured Streaming uses with a watermark; batch mode here."""
    e = load_events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "total_value"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "total_value")
    )


@register(
    "events_sliding_1h_30m",
    oracle="""
    WITH assigned AS (
        SELECT TIME_BUCKET(INTERVAL '30 minutes', ts) AS win_start, value FROM events
        UNION ALL
        SELECT TIME_BUCKET(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', value
        FROM events
    )
    SELECT win_start, COUNT(*) AS n, {v}
    FROM assigned GROUP BY win_start
    """.format(v=o_dsum("value", "total_value")),
    tags=("events", "window-time"),
)
def events_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 sliding window: 1-hour length, 30-minute slide (each event in
    exactly two windows; Spark expands via its internal window generator)."""
    e = load_events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "total_value"))
        .select(F.col("w.start").alias("win_start"), "n", "total_value")
    )


@register(
    "events_session_30m",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         < INTERVAL '30 minutes'
                    THEN 0 ELSE 1 END AS new_sess
        FROM events
    ), numbered AS (
        SELECT user_id, ts, value,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n, {v}
    FROM numbered GROUP BY user_id, sid
    """.format(v=o_dsum("value", "total_value")),
    tags=("events", "window-time"),
)
def events_session_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 session window: 30-minute inactivity gap per user.

    ``F.session_window`` is Spark's native sessionizer (merging
    [ts, ts+gap) intervals); the oracle reproduces it with the classic
    gaps-and-islands LAG + running-sum construction.

    SESSION BOUNDS ARE EXPOSED AS AGGREGATES (min(ts) / max(ts)+gap —
    value-identical to w.start / w.end), NOT as the window struct's
    fields, deliberately: Catalyst pushes filters on grouping
    expressions below the aggregation, which is sound for tumbling
    windows but UNSOUND for session windows — the pre-merge window
    column is [ts, ts+gap) per EVENT, so a pushed ``session_end < X``
    cuts individual events out of sessions that straddle X−gap and
    fabricates split sessions (found at the sf10 soak: 200 phantom
    1-event sessions, minimal repro in
    tests/test_catalog_events.py::test_session_filter_pushdown_immunity).
    Filters on aggregate results can never push below the aggregation,
    so this spelling is immune at zero cost."""
    e = load_events(spark, sf_dir)
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.min("ts").alias("session_start"),
            (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("session_end"),
            F.count(F.lit(1)).alias("n"), dsum("value", "total_value"))
        .select("user_id", "session_start", "session_end", "n", "total_value")
    )


@register(
    "events_session_concurrency",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         < INTERVAL '30 minutes'
                    THEN 0 ELSE 1 END AS new_sess,
               event_id
        FROM events
    ), numbered AS (
        SELECT user_id, ts,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    ), sessions AS (
        SELECT user_id, MIN(ts) AS s, MAX(ts) + INTERVAL '30 minutes' AS e
        FROM numbered GROUP BY user_id, sid
    )
    SELECT h AS hour, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM (
        SELECT unnest(generate_series(
                   date_trunc('hour', s),
                   date_trunc('hour', e - INTERVAL '1 microsecond'),
                   INTERVAL '1 hour')) AS h
        FROM sessions
    ) GROUP BY h
    """,
    tags=("events", "interval-join"),
)
def events_session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-session load curve: how many 30-minute-gap sessions
    are active in each hour — the interval-overlap problem every
    telemetry store answers.

    The scale-defining trick: interval overlap is NOT a join with a
    range predicate (which degenerates to per-bucket cross products or
    a global sweep-line sort). Each session interval [start, end) is
    exploded to the hour buckets it covers, turning overlap membership
    into plain equi-keys; the count per bucket is then an ordinary
    map-side-combined aggregation. Cost is O(session-hours), keyed
    end-to-end: one shuffle to sessionize (user_id), one to aggregate
    (hour). Hot hours are partial-aggregated before the shuffle, so
    peak load doesn't concentrate on one reducer.
    """
    e = load_events(spark, sf_dir)
    # bounds as aggregates, not w.start/w.end — the session-window
    # filter-pushdown immunity rule (see events_session_30m)
    sess = (e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
            .agg(F.min("ts").alias("s_start"),
                 (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("s_end")))
    hours = sess.select(F.explode(F.sequence(
        F.date_trunc("hour", F.col("s_start")),
        F.date_trunc("hour", F.col("s_end") - F.expr("INTERVAL 1 MICROSECOND")),
        F.expr("INTERVAL 1 HOUR"),
    )).alias("hour"))
    return hours.groupBy("hour").agg(
        F.count(F.lit(1)).alias("n_sessions"))


@register(
    "events_hourly_gapfill",
    oracle="""
    WITH bounds AS (
        SELECT DATE_TRUNC('hour', MIN(ts)) AS lo,
               DATE_TRUNC('hour', MAX(ts)) AS hi
        FROM events
    ),
    spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS hour
        FROM bounds
    ),
    counts AS (
        SELECT DATE_TRUNC('hour', ts) AS hour, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    )
    SELECT s.hour, COALESCE(c.n, 0) AS n
    FROM spine s LEFT JOIN counts c ON s.hour = c.hour
    """,
    tags=("events", "gapfill"),
)
def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densified hourly event counts: every hour between the corpus min
    and max appears, zero-filled — the date-spine pattern dashboards
    and forecasting inputs need (a groupBy alone silently drops empty
    hours).

    The spine is generated from a 1-row bounds aggregate via sequence +
    explode — a few thousand rows per year. A LEFT join can only build
    its right side, so the hourly counts broadcast while they measure
    under the threshold, and the join sort-merges above it.
    """
    e = load_events(spark, sf_dir)
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"))
    spine = bounds.select(F.explode(F.sequence(
        "lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour"))
    counts = (e.groupBy(F.date_trunc("hour", "ts").alias("hour"))
              .agg(F.count(F.lit(1)).alias("n")))
    return (spine.join(counts, "hour", "left")
            .select("hour", F.coalesce("n", F.lit(0)).alias("n")))


@register(
    "events_latest_state_per_user",
    oracle="""
    SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
           ts AS last_ts
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    tags=("events", "cdc"),
)
def events_latest_state_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3/T4 CDC-style upsert compaction: keep each user's latest event —
    the reference's re-fetch-and-overwrite semantics (transformer.py:359)
    expressed as a deterministic dedup-by-recency."""
    e = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.col("ts").alias("last_ts"),
        )
    )


@register(
    "events_funnel_1h",
    oracle="""
    WITH s AS (
        SELECT user_id, MIN(ts) AS first_signup
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    p AS (
        SELECT e.user_id, s.first_signup, MIN(e.ts) AS first_purchase_after
        FROM events e JOIN s ON e.user_id = s.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= s.first_signup
        GROUP BY e.user_id, s.first_signup
    )
    SELECT s.user_id, s.first_signup, p.first_purchase_after,
           COALESCE(p.first_purchase_after <= s.first_signup + INTERVAL '1 hour',
                    FALSE) AS converted
    FROM s LEFT JOIN p ON s.user_id = p.user_id
    """,
    tags=("events", "funnel"),
)
def events_funnel_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel: per user, first signup → first purchase at or
    after it; converted iff within 1 hour. Two keyed aggregations plus a
    join — at 100 TB both aggregate map-side first, and the join keys on
    user_id (already the natural partitioning of an events table)."""
    e = load_events(spark, sf_dir)
    s = (e.where(F.col("event_type") == "signup")
         .groupBy("user_id").agg(F.min("ts").alias("first_signup")))
    p = (e.where(F.col("event_type") == "purchase")
         .join(s, "user_id")
         .where(F.col("ts") >= F.col("first_signup"))
         .groupBy("user_id", "first_signup")
         .agg(F.min("ts").alias("first_purchase_after")))
    return (
        s.join(p, ["user_id", "first_signup"], "left")
        .select(
            "user_id", "first_signup", "first_purchase_after",
            F.coalesce(
                F.col("first_purchase_after")
                <= F.col("first_signup") + F.expr("INTERVAL 1 HOUR"),
                F.lit(False),
            ).alias("converted"),
        )
    )


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "events_pivot_type_counts",
    oracle="""
    SELECT user_id,
           """ + ",\n           ".join(
               f"CAST(COUNT(*) FILTER (WHERE event_type = '{t}') AS BIGINT)"
               f" AS n_{t}" for t in _EVENT_TYPES) + """
    FROM events GROUP BY user_id
    """,
    tags=("events", "pivot"),
)
def events_pivot_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 pivot: per-user event-type count matrix via ``groupBy().pivot()``.

    The pivot value list is passed explicitly — otherwise Spark runs an
    extra distinct-values job over the whole table before it can even
    plan, which at 100 TB is a full scan spent discovering five strings.
    With the list pinned, Spark plans two hash aggregations, both
    map-side combined and keyed: a pre-aggregation on (user_id,
    event_type) that collapses the raw events, then the pivotfirst
    rollup on user_id over the already-tiny distinct matrix — so the
    second shuffle carries at most |users|×|types| rows regardless of
    input size.
    """
    e = load_events(spark, sf_dir)
    p = (e.groupBy("user_id")
         .pivot("event_type", list(_EVENT_TYPES))
         .agg(F.count(F.lit(1))))
    # pivot yields NULL for (user, type) combos with no rows; the
    # conditional-count oracle yields 0 — align on 0
    return p.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}")
          for t in _EVENT_TYPES],
    )


@register(
    "events_unpivot_type_counts",
    oracle="""
    WITH m AS (
        SELECT user_id,
               """ + ",\n               ".join(
        f"CAST(COUNT(*) FILTER (WHERE event_type = '{t}') AS BIGINT)"
        f" AS n_{t}" for t in _EVENT_TYPES) + """
        FROM events GROUP BY user_id
    )
    """ + "\n    UNION ALL\n    ".join(
        f"SELECT user_id, '{t}' AS event_type, n_{t} AS n FROM m"
        for t in _EVENT_TYPES),
    tags=("events", "pivot"),
)
def events_unpivot_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 unpivot (wide → long, the inverse reshaping operator of
    events_pivot_type_counts): the per-user type-count matrix melted
    back to (user_id, event_type, n) rows via ``DataFrame.unpivot`` —
    zero cells INCLUDED (that is what distinguishes a faithful unpivot
    of the matrix from a plain groupBy over the raw events, which has
    no row for absent combinations).

    Plan shape: unpivot is an Expand node — a map-only row generator
    (|types| output rows per input row) sitting ABOVE the two
    map-side-combined pivot aggregations, so the melt adds zero
    shuffles; output is |users|×|types| rows by construction. The
    oracle spells the same semantics as a UNION ALL over the
    conditional-count matrix."""
    e = load_events(spark, sf_dir)
    wide = (e.groupBy("user_id")
            .pivot("event_type", list(_EVENT_TYPES))
            .agg(F.count(F.lit(1))))
    wide = wide.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(t)
          for t in _EVENT_TYPES])
    return wide.unpivot(["user_id"], list(_EVENT_TYPES),
                        "event_type", "n")


@register(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    """,
    tags=("events", "sequence"),
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-path analytics: count (event → next event) transitions per
    user timeline — the input to funnel discovery and Markov-chain user
    models. event_id breaks timestamp ties so the successor is
    well-defined cross-engine.

    One window shuffle keyed on user_id (the natural events layout, so
    at 100 TB this often rides the existing partitioning), then a
    map-side-combined count whose output is at most |types|² rows.
    """
    e = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select("user_id", "event_type",
                 F.lead("event_type").over(w).alias("next_type"))
        .where(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"),
                 F.col("next_type").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "events_enriched_segment_hourly",
    oracle="""
    SELECT c_mktsegment AS segment, date_trunc('hour', ts) AS hr,
           CAST(COUNT(*) AS BIGINT) AS n, {v}
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    """.format(v=o_dsum("value", "total_value")),
    tags=("events", "join", "enrichment"),
)
def events_enriched_segment_hourly(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Dimension-enriched event rollup: events joined to the customer
    profile on user_id, aggregated per (market segment, hour) — the
    canonical enrichment shape every telemetry pipeline runs, and the
    batch twin of the STREAM-STATIC join in
    streaming/events.enriched_segment_counts (same join, same window
    operator, differential-tested).

    Plan shape at 100 TB: the dim side projects two columns
    (c_custkey, c_mktsegment) — column pruning reaches the scan — and
    broadcasts (AQE below threshold; at a 1.5B-customer dim the join
    key rides the events partitioning instead), then one
    map-side-combined aggregation whose output is |segments|×|hours|
    rows regardless of event volume."""
    from ..catalog import load_table

    e = load_events(spark, sf_dir)
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment")
    return (
        e.join(c, e.user_id == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"),
                 F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "total_value"))
    )


REACH_FANOUT = 2   # top-k outgoing edges kept per node
REACH_MAX_HOPS = 6

_REACH_SQL = f"""
WITH RECURSIVE seq AS (
    SELECT event_type AS src,
           LEAD(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS dst
    FROM {{events}}
),
tc AS (
    SELECT src, dst, COUNT(*) AS n
    FROM seq WHERE dst IS NOT NULL AND dst <> src
    GROUP BY src, dst
),
edges AS (
    SELECT src, dst
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY src
                                       ORDER BY n DESC, dst) AS rk
          FROM tc)
    WHERE rk <= {REACH_FANOUT}
),
reach AS (
    SELECT src, dst, 1 AS hops FROM edges
    UNION ALL
    SELECT r.src, e.dst, r.hops + 1
    FROM reach r JOIN edges e ON r.dst = e.src
    WHERE r.hops < {REACH_MAX_HOPS}
)
SELECT src, dst, CAST(MIN(hops) AS INTEGER) AS min_hops
FROM reach GROUP BY src, dst
"""


@register(
    "events_reachability_hops",
    oracle=_REACH_SQL.format(events="events"),
    tags=("events", "graph", "recursive"),
)
def events_reachability_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE — new in Spark 4): minimum-hop
    reachability over the event-type transition graph, sparsified to
    each type's top-REACH_FANOUT outgoing transitions (count-ranked,
    dst tie-break — deterministic). The graph-traversal relational
    class — BOM explosions, org charts, path closures — that plain
    joins cannot express without a fixed join count.

    Scale shape: the recursion runs on the CONTRACTED graph, never the
    corpus — ONE window shuffle keyed on user_id builds the transition
    counts (map-side-combined, ≤ |types|² rows out), the top-k prune
    leaves ≤ REACH_FANOUT·|types| edges, and each recursive step is
    a join over that bounded edge table (the
    dedup_cluster_canonical / bpe contraction pattern: corpus-sized
    work once, model-sized iteration). Depth is bounded by the hop
    cap; the final MIN collapses the path enumeration into the
    order-insensitive distance table, which is what makes UNION ALL
    recursion (both engines' semantics) deterministic to compare.
    Identical SQL text runs on both engines."""
    load_events(spark, sf_dir).createOrReplaceTempView("thq_events")
    return spark.sql(_REACH_SQL.format(events="thq_events"))


@register(
    "events_cohort_retention",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, DATE_TRUNC('day', MIN(ts)) AS cohort_day
        FROM events GROUP BY user_id
    )
    SELECT f.cohort_day,
           CAST(DATE_DIFF('day', f.cohort_day, DATE_TRUNC('day', e.ts))
                AS BIGINT) AS day_offset,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active
    FROM events e JOIN first_seen f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
    tags=("events", "cohort"),
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen day, then
    distinct active users per (cohort, day-offset) — the standard
    product-analytics retention matrix.

    Scale shape: first-seen is one keyed aggregation on user_id
    (map-side combined); the join back is keyed on user_id; the final
    COUNT(DISTINCT user_id) per (cohort, offset) is Spark's two-stage
    distinct expansion — every shuffle keyed, the widest one carrying
    (cohort, offset, user_id) triples. At 100 TB the events table is
    already partitioned by user_id or date, so the first two shuffles
    piggyback on the native layout.
    """
    e = load_events(spark, sf_dir)
    # to_date, not date_trunc: Spark's date_trunc returns TIMESTAMP
    # while DuckDB's returns DATE — the typed hash would diverge
    first_seen = (e.groupBy("user_id")
                  .agg(F.to_date(F.min("ts")).alias("cohort_day")))
    return (
        e.join(first_seen, "user_id")
        .select(
            "user_id", "cohort_day",
            F.datediff(F.to_date(F.col("ts")), F.col("cohort_day"))
            .cast("bigint").alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_active"))
    )


@register(
    "events_trailing_1h_sum",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(FLOOR(CAST(value AS DOUBLE) * 100) AS BIGINT)) OVER (
               PARTITION BY user_id
               ORDER BY CAST(FLOOR(EXTRACT(EPOCH FROM ts)) AS BIGINT)
               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS trailing_qsum
    FROM events
    """,
    tags=("events", "window-frame"),
)
def events_trailing_1h_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 RANGE frame: per event, the quantized-value sum of the same
    user's events in the trailing hour — ``rangeBetween`` on epoch
    seconds (value-based frame, so equal timestamps land in the same
    frame on every engine regardless of tie order). The moving-window
    feature a monitoring pipeline computes per entity."""
    e = load_events(spark, sf_dir)
    qv = F.floor(F.col("value").cast("double") * 100).cast("bigint")
    epoch = F.unix_timestamp("ts")
    w = (Window.partitionBy("user_id").orderBy(epoch)
         .rangeBetween(-3600, Window.currentRow))
    return e.select(
        "event_id", "user_id",
        F.sum(qv).over(w).alias("trailing_qsum"),
    )


@register(
    "events_attribution_1h",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id,
           CAST(COUNT(c.event_id) AS BIGINT) AS n_clicks_1h,
           MAX(c.ts) AS last_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL '1 hour' AND c.ts < p.ts
    GROUP BY p.event_id, p.user_id
    """,
    tags=("events", "join", "stream-stream"),
)
def events_attribution_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution: for every purchase, the number of
    the same user's clicks in the preceding hour and the latest such
    click — the canonical last-touch attribution join.

    Batch twin of the watermarked STREAM-STREAM interval join
    (streaming/events.py::attribution_1h, differential-tested): an
    equi-join on user_id with a time-interval predicate. The shuffle
    keys on user_id (both sides co-partitioned, range predicate applied
    inside the join), so at 100 TB this is one keyed exchange per side
    — never a cartesian; AQE splits hot users. The left join keeps
    zero-click purchases (organic conversions)."""
    e = load_events(spark, sf_dir)
    p = (e.where(F.col("event_type") == "purchase")
         .select(F.col("event_id").alias("purchase_id"), "user_id",
                 F.col("ts").alias("p_ts")))
    c = (e.where(F.col("event_type") == "click")
         .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
                 F.col("event_id").alias("c_id")))
    joined = p.join(
        c, (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") < F.col("p_ts")), "left")
    return (joined.groupBy("purchase_id", "user_id")
            .agg(F.count("c_id").alias("n_clicks_1h"),
                 F.max("c_ts").alias("last_click_ts")))


# ---------------------------------------------------------------------------
# Composed per-user journey profile (single-exchange flagship)
# ---------------------------------------------------------------------------

@register(
    "events_user_journey",
    oracle="""
    WITH base AS (
        SELECT user_id, event_id, event_type, ts, epoch_us(ts) AS us,
               epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS gap,
               LAG(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY event_type, ts, event_id) AS ptype,
               epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                   PARTITION BY user_id
                   ORDER BY event_type, ts, event_id) AS gap_type,
               MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
                   OVER (PARTITION BY user_id) AS mv
        FROM events
    ),
    c AS (
        SELECT *,
               MIN(CASE WHEN event_type = 'click' AND mv IS NOT NULL
                        AND us >= mv THEN us END)
                   OVER (PARTITION BY user_id) AS mc
        FROM base
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS first_ts, MAX(ts) AS last_ts,
           CAST(len(list_distinct(list(us // 3600000000))) AS INTEGER)
             AS n_active_hours,
           CAST(SUM(CASE WHEN gap IS NULL OR gap > 1800000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN ptype IS NULL OR ptype <> event_type
                         OR gap_type > 300000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_debounced,
           CAST(CASE WHEN MIN(CASE WHEN event_type = 'purchase'
                                   AND mc IS NOT NULL AND us >= mc
                              THEN us END) IS NOT NULL THEN 3
                     WHEN ANY_VALUE(mc) IS NOT NULL THEN 2
                     WHEN ANY_VALUE(mv) IS NOT NULL THEN 1
                     ELSE 0 END AS INTEGER) AS funnel_stage
    FROM c GROUP BY user_id
    """,
    tags=("events", "window", "funnel", "flagship"),
)
def events_user_journey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed per-user journey profile — the "user 360" pass a
    product-analytics warehouse materializes nightly: event volume,
    first/last seen, distinct active hours, 30-minute session count,
    5-minute same-type debounce survivors, and the ordered
    view→click→purchase funnel stage reached — ALL in one DataFrame.

    The engineering point is the exchange plan: every sub-metric is
    expressed against windows PARTITIONED BY user_id (the debounce
    needs previous-same-type, normally a (user, type) window — here it
    orders the USER window by (event_type, ts) and checks
    lag(event_type), keeping the partition key uniform; the funnel's
    sequential mins are two stacked unbounded user-windows), and the
    final per-user aggregation consumes the same hash distribution —
    so the whole 7-metric profile runs on ONE shuffle of the event
    log, pinned by a plan test. Active hours use collect_set (no
    count_distinct: its Expand re-keys the aggregation and would force
    a second exchange)."""
    e = load_events(spark, sf_dir)
    us = F.expr("unix_micros(cast(ts as timestamp))")
    w_ts = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id").orderBy("event_type", "ts",
                                                   "event_id")
    w_all = Window.partitionBy("user_id")
    base = e.select(
        "user_id", "event_id", "event_type", "ts", us.alias("us"),
        (us - F.lag(us).over(w_ts)).alias("gap"),
        F.lag("event_type").over(w_type).alias("ptype"),
        (us - F.lag(us).over(w_type)).alias("gap_type"),
        F.min(F.when(F.col("event_type") == "view", us)).over(w_all)
        .alias("mv"),
    )
    c = base.withColumn(
        "mc",
        F.min(F.when((F.col("event_type") == "click")
                     & F.col("mv").isNotNull()
                     & (F.col("us") >= F.col("mv")),
                     F.col("us"))).over(w_all))
    mp = F.min(F.when((F.col("event_type") == "purchase")
                      & F.col("mc").isNotNull()
                      & (F.col("us") >= F.col("mc")), F.col("us")))
    return (
        c.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"),
            F.size(F.collect_set(F.expr("us div 3600000000")))
            .cast("int").alias("n_active_hours"),
            F.sum(F.when(F.col("gap").isNull()
                         | (F.col("gap") > 1_800_000_000), 1).otherwise(0))
            .cast("long").alias("n_sessions"),
            F.sum(F.when(F.col("ptype").isNull()
                         | (F.col("ptype") != F.col("event_type"))
                         | (F.col("gap_type") > 300_000_000), 1).otherwise(0))
            .cast("long").alias("n_debounced"),
            mp.alias("mp"),
            F.first("mc").alias("amc"), F.first("mv").alias("amv"),
        )
        .select(
            "user_id", "n_events", "first_ts", "last_ts",
            "n_active_hours", "n_sessions", "n_debounced",
            F.when(F.col("mp").isNotNull(), 3)
            .when(F.col("amc").isNotNull(), 2)
            .when(F.col("amv").isNotNull(), 1)
            .otherwise(0).cast("int").alias("funnel_stage"),
        )
    )


# ---------------------------------------------------------------------------
# Sequential path mining (top within-session 3-step paths)
# ---------------------------------------------------------------------------

@register(
    "events_path_mining",
    oracle="""
    WITH w AS (
        SELECT user_id, event_type, epoch_us(ts) AS us,
               LAG(event_type, 1) OVER uw AS p1t,
               LAG(event_type, 2) OVER uw AS p2t,
               epoch_us(ts) - LAG(epoch_us(ts), 1) OVER uw AS g1,
               LAG(epoch_us(ts), 1) OVER uw
                 - LAG(epoch_us(ts), 2) OVER uw AS g2
        FROM events
        WINDOW uw AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    paths AS (
        SELECT user_id, p2t || '>' || p1t || '>' || event_type AS path
        FROM w
        WHERE p2t IS NOT NULL AND g1 <= 1800000000 AND g2 <= 1800000000
    )
    SELECT path, n, n_users, CAST(rk AS INTEGER) AS rk
    FROM (SELECT path,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
                 ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, path) AS rk
          FROM paths GROUP BY path)
    WHERE rk <= 20
    """,
    tags=("events", "mining", "window"),
)
def events_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential path mining: the 20 most common 3-step behavioral
    paths (``a>b>c``) occurring WITHIN a session (both hops inside the
    30-minute gap rule) — the "what do users actually do" discovery
    pass that the fixed-step funnel can't answer (the funnel checks a
    hypothesis; this surfaces the hypotheses).

    Scale shape: no per-session arrays ever materialize — paths come
    from two LAG pairs over the user-ordered window, so a
    pathologically long always-active session costs O(1) memory per
    row (a collect_list formulation would buffer the whole session).
    One user_id shuffle for the lags, one path-keyed map-side-combined
    count; the distinct-user count re-keys only the post-filter path
    rows; the top-20 is a window over post-aggregation cardinality
    ≤ |type vocabulary|³."""
    e = load_events(spark, sf_dir)
    us = F.expr("unix_micros(cast(ts as timestamp))")
    uw = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w = e.select(
        "user_id", "event_type", us.alias("us"),
        F.lag("event_type", 1).over(uw).alias("p1t"),
        F.lag("event_type", 2).over(uw).alias("p2t"),
        (us - F.lag(us, 1).over(uw)).alias("g1"),
        (F.lag(us, 1).over(uw) - F.lag(us, 2).over(uw)).alias("g2"))
    paths = (w.where(F.col("p2t").isNotNull()
                     & (F.col("g1") <= 1_800_000_000)
                     & (F.col("g2") <= 1_800_000_000))
             .select("user_id",
                     F.concat_ws(">", "p2t", "p1t", "event_type")
                     .alias("path")))
    agg = paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("user_id").cast("long").alias("n_users"))
    rk = Window.orderBy(F.desc("n"), F.asc("path"))
    return (agg.withColumn("rk", F.row_number().over(rk))
            .where(F.col("rk") <= 20)
            .select("path", "n", "n_users", F.col("rk").cast("int").alias("rk")))


# ---------------------------------------------------------------------------
# Relational ML: Markov next-event predictor, trained and evaluated
# ---------------------------------------------------------------------------

@register(
    "events_markov_eval",
    oracle="""
    WITH trans AS (
        SELECT user_id, ts, event_id,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS a,
               event_type AS b
        FROM events
    ),
    train AS (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n
        FROM trans WHERE a IS NOT NULL AND ts < TIMESTAMP '2024-01-25'
        GROUP BY a, b
    ),
    model AS (
        SELECT a, b AS predicted, n AS n_train_obs
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY a
                                           ORDER BY n DESC, b) AS rk
              FROM train)
        WHERE rk = 1
    ),
    test AS (
        SELECT a, b FROM trans
        WHERE a IS NOT NULL AND ts >= TIMESTAMP '2024-01-25'
    )
    SELECT t.a AS prev_type, ANY_VALUE(m.predicted) AS predicted,
           ANY_VALUE(m.n_train_obs) AS n_train_obs,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN t.b = m.predicted THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           CAST(SUM(CASE WHEN t.b = m.predicted THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS hit_rate
    FROM test t LEFT JOIN model m ON t.a = m.a
    GROUP BY t.a
    """,
    tags=("events", "mining", "ml"),
)
def events_markov_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-and-evaluate as pure relational ops: a first-order Markov
    next-event predictor (predict the majority transition b for each
    preceding type a) fit on the first ~80% of the timeline and scored
    on the rest — per preceding type: the prediction, its training
    support, test volume, and hit rate. The point-in-time split is the
    leakage rule every production feature pipeline enforces: the model
    CTE sees only pre-cutoff transitions (a transition is attributed
    to its LATER event's timestamp, so cutoff-spanning hops land in
    test). The degenerate accuracy of a majority-class predictor over
    near-uniform synthetic transitions (~1/|types|) is itself the
    baseline number an evaluation harness must reproduce exactly.

    Scale shape: transitions come from one LAG over the user window
    (one shuffle); the model is |types|² aggregated map-side and
    broadcast back; evaluation re-keys only the |types|-cardinality
    post-agg rows. hit_rate is one int/int IEEE division."""
    e = load_events(spark, sf_dir)
    cutoff = F.lit("2024-01-25").cast("timestamp_ntz")
    uw = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (e.select("user_id", "ts", "event_id",
                      F.lag("event_type").over(uw).alias("a"),
                      F.col("event_type").alias("b"))
             .where(F.col("a").isNotNull()))
    train = (trans.where(F.col("ts") < cutoff)
             .groupBy("a", "b").agg(F.count(F.lit(1)).cast("long").alias("n")))
    rk = Window.partitionBy("a").orderBy(F.desc("n"), F.asc("b"))
    model = (train.withColumn("rk", F.row_number().over(rk))
             .where(F.col("rk") == 1)
             .select("a", F.col("b").alias("predicted"),
                     F.col("n").alias("n_train_obs")))
    test = trans.where(F.col("ts") >= cutoff).select("a", "b")
    hit = F.when(F.col("b") == F.col("predicted"), 1).otherwise(0)
    return (
        test.join(F.broadcast(model), "a", "left")
        .groupBy(F.col("a").alias("prev_type"))
        .agg(F.first("predicted").alias("predicted"),
             F.first("n_train_obs").alias("n_train_obs"),
             F.count(F.lit(1)).cast("long").alias("n_test"),
             F.sum(hit).cast("long").alias("n_hit"),
             (F.sum(hit).cast("double") / F.count(F.lit(1)))
             .alias("hit_rate"))
    )


# ---------------------------------------------------------------------------
# Watermark lateness audit (scalable two-level prefix-max scan)
# ---------------------------------------------------------------------------

@register(
    "events_watermark_audit",
    oracle="""
    WITH arr AS (
        SELECT event_id, epoch_us(ts) AS us,
               MAX(epoch_us(ts)) OVER (ORDER BY event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS hw
        FROM events
    ),
    late AS (SELECT event_id, hw - us AS lateness_us FROM arr)
    SELECT CAST(w.wm_minutes AS INTEGER) AS wm_minutes, CAST(CAST(w.wm_minutes AS BIGINT) * 60000000 AS BIGINT) AS wm_us,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN lateness_us > CAST(w.wm_minutes AS BIGINT) * 60000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN lateness_us > CAST(w.wm_minutes AS BIGINT) * 60000000
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS drop_rate
    FROM late CROSS JOIN (SELECT unnest([5, 30, 60, 120]) AS wm_minutes) w
    GROUP BY w.wm_minutes
    """,
    tags=("events", "streaming", "monitoring"),
)
def events_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark tuning audit: for candidate watermark delays, how many
    events a streaming job would DROP — an event is dropped when its
    event time lags the high-water mark (max event time seen earlier
    in ARRIVAL order, here event_id) by more than the delay. This is
    the number you need BEFORE setting `withWatermark`: too tight
    loses data, too loose bloats state; the audit quantifies the
    trade-off on the actual log.

    The interesting part is computing a GLOBAL running max without a
    single-partition window (the naive `MAX() OVER (ORDER BY ...)` —
    which the oracle uses, since DuckDB can afford it — serializes the
    whole log through one task): the classic two-level prefix scan.
    Arrival ids bucket into ranges; per-bucket maxes aggregate
    map-side; the running max OVER BUCKETS is a window over the tiny
    bucket table (broadcast back); each row's high-water mark is then
    max(prefix-of-earlier-buckets, running max WITHIN its bucket) —
    the within-bucket window partitions on bucket id, bounded rows
    each. Same value as the serial scan, fully parallel."""
    e = load_events(spark, sf_dir)
    B = 1000  # arrival-ids per bucket; ~n/B bucket rows
    us = F.expr("unix_micros(cast(ts as timestamp))")
    arr = e.select("event_id", us.alias("us"),
                   (F.col("event_id") / B).cast("long").alias("bkt"))
    bmax = (arr.groupBy("bkt").agg(F.max("us").alias("bmax")))
    wprev = (Window.orderBy("bkt")
             .rowsBetween(Window.unboundedPreceding, -1))
    prefix = bmax.select(
        "bkt", F.max("bmax").over(wprev).alias("prev_hw"))
    win_in = (Window.partitionBy("bkt").orderBy("event_id")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    hw = F.greatest(F.coalesce(F.col("prev_hw"), F.lit(-(1 << 62))),
                    F.max("us").over(win_in))
    late = (arr.join(F.broadcast(prefix), "bkt")
            .select("event_id", (hw - F.col("us")).alias("lateness_us")))
    wms = F.explode(F.array(*[F.lit(m).cast("long")
                              for m in (5, 30, 60, 120)]))
    return (
        late.select("lateness_us", wms.alias("wm_minutes"))
        .groupBy("wm_minutes")
        .agg(F.count(F.lit(1)).cast("long").alias("n_total"),
             F.sum(F.when(F.col("lateness_us")
                          > F.col("wm_minutes") * 60_000_000, 1)
                   .otherwise(0)).cast("long").alias("n_dropped"))
        .select(
            F.col("wm_minutes").cast("int").alias("wm_minutes"),
            (F.col("wm_minutes") * 60_000_000).alias("wm_us"),
            "n_total", "n_dropped",
            (F.col("n_dropped").cast("double") / F.col("n_total"))
            .alias("drop_rate"))
    )


# ---------------------------------------------------------------------------
# PageRank over the contracted event-type transition graph
# ---------------------------------------------------------------------------

PR_ITERS = 8
PR_SCALE = 10 ** 9   # rank fixed-point: 1e-9 resolution
PR_SHARE = 10 ** 6   # edge-share fixed-point (damping folded in)


def _pagerank_oracle() -> str:
    """Unrolled integer power iteration: r0 seeds SCALE//N per node,
    each step is base + sum over inbound edges of (r(u)*s(u,v))//SHARE
    where s(u,v) = (85*SHARE*n)//(100*outweight(u)) pre-folds the
    damping factor. All divisions are truncating integer division on
    non-negative values — identical in DuckDB (//), Python (//) and
    any engine; each r{i} CTE references r{i-1} exactly once, so no
    exponential re-inlining (the semdedup fnl lesson does not apply).
    """
    its = ",".join(f"""
    r{i} AS (
        SELECT n.v,
               CAST((SELECT base FROM par)
                    + COALESCE(SUM((r.rk * e.s) // {PR_SHARE}), 0)
                 AS BIGINT) AS rk
        FROM nodes n
        LEFT JOIN edges e ON e.w = n.v
        LEFT JOIN r{i - 1} r ON e.u = r.v
        GROUP BY n.v
    )""" for i in range(1, PR_ITERS + 1))
    return f"""
    WITH seq AS (
        SELECT event_type AS u,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS w
        FROM events
    ),
    edges0 AS (
        SELECT u, w, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE w IS NOT NULL GROUP BY u, w
    ),
    outw AS (SELECT u, CAST(SUM(n) AS BIGINT) AS tot FROM edges0 GROUP BY u),
    edges AS (
        SELECT e.u, e.w, (85 * {PR_SHARE} * e.n) // (100 * o.tot) AS s
        FROM edges0 e JOIN outw o ON e.u = o.u
    ),
    nodes AS (SELECT DISTINCT event_type AS v FROM events),
    par AS (SELECT (CAST(15 AS BIGINT) * {PR_SCALE}) // (100 * COUNT(*))
                     AS base,
                   CAST({PR_SCALE} AS BIGINT) // COUNT(*) AS r0v
            FROM nodes),
    r0 AS (SELECT v, (SELECT r0v FROM par) AS rk FROM nodes),
    {its}
    SELECT v AS event_type, rk AS rank_scaled,
           CAST(rk AS DOUBLE) / {PR_SCALE} AS rank_value
    FROM r{PR_ITERS}
    """


@register("events_pagerank_types", oracle=_pagerank_oracle(),
          tags=("events", "graph", "iterative"))
def events_pagerank_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the event-type transition graph — the
    graph-analytics companion to events_reachability_hops (min-hop
    BFS) and events_markov_eval (next-event prediction): which event
    types accumulate visit probability under the damped random-surfer
    walk of user timelines.

    Integer-exact power iteration, bit-identical cross-engine: ranks
    are SCALE-fixed-point bigints, each edge's damped transition share
    is pre-folded into an integer s(u,v) = (85*SHARE*n)//(100*W(u)),
    and every step computes base + sum((r(u)*s)//SHARE) in truncating
    integer division (all values non-negative, so trunc == floor on
    both engines). Rank mass lost to truncation and dangling nodes is
    NOT redistributed — a defined semantic, stated here so the oracle
    is the spec. Overflow headroom: r < 2*SCALE=2e9 and s < 0.85*SHARE
    ~ 1e6, so every product stays under 2e15 << 2^63.

    Scale shape (the dedup_cluster_canonical bounded-driver pattern):
    ONE corpus shuffle builds per-user successor pairs (the window
    rides the natural user_id layout), a map-side-combined count
    contracts them to <= |types|^2 edge rows, and the iteration runs
    driver-side over that bounded graph — 8 iterations over ~225
    edges is microseconds; the corpus is never touched again. At
    100 TB the only cost that grows is the one window shuffle every
    sequence operator already pays."""
    e = load_events(spark, sf_dir)
    uw = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges0 = (e.select(F.col("event_type").alias("u"),
                       F.lead("event_type").over(uw).alias("w"))
              .where(F.col("w").isNotNull())
              .groupBy("u", "w")
              .agg(F.count(F.lit(1)).cast("long").alias("n"))
              .collect())
    nodes = sorted(r.event_type for r in
                   e.select("event_type").distinct().collect())
    tot: dict[str, int] = {}
    for r in edges0:
        tot[r.u] = tot.get(r.u, 0) + int(r.n)
    edges = [(r.u, r.w, (85 * PR_SHARE * int(r.n)) // (100 * tot[r.u]))
             for r in edges0]
    nn = len(nodes)
    base = (15 * PR_SCALE) // (100 * nn)
    rk = {v: PR_SCALE // nn for v in nodes}
    for _ in range(PR_ITERS):
        nxt = {v: base for v in nodes}
        for u, w, s in edges:
            nxt[w] += (rk[u] * s) // PR_SHARE
        rk = nxt
    return spark.createDataFrame(
        [(v, rk[v], rk[v] / PR_SCALE) for v in nodes],
        schema="event_type string, rank_scaled long, rank_value double")


# ---------------------------------------------------------------------------
# Exact integer EWMA per user timeline (stateful sequence op)
# ---------------------------------------------------------------------------

@register(
    "events_ewma_value",
    oracle="""
    WITH RECURSIVE seq AS (
        SELECT user_id, event_id,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    r AS (
        SELECT user_id, event_id, rn, v AS x FROM seq WHERE rn = 1
        UNION ALL
        SELECT s.user_id, s.event_id, s.rn, (s.v + r.x) // 2 AS x
        FROM seq s JOIN r ON s.user_id = r.user_id AND s.rn = r.rn + 1
    )
    SELECT event_id, user_id, x AS ewma_scaled,
           CAST(x AS DOUBLE) / 100 AS ewma
    FROM r
    """,
    tags=("events", "sequence", "stateful"),
)
def events_ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (alpha = 1/2) of each
    user's event values, in EXACT integer arithmetic — the recursive
    time-series smoother SQL windows cannot express (each output
    depends on the previous OUTPUT, not a frame of inputs). Values
    become integer cents; the recurrence x_t = (v_t + x_{t-1}) // 2
    uses truncating division (sign-aware // toward zero — DuckDB's
    integer // semantics, mirrored by the kmeans trunc_div rule), so
    every engine and partitioning produces identical bigints, and the
    display double is one exact int-to-IEEE conversion per row.

    The oracle replays the recurrence as a RECURSIVE CTE joining each
    rank to its predecessor frontier (the events_reachability_hops
    precedent); the engine runs it as ONE shuffle by user_id and a
    sequential per-group fold inside applyInPandas — the canonical
    stateful-sequence shape (events_user_journey): state is one long
    per user, work is O(events), and a 100 TB event table partitioned
    by user runs it without any cross-partition dependency."""
    import pandas as pd

    e = load_events(spark, sf_dir)
    vc = (F.col("value").cast("decimal(12,2)") * 100).cast("long")
    base = e.select("user_id", "event_id", "ts", vc.alias("v"))

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"], ignore_index=True)
        out, x = [], 0
        for i, v in enumerate(pdf["v"]):
            v = int(v)
            if i == 0:
                x = v
            else:
                s = v + x
                x = abs(s) // 2 * (1 if s >= 0 else -1)
            out.append(x)
        return pd.DataFrame({
            "event_id": pdf["event_id"],
            "user_id": pdf["user_id"],
            "ewma_scaled": pd.Series(out, dtype="int64"),
            "ewma": [xv / 100 for xv in out]})

    return base.groupBy("user_id").applyInPandas(
        fold, "event_id bigint, user_id bigint, ewma_scaled bigint, "
              "ewma double")
