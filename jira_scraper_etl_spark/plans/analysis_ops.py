"""Cross-sectional analytics operators: rarity-weighted term ranking
(log-free TF-IDF), revenue concentration (Pareto cumulative share),
year-over-year growth, event debouncing, and perceptual-hash media
dedup.

These round out the curation/analytics surface with the reporting and
signal-extraction passes a training-data pipeline runs AFTER filtering:
which terms characterize each language slice, how concentrated the
corpus/revenue is, how metrics trend year over year, collapsing rapid
repeat events, and near-dup detection on media payloads by coarse
perceptual signature (the aHash shape) rather than exact bytes.

Cross-engine exactness: no logarithms or incremental float aggregation
anywhere — TF-IDF is expressed as the exact integer ratio
``sum_tf · N / df`` (one int/int double division, bit-identical in both
engines), money goes through the registry's DECIMAL helpers, and the
perceptual signature uses pure integer division.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.storagelevel import StorageLevel

from ..seams import persist_seam

from ..catalog import load_table
from ..functions import hashing as H
from ..operators import multimodal as MM
from ..operators.fanout import fan_out
from .llm_ops import SQL_TOKS
from .multimodal import SQL_FRAME_BYTES, SQL_FRAME_DIGESTS, SQL_MEDIA_TYPE, SQL_NFRAMES
from .registry import money, one_minus_rate, register


# ---------------------------------------------------------------------------
# Rarity-weighted top terms per language (log-free TF-IDF)
# ---------------------------------------------------------------------------

@register(
    "text_tfidf_topk",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, unnest(toks) AS tok
        FROM (SELECT doc_id, lang, {SQL_TOKS} AS toks FROM documents)
    ),
    tf AS (SELECT doc_id, lang, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2, 3),
    df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT lang, tok, ANY_VALUE(df.df) AS df,
               CAST(SUM(tf.tf) AS BIGINT) AS sum_tf,
               CAST(CAST(SUM(tf.tf) AS BIGINT) * (SELECT n_docs FROM n)
                    AS DOUBLE) / ANY_VALUE(df.df) AS score
        FROM tf JOIN df USING (tok)
        GROUP BY lang, tok
    )
    SELECT lang, CAST(rk AS INTEGER) AS rk, tok, df, sum_tf, score
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                       ORDER BY score DESC, tok) AS rk
          FROM scored)
    WHERE rk <= 10
    """,
    tags=("textstats", "ranking"),
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 characteristic terms per language by rarity-weighted
    frequency — TF-IDF with the logarithm dropped so the score is the
    exact integer ratio ``sum_tf · N / df`` (monotone in tf/df like
    tf·idf, but bit-identical cross-engine: one int/int double division
    instead of a libm ``ln`` whose last ulp differs between Java and C).

    Plan shape (mirrors text_corpus_freq_score, judged scale-sound):
    per-(doc, tok) counts collapse the explode output before any
    token-keyed stage; the persisted tf seam feeds both the document-
    frequency aggregation and the scoring join (Catalyst won't reuse
    the exchange across the two subtrees). The corpus size N arrives as
    a 1-row join, which Catalyst broadcasts — no driver-side collect.
    The final per-language ranking windows over post-aggregation (lang,
    tok) rows; in a billion-token-vocabulary regime the window input
    would first be pruned with a per-partition top-k pre-pass, which
    composes on top of this plan without changing results.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = H.word_tokens(F.col("text"))
    t = (fan_out(d.select("doc_id", "lang", toks.alias("toks")))
         .select("doc_id", "lang", F.explode("toks").alias("tok")))
    tf = persist_seam(t.groupBy("doc_id", "lang", "tok")
                      .agg(F.count(F.lit(1)).alias("tf")))
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n = d.groupBy().agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "tok")
        .groupBy("lang", "tok")
        .agg(F.first("df").alias("df"),
             F.sum("tf").cast("long").alias("sum_tf"))
        .join(n)
        .withColumn("score",
                    (F.col("sum_tf") * F.col("n_docs")).cast("double")
                    / F.col("df"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .select("lang", F.col("rk").cast("int").alias("rk"),
                "tok", "df", "sum_tf", "score")
    )


# ---------------------------------------------------------------------------
# Revenue concentration: Pareto cumulative share by part brand
# ---------------------------------------------------------------------------

@register(
    "pareto_revenue_by_brand",
    oracle="""
    WITH rev AS (
        SELECT p.p_brand AS brand,
               SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
                 AS rev_d,
               COUNT(*) AS n_items
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand
    )
    SELECT brand,
           CAST(rk AS INTEGER) AS rk,
           CAST(CAST(rev_d AS VARCHAR) AS DOUBLE) AS rev,
           CAST(CAST(cum_d AS VARCHAR) AS DOUBLE) AS cum_rev,
           CAST(CAST(cum_d AS VARCHAR) AS DOUBLE)
             / CAST(CAST(tot_d AS VARCHAR) AS DOUBLE) AS cum_share,
           n_items
    FROM (SELECT brand, rev_d, n_items,
                 ROW_NUMBER() OVER (ORDER BY rev_d DESC, brand) AS rk,
                 SUM(rev_d) OVER (ORDER BY rev_d DESC, brand
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum_d,
                 SUM(rev_d) OVER () AS tot_d
          FROM rev)
    """,
    tags=("window", "ranking"),
)
def pareto_revenue_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration analysis: discounted revenue per part brand,
    ranked descending with cumulative share of total — the 80/20 report
    every curation dashboard runs (here over revenue; the same plan
    serves token-count concentration by source).

    The heavy work is the fact-side join + groupBy (AQE picks broadcast
    for part under the threshold, sort-merge above; partials map-side
    combine to one row per brand). The windows then run over
    post-aggregation rows — cardinality = |brands|, bounded and tiny at
    any data scale — so the single-partition unbounded frame is safe by
    construction. All money stays exact DECIMAL through the cumulative
    sum; doubles appear only in the final correctly-rounded casts and
    one IEEE division.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.sum(money("l_extendedprice")
                   * one_minus_rate("l_discount")).alias("rev_d"),
             F.count(F.lit(1)).alias("n_items"))
    )
    order = [F.desc("rev_d"), F.asc("brand")]
    w_cum = (Window.orderBy(*order)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = Window.partitionBy()
    return (
        rev.select(
            "brand",
            F.row_number().over(Window.orderBy(*order)).alias("rk"),
            F.col("rev_d").cast("double").alias("rev"),
            F.sum("rev_d").over(w_cum).cast("double").alias("cum_rev"),
            (F.sum("rev_d").over(w_cum).cast("double")
             / F.sum("rev_d").over(w_all).cast("double")).alias("cum_share"),
            "n_items",
        )
    )


# ---------------------------------------------------------------------------
# Year-over-year growth by order priority
# ---------------------------------------------------------------------------

@register(
    "orders_yoy_growth",
    oracle="""
    WITH yearly AS (
        SELECT o_orderpriority AS priority,
               CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR)
                    AS DOUBLE) AS rev,
               COUNT(*) AS n_orders
        FROM orders GROUP BY 1, 2
    )
    SELECT priority, yr, rev, n_orders,
           prev_rev,
           CASE WHEN prev_yr = yr - 1 THEN (rev - prev_rev) / prev_rev
                ELSE NULL END AS yoy_growth
    FROM (SELECT *,
                 LAG(rev) OVER (PARTITION BY priority ORDER BY yr) AS prev_rev,
                 LAG(yr)  OVER (PARTITION BY priority ORDER BY yr) AS prev_yr
          FROM yearly)
    """,
    tags=("window", "agg"),
)
def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per order priority: yearly exact-
    decimal revenue, then a LAG window comparing each year against the
    immediately preceding one (growth is NULL across gap years rather
    than silently comparing non-adjacent years).

    One shuffle for the (priority, year) aggregation — partials combine
    map-side to |priorities|·|years| rows — then the LAG window runs
    over that bounded grid. The growth ratio divides two doubles that
    were each correctly rounded from exact decimals, so it is
    bit-identical cross-engine (IEEE division).
    """
    o = load_table(spark, sf_dir, "orders")
    yearly = (
        o.groupBy(F.col("o_orderpriority").alias("priority"),
                  F.year("o_orderdate").cast("int").alias("yr"))
        .agg(F.sum(money("o_totalprice")).cast("double").alias("rev"),
             F.count(F.lit(1)).alias("n_orders"))
    )
    w = Window.partitionBy("priority").orderBy("yr")
    return (
        yearly
        .withColumn("prev_rev", F.lag("rev").over(w))
        .withColumn("prev_yr", F.lag("yr").over(w))
        .select(
            "priority", "yr", "rev", "n_orders", "prev_rev",
            F.when(F.col("prev_yr") == F.col("yr") - 1,
                   (F.col("rev") - F.col("prev_rev")) / F.col("prev_rev"))
            .alias("yoy_growth"),
        )
    )


# ---------------------------------------------------------------------------
# Event debouncing: collapse rapid repeats per (user, event_type)
# ---------------------------------------------------------------------------

@register(
    "events_debounce_5m",
    oracle="""
    SELECT event_id, user_id, event_type, ts, gap_us
    FROM (SELECT event_id, user_id, event_type, ts,
                 epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                     PARTITION BY user_id, event_type
                     ORDER BY ts, event_id) AS gap_us
          FROM events)
    WHERE gap_us IS NULL OR gap_us > 300000000
    """,
    tags=("events", "window"),
)
def events_debounce_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce: keep an event only if the same (user, event_type) has
    not fired within the preceding 5 minutes — the standard collapse of
    double-clicks / retry storms before sessionization. Emits the kept
    events with the gap (µs) to the previous same-key event (NULL for
    each key's first event).

    One hash shuffle on (user_id, event_type) — high-cardinality keys,
    no skew hazard — then a per-key sorted LAG; timestamps compare in
    exact integer microseconds on both engines (timestampdiff/epoch_us;
    ``unix_micros`` would reject the catalog's TIMESTAMP_NTZ events).
    The streaming form of this operator is dropDuplicatesWithinWatermark
    over the same key, which shares this batch plan's state key choice.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn("gap_us",
                    F.expr("timestampdiff(MICROSECOND, prev_ts, ts)"))
        .where(F.col("gap_us").isNull() | (F.col("gap_us") > 300_000_000))
        .select("event_id", "user_id", "event_type", "ts", "gap_us")
    )


# ---------------------------------------------------------------------------
# Co-occurrence mining: event-type associations by shared users
# ---------------------------------------------------------------------------

@register(
    "events_type_cooccurrence",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users
          FROM ut GROUP BY event_type),
    co AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(COUNT(*) AS BIGINT) AS n_co
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_co,
           na.n_users AS n_a, nb.n_users AS n_b,
           CAST(n_co AS DOUBLE) / (na.n_users + nb.n_users - n_co) AS jaccard
    FROM co
    JOIN n na ON na.event_type = co.type_a
    JOIN n nb ON nb.event_type = co.type_b
    """,
    tags=("events", "mining"),
)
def events_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence mining: for every pair of event types,
    how many users perform both, with the Jaccard association — the
    item-item collaborative-filtering shape (swap event_type for an
    item id and this is "users who did X also did Y").

    Scale shape: the distinct (user, type) projection partial-
    aggregates map-side before anything else, so the self-join input is
    one row per (user, type) — bounded by users × |type vocabulary|,
    not by raw event volume. The join key is user_id (high-cardinality,
    AQE-handled); output cardinality is |types|², tiny, and the
    per-type totals join back as broadcasts. Jaccard is one int/int
    IEEE division — bit-identical cross-engine."""
    e = load_table(spark, sf_dir, "events")
    ut = e.select("user_id", "event_type").distinct()
    n = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"))
    a = ut.alias("a")
    b = ut.alias("b")
    co = (
        a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
               & (F.col("a.event_type") < F.col("b.event_type")))
        .groupBy(F.col("a.event_type").alias("type_a"),
                 F.col("b.event_type").alias("type_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_co"))
    )
    na = F.broadcast(n.select(F.col("event_type").alias("type_a"),
                              F.col("n_users").alias("n_a")))
    nb = F.broadcast(n.select(F.col("event_type").alias("type_b"),
                              F.col("n_users").alias("n_b")))
    return (
        co.join(na, "type_a").join(nb, "type_b")
        .select("type_a", "type_b", "n_co", "n_a", "n_b",
                (F.col("n_co").cast("double")
                 / (F.col("n_a") + F.col("n_b") - F.col("n_co")))
                .alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance: merge a new batch into partials
# ---------------------------------------------------------------------------

@register(
    "agg_incremental_merge",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR)
                AS DOUBLE) AS total_price
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "incremental"),
)
def agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance — the nightly-refresh pattern:
    the historical partition's PARTIAL aggregates (count + exact-decimal
    sum per priority, the materialized state a warehouse keeps) are
    merged with the new batch's partials by re-aggregation, instead of
    rescanning history. The oracle is the full recompute over all rows —
    equality IS the correctness statement (count/sum are commutative
    monoids, so merge-of-partials ≡ recompute; decimal sums keep the
    merge exact where float partials would drift).

    At 100 TB the `old` branch is a few hundred pre-aggregated rows
    read from the state table, not a scan — here both branches derive
    from the same table with a date predicate pushed to the parquet
    scan (two prunable scans, two map-side-combined shuffles of
    |priorities| rows each, one trivial merge)."""
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("timestamp_ntz")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(F.col("o_orderpriority").alias("priority")).agg(
            F.count(F.lit(1)).cast("long").alias("pn"),
            F.sum(money("o_totalprice")).alias("psum"))

    old = partials(o.where(F.col("o_orderdate") < cutoff))
    new = partials(o.where(F.col("o_orderdate") >= cutoff))
    return (
        old.unionByName(new)
        .groupBy("priority")
        .agg(F.sum("pn").cast("long").alias("n_orders"),
             F.sum("psum").cast("double").alias("total_price"))
    )


# ---------------------------------------------------------------------------
# Weighted hash sampling (importance sampling for data mixing)
# ---------------------------------------------------------------------------

# salted md5 → uint16, mirroring curation.SQL_DOC_BUCKET's construction
_WHEXP = ("(strpos('0123456789abcdef', substring(md5('ws:' || "
          "CAST(doc_id AS VARCHAR)), {i}, 1)) - 1)")
SQL_WU16 = (f"({_WHEXP.format(i=1)}*4096 + {_WHEXP.format(i=2)}*256 + "
            f"{_WHEXP.format(i=3)}*16 + {_WHEXP.format(i=4)})")


@register(
    "sample_weighted_hash",
    oracle=f"""
    SELECT doc_id, lang, n_chars,
           CAST(least(n_chars, 2000) AS BIGINT) AS w,
           CAST({SQL_WU16} AS BIGINT) AS u
    FROM documents
    WHERE {SQL_WU16} * 2000 < least(n_chars, 2000) * 65536
    """,
    tags=("curation", "sampling"),
)
def sample_weighted_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WEIGHTED sampling: keep each document with
    probability proportional to its (capped) length — the importance-
    sampling move behind data-mixing recipes that up-weight long or
    high-quality documents without an RNG.

    Keep iff ``u·2000 < w·65536`` where u is a salted-md5 uint16 of the
    id and w = min(n_chars, 2000): pure integer arithmetic, so the
    decision is a reproducible function of (id, weight) — re-running on
    a grown corpus never flips an old document's fate, and both engines
    agree bit-for-bit. Map-only; at 100 TB this is a free column on the
    scan (same scaling story as split_train_test). The salt keeps the
    draw independent of the split/stratified buckets."""
    d = load_table(spark, sf_dir, "documents")
    u = H.hex4_to_int(F.substring(
        F.md5(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))),
        1, 4)).cast("long")
    w = F.least(F.col("n_chars"), F.lit(2000)).cast("long")
    return (
        d.select("doc_id", "lang", "n_chars", w.alias("w"), u.alias("u"))
        .where(F.col("u") * 2000 < F.col("w") * 65536)
    )


# ---------------------------------------------------------------------------
# Winsorization: clamp metric outliers to exact per-group order stats
# ---------------------------------------------------------------------------

@register(
    "events_winsorize_p1_p99",
    oracle="""
    WITH r AS (
        SELECT event_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events
    ),
    b AS (
        SELECT event_type,
               MIN(CASE WHEN rn = 1 + (n - 1) // 100 THEN value END) AS lo,
               MIN(CASE WHEN rn = 1 + (99 * (n - 1)) // 100 THEN value END) AS hi
        FROM r GROUP BY event_type
    )
    SELECT event_id, r.event_type, value, lo, hi,
           CASE WHEN value < lo THEN lo
                WHEN value > hi THEN hi ELSE value END AS value_w
    FROM r JOIN b ON r.event_type = b.event_type
    """,
    tags=("events", "cleaning"),
)
def events_winsorize_p1_p99(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clamp each event's value to its type's exact
    [p1, p99] order statistics — the standard outlier-taming pass
    before metric aggregation (a fat-fingered 10^6 purchase stops
    dominating the mean). Percentile indices are pure integer
    arithmetic (1 + (n−1)//100), and the clamp only ever COPIES an
    existing double — no float computation to drift cross-engine.

    The exact order statistic needs a per-type sort, and event_type is
    low-cardinality — the same single-partition-per-group hazard as
    text_length_percentiles, and the same answer applies at 100 TB:
    swap the window for approx_percentile partials (the registered
    ``_approx`` twin pattern) once groups stop fitting a partition;
    the clamp join is unchanged."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    r = e.select(
        "event_id", "event_type", "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"))
    lo_idx = 1 + F.expr("(n - 1) div 100")
    hi_idx = 1 + F.expr("(99 * (n - 1)) div 100")
    b = (r.groupBy("event_type").agg(
        F.min(F.when(F.col("rn") == lo_idx, F.col("value"))).alias("lo"),
        F.min(F.when(F.col("rn") == hi_idx, F.col("value"))).alias("hi")))
    return (
        r.join(F.broadcast(b), "event_type")
        .select("event_id", "event_type", "value", "lo", "hi",
                F.when(F.col("value") < F.col("lo"), F.col("lo"))
                .when(F.col("value") > F.col("hi"), F.col("hi"))
                .otherwise(F.col("value")).alias("value_w"))
    )


@register(
    "events_winsorize_approx",
    oracle=None,  # rows-only: approx_percentile sketch has no DuckDB twin
    tags=("events", "cleaning", "approx"),
)
def events_winsorize_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path for winsorization (named by the exact entry's
    docstring): per-type [p1, p99] from ``approx_percentile`` — a
    mergeable sketch aggregation that partial-combines map-side, so no
    per-type sort and no single-partition-per-group hazard — then the
    same broadcast clamp join. Rows-only like the other sketch entries
    (no DuckDB twin); the test pins it against the exact plan: same
    row count, bounds within the sketch's rank-error envelope, and
    every clamp decision consistent with its own bounds."""
    e = load_table(spark, sf_dir, "events")
    b = e.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.01, 10000)").alias("lo"),
        F.expr("approx_percentile(value, 0.99, 10000)").alias("hi"))
    return (
        e.join(F.broadcast(b), "event_type")
        .select("event_id", "event_type", "value", "lo", "hi",
                F.when(F.col("value") < F.col("lo"), F.col("lo"))
                .when(F.col("value") > F.col("hi"), F.col("hi"))
                .otherwise(F.col("value")).alias("value_w"))
    )


# ---------------------------------------------------------------------------
# SCD2 state history (warehouse slowly-changing-dimension build)
# ---------------------------------------------------------------------------

@register(
    "events_scd2_history",
    oracle="""
    WITH c AS (
        SELECT user_id, event_type, ts, event_id,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    ch AS (
        SELECT user_id, event_type AS state, ts AS valid_from, event_id
        FROM c WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, state, valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from, event_id) AS valid_to,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY valid_from, event_id)
                AS INTEGER) AS version
    FROM ch
    """,
    tags=("events", "window", "warehouse"),
)
def events_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build: collapse each user's event stream into
    state-CHANGE rows with [valid_from, valid_to) effective ranges and
    a version counter (valid_to NULL = current state) — the slowly-
    changing-dimension table every warehouse maintains, derived here
    from the raw event log in one pass.

    Both windows partition on user_id (high-cardinality — no skew
    hazard, unlike the winsorize pass), and the second window's input
    is already collapsed to change rows, a fraction of the log. One
    hash shuffle total: the change-filter and both downstream windows
    share the same (user_id-partitioned, ts-sorted) exchange."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ch = (e.withColumn("prev_type", F.lag("event_type").over(w))
          .where(F.col("prev_type").isNull()
                 | (F.col("prev_type") != F.col("event_type")))
          .select("user_id", F.col("event_type").alias("state"),
                  F.col("ts").alias("valid_from"), "event_id"))
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return ch.select(
        "user_id", "state", "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.row_number().over(w2).cast("int").alias("version"))


# ---------------------------------------------------------------------------
# Mergeable-sketch distinct counts (HLL partials → union → estimate)
# ---------------------------------------------------------------------------

@register(
    "agg_hll_mergeable",
    oracle=None,  # rows-only: Datasketches HLL has no DuckDB parity
    tags=("agg", "approx", "incremental"),
)
def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via MERGEABLE HLL sketches: each
    shard builds a sketch partial (``hll_sketch_agg``), partials merge
    with ``hll_union_agg``, and only the merged sketch is estimated —
    the two-level shape of a warehouse sketch state table, where
    COUNT(DISTINCT) over 100 TB is a per-partition sketch build plus a
    byte-sized merge instead of a global shuffle of raw keys.

    The test pins the invariant that makes this sound: merging the
    8 shard partials yields the SAME estimate as one direct sketch
    over all rows (sketch union is exact over sketch state), and the
    estimate lands within HLL's error envelope of the exact count.
    Rows-only by design, like agg_approx_count_distinct: Datasketches
    HLL has no cross-engine DuckDB twin."""
    e = load_table(spark, sf_dir, "events")
    partials = (
        e.groupBy("event_type",
                  F.pmod(F.col("user_id"), F.lit(8)).alias("shard"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    return (
        partials.groupBy("event_type")
        .agg(F.hll_sketch_estimate(
            F.hll_union_agg("sk")).alias("est_users"))
    )


# ---------------------------------------------------------------------------
# Z-order layout codes (operators/layout.py — the writer's key column)
# ---------------------------------------------------------------------------

@register(
    "events_zorder_code",
    oracle="""
    WITH dims AS (
        SELECT event_id, user_id AS x,
               epoch_us(ts) // 3600000000 AS y
        FROM events
    ),
    st AS (SELECT MIN(x) AS xlo, MAX(x) AS xhi,
                  MIN(y) AS ylo, MAX(y) AS yhi FROM dims),
    scaled AS (
        SELECT event_id,
               ((x - xlo) * 65535) // greatest(1, xhi - xlo) AS zx,
               ((y - ylo) * 65535) // greatest(1, yhi - ylo) AS zy
        FROM dims, st
    )
    SELECT event_id, zx, zy,
           CAST(list_sum(list_transform(generate_series(0, 15),
                k -> (((zx >> k) & 1) << (2*k)) + (((zy >> k) & 1) << (2*k+1))))
                AS BIGINT) AS z,
           CAST(list_sum(list_transform(generate_series(0, 15),
                k -> (((zx >> k) & 1) << (2*k)) + (((zy >> k) & 1) << (2*k+1))))
                AS BIGINT) >> 22 AS file_bucket
    FROM scaled
    """,
    tags=("layout",),
)
def events_zorder_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering codes over (user_id, event hour) —
    the key column behind ``operators/layout.py::zorder_write``: a
    multi-dimensionally clustered layout where each output file covers
    a small rectangle in (user, time) space, so parquet footer stats
    prune scans filtered on EITHER dimension (the Delta/Iceberg
    OPTIMIZE ZORDER BY trick). Each dimension is min-max scaled onto
    the full 16-bit budget first (unequal raw bit-spans degenerate the
    curve into a plain sort on the wider dimension — measured before
    the fix: per-file user range stayed 100% of global).
    ``file_bucket`` is the top-10-bit prefix — the coarse assignment a
    1024-file layout would use; the writer range-partitions on the
    full code instead so file sizes stay balanced under skew.

    One 1-row stats join (Catalyst broadcasts it) + a map-only 32-term
    shift/mask/or expression per row, fully inside whole-stage codegen;
    no shuffle of the fact table, no UDF. Exact integer arithmetic on both
    engines (integral `div`; see operators/layout.py::scale_to_bits).
    """
    from ..operators.layout import morton_interleave, scale_to_bits

    e = load_table(spark, sf_dir, "events")
    # integral `div`, not `/`: float division of a ~2^50 µs value can
    # round across an hour boundary where DuckDB's // floors exactly
    d = e.select(
        "event_id", F.col("user_id").alias("x"),
        F.expr("unix_micros(cast(ts as timestamp)) div 3600000000").alias("y"))
    st = d.agg(F.min("x").alias("xlo"), F.max("x").alias("xhi"),
               F.min("y").alias("ylo"), F.max("y").alias("yhi"))
    zx = scale_to_bits(F.col("x"), F.col("xlo"), F.col("xhi"))
    zy = scale_to_bits(F.col("y"), F.col("ylo"), F.col("yhi"))
    return (
        d.join(st)
        .select("event_id", zx.alias("zx"), zy.alias("zy"))
        .withColumn("z", morton_interleave(F.col("zx"), F.col("zy")))
        .withColumn("file_bucket", F.shiftright(F.col("z"), 22))
    )


# ---------------------------------------------------------------------------
# Perceptual-hash media dedup (aHash shape over byte histograms)
# ---------------------------------------------------------------------------

@register(
    "mm_dedup_phash",
    oracle=f"""
    WITH nf AS (SELECT doc_id, {SQL_NFRAMES} AS nf FROM documents),
    by AS (
        SELECT doc_id,
               flatten(list_transform({SQL_FRAME_DIGESTS},
                       m -> {SQL_FRAME_BYTES})) AS bys
        FROM nf
    ),
    sig AS (
        SELECT doc_id,
               {SQL_MEDIA_TYPE} || '-' ||
               CAST(least(3, (4 * len(list_filter(bys, b -> b < 64))) // len(bys)) AS VARCHAR) ||
               CAST(least(3, (4 * len(list_filter(bys, b -> b >= 64 AND b < 128))) // len(bys)) AS VARCHAR) ||
               CAST(least(3, (4 * len(list_filter(bys, b -> b >= 128 AND b < 192))) // len(bys)) AS VARCHAR) ||
               CAST(least(3, (4 * len(list_filter(bys, b -> b >= 192))) // len(bys)) AS VARCHAR)
                 AS phash
        FROM by
    ),
    clusters AS (
        SELECT phash, MIN(doc_id) AS canonical_id,
               CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM sig GROUP BY phash
    )
    SELECT s.doc_id, s.phash, c.canonical_id, c.cluster_size,
           s.doc_id <> c.canonical_id AS is_dup
    FROM sig s JOIN clusters c USING (phash)
    """,
    tags=("multimodal", "dedup"),
)
def mm_dedup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup detection on media payloads: a coarse
    signature (media type + each byte-histogram quartile share
    quantized to 4 levels — the aHash shape: perceptually similar
    payloads collide, unrelated ones don't) buckets the corpus; each
    bucket elects a canonical row and every member learns its cluster
    size and dup flag.

    Scale shape: the feature pass is the map-only Arrow-batched
    ``mapInPandas`` byte scan (binary never crosses an exchange); the
    signature space is bounded (3 media types × 4⁴ levels), so the
    cluster table partial-aggregates map-side to ≤768 rows and joins
    back as an explicit broadcast — no shuffle of the corpus at any
    data size. Integer division only; no float thresholds to drift.
    """
    # fan out before the Python byte scan: the pruned doc_id scan is
    # 1-2 splits, so the per-row feature pass would run single-task
    d = fan_out(load_table(spark, sf_dir, "documents")
                .select("doc_id"))
    feats = MM.media_features(MM.attach_media(d))

    def level(h: str) -> F.Column:
        return F.least(F.lit(3),
                       F.expr(f"div(4 * {h}, n_bytes)")).cast("string")

    sig = feats.select(
        "doc_id",
        F.concat(MM.media_type_col(F.col("doc_id")), F.lit("-"),
                 level("h0"), level("h1"), level("h2"), level("h3"))
        .alias("phash"),
    )
    clusters = sig.groupBy("phash").agg(
        F.min("doc_id").alias("canonical_id"),
        F.count(F.lit(1)).cast("long").alias("cluster_size"),
    )
    return (
        sig.join(F.broadcast(clusters), "phash")  # ≤768 rows, estimated as scan
        .select("doc_id", "phash", "canonical_id", "cluster_size",
                (F.col("doc_id") != F.col("canonical_id")).alias("is_dup"))
    )


# ---------------------------------------------------------------------------
# Sketch rollup: trailing-24h distinct users from hourly HLL partials
# ---------------------------------------------------------------------------

@register(
    "events_rolling_distinct_hll",
    oracle=None,  # rows-only: Datasketches HLL has no DuckDB parity
    tags=("events", "approx", "incremental", "window"),
)
def events_rolling_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24-hour distinct users per hour via SKETCH ROLLUP — the
    hypertable continuous-aggregate pattern: materialize ONE HLL
    sketch per hour (the only corpus-sized pass), then answer any
    trailing window by unioning 24 sketch blobs inside a window frame
    (``hll_union_agg`` OVER rows). Exact rolling distinct is
    unwindowable at scale (no subtractable state, and a 24h frame of
    raw user ids is the full stream again); the sketch rollup costs 24
    kilobyte-sized merges per output row — and answers EVERY window
    length from the same hourly partials (7-day, 30-day: same table).

    The rollup window orders the hour GRID (cardinality = timeline
    hours — bounded, one partition is safe by construction; a
    multi-year deployment would tile by month and prefix-merge like
    events_watermark_audit). The frame is ROWS over observed hours —
    on a gappy grid that means "last 24 ACTIVE hours"; wall-clock 24h
    needs a RANGE frame or gap-filled buckets (events_hourly_gapfill
    is the companion op). Rows-only like the other sketch entries;
    the test pins the estimate inside HLL's envelope of the EXACT
    trailing distinct recomputed per hour."""
    e = load_table(spark, sf_dir, "events")
    hourly = (e.groupBy(F.expr("unix_micros(cast(ts as timestamp))"
                               " div 3600000000").alias("hr"))
              .agg(F.hll_sketch_agg("user_id").alias("sk"),
                   F.count(F.lit(1)).cast("long").alias("n_events")))
    w = Window.orderBy("hr").rowsBetween(-23, 0)
    return hourly.select(
        "hr", "n_events",
        F.hll_sketch_estimate(F.hll_union_agg("sk").over(w))
        .alias("est_users_24h"),
        F.count(F.lit(1)).over(w).cast("int").alias("n_hours_in_window"))


# ---------------------------------------------------------------------------
# Compaction planning: pack documents into target-size output bins
# ---------------------------------------------------------------------------

COMPACT_BUCKET = 64        # docs per prefix-sum bucket (level-1 unit)
COMPACT_TARGET = 16_384    # target output bin size in bytes


@register(
    "layout_compaction_bins",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, strlen(text) AS b FROM documents
    ),
    pre AS (
        SELECT doc_id, b,
               CAST(COALESCE(SUM(b) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS prev
        FROM sized
    ),
    asg AS (
        SELECT doc_id, b,
               CAST(prev // {COMPACT_TARGET} AS INTEGER) AS bin
        FROM pre
    )
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(b) AS BIGINT) AS bin_bytes,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM asg GROUP BY bin
    """,
    tags=("layout", "window"),
)
def layout_compaction_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planner: assign documents (in stable
    doc_id order) to output bins of ~COMPACT_TARGET bytes by exclusive
    prefix sum — bin = floor(bytes_before_me / target) — and report
    each planned output file's doc count, byte size, and id range.
    This is the planning step behind OPTIMIZE/rewriteDataFiles-style
    table maintenance: deciding which row ranges coalesce into which
    target-size file, deterministically.

    Scale shape — the reason this is NOT one global window: a single
    ``SUM OVER (ORDER BY doc_id)`` range-exchanges the whole corpus
    into ONE ordered partition. Instead the prefix sum is two-level
    (the events_watermark_audit scan pattern): (1) bucket docs by
    ``doc_id div {COMPACT_BUCKET}`` — contiguous id ranges, so bucket
    order == doc order — and aggregate per-bucket byte totals
    (map-side combined, |corpus|/{COMPACT_BUCKET} rows); (2) a window
    over the SMALL bucket table computes each bucket's exclusive byte
    offset; (3) offsets broadcast-join back and a window PARTITIONED
    by bucket (each partition ≤ {COMPACT_BUCKET} rows, no global sort)
    finishes the per-doc exclusive prefix. All-integer arithmetic
    (byte lengths + truncating div on non-negative sums), so the plan
    is bit-identical to the oracle's single-window replay."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.octet_length("text").cast("long").alias("b"))
    d = d.withColumn(
        "bucket", F.expr(f"doc_id div {COMPACT_BUCKET}"))
    per_bucket = d.groupBy("bucket").agg(F.sum("b").alias("bb"))
    wb = (Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1))
    offs = per_bucket.select(
        "bucket",
        F.coalesce(F.sum("bb").over(wb), F.lit(0)).alias("boff"))
    wi = (Window.partitionBy("bucket").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1))
    asg = (d.join(F.broadcast(offs), "bucket")
           .withColumn("prev", F.col("boff")
                       + F.coalesce(F.sum("b").over(wi), F.lit(0)))
           .withColumn("bin",
                       F.expr(f"prev div {COMPACT_TARGET}").cast("int")))
    return asg.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("b").alias("bin_bytes"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"))


# ---------------------------------------------------------------------------
# RFM customer segmentation (recency / frequency / monetary quintiles)
# ---------------------------------------------------------------------------

# Deterministic quintile: 1 + 5·(rank−1) div n over a total order with
# an id tie-break — pure integer arithmetic both engines compute
# identically (SQL NTILE's remainder distribution differs subtly across
# engines; this rank formula doesn't).
_RFM_SEGMENT = """
    CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
         WHEN f_score >= 4 THEN 'loyal'
         WHEN m_score >= 4 THEN 'big_spender'
         WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
         WHEN r_score <= 2 THEN 'hibernating'
         ELSE 'casual' END
"""


@register(
    "customer_rfm_segments",
    oracle=f"""
    WITH pc AS (
        SELECT o_custkey AS c_custkey,
               date_diff('day', CAST(max(o_orderdate) AS DATE),
                         (SELECT CAST(max(o_orderdate) AS DATE)
                          FROM orders)) AS recency_days,
               CAST(count(*) AS BIGINT) AS frequency,
               SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS monetary_dec
        FROM orders GROUP BY o_custkey
    ),
    s AS (
        SELECT *, COUNT(*) OVER () AS n,
               ROW_NUMBER() OVER (ORDER BY recency_days DESC, c_custkey)
                 AS rn_r,
               ROW_NUMBER() OVER (ORDER BY frequency, c_custkey) AS rn_f,
               ROW_NUMBER() OVER (ORDER BY monetary_dec, c_custkey) AS rn_m
        FROM pc
    ),
    sc AS (
        SELECT c_custkey, recency_days, frequency,
               CAST(CAST(monetary_dec AS VARCHAR) AS DOUBLE) AS monetary,
               CAST(1 + (5 * (rn_r - 1)) // n AS INT) AS r_score,
               CAST(1 + (5 * (rn_f - 1)) // n AS INT) AS f_score,
               CAST(1 + (5 * (rn_m - 1)) // n AS INT) AS m_score
        FROM s
    )
    SELECT *, {_RFM_SEGMENT} AS segment FROM sc
    """,
    tags=("warehouse", "window", "agg"),
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic marketing-warehouse pass: per
    customer, recency (days from their last order to the corpus's last
    order), frequency (order count), monetary (exact-decimal lifetime
    total), each scored into deterministic quintiles (1 + 5·(rank−1)
    div n with a custkey tie-break — integer-exact in both engines,
    unlike NTILE's engine-varying remainder placement), then a
    rule-based segment label (champion / loyal / big_spender / at_risk
    / hibernating / casual).

    Scale shape: the fact table collapses to one row per customer in a
    single map-side-combined aggregation BEFORE anything orders — all
    three ranking windows run over the customer aggregate (dimension-
    sized, the documented text_length_percentiles hazard class: at the
    scale where even the aggregate outgrows a partition, swap the
    ranks for approx_percentile boundary scoring — the winsorize
    ``_approx``-twin pattern, clamp unchanged). The corpus max date is
    a 1-row join (tiny-build, the text_tfidf doc-count pattern);
    recency/frequency/scores are all integers and monetary stays exact
    DECIMAL until the final double cast, so the output hashes
    identically cross-engine."""
    o = load_table(spark, sf_dir, "orders")
    pc = (o.groupBy(F.col("o_custkey").alias("c_custkey"))
          .agg(F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
               F.count(F.lit(1)).alias("frequency"),
               F.sum(money("o_totalprice")).alias("monetary_dec")))
    mx = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("mx"))
    base = (pc.join(mx)
            .select("c_custkey",
                    F.datediff("mx", "last_order").alias("recency_days"),
                    "frequency", "monetary_dec"))
    wn = Window.partitionBy()
    w_r = Window.orderBy(F.desc("recency_days"), "c_custkey")
    w_f = Window.orderBy("frequency", "c_custkey")
    w_m = Window.orderBy("monetary_dec", "c_custkey")
    n = F.count(F.lit(1)).over(wn)
    sc = base.select(
        "c_custkey", "recency_days", "frequency",
        F.col("monetary_dec").cast("double").alias("monetary"),
        (1 + F.floor((5 * (F.row_number().over(w_r) - 1)) / n))
        .cast("int").alias("r_score"),
        (1 + F.floor((5 * (F.row_number().over(w_f) - 1)) / n))
        .cast("int").alias("f_score"),
        (1 + F.floor((5 * (F.row_number().over(w_m) - 1)) / n))
        .cast("int").alias("m_score"))
    return sc.withColumn("segment", F.expr(_RFM_SEGMENT))
