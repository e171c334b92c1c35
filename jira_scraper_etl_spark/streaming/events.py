"""Structured Streaming over the ``events`` table: file-stream source,
watermarked event-time windows, and a custom stateful operator.

The batch plans in plans/event_time.py use the exact operators
Structured Streaming executes (``F.window`` / ``F.session_window``), so
each streaming pipeline here has an oracle-checked batch twin — the
tests drain the stream with ``Trigger.AvailableNow`` and diff the
result against the batch plan (differential testing, same idea as
functions/text_pandas.py).

Scale notes: the file source is the stand-in for Kafka — swap
``readStream.parquet`` for ``readStream.format("kafka")`` and the plans
are unchanged. Watermarks bound state: the tumbling aggregation keeps
only windows newer than the watermark; the stateful operator keeps one
small struct per user (no per-event history), so state size is O(keys),
not O(events).
"""

from __future__ import annotations

from typing import Any, Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..catalog import EVENTS_RAW_SCHEMA, _events_ts_unit

# Schema for event files whose ts is a native parquet timestamp
# (micro/milli, isAdjustedToUTC=false) — Spark reads those directly.
EVENTS_NATIVE_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampNTZType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


def stream_events(spark: SparkSession, source_dir: str,
                  glob: str = "events.parquet",
                  max_files_per_trigger: int | None = None) -> DataFrame:
    """``readStream`` over parquet event files in ``source_dir``,
    normalizing ``ts`` to timestamp_ntz exactly like catalog.load_events:
    the unit is sniffed from one file's footer (driver-side metadata
    read; a streaming source's files share one schema). TIMESTAMP(NANOS)
    files get the nanos-as-long columnar conversion, native micro/milli
    timestamps stream through Spark's ordinary reader.
    ``max_files_per_trigger`` bounds each micro-batch — with
    AvailableNow this replays a backlog as several batches, which is how
    the tests exercise cross-batch state."""
    import glob as globmod
    import os

    matches = sorted(globmod.glob(os.path.join(source_dir, glob)))
    nanos = bool(matches) and _events_ts_unit(matches[0]) == "ns"
    schema = EVENTS_RAW_SCHEMA if nanos else EVENTS_NATIVE_SCHEMA
    reader = (spark.readStream.schema(schema)
              .option("pathGlobFilter", glob))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    df = reader.parquet(source_dir)
    if nanos:
        return df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"))
    return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


def tumbling_counts(events: DataFrame, window: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling aggregation — the streaming twin of
    events_tumbling_1h (plans/event_time.py): same window operator,
    same output columns, plus the watermark that lets the engine drop
    state for closed windows and emit them in append mode."""
    from ..plans.registry import dsum

    # Watermarks require TIMESTAMP (not NTZ); the session TZ is pinned
    # UTC (session.py), so the cast is value-preserving, and the window
    # bound is cast back to NTZ to match the batch twin's schema.
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "total_value"))
        .select(F.col("w.start").cast("timestamp_ntz").alias("win_start"),
                "event_type", "n", "total_value")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes",
                   watermark: str = "2 hours") -> DataFrame:
    """Watermarked session-window aggregation — the streaming twin of
    events_session_30m (plans/event_time.py): same ``F.session_window``
    operator, same output columns. Sessions are merging state: the
    engine unions overlapping [ts, ts+gap) intervals per user across
    micro-batches, and the watermark both bounds that state (a session
    older than the watermark can no longer grow) and gates emission in
    append mode (a session row is final only once the watermark passes
    its end — so emitted rows are complete sessions, never partial
    merges). State is O(open sessions per user), not O(events):
    events inside a session fold into (n, total_value) partials.

    The differential test drains a 3-file time-range replay and checks
    the emitted set equals EXACTLY the batch sessions the final
    watermark closed — subset would hide a session the engine split in
    two (both halves below threshold)."""
    from ..plans.registry import dsum

    # Watermarks require TIMESTAMP (not NTZ); the session TZ is pinned
    # UTC (session.py), so the cast is value-preserving, and bounds are
    # cast back to NTZ to match the batch twin's schema.
    # Session bounds exposed as AGGREGATES (min/max+gap — identical
    # values to w.start/w.end), never the window struct's fields: a
    # filter on a grouping expression pushes below the aggregation,
    # which splits sessions straddling the cut (the session-window
    # pushdown hazard — see events_session_30m's docstring).
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.min("ts").cast("timestamp_ntz").alias("session_start"),
             (F.max("ts") + F.expr(f"INTERVAL {gap}"))
             .cast("timestamp_ntz").alias("session_end"),
             F.count(F.lit(1)).alias("n"), dsum("value", "total_value"))
        .select("user_id", "session_start", "session_end",
                "n", "total_value")
    )


def enriched_segment_counts(events: DataFrame, dim: DataFrame,
                            window: str = "1 hour",
                            watermark: str = "2 hours") -> DataFrame:
    """STREAM-STATIC join + windowed aggregation — the streaming twin
    of events_enriched_segment_hourly (plans/event_time.py): the event
    stream enriches against a static customer dimension (stateless —
    the engine keeps no join state because the static side is
    re-readable; it broadcasts while under the threshold), then the
    watermarked tumbling aggregation rolls up per (segment, hour). This
    is the remaining Structured Streaming join class next to the
    stream-stream attribution join: dimension enrichment, the shape
    every production event pipeline runs against its profile store."""
    from ..plans.registry import dsum

    d = dim.select("c_custkey", "c_mktsegment")
    joined = events.join(d, events.user_id == d.c_custkey)
    return (
        joined.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"),
                 F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "total_value"))
        .select("segment",
                F.col("w.start").cast("timestamp_ntz").alias("hr"),
                "n", "total_value")
    )


# Output/state schemas for the stateful per-user aggregate. last_ts is
# int64 microseconds (not a timestamp column) so state round-trips
# through Arrow without tz coercion.
USER_STATE_OUTPUT = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("last_event_id", T.LongType()),
    T.StructField("last_event_type", T.StringType()),
    T.StructField("last_ts_micros", T.LongType()),
])

USER_STATE_SCHEMA = T.StructType([
    T.StructField("n_events", T.LongType()),
    T.StructField("last_event_id", T.LongType()),
    T.StructField("last_event_type", T.StringType()),
    T.StructField("last_ts_micros", T.LongType()),
])


def _update_user_state(key: Any, pdfs: Iterator, state) -> Iterator:
    """Per-user running aggregate: event count + latest event (by
    (ts, event_id), so out-of-order arrival within and across batches
    converges to the same answer). Emits the updated aggregate once per
    batch the key appears in — CDC-style update stream."""
    import pandas as pd

    (user_id,) = key
    n, last_id, last_type, last_us = (
        state.get if state.exists else (0, -1, None, -1))
    for pdf in pdfs:
        for eid, etype, us in zip(pdf["event_id"], pdf["event_type"],
                                  pdf["ts_micros"]):
            n += 1
            if (us, eid) > (last_us, last_id):
                last_id, last_type, last_us = int(eid), etype, int(us)
    state.update((n, last_id, last_type, last_us))
    yield pd.DataFrame([{
        "user_id": user_id, "n_events": n, "last_event_id": last_id,
        "last_event_type": last_type, "last_ts_micros": last_us,
    }])


def stateful_user_stats(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: one
    state struct per user carrying (count, latest event), updated every
    micro-batch — the engine analog of the reference worker's
    re-fetch-and-overwrite bookkeeping, kept incrementally instead of
    recomputed. State is O(distinct users); no timeout (users never
    expire here — production would set an event-time timeout keyed to
    the watermark to reap idle keys)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (events
            .select("user_id", "event_id", "event_type",
                    F.expr("unix_micros(cast(ts as timestamp))").alias("ts_micros"))
            .groupBy("user_id")
            .applyInPandasWithState(
                _update_user_state,
                outputStructType=USER_STATE_OUTPUT,
                stateStructType=USER_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            ))


def dedup_within_watermark(events: DataFrame, key: str = "event_id",
                           watermark: str = "2 hours") -> DataFrame:
    """Streaming ingest dedup: drop re-deliveries of the same ``key``
    arriving within the watermark delay (``dropDuplicatesWithinWatermark``
    keeps state per key only until the watermark passes, so state is
    bounded by the delay window × arrival rate, not by history — the
    property that makes at-least-once upstream delivery exactly-once
    downstream at any scale)."""
    return (events.withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark([key]))


# Debounce output/state: ts in int64 microseconds so state round-trips
# through Arrow without tz coercion (same rationale as USER_STATE_*).
DEBOUNCE_OUTPUT = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("ts_micros", T.LongType()),
    T.StructField("gap_us", T.LongType()),
])

DEBOUNCE_STATE = T.StructType([
    T.StructField("last_ts_micros", T.LongType()),
    T.StructField("last_event_id", T.LongType()),
])

_DEBOUNCE_GAP_US = 300_000_000  # 5 minutes


def _update_debounce_state(key: Any, pdfs: Iterator, state) -> Iterator:
    """Per-(user, event_type) debounce fold: emit an event iff the gap
    to the PREVIOUS same-key event (in (ts, event_id) order) exceeds
    5 minutes — the first event of a key always passes (gap NULL).
    State is one (last_ts, last_id) pair per key, O(keys) not
    O(events); the previous-event reference is the last *seen* event,
    not the last *kept* one, matching the batch LAG twin exactly."""
    import pandas as pd

    user_id, event_type = key
    last_us, _last_id = state.get if state.exists else (None, -1)
    out = []
    rows: list[tuple[int, int]] = []
    for pdf in pdfs:
        rows.extend(zip((int(u) for u in pdf["ts_micros"]),
                        (int(e) for e in pdf["event_id"])))
    rows.sort()
    for us, eid in rows:
        gap = None if last_us is None else us - last_us
        if gap is None or gap > _DEBOUNCE_GAP_US:
            out.append((eid, user_id, event_type, us, gap))
        last_us, _last_id = us, eid
    state.update((last_us, _last_id))
    yield pd.DataFrame(out, columns=[f.name for f in DEBOUNCE_OUTPUT.fields])


def debounce_events(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch ``events_debounce_5m`` plan
    (plans/analysis_ops.py): drop same-(user, event_type) repeats
    arriving within 5 minutes, via ``applyInPandasWithState``.

    Equivalence to the batch LAG holds under per-key in-order delivery
    across micro-batches (the tests replay time-range files; a Kafka
    source partitioned by user delivers per-key in order). A stream
    with cross-batch reordering would need watermark-delayed emission
    to reproduce the batch answer — at which point the session-window
    operators are usually the better tool."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (events
            .select("user_id", "event_type", "event_id",
                    F.expr("unix_micros(cast(ts as timestamp))").alias("ts_micros"))
            .groupBy("user_id", "event_type")
            .applyInPandasWithState(
                _update_debounce_state,
                outputStructType=DEBOUNCE_OUTPUT,
                stateStructType=DEBOUNCE_STATE,
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout,
            ))


def attribution_1h(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """STREAM-STREAM interval join: click→purchase last-touch
    attribution, the streaming twin of the batch
    events_attribution_1h plan (inner-join form — zero-click purchases
    need the batch path or an outer stream join, which Spark only emits
    after the watermark fully closes).

    Both sides are watermarked so the state store can discard clicks
    older than (watermark + 1h) and purchases older than the watermark
    — bounded state, the property that lets this run forever. The join
    keys on user_id with the interval predicate evaluated inside, so
    scale behavior matches the batch twin: one keyed exchange per side.
    """
    ts = F.col("ts").cast("timestamp")
    clicks = (events.where(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("c_id"), ts.alias("c_ts"))
              .withWatermark("c_ts", watermark))
    purchases = (events.where(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("purchase_id"), "user_id",
                         ts.alias("p_ts"))
                 .withWatermark("p_ts", watermark))
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") < F.col("p_ts")),
    ).select("purchase_id", "user_id",
             F.col("c_id").alias("click_id"),
             F.col("c_ts").cast("timestamp_ntz").alias("click_ts"))


def drain_query(writer_start, timeout_seconds: float = 120.0):
    """Start a streaming query and block until AvailableNow finishes.

    RAISES on timeout instead of silently stopping: a stopped
    AvailableNow query has processed only a PREFIX of the backlog, and
    a silent partial drain surfaces downstream as a baffling value
    mismatch rather than as the timeout it is (found at the sf10 soak:
    the 10M-event drain needed >120 s, and the comparison reported
    every user short by one time-slice of events). Callers draining
    scaled backlogs pass a scale-appropriate timeout."""
    q = writer_start()
    q.awaitTermination(timeout_seconds)
    if q.isActive:
        q.stop()
        raise TimeoutError(
            f"streaming backlog not drained within {timeout_seconds}s — "
            f"partial results discarded (raise timeout_seconds for "
            f"scaled runs)")
    return q


# Journey state: int64 micros + bounded arrays (distinct active hours
# grows with timeline span, per-type last-seen with the type vocabulary
# — both corpus-bounded; production would reap hours past a retention
# horizon with an event-time timeout).
JOURNEY_OUTPUT = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("first_us", T.LongType()),
    T.StructField("last_us", T.LongType()),
    T.StructField("n_active_hours", T.IntegerType()),
    T.StructField("n_sessions", T.LongType()),
    T.StructField("n_debounced", T.LongType()),
    T.StructField("funnel_stage", T.IntegerType()),
])

JOURNEY_STATE = T.StructType([
    T.StructField("n_events", T.LongType()),
    T.StructField("first_us", T.LongType()),
    T.StructField("last_us", T.LongType()),
    T.StructField("hours", T.ArrayType(T.LongType())),
    T.StructField("n_sessions", T.LongType()),
    T.StructField("types", T.ArrayType(T.StringType())),
    T.StructField("type_last_us", T.ArrayType(T.LongType())),
    T.StructField("n_debounced", T.LongType()),
    T.StructField("mv", T.LongType()),
    T.StructField("mc", T.LongType()),
    T.StructField("mp", T.LongType()),
])

_SESSION_GAP_US = 1_800_000_000  # 30 minutes
_JOURNEY_DEBOUNCE_US = 300_000_000  # 5 minutes


def _update_journey_state(key: Any, pdfs: Iterator, state) -> Iterator:
    """Incremental per-user journey fold — the streaming maintenance of
    every metric the batch ``events_user_journey`` plan computes with
    stacked windows: session starts (gap to the previous event of ANY
    type), debounce survivors (gap to the previous event of the SAME
    type — the per-type last-seen map replays the batch plan's
    (event_type, ts)-ordered lag), distinct active hours, and the
    ordered view→click→purchase milestones (processing in ts order
    makes 'first view' ≡ 'min view', so the sequential updates equal
    the batch plan's nested window mins)."""
    import pandas as pd

    if state.exists:
        (n, first_us, last_us, hours, n_sess,
         types, type_last, n_deb, mv, mc, mp) = state.get
        hours = set(hours)
        by_type = dict(zip(types, type_last))
        mv = None if pd.isna(mv) else mv
        mc = None if pd.isna(mc) else mc
        mp = None if pd.isna(mp) else mp
    else:
        n, first_us, last_us, n_sess, n_deb = 0, None, None, 0, 0
        hours, by_type = set(), {}
        mv = mc = mp = None

    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows.sort_values(["ts_micros", "event_id"])
    for us, etype in zip(rows["ts_micros"], rows["event_type"]):
        us = int(us)
        n += 1
        first_us = us if first_us is None else min(first_us, us)
        if last_us is None or us - last_us > _SESSION_GAP_US:
            n_sess += 1
        last_us = us
        hours.add(us // 3_600_000_000)
        prev = by_type.get(etype)
        if prev is None or us - prev > _JOURNEY_DEBOUNCE_US:
            n_deb += 1
        by_type[etype] = us
        if etype == "view" and mv is None:
            mv = us
        elif etype == "click" and mv is not None and us >= mv and mc is None:
            mc = us
        elif (etype == "purchase" and mc is not None and us >= mc
              and mp is None):
            mp = us

    types = sorted(by_type)
    state.update((n, first_us, last_us, sorted(hours), n_sess,
                  types, [by_type[t] for t in types], n_deb, mv, mc, mp))
    stage = 3 if mp is not None else 2 if mc is not None \
        else 1 if mv is not None else 0
    yield pd.DataFrame([{
        "user_id": key[0], "n_events": n, "first_us": first_us,
        "last_us": last_us, "n_active_hours": len(hours),
        "n_sessions": n_sess, "n_debounced": n_deb,
        "funnel_stage": stage,
    }])


def journey_state(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch ``events_user_journey`` flagship
    (plans/event_time.py): the 7-metric per-user profile maintained
    incrementally with ``applyInPandasWithState`` — O(users) state,
    update-mode emission of each user's current profile per batch.
    Equivalence to the batch plan holds under per-key in-order delivery
    across micro-batches (same contract as debounce_events; the tests
    replay time-range files)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (events
            .select("user_id", "event_id", "event_type",
                    F.expr("unix_micros(cast(ts as timestamp))")
                    .alias("ts_micros"))
            .groupBy("user_id")
            .applyInPandasWithState(
                _update_journey_state,
                outputStructType=JOURNEY_OUTPUT,
                stateStructType=JOURNEY_STATE,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            ))
