"""Streaming joins (SURVEY §2C C6/C9 streaming forms).

- stream-static: a stream enriched against a batch dimension table — no
  state, the static side behaves like a broadcast dimension (C6's
  streaming column in §2C).
- stream-stream interval join: the canonical watermarked two-stream
  correlation (C9's streaming column). Both sides buffer in the state
  store; the watermark + the time-bound join condition let Spark evict
  state once no future match is possible, so state size tracks the
  interval horizon, not stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_static_enrich(events_stream: DataFrame,
                         customer_static: DataFrame) -> DataFrame:
    """C6 streaming form: enrich each event with its customer's segment.
    The static side re-resolves per micro-batch (picks up dimension
    updates); equality with the batch join is exact since no state is
    involved."""
    dim = customer_static.select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment")
    return (
        events_stream.join(F.broadcast(dim), "user_id", "left")
        .select("event_id", "user_id", "event_type", "c_mktsegment")
    )


def stream_stream_left_outer_join(left: DataFrame, right: DataFrame,
                                  watermark: str = "10 minutes",
                                  interval_minutes: int = 5) -> DataFrame:
    """C8 streaming form: left-outer two-stream join. Outer joins require
    watermarks on BOTH sides plus the time-bound condition — an unmatched
    left row emits its null match only once the watermark passes
    left.ts + interval (state eviction proves no future right row can
    match). Rows younger than that at query end stay buffered in the state
    store for the next run; the equivalence test computes the expected
    emission set from the query's own final watermark."""
    l = left.withWatermark("ts", watermark).alias("l")
    r = right.withWatermark("ts", watermark).alias("r")
    return (
        l.join(
            r,
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.ts") > F.col("l.ts"))
            & (F.col("r.ts") <= F.col("l.ts")
               + F.expr(f"INTERVAL {interval_minutes} MINUTES")),
            "leftOuter",
        )
        .select(F.col("l.event_id").alias("event_id"),
                F.col("r.event_id").alias("followup_id"))
    )


def stream_stream_interval_join(left: DataFrame, right: DataFrame,
                                watermark: str = "10 minutes",
                                interval_minutes: int = 5) -> DataFrame:
    """C9 streaming form: for each left event, right events of the same user
    in (ts, ts + interval]. Both sides watermarked; the range condition
    bounds buffered state to the interval horizon.

    Returns the matched pairs (not the count) so output mode append works
    without an aggregation watermark interaction; the batch twin aggregates
    the same pairs.
    """
    l = left.withWatermark("ts", watermark).alias("l")
    r = right.withWatermark("ts", watermark).alias("r")
    return (
        l.join(
            r,
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.ts") > F.col("l.ts"))
            & (F.col("r.ts") <= F.col("l.ts")
               + F.expr(f"INTERVAL {interval_minutes} MINUTES")),
        )
        .select(F.col("l.event_id").alias("event_id"),
                F.col("r.event_id").alias("followup_id"))
    )


def click_purchase_attribution_stream(events: DataFrame,
                                      horizon: str = "1 hour") -> DataFrame:
    """C36: the ATTRIBUTION-shaped interval join — the typed, business form
    of stream_stream_interval_join above: the multi-event stream routes by
    event_type (the A19 fan-out discipline) into a click side and a
    purchase side, and each click pairs with the same user's purchases in
    (click_ts, click_ts + horizon]. Emits the attribution lag in exact
    integer microseconds (unix_micros — the joins.py precision contract),
    never second-truncated.

    Same state-GC shape as the generic form: watermarks on both sides plus
    the event-time range predicate bound buffered state to horizon ×
    arrival rate; the join shuffles both sides keyed on user_id and the
    range is evaluated inside the keyed state store, not as a cross
    product."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", horizon)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", horizon)
    )
    return (
        clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") > F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {horizon}")),
            "inner")
        .select(F.col("c_user").alias("user_id"), "click_id", "purchase_id",
                (F.unix_micros("p_ts") - F.unix_micros("c_ts"))
                .alias("lag_us"))
    )


def click_attribution_outer_stream(events: DataFrame,
                                   horizon: str = "1 hour") -> DataFrame:
    """C36b: the LEFT-OUTER form of the attribution interval join — every
    click emits exactly once: either with its attributed purchases (same
    semantics as click_purchase_attribution_stream) or, once the
    watermark proves no purchase can still arrive inside the horizon,
    with NULL purchase columns. This is the streaming operator batch
    can't imitate with a plain LEFT JOIN: the null row is an *eviction
    event* — it exists because state GC proved a negative.

    Determinism contract (what the driver oracle replays): under
    availableNow the final no-data batch advances the watermark to
    wm = floor_ms(min(max click ts, max purchase ts)) − horizon (Spark's
    min-of-watermarks policy across the two sides, millisecond
    truncation), then flushes every unmatched click with
    click_ts + horizon < wm. Unmatched clicks younger than that stay
    buffered for the next run (exactly-once across restarts, A17/A21) —
    the oracle counts them out with the same arithmetic."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", horizon)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", horizon)
    )
    return (
        clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") > F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {horizon}")),
            "leftOuter")
        .select(F.col("c_user").alias("user_id"), "click_id", "purchase_id",
                (F.unix_micros("p_ts") - F.unix_micros("c_ts"))
                .alias("lag_us"))
    )


def windowed_click_view_join(events: DataFrame,
                             window: str = "1 hour") -> DataFrame:
    """C36c (round 16; r13 verdict item 6 named the gap): stream-stream
    INNER join keyed on (user, tumbling time window) — the other
    documented state-GC contract beside the interval join's time-range
    predicate: both sides carry the SAME window expression, the join is
    a pure equality on (user_id, window), and Spark evicts a window's
    buffered rows from both state stores once the watermark passes the
    window end (whole-window eviction, vs the interval join's per-row
    horizon). This is the join a 100-TB sessionized-correlation job
    runs: co-group clicks and views of the same user inside each hour.

    Inner-join emission is watermark-independent (watermarks only bound
    state GC, never gate inner output), so single-pass availableNow
    replay emits exactly the batch join — the full SQL oracle checks it
    row-for-row with `date_trunc('hour', ts)` equality (epoch-aligned
    tumbling windows are hour truncation).

    Scale: state per side ≤ watermark horizon × arrival rate, keyed by
    (user, window) — the shuffle key is the join key, so skew follows
    user skew (AQE handles it batch-side; state-store sharding
    stream-side). Output pairs are per-(user, window) products —
    bounded by per-user-per-hour activity, never a cross product."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", window)
        .withColumn("c_win", F.window("c_ts", window))
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .select(F.col("event_id").alias("view_id"),
                F.col("user_id").alias("v_user"),
                F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", window)
        .withColumn("v_win", F.window("v_ts", window))
    )
    return (
        clicks.join(
            views,
            (F.col("c_user") == F.col("v_user"))
            & (F.col("c_win") == F.col("v_win")),
            "inner")
        .select(F.col("c_user").alias("user_id"),
                F.col("c_win.start").alias("window_start"),
                "click_id", "view_id")
    )


def windowed_click_view_left_join(events: DataFrame,
                                  window: str = "1 hour") -> DataFrame:
    """C36d (round 14 session, r17 slate): stream-stream LEFT OUTER
    join keyed on (user, tumbling time window) — the completion of the
    C36 streaming-join matrix (interval inner, interval outer batch,
    windowed inner twin → windowed OUTER twin): every click emits
    exactly once, paired with each same-user same-hour view if any
    exist, else null-extended ONCE the watermark proves no future view
    can land in its window. Unlike the inner form (emission
    watermark-independent), outer null emission is gated on state
    eviction: Spark holds the unmatched click in the left state store
    until the watermark passes its window end, then emits the null row
    as it evicts — so a driver replay across REAL micro-batches checks
    the eviction path itself, not just the match path.

    Batch equality contract: with a delay-0 watermark and a replay
    whose final no-data batch sees a watermark past EVERY real window
    end (the caller stages one far-future sentinel row, as
    plans.queries._sentinel_slices does), the sink is exactly the
    batch LEFT JOIN: matched pairs from the match path + one
    null-extended row per unmatched click from the eviction path.

    The sentinel rides BOTH sides: each side's filter admits
    event_type IN (its own, 'sentinel'), so the one staged sentinel
    row advances BOTH state stores' watermarks (and self-matches on
    user −1 — one inner pair); callers filter user_id < 0 rows from
    the sink.

    Scale: identical state posture to the inner form — per-side state
    ≤ watermark horizon × arrival rate keyed by (user, window),
    whole-window eviction; the outer path adds no state, only the
    null-emission at eviction time. Output bounded by clicks +
    per-(user, hour) match products."""
    clicks = (
        events.filter(F.col("event_type").isin("click", "sentinel"))
        .select(F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "0 seconds")
        .withColumn("c_win", F.window("c_ts", window))
    )
    views = (
        events.filter(F.col("event_type").isin("view", "sentinel"))
        .select(F.col("event_id").alias("view_id"),
                F.col("user_id").alias("v_user"),
                F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "0 seconds")
        .withColumn("v_win", F.window("v_ts", window))
    )
    return (
        clicks.join(
            views,
            (F.col("c_user") == F.col("v_user"))
            & (F.col("c_win") == F.col("v_win")),
            "leftOuter")
        .select(F.col("c_user").alias("user_id"),
                F.col("c_win.start").alias("window_start"),
                "click_id", "view_id")
    )
