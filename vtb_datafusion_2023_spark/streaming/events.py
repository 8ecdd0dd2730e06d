"""Structured Streaming surface (SURVEY §2.10).

The reference is pure batch; its event-time operators (hour buckets A4,
per-user running state W1-W2) are re-expressed here as the streaming
equivalents: watermarked tumbling-window aggregations and an
``applyInPandasWithState`` sessionizer.  The same column contracts as the
batch operators, so a pipeline can switch source without rewriting logic.

Scale notes: watermarks bound state (late data beyond the watermark is
dropped); the windowed aggregate shuffles on (window, key) exactly like
the batch groupBy; state-store size is O(open windows x keys).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import sqlgen
from ..sources.readers import small_frame

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        # TIMESTAMP(MICROS, adj=false) in the driver parquet scans as NTZ
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the driver's events parquet (NTZ ts ->
    session-UTC timestamp, same normalization as the batch reader)."""
    from ..session import tune_session

    tune_session(spark)
    raw = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("path", sf_dir)
        .option("pathGlobFilter", "events.parquet")
        .format("parquet")
        .load()
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


SENTINEL_USER = -1


def events_stream_with_sentinel(
    spark: SparkSession,
    sf_dir: str,
    advance: str = "10 hours",
    event_types: tuple[str, ...] = ("click", "purchase"),
) -> DataFrame:
    """Events file stream unioned with a far-future sentinel event pair
    (user ``SENTINEL_USER``, one row per event type in ``event_types``).

    Outer streaming joins only EMIT their unmatched-with-null rows once
    the watermark passes the row's expiry; a finite replay ends at the
    corpus max event time, stranding the tail in the state store.  The
    sentinel pushes max event time ``advance`` past the real data, so the
    final (no-data) micro-batch's watermark flushes every real row.
    ``event_types`` must include BOTH sides of the downstream join
    (trigger and convert types) — a sentinel row that a side's type
    filter discards never advances that side's watermark.  Filter
    ``user_id != SENTINEL_USER`` downstream.  This is replay harness
    plumbing — a live deployment's watermark advances naturally.
    """
    import datetime as _dt
    import os
    import tempfile

    from ..sources.readers import load_table

    max_us = (
        load_table(spark, sf_dir, "events")
        .agg(F.expr("max(unix_micros(ts))"))
        .collect()[0][0]
    )
    if max_us is None:
        raise ValueError(f"events table at {sf_dir} is empty: no max event time to anchor the sentinel")
    try:
        qty, unit = advance.split()
    except ValueError:
        raise ValueError(
            f"advance must be '<quantity> <unit>', got {advance!r}"
        ) from None
    units = {
        "days": 86400, "day": 86400,
        "hours": 3600, "hour": 3600,
        "minutes": 60, "minute": 60,
        "seconds": 1, "second": 1,
    }
    if unit not in units:
        raise ValueError(
            f"unsupported advance unit {unit!r}: use one of "
            f"day(s)/hour(s)/minute(s)/second(s)"
        )
    try:
        qty_n = int(qty)
    except ValueError:
        raise ValueError(
            f"advance quantity must be an integer, got {qty!r} in {advance!r}"
        ) from None
    sent_us = max_us + qty_n * units[unit] * 10**6
    sent_ts = _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=sent_us)
    path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_sentinel_{uuid.uuid4().hex[:8]}"
    )
    rows = [
        (-10**12 - i, sent_ts, SENTINEL_USER, et, 0.0, "{}")
        for i, et in enumerate(event_types)
    ]
    small_frame(spark, rows, EVENTS_STREAM_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)
    sentinel = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA).format("parquet").load(path)
    )
    raw = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("path", sf_dir)
        .option("pathGlobFilter", "events.parquet")
        .format("parquet")
        .load()
    )
    return raw.unionByName(sentinel).withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming A4: tumbling event-time windows x event_type with a
    late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n",
        )
    )


def windowed_user_spend(
    events: DataFrame, window: str = "6 hours", watermark: str = "12 hours"
) -> DataFrame:
    """Streaming A5/W1 analogue: per-user windowed value totals
    (decimal-exact, like the batch dsum)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "user_id")
        .agg(F.expr(sqlgen.dsum("value")).alias("spend"))
        .select(F.col("win.start").alias("win_start"), "user_id", "spend")
    )


def session_window_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Declarative sessionization via Spark's built-in ``session_window``:
    events within ``gap`` of the previous event merge; the window closes at
    last-event + gap.  Works identically over a batch DataFrame and a
    watermarked stream (append mode) — the batch form is the DuckDB-oracle
    contract (gaps-and-islands SQL), the stream form reuses the same plan.

    Scale: shuffles once on the grouping key, then performs a sort-based
    session merge per key — state is O(open sessions), not O(events).
    """
    return (
        events.groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(sqlgen.dsum("value")).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def replay_to_table(
    spark: SparkSession, sdf: DataFrame, mode: str = "complete", timeout_sec: int = 300
) -> DataFrame:
    """Run a streaming DataFrame to completion over its (finite) file
    source — ``availableNow`` trigger into a memory sink — and return the
    final result table.  This is the batch-replay harness that lets
    streaming queries participate in the DuckDB oracle gate: final state
    of the replay must equal the batch aggregation over the same files.
    """
    from ._util import await_or_raise

    name = "replay_" + uuid.uuid4().hex[:12]
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, timeout_sec, "replay_to_table")
    return spark.table(name)


def stream_dedup_within_watermark(
    events: DataFrame,
    keys: list[str],
    delay: str = "30 days",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermark-bounded streaming dedup: each ``keys`` tuple is emitted
    once (its first arrival), and the dedup state for a key is DROPPED
    once the watermark passes ``delay`` beyond its event time — the
    production form of streaming dedup, because plain ``dropDuplicates``
    on an unbounded stream grows state forever.

    Semantics contract: duplicates arriving within ``delay`` of the
    first occurrence are suppressed; a duplicate arriving later than the
    watermark may re-emit (by then its state is gone).  Size ``delay``
    to the source's real duplicate window (e.g. an at-least-once bus
    redelivers within minutes, not days) — that bound is exactly what
    caps state at 100 TB/day ingest.
    """
    return events.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)


def sessionize(events: DataFrame, gap_minutes: float = 30):
    """Custom stateful operator: per-user session assembly with an
    EVENT-TIME inactivity gap, via ``applyInPandasWithState`` (the
    Structured Streaming escape hatch the reference's per-user loops
    map onto).

    Each micro-batch's events are sorted by event time and split where
    consecutive events are more than ``gap_minutes`` apart — matching
    ``session_window_agg``'s gap semantics, so a whole history arriving
    in ONE batch still yields the per-gap sessions, not one giant span.
    Sessions CLOSED by a later event emit immediately; the trailing open
    session stays in state and flushes on a processing-time timeout (the
    live-stream flush — event time alone can never prove a user went
    quiet).  Late data merges by INTERVAL: the open session in state and
    the batch's events are treated as event-time spans and merged where
    they come within ``gap`` of each other, so a late event inside (or
    within ``gap`` of) the open session extends it, while an event more
    than ``gap`` BEFORE the session's start closes as its own earlier
    session — the same split ``session_window_agg`` would produce.
    Replaying history strictly by event time, use the declarative
    ``session_window_agg`` (the oracle-gated form).

    Emits (user_id, session_start, session_end, n_events, total_value).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("session_start", T.TimestampType()),
            T.StructField("session_end", T.TimestampType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("start_us", T.LongType()),
            T.StructField("end_us", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )
    gap_us = int(gap_minutes * 60 * 1_000_000)

    def _emit(key, sessions: list) -> "pd.DataFrame":
        return pd.DataFrame(
            {
                "user_id": [key[0]] * len(sessions),
                "session_start": [pd.Timestamp(s[0], unit="us") for s in sessions],
                "session_end": [pd.Timestamp(s[1], unit="us") for s in sessions],
                "n_events": [s[2] for s in sessions],
                "total_value": [s[3] for s in sessions],
            }
        )

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            closed = [list(state.get)]
            state.remove()
            yield _emit(key, closed)
            return
        rows = pd.concat(list(pdfs)).sort_values("ts")
        ts_us = (rows["ts"].astype("int64") // 1000).to_numpy()
        vals = rows["value"].to_numpy(dtype=float)
        # interval merge: each event is a [t, t] span, the open session
        # in state is a [start, end] span; sorted by start, spans within
        # gap of the running span merge, everything but the last closes.
        spans = [[int(t), int(t), 1, float(v)] for t, v in zip(ts_us, vals)]
        if state.exists:
            spans.append(list(state.get))
        spans.sort(key=lambda s: (s[0], s[1]))
        closed: list[list] = []
        cur: list | None = None
        for s in spans:
            if cur is None:
                cur = s
            elif s[0] - cur[1] <= gap_us:
                cur[1] = max(cur[1], s[1])
                cur[2] += s[2]
                cur[3] += s[3]
            else:
                closed.append(cur)
                cur = s
        state.update(tuple(cur))
        state.setTimeoutDuration(gap_us // 1000)
        if closed:
            yield _emit(key, closed)

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def attribution_join(
    events: DataFrame,
    trigger_type: str = "click",
    convert_type: str = "purchase",
    max_delay: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join (attribution): each ``trigger_type``
    event matched to the same user's ``convert_type`` events in
    ``(trigger_ts, trigger_ts + max_delay]``.

    The canonical Structured Streaming two-stream join: both sides
    watermarked, and the time-range predicate lets the engine GC join
    state older than watermark + delay — state is bounded by the delay
    window regardless of stream length.  Applied to a batch DataFrame the
    same function plans a plain interval join (the DuckDB-oracle form);
    the suite replays the STREAMING form to completion and checks it
    bitwise against that batch SQL.
    """
    trig = events.filter(F.col("event_type") == trigger_type).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_id").alias("trigger_id"),
    )
    conv = events.filter(F.col("event_type") == convert_type).select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("convert_id"),
        F.col("value").alias("convert_value"),
    )
    if events.isStreaming:
        trig = trig.withWatermark("t_ts", watermark)
        conv = conv.withWatermark("c_ts", watermark)
    cond = F.expr(
        f"t_user = c_user and c_ts > t_ts and c_ts <= t_ts + interval {max_delay}"
    )
    return trig.join(conv, cond, how).select(
        F.col("t_user").alias("user_id"),
        "trigger_id",
        "convert_id",
        (
            F.unix_micros(F.col("c_ts").cast("timestamp"))
            - F.unix_micros(F.col("t_ts").cast("timestamp"))
        ).alias("delay_us"),
        "convert_value",
    )


def enrich_stream(stream: DataFrame, dim: DataFrame, on, how: str = "inner") -> DataFrame:
    """Stream-static enrichment join: every micro-batch joins against the
    current snapshot of a static/slowly-refreshed dimension.

    Stateless — unlike stream-stream joins there is NO streaming state to
    watermark: the static side is (re)broadcast per micro-batch, so at
    100 TB/day of events the join cost is one broadcast hash join per
    batch and the dimension can be swapped under the stream (each batch
    re-resolves the static plan).
    """
    return stream.join(F.broadcast(dim), on=on, how=how)


def attribution_join_full(
    events: DataFrame,
    trigger_type: str = "click",
    convert_type: str = "purchase",
    max_delay: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream FULL OUTER interval join: ``attribution_join`` plus
    the null-extended rows of BOTH sides — unattributed triggers and
    organic (trigger-less) conversions surface in the same pass.

    Outer rows emit only once the watermark proves no match can still
    arrive, so state stays bounded exactly as in the inner form; the
    output keeps both user columns (either may be NULL on an outer row),
    unlike the single ``user_id`` of the inner/leftOuter variants.
    """
    trig = events.filter(F.col("event_type") == trigger_type).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_id").alias("trigger_id"),
    )
    conv = events.filter(F.col("event_type") == convert_type).select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("convert_id"),
        F.col("value").alias("convert_value"),
    )
    if events.isStreaming:
        trig = trig.withWatermark("t_ts", watermark)
        conv = conv.withWatermark("c_ts", watermark)
    cond = F.expr(
        f"t_user = c_user and c_ts > t_ts and c_ts <= t_ts + interval {max_delay}"
    )
    return trig.join(conv, cond, "fullOuter").select(
        F.col("t_user").alias("trig_user"),
        F.col("c_user").alias("conv_user"),
        "trigger_id",
        "convert_id",
        (
            F.unix_micros(F.col("c_ts").cast("timestamp"))
            - F.unix_micros(F.col("t_ts").cast("timestamp"))
        ).alias("delay_us"),
        "convert_value",
    )
