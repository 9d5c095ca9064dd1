"""Structured Streaming twins of the batch window queries
(queries/streaming_batch.py) plus a custom stateful operator.

The reference is all-batch; the streaming surface is the driver-mandated
extension over the `events` fixture. Design: every operator takes a
*streaming* DataFrame (``spark.readStream``) and returns the transformed
streaming frame — sinks/triggers are the caller's business, so the same
code runs under `trigger(availableNow=True)` in tests and continuous
triggers in production.

Scale notes: watermark bounds state (late rows beyond 30 min are dropped);
window aggregations keep one state row per (window, key) — state size is
O(windows x keys), independent of event volume. The stateful op uses
applyInPandasWithState with an explicit timeout so sessions close without
waiting for the next event for that user.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

def _events_schema(spark: SparkSession, sf_dir: str) -> StructType:
    """Driver-side footer read of the events parquet to learn how ``ts`` was
    physically written. File-source streams require an explicit schema, but
    hardcoding one (as round 1 did) silently mis-scales timestamps when the
    fixture's unit changes — TIMESTAMP(NANOS) arrives as epoch-nanos long
    under ``nanosAsLong`` while TIMESTAMP(MICROS) arrives as TIMESTAMP/NTZ.
    Reading the footer costs one driver RPC, independent of data size."""
    return spark.read.parquet(f"{sf_dir}/events.parquet").schema


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (one file = one
    micro-batch under availableNow; in production this is Kafka/kinesis with
    the same downstream code). Normalizes ``ts`` to TIMESTAMP with the same
    type-branch as the batch loader (sources/tables.py:load_table), so the
    streaming and batch timelines agree bit-for-bit."""
    import pyspark.sql.types as T

    import os

    schema = _events_schema(spark, sf_dir)
    table_path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(table_path):
        # directory-form table (the production layout; Spark sinks and
        # tools/scale_probe write this): stream the directory itself — a
        # pathGlobFilter of 'events.parquet' would match ZERO leaf files
        # (they are part-*.parquet) and silently yield an empty stream
        # (caught by tests/test_degenerate_data.py's sweep)
        raw = spark.readStream.schema(schema).format("parquet").load(table_path)
    else:
        # flat fixture layout (one file per table, siblings in sf_dir):
        # file-source streams take a directory; glob to just this table
        raw = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("pathGlobFilter", "events.parquet")
            .load(sf_dir)
        )
    ts_type = schema["ts"].dataType
    if isinstance(ts_type, LongType):
        # epoch-nanos long (TIMESTAMP(NANOS) fixture under nanosAsLong);
        # integer floor-div (sign-safe, unlike `div` which truncates to zero)
        return raw.withColumn(
            "ts",
            F.timestamp_micros(F.expr("(ts - ((ts % 1000) + 1000) % 1000) div 1000")),
        )
    if not isinstance(ts_type, T.TimestampType):
        # TIMESTAMP_NTZ: session tz is pinned UTC, cast is instant-preserving
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def tumbling_counts(events: DataFrame, width: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling-window counts — the streaming twin of
    `stream_tumbling`."""
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.unix_timestamp("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_aggregates(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Built-in session windows (gap-merged state) — twin of
    `stream_session`'s lag/cumsum batch formulation."""
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            "user_id",
            F.unix_timestamp("w.start").alias("session_start"),
            F.unix_timestamp("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def stream_range_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    horizon: str = "10 minutes",
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: every left event matched to right
    events with the same key in ``[left.ts - horizon, left.ts]`` — the
    streaming twin of ``operators/temporal.range_join_binned``. Both sides
    carry watermarks and the join condition bounds right.ts relative to
    left.ts on BOTH ends, so the engine can evict buffered state once the
    watermark passes the horizon — bounded state, the requirement for an
    unbounded run. Append mode. ``how='left_outer'`` additionally emits
    null-padded rows for match-less left events — but only once the
    watermark proves no future right row can still match (the reason outer
    stream-stream joins REQUIRE the time bound: without it a left row could
    match forever and the null verdict could never be issued)."""
    l = left.withWatermark("ts", watermark).alias("l")
    r = right.withWatermark("ts", watermark).alias("r")
    cond = (
        (F.col("l." + key) == F.col("r." + key))
        & (F.col("r.ts") <= F.col("l.ts"))
        & (F.col("r.ts") >= F.col("l.ts") - F.expr(f"INTERVAL {horizon}"))
    )
    return l.join(r, cond, how).select(
        F.col("l.event_id").alias("event_id"),
        F.col("l." + key).alias(key),
        F.col("l.ts").alias("ts"),
        F.col("l.value").alias("click_value"),
        F.col("r.event_id").alias("purchase_id"),
        F.col("r.value").alias("purchase_value"),
        F.col("r.ts").alias("purchase_ts"),
    )


def dedup_stream(
    events: DataFrame, keys: tuple[str, ...] = ("event_id",), watermark: str = "30 minutes"
) -> DataFrame:
    """Exact streaming deduplication — the streaming member of the dedup
    family (queries/dedup.py). At-least-once sources (Kafka redelivery,
    retried file drops) emit duplicates; ``dropDuplicates`` keyed on the
    event id keeps first-seen rows in state. The event-time column rides in
    the dedup subset together with a watermark so state for keys older than
    the watermark is EVICTED — state size is O(keys within the watermark
    horizon), not O(all keys ever seen), which is what lets this run
    forever at 100 TB/day."""
    return events.withWatermark("ts", watermark).dropDuplicates([*keys, "ts"])


# --- custom stateful operator: running per-user anomaly score ----------------
_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("sum_v", DoubleType()),
        StructField("max_v", DoubleType()),
    ]
)
_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("mean_value", DoubleType()),
        StructField("max_value", DoubleType()),
    ]
)


def _make_update_fn(idle_flush_ms: int | None):
    def update_user_state(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if idle_flush_ms is not None and state.hasTimedOut:
            n, sum_v, max_v = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_events": [n],
                    "mean_value": [sum_v / n if n else 0.0],
                    "max_value": [max_v],
                }
            )
            return
        n, sum_v, max_v = state.get if state.exists else (0, 0.0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            sum_v += float(pdf["value"].sum())
            if len(pdf):
                max_v = max(max_v, float(pdf["value"].max()))
        state.update((n, sum_v, max_v))
        if idle_flush_ms is not None:
            state.setTimeoutDuration(idle_flush_ms)
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "mean_value": [sum_v / n if n else 0.0],
                "max_value": [max_v],
            }
        )

    return update_user_state


def running_user_profile(
    events: DataFrame, idle_flush_ms: int | None = None
) -> DataFrame:
    """Custom stateful aggregation (applyInPandasWithState): a running
    per-user profile emitted every micro-batch — the pattern the
    reference's batch world has no equivalent for. State per user is 3
    scalars. Pass idle_flush_ms to also flush+drop a user's state after
    processing-time idleness (continuous pipelines; leave None for bounded
    runs — recurring timers never let processAllAvailable drain)."""
    timeout = (
        GroupStateTimeout.NoTimeout
        if idle_flush_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_update_fn(idle_flush_ms),
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout,
        )
    )
