"""Structured Streaming ingest: the native replacement for the
reference's Firehose buffering approximation.

Reference behavior being replaced (SURVEY.md §7 step 5):
- Firehose buffers 5 MB / 60 s then lands year=/month=/day= NDJSON
  (kinesis/main.tf:38-42) — here a streaming file sink with a processing
  trigger + checkpoint gives the same layout with exactly-once semantics.
- The hourly batch re-read becomes a real event-time pipeline:
  watermarks bound state, windowed aggregations emit on closure,
  dropDuplicatesWithinWatermark replaces nothing (the reference can't
  dedup at all).

Scale: the synthetic source is the `rate` source (distributed,
backpressure-aware); all derived columns are the same xxhash64 math as
the batch generator, so stream and batch rows are drawn from the same
distribution — one codepath to validate both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.synthetic import DEFAULT_CITIES, _gauss, _stable_city_base, _u01
from ..functions.core import mint_sensor_id


def state_partitions(spark: SparkSession, n: int):
    """Scoped override of the shuffle-partition count for a streaming
    query's STATE layout (context manager; restores the session value).

    A stateful streaming query pins its state-store partition count to
    ``spark.sql.shuffle.partitions`` at first start, and every micro-batch
    then pays a per-partition-per-store commit (open/write/rename of a
    delta file). That fixed cost should track the STATE size, not the
    batch-side default: a stream-stream join (4 state stores) over a
    bounded availableNow replay measured 7.6 s at 32 partitions vs 2.6 s
    at 8 with identical results. Use around writeStream.start() +
    awaitTermination(); the session conf is restored on exit, so batch
    queries planned outside the block are untouched (the scoped
    set/restore is the sanctioned exception to the "queries never mutate
    session conf" rule in session.py — state partitioning is a property
    of the QUERY, and Spark only exposes it through this conf).
    On a production cluster with real key cardinality, size ``n`` like
    any shuffle: enough partitions that per-partition state fits memory.
    """
    from contextlib import contextmanager

    @contextmanager
    def _cm():
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)

    return _cm()


def synthetic_event_stream(
    spark: SparkSession,
    rows_per_second: int = 100,
    cities: list[str] | None = None,
    sensors_per_city: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Unbounded IoT reading stream from the rate source. Each rate tick
    becomes one reading for a deterministic (city, sensor) chosen by the
    tick value — schema matches catalog.RAW_IOT_SENSORS plus a typed
    event_time column for watermarking."""
    cities = cities or DEFAULT_CITIES
    n = len(cities)
    rate = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()
    city = F.element_at(F.array(*[F.lit(c) for c in cities]), (F.col("value") % n + 1).cast("int"))
    # integer division: float (value / n) rounds above 2^53 and would make
    # the derived sensor index inexact on a long-running stream
    sensor_idx = F.expr(f"value div {n}") % sensors_per_city
    key = F.concat_ws("|", city, sensor_idx, F.col("value"))
    aqi_bucket = _u01(key, seed, "aqi_w")
    aqi = (
        F.when(aqi_bucket < 0.7, _u01(key, seed, "aqi_lo") * 50.0)
        .when(aqi_bucket < 0.9, 51.0 + _u01(key, seed, "aqi_mid") * 49.0)
        .otherwise(101.0 + _u01(key, seed, "aqi_hi") * 99.0)
    )
    return rate.select(
        mint_sensor_id(city, sensor_idx).alias("sensor_id"),
        city.alias("city"),
        F.date_format("timestamp", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx").alias("timestamp"),
        F.round(_stable_city_base(city) + _gauss(key, seed, "temp", 0, 3), 1).alias("temperature_c"),
        F.round(20.0 + _u01(key, seed, "hum") * 75.0, 1).alias("humidity_pct"),
        F.round(aqi, 1).alias("aqi"),
        F.round(15.0 + _u01(key, seed, "batt") * 85.0, 1).alias("battery_level"),
        F.col("timestamp").alias("event_time"),
    )


def stream_to_raw_zone(
    sdf: DataFrame,
    path: str,
    checkpoint: str,
    fmt: str = "json",
    available_now: bool = True,
    processing_time: str = "60 seconds",
):
    """Firehose-equivalent landing: year=/month=/day= partitioned files
    (kinesis/main.tf:38 layout), checkpointed for exactly-once. Returns
    the started StreamingQuery.

    available_now=True drains whatever is available then stops (the
    batch-over-stream test mode); otherwise a 60 s processing trigger
    mirrors the Firehose buffer interval (kinesis/main.tf:40-41)."""
    partitioned = (
        sdf.withColumn("year", F.date_format("event_time", "yyyy"))
        .withColumn("month", F.date_format("event_time", "MM"))
        .withColumn("day", F.date_format("event_time", "dd"))
        .drop("event_time")
    )
    writer = (
        partitioned.writeStream.format(fmt)
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("year", "month", "day")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def hourly_window_stats(
    sdf: DataFrame, ts_col: str = "event_time", value_col: str = "temperature_c",
    watermark: str = "2 hours", window: str = "1 hour",
) -> DataFrame:
    """Event-time tumbling-window aggregation with a late-data watermark —
    the streaming query surface the reference approximates with its
    buffer-then-rebatch loop."""
    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg(value_col), 4).alias("avg_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_events",
            "avg_value",
        )
    )


def stream_dedup(sdf: DataFrame, keys: list[str], ts_col: str, watermark: str = "1 hour") -> DataFrame:
    """Streaming dedup with bounded state: duplicates arriving within the
    watermark horizon are dropped, state older than it is evicted."""
    return sdf.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def running_stats_with_state(
    sdf: DataFrame,
    key: str = "city",
    value_col: str = "temperature_c",
    ts_col: str = "event_time",
    watermark: str = "1 hour",
    state_timeout_ms: int = 0,
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState: a
    per-key running (count, sum, min, max) that survives across
    micro-batches — the surface Spark's built-in windowed aggs can't
    express when state logic is arbitrary (e.g. CUSUM anomaly scores,
    per-device calibration).

    Scale: state is partitioned by key in the state store (RocksDB on a
    real cluster); each micro-batch touches only keys present in the
    batch. For an always-on deployment pass ``state_timeout_ms`` > 0 to
    reap idle keys with a processing-time timeout. Leave it 0 (NoTimeout)
    for ``availableNow``/batch-drain runs: a re-armed processing-time
    timer counts as pending work, so an availableNow trigger with
    timeouts enabled never terminates.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField(key, T.StringType()),
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
            T.StructField("vmin", T.DoubleType()),
            T.StructField("vmax", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
            T.StructField("vmin", T.DoubleType()),
            T.StructField("vmax", T.DoubleType()),
        ]
    )

    def update(k, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        n, total, vmin, vmax = state.get if state.exists else (0, 0.0, float("inf"), float("-inf"))
        for pdf in pdfs:
            vals = pdf[value_col].dropna()
            if len(vals):
                n += int(len(vals))
                total += float(vals.sum())
                vmin = min(vmin, float(vals.min()))
                vmax = max(vmax, float(vals.max()))
        state.update((n, total, vmin, vmax))
        if state_timeout_ms > 0:
            state.setTimeoutDuration(state_timeout_ms)
        yield pd.DataFrame({key: [k[0]], "n": [n], "total": [total], "vmin": [vmin], "vmax": [vmax]})

    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_timeout_ms > 0
        else GroupStateTimeout.NoTimeout
    )
    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(key)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=timeout_conf,
        )
    )


def sessionize_stream(
    sdf: DataFrame, key: str, ts_col: str, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Native session windows (dynamic-gap session_window) — the streaming
    twin of operators.asof.sessionize."""
    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(F.col(key), F.session_window(F.col(ts_col), gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "event_time",
    right_ts: str = "event_time",
    watermark: str = "1 hour",
    max_delay: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream equi-join with a time-range condition.

    Both sides buffer rows in the state store until the other side's
    matching row can no longer arrive; the watermark plus the
    ``max_delay`` range condition are what make that buffer FINITE —
    without them Spark would have to keep every left row forever. State
    per key is evicted once event time passes left_ts + max_delay +
    watermark.

    Scale: state is hash-partitioned by the join key across executors
    (same layout as any shuffle join); the range condition keeps per-key
    state to the delay window only, so total state is
    rate x (watermark + max_delay), independent of stream lifetime.
    ``how`` supports inner and left_outer (outer emits nulls only after
    the watermark closes the match window — correct-but-late by design).
    """
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {max_delay}"))
    )
    return l.join(r, cond, how)


def stream_upsert_to_lake(
    sdf: DataFrame,
    path: str,
    key_cols: list[str],
    version_col: str,
    partition_cols: list[str],
    checkpoint: str,
    available_now: bool = True,
):
    """Streaming CDC apply: merge each micro-batch into the parquet lake
    with merge_upsert (winner-per-key by version, touched-partitions-only
    rewrite) via foreachBatch — the standard stream->lake upsert pattern.

    Exactly-once story: foreachBatch is at-least-once (a batch can replay
    after a crash between sink commit and checkpoint commit), but the
    merge itself is IDEMPOTENT — replaying the same batch re-elects the
    same winners, because a version tie keeps the incoming row and equal
    rows are byte-identical. Idempotent-merge + checkpointed offsets is
    the practical exactly-once contract (the same one Delta's
    foreachBatch-MERGE guidance relies on).

    Scale: each micro-batch rewrite touches only the partitions present
    in the batch (update locality, not table size); the per-batch window
    runs on batch + touched partitions only. State: none beyond source
    offsets — the lake itself is the state.
    """
    from ..operators.maintenance import merge_upsert

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        merge_upsert(
            batch_df.sparkSession, path, batch_df, key_cols, version_col, partition_cols
        )

    writer = sdf.writeStream.foreachBatch(apply_batch).option("checkpointLocation", checkpoint)
    writer = (
        writer.trigger(availableNow=True)
        if available_now
        else writer.trigger(processingTime="60 seconds")
    )
    return writer.start()
