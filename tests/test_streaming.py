"""Structured Streaming + temporal operator tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_datalake_platform_spark.operators.asof import (
    asof_join,
    asof_join_pandas,
    sessionize,
)
from aws_datalake_platform_spark.streaming.ingest import (
    hourly_window_stats,
    sessionize_stream,
    stream_dedup,
    stream_to_raw_zone,
    synthetic_event_stream,
)


def _ts_df(spark, rows, schema="user_id long, ts timestamp, event_id long"):
    return spark.createDataFrame(rows, schema)


import datetime as dt

T0 = dt.datetime(2026, 1, 1, 0, 0, 0)


def m(minutes):
    return T0 + dt.timedelta(minutes=minutes)


def test_asof_join_backward(spark):
    left = _ts_df(spark, [(1, m(10), 100), (1, m(30), 101), (2, m(5), 102)])
    right = spark.createDataFrame(
        [(1, m(0)), (1, m(10)), (1, m(20)), (3, m(1))], "user_id long, ts timestamp"
    )
    out = {r["event_id"]: r["asof_ts"] for r in
           asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts").collect()}
    assert out[100] == m(10)  # equal timestamps match
    assert out[101] == m(20)  # latest at-or-before
    assert 102 not in out  # user 2 has no right rows -> dropped (inner)


def test_asof_join_forward(spark):
    left = _ts_df(spark, [(1, m(10), 100)])
    right = spark.createDataFrame([(1, m(5)), (1, m(15))], "user_id long, ts timestamp")
    out = asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts",
                    direction="forward").collect()
    assert out[0]["asof_ts"] == m(15)


def test_asof_pandas_variant_agrees(spark):
    left = _ts_df(spark, [(1, m(10), 100), (1, m(30), 101), (2, m(50), 103)])
    right = spark.createDataFrame(
        [(1, m(0)), (1, m(25)), (2, m(49))], "user_id long, ts timestamp"
    )
    a = {(r["event_id"], r["asof_ts"]) for r in
         asof_join(left, right, "user_id", "ts", "ts").collect()}
    b = {(r["event_id"], r["asof_ts"]) for r in
         asof_join_pandas(left, right, "user_id", "ts", "ts").collect()}
    assert a == b


def test_sessionize_gaps(spark):
    df = _ts_df(
        spark,
        [(1, m(0), 1), (1, m(10), 2), (1, m(900), 3), (2, m(0), 4)],
    )
    out = sessionize(df, "user_id", "ts", "event_id", gap="12 hours").collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    assert len(by_user[1]) == 2  # 900min gap > 12h splits
    s1 = sorted(by_user[1], key=lambda r: r["session_id"])
    assert s1[0]["n_events"] == 2 and s1[1]["n_events"] == 1
    assert len(by_user[2]) == 1


def test_stream_raw_zone_exactly_once(spark, tmp_path):
    """Rate-source stream -> partitioned raw zone; a restart from the same
    checkpoint must not reprocess already-landed batches."""
    import time

    sdf = synthetic_event_stream(spark, rows_per_second=500)
    path, ckpt = str(tmp_path / "raw"), str(tmp_path / "ckpt")
    # a rate stream has ~0 rows "available" at t=0, so run on a short
    # processing trigger until data lands instead of an instant drain
    q = stream_to_raw_zone(sdf, path, ckpt, available_now=False, processing_time="1 seconds")
    first = 0
    deadline = time.time() + 90
    while time.time() < deadline and first == 0:
        time.sleep(2)
        try:
            first = spark.read.json(path).count()
        except Exception:  # no files landed yet
            pass
    q.stop()
    q.awaitTermination(60)
    first = spark.read.json(path).count()
    assert first > 0

    # restart from the same checkpoint: drains the not-yet-committed tail
    # only — never rewrites batches already in the sink's metadata log
    q2 = stream_to_raw_zone(synthetic_event_stream(spark, rows_per_second=500), path, ckpt)
    q2.awaitTermination(120)
    second = spark.read.json(path).count()
    assert second >= first
    df = spark.read.json(path)
    assert {"year", "month", "day"} <= set(df.columns)  # hive layout


def test_streaming_window_and_dedup_with_file_source(spark, tmp_path):
    """File-source batch-over-stream: write fixed events, stream them back
    through window agg + dedup, compare against batch truth."""
    rows = [
        (1, m(0), 10.0), (2, m(10), 20.0), (3, m(70), 30.0),
        (4, m(80), 40.0), (4, m(80), 40.0),  # duplicate id within watermark
    ]
    src = str(tmp_path / "src")
    batch = spark.createDataFrame(rows, "event_id long, event_time timestamp, value double")
    batch.write.mode("overwrite").parquet(src)

    sdf = spark.readStream.schema(batch.schema).parquet(src)

    # windowed stats (complete mode -> settled result)
    agg = hourly_window_stats(sdf, ts_col="event_time", value_col="value")
    q = (agg.writeStream.format("memory").queryName("win_test")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["window_start"]: r["n_events"] for r in spark.table("win_test").collect()}
    assert got[T0] == 2  # m(0), m(10)
    assert got[T0 + dt.timedelta(hours=1)] == 3  # m(70) + the duplicated m(80)

    # streaming dedup: duplicate event_id dropped within watermark
    dd = stream_dedup(sdf, keys=["event_id"], ts_col="event_time")
    q2 = (dd.writeStream.format("memory").queryName("dd_test")
          .outputMode("append").trigger(availableNow=True).start())
    q2.awaitTermination(120)
    assert spark.table("dd_test").count() == 4


def test_streaming_session_window(spark, tmp_path):
    rows = [(1, m(0)), (1, m(10)), (1, m(120)), (2, m(0))]
    src = str(tmp_path / "src2")
    batch = spark.createDataFrame(rows, "user_id long, event_time timestamp")
    batch.write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema(batch.schema).parquet(src)
    sess = sessionize_stream(sdf, key="user_id", ts_col="event_time", gap="30 minutes")
    q = (sess.writeStream.format("memory").queryName("sess_test")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = spark.table("sess_test").collect()
    u1 = [r for r in out if r["user_id"] == 1]
    assert len(u1) == 2  # 110-min gap > 30-min session gap
    assert sum(r["n_events"] for r in u1) == 3


def test_stateful_running_stats(spark, tmp_path):
    """applyInPandasWithState: per-key state persists across micro-batches
    (two availableNow runs over a growing directory + one checkpoint)."""
    from aws_datalake_platform_spark.streaming.ingest import running_stats_with_state

    src = str(tmp_path / "ssrc")
    ckpt = str(tmp_path / "sckpt")
    schema = "city string, temperature_c double, event_time timestamp"
    batch1 = spark.createDataFrame(
        [("ber", 10.0, m(0)), ("ber", 20.0, m(1)), ("par", 5.0, m(2))], schema
    )
    batch1.coalesce(1).write.mode("append").parquet(src)

    def run_once():
        # foreachBatch sink: supports checkpoint RECOVERY (memory sink does
        # not), which is the whole point — state must survive run-to-run.
        rows = []
        sdf = spark.readStream.schema(batch1.schema).parquet(src)
        stats = running_stats_with_state(sdf, key="city", value_col="temperature_c")
        q = (stats.writeStream.foreachBatch(lambda df, _e: rows.extend(df.collect()))
             .outputMode("update").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        out = {}
        for r in rows:  # later micro-batches overwrite earlier per key
            out[r["city"]] = r
        return out

    first = run_once()
    assert first["ber"]["n"] == 2 and first["ber"]["total"] == 30.0
    assert first["par"]["vmin"] == 5.0

    # second batch arrives; state must CONTINUE from (n=2, total=30)
    spark.createDataFrame([("ber", 30.0, m(3))], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    second = run_once()
    assert second["ber"]["n"] == 3 and second["ber"]["total"] == 60.0
    assert second["ber"]["vmax"] == 30.0


def test_stream_stream_join_time_range(spark, tmp_path):
    """Watermarked stream-stream join: orders match payments on order_id
    arriving within 30 minutes; a payment outside the window or with no
    order must not join."""
    from aws_datalake_platform_spark.streaming.ingest import stream_stream_join

    orders = [(1, m(0)), (2, m(5)), (3, m(10))]
    payments = [
        (1, m(20)),   # +20 min -> joins
        (2, m(45)),   # +40 min -> outside max_delay, dropped
        (9, m(15)),   # no matching order
    ]
    o_path, p_path = str(tmp_path / "orders"), str(tmp_path / "pays")
    odf = spark.createDataFrame(orders, "order_id long, event_time timestamp")
    pdf = spark.createDataFrame(payments, "order_id long, event_time timestamp")
    odf.write.mode("overwrite").parquet(o_path)
    pdf.write.mode("overwrite").parquet(p_path)

    so = spark.readStream.schema(odf.schema).parquet(o_path)
    sp = (
        spark.readStream.schema(pdf.schema).parquet(p_path)
        .withColumnRenamed("event_time", "pay_time")
    )
    joined = stream_stream_join(
        so, sp, key="order_id", left_ts="event_time", right_ts="pay_time",
        watermark="1 hour", max_delay="30 minutes",
    ).select(F.col("l.order_id").alias("order_id"), "event_time", "pay_time")

    q = (joined.writeStream.format("memory").queryName("ssj_test")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["order_id"]) for r in spark.table("ssj_test").collect()}
    assert got == {1}


def test_stream_upsert_to_lake(spark, tmp_path):
    """CDC apply via foreachBatch: two incremental loads merge into the
    lake with winner-per-key-by-version semantics and touched-partition
    rewrites only."""
    import pyspark.sql.types as T

    from aws_datalake_platform_spark.streaming.ingest import stream_upsert_to_lake

    src = tmp_path / "src"
    lake = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("version", T.LongType()),
            T.StructField("date", T.StringType()),
            T.StructField("val", T.StringType()),
        ]
    )
    batch1 = spark.createDataFrame(
        [(1, 1, "2024-01-01", "a"), (2, 1, "2024-01-01", "b"), (3, 1, "2024-01-02", "c")],
        schema,
    )
    batch1.coalesce(1).write.mode("append").parquet(str(src))

    def run():
        sdf = spark.readStream.schema(schema).parquet(str(src))
        q = stream_upsert_to_lake(
            sdf, lake, key_cols=["id"], version_col="version",
            partition_cols=["date"], checkpoint=ckpt,
        )
        q.awaitTermination(120)

    run()
    state = {r["id"]: (r["version"], r["val"]) for r in spark.read.parquet(lake).collect()}
    assert state == {1: (1, "a"), 2: (1, "b"), 3: (1, "c")}

    # second incremental file: update id=2 (newer version), stale id=3
    # (older-equal loses only if older; equal keeps incoming), new id=4
    batch2 = spark.createDataFrame(
        [(2, 2, "2024-01-01", "b2"), (3, 0, "2024-01-02", "stale"), (4, 1, "2024-01-03", "d")],
        schema,
    )
    batch2.coalesce(1).write.mode("append").parquet(str(src))
    run()
    state = {r["id"]: (r["version"], r["val"]) for r in spark.read.parquet(lake).collect()}
    assert state == {1: (1, "a"), 2: (2, "b2"), 3: (1, "c"), 4: (1, "d")}


def test_python_streaming_datasource_ticks(spark):
    """Custom SimpleDataSourceStreamReader: tick-offset micro-batches,
    deterministic rows, and the Python sensor-id twin must match the JVM
    mint_sensor_id exactly."""
    import time

    from pyspark.sql import functions as F

    from aws_datalake_platform_spark.functions.core import mint_sensor_id
    from aws_datalake_platform_spark.sources.pyds import (
        IoTTickStreamDataSource,
        _iot_tick_rows,
    )

    spark.dataSource.register(IoTTickStreamDataSource)
    sdf = (
        spark.readStream.format("iot_ticks")
        .option("cities", "london,new york")
        .option("sensors_per_city", "2")
        .option("max_ticks", "2")
        .load()
    )
    q = sdf.writeStream.format("memory").queryName("tick_test").trigger(
        processingTime="1 second"
    ).start()
    deadline = time.time() + 90
    while time.time() < deadline:
        if spark.sql("SELECT count(*) c FROM tick_test").first()["c"] >= 8:
            break
        time.sleep(1)
    q.stop()
    got = sorted(tuple(r) for r in spark.sql("SELECT * FROM tick_test").collect())
    want = sorted(
        row for t in range(2) for row in _iot_tick_rows(t, ["london", "new york"], 2, 42)
    )
    assert got == want  # byte-deterministic across offsets and replays

    jvm_ids = sorted(
        r["sid"]
        for r in spark.createDataFrame([("london", 0), ("london", 1), ("new york", 0), ("new york", 1)], ["city", "idx"])
        .select(mint_sensor_id("city", "idx").alias("sid"))
        .collect()
    )
    assert sorted({r[1] for r in want}) == jvm_ids  # Python twin == JVM sha256 mint
