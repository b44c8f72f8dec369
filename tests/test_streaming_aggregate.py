"""Streaming windowed aggregation (watermark) — an availableNow run over the
static events table checked against the batch recomputation of the same
semantics, and real processing-time triggers dropping late rows."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from geojson_vt_cpp_spark.streaming.aggregate import stream_events_hourly

SF_DIR = "/root/testdata/sf0.01"

pytestmark = pytest.mark.spark


@pytest.fixture()
def events_stream_dir(tmp_path):
    d = tmp_path / "events_in"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-0.parquet")
    return str(d)


def _run_available_now(spark, stream_df, sink: str, checkpoint: str):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(sink)


def test_stream_hourly_matches_batch_up_to_watermark(spark, events_stream_dir, tmp_path):
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    schema = events.schema
    stream = spark.readStream.schema(schema).parquet(events_stream_dir)
    got = _run_available_now(
        spark,
        stream_events_hourly(stream, late_threshold="0 seconds"),
        "hourly_sink",
        str(tmp_path / "ck1"),
    ).collect()

    # batch equivalent, restricted to windows closed by the final watermark
    # (= max event time at threshold 0): append mode can only have emitted
    # windows whose END <= watermark
    max_ts = events.agg(F.max("ts")).first()[0]
    want = {
        (r["event_type"], r["hour_bucket"]): (r["n_events"], r["sum_value"])
        for r in (
            events.groupBy(
                "event_type", F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH").alias("hour_bucket")
            )
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(20,4)")).cast("double").alias("sum_value"),
            )
            .where(
                F.to_timestamp(F.concat(F.col("hour_bucket"), F.lit(":00:00")), "yyyy-MM-dd HH:mm:ss")
                + F.expr("interval 1 hour")
                <= F.lit(max_ts)
            )
            .collect()
        )
    }
    got_map = {
        (r["event_type"], r["hour_bucket"]): (r["n_events"], r["sum_value"])
        for r in got
    }
    assert got_map == want
    assert len(got_map) > 50  # non-trivial window count actually emitted


# ------------------------------------------------------------------ real
# triggers (VERDICT r3 #7): multi-microbatch runs with processingTime
# triggers — no availableNow anywhere below


def _wait_until(pred, timeout_s=120, poll_s=0.5):
    import time

    t0 = time.time()
    while time.time() - t0 < timeout_s:
        if pred():
            return True
        time.sleep(poll_s)
    return False


def _write_events(spark, path, rows):
    spark.createDataFrame(
        rows, "user_id long, ts timestamp_ntz, event_type string, value double"
    ).coalesce(1).write.mode("append").parquet(path)


def test_stream_hourly_drops_late_rows_real_triggers(spark, tmp_path):
    """Watermark semantics under REAL processing-time triggers: a row
    arriving in a later microbatch but event-timed before the watermark is
    DROPPED — the already-closed window's aggregate never changes and no
    duplicate window row is emitted."""
    import datetime as dt

    src = str(tmp_path / "in")
    ck = str(tmp_path / "ck")
    h = lambda hour, minute=0: dt.datetime(2024, 1, 1, hour, minute)
    # batch 1: three rows in hour 00, one in hour 05 (drives the watermark
    # to 04:00 at a 1 h threshold -> window [00:00,01:00) closes)
    _write_events(spark, src, [
        (1, h(0, 1), "click", 1.0),
        (2, h(0, 2), "click", 2.0),
        (3, h(0, 3), "click", 3.0),
        (4, h(5, 0), "click", 4.0),
    ])
    stream = (
        spark.readStream.schema(
            "user_id long, ts timestamp_ntz, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_events_hourly(stream, late_threshold="1 hour")
        .writeStream.format("memory")
        .queryName("rt_hourly")
        .outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        # wait until the hour-00 window has been emitted
        assert _wait_until(
            lambda: spark.sql(
                "select * from rt_hourly where hour_bucket = '2024-01-01 00'"
            ).count() == 1
        ), "hour-00 window was not emitted"
        # batch 2: a LATE row for hour 00 (behind the watermark -> dropped)
        # plus a row in hour 09 advancing the watermark past hour 05
        _write_events(spark, src, [
            (5, h(0, 30), "click", 100.0),  # late: must be dropped
            (6, h(9, 0), "click", 6.0),
        ])
        assert _wait_until(
            lambda: spark.sql(
                "select * from rt_hourly where hour_bucket = '2024-01-01 05'"
            ).count() == 1
        ), "hour-05 window was not emitted"
        n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
        assert n_batches >= 2, f"expected >= 2 data microbatches, got {n_batches}"
    finally:
        q.stop()
    out = {
        r["hour_bucket"]: (r["n_events"], r["sum_value"])
        for r in spark.table("rt_hourly").collect()
    }
    # the late 100.0 row changed NOTHING: hour 00 still counts 3 rows
    assert out["2024-01-01 00"] == (3, 6.0)
    assert out["2024-01-01 05"] == (1, 4.0)
    assert list(spark.table("rt_hourly").columns) == [
        "event_type", "hour_bucket", "n_events", "sum_value"
    ]
