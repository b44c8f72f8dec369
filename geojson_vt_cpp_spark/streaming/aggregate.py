"""Streaming aggregation over the events stream (Structured Streaming axis
of the north rule's pipeline surface).

``stream_events_hourly``: watermarked tumbling-window count/sum. With an
``availableNow`` run over a static source this is deterministic and equal to
the batch GROUP BY — which is how the driver oracle checks it
(``stream_events_hourly`` in ``__spark_entry__``); in continuous mode the
watermark bounds state and drops rows later than ``late_threshold``.

Scale shape: a keyed-state operator — state is partitioned by the grouping
key across executors, and the watermark bounds its size; nothing
accumulates on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_events_hourly(
    events_stream: DataFrame,
    late_threshold: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling 1-hour aggregate: (event_type, window_start,
    n_events, sum_value). Append-safe: the watermark closes a window once
    the stream is ``late_threshold`` past it."""
    # watermarks require TIMESTAMP (not NTZ); with session tz UTC the cast
    # is value-preserving against the NTZ testdata
    return (
        events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", late_threshold)
        .groupBy("event_type", F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(20,4)")).cast("double").alias("sum_value"),
        )
        .select(
            "event_type",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH").alias("hour_bucket"),
            "n_events",
            "sum_value",
        )
    )

