"""Structured Streaming leg — the idiomatic upgrade of the reference's
micro-batch "realtime" path (SURVEY.md §2.10).

The reference polls an API daily and delete+reloads one session's rows
(``dags/open_f1_realtime.py:221-246``); it has no watermarks or
windows. At 100 TB-stream scale the Spark-native shape is
``readStream -> withWatermark -> window agg -> sink``, which this
module provides over the ``events`` table:

- event-time tumbling windows (`F.window`),
- watermark-based late-data handling (append mode emits a window only
  once the watermark — max event time minus delay — passes its end),
- `Trigger.AvailableNow` so the same pipeline runs batch-style over a
  bounded backlog (exactly how the reference's poller would replay).

State scale: one row of state per (window, event_type) — bounded by
watermark eviction, safe at any volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from formula1_data_pipeline_spark.streaming.scaffold import file_stream, run


def stream_windowed_agg(
    spark: SparkSession,
    events_path: str,
    window_duration: str = "1 hour",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Run the windowed count/sum aggregation over ``events`` as a real
    Structured Streaming query (AvailableNow → memory sink) and return
    the finalized result.

    Append mode + watermark means only windows whose end <= max event
    time - delay are emitted — late-arriving data inside the delay
    would still be merged, the semantic the reference approximates with
    its delete+reload (S6).
    """
    stream = file_stream(spark, events_path)

    agg = (
        stream.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_duration), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )

    # window-agg state shards one store per shuffle partition (confs.py)
    return run(agg, "stream_windowed_agg")
