"""Stream-stream interval join — the fourth streaming join/agg class.

The engine's streaming surface now covers all four Structured
Streaming classes: windowed/session aggregation (``windowed.py``),
arbitrary stateful processing (``stateful.py``), stream-static enrich
(``enrich.py``), and this module's stream-stream join. The canonical
use is attribution: match each conversion event to the preceding
trigger event by the same user within a bounded interval
("purchases within six hours of a view").

Both sides carry a watermark and the join predicate carries an event
-time bound — together they let Spark evict left/right state the
moment a row can no longer match anything, so state is bounded by
(arrival rate x (join window + watermark delay)) instead of stream
length. That is the 100 TB design: the interval condition is not an
optimization hint but the thing that makes unbounded stream-stream
join finite. An inner join in append mode emits each pair as soon as
both rows have arrived; over a bounded AvailableNow replay the
emitted set equals the batch interval join, which the DuckDB oracle
replays directly.

Locally the replay is one micro-batch (one parquet source file), so
no state is evicted mid-replay and determinism is exact; the
watermark delay is still set to the production shape (join window +
late tolerance) rather than infinity so the plan carries real
eviction bounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from formula1_data_pipeline_spark.streaming.scaffold import file_stream, run


def stream_stream_interval_join(
    spark: SparkSession,
    events_path: str,
    left_type: str = "view",
    right_type: str = "purchase",
    window: str = "6 hours",
    watermark: str = "12 hours",
) -> DataFrame:
    """Replay ``events`` as TWO file streams split by event_type and
    interval-join them: for each ``right_type`` row, every
    ``left_type`` row of the same user with
    ``left.ts <= right.ts < left.ts + window``. Returns the joined
    pairs (append mode, AvailableNow)."""
    def side(event_type: str, prefix: str) -> DataFrame:
        s = file_stream(spark, events_path)
        return (
            s.filter(
                F.col("event_type") == event_type
            )
            .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
            .select(
                F.col("user_id").alias(f"{prefix}_user_id"),
                F.col("event_id").alias(f"{prefix}_event_id"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", watermark)
        )

    left = side(left_type, "l")
    right = side(right_type, "r")
    joined = left.join(
        right,
        (F.col("l_user_id") == F.col("r_user_id"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") < F.col("l_ts") + F.expr(f"INTERVAL {window}")),
        "inner",
    ).select(
        F.col("l_user_id").alias("user_id"),
        F.col("l_event_id").alias("left_event_id"),
        F.col("r_event_id").alias("right_event_id"),
        F.col("l_ts").alias("left_ts"),
        F.col("r_ts").alias("right_ts"),
        (F.unix_micros(F.col("r_ts")) - F.unix_micros(F.col("l_ts")))
        .alias("lag_micros"),
    )

    return run(joined, "stream_stream_interval_join")
