"""Stream-static join — enriching a stream with a batch dimension.

The third Structured Streaming join/agg class the engine supports
(after windowed aggregation and arbitrary stateful processing): each
micro-batch of the stream joins a *static* DataFrame — Spark re-plans
the static side per batch, so a broadcast dimension stays broadcast and
no stream-side state is needed at all (unlike stream-stream joins).
This is the streaming twin of the reference's staging enrichment
pattern, and the standard shape for decorating an event feed with
slowly-changing dimension attributes at 100 TB: the dimension is
broadcast to executors once per batch, the stream never shuffles for
the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from formula1_data_pipeline_spark.streaming.scaffold import file_stream, run


def stream_static_join_agg(
    spark: SparkSession,
    events_path: str,
    dim: DataFrame,
    dim_key: str,
    dim_attr: str,
) -> DataFrame:
    """Replay ``events`` as a file stream, inner-join each micro-batch
    to the static ``dim`` on ``user_id == dim_key``, aggregate counts
    and a decimal-exact value sum per (dim_attr, event_type); complete
    mode + AvailableNow returns the final table."""
    stream = file_stream(spark, events_path)

    joined = stream.join(
        F.broadcast(dim), stream["user_id"] == dim[dim_key], "inner"
    )
    agg = joined.groupBy(dim_attr, "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_value"),
    )

    return run(agg, "stream_static_join_agg", output_mode="complete")
