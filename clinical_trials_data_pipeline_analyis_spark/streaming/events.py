"""Structured Streaming surface.

The reference pipeline is batch-only (SURVEY §2.9), but every silver
transform here is a pure ``DataFrame -> DataFrame`` function, so the same
logic runs under streaming unchanged. Two canonical shapes are provided:

- ``hourly_event_counts_stream``: windowed aggregation with a watermark —
  the streaming twin of the batch ``x12_events_hourly_window`` query. Late
  events beyond the watermark are dropped; state is bounded.
- ``silver_studies_stream``: the full silver studies cleaner applied via
  ``foreachBatch`` — micro-batch medallion ingestion into an epoch store
  (``streaming/store_meta.py``), so a retried or replayed micro-batch
  rewrites its own partition instead of appending a copy.

At cluster scale: watermark + window state lives in the state store
(RocksDB recommended via
``spark.sql.streaming.stateStore.providerClass``); shuffle partitions
size the state parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import StructType

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..plans.silver import silver_studies
from .store_meta import foreach_epoch, write_epoch

#: schema for file-based event streams (ts as proper timestamp here —
#: streaming sources are JSON/CSV micro-batch files, not the nanos parquet)
EVENTS_STREAM_SCHEMA = (
    "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, "
    "value DOUBLE, props STRING"
)


def streaming_events_source(
    spark: SparkSession, path: str, schema: str | StructType = EVENTS_STREAM_SCHEMA
) -> DataFrame:
    """File-source stream: each new JSON file in ``path`` is a micro-batch."""
    return spark.readStream.schema(schema).json(path)


def hourly_event_counts_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling 1-hour window counts/sums with late-data handling.

    Same aggregation semantics as the batch x12 query; the watermark bounds
    state and admits events up to ``watermark`` late.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias(
                "sum_value"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def silver_studies_stream(
    bronze_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    config: PipelineConfig = DEFAULT_CONFIG,
) -> DataStreamWriter:
    """Run the batch silver cleaner per micro-batch via foreachBatch.

    foreachBatch hands each micro-batch to the exact batch transform, so
    batch/stream parity is by construction: the cleaner is a row-wise
    projection, so the sink holds ``silver_studies`` over the union of
    the micro-batches (plus ``epoch_id``). foreachBatch is at-least-once,
    so each epoch is written as its own ``epoch_id`` partition of
    ``out_path`` with dynamic overwrite: a retried micro-batch, or a
    replay from a wiped checkpoint, rewrites its partition instead of
    appending duplicate rows.
    """

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        write_epoch(silver_studies(batch_df, config), out_path, epoch_id)

    return foreach_epoch(bronze_stream, _process, checkpoint)


def user_day_activity_stream(events: DataFrame) -> DataFrame:
    """(user_id, d, cnt): day-granular distinct user activity as a
    streaming aggregation — the incremental substrate of cohort
    retention (``operators/events.cohort_retention``).

    The cohort matrix itself is NOT incrementally maintainable with
    bounded per-key state: a user's first-activity day can move
    backward when late data arrives, which re-assigns their ENTIRE
    activity history to a different cohort — any streaming "retention"
    operator keyed on the matrix would need to retract rows across
    cohorts. The day-granular activity table IS safely incremental
    (state: one counter per live (user, day), merge by addition), so
    the streaming form maintains that, and the matrix read-off
    (first-day scan + week bucketing over |users| x |days| rows) runs
    batch-side on the sink — the same sketch-plus-readoff split as the
    histogram (`value_histogram_stream`) and CMS twins.

    Day numbers are epoch days from the event-time column, identical
    to the batch operator's bucketing.
    """
    epoch_day = F.datediff(
        F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    return (
        events.select("user_id", epoch_day.alias("d"))
        .groupBy("user_id", "d")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
