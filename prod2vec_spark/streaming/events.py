"""Structured Streaming variants of the incremental operators
(SURVEY.md §2.13: the reference is batch-only — `@once` DAG — so this
is ENGINE scope: the same transforms kept incremental-friendly).

The batch/stream parity rule: every streaming query here has a batch
twin in the query catalog (events_daily, dedup_exact) computing the
same result, and tests assert they agree when the stream is drained
with trigger(availableNow) over the same files.

Scale notes: watermarks bound state; the windowed agg state is
O(open windows × event types); streaming dedup state is bounded by the
watermark horizon.  Parity tests drain to format("memory"); the
production path is ``write_stream_parquet`` — a checkpointed file sink
with the exactly-once restart contract pytest-locked (a kafka/delta
sink swaps in with the same options; those connectors aren't in this
environment).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from prod2vec_spark.sources.io import TABLES


def read_events_stream(spark: SparkSession, dir_path: str) -> DataFrame:
    """File-source stream over the events parquet, read with the
    declared ``TABLES["events"]`` columns (streams can't infer), so it
    starts on an initially-empty landing directory like any other.
    ``ts`` is declared TIMESTAMP rather than the batch table's
    TIMESTAMP_NTZ: ``withWatermark`` accepts only TIMESTAMP event
    times, and Spark reads the stored µs column either way.  A
    TIMESTAMP(NANOS) file raises Spark's own error, as in
    ``read_table``."""
    schema = T.StructType(
        [
            T.StructField(f.name, T.TimestampType()) if f.name == "ts" else f
            for f in TABLES["events"].fields
        ]
    )
    return spark.readStream.schema(schema).parquet(dir_path)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 day",
    watermark: str = "2 days",
) -> DataFrame:
    """Streaming twin of the events_daily batch query: tumbling-window
    counts + value sums per event type, late data bounded by the
    watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_sessions(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 days",
) -> DataFrame:
    """Streaming sessionization via ``session_window`` — the
    incremental twin of the batch lag()-gap ``sessionize`` query: a
    session is a maximal run of a user's events with < gap between
    consecutive ones.  State is one open window per (user, session),
    merged as events arrive and finalized once the watermark passes
    the session's close — bounded regardless of stream length."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def write_stream_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str,
    output_mode: str = "append",
):
    """Checkpointed parquet streaming sink — the production file-sink
    path (the memory sink is test-only).  Exactly-once across restarts:
    the file sink records committed files in its _spark_metadata
    transaction log and the checkpoint records consumed source offsets,
    so re-starting the query with the same checkpoint neither re-reads
    nor re-writes data already committed — the standard Structured
    Streaming recovery contract (a kafka/delta sink swaps in with the
    same options; those connectors aren't in this environment).

    Drains with trigger(availableNow=True): process everything
    currently available, then stop — the batch-parity testing mode and
    the incremental-backfill production mode.  Returns the started
    StreamingQuery; callers awaitTermination()."""
    return (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def streaming_dedup(events: DataFrame, keys: list[str], watermark: str = "2 days") -> DataFrame:
    """Streaming exact dedup: dropDuplicates keyed state bounded by the
    event-time watermark — the incremental twin of exact_dup_groups."""
    return events.withWatermark("ts", watermark).dropDuplicates(keys)


def run_to_memory(stream_df: DataFrame, table_name: str, output_mode: str = "append") -> None:
    """Drain an availableNow trigger into an in-memory sink (tests).
    Aggregations need output_mode='complete'; row streams 'append'."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
