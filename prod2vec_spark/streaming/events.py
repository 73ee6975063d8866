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

from prod2vec_spark.sources.io import TABLES


def _events_ts_is_nanos_long(dir_path: str) -> bool:
    """Inspect the parquet footer to learn the physical type of ``ts``.

    Streams must declare their schema up front, so mirror the batch
    reader's dtype branch (sources/io.py read_table): TIMESTAMP(NANOS)
    parquet surfaces as int64 only under the nanosAsLong escape hatch,
    while plain µs TIMESTAMP reads directly as TimestampType.  Footer
    inspection is one driver-side metadata read — no data scan.

    The ns match is prefix-based so tz-aware ``timestamp[ns, tz=…]``
    footers take the nanos branch too.  A directory with no readable
    top-level parquet footer raises instead of silently guessing µs:
    the stream schema is fixed at definition time, so a wrong silent
    default would poison every late-arriving nanos file.  Files are
    listed through the Hadoop FS API, so a ``file://`` directory reads
    like a local path."""
    import pyarrow.parquet as pq

    from prod2vec_spark.sources.artifacts import _fs_path

    spark = SparkSession.active()
    fs, hpath = _fs_path(spark, dir_path)
    if fs.isDirectory(hpath):
        fs, hpath = _fs_path(spark, f"{dir_path}/*.parquet")
    candidates = sorted(st.getPath().toString() for st in fs.globStatus(hpath) or [])
    for f in candidates:
        try:
            typ = pq.read_schema(f).field("ts").type
        except (OSError, KeyError):
            continue
        s = str(typ)
        return s.startswith("timestamp[ns") or s == "int64"
    raise FileNotFoundError(
        f"read_events_stream: no readable parquet footer with a 'ts' field "
        f"under {dir_path!r}; cannot pin the stream schema (seed the "
        f"directory with at least one file, or pass an explicit file path)"
    )


def read_events_stream(
    spark: SparkSession,
    dir_path: str,
    ts_is_nanos: bool | None = None,
) -> DataFrame:
    """File-source stream over the events parquet.  Schema must be
    declared up front (streams can't infer).  ``ts`` is declared
    TimestampType when the footer says so; the legacy ns-long layout
    (nanosAsLong, see sources/io.py) is converted only when the
    physical type really is int64/nanos.

    ``ts_is_nanos`` is the explicit override for starting a stream on
    an INITIALLY-EMPTY landing directory (a normal streaming-source
    pattern): with no footer to sniff, the caller declares the layout
    (True = ns-long parquet, False = µs timestamp) and no file read
    happens.  Left at None, the footer sniff runs and an empty
    directory raises rather than silently guessing (ADVICE r5)."""
    nanos = ts_is_nanos if ts_is_nanos is not None else _events_ts_is_nanos_long(dir_path)
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = (
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string"
        )
        raw = spark.readStream.schema(schema).parquet(dir_path)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
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


def streaming_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``
    (SURVEY.md §2.13 / the arbitrary-state path): per-user running
    event count + value sum maintained across micro-batches in
    explicit GroupState.

    This is the escape hatch for stateful logic the built-in windowed
    aggregations can't express (conditional resets, custom eviction,
    cross-event derived state); for plain running totals the built-in
    agg is preferred — this operator exists to keep the custom-state
    plumbing (Arrow batch iteration, state schema, update semantics)
    real and tested.  State is one (count, sum) pair per user — O(1)
    per key."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].fillna(0.0).sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, s double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_conversions(
    events: DataFrame,
    left_type: str = "view",
    right_type: str = "purchase",
    within: str = "1 hour",
    watermark: str = "2 days",
) -> DataFrame:
    """Stream-stream inner join with a time-range condition: each
    ``right_type`` event (purchase) matched to every ``left_type``
    event (view) of the same user in the preceding ``within`` —
    the attribution/conversion shape.

    State on BOTH sides is bounded: the watermarks plus the time-range
    predicate let Spark evict a buffered view once no future purchase
    can land inside its window (and vice versa) — without the range
    condition the join state would grow forever.  One shuffle per side
    on user_id."""
    views = (
        events.where(F.col("event_type") == left_type)
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    buys = (
        events.where(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("b_user"),
            F.col("event_id").alias("buy_id"),
            F.col("ts").alias("buy_ts"),
        )
        .withWatermark("buy_ts", watermark)
    )
    return views.join(
        buys,
        F.expr(
            f"v_user = b_user AND buy_ts >= view_ts "
            f"AND buy_ts <= view_ts + INTERVAL {within}"
        ),
    ).select(
        F.col("v_user").alias("user_id"), "view_id", "buy_id", "view_ts", "buy_ts"
    )


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
