"""Batch/stream parity: draining the streaming twins over the same
files must reproduce the batch results."""

from __future__ import annotations

from pyspark.sql import functions as F

import shutil

import pytest

from prod2vec_spark.streaming.events import (
    read_events_stream,
    run_to_memory,
    streaming_dedup,
    windowed_event_counts,
)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    """The file stream source requires a directory; stage the (small)
    events parquet into one."""
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF_SMOKE}/events.parquet", d / "part-000.parquet")
    return str(d)


def test_windowed_counts_match_batch(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    assert stream.isStreaming
    run_to_memory(
        windowed_event_counts(stream), "stream_daily", output_mode="complete"
    )
    got = {
        (r["day"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.table("stream_daily").collect()
    }

    from prod2vec_spark.sources.io import read_table

    ev = read_table(spark, SF_SMOKE, "events")
    want = {
        (r["day"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_streaming_dedup_bounded_by_keys(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    run_to_memory(
        streaming_dedup(stream, ["user_id", "event_type"]), "stream_dedup"
    )
    got = spark.table("stream_dedup")
    n_distinct = got.select("user_id", "event_type").distinct().count()
    assert got.count() == n_distinct  # exact one row per key


def test_streaming_sessions_match_batch(spark, events_dir):
    """session_window sessionization must agree with the batch lag-gap
    sessionize query: same per-user session count and event count.
    (Boundary note: an exactly-30:00.000 gap would split in the stream
    but not in batch lag>gap — sub-second event times make that a
    measure-zero case on real data.)"""
    from prod2vec_spark.queries import QUERIES
    from prod2vec_spark.streaming.events import streaming_sessions
    from tests.conftest import SF_SMOKE

    stream = read_events_stream(spark, events_dir)
    run_to_memory(streaming_sessions(stream), "stream_sessions", output_mode="complete")
    got = (
        spark.table("stream_sessions")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
    )
    stream_rows = {
        r["user_id"]: (r["n_sessions"], r["n_events"]) for r in got.collect()
    }
    batch_rows = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in QUERIES["sessionize"](spark, SF_SMOKE).collect()
    }
    assert stream_rows == batch_rows


def test_checkpointed_parquet_sink_exactly_once(spark, tmp_path):
    """write_stream_parquet: the production file-sink path.  Drain a
    projection to parquet, then RESTART the query with the same
    checkpoint twice — once with no new input (must write nothing new)
    and once after a second input file lands (must write exactly its
    rows) — the exactly-once recovery contract, asserted by row
    counts, not trusted."""
    import shutil

    from prod2vec_spark.sources.io import read_table
    from prod2vec_spark.streaming.events import write_stream_parquet

    src = tmp_path / "src"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", src / "part-000.parquet")

    def drain():
        stream = read_events_stream(spark, str(src))
        tx = stream.where(F.col("event_type") == "view").select(
            "event_id", "user_id", "ts", "value"
        )
        q = write_stream_parquet(tx, out, ckpt)
        q.awaitTermination()

    n_batch = (
        read_table(spark, SF_SMOKE, "events")
        .where(F.col("event_type") == "view")
        .count()
    )

    drain()
    assert spark.read.parquet(out).count() == n_batch

    # restart with no new input: offsets are committed, nothing re-emits
    drain()
    assert spark.read.parquet(out).count() == n_batch

    # a second file lands; restart processes ONLY the new rows
    shutil.copy(f"{SF_SMOKE}/events.parquet", src / "part-001.parquet")
    drain()
    assert spark.read.parquet(out).count() == 2 * n_batch


def test_stream_starts_on_empty_dir_with_explicit_schema(spark, tmp_path):
    """ADVICE r5: an initially-empty landing directory is a normal
    streaming-source pattern — the declared events schema lets the
    stream START with no file to read, then pick up files that land
    later."""
    import shutil

    src = tmp_path / "landing"
    src.mkdir()
    stream = read_events_stream(spark, str(src))
    agg = stream.groupBy("event_type").count()

    q = (
        agg.writeStream.format("memory")
        .queryName("empty_start")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.sql("select * from empty_start").count() == 0  # empty dir drained

    shutil.copy(f"{SF_SMOKE}/events.parquet", src / "part-000.parquet")
    q2 = (
        stream.groupBy("event_type").count()
        .writeStream.format("memory")
        .queryName("empty_start2")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    from prod2vec_spark.sources.io import read_table

    want = read_table(spark, SF_SMOKE, "events").select("event_type").distinct().count()
    assert spark.sql("select * from empty_start2").count() == want


def test_events_footer_sniff_reads_file_uri(spark, events_dir, tmp_path):
    """A ``file://`` URI of a seeded directory drains the same stream
    as the plain path."""
    from pathlib import Path

    uri = Path(events_dir).as_uri()
    for name, path in (("sniff_plain", events_dir), ("sniff_uri", uri)):
        stream = windowed_event_counts(read_events_stream(spark, path))
        run_to_memory(stream, name, output_mode="complete")
    rows = {n: sorted(map(tuple, spark.table(n).collect())) for n in ("sniff_plain", "sniff_uri")}
    assert rows["sniff_uri"] == rows["sniff_plain"] != []


def test_stage_output_dir_created_through_file_uri(spark, tmp_path, monkeypatch):
    """A not-yet-committed stage directory given as a ``file://`` URI
    is created through the Hadoop FS API: the read returns the typed
    empty frame (as the plain path does) and no relative ``file:``
    directory appears in the working directory."""
    from prod2vec_spark.streaming.pipeline import _read_output

    monkeypatch.chdir(tmp_path)
    for path in (tmp_path / "plain_out", tmp_path / "stage" / "uri_out"):
        arg = str(path) if path.name == "plain_out" else path.as_uri()
        df = _read_output(spark, arg, "doc_id long")
        assert df.count() == 0
        assert df.schema.simpleString() == "struct<doc_id:bigint>"
        assert path.is_dir()
    assert not (tmp_path / "file:").exists()


def test_nanosecond_events_file_raises(spark, tmp_path):
    """The declared events schema reads µs timestamps only: a
    TIMESTAMP(NANOS) file fails the drain with Spark's own type
    mismatch on ``ts`` (as ``read_table`` refuses it), never a
    silently reinterpreted column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "nanos"
    src.mkdir()
    events = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([1_700_000_000_123_456_789], pa.timestamp("ns")),
            "user_id": pa.array([7], pa.int64()),
            "event_type": ["view"],
            "value": [1.0],
            "props": ["{}"],
        }
    )
    pq.write_table(events, src / "part-000.parquet")
    with pytest.raises(Exception, match=r"MISMATCH.*\[ts\]"):
        run_to_memory(read_events_stream(spark, str(src)), "nanos_events")
