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


def test_stateful_user_totals_match_batch(spark, events_dir):
    """applyInPandasWithState running totals: after draining the whole
    stream, the final emitted state per user equals the batch
    groupBy totals."""
    import pytest as _pytest

    from prod2vec_spark.sources.io import read_table
    from prod2vec_spark.streaming.events import streaming_user_totals
    from tests.conftest import SF_SMOKE

    stream = read_events_stream(spark, events_dir)
    run_to_memory(streaming_user_totals(stream), "stream_totals", output_mode="update")
    # availableNow over one file = one micro-batch -> one row per user
    got = {
        r["user_id"]: (r["n_events"], r["sum_value"])
        for r in spark.table("stream_totals").collect()
    }
    batch = {
        r["user_id"]: (r["n"], r["s"])
        for r in read_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(got) == set(batch)
    for uid in got:
        assert got[uid][0] == batch[uid][0]
        assert got[uid][1] == _pytest.approx(batch[uid][1], rel=1e-9)


def test_stream_stream_join_matches_batch(spark, events_dir):
    """streaming_conversions (stream-stream time-range join) drained
    over the files equals the identical batch join."""
    from prod2vec_spark.sources.io import read_table
    from prod2vec_spark.streaming.events import streaming_conversions

    stream = read_events_stream(spark, events_dir)
    run_to_memory(streaming_conversions(stream), "stream_conv")
    got = {
        (r["user_id"], r["view_id"], r["buy_id"])
        for r in spark.table("stream_conv").collect()
    }

    ev = read_table(spark, SF_SMOKE, "events")
    v = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    b = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"),
        F.col("event_id").alias("buy_id"),
        F.col("ts").alias("buy_ts"),
    )
    want = {
        (r["v_user"], r["view_id"], r["buy_id"])
        for r in v.join(
            b,
            F.expr(
                "v_user = b_user AND buy_ts >= view_ts "
                "AND buy_ts <= view_ts + INTERVAL 1 HOUR"
            ),
        ).collect()
    }
    assert got == want
    assert len(got) > 0


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
    streaming-source pattern — the explicit ts_is_nanos override must
    let the stream START with no footer to sniff, then pick up files
    that land later; without the override the sniff still raises."""
    import shutil

    import pytest

    src = tmp_path / "landing"
    src.mkdir()
    with pytest.raises(FileNotFoundError):
        read_events_stream(spark, str(src))

    # sniff the real fixture's layout once, then declare it explicitly
    from prod2vec_spark.streaming.events import _events_ts_is_nanos_long

    nanos = _events_ts_is_nanos_long(f"{SF_SMOKE}/events.parquet")
    stream = read_events_stream(spark, str(src), ts_is_nanos=nanos)
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
    """The ts-layout sniff lists files through the Hadoop FS API: a
    ``file://`` URI of a seeded directory gives the plain path's answer
    and drains the same stream, and an empty directory still raises in
    both forms."""
    from pathlib import Path

    from prod2vec_spark.streaming.events import _events_ts_is_nanos_long

    uri = Path(events_dir).as_uri()
    assert _events_ts_is_nanos_long(uri) == _events_ts_is_nanos_long(events_dir)
    for name, path in (("sniff_plain", events_dir), ("sniff_uri", uri)):
        stream = windowed_event_counts(read_events_stream(spark, path))
        run_to_memory(stream, name, output_mode="complete")
    rows = {n: sorted(map(tuple, spark.table(n).collect())) for n in ("sniff_plain", "sniff_uri")}
    assert rows["sniff_uri"] == rows["sniff_plain"] != []

    empty = tmp_path / "empty"
    empty.mkdir()
    for path in (str(empty), empty.as_uri()):
        with pytest.raises(FileNotFoundError):
            _events_ts_is_nanos_long(path)


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
