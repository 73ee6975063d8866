"""The streaming file-sink contract: the checkpointed parquet sink's
exactly-once restarts, a stream over an initially-empty landing dir,
and the stage-output read of a not-yet-committed directory."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from prod2vec_spark.sources.io import read_table, write_stream_parquet
from tests.conftest import SF_SMOKE

DOCS = "doc_id long, text string, lang string"


def _docs_stream(spark, dir_path):
    """File-source stream of documents over ``dir_path``, read with a
    declared schema (streams can't infer)."""
    return spark.readStream.schema(DOCS).parquet(str(dir_path))


def test_checkpointed_parquet_sink_exactly_once(spark, tmp_path):
    """write_stream_parquet: the production file-sink path.  Drain a
    projection to parquet, then RESTART the query with the same
    checkpoint twice — once with no new input (must write nothing new)
    and once after a second input file lands (must write exactly its
    rows) — the exactly-once recovery contract, asserted by row
    counts, not trusted."""
    src = tmp_path / "src"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    shutil.copy(f"{SF_SMOKE}/documents.parquet", src / "part-000.parquet")

    def drain():
        stream = _docs_stream(spark, src)
        tx = stream.where(F.col("lang") == "en").select("doc_id", "text")
        q = write_stream_parquet(tx, out, ckpt)
        q.awaitTermination()

    n_batch = (
        read_table(spark, SF_SMOKE, "documents")
        .where(F.col("lang") == "en")
        .count()
    )

    drain()
    assert spark.read.parquet(out).count() == n_batch

    # restart with no new input: offsets are committed, nothing re-emits
    drain()
    assert spark.read.parquet(out).count() == n_batch

    # a second file lands; restart processes ONLY the new rows
    shutil.copy(f"{SF_SMOKE}/documents.parquet", src / "part-001.parquet")
    drain()
    assert spark.read.parquet(out).count() == 2 * n_batch


def test_stream_starts_on_empty_dir_with_explicit_schema(spark, tmp_path):
    """An initially-empty landing directory is a normal
    streaming-source pattern — the declared documents schema lets the
    stream START with no file to read, then pick up files that land
    later."""
    src = tmp_path / "landing"
    src.mkdir()
    stream = _docs_stream(spark, src)
    agg = stream.groupBy("lang").count()

    q = (
        agg.writeStream.format("memory")
        .queryName("empty_start")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.sql("select * from empty_start").count() == 0  # empty dir drained

    shutil.copy(f"{SF_SMOKE}/documents.parquet", src / "part-000.parquet")
    q2 = (
        stream.groupBy("lang").count()
        .writeStream.format("memory")
        .queryName("empty_start2")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    want = read_table(spark, SF_SMOKE, "documents").select("lang").distinct().count()
    assert spark.sql("select * from empty_start2").count() == want


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
