"""Source/sink surfaces: CSV roundtrip (S1/S4), parquet sink (S2-S3),
config loading (S8)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from prod2vec_spark.config import ConfigError, from_dict, from_yaml
from prod2vec_spark.sources.io import read_csv, read_table, write_csv, write_parquet
from tests.conftest import SF_SMOKE


def test_csv_roundtrip(spark, tmp_path):
    part = read_table(spark, "/root/testdata/sf0.001", "part")
    path = str(tmp_path / "part_csv")
    write_csv(part.select("p_partkey", "p_name", "p_retailprice"), path, single_file=True)
    back = read_csv(spark, path, schema="p_partkey long, p_name string, p_retailprice double")
    assert back.count() == part.count()
    a = {r["p_partkey"]: r["p_name"] for r in back.collect()}
    b = {r["p_partkey"]: r["p_name"] for r in part.collect()}
    assert a == b


def test_parquet_roundtrip_partitioned(spark, tmp_path):
    li = read_table(spark, "/root/testdata/sf0.001", "lineitem")
    path = str(tmp_path / "li_parq")
    write_parquet(li, path, partition_by=["l_returnflag"])
    back = spark.read.parquet(path)
    assert back.count() == li.count()
    # partition pruning: filtering on the partition column prunes files
    one = back.filter(back["l_returnflag"] == "A")
    assert one.count() == li.filter(li["l_returnflag"] == "A").count()


def test_config_yaml_and_validation(tmp_path):
    p = tmp_path / "cfg.yaml"
    p.write_text(
        """
sf_dir: /root/testdata/sf0.001
work_dir: /tmp/w
num_prods: 50
window_size: 3
train:
  vector_size: 16
  max_iter: 1
"""
    )
    cfg = from_yaml(str(p))
    assert cfg.num_prods == 50
    assert cfg.train.vector_size == 16

    with pytest.raises(ConfigError, match="unknown config keys"):
        from_dict({"sf_dir": "x", "work_dir": "y", "bogus": 1})
    with pytest.raises(ConfigError, match="num_prods"):
        from_dict({"sf_dir": "x", "work_dir": "y", "num_prods": 1})
    with pytest.raises(ConfigError, match="window_size"):
        from_dict({"sf_dir": "x", "work_dir": "y", "window_size": 0})


def test_artifact_put_get_roundtrip(spark, tmp_path):
    """S5: binary artifact plane over the Hadoop FS API (file:// here,
    s3a:// on a cluster with the same code path)."""
    from prod2vec_spark.sources.artifacts import (
        artifact_exists,
        get_artifact,
        list_artifacts,
        put_artifact,
    )

    base = f"file://{tmp_path}/artifacts"
    blob = bytes(range(256)) * 10
    put_artifact(spark, f"{base}/model.bin", blob)
    put_artifact(spark, f"{base}/plot.png", b"\x89PNG fake")

    assert artifact_exists(spark, f"{base}/model.bin")
    assert not artifact_exists(spark, f"{base}/missing")
    assert get_artifact(spark, f"{base}/model.bin") == blob
    assert list_artifacts(spark, base) == ["model.bin", "plot.png"]
    # overwrite semantics (the reference's fixed S3 keys)
    put_artifact(spark, f"{base}/model.bin", b"v2")
    assert get_artifact(spark, f"{base}/model.bin") == b"v2"


def test_json_roundtrip(spark, tmp_path):
    """JSON-lines source/sink with explicit schema."""
    from pyspark.sql import types as T

    from prod2vec_spark.sources.io import read_json, write_json

    df = spark.createDataFrame(
        [(1, "hello", 0.5), (2, "world", 1.5)], "id long, text string, score double"
    )
    path = str(tmp_path / "docs_json")
    write_json(df, path)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    back = read_json(spark, path, schema)
    assert sorted((r["id"], r["text"], r["score"]) for r in back.collect()) == [
        (1, "hello", 0.5),
        (2, "world", 1.5),
    ]


def test_partitioned_parquet_layout(spark, tmp_path):
    from pyspark.sql import functions as F

    """partition_by produces hive-style directories (partition pruning
    surface for downstream scans) and round-trips."""
    import os

    from prod2vec_spark.sources.io import write_parquet

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)], "id long, grp string, v double"
    )
    path = str(tmp_path / "pt")
    write_parquet(df, path, partition_by=["grp"])
    assert sorted(
        d for d in os.listdir(path) if d.startswith("grp=")
    ) == ["grp=a", "grp=b"]
    back = spark.read.parquet(path)
    assert back.count() == 3
    # partition filter prunes to one directory
    assert back.filter(F.col("grp") == "a").count() == 2


def test_stream_landing_uri_counts_files_for_parallelism_floor(spark, tmp_path):
    """A drain over a landing of fewer parquet files than cores gets
    the round-robin floor whether the landing is a plain path or a
    ``file://`` URI: the files are listed through the Hadoop FS API,
    not a local glob that reads a URI as an empty directory."""
    from prod2vec_spark.streaming.pipeline import (
        StreamCorpusConfig,
        StreamingCorpusPipeline,
    )

    landing = tmp_path / "landing"
    spark.createDataFrame(
        [(1, "some text", "en")], "doc_id long, text string, lang string"
    ).coalesce(1).write.parquet(str(landing))
    assert spark.sparkContext.defaultParallelism > 1
    for path in (str(landing), landing.as_uri()):
        pipe = StreamingCorpusPipeline(
            spark, StreamCorpusConfig(landing_dir=path, work_dir=str(tmp_path / "w"))
        )
        src = spark.readStream.schema("doc_id long, text string, lang string").parquet(path)
        plan = pipe._spread_stream(src, path)._jdf.queryExecution().logical().toString()
        assert "Repartition" in plan, path


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    """ORC sink/source roundtrip preserves data; filters reach the ORC
    scan as PushedFilters just like parquet."""
    from prod2vec_spark.sources.io import read_orc, read_table, write_orc

    part = read_table(spark, SF_SMOKE, "part").select(
        "p_partkey", "p_name", "p_size"
    )
    path = str(tmp_path / "part_orc")
    write_orc(part, path)
    back = read_orc(spark, path)
    assert back.count() == part.count()
    assert set(back.columns) == set(part.columns)

    filtered = back.where(F.col("p_size") > 20)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "p_size" in plan


def test_text_source_one_row_per_line(spark, tmp_path):
    from prod2vec_spark.sources.io import read_text

    p = tmp_path / "corpus.txt"
    p.write_text("alpha beta\ngamma\n\ndelta epsilon zeta\n")
    df = read_text(spark, str(p))
    assert df.columns == ["value"]
    assert df.count() == 4  # blank line preserved


def test_register_views_sql_equals_dataframe(spark):
    """spark.sql over the registered views returns the same result as
    the DataFrame catalog query — the SQL surface is real."""
    from prod2vec_spark.queries import QUERIES
    from prod2vec_spark.sources.io import register_views

    names = register_views(spark, SF_SMOKE)
    assert "lineitem" in names and "documents" in names
    got = {
        (r["l_returnflag"], r["l_linestatus"]): r["n"]
        for r in spark.sql(
            "SELECT l_returnflag, l_linestatus, count(*) AS n "
            "FROM lineitem GROUP BY 1, 2"
        ).collect()
    }
    from pyspark.sql import functions as SF

    want = {
        (r["l_returnflag"], r["l_linestatus"]): r["n"]
        for r in QUERIES["pricing_summary"](spark, SF_SMOKE)
        .select("l_returnflag", "l_linestatus", SF.col("count_order").alias("n"))
        .collect()
    }
    assert got == want


@pytest.mark.slow  # driver-budget suite skips (VERDICT r16 ask #3)
def test_register_query_views_sql_surface(spark):
    """Every catalog query is reachable from spark.sql as q_<name>,
    results identical to the DataFrame form.  (Full registration at
    sf0.001 includes the ML-backed audits' definition-time fits —
    cheap at smoke scale and part of the registration contract.)"""
    from prod2vec_spark.queries import ALL_QUERIES, QUERIES
    from prod2vec_spark.queries import register_query_views

    names = register_query_views(spark, SF_SMOKE)
    assert len(names) == len(QUERIES) == 50
    # superset entries retired from the driver catalog stay reachable
    # by explicit name — the SQL surface covers the whole superset
    register_query_views(spark, SF_SMOKE, names=["union_nation_counts"])
    got = {
        (r["side"], r["nationkey"]): r["n"]
        for r in spark.sql("SELECT * FROM q_union_nation_counts").collect()
    }
    want = {
        (r["side"], r["nationkey"]): r["n"]
        for r in ALL_QUERIES["union_nation_counts"](spark, SF_SMOKE).collect()
    }
    assert got == want and len(got) > 0
    # Catalyst plans straight through the view: a filter composed on
    # top in SQL still prunes at the source
    assert (
        spark.sql("SELECT * FROM q_revenue_topk WHERE revenue > 0").count()
        > 0
    )

