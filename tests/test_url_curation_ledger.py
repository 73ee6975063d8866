"""The batch drop ledger names the url_curation boundary whenever the
stage runs — canonical-URL dedup alone included — so its drops are not
charged to the next checkpointed stage."""

from __future__ import annotations

from pyspark.sql import functions as F

from prod2vec_spark.pipeline_llm import CorpusConfig, CorpusCurationPipeline
from prod2vec_spark.sources.io import read_table
from tests.conftest import SF_SMOKE


def test_url_dedup_drops_are_attributed_to_url_curation(spark, tmp_path):
    """Docs 0..29 carry six surface variants of one page: with only
    ``url_dedup`` on, every collapsed variant is a ``url_curation``
    drop, and the ledger still partitions the input with the final
    corpus."""
    variants = F.array(
        F.lit("https://www.page.com/a?b=1&a=2"),
        F.lit("HTTPS://WWW.page.com/a?a=2&b=1"),
        F.lit("https://www.page.com:443/a?b=1&a=2"),
        F.lit("https://www.page.com/a/?utm_source=x&b=1&a=2#f"),
        F.lit("https://www.page.com/a?gclid=Z&a=2&b=1"),
        F.lit("https://www.page.com/a/?b=1&utm_campaign=c&a=2"),
    )
    docs = read_table(spark, SF_SMOKE, "documents").withColumn(
        "url",
        F.when(
            F.col("doc_id") < 30,
            F.element_at(variants, (F.col("doc_id") % 6 + 1).cast("int")),
        ).otherwise(F.concat(F.lit("https://u"), F.col("doc_id"), F.lit(".com/"))),
    )
    sf_dir = str(tmp_path / "sf")
    docs.write.parquet(f"{sf_dir}/documents.parquet")
    cfg = CorpusConfig(
        sf_dir=sf_dir, work_dir=str(tmp_path / "corpus"), url_dedup=True
    )
    pipe = CorpusCurationPipeline(spark, cfg)
    pipe.run()

    ledger = {r["doc_id"]: r["dropped_at"] for r in pipe.drop_ledger().collect()}
    assert {d: ledger.get(d) for d in range(1, 30)} == {
        d: "url_curation" for d in range(1, 30)
    }
    final = {
        r["doc_id"]
        for r in spark.read.parquet(f"{cfg.work_dir}/decontaminated")
        .select("doc_id")
        .collect()
    }
    input_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert not (final & set(ledger)) and final | set(ledger) == input_ids
