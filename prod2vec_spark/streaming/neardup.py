"""Streaming MinHash/LSH near-dedup (ENGINE scope): the incremental
counterpart of the batch bands → candidate-pairs → CC pipeline
(operators/dedup.py, operators/graph.py).

The text plane of the first-presenter gate
(streaming/first_presenter.py): every arriving document computes its
LSH band signatures row-locally (the exact same minhash_bands
expressions as batch), a (band_id, band_sig) signature is owned by
the first document to present it, and a document is KEPT iff it owns
ALL of its bands.  This is deliberately MORE conservative than the
batch pipeline in two ways, both documented rather than hidden:

  * batch LSH treats a band collision as a *candidate* then clusters
    via connected components and keeps one doc per cluster; the
    streaming gate drops on collision without the exact-verify step
    (a kafka-fed curation front door wants cheap conservative
    filtering; the batch pipeline re-adjudicates on the archived
    corpus), and
  * a doc colliding only with an earlier DROPPED doc is still dropped
    (the dropped doc's bands stay owned) — first presenter owns the
    band, kept or not.

The invariant the conservatism buys (pytest-locked): the kept set's
band signatures are PAIRWISE DISJOINT — running the batch
lsh_candidate_pairs over the kept docs yields zero pairs.

Scale notes: the registry holds one owner doc_id per distinct band
signature — the same cardinality the batch band shuffle carries, kept
on storage instead of re-shuffled per run.  Docs too short to shingle
(< shingle_k tokens) emit no bands and get no decision row; they are
trivially kept and must be unioned back by the caller (pipeline
wiring does this).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prod2vec_spark.operators.dedup import minhash_bands
from prod2vec_spark.sources.io import read_partials
from prod2vec_spark.streaming.first_presenter import (
    owns_all,
    start_first_presenter_gate,
)


def start_near_dedup_registry(
    docs: DataFrame,
    registry_dir: str,
    out_dir: str,
    checkpoint: str,
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 8,
    band_size: int = 4,
):
    """Text first-presenter gate over a document stream: (doc_id,
    keep) decisions land at ``out_dir/batch_id=N``, the band registry
    at ``registry_dir/batch_id=N``.  Returns the started availableNow
    query."""
    return start_first_presenter_gate(
        docs,
        lambda batch: minhash_bands(
            batch,
            text_col=text_col,
            shingle_k=shingle_k,
            num_hashes=num_hashes,
            band_size=band_size,
        ),
        ("band_id", "band_sig"),
        "doc_id",
        owns_all("doc_id"),
        registry_dir,
        out_dir,
        checkpoint,
    )


def read_committed_bands(spark, bands_dir: str) -> DataFrame:
    """The committed band table (union of per-batch partials) with its
    batch_id partition column — empty before the first commit, never
    an error."""
    return read_partials(
        spark, bands_dir, "doc_id long, band_id int, band_sig string"
    )


def read_delta_pairs(spark, pairs_dir: str) -> DataFrame:
    """Union of the committed per-batch delta pair sets.  Each pair is
    emitted exactly once — by the batch that ingested its LATER member
    — so the union replays the batch pipeline's full pair set."""
    return read_partials(spark, pairs_dir, "doc_a long, doc_b long")


def start_incremental_lsh_stream(
    docs: DataFrame,
    bands_dir: str,
    pairs_dir: str,
    checkpoint: str,
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 8,
    band_size: int = 4,
    max_group: int | None = None,
):
    """Streaming twin of ``incremental_lsh_candidates``: each
    micro-batch emits the DELTA candidate pairs (new docs vs the
    committed band table ∪ the batch itself) and then commits its own
    band partial — the signature store grows append-only, the archived
    corpus is never re-shingled.

    Exactly-once via the repo's idempotent-foreachBatch recipe: both
    the delta pairs and the band partial land at ``batch_id=N``
    partitions with overwrite, and the committed-bands read EXCLUDES
    the current batch id, so a replayed batch recomputes byte-identical
    output instead of double-pairing against its own half-committed
    bands.  Unlike the first-presenter gate above this is not a
    keep/drop decision: it feeds the same pair stream the batch
    pipeline clusters, so downstream CC/canonical selection stays
    batch-adjudicated (run it over read_delta_pairs' union at any
    checkpoint of the stream)."""
    from prod2vec_spark.operators.dedup import incremental_lsh_candidates

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        old = read_committed_bands(spark, bands_dir).where(
            F.col("batch_id") != batch_id
        ).select("doc_id", "band_id", "band_sig")
        delta = incremental_lsh_candidates(
            old,
            batch_df,
            text_col=text_col,
            shingle_k=shingle_k,
            num_hashes=num_hashes,
            band_size=band_size,
            max_group=max_group,
        )
        delta.write.mode("overwrite").parquet(f"{pairs_dir}/batch_id={batch_id}")
        minhash_bands(
            batch_df,
            text_col=text_col,
            shingle_k=shingle_k,
            num_hashes=num_hashes,
            band_size=band_size,
        ).write.mode("overwrite").parquet(f"{bands_dir}/batch_id={batch_id}")

    return (
        docs.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
