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

The incremental pair plane (delta candidate pairs per micro-batch, not
a keep/drop gate) is ``operators/dedup.incremental_lsh_batch`` run
through ``sources/io.start_batch_stage``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from prod2vec_spark.operators.dedup import minhash_bands
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
