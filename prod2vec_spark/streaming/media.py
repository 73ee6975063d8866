"""Streaming media near-dedup (ENGINE scope): the media plane of the
first-presenter gate (streaming/first_presenter.py) — the
perceptual-hash counterpart of the text stream's MinHash/LSH gate
(streaming/neardup.py), sharing its semantics, registry and sink
recipe.

Every arriving media row (mixed PNG/WAV/AVI blobs) derives its
signatures with operators/phash.media_signatures — the Arrow-batched
decode pass (mapInPandas runs unchanged on a stream) exploded into
the SAME ``bands`` disjoint (band, slice) rows the batch plane
persists as its incremental band table (the ``mhash`` column those
rows carry for the batch probe never reaches the registry, which
stores only key and owner columns).  A (modality, band, slice)
signature is owned by the first media id to present it; a row is
KEPT iff it owns ALL of its bands.  Modality in the key means an image hash can
never collide with an audio hash — the batch plane's partition rule,
held in the registry.

Conservatism contract (same as the text gate, documented not
hidden): a band collision drops without the bit_count exact-verify
step, and a collision with an earlier DROPPED row still drops.  The
invariant this buys (pytest-locked): the kept set's band signatures
are pairwise disjoint — by pigeonhole, the kept set contains NO pair
within Hamming distance < bands, so the batch
``media_neardup_pairs`` over the kept rows returns zero pairs.

Undecodable blobs (NULL hash) present no bands, never reach the
registry, and are trivially kept — the caller unions them back (the
auditable-miss contract; the batch stage keeps them too).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from prod2vec_spark.operators.phash import media_signatures
from prod2vec_spark.streaming.first_presenter import (
    owns_all,
    start_first_presenter_gate,
)


def start_media_near_dedup_registry(
    media: DataFrame,
    registry_dir: str,
    out_dir: str,
    checkpoint: str,
    id_col: str = "media_id",
    blob_col: str = "blob",
    bands: int = 4,
):
    """Media first-presenter gate over a media stream: (media_id,
    keep) decisions land at ``out_dir/batch_id=N`` (read them with
    ``first_presenter.read_decisions(spark, out_dir, "media_id")``).
    Returns the started availableNow query."""
    return start_first_presenter_gate(
        media,
        lambda batch: media_signatures(batch, id_col, blob_col, bands),
        ("modality", "band", "slice"),
        "media_id",
        owns_all("media_id"),
        registry_dir,
        out_dir,
        checkpoint,
    )
