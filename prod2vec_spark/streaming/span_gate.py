"""Streaming span gate (ENGINE scope): the span plane of the
first-presenter gate (streaming/first_presenter.py), behind the span
triad's three streaming legs — video frames, image tiles, audio
windows.  Each leg is a ``SpanPlane`` spec (unit hash function,
composite id base, default min_shared); the signature derivation and
the foreign-claim fold are written once, here.

Semantics:

* every arriving blob decodes ONCE in the plane's Arrow-batched unit
  pass; each unit's 64-bit hash explodes into ``bands`` disjoint
  (band, slice) signatures — the batch plane's banding;
* a (band, slice) signature is owned by the FIRST composite unit id
  (media·BASE + unit_idx; min id within a batch) and carries that
  unit's FULL hash as ``owner_hash`` (the verify side);
* a unit is foreign-claimed iff some signature of its is owned by a
  DIFFERENT media's unit whose owner hash exact-verifies
  (bit_count(xor) ≤ max_distance) — claims are VERIFIED because span
  gates evaluate bands × many-units-per-media signatures, so
  unverified false collisions accumulate past any fixed min_shared
  as the registry grows (measured on the tile plane: pure-noise
  singletons dropped once it held ~5k signatures);
* a media DROPS iff ≥ min_shared of its units are foreign-claimed —
  the streaming mirror of the batch plane's span_pairs min_shared
  cut; batch span_pairs over committed rows remains ground truth
  (the documented under-drop chain: a later media matching a KEPT
  media only through a hash-distant third presenter can survive);
* undecodable blobs present no units, never reach the registry, and
  are trivially kept — the caller unions them back (the
  auditable-miss contract).  Digital-silence audio windows are
  skipped at the hash step, so the silence class presents nothing.

Scale shape: the registry holds two longs per distinct (band, slice)
signature; a degenerate half-constant signature holds ONE owner no
matter how many units present it (hot-bucket-proof by construction).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prod2vec_spark.operators.phash import (
    _FRAME_ID_BASE,
    _TILE_ID_BASE,
    _WIN_ID_BASE,
    _composite_id,
    audio_window_hashes,
    band_structs,
    frame_hashes,
    image_tile_hashes,
)
from prod2vec_spark.streaming.first_presenter import start_first_presenter_gate

DEFAULT_BANDS = 4


@dataclass(frozen=True)
class SpanPlane:
    """Everything that differs between the three streaming span legs.

    ``hash_fn(media, id_col=..., blob_col=..., **kwargs)`` must return
    one row per decoded unit with ``idx_col`` (unit index within the
    media) and ``hash_col`` (the unit's 64-bit hash)."""

    hash_fn: Callable[..., DataFrame]
    idx_col: str
    hash_col: str
    id_base: int  # composite unit id = media_id * id_base + unit_idx
    min_shared: int  # default drop threshold (units foreign-claimed)


# video: AVI or animated-GIF frames sampled every ``every_ms``
VIDEO_PLANE = SpanPlane(frame_hashes, "frame_idx", "fhash", _FRAME_ID_BASE, 2)
# image: ``tile_px`` tiles at ``stride``
IMAGE_PLANE = SpanPlane(image_tile_hashes, "tile_idx", "thash", _TILE_ID_BASE, 4)
# audio: ``window_ms`` windows every ``hop_ms``
AUDIO_PLANE = SpanPlane(audio_window_hashes, "win_idx", "whash", _WIN_ID_BASE, 2)


def span_signatures(
    plane: SpanPlane,
    media: DataFrame,
    bands: int = DEFAULT_BANDS,
    id_col: str = "media_id",
    blob_col: str = "blob",
    **hash_kwargs,
) -> DataFrame:
    """(media_id, unit, hash, band, slice): one row per band signature
    of every decoded unit; ``unit`` is the composite unit id."""
    uh = plane.hash_fn(media, id_col=id_col, blob_col=blob_col, **hash_kwargs)
    return uh.select(
        F.col(id_col).alias("media_id"),
        _composite_id(id_col, F.col(plane.idx_col), plane.id_base).alias("unit"),
        F.col(plane.hash_col).alias("hash"),
        F.explode(F.array(*band_structs(F.col(plane.hash_col), bands))).alias("bs"),
    ).select(
        "media_id",
        "unit",
        "hash",
        F.col("bs.band").alias("band"),
        F.col("bs.slice").alias("slice"),
    )


def start_span_gate(
    plane: SpanPlane,
    media: DataFrame,
    registry_dir: str,
    out_dir: str,
    checkpoint: str,
    min_shared: "int | None" = None,
    max_distance: int = 3,
    bands: int = DEFAULT_BANDS,
    id_col: str = "media_id",
    blob_col: str = "blob",
    **hash_kwargs,
):
    """Span gate over a media stream: (media_id, keep) decisions land
    at ``out_dir/batch_id=N`` — a media drops iff at least
    ``min_shared`` (default: the plane's) of its units are
    foreign-claimed.  ``hash_kwargs`` go to the plane's hash function.
    Returns the started availableNow query."""
    ms = plane.min_shared if min_shared is None else min_shared
    base = plane.id_base

    def decide(rows: DataFrame) -> DataFrame:
        foreign_unit = (
            (F.expr(f"owner div {base}").cast("long") != F.col("media_id"))
            & (
                F.bit_count(F.col("hash").bitwiseXOR(F.col("owner_hash")))
                <= F.lit(max_distance)
            )
        ).cast("int")
        per_unit = rows.groupBy("media_id", "unit").agg(
            F.max(foreign_unit).alias("is_foreign")
        )
        return per_unit.groupBy("media_id").agg(
            (F.sum("is_foreign") < F.lit(ms)).cast("int").alias("keep")
        )

    return start_first_presenter_gate(
        media,
        lambda batch: span_signatures(
            plane, batch, bands, id_col, blob_col, **hash_kwargs
        ),
        ("band", "slice"),
        "unit",
        decide,
        registry_dir,
        out_dir,
        checkpoint,
        carry=("hash",),
    )
