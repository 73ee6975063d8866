"""Streaming span gate (ENGINE scope): the span plane of the
first-presenter gate (streaming/first_presenter.py), behind the span
triad's three streaming legs — video frames, image tiles, audio
windows.  Each leg is one of operators/phash.py's ``SpanPlane``
specs (``VIDEO_PLANE`` / ``IMAGE_PLANE`` / ``AUDIO_PLANE``); the
signatures are phash.span_signatures — the same (media_id, unit,
hash, band, slice) rows the batch plane persists as its band table
— and the foreign-claim fold is written once, here.

Semantics:

* every arriving blob decodes ONCE in the plane's Arrow-batched unit
  pass; each unit's 64-bit hash explodes into ``bands`` disjoint
  (band, slice) signatures — the batch plane's banding;
* a (band, slice) signature is owned by the FIRST composite unit id
  (media·UNIT_ID_BASE + unit_idx; min id within a batch) and carries that
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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prod2vec_spark.operators.phash import SpanPlane, span_signatures
from prod2vec_spark.streaming.first_presenter import start_first_presenter_gate


def start_span_gate(
    plane: SpanPlane,
    media: DataFrame,
    registry_dir: str,
    out_dir: str,
    checkpoint: str,
    min_shared: "int | None" = None,
    max_distance: int = 3,
    bands: int = 4,
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
