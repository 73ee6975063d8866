"""The streaming first-presenter gate behind the text near-dedup gate
(streaming/neardup.py) — every per-signature step a JVM expression,
no Python state.

The rule: each arriving row derives its signatures row-locally (LSH
bands for text); a signature is OWNED by the first row ever to
present it — the minimum owner id within the earliest micro-batch
that presented it — and ownership never changes, so a row colliding
only with an earlier DROPPED row still drops.  ``decide`` folds
ownership into keep/drop decisions (``owns_all``: kept iff the row
owns every signature it presented).

The registry: one row per distinct signature — the key columns and
``owner`` — stored as ``registry_dir/batch_id=N`` partials holding only the signatures first
presented by batch N.  Decisions land the same way at
``out_dir/batch_id=N``.  Both are written through the one micro-batch
door, ``sources/io.start_batch_stage``: a batch reads the registry
EXCLUDING its own batch id, so a replayed batch recomputes
byte-identical partials, and a checkpoint whose registry or decision
dir was lost refuses to resume (``read_decisions`` with the gate's
checkpoint refuses to read it).  Rows that present no signature (too
short to shingle) get no decision row and are kept by
the caller.

Cost shape: per micro-batch one hash-agg over the signatures and one
join against the committed registry — the right shape for
availableNow drains with few large batches.  Reads go through the
Hadoop FileSystem API, so ``file://``/``s3a://`` registries behave
like local ones.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from prod2vec_spark.sources.io import read_partials, start_batch_stage


def start_first_presenter_gate(
    stream: DataFrame,
    signatures: Callable[[DataFrame], DataFrame],
    key_cols: Sequence[str],
    owner_col: str,
    decide: Callable[[DataFrame], DataFrame],
    registry_dir: str,
    out_dir: str,
    checkpoint: str,
):
    """Start the gate as an availableNow drain and return the query.

    ``signatures(batch)`` maps a micro-batch to one row per presented
    signature (``key_cols`` + ``owner_col`` + whatever ``decide``
    reads); ``decide`` receives those rows joined with their ``owner``
    column and returns the batch's decision rows.  The registry stores
    only ``key_cols`` and ``owner``: other signature columns reach
    ``decide`` and nothing else.

    Raises if ``checkpoint`` has committed batches but ``registry_dir``
    or ``out_dir`` holds no partial: resuming would silently re-own
    every signature the lost registry held."""
    keys = list(key_cols)

    def per_batch(batch_df: DataFrame, batch_id: int):
        # signatures feed two consumers (ownership agg + the decision
        # fold): lazy lineage break so the derivation evaluates once
        sigs = signatures(batch_df).localCheckpoint(eager=False)
        batch_own = sigs.groupBy(*keys).agg(F.min(owner_col).alias("_b_owner"))
        schema = T.StructType(
            [sigs.schema[k] for k in keys]
            + [T.StructField("owner", sigs.schema[owner_col].dataType)]
        )
        old = (
            read_partials(batch_df.sparkSession, registry_dir, schema)
            .where(F.col("batch_id") != batch_id)
            .select(*keys, "owner")
        )
        sig_owner = (
            batch_own.join(old, keys, "left")
            .select(
                *keys,
                F.when(F.col("owner").isNotNull(), F.col("owner"))
                .otherwise(F.col("_b_owner"))
                .alias("owner"),
            )
            .localCheckpoint(eager=False)  # read by decisions + new-sig legs
        )
        # register only FIRST-presented signatures: re-presented ones
        # already have an earlier partial, and duplicate rows would
        # grow the registry past its one-row-per-signature contract
        return (
            decide(sigs.join(sig_owner, keys)),
            sig_owner.join(old, keys, "left_anti"),
        )

    return start_batch_stage(stream, per_batch, (out_dir, registry_dir), checkpoint)


def owns_all(id_col: str) -> Callable[[DataFrame], DataFrame]:
    """``decide`` for text and media: (id, keep) with keep = 1 iff the
    row owns every signature it presented."""
    return lambda rows: rows.groupBy(id_col).agg(
        F.min((F.col("owner") == F.col(id_col)).cast("int")).alias("keep")
    )


def read_decisions(
    spark, out_dir: str, id_col: str = "doc_id", checkpoint: str | None = None
) -> DataFrame:
    """The accumulated (id, keep) decisions across all committed
    batches — empty before the first commit.  Given the gate's
    ``checkpoint``, a decision dir lost after a commit raises instead
    of reading as empty (every row would silently read as kept)."""
    return read_partials(
        spark, out_dir, f"{id_col} long, keep int", checkpoint
    ).select(id_col, "keep")
