"""Lineage-break helper shared by the iterative operators (round 15,
VERDICT r14 ask #7).

``localCheckpoint`` materializes to EXECUTOR-LOCAL storage: fast (no
distributed-FS round trip) but lost with the executor — on a real
cluster, one executor failure mid-loop invalidates the checkpointed
blocks and the job dies with a FetchFailed it cannot recompute
(lineage was truncated).  That is fine on local[*] and acceptable for
short loops, but the CC loops (operators/graph.py) and the order-n KN
fit (operators/lm.py) can run many rounds over 100 TB-scale shuffles.

``break_lineage(df, checkpoint_dir=...)`` switches the SAME call
sites to RELIABLE checkpoints: blocks persist to the (fault-tolerant)
checkpoint directory — HDFS/S3 on a cluster, any path locally — and
survive executor loss; Spark re-reads them instead of recomputing.
The cost is one distributed write per break, which is why it is
opt-in: the default (checkpoint_dir=None) keeps today's
localCheckpoint behavior and plans bit-identical.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame


def break_lineage(
    df: DataFrame,
    checkpoint_dir: "str | None" = None,
    eager: bool = True,
) -> DataFrame:
    """Truncate ``df``'s lineage: ``localCheckpoint`` (executor-local,
    fast, dies with the executor) when ``checkpoint_dir`` is None,
    else a RELIABLE ``checkpoint`` into ``checkpoint_dir`` (survives
    executor loss — the cluster-scale option).

    ``setCheckpointDir`` is SparkContext-global, so the 'one dir per
    session' rule is SURFACED, not just documented (ADVICE r15):
    re-pointing an already-set, different root emits a warning naming
    both roots — two operators running concurrently with different
    dirs would otherwise silently land later breaks in whichever root
    was set last.  (A warning, not an error: SEQUENTIAL re-pointing is
    legal and safe — Spark keys per-RDD subdirs under whatever root is
    current at checkpoint time.)"""
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    current = sc._jsc.sc().getCheckpointDir()
    existing = current.get() if current.isDefined() else None
    if existing is not None:
        # the JVM normalizes the dir to a fully-qualified URI AND
        # appends a per-application UUID subdir (file:/tmp/x/<uuid>);
        # a repeat call with the same root is idempotent when the
        # existing path sits under the requested root
        want = checkpoint_dir.rstrip("/")
        got = existing.rstrip("/")
        for scheme in ("file://", "file:"):
            if got.startswith(scheme):
                got = got[len(scheme):]
                break
        if not (got == want or got.startswith(want + "/")):
            import warnings

            warnings.warn(
                f"re-pointing SparkContext checkpoint dir from "
                f"{existing!r} to {checkpoint_dir!r} — the setting is "
                f"context-GLOBAL; any concurrently-running operator's "
                f"later lineage breaks land in the new root (one dir "
                f"per session)",
                RuntimeWarning,
                stacklevel=2,
            )
    sc.setCheckpointDir(checkpoint_dir)
    return df.checkpoint(eager=eager)


@contextmanager
def closing_lazy_breaks(spark):
    """Scope code that makes a CHAIN of lazy (``eager=False``) breaks —
    each level derived from the one before — together with the first
    action over them, so that action marks every level checkpointed.

    Spark's post-job checkpoint pass stops at the first checkpointed
    RDD it meets, so by default only the last level is marked; the
    deeper ones stay cached but keep their lineage, and a LATER job
    marks them while its concurrently submitted adaptive stages still
    run that lineage.  Those tasks then report SQL metrics of plans
    the driver has already garbage-collected ("Failed to update
    accumulator … non-existent accumulator" traces; results are
    unaffected).  checkpointAllMarkedAncestors makes the pass walk on
    through every marked level; their partitions are already
    materialized, so it adds no job."""
    key = "spark.checkpoint.checkpointAllMarkedAncestors"
    sc = spark.sparkContext
    prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, "true")
    try:
        yield
    finally:
        sc.setLocalProperty(key, prev)
