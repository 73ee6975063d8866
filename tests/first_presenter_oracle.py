"""Sequential first-presenter oracle: the streaming near-dedup gate's
ownership rule in plain Python, the exact reference the gate tests
compare against.

A wave is the list of signature rows one drain ingested, as
``(key, owner_id)``.  Waves are replayed in arrival order; a key
never seen before is owned by the minimum id presenting it within its
wave, and ownership never changes afterwards."""

from __future__ import annotations


def first_presenter(waves) -> dict:
    """{key: owner_id} after every wave, in order."""
    registry: dict = {}
    for wave in waves:
        fresh: dict = {}
        for key, oid in wave:
            if key not in registry and (key not in fresh or oid < fresh[key]):
                fresh[key] = oid
        registry.update(fresh)
    return registry


def owns_all(rows, registry) -> dict:
    """{id: keep} — kept iff the id owns every key it presented."""
    keep: dict = {}
    for key, oid in rows:
        keep[oid] = min(keep.get(oid, 1), int(registry[key] == oid))
    return keep


def assert_gate_matches_oracle(
    spark, sig_waves, key_cols, owner_col, registry_dir, out_dir,
    id_col="doc_id",
) -> dict:
    """Replay ``sig_waves`` (one signature DataFrame per drained wave,
    in drain order) through the oracle and assert the gate's committed
    registry and decisions equal it exactly; returns the decisions."""
    from prod2vec_spark.streaming.first_presenter import read_decisions

    def key(r):
        return tuple(r[k] for k in key_cols)

    waves = [
        [(key(r), r[owner_col]) for r in w.collect()]
        for w in sig_waves
    ]
    want = first_presenter(waves)
    got = {key(r): r["owner"] for r in spark.read.parquet(registry_dir).collect()}
    assert got == want
    decisions = {
        r[id_col]: r["keep"]
        for r in read_decisions(spark, out_dir, id_col).collect()
    }
    assert decisions == owns_all([row for w in waves for row in w], want)
    return decisions
