"""Sequential first-presenter oracle: the streaming dedup gates'
ownership rule in plain Python, the exact reference the gate tests
compare against.

A wave is the list of signature rows one drain ingested, as
``(key, owner_id, carry)``.  Waves are replayed in arrival order; a
key never seen before is owned by the minimum id presenting it within
its wave (``carry`` rides along with that id), and ownership never
changes afterwards."""

from __future__ import annotations


def first_presenter(waves) -> dict:
    """{key: (owner_id, carry)} after every wave, in order."""
    registry: dict = {}
    for wave in waves:
        fresh: dict = {}
        for key, oid, carry in wave:
            if key not in registry and (key not in fresh or oid < fresh[key][0]):
                fresh[key] = (oid, carry)
        registry.update(fresh)
    return registry


def owns_all(rows, registry) -> dict:
    """{id: keep} — kept iff the id owns every key it presented."""
    keep: dict = {}
    for key, oid, _ in rows:
        keep[oid] = min(keep.get(oid, 1), int(registry[key][0] == oid))
    return keep


def span_keep(rows, registry, base, min_shared, max_distance=3) -> dict:
    """{media_id: keep} for span rows ``(key, unit_id, unit_hash)``:
    a unit is foreign-claimed when a key of its is owned by another
    media's unit whose hash is within ``max_distance`` bits; a media
    drops iff at least ``min_shared`` of its units are."""
    foreign: dict = {}
    for key, unit, h in rows:
        owner, owner_hash = registry[key]
        claim = owner // base != unit // base and (
            bin((h ^ owner_hash) & (2**64 - 1)).count("1") <= max_distance
        )
        foreign[unit] = foreign.get(unit, False) or claim
    n: dict = {}
    for unit, claim in foreign.items():
        n[unit // base] = n.get(unit // base, 0) + claim
    return {m: int(c < min_shared) for m, c in n.items()}


def assert_gate_matches_oracle(
    spark, sig_waves, key_cols, owner_col, registry_dir, out_dir,
    id_col="doc_id", keep=owns_all, carry=None,
) -> dict:
    """Replay ``sig_waves`` (one signature DataFrame per drained wave,
    in drain order) through the oracle and assert the gate's committed
    registry and decisions equal it exactly; returns the decisions."""
    from prod2vec_spark.streaming.first_presenter import read_decisions

    def key(r):
        return tuple(r[k] for k in key_cols)

    waves = [
        [(key(r), r[owner_col], r[carry] if carry else None) for r in w.collect()]
        for w in sig_waves
    ]
    want = first_presenter(waves)
    got = {
        key(r): (r["owner"], r[f"owner_{carry}"] if carry else None)
        for r in spark.read.parquet(registry_dir).collect()
    }
    assert got == want
    decisions = {
        r[id_col]: r["keep"]
        for r in read_decisions(spark, out_dir, id_col).collect()
    }
    assert decisions == keep([row for w in waves for row in w], want)
    return decisions
