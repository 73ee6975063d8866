"""Round-13: the video (frame) leg of the span triad gets the same
oracled fixture split as its tile and window siblings — codec chain
pytest-golden against tests/fixtures/video_frames.parquet, banding
half DuckDB-oracled (queries_r13.video_span_audit)."""

from __future__ import annotations


def test_video_frame_fixture_matches_codec_chain(spark):
    """The persisted per-frame hash table must reproduce bit-for-bit
    through the REAL codec chain — a stratified sample re-derived via
    the distributed render (mapInPandas AVI encode → frame_hashes
    decode+dHash) and the pure-Python recipe both match the fixture."""
    import duckdb

    from prod2vec_spark.queries.common import (
        _video_frames_fixture_path as _video_fixture_path,
    )
    from prod2vec_spark.queries.media import frame_hash_rows, rendered_frame_hashes

    sample_ids = list(range(0, 500, 37)) + [499]
    fx = duckdb.sql(
        f"SELECT doc_id, frame_idx, fhash FROM "
        f"read_parquet('{_video_fixture_path()}') "
        f"WHERE doc_id IN ({','.join(map(str, sample_ids))})"
    ).fetchall()
    fixture = {(r[0], r[1]): r[2] for r in fx}
    py = {
        (d, fi): fh for d in sample_ids for _, fi, fh in frame_hash_rows(d)
    }
    assert py == fixture
    ids = spark.createDataFrame([(i,) for i in sample_ids], "doc_id long")
    got = {
        (r["doc_id"], r["frame_idx"]): r["fhash"]
        for r in rendered_frame_hashes(spark, ids).collect()
    }
    assert got == fixture


def test_video_span_audit_recovers_planted_families(spark):
    """Every planted shared-scene family at sf0.001 surfaces as a
    pair with EXACTLY its 6 scene frames matched (bit-identical
    dHashes — raw codec both sides), every reported pair is
    within-family, and the pair is (even, odd) of its family."""
    from prod2vec_spark.queries import ALL_QUERIES
    from tests.conftest import SF_SMOKE

    rows = ALL_QUERIES["video_span_audit"](spark, SF_SMOKE).collect()
    assert rows
    assert all(r["same_family"] == 1 for r in rows)
    assert {r["id_a"] // 2 for r in rows} == set(range(250))
    for r in rows:
        assert r["n_shared_frames"] == 6
        assert (r["id_a"], r["id_b"]) == (
            r["id_a"] // 2 * 2,
            r["id_a"] // 2 * 2 + 1,
        )
