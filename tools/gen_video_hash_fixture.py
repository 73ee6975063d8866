"""Regenerate tests/fixtures/video_vhash.parquet — the persisted
per-clip hash table behind the `video_neardup` driver entry
(VERDICT r9 ask #2: split the video entry so the codec boundary is
pytest-golden and the catalog entry is the DuckDB-oracle-able
banded-Hamming plane over persisted hashes).

One row per doc_id in [0, 5000) — covering every driver scale factor
(sf0.1's documents table tops out at doc_id 4999) — with the
keyframe-mean dHash of the planted clip corpus, computed through the
REAL codec chain (planted_clip render → encode_avi_gray8 →
stdlib AVI decode → keyframe-mean dHash, phash.media_hash).  Pure Python, no Spark session.

    python tools/gen_video_hash_fixture.py

tests/test_video.py::test_video_hash_fixture_matches_codec_chain
re-derives a stratified sample through the same chain and fails on
any drift, so the fixture can never silently diverge from the codec.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

N_DOCS = 5000
OUT = os.path.join(
    os.path.dirname(__file__), "..", "tests", "fixtures", "video_vhash.parquet"
)


def main() -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from prod2vec_spark.operators.phash import media_hash
    from prod2vec_spark.queries.media import planted_clip

    hashes = [media_hash(planted_clip(i))[1] for i in range(N_DOCS)]
    assert all(h is not None for h in hashes), "codec chain produced a NULL hash"
    table = pa.table(
        {
            "doc_id": pa.array(range(N_DOCS), type=pa.int64()),
            "vhash": pa.array(hashes, type=pa.int64()),
        }
    )
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    pq.write_table(table, OUT)
    print(f"wrote {N_DOCS} rows -> {os.path.abspath(OUT)}")


if __name__ == "__main__":
    main()
