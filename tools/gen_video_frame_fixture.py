"""Regenerate tests/fixtures/video_frames.parquet — the persisted
per-frame hash table behind the `video_span_audit` superset entry
(round 13: the triad-completing frame edition of the image/audio
fixture splits).

One raw gray8 AVI per doc_id in [0, 5000), frames hashed through the
REAL codec chain (planted_video render → avi_frames decode →
per-frame dHash with frame_hashes' exact ts→index sampling).  Pure
Python (multiprocessing), no Spark session.

    python tools/gen_video_frame_fixture.py

tests/test_video_span_audit.py::test_video_frame_fixture_matches_codec_chain
re-derives a stratified sample through the same chain and fails on
any drift.
"""

from __future__ import annotations

import os
import sys
from multiprocessing import Pool

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

N_DOCS = 5000
OUT = os.path.join(
    os.path.dirname(__file__), "..", "tests", "fixtures", "video_frames.parquet"
)


def _rows(doc_id: int):
    from prod2vec_spark.queries.media import frame_hash_rows

    return frame_hash_rows(doc_id)


def main() -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    with Pool() as pool:
        per_doc = pool.map(_rows, range(N_DOCS), chunksize=50)
    rows = [r for doc in per_doc for r in doc]
    assert rows, "codec chain produced no frames"
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
            "frame_idx": pa.array([r[1] for r in rows], type=pa.int32()),
            "fhash": pa.array([r[2] for r in rows], type=pa.int64()),
        }
    )
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    pq.write_table(table, OUT)
    print(f"wrote {len(rows)} frame rows ({N_DOCS} clips) -> {os.path.abspath(OUT)}")


if __name__ == "__main__":
    main()
