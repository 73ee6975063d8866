"""Regenerate tests/fixtures/image_tiles.parquet — the persisted
per-tile hash table behind the `image_span_audit` superset entry
(round 12: the video-plane split of VERDICT r9 ask #2, image
edition — codec boundary pytest-golden, query half DuckDB-oracled).

One image per doc_id in [0, 5000) (covering every driver scale
factor; sf0.1's documents table tops out at doc_id 4999), tiles
computed through the REAL codec chain (planted_image render →
encode_png_gray8 → image_gray decode → tile_rows_py dHash).  Pure
Python, no Spark session.

    python tools/gen_image_tile_fixture.py

tests/test_image_span.py::test_image_tile_fixture_matches_codec_chain
re-derives a stratified sample through the same chain and fails on
any drift, so the fixture can never silently diverge from the codec.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

N_DOCS = 5000
OUT = os.path.join(
    os.path.dirname(__file__), "..", "tests", "fixtures", "image_tiles.parquet"
)


def main() -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from prod2vec_spark.queries.media import tile_hash_rows

    rows = [r for i in range(N_DOCS) for r in tile_hash_rows(i)]
    assert rows, "codec chain produced no tiles"
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
            "tile_idx": pa.array([r[1] for r in rows], type=pa.int32()),
            "thash": pa.array([r[2] for r in rows], type=pa.int64()),
        }
    )
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    pq.write_table(table, OUT)
    print(f"wrote {len(rows)} tile rows ({N_DOCS} images) -> {os.path.abspath(OUT)}")


if __name__ == "__main__":
    main()
