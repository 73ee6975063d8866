"""Generate tests/fixtures/thumb_goldens.parquet — golden thumbnail
digests that make the round-15 `image_thumbnails` resize operator a
fully-oracled superset entry (`thumbnail_audit`), per the
golden-column protocol: for every blob in the planted
phash_pairs_images corpus, persist (media_id, thumb_md5, src_width,
src_height, src_format) where thumb_md5 is the md5 of the 8×8 gray8
PNG the operator itself produces.  The Spark entry RECOMPUTES the
thumbnails from the raw blobs (decode → area-resize → re-encode, the
real chain); the DuckDB twin reads the persisted goldens — any drift
in the decode door, the resize geometry, or the PNG writer fails the
driver-style hash compare, and tests/test_webp.py re-runs the chain
against the fixture (the honesty lock).

Rerun: python tools/gen_thumb_golden_fixture.py
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FIXDIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "fixtures",
)
THUMB_W = THUMB_H = 8


def golden_row(media_id: int, blob: bytes):
    import numpy as np

    from prod2vec_spark.operators.multimodal import decode_blob, encode_png_gray8
    from prod2vec_spark.operators.phash import _area_resize, image_gray

    g = image_gray(blob)
    assert g is not None
    px = np.clip(np.rint(_area_resize(g, THUMB_H, THUMB_W)), 0, 255).astype(
        np.uint8
    )
    thumb = bytes(encode_png_gray8(px.tobytes(), THUMB_W, THUMB_H))
    return (
        media_id,
        hashlib.md5(thumb).hexdigest(),
        int(g.shape[1]),
        int(g.shape[0]),
        decode_blob(blob).fmt,
    )


def main() -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = pq.read_table(os.path.join(FIXDIR, "phash_pairs_images.parquet"))
    rows = [
        golden_row(m, b)
        for m, b in zip(src["media_id"].to_pylist(), src["blob"].to_pylist())
    ]
    pq.write_table(
        pa.table(
            {
                "media_id": pa.array([r[0] for r in rows], pa.int64()),
                "thumb_md5": pa.array([r[1] for r in rows], pa.string()),
                "src_width": pa.array([r[2] for r in rows], pa.int32()),
                "src_height": pa.array([r[3] for r in rows], pa.int32()),
                "src_format": pa.array([r[4] for r in rows], pa.string()),
            }
        ),
        os.path.join(FIXDIR, "thumb_goldens.parquet"),
    )
    print(f"wrote {len(rows)} golden rows")


if __name__ == "__main__":
    main()
