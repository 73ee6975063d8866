"""Generate tests/fixtures/phash_pairs_{images,webp,audio}.parquet — the planted near-dup
corpora that upgrade `phash_neardup` / `audio_neardup` from rows-only
to fully-oracled superset entries (round 15, VERDICT r14 ask #5; the
image_span_audit / media_format_audit fixture-split protocol).

500 rows each (doc ids 0..499 — covers the smoke and oracle SFs,
whose documents tables both carry exactly those ids), rendered with
the SAME deterministic recipes the round-7c in-query renderers used:
40 planted families (media_id % 40), one-pixel / one-sample per-member
variants, md5-expanded content.

Columns: media_id, blob, dhash|ahash — the hash columns are the REAL
codec chain's output at generation time (operators/phash.media_hash);
tests/test_phash.py re-runs the codecs against the blobs
and asserts bit-equality, so the persisted goldens stay honest.  The
superset entries RECOMPUTE the hashes from the blobs in Spark (the
codec plane stays exercised end-to-end) and their DuckDB oracles
replay the banded-Hamming candidate join + bit_count verify over the
persisted goldens — codec drift fails the hash compare.

Deterministic: all pixel/sample content is md5-expanded from the id.
Rerun: python tools/gen_phash_pair_fixture.py
"""

from __future__ import annotations

import hashlib
import os
import struct
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_ROWS = 500
FIXDIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "fixtures",
)


def planted_image_blob(media_id: int) -> bytes:
    """16×16 gray PNG: family = id % 40, one-pixel member variant —
    byte-identical to the round-7c q_phash_neardup renderer."""
    from prod2vec_spark.operators.multimodal import encode_png_gray8

    fam = media_id % 40
    member = media_id // 40
    raw = b"".join(
        hashlib.md5(f"img{fam}|{k}".encode()).digest() for k in range(16)
    )
    mat = bytearray(raw)
    if member:
        pos = (member * 37) % 256
        mat[pos] = (mat[pos] + 1) % 256
    return bytes(encode_png_gray8(bytes(mat), 16, 16))


def planted_audio_blob(media_id: int) -> bytes:
    """1040-sample PCM16 WAV: family = id % 40, one-sample glitch —
    byte-identical to the round-7c q_audio_neardup renderer."""
    from prod2vec_spark.operators.multimodal import encode_wav_pcm16

    fam = media_id % 40
    member = media_id // 40
    raw = b"".join(
        hashlib.md5(f"wav{fam}|{k}".encode()).digest() for k in range(130)
    )
    samples = list(struct.unpack("<1040h", raw))
    samples = [s // 8 for s in samples]  # headroom for the glitch
    if member:
        pos = (member * 97) % 1040
        samples[pos] += 200
    return bytes(encode_wav_pcm16(samples))


def planted_webp_blob(media_id: int) -> bytes:
    """Lossless-WebP member of the SAME 40 families as the PNG
    fixture, with a DIFFERENT per-member perturbation (member offset
    +1000), so PNG↔WebP pairs within a family are near-duplicates
    (Hamming ≤ 3), never byte-identical re-encodes — the cross-codec
    dedup case."""
    from prod2vec_spark.operators.webp import encode_webp_lossless_gray8

    fam = media_id % 40
    member = media_id // 40 + 1000
    raw = b"".join(
        hashlib.md5(f"img{fam}|{k}".encode()).digest() for k in range(16)
    )
    mat = bytearray(raw)
    pos = (member * 37) % 256
    mat[pos] = (mat[pos] + 1) % 256
    return encode_webp_lossless_gray8(bytes(mat), 16, 16)


def main() -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from prod2vec_spark.operators.phash import media_hash

    img_blobs = [planted_image_blob(i) for i in range(N_ROWS)]
    img_hashes = [media_hash(b)[1] for b in img_blobs]
    assert all(h is not None for h in img_hashes)
    pq.write_table(
        pa.table(
            {
                "media_id": pa.array(range(N_ROWS), pa.int64()),
                "blob": pa.array(img_blobs, pa.binary()),
                "dhash": pa.array(img_hashes, pa.int64()),
            }
        ),
        os.path.join(FIXDIR, "phash_pairs_images.parquet"),
    )
    webp_blobs = [planted_webp_blob(i) for i in range(N_ROWS)]
    webp_hashes = [media_hash(b)[1] for b in webp_blobs]
    assert all(h is not None for h in webp_hashes)
    pq.write_table(
        pa.table(
            {
                "media_id": pa.array(range(N_ROWS), pa.int64()),
                "blob": pa.array(webp_blobs, pa.binary()),
                "dhash": pa.array(webp_hashes, pa.int64()),
            }
        ),
        os.path.join(FIXDIR, "phash_pairs_webp.parquet"),
    )
    wav_blobs = [planted_audio_blob(i) for i in range(N_ROWS)]
    wav_hashes = [media_hash(b)[1] for b in wav_blobs]
    assert all(h is not None for h in wav_hashes)
    pq.write_table(
        pa.table(
            {
                "media_id": pa.array(range(N_ROWS), pa.int64()),
                "blob": pa.array(wav_blobs, pa.binary()),
                "ahash": pa.array(wav_hashes, pa.int64()),
            }
        ),
        os.path.join(FIXDIR, "phash_pairs_audio.parquet"),
    )
    print(f"wrote 3 × {N_ROWS}-row fixtures to {FIXDIR}")


if __name__ == "__main__":
    main()
