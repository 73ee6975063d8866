"""Media queries: image, audio and video perceptual-hash near-dups,
the partial-duplicate span triad (image tiles, audio windows, video
frames), codec/format audits, thumbnails and resamples.  Decoding is
a Python codec boundary, so each entry reads a committed fixture
(tests/fixtures, pytest-locked against the real codecs) and its
DuckDB oracle replays the integer hash arithmetic over it; the
``planted_*`` / ``*_hash_rows`` helpers regenerate those fixtures."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from prod2vec_spark.operators.phash import UNIT_ID_BASE
from prod2vec_spark.queries.common import (
    _audio_fixture_path,
    _image_fixture_path,
    _media_format_fixture_path,
    _phash_pair_fixture,
    _video_frames_fixture_path,
    _video_vhash_fixture_path,
    fixture_path,
    register,
)
from prod2vec_spark.sources.io import read_table


def q_phash_neardup(spark, sf_dir):
    """Image perceptual-hash near-dup, fully oracled via the
    fixture-split protocol (the image_span_audit / media_format_audit
    precedent: the decode/hash stage is a Python codec boundary).

    The planted corpus (tests/fixtures/phash_pairs_images.parquet —
    regenerate with tools/gen_phash_pair_fixture.py) carries the SAME
    deterministic 40-family PNGs an in-query renderer once
    produced, plus a golden dhash column pytest-locked against the
    real codec.  Spark RECOMPUTES the dHash from the raw blobs through
    the real stdlib-PNG decode (operators/phash.media_hashes, one
    Arrow-batched scan) and runs the banded-Hamming candidate join +
    bit_count verify; the DuckDB twin replays the banding over the
    PERSISTED goldens — codec drift fails the driver-style hash
    compare.  ``same_family`` keeps the entry self-auditing: pytest
    asserts it is 1 on every pair and that all within-family pairs
    surface (pigeonhole recall)."""
    from prod2vec_spark.operators import phash as PH
    from prod2vec_spark.sources.io import spread_scan

    # spread=False: docs is only the semi-join id probe here — the
    # blob table below is what needs the parallelism floor (the PNG
    # decode is the per-row cost, guide §2.5/§4)
    docs = read_table(spark, sf_dir, "documents", spread=False).select(
        "doc_id"
    )
    media = spread_scan(
        spark.read.parquet(_phash_pair_fixture("images"))
        .join(docs, F.col("media_id") == F.col("doc_id"), "leftsemi")
        .select("media_id", "blob")
    )
    hashes = PH.media_hashes(media).select(
        "media_id", F.col("mhash").alias("dhash")
    )
    pairs = PH.phash_neardup(hashes, max_distance=3)
    return pairs.select(
        "id_a",
        "id_b",
        "hamming",
        ((F.col("id_a") % 40) == (F.col("id_b") % 40)).cast("bigint").alias(
            "same_family"
        ),
    )


def q_audio_neardup(spark, sf_dir):
    """Audio-fingerprint near-dup, fully oracled via the fixture-split
    protocol — the audio twin of q_phash_neardup (same corpus recipe:
    40 planted families of 1040-sample PCM16 clips with one-sample
    glitches, persisted with golden ahash columns pytest-locked
    against the real codec; tests/fixtures/phash_pairs_audio.parquet,
    regenerate with tools/gen_phash_pair_fixture.py).  Spark
    RECOMPUTES the gain-invariant energy-gradient fingerprint from
    the raw WAV blobs (operators/phash.media_hashes) and runs the
    banded-Hamming join; the DuckDB twin replays the banding over the
    persisted goldens."""
    from prod2vec_spark.operators import phash as PH
    from prod2vec_spark.sources.io import spread_scan

    # spread=False on docs / spread_scan on the blobs: the WAV decode
    # is the per-row cost (see q_phash_neardup)
    docs = read_table(spark, sf_dir, "documents", spread=False).select(
        "doc_id"
    )
    media = spread_scan(
        spark.read.parquet(_phash_pair_fixture("audio"))
        .join(docs, F.col("media_id") == F.col("doc_id"), "leftsemi")
        .select("media_id", "blob")
    )
    hashes = PH.media_hashes(media).select(
        "media_id", F.col("mhash").alias("ahash")
    )
    pairs = PH.phash_neardup(hashes, hash_col="ahash", max_distance=3)
    return pairs.select(
        "id_a",
        "id_b",
        "hamming",
        ((F.col("id_a") % 40) == (F.col("id_b") % 40)).cast("bigint").alias(
            "same_family"
        ),
    )


def _sql_pair_neardup(name: str, hash_col: str) -> str:
    """DuckDB twin of the banded-Hamming near-dup over the persisted
    golden hashes: the image_span_audit replay (4 disjoint 16-bit
    slices by shift+mask — arithmetic vs logical shift neutralised by
    the mask), DISTINCT slice-equality candidates, XOR bit_count
    verify at distance ≤ 3, the same same_family self-audit column."""
    path = _phash_pair_fixture(name)
    return f"""
WITH t AS (
  SELECT media_id, {hash_col} AS h
  FROM read_parquet('{path}')
  WHERE media_id IN (SELECT doc_id FROM documents)
),
sig AS (
  SELECT media_id, h, band, (h >> (band * 16)) & 65535 AS slice
  FROM t CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b
),
cand AS (
  SELECT DISTINCT a.media_id AS ia, a.h AS ha, b.media_id AS ib, b.h AS hb
  FROM sig a JOIN sig b ON a.band = b.band AND a.slice = b.slice
   AND a.media_id < b.media_id
)
SELECT ia AS id_a, ib AS id_b,
       CAST(bit_count(xor(ha, hb)) AS INT) AS hamming,
       CAST(CASE WHEN ia % 40 = ib % 40 THEN 1 ELSE 0 END AS BIGINT)
         AS same_family
FROM cand
WHERE bit_count(xor(ha, hb)) <= 3
"""


register(q_phash_neardup, _sql_pair_neardup('images', 'dhash'))
register(q_audio_neardup, _sql_pair_neardup('audio', 'ahash'))


def planted_clip(doc_id: int) -> bytes:
    """The deterministic planted video corpus, one clip per doc id: a
    4-frame 16×16 grayscale AVI whose frames are md5-expanded from the
    family id (doc_id % 40), plus a one-pixel single-frame edit per
    member (doc_id // 40) — 40 families of near-identical clips.
    Shared by the persisted-hash fixture generator
    (tools/gen_video_hash_fixture.py), the pytest-golden codec gate,
    and the distributed render below."""
    from prod2vec_spark.operators.multimodal import encode_avi_gray8

    fam, member = int(doc_id) % 40, int(doc_id) // 40
    frames = [
        bytearray(
            b"".join(
                hashlib.md5(f"vid{fam}|{t}|{k}".encode()).digest()
                for k in range(16)
            )
        )
        for t in range(4)
    ]
    if member:
        pos = (member * 41) % 256
        f = frames[member % 4]
        f[pos] = (f[pos] + 1) % 256
    return encode_avi_gray8([bytes(f) for f in frames], 16, 16)


def rendered_video_hashes(spark, doc_ids):
    """(media_id, vhash) via the REAL codec chain: mapInPandas render
    (encode_avi_gray8) → mapInPandas keyframe-mean dHash (stdlib AVI
    decode, operators/phash.media_hashes).  The pytest-golden gate runs
    this against the persisted fixture so the codec boundary stays
    verified even though the driver entry reads the fixture."""
    from typing import Iterator

    import pandas as pd

    from prod2vec_spark.operators import phash as PH

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = [planted_clip(i) for i in pdf["doc_id"]]
            yield pd.DataFrame({"media_id": pdf["doc_id"], "blob": blobs})

    media = doc_ids.mapInPandas(render, schema="media_id long, blob binary")
    return PH.media_hashes(media).select(
        "media_id", F.col("mhash").alias("vhash")
    )


def q_video_neardup(spark, sf_dir):
    """Video near-dup pairs — the banded-Hamming candidate join +
    bit_count verify plane over the PERSISTED per-clip hash table
    (tests/fixtures/video_vhash.parquet, doc_id → keyframe-mean dHash
    of the planted clip corpus; regenerate with
    tools/gen_video_hash_fixture.py).

    The split: the codec/hash half is a
    pytest-golden boundary (``rendered_video_hashes`` must reproduce
    the fixture bit-for-bit, tests/test_video.py), while THIS entry —
    pure integer SQL: band slices by shift+mask, pair expansion,
    XOR bit_count — carries a full DuckDB oracle, restoring the
    driver's 50/50 rows+schema+hash signal with video-family
    coverage intact.  ``same_family`` keeps the entry self-auditing:
    pytest asserts it is 1 on every pair and that all within-family
    pairs surface (pigeonhole recall)."""
    from prod2vec_spark.operators import phash as PH

    docs = read_table(spark, sf_dir, "documents", spread=False).select("doc_id")
    hashes = (
        spark.read.parquet(_video_vhash_fixture_path())
        .join(docs, "doc_id", "leftsemi")
        .select(F.col("doc_id").alias("media_id"), "vhash")
    )
    pairs = PH.phash_neardup(hashes, hash_col="vhash", max_distance=3)
    return pairs.select(
        "id_a",
        "id_b",
        "hamming",
        ((F.col("id_a") % 40) == (F.col("id_b") % 40)).cast("bigint").alias(
            "same_family"
        ),
    )


def _sql_video_neardup() -> str:
    """DuckDB twin of the banded-Hamming plane over the persisted hash
    table: 4 disjoint 16-bit slices by shift+mask (arithmetic vs
    logical shift is neutralised by the mask), slice-equality
    candidate join, XOR bit_count verify — byte-identical semantics
    to operators/phash.phash_neardup at bands=4, max_distance=3."""
    path = _video_vhash_fixture_path()
    return f"""
WITH h AS (
  SELECT v.doc_id AS media_id, v.vhash
  FROM read_parquet('{path}') v
  WHERE v.vhash IS NOT NULL
    AND v.doc_id IN (SELECT doc_id FROM documents)
),
sig AS (
  SELECT media_id, vhash, band, (vhash >> (band * 16)) & 65535 AS slice
  FROM h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b
),
cand AS (
  SELECT DISTINCT a.media_id AS id_a, a.vhash AS ha,
                  b.media_id AS id_b, b.vhash AS hb
  FROM sig a JOIN sig b
    ON a.band = b.band AND a.slice = b.slice AND a.media_id < b.media_id
)
SELECT id_a, id_b,
       CAST(bit_count(xor(ha, hb)) AS INT) AS hamming,
       CAST(CASE WHEN id_a % 40 = id_b % 40 THEN 1 ELSE 0 END AS BIGINT)
         AS same_family
FROM cand
WHERE bit_count(xor(ha, hb)) <= 3
"""


register(q_video_neardup, _sql_video_neardup())


IMG_W = IMG_H = 48
TILE_PX, STRIDE = 16, 8
MIN_SHARED = 4


def planted_image(doc_id: int) -> bytes:
    """Deterministic planted image corpus, one PNG per doc id (module
    docstring).  Shared by the fixture generator
    (tools/gen_image_tile_fixture.py), the pytest-golden codec gate,
    and the distributed render."""
    import numpy as np

    from prod2vec_spark.operators.multimodal import encode_png_gray8

    fam, member = int(doc_id) // 2, int(doc_id) % 2
    base = np.frombuffer(
        b"".join(
            hashlib.md5(f"img{fam}|{r}".encode()).digest()
            for r in range(IMG_W * IMG_H // 16)
        ),
        dtype=np.uint8,
    ).reshape(IMG_H, IMG_W)
    if member == 0:
        a = base
    elif fam % 3 == 0:
        a = base[16:, 16:]
    elif fam % 3 == 1:
        a = np.vstack(
            [
                np.zeros((16, IMG_W), np.uint8),
                base,
                np.zeros((16, IMG_W), np.uint8),
            ]
        )
    else:
        a = base[8:, 8:]
    h, w = a.shape
    return encode_png_gray8(np.ascontiguousarray(a).tobytes(), w, h)


def tile_hash_rows(doc_id: int) -> list[tuple[int, int, int]]:
    """[(doc_id, tile_idx, thash)] for one planted image through the
    REAL codec chain (PNG encode → image_gray decode → tile dHash) —
    the single recipe the fixture generator and the golden gate
    share."""
    from prod2vec_spark.operators.phash import image_gray, tile_rows_py

    g = image_gray(planted_image(doc_id))
    return [
        (int(doc_id), idx, th)
        for _, _, idx, th in tile_rows_py(g, TILE_PX, STRIDE, doc_id)
    ]


def rendered_tile_hashes(spark, doc_ids):
    """(doc_id, tile_idx, thash) via the distributed codec chain
    (mapInPandas render → image_tile_hashes) — the pytest-golden gate
    runs this against the persisted fixture so the codec boundary
    stays verified even though the query reads the fixture."""
    from typing import Iterator

    import pandas as pd

    from prod2vec_spark.operators.phash import image_tile_hashes

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "blob": [planted_image(i) for i in pdf["doc_id"]],
                }
            )

    media = doc_ids.mapInPandas(render, schema="media_id long, blob binary")
    return image_tile_hashes(media, tile_px=TILE_PX, stride=STRIDE).select(
        F.col("media_id").alias("doc_id"), "tile_idx", "thash"
    )


_SPAN_MAX_GROUP = 256  # the hot-bucket valve, ON in the driver entry:
# letterbox bar-straddling tiles zero out half their gradient bands, so
# (band, slice=0) buckets grow with the CORPUS (measured 4,165 tiles at
# sf0.1 → ~35M candidate pairs → 19 s) while family buckets stay
# family-sized.  Capping loses no aligned-duplicate pair (the pigeonhole
# argument in phash.span_pairs' docstring) and is replayed EXACTLY by
# the oracle.


def _with_same_family(pairs):
    """The span audits' self-audit column: ``same_family`` = 1 iff
    both ids belong to one planted family (doc_id // 2)."""
    return pairs.withColumn(
        "same_family",
        (F.floor(F.col("id_a") / 2) == F.floor(F.col("id_b") / 2)).cast("bigint"),
    )


def q_image_span_audit(spark, sf_dir):
    """Partial-image duplicate pairs over the PERSISTED per-tile hash
    table: composite tile ids (doc·10⁶ + tile_idx) → the banded-
    Hamming plane (phash_neardup: 4×16-bit slices, pigeonhole recall 1
    at distance ≤3, hot buckets capped at _SPAN_MAX_GROUP — the
    operator's own 100 TB valve, exercised by the driver entry) →
    same-image pairs dropped → matched-tile count per image pair ≥
    MIN_SHARED.  ``same_family`` (doc_id//2 equality) keeps the entry
    self-auditing: pytest asserts it is 1 on every pair and that every
    planted family is recovered."""
    from prod2vec_spark.operators import phash as PH

    docs = read_table(spark, sf_dir, "documents", spread=False).select("doc_id")
    tiles = spark.read.parquet(_image_fixture_path()).join(docs, "doc_id", "leftsemi")
    return _with_same_family(
        PH.span_pairs_from_units(
            PH.IMAGE_PLANE, tiles, min_shared=MIN_SHARED, max_distance=3,
            max_group=_SPAN_MAX_GROUP, id_col="doc_id",
        )
    )


def _sql_image_span_audit() -> str:
    """DuckDB twin: identical composite-id banding (4 disjoint 16-bit
    slices by shift+mask — arithmetic vs logical shift neutralised by
    the mask), the SAME _SPAN_MAX_GROUP hot-bucket cap on the banded
    groups, slice-equality candidate join with DISTINCT tile pairs,
    XOR bit_count verify, image-pair rollup with the same MIN_SHARED
    cut."""
    path = _image_fixture_path()
    return f"""
WITH t AS (
  SELECT v.doc_id * {UNIT_ID_BASE} + v.tile_idx AS tid, v.thash
  FROM read_parquet('{path}') v
  WHERE v.doc_id IN (SELECT doc_id FROM documents)
),
sig AS (
  SELECT tid, thash, band, (thash >> (band * 16)) & 65535 AS slice
  FROM t CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b
),
ok AS (
  SELECT band, slice FROM sig GROUP BY 1, 2
  HAVING count(*) <= {_SPAN_MAX_GROUP}
),
cand AS (
  SELECT DISTINCT a.tid AS ta, a.thash AS ha, b.tid AS tb, b.thash AS hb
  FROM sig a JOIN sig b
    ON a.band = b.band AND a.slice = b.slice AND a.tid < b.tid
  JOIN ok ON ok.band = a.band AND ok.slice = a.slice
),
tile_pairs AS (
  SELECT ta // {UNIT_ID_BASE} AS ia, tb // {UNIT_ID_BASE} AS ib
  FROM cand
  WHERE bit_count(xor(ha, hb)) <= 3
    AND ta // {UNIT_ID_BASE} <> tb // {UNIT_ID_BASE}
)
SELECT LEAST(ia, ib) AS id_a, GREATEST(ia, ib) AS id_b,
       CAST(COUNT(*) AS INT) AS n_shared_tiles,
       CAST(CASE WHEN LEAST(ia, ib) // 2 = GREATEST(ia, ib) // 2
                 THEN 1 ELSE 0 END AS BIGINT) AS same_family
FROM tile_pairs
GROUP BY 1, 2
HAVING COUNT(*) >= {MIN_SHARED}
"""


register(q_image_span_audit, _sql_image_span_audit())


AUDIO_RATE = 4000
WINDOW_MS, HOP_MS = 500, 250
AUDIO_MIN_SHARED = 3


def planted_audio_sig(tag: str, n: int) -> list[int]:
    """Deterministic strong-margin signal (module docstring), seeded
    from md5 of ``tag`` — shared by the fixture generator, the
    pytest-golden codec gate, and the distributed render."""
    import numpy as np

    steps = n // 40 + 1
    raw = b"".join(
        hashlib.md5(f"{tag}|{k}".encode()).digest()
        for k in range(steps // 4 + 1)
    )
    u = np.frombuffer(raw, dtype=np.uint8)[:steps].astype(np.float64) / 255.0
    lv = np.exp(np.log(300) + u * (np.log(9000) - np.log(300)))
    env = np.repeat(lv, 40)[:n]
    ph = int(hashlib.md5(f"{tag}|ph".encode()).hexdigest(), 16) % 628 / 100.0
    carrier = np.sign(
        np.sin(2 * np.pi * 440 * np.arange(n) / AUDIO_RATE + ph)
    )
    carrier[carrier == 0] = 1.0
    return (env * carrier).astype(int).clip(-30000, 30000).tolist()


def planted_audio(doc_id: int) -> bytes:
    """One WAV blob per doc id: even = standalone PCM jingle, odd =
    ADPCM host with the family jingle embedded hop-aligned."""
    from prod2vec_spark.operators.multimodal import (
        encode_wav_adpcm,
        encode_wav_pcm16,
    )

    fam, member = int(doc_id) // 2, int(doc_id) % 2
    jingle = planted_audio_sig(f"jin{fam}", 2 * AUDIO_RATE)
    if member == 0:
        return encode_wav_pcm16(jingle, AUDIO_RATE)
    off_hops = (2, 4, 1)[fam % 3]  # hop-aligned insertion offset
    pre = planted_audio_sig(
        f"pre{fam}", off_hops * AUDIO_RATE * HOP_MS // 1000
    )
    post = planted_audio_sig(f"post{fam}", AUDIO_RATE)
    return encode_wav_adpcm(pre + jingle + post, AUDIO_RATE)


def window_hash_rows(doc_id: int) -> list[tuple[int, int, int]]:
    """[(doc_id, win_idx, whash)] for one planted clip through the
    REAL codec chain (WAV encode → audio_mono decode → window hash) —
    the single recipe the fixture generator and the golden gate
    share."""
    from prod2vec_spark.operators.phash import audio_mono, window_rows_py

    a, rate = audio_mono(planted_audio(doc_id))
    return [
        (int(doc_id), wi, wh)
        for wi, wh in window_rows_py(a, rate, WINDOW_MS, HOP_MS, doc_id)
    ]


def rendered_window_hashes(spark, doc_ids):
    """(doc_id, win_idx, whash) via the distributed codec chain
    (mapInPandas render → audio_window_hashes) — the pytest-golden
    gate runs this against the persisted fixture so the codec boundary
    stays verified even though the query reads the fixture."""
    from typing import Iterator

    import pandas as pd

    from prod2vec_spark.operators.phash import audio_window_hashes

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "blob": [planted_audio(i) for i in pdf["doc_id"]],
                }
            )

    media = doc_ids.mapInPandas(render, schema="media_id long, blob binary")
    return audio_window_hashes(
        media, window_ms=WINDOW_MS, hop_ms=HOP_MS
    ).select(F.col("media_id").alias("doc_id"), "win_idx", "whash")


def q_audio_span_audit(spark, sf_dir):
    """Partial-audio duplicate pairs over the PERSISTED per-window
    hash table: composite window ids (doc·10⁶ + win_idx) → the banded-
    Hamming plane (phash_neardup: 4×16-bit slices, pigeonhole recall 1
    at distance ≤3) → same-clip pairs dropped → matched-window count
    per clip pair ≥ AUDIO_MIN_SHARED.  ``same_family`` (doc_id//2
    equality) keeps the entry self-auditing: pytest asserts it is 1 on
    every pair and that every planted family is recovered."""
    from prod2vec_spark.operators import phash as PH

    docs = read_table(spark, sf_dir, "documents", spread=False).select("doc_id")
    wins = spark.read.parquet(_audio_fixture_path()).join(docs, "doc_id", "leftsemi")
    return _with_same_family(
        PH.span_pairs_from_units(
            PH.AUDIO_PLANE, wins, min_shared=AUDIO_MIN_SHARED, max_distance=3,
            id_col="doc_id",
        )
    )


def _sql_audio_span_audit() -> str:
    """DuckDB twin: identical composite-id banding (4 disjoint 16-bit
    slices by shift+mask), slice-equality candidate join with DISTINCT
    window pairs, XOR bit_count verify, clip-pair rollup with the same
    AUDIO_MIN_SHARED cut."""
    path = _audio_fixture_path()
    return f"""
WITH t AS (
  SELECT v.doc_id * {UNIT_ID_BASE} + v.win_idx AS wid, v.whash
  FROM read_parquet('{path}') v
  WHERE v.doc_id IN (SELECT doc_id FROM documents)
),
sig AS (
  SELECT wid, whash, band, (whash >> (band * 16)) & 65535 AS slice
  FROM t CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b
),
cand AS (
  SELECT DISTINCT a.wid AS wa, a.whash AS ha, b.wid AS wb, b.whash AS hb
  FROM sig a JOIN sig b
    ON a.band = b.band AND a.slice = b.slice AND a.wid < b.wid
),
win_pairs AS (
  SELECT wa // {UNIT_ID_BASE} AS ca, wb // {UNIT_ID_BASE} AS cb
  FROM cand
  WHERE bit_count(xor(ha, hb)) <= 3
    AND wa // {UNIT_ID_BASE} <> wb // {UNIT_ID_BASE}
)
SELECT LEAST(ca, cb) AS id_a, GREATEST(ca, cb) AS id_b,
       CAST(COUNT(*) AS INT) AS n_shared_windows,
       CAST(CASE WHEN LEAST(ca, cb) // 2 = GREATEST(ca, cb) // 2
                 THEN 1 ELSE 0 END AS BIGINT) AS same_family
FROM win_pairs
GROUP BY 1, 2
HAVING COUNT(*) >= {AUDIO_MIN_SHARED}
"""


register(q_audio_span_audit, _sql_audio_span_audit())


# ----------------------------------------- video span audit (frames)
# The span triad's FRAME leg gets the same oracled fixture split as
# its tile and window siblings (image_span_audit / audio_span_audit),
# so all three planes carry full DuckDB verdicts.  Planted corpus:
# fam = doc_id // 2; the even member is a 6-frame md5-noise "scene"
# clip, the odd member embeds those SAME frames inside unrelated
# lead-in/lead-out frames — whole-clip keyframe-mean hashes diverge,
# but the per-frame dHashes are BIT-IDENTICAL (raw gray8 AVI both
# sides; the lossy MJPEG crossing is pytest-locked elsewhere,
# tests/test_cross_codec.py).  Unlike tiles/windows the frame plane
# needs no alignment: the banded join pairs similar frames at ANY
# temporal offset.
VID_W, VID_H = 32, 24
VID_FPS = 4
VID_EVERY_MS = 250  # sample every frame: idx = ts*fps/1000 walks 0..n-1
VID_MIN_SHARED = 4


def _video_frame(tag: str) -> bytes:
    """One deterministic md5-noise gray frame (full-entropy dHash)."""
    import numpy as np

    raw = b"".join(
        hashlib.md5(f"{tag}|{k}".encode()).digest()
        for k in range(VID_W * VID_H // 16)
    )
    return np.frombuffer(raw, dtype=np.uint8)[: VID_W * VID_H].tobytes()


def planted_video(doc_id: int) -> bytes:
    """One raw gray8 AVI per doc id: even = the 6-frame scene, odd =
    4 unrelated frames + the SAME scene + 3 unrelated frames."""
    from prod2vec_spark.operators.multimodal import encode_avi_gray8

    fam, member = int(doc_id) // 2, int(doc_id) % 2
    scene = [_video_frame(f"sc{fam}|{k}") for k in range(6)]
    if member == 0:
        frames = scene
    else:
        pre = [_video_frame(f"pre{fam}|{k}") for k in range(4)]
        post = [_video_frame(f"post{fam}|{k}") for k in range(3)]
        frames = pre + scene + post
    return encode_avi_gray8(frames, VID_W, VID_H, fps=VID_FPS)


def frame_hash_rows(doc_id: int) -> list[tuple[int, int, int]]:
    """[(doc_id, frame_idx, fhash)] through the REAL codec chain
    (AVI encode → decode → per-frame dHash, frame_hashes' per-clip
    recipe ``clip_frame_hashes``; every frame at this fps/every_ms
    pairing) — the single recipe the fixture generator and the golden
    gate share."""
    from prod2vec_spark.operators.phash import clip_frame_hashes

    return [
        (int(doc_id), idx, fh)
        for _, idx, fh in clip_frame_hashes(
            doc_id, planted_video(doc_id), VID_EVERY_MS
        )
    ]


def rendered_frame_hashes(spark, doc_ids):
    """(doc_id, frame_idx, fhash) via the distributed codec chain
    (mapInPandas render → phash.frame_hashes) — the pytest-golden
    gate."""
    from typing import Iterator

    import pandas as pd

    from prod2vec_spark.operators.phash import frame_hashes

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "blob": [planted_video(i) for i in pdf["doc_id"]],
                }
            )

    media = doc_ids.mapInPandas(render, schema="media_id long, blob binary")
    return frame_hashes(media, every_ms=VID_EVERY_MS).select(
        F.col("media_id").alias("doc_id"), "frame_idx", "fhash"
    )


def q_video_span_audit(spark, sf_dir):
    """Shared-scene clip pairs over the PERSISTED per-frame hash
    table: composite frame ids (doc·10⁶ + frame_idx) → the banded-
    Hamming plane → same-clip pairs dropped → matched-frame count per
    clip pair ≥ VID_MIN_SHARED, with the ``same_family`` self-audit
    column (the image/audio protocol, frame edition)."""
    from prod2vec_spark.operators import phash as PH

    docs = read_table(spark, sf_dir, "documents", spread=False).select("doc_id")
    frames = spark.read.parquet(_video_frames_fixture_path()).join(
        docs, "doc_id", "leftsemi"
    )
    return _with_same_family(
        PH.span_pairs_from_units(
            PH.VIDEO_PLANE, frames, min_shared=VID_MIN_SHARED, max_distance=3,
            id_col="doc_id",
        )
    )


def _sql_video_span_audit() -> str:
    """DuckDB twin — the audio_span_audit SQL with frame naming."""
    path = _video_frames_fixture_path()
    return f"""
WITH t AS (
  SELECT v.doc_id * {UNIT_ID_BASE} + v.frame_idx AS fid, v.fhash
  FROM read_parquet('{path}') v
  WHERE v.doc_id IN (SELECT doc_id FROM documents)
),
sig AS (
  SELECT fid, fhash, band, (fhash >> (band * 16)) & 65535 AS slice
  FROM t CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b
),
cand AS (
  SELECT DISTINCT a.fid AS fa, a.fhash AS ha, b.fid AS fb, b.fhash AS hb
  FROM sig a JOIN sig b
    ON a.band = b.band AND a.slice = b.slice AND a.fid < b.fid
),
frame_pairs AS (
  SELECT fa // {UNIT_ID_BASE} AS ca, fb // {UNIT_ID_BASE} AS cb
  FROM cand
  WHERE bit_count(xor(ha, hb)) <= 3
    AND fa // {UNIT_ID_BASE} <> fb // {UNIT_ID_BASE}
)
SELECT LEAST(ca, cb) AS id_a, GREATEST(ca, cb) AS id_b,
       CAST(COUNT(*) AS INT) AS n_shared_frames,
       CAST(CASE WHEN LEAST(ca, cb) // 2 = GREATEST(ca, cb) // 2
                 THEN 1 ELSE 0 END AS BIGINT) AS same_family
FROM frame_pairs
GROUP BY 1, 2
HAVING COUNT(*) >= {VID_MIN_SHARED}
"""


register(q_video_span_audit, _sql_video_span_audit())


def q_media_format_audit(spark, sf_dir):
    """Per-(format, status) counts over the planted mixed-format blob
    corpus (tests/fixtures/media_formats.parquet — valid PNG/JPEG
    baseline+progressive/GIF/animated-GIF/WAV PCM+ADPCM/AVI, truncated
    corruption, WebP and arithmetic-JPEG unsupported boundaries,
    unknown magic; regenerate with tools/gen_media_format_fixture.py).

    The golden-fixture split (the video_neardup protocol): Spark
    RECOMPUTES (fmt, status) from the raw blobs through the real
    sniff+decode door (operators/multimodal.decode_blob, one
    Arrow-batched scan); the DuckDB twin aggregates the PERSISTED
    golden columns, themselves pytest-locked against the classifier —
    so classifier drift fails the driver's hash compare, and the
    codec boundary's blind spot (the unsupported_format share) is a
    driver-checked number."""
    from prod2vec_spark.operators.multimodal import media_format_audit

    # raw scans on both sides: the fixture is a small bounded blob set
    # and one Arrow-batched classify pass over it is cheaper than the
    # floor repartition that would shuffle every blob first
    docs = read_table(spark, sf_dir, "documents", spread=False).select(
        F.col("doc_id").alias("media_id")
    )
    media = (
        spark.read.parquet(_media_format_fixture_path())
        .join(docs, "media_id", "leftsemi")
        .select("media_id", "blob")
    )
    return media_format_audit(media)


def _sql_media_format_audit() -> str:
    path = _media_format_fixture_path()
    return f"""
SELECT fmt, status, count(*) AS n
FROM read_parquet('{path}')
WHERE media_id IN (SELECT doc_id FROM documents)
GROUP BY fmt, status
"""


register(q_media_format_audit, _sql_media_format_audit())


def q_webp_crosscodec_neardup(spark, sf_dir):
    """PNG↔WebP cross-codec near-dup pairs over the planted families:
    one mixed-blob frame → media_hashes (sniff + decode + dHash, one
    Arrow-batched scan) → banded-Hamming candidates → bit_count
    verify.  Output per pair: composite ids, hamming, cross_codec
    (codec sides differ), same_family (planted family agreement —
    the self-audit column, pytest-asserted 1 on every pair)."""
    from prod2vec_spark.operators import phash as PH
    from prod2vec_spark.sources.io import spread_scan

    # spread=False on docs / spread_scan on the mixed-blob frame: the
    # PNG+VP8L decode is the per-row cost (guide §2.5/§4)
    docs = read_table(spark, sf_dir, "documents", spread=False).select(
        "doc_id"
    )
    png = (
        spark.read.parquet(_phash_pair_fixture("images"))
        .join(docs, F.col("media_id") == F.col("doc_id"), "leftsemi")
        .select((F.col("media_id") * 2).alias("media_id"), "blob")
    )
    webp = (
        spark.read.parquet(_phash_pair_fixture("webp"))
        .join(docs, F.col("media_id") == F.col("doc_id"), "leftsemi")
        .select((F.col("media_id") * 2 + 1).alias("media_id"), "blob")
    )
    hashes = PH.media_hashes(spread_scan(png.unionByName(webp))).select(
        "media_id", "mhash"
    )
    pairs = PH.phash_neardup(hashes, hash_col="mhash", max_distance=3)
    return pairs.select(
        "id_a",
        "id_b",
        "hamming",
        (F.col("id_a") % 2 != F.col("id_b") % 2).cast("bigint").alias(
            "cross_codec"
        ),
        (
            F.floor(F.col("id_a") / 2) % 40 == F.floor(F.col("id_b") / 2) % 40
        ).cast("bigint").alias("same_family"),
    )


def _sql_webp_crosscodec_neardup() -> str:
    png, webp = _phash_pair_fixture("images"), _phash_pair_fixture("webp")
    return f"""
WITH t AS (
  SELECT media_id * 2 AS mid, dhash AS h FROM read_parquet('{png}')
  WHERE media_id IN (SELECT doc_id FROM documents)
  UNION ALL
  SELECT media_id * 2 + 1 AS mid, dhash AS h FROM read_parquet('{webp}')
  WHERE media_id IN (SELECT doc_id FROM documents)
),
sig AS (
  SELECT mid, h, band, (h >> (band * 16)) & 65535 AS slice
  FROM t CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b
),
cand AS (
  SELECT DISTINCT a.mid AS ia, a.h AS ha, b.mid AS ib, b.h AS hb
  FROM sig a JOIN sig b ON a.band = b.band AND a.slice = b.slice
   AND a.mid < b.mid
)
SELECT ia AS id_a, ib AS id_b,
       CAST(bit_count(xor(ha, hb)) AS INT) AS hamming,
       CAST(CASE WHEN ia % 2 <> ib % 2 THEN 1 ELSE 0 END AS BIGINT)
         AS cross_codec,
       CAST(CASE WHEN (ia // 2) % 40 = (ib // 2) % 40
                 THEN 1 ELSE 0 END AS BIGINT) AS same_family
FROM cand
WHERE bit_count(xor(ha, hb)) <= 3
"""


register(q_webp_crosscodec_neardup, _sql_webp_crosscodec_neardup())


def q_thumbnail_audit(spark, sf_dir):
    """The 'resize' operator certified end-to-end: recompute
    8×8 grayscale thumbnails from the planted corpus's raw blobs
    through the REAL chain (shared decode door → dHash-geometry
    area-resize → gray8 PNG re-encode, operators/multimodal.
    image_thumbnails) and emit md5(thumb) + source metadata; the
    DuckDB twin reads the pytest-locked goldens
    (tests/fixtures/thumb_goldens.parquet, tools/
    gen_thumb_golden_fixture.py) — drift anywhere in the
    decode/resize/encode chain fails the hash compare."""
    from prod2vec_spark.operators.multimodal import image_thumbnails
    from prod2vec_spark.sources.io import spread_scan

    # spread=False on docs / spread_scan on the blobs: decode+resize+
    # re-encode is the per-row cost (guide §2.5/§4)
    docs = read_table(spark, sf_dir, "documents", spread=False).select(
        "doc_id"
    )
    media = spread_scan(
        spark.read.parquet(_phash_pair_fixture("images"))
        .join(docs, F.col("media_id") == F.col("doc_id"), "leftsemi")
        .select("media_id", "blob")
    )
    return image_thumbnails(media, 8, 8).select(
        "media_id",
        F.md5("thumb").alias("thumb_md5"),
        "src_width",
        "src_height",
        "src_format",
    )


def _sql_thumbnail_audit() -> str:
    path = fixture_path("thumb_goldens.parquet")
    return f"""
SELECT media_id, thumb_md5, src_width, src_height, src_format
FROM read_parquet('{path}')
WHERE media_id IN (SELECT doc_id FROM documents)
"""


register(q_thumbnail_audit, _sql_thumbnail_audit())


def q_resample_audit(spark, sf_dir):
    """The audio resample operator certified end-to-end (the
    thumbnail_audit protocol, audio side): recompute 16 kHz resamples
    from the planted corpus's raw WAV blobs through the REAL chain
    (shared sample door → linear grid → half-away int16 → PCM16
    re-encode, operators/multimodal.audio_resample) and emit
    md5(resampled) + source metadata; the DuckDB twin reads the
    pytest-locked goldens (tools/gen_resample_golden_fixture.py)."""
    from prod2vec_spark.operators.multimodal import audio_resample

    docs = read_table(spark, sf_dir, "documents", spread=False).select("doc_id")
    media = (
        spark.read.parquet(_phash_pair_fixture("audio"))
        .join(docs, F.col("media_id") == F.col("doc_id"), "leftsemi")
        .select("media_id", "blob")
    )
    return audio_resample(media, 16000).select(
        "media_id",
        F.md5("resampled").alias("res_md5"),
        "src_rate",
        "src_samples",
    )


def _sql_resample_audit() -> str:
    path = fixture_path("resample_goldens.parquet")
    return f"""
SELECT media_id, res_md5, src_rate, src_samples
FROM read_parquet('{path}')
WHERE media_id IN (SELECT doc_id FROM documents)
"""


register(q_resample_audit, _sql_resample_audit())
