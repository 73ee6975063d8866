"""Perceptual-hash near-dup detection for image, audio AND video
blobs (ENGINE scope — the multimodal × dedup cross-plane: the
reference has no media surface; this is the standard dHash +
banded-Hamming recipe web-scale media pipelines use for
near-duplicate collapse, plus a gain-invariant energy-gradient
fingerprint for audio and a keyframe-mean dHash for video).

Three stages, each with the engine's 100 TB shape:

1. **Hash** (``media_hashes``) — Arrow-batched ``mapInPandas``: each
   blob goes once through ``multimodal.decode_blob`` (the one sniff +
   decode door) and ``media_hash`` hashes the record — dHash of the
   gray plane (grayscale → 9×8 area-average downsample → 64
   horizontal-gradient bits), the energy-gradient hash of the mono
   signal, or the keyframe-mean dHash of the frames.  Row-local, no
   shuffle; the blob never leaves the executor.  Undecodable blobs
   yield a NULL hash (auditable, not dropped silently).
2. **Banded candidate generation** (``phash_neardup``) — the 64-bit
   hash splits into ``bands`` disjoint slices; by pigeonhole, two
   hashes within Hamming distance d share at least one intact slice
   whenever d < bands, so 4 bands give RECALL = 1 for d ≤ 3 (the
   usual near-dup threshold).  Pure Column pipeline reusing the LSH
   group-expand shape: explode band structs → groupBy (band, slice)
   collect sorted (id, hash) lists → in-array i<j pair expansion —
   the shuffle carries 2-long keys + id lists, never pixels.
3. **Exact verify** — the hash value rides through the band groups
   next to the id, so every candidate pair row already carries both
   hashes: Hamming = bit_count(XOR) ≤ d is a row-local filter, no
   join back, and the (Python-codec) hash lineage evaluates exactly
   once (round-9 fix: the old join-back shape re-ran it 3×).

Stages 2 and 3 are written once (``_banded_verified_pairs``) and
serve every caller: whole-media pairs, the span planes and the
incremental probes.  The span planes — video frames, image tiles,
audio windows — differ only in their ``SpanPlane`` spec; each has a
batch leg (``span_pairs`` / ``span_pairs_from_units``), a persisted
band table (``span_signatures``: (media_id, unit, hash, band, slice)
rows) and an incremental probe against that table
(``incremental_span_pairs``).  Whole-media hashes have the same pair:
``media_signatures`` ((media_id, modality, band, slice, mhash) rows)
and ``incremental_media_pairs``.

Palette-type PNGs (color type 3) hash their palette indices — fine
for near-identical detection (same palette ⇒ same indices) but two
renderings of one image with permuted palettes won't match; bit
depths < 8 are rejected rather than mis-averaged.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from prod2vec_spark.operators.multimodal import (
    DecodedBlob,
    avi_frame_samples,
    decode_blob,
    sniff_format,
    sniff_modality,
)

HASH_BITS = 64
_GRID_H, _GRID_W = 8, 9  # 8 rows x 9 cols -> 8x8 horizontal gradients
_N_WINDOWS = 65  # audio energy windows -> 64 gradient bits


def _area_resize(g: np.ndarray, th: int, tw: int) -> np.ndarray:
    """Deterministic area-average downsample to (th, tw): cell (i, j)
    averages source rows floor(i·h/th)..floor((i+1)·h/th)−1 (≥1 row by
    construction when h ≥ th; smaller images repeat edge cells)."""
    h, w = g.shape
    rb = [(i * h) // th for i in range(th + 1)]
    cb = [(j * w) // tw for j in range(tw + 1)]
    out = np.empty((th, tw), dtype=np.float64)
    for i in range(th):
        r0, r1 = rb[i], max(rb[i + 1], rb[i] + 1)
        for j in range(tw):
            c0, c1 = cb[j], max(cb[j + 1], cb[j] + 1)
            out[i, j] = g[r0:r1, c0:c1].mean()
    return out


def dhash64(g: np.ndarray) -> int:
    """64-bit horizontal-gradient hash of a grayscale matrix: resize to
    8×9, bit (i·8 + j) set iff cell[i, j+1] > cell[i, j].  Returned as
    a SIGNED 64-bit int (Spark LongType bit pattern)."""
    small = _area_resize(g, _GRID_H, _GRID_W)
    bits = small[:, 1:] > small[:, :-1]  # (8, 8)
    v = 0
    for i in range(_GRID_H):
        for j in range(_GRID_W - 1):
            if bits[i, j]:
                v |= 1 << (i * 8 + j)
    return v - (1 << 64) if v >= (1 << 63) else v


def image_gray(blob) -> np.ndarray | None:
    """(height, width) float64 luminance of a decodable PNG (8-bit),
    JPEG (baseline or progressive), GIF or lossless-WebP blob, None
    otherwise — the image door of ``multimodal.decode_blob``.  The
    sniff gates the decode: a non-image blob is never decoded."""
    return decode_blob(blob).gray if sniff_modality(blob) == "image" else None


def ahash64(samples: np.ndarray) -> int | None:
    """64-bit audio fingerprint: temporal energy-gradient hash.  The
    mono signal splits into 65 equal windows; bit i is set iff
    window i+1 has higher mean-square energy than window i.  Gradient
    comparisons are invariant to uniform gain (energy scales by g²
    on both sides) — the property the tests lock.  None when the
    clip is shorter than 65 samples (no meaningful windows)."""
    n = samples.shape[0]
    if n < _N_WINDOWS:  # need >=1 sample per window
        return None
    bounds = [(k * n) // _N_WINDOWS for k in range(_N_WINDOWS + 1)]
    e = np.array(
        [
            float(np.mean(np.square(samples[bounds[k] : bounds[k + 1]])))
            for k in range(_N_WINDOWS)
        ]
    )
    v = 0
    for i in range(64):
        if e[i + 1] > e[i]:
            v |= 1 << i
    return v - (1 << 64) if v >= (1 << 63) else v


def audio_mono(blob) -> "tuple[np.ndarray, int] | None":
    """(channel-mean mono float64 signal, sample rate) of a decodable
    WAV blob — PCM 8/16/32-bit or IMA-ADPCM — None otherwise: the
    audio door of ``multimodal.decode_blob`` (the ``image_gray``
    analog).  The sniff gates the decode: a non-audio blob is never
    decoded."""
    return decode_blob(blob).audio if sniff_modality(blob) == "audio" else None


_VHASH_FRAMES = 8  # keyframes sampled per clip


def vhash64(frames: list[bytes], width: int, height: int) -> int | None:
    """64-bit video fingerprint: up to ``_VHASH_FRAMES`` evenly-spaced
    keyframes (always including first and last), per-pixel temporal
    mean → dHash of the mean frame.  Inherits dHash's gradient
    invariances (uniform brightness/contrast shifts), and the temporal
    mean makes single-frame edits perturb only a few bits — the same
    near-identical contract as the image plane.  None for empty
    clips."""
    n = len(frames)
    if n == 0:
        return None
    k = min(_VHASH_FRAMES, n)
    idxs = sorted({(i * (n - 1)) // (k - 1) if k > 1 else 0 for i in range(k)})
    stack = np.stack(
        [
            np.frombuffer(frames[i], dtype=np.uint8)
            .reshape(height, width)
            .astype(np.float64)
            for i in idxs
        ]
    )
    return dhash64(stack.mean(axis=0))


def _record_hash(d: DecodedBlob) -> int | None:
    """The whole-media hash of a decoded record: dHash of the gray
    plane, energy-gradient hash of the mono signal, keyframe-mean
    dHash of the frames; None when the record carries no payload."""
    if d.gray is not None:
        return dhash64(d.gray)
    if d.audio is not None:
        return ahash64(d.audio[0])
    if d.video is not None:
        frames, m = d.video
        return vhash64(frames, m["width"], m["height"])
    return None


def media_hash(blob) -> tuple[str | None, int | None]:
    """(modality, 64-bit hash) of one blob through ONE decode: dHash
    for PNG / JPEG / GIF / lossless WebP, the energy-gradient hash for
    WAV, the keyframe-mean dHash for AVI.  (modality, None) for a
    decodable container whose codec failed or whose payload is too
    small to hash, (None, None) for every other blob — the
    auditable-miss contract."""
    d = decode_blob(blob)
    return d.modality, _record_hash(d)


# composite unit id = media_id * UNIT_ID_BASE + unit_idx — the one id
# space of every span plane (frame_idx, tile_idx, win_idx)
UNIT_ID_BASE = 1_000_000


def _composite_id(id_col: str, idx_col, base: int):
    """id*base + idx as a guarded Column: raises LOUDLY when the owner
    id falls outside [0, 2^63/base).  SQL ``div`` truncates toward
    zero, so a NEGATIVE id's idx>0 composites would decompose to id+1
    (same-clip pairs then slip past the ca != cb filter), and
    |id| >= 2^63/base silently overflows the multiply — both the
    failure modes hash-derived full-range 64-bit ids hit (ADVICE r13).
    Remap such ids to a dense non-negative space first."""
    max_id = (1 << 63) // base  # exclusive
    i = F.col(id_col).cast("long")
    return F.when(
        (i < 0) | (i >= F.lit(max_id)),
        F.raise_error(
            F.concat(
                F.lit(
                    f"composite-id owner out of range [0, {max_id}): got "
                ),
                i.cast("string"),
                F.lit("; remap hash-derived ids to a dense space first"),
            )
        ).cast("long"),
    ).otherwise(i * F.lit(base) + idx_col)


def clip_frame_hashes(mid, blob, every_ms: int) -> list[tuple[int, int, int]]:
    """[(frame_ts_ms, frame_idx, fhash)] of one clip: dHash per
    distinct SAMPLED frame of an AVI (``avi_frame_samples``) or an
    ANIMATED GIF (≥2 frames; per-frame GCE delays drive the timeline,
    frame idx = the last frame started at ts — a single-frame GIF
    belongs to the IMAGE plane).  [] for any other or undecodable
    blob.  The one per-clip recipe of ``frame_hashes``, the fixture
    generator and the golden gate."""
    fmt = sniff_format(blob)
    if fmt == "gif":
        from prod2vec_spark.operators.gif import gif_frames

        try:
            frames, m = gif_frames(bytes(blob))
        except Exception:
            return []
        if m["n_frames"] < 2:
            return []  # static GIF: the image plane's case
        starts = [0]
        for d in m["delays_ms"]:
            starts.append(starts[-1] + d)
        samples, ts = [], 0
        while ts < starts[-1]:
            samples.append(
                (ts, max(i for i in range(len(frames)) if starts[i] <= ts))
            )
            ts += every_ms
    elif fmt == "avi" and (video := decode_blob(blob).video) is not None:
        frames, m = video
        samples = avi_frame_samples(len(frames), m["fps"], every_ms)
    else:
        return []
    out, seen = [], set()
    for ts, idx in samples:
        if idx in seen:  # one hash per distinct frame
            continue
        if idx >= UNIT_ID_BASE:
            # composite-id safety (as for tiles and windows): a frame
            # index at or past the base would bleed into the NEXT clip
            # id's space — ~11.5 days at 1 fps-sampled.  Fail loud.
            raise ValueError(
                f"clip {mid}: frame {idx} exceeds the composite "
                f"frame-id space (<{UNIT_ID_BASE}); raise every_ms "
                f"or split the clip"
            )
        seen.add(idx)
        g = np.frombuffer(frames[idx], dtype=np.uint8).reshape(
            m["height"], m["width"]
        )
        out.append((ts, idx, dhash64(g.astype(np.float64))))
    return out


def frame_hashes(
    media: DataFrame,
    every_ms: int = 1000,
    id_col: str = "media_id",
    blob_col: str = "blob",
) -> DataFrame:
    """(id, frame_ts_ms, frame_idx, fhash): :func:`clip_frame_hashes`
    per AVI or animated-GIF clip — one decode per clip, ts→index
    arithmetic, the multimodal.decode_frames shape with a fingerprint
    instead of a digest.  Undecodable blobs emit no rows (auditable
    upstream via media_format_rows)."""
    if every_ms <= 0:
        raise ValueError(f"every_ms must be positive, got {every_ms}")
    src = media.select(id_col, blob_col)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {id_col: [], "frame_ts_ms": [], "frame_idx": [], "fhash": []}
            for mid, b in zip(pdf[id_col], pdf[blob_col]):
                for ts, idx, fh in clip_frame_hashes(mid, b, every_ms):
                    out[id_col].append(mid)
                    out["frame_ts_ms"].append(ts)
                    out["frame_idx"].append(idx)
                    out["fhash"].append(fh)
            yield pd.DataFrame(
                {
                    id_col: out[id_col],
                    "frame_ts_ms": out["frame_ts_ms"],
                    "frame_idx": out["frame_idx"],
                    "fhash": pd.array(out["fhash"], dtype="Int64"),
                }
            )

    return src.mapInPandas(
        run,
        schema=f"{id_col} long, frame_ts_ms long, frame_idx int, fhash long",
    )


_TILE_COLS_PER_ROW = 1024  # tile_idx = tile_row * 1024 + tile_col


def _check_tile_args(tile_px: int, stride: int) -> None:
    if tile_px < 2:
        raise ValueError(f"tile_px must be >= 2, got {tile_px}")
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")


def _check_window_args(window_ms: int, hop_ms: int) -> None:
    if window_ms <= 0:
        raise ValueError(f"window_ms must be positive, got {window_ms}")
    if hop_ms <= 0:
        raise ValueError(f"hop_ms must be positive, got {hop_ms}")


def tile_rows_py(g: "np.ndarray", tile_px: int, stride: int, mid=None):
    """Pure-Python tile enumeration of one grayscale plane —
    [(tile_row, tile_col, tile_idx, dhash64)] with exactly-constant
    tiles skipped and tile_idx = tile_row·1024 + tile_col guarded to
    the composite-id space (``mid`` names the image in the error).
    The SINGLE source of tile geometry and of its guard: the
    distributed image_tile_hashes pass, the fused media_features
    pass, the fixture generator (tools/gen_image_tile_fixture.py) and
    the pytest golden gate all call this, so they can never silently
    disagree."""
    h, w = g.shape
    out = []
    for ti, r0 in enumerate(range(0, h - tile_px + 1, stride)):
        for tj, c0 in enumerate(range(0, w - tile_px + 1, stride)):
            tile = g[r0 : r0 + tile_px, c0 : c0 + tile_px]
            if tile.min() == tile.max():
                continue  # constant tile: uninformative
            idx = ti * _TILE_COLS_PER_ROW + tj
            if tj >= _TILE_COLS_PER_ROW or idx >= UNIT_ID_BASE:
                # composite-id safety: tiles at or past the base bleed
                # into the NEXT image id's space (tall scans / long
                # screenshots).  Fail loud rather than mispair.
                raise ValueError(
                    f"image {mid}: tile ({ti},{tj}) exceeds the "
                    f"composite tile-id space (cols<{_TILE_COLS_PER_ROW}, "
                    f"idx<{UNIT_ID_BASE}); raise stride/tile_px or "
                    f"split the image"
                )
            out.append((ti, tj, idx, dhash64(tile)))
    return out


def image_tile_hashes(
    media: DataFrame,
    tile_px: int = 16,
    stride: int = 8,
    id_col: str = "media_id",
    blob_col: str = "blob",
) -> DataFrame:
    """(id, tile_row, tile_col, thash, tile_idx): dHash per
    ``tile_px``×``tile_px`` tile of an image (the ``image_gray``
    door), tiles anchored at every ``stride`` pixels (overlapping when
    stride < tile_px) — the spatial analog of ``frame_hashes``'
    temporal sampling.  One decode per image; EXACTLY-CONSTANT tiles
    are skipped (a flat tile dHashes to 0 regardless of its level, so
    letterbox bars and blank backgrounds of UNRELATED images would
    otherwise pair).  Undecodable blobs emit no rows (auditable
    upstream via media_format_rows, same contract as frame_hashes)."""
    _check_tile_args(tile_px, stride)
    src = media.select(id_col, blob_col)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {id_col: [], "tile_row": [], "tile_col": [], "thash": [], "tile_idx": []}
            for mid, b in zip(pdf[id_col], pdf[blob_col]):
                g = image_gray(b)
                if g is None:
                    continue
                for ti, tj, idx, th in tile_rows_py(g, tile_px, stride, mid):
                    out[id_col].append(mid)
                    out["tile_row"].append(ti)
                    out["tile_col"].append(tj)
                    out["thash"].append(th)
                    out["tile_idx"].append(idx)
            out["thash"] = pd.array(out["thash"], dtype="Int64")
            yield pd.DataFrame(out)

    return src.mapInPandas(
        run,
        schema=(
            f"{id_col} long, tile_row int, tile_col int, thash long, "
            f"tile_idx int"
        ),
    )


def window_rows_py(
    a: "np.ndarray", rate: int, window_ms: int, hop_ms: int, mid=None
):
    """[(win_idx, whash)] for one mono signal: energy-gradient hash
    (``ahash64``) per ``window_ms`` window anchored every ``hop_ms``
    (overlapping when hop < window), win_idx guarded to the
    composite-id space (``mid`` names the clip in the error).
    EXACTLY-CONSTANT windows are skipped — digital silence / DC
    gradient-hashes to 0 regardless of level, so silent lead-ins of
    UNRELATED clips would otherwise pair (the flat-tile rule, audio
    edition).  Windows too short for the 65-sub-window gradient are
    skipped too."""
    win = max(1, (rate * window_ms) // 1000)
    hop = max(1, (rate * hop_ms) // 1000)
    out = []
    for wi, s0 in enumerate(range(0, a.shape[0] - win + 1, hop)):
        w = a[s0 : s0 + win]
        if w.min() == w.max():
            continue  # constant window: uninformative
        h = ahash64(w)
        if h is not None:
            if wi >= UNIT_ID_BASE:
                # composite-id safety (the tile guard): ~5.8 days of
                # audio at the default 500 ms hop.  Fail loud.
                raise ValueError(
                    f"clip {mid}: window {wi} exceeds the composite "
                    f"window-id space (<{UNIT_ID_BASE}); raise hop_ms "
                    f"or split the clip"
                )
            out.append((wi, h))
    return out


def audio_window_hashes(
    media: DataFrame,
    window_ms: int = 1000,
    hop_ms: int = 500,
    id_col: str = "media_id",
    blob_col: str = "blob",
) -> DataFrame:
    """(id, win_idx, whash): energy-gradient hash per fixed-length
    audio WINDOW — the temporal analog of ``image_tile_hashes``' tile
    grid and ``frame_hashes``' frame sampling, completing the span
    triad (video frames, image tiles, audio windows).  One decode per
    clip (PCM or IMA-ADPCM via the ``audio_mono`` door); undecodable
    blobs emit no rows (auditable upstream via media_format_rows, same
    contract as frame_hashes)."""
    _check_window_args(window_ms, hop_ms)
    src = media.select(id_col, blob_col)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {id_col: [], "win_idx": [], "whash": []}
            for mid, b in zip(pdf[id_col], pdf[blob_col]):
                dec = audio_mono(b)
                if dec is None:
                    continue
                for wi, wh in window_rows_py(*dec, window_ms, hop_ms, mid):
                    out[id_col].append(mid)
                    out["win_idx"].append(wi)
                    out["whash"].append(wh)
            yield pd.DataFrame(
                {
                    id_col: out[id_col],
                    "win_idx": out["win_idx"],
                    "whash": pd.array(out["whash"], dtype="Int64"),
                }
            )

    return src.mapInPandas(
        run, schema=f"{id_col} long, win_idx int, whash long"
    )


@dataclass(frozen=True)
class SpanPlane:
    """Everything that differs between the three span planes.

    ``hash_fn(media, id_col=..., blob_col=..., **kwargs)`` must return
    one row per decoded unit with ``idx_col`` (unit index within the
    media) and ``hash_col`` (the unit's 64-bit hash); ``shared_col``
    names :func:`span_pairs`' matched-unit count."""

    hash_fn: Callable[..., DataFrame]
    idx_col: str
    hash_col: str
    id_base: int  # composite unit id = media_id * id_base + unit_idx
    min_shared: int  # default cut (units shared / foreign-claimed)
    shared_col: str


# video: AVI or animated-GIF frames sampled every ``every_ms``
VIDEO_PLANE = SpanPlane(
    frame_hashes, "frame_idx", "fhash", UNIT_ID_BASE, 2, "n_shared_frames"
)
# image: ``tile_px`` tiles at ``stride``
IMAGE_PLANE = SpanPlane(
    image_tile_hashes, "tile_idx", "thash", UNIT_ID_BASE, 4, "n_shared_tiles"
)
# audio: ``window_ms`` windows every ``hop_ms``
AUDIO_PLANE = SpanPlane(
    audio_window_hashes, "win_idx", "whash", UNIT_ID_BASE, 2, "n_shared_windows"
)


def _span_rollup(
    pairs: DataFrame, plane: SpanPlane, min_shared: int | None
) -> DataFrame:
    """The one media-pair rollup of a composite-unit pair table:
    decompose unit ids back to media ids, drop same-media pairs, count
    matched units per media pair into ``plane.shared_col``, apply the
    min_shared cut (None: the plane's default).

    `div` is exact 64-bit integer division; floor(double/double) can
    be off-by-one once the composite id exceeds 2^53 (hash-derived
    ids)."""
    ms = plane.min_shared if min_shared is None else min_shared
    a = F.expr(f"id_a div {plane.id_base}").cast("long")
    b = F.expr(f"id_b div {plane.id_base}").cast("long")
    return (
        pairs.select(a.alias("ma"), b.alias("mb"))
        .where(F.col("ma") != F.col("mb"))
        .select(
            F.least("ma", "mb").alias("id_a"),
            F.greatest("ma", "mb").alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("int").alias(plane.shared_col))
        .where(F.col(plane.shared_col) >= ms)
    )


def span_pairs_from_units(
    plane: SpanPlane,
    unit_hashes: DataFrame,
    min_shared: int | None = None,
    max_distance: int = 3,
    bands: int = 4,
    max_group: int | None = None,
    id_col: str = "media_id",
) -> DataFrame:
    """:func:`span_pairs` over a PRECOMPUTED unit table (id,
    ``plane.idx_col``, ``plane.hash_col``) — the banding/verify/rollup
    half, so a fused decode pass (:func:`media_features`) or a
    persisted fixture can feed the span plane without re-decoding."""
    units = unit_hashes.select(
        _composite_id(id_col, F.col(plane.idx_col), plane.id_base).alias("unit"),
        F.col(plane.hash_col).alias("hash"),
    )
    pairs = phash_neardup(
        units,
        id_col="unit",
        hash_col="hash",
        max_distance=max_distance,
        bands=bands,
        max_group=max_group,
    )
    return _span_rollup(pairs, plane, min_shared)


def span_pairs(
    plane: SpanPlane,
    media: DataFrame,
    min_shared: int | None = None,
    max_distance: int = 3,
    bands: int = 4,
    max_group: int | None = None,
    id_col: str = "media_id",
    blob_col: str = "blob",
    **unit_kwargs,
) -> DataFrame:
    """Partial-media duplicate detection — the winnowing/verbatim-span
    analog for media: media pairs sharing ≥ ``min_shared`` (None: the
    plane's default) near-identical UNITS, catching the embedded clip,
    the cropped / letterboxed / padded image and the embedded jingle
    whose WHOLE-media hash diverges.  ``unit_kwargs`` go to the
    plane's hash function (``every_ms``; ``tile_px``/``stride``;
    ``window_ms``/``hop_ms``).

    Alignment contract: a crop/pad or insertion offset that is a
    multiple of the tile stride or window hop re-anchors content units
    exactly (the default 50% overlap halves the alignment
    granularity); arbitrary sub-stride offsets are out of scope.
    Frames need no alignment: the banded join pairs similar frames at
    any temporal offset.  The audio hash is invariant to uniform gain
    and Hamming-robust to ADPCM quantization, so window pairs survive
    PCM↔ADPCM re-encoding (tests/test_cross_codec.py).

    Shape: per-unit hash (ONE decode per media) → the banded-Hamming
    plane over composite unit ids (media·UNIT_ID_BASE + unit_idx —
    units of one media can never collide with another media's) →
    same-media pairs dropped → one hash-agg counting matched unit
    pairs per media pair.  The shuffle carries 16-byte unit
    signatures, never pixels or samples.  Output: (id_a, id_b,
    ``plane.shared_col`` ≥ min_shared).

    Hot-bucket caveat (measured at 10× on the tile plane,
    tests/test_scale_stress.py): HALF-CONSTANT tiles — e.g. letterbox
    bar-straddles — zero out the gradient band of their constant
    half, so unrelated images share a degenerate (band, slice=0)
    bucket that grows linearly with the corpus.  Set ``max_group`` at
    scale (the LSH text plane's valve): capping that bucket loses no
    aligned-duplicate pair, because such pairs also match on their
    varying-half bands, which land in family-sized buckets
    (pigeonhole over the remaining bands)."""
    units = plane.hash_fn(media, id_col=id_col, blob_col=blob_col, **unit_kwargs)
    return span_pairs_from_units(
        plane, units, min_shared, max_distance, bands, max_group, id_col
    )


def span_signatures(
    plane: SpanPlane,
    media: DataFrame,
    bands: int = 4,
    id_col: str = "media_id",
    blob_col: str = "blob",
    **hash_kwargs,
) -> DataFrame:
    """(media_id, unit, hash, band, slice): one row per band signature
    of every decoded unit; ``unit`` is the composite unit id.  The
    PERSISTABLE band table the incremental probe reads back (the unit
    hash rides along, so the archive is never re-decoded) and the
    streaming span gate's per-batch signatures."""
    uh = plane.hash_fn(media, id_col=id_col, blob_col=blob_col, **hash_kwargs)
    return uh.select(
        F.col(id_col).alias("media_id"),
        _composite_id(id_col, F.col(plane.idx_col), plane.id_base).alias("unit"),
        F.col(plane.hash_col).alias("hash"),
        F.explode(F.array(*band_structs(F.col(plane.hash_col), bands))).alias("bs"),
    ).select(
        "media_id",
        "unit",
        "hash",
        F.col("bs.band").alias("band"),
        F.col("bs.slice").alias("slice"),
    )


def incremental_span_pairs(
    plane: SpanPlane,
    old_signatures: DataFrame,
    new_media: DataFrame,
    min_shared: int | None = None,
    max_distance: int = 3,
    bands: int = 4,
    max_group: int | None = None,
    id_col: str = "media_id",
    blob_col: str = "blob",
    **unit_kwargs,
) -> DataFrame:
    """Partial-media duplicate pairs INVOLVING at least one new media,
    probed against a prior snapshot's persisted :func:`span_signatures`
    table — the incremental twin of :func:`span_pairs`.

    At 100 TB the archived corpus is never re-decoded: only its band
    table is read back, and only the new fraction runs the codec pass.
    Old×old pairs are already known and NOT re-emitted; unit counts
    of an existing pair can never change when disjoint new media
    arrive, so (pytest-locked, id-disjoint snapshots, no cap):
        span_pairs(old ∪ new)
          == span_pairs(old) ∪ incremental_span_pairs(...)
    Re-ingested ids supersede their stored signatures."""
    new = span_signatures(plane, new_media, bands, id_col, blob_col, **unit_kwargs)
    pairs = _archive_probe(
        old_signatures, new, new_media, id_col, ("band", "slice"), "unit",
        "hash", max_distance, max_group,
    )
    return _span_rollup(pairs, plane, min_shared)


def phash_neardup(
    hashes: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "dhash",
    max_distance: int = 3,
    bands: int = 4,
    max_group: int | None = None,
    extra_key: str | None = None,
) -> DataFrame:
    """Verified near-dup pairs: (id_a, id_b, hamming ≤ max_distance).
    Exact (recall 1) when max_distance < bands — pigeonhole guarantees
    every qualifying pair surfaces as a candidate.

    The hash VALUE rides through the band groups next to the id
    (struct collect → in-array pair expansion → bit_count verify on
    the pair row), so the upstream hash lineage — a Python codec
    chain for every media modality — is evaluated EXACTLY ONCE and
    never joined back (the functions/arrays.pair_expand rule; the
    round-9 fix: the previous join-back shape re-ran the decode 3×).
    The shuffle carries (band, slice) keys + (id, hash) lists —
    16 bytes per member, never pixels.

    ``extra_key``: optional partitioning column folded into the band
    group key (and carried into the output) — rows with different
    values can never pair, in the SAME single scan (the mixed-
    modality case)."""
    h = F.col(hash_col)
    extra = [F.col(extra_key)] if extra_key else []
    banded = (
        hashes.where(h.isNotNull())
        .select(
            F.col(id_col).alias("id"),
            h.alias("h"),
            F.explode(F.array(*band_structs(h, bands))).alias("bs"),
            *extra,
        )
        .withColumn("band", F.col("bs.band"))
        .withColumn("slice", F.col("bs.slice"))
    )
    keys = ["band", "slice"] + ([extra_key] if extra_key else [])
    return _banded_verified_pairs(banded, keys, max_distance, max_group)


def band_structs(h: Column, bands: int) -> list[Column]:
    """The ``bands`` disjoint (band, slice) structs of a 64-bit hash —
    the shared banding expression of the batch pair plane and the
    streaming first-presenter gate."""
    if HASH_BITS % bands:
        raise ValueError(f"bands={bands} must divide {HASH_BITS}")
    width = HASH_BITS // bands
    mask = (1 << width) - 1
    return [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(h, b * width).bitwiseAND(F.lit(mask)).alias("slice"),
        )
        for b in range(bands)
    ]


def _banded_verified_pairs(
    banded: DataFrame,
    keys: Sequence[str],
    max_distance: int,
    max_group: int | None,
) -> DataFrame:
    """The one banded group → pair → verify block: rows (``keys``,
    ``id``, ``h``[, ``is_new``]) → distinct (id_a < id_b, hamming,
    *non-band keys) with hamming ≤ max_distance.

    Groups of one member are dropped, then groups over ``max_group``
    members (the hot-bucket valve), then unverified pairs.  With an
    ``is_new`` column (the incremental probe) groups without a new
    member are dropped with the singletons, and only pairs involving
    a new row are verified."""
    from prod2vec_spark.functions.arrays import pair_expand

    incremental = "is_new" in banded.columns
    member = ["id", "h"] + (["is_new"] if incremental else [])
    grouped = banded.groupBy(*keys).agg(
        F.sort_array(F.collect_list(F.struct(*member))).alias("items")
    )
    live = F.size("items") > 1
    if incremental:
        live &= F.size(F.filter("items", lambda s: s.is_new == 1)) > 0
    grouped = grouped.filter(live)
    if max_group is not None:
        grouped = grouped.filter(F.size("items") <= max_group)
    extra = [k for k in keys if k not in ("band", "slice")]
    pairs = grouped.select(*extra, F.explode(pair_expand(F.col("items"))).alias("p"))
    if incremental:
        pairs = pairs.where((F.col("p.a.is_new") == 1) | (F.col("p.b.is_new") == 1))
    return (
        pairs.select(
            F.col("p.a.id").alias("id_a"),
            F.col("p.b.id").alias("id_b"),
            F.bit_count(F.col("p.a.h").bitwiseXOR(F.col("p.b.h"))).cast("int").alias(
                "hamming"
            ),
            *extra,
        )
        .filter(F.col("hamming") <= max_distance)
        .distinct()  # a pair may band-collide in several bands
    )


def _archive_probe(
    old_signatures: DataFrame,
    new_signatures: DataFrame,
    new_media: DataFrame,
    id_col: str,
    keys: Sequence[str],
    unit_col: str,
    hash_col: str,
    max_distance: int,
    max_group: int | None,
) -> DataFrame:
    """The incremental probe (keep the persisted band table, reuse it
    instead of re-decoding the archive): drop the archive's
    signatures of every re-ingested ``media_id`` — the new ones
    supersede them — union the new signatures flagged ``is_new``, and
    keep the verified pairs that involve a new row."""
    new_ids = new_media.select(F.col(id_col).alias("media_id")).distinct()
    old = old_signatures.join(F.broadcast(new_ids), "media_id", "left_anti")
    rows = [
        sigs.select(
            *keys,
            F.col(unit_col).alias("id"),
            F.col(hash_col).alias("h"),
            F.lit(is_new).alias("is_new"),
        )
        for sigs, is_new in ((old, 0), (new_signatures, 1))
    ]
    return _banded_verified_pairs(
        rows[0].unionByName(rows[1]), keys, max_distance, max_group
    )


def media_hashes(
    media: DataFrame, id_col: str = "media_id", blob_col: str = "blob"
) -> DataFrame:
    """(id, modality, mhash) for a blob column: :func:`media_hash` per
    blob — dHash (PNG / JPEG / GIF / lossless WebP), energy-gradient
    (WAV) or keyframe-mean dHash (AVI); a decodable container whose
    codec failed keeps its modality with a NULL hash, (NULL, NULL)
    for every other blob.  One Arrow-batched pass; the blob never
    leaves the executor.  Single-modality callers (the image, audio
    and video near-dup entries) read ``mhash`` too: there is no
    per-format pass any more, so a blob of another decodable format
    gets its hash rather than the NULL the old per-format passes
    reported."""
    src = media.select(id_col, blob_col)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashed = [media_hash(b) for b in pdf[blob_col]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "modality": [m for m, _ in hashed],
                    "mhash": pd.array([h for _, h in hashed], dtype="Int64"),
                }
            )

    return src.mapInPandas(run, schema=f"{id_col} long, modality string, mhash long")


def _feature_row(mid, blob, tile_px: int, stride: int, window_ms: int, hop_ms: int):
    """(fmt, status, modality, mhash, tiles, wins) of one blob from ONE
    ``decode_blob`` record — the per-row body of :func:`media_features`."""
    d = decode_blob(blob)
    tiles, wins = [], []
    if d.gray is not None:
        tiles = [
            {"tile_idx": idx, "thash": th}
            for _, _, idx, th in tile_rows_py(d.gray, tile_px, stride, mid)
        ]
    if d.audio is not None:
        wins = [
            {"win_idx": wi, "whash": wh}
            for wi, wh in window_rows_py(*d.audio, window_ms, hop_ms, mid)
        ]
    return d.fmt, d.status, d.modality, _record_hash(d), tiles, wins


def media_features(
    media: DataFrame,
    tile_px: int = 16,
    stride: int = 8,
    window_ms: int = 1000,
    hop_ms: int = 500,
    id_col: str = "media_id",
    blob_col: str = "blob",
) -> DataFrame:
    """EVERY per-blob media feature from ONE decode (round 16, guide
    §4.2/§8 decode-once): (id, fmt, status, modality, mhash, tiles,
    wins) where ``tiles`` is array<struct<tile_idx int, thash long>>
    (the image_tile_hashes rows, in-array) and ``wins`` is
    array<struct<win_idx int, whash long>> (the audio_window_hashes
    rows).  One ``decode_blob`` record per blob yields all four
    surfaces the curation pipeline's media stage reads:

    * fmt/status — the media_format_rows contract;
    * modality/mhash — the media_hashes contract;
    * tiles — tile_rows_py over the record's gray plane;
    * wins — window_rows_py over the record's mono signal.

    tests/test_media_features.py locks the equivalence against the
    four standalone passes over the planted mixed fixture."""
    _check_tile_args(tile_px, stride)
    _check_window_args(window_ms, hop_ms)
    src = media.select(id_col, blob_col)
    cols = ("fmt", "status", "modality", "mhash", "tiles", "wins")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                _feature_row(mid, b, tile_px, stride, window_ms, hop_ms)
                for mid, b in zip(pdf[id_col], pdf[blob_col])
            ]
            out = {id_col: pdf[id_col]}
            for i, c in enumerate(cols):
                out[c] = [r[i] for r in rows]
            out["mhash"] = pd.array(out["mhash"], dtype="Int64")
            yield pd.DataFrame(out)

    return src.mapInPandas(
        run,
        schema=(
            f"{id_col} long, fmt string, status string, modality string, "
            f"mhash long, "
            f"tiles array<struct<tile_idx: int, thash: long>>, "
            f"wins array<struct<win_idx: int, whash: long>>"
        ),
    )


MODALITIES = ("image", "audio", "video")


def media_neardup_pairs(
    hashes: DataFrame,
    id_col: str = "media_id",
    max_distance: int = 3,
    bands: int = 4,
    max_group: int | None = None,
) -> DataFrame:
    """Verified near-dup pairs over a mixed-modality hash table —
    ONE banded-Hamming pass with modality folded into the band group
    key, so an image hash can never band-collide with an audio hash
    AND the (Python codec) hash lineage is scanned exactly once for
    all modalities together (the round-9 single-scan rule; the first
    cut unioned three per-modality passes = three decodes).
    Output: (id_a, id_b, hamming, modality)."""
    return phash_neardup(
        hashes,
        id_col=id_col,
        hash_col="mhash",
        max_distance=max_distance,
        bands=bands,
        max_group=max_group,
        extra_key="modality",
    )


def media_signatures(
    media: DataFrame,
    id_col: str = "media_id",
    blob_col: str = "blob",
    bands: int = 4,
) -> DataFrame:
    """(media_id, modality, band, slice, mhash): one row per band
    signature of every decodable media row — the PERSISTABLE band
    table the incremental probe reads back (the text plane's
    minhash_bands store, media edition; the hash rides along so the
    archive is never re-decoded).  Undecodable blobs emit no rows
    (auditable upstream)."""
    hashes = media_hashes(media, id_col=id_col, blob_col=blob_col)
    return (
        hashes.where(F.col("mhash").isNotNull())
        .select(
            F.col(id_col).alias("media_id"),
            "modality",
            "mhash",
            F.explode(F.array(*band_structs(F.col("mhash"), bands))).alias("bs"),
        )
        .select(
            "media_id",
            "modality",
            F.col("bs.band").alias("band"),
            F.col("bs.slice").alias("slice"),
            "mhash",
        )
    )


def incremental_media_pairs(
    old_signatures: DataFrame,
    new_media: DataFrame,
    id_col: str = "media_id",
    blob_col: str = "blob",
    max_distance: int = 3,
    bands: int = 4,
    max_group: int | None = None,
) -> DataFrame:
    """Verified media near-dup pairs INVOLVING at least one new blob,
    probed against a prior snapshot's persisted
    :func:`media_signatures` table — the incremental twin of
    :func:`media_neardup_pairs` (and the media leg of the
    snapshot-diff plane), next to the batch stage
    (pipeline_llm.media_dedup).

    At 100 TB the point is what does NOT happen: the archived corpus
    is never re-decoded or re-hashed — only its band table is read
    back, and only the typically-small new fraction runs the codec
    pass.  Old×old pairs are already known and are NOT re-emitted;
    the output is exactly the delta pair set, exact-verified
    (bit_count ≤ max_distance) from the hashes riding in the band
    rows.  Re-ingested ids supersede their stored signatures.
    Output: (id_a, id_b, hamming, modality).  Semantics
    (pytest-locked, no cap):
        media_neardup_pairs(old ∪ new)
          == media_neardup_pairs(old) ∪ incremental_media_pairs(...)
    for id-disjoint snapshots."""
    new = media_signatures(new_media, id_col, blob_col, bands)
    return _archive_probe(
        old_signatures, new, new_media, id_col, ("modality", "band", "slice"),
        "media_id", "mhash", max_distance, max_group,
    )


def media_dedup(
    hashes: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "dhash",
    max_distance: int = 3,
    bands: int = 4,
    max_group: int | None = None,
) -> DataFrame:
    """Near-dup COLLAPSE for a media corpus — the media twin of the
    text chain minhash→LSH→dedup_clusters (operators/graph.py):
    verified fingerprint pairs → connected components → canonical pick
    (min id per cluster).

    Returns (id_col, cluster_id, is_canonical) covering EVERY input
    row, not just the paired ones: unpaired hashed rows are singleton
    canonicals of their own cluster, and UNDECODABLE rows (NULL hash)
    are singleton canonicals too — the conservative web-pipeline
    default (never drop what you couldn't read), and auditable because
    their fingerprint is NULL upstream.

    100 TB shape: the pair set is the near-dup fraction (small), so
    the component computation runs on a graph orders of magnitude
    smaller than the corpus, and the clustered-node table broadcasts
    into the singleton anti-join — the corpus-sized hash table never
    shuffles here."""
    from prod2vec_spark.operators.graph import dedup_clusters

    pairs = phash_neardup(
        hashes,
        id_col=id_col,
        hash_col=hash_col,
        max_distance=max_distance,
        bands=bands,
        max_group=max_group,
    )
    clustered = dedup_clusters(
        pairs.select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    ).select(
        F.col("doc_id").alias(id_col),
        F.col("cluster_id"),
        F.col("is_canonical"),
    )
    singles = hashes.select(id_col).join(
        F.broadcast(clustered.select(id_col)), id_col, "left_anti"
    )
    return clustered.unionByName(
        singles.select(
            F.col(id_col),
            F.col(id_col).alias("cluster_id"),
            F.lit(1).alias("is_canonical"),
        )
    )
