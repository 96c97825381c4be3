"""Pure-numpy GIF codec (GIF87a/89a, LZW).

Third real still-image codec after PNG (``kernels/image.py``) and baseline
JPEG (``kernels/jpeg.py``): shrinks ``multimodal._fake_decode``'s surface
to WebP-class formats only.  The reference ingests image format groups
opaquely and hands decode to kernels (scanner/engine/ingest.cpp:1004);
here the codec itself is in-repo because the container ships no image
libraries.

Scope: still images — the FIRST image of an animation is decoded (the
multimodal image column contract is one frame per payload; animations are
FrameColumn/video territory).  Both global and local color tables,
interlaced images, image-descriptor placement (the first frame is
composited onto the logical-screen canvas at its (x0, y0), background
color filling the rest — output dims are always the header's sw x sh),
and the GCE transparency flag (transparent pixels show the background
canvas) are handled.  The encoder writes non-interlaced GIF89a with a power-of-two
global color table and REAL variable-width LZW (with dictionary resets at
code 4096 per spec), so encode→decode round-trips are byte-exact for any
image of ≤256 distinct colors — the property the tests pin.

Everything is stdlib+numpy; the LZW hot loops are per-code (not per-pixel)
Python over the driver-bounded payload sizes the suite uses — the Spark
side runs this inside Arrow-batched ``mapInPandas`` like every other codec.
"""

from __future__ import annotations

import struct

import numpy as np

GIF_MAGICS = (b"GIF87a", b"GIF89a")
MAX_CODE = 4096  # 12-bit LZW ceiling, per spec


# ---------------------------------------------------------------------------
# LZW (GIF variant: little-endian bit packing, variable code width,
# clear/EOI codes, width grows AFTER the code that fills the table)
# ---------------------------------------------------------------------------


def _gif_width_sched(min_code_size: int) -> np.ndarray:
    """Width of the t-th code after a clear, for t < the final-width
    boundary.  Deterministic (round 17, same argument as the TIFF
    decoder's schedule): the first post-clear code appends nothing, every
    later code appends one entry, and width bumps after the append that
    makes ``next_code == 1 << width`` — so boundaries sit at
    ``t = 2^w - clear - 2`` independent of the data."""
    clear = 1 << min_code_size
    parts = [np.zeros(0, np.int64)]
    lo = 0
    for w in range(min_code_size + 1, 12):
        hi = (1 << w) - clear - 2  # last code index read at width w
        parts.append(np.full(hi - lo + 1, w, np.int64))
        lo = hi + 1
    return np.concatenate(parts)


_GIF_SCHEDS: dict[int, np.ndarray] = {}


def _lzw_decode(data: bytes, min_code_size: int) -> np.ndarray:
    """GIF LZW -> palette-index array (uint8).  Identical semantics to
    the retired per-symbol bit loop (LSB-first codes, width grows after
    the code that fills the table, truncation tolerated); the bit
    extraction is one numpy gather over the deterministic post-clear
    width schedule, control codes re-anchor it."""
    # the GIF spec bounds the code size to 2..8: above 8 the root table
    # outgrows a byte and the 12-bit width schedule, below 2 it is not a
    # valid stream
    if not 2 <= min_code_size <= 8:
        raise ValueError("GIF LZW min code size out of range")
    clear = 1 << min_code_size
    eoi = clear + 1
    sched = _GIF_SCHEDS.get(min_code_size)
    if sched is None:
        sched = _GIF_SCHEDS[min_code_size] = _gif_width_sched(min_code_size)
    t_final = len(sched)  # codes at index >= t_final read at width 12
    min_w = min_code_size + 1
    n = len(data)
    total_bits = n * 8
    a = np.zeros(n + 2, dtype=np.uint32)
    a[:n] = np.frombuffer(data, dtype=np.uint8)
    # 24-bit LSB-first window starting at every byte (12 + 7 < 24)
    W = a[:-2] | (a[1:-1] << 8) | (a[2:] << 16)
    out_parts: list[bytes] = []
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    L = eoi + 1  # == next_code
    prev: bytes | None = None
    p = 0  # bit position
    t = 0  # codes read since the last clear
    while True:
        remaining = total_bits - p
        if remaining < min_w:
            break  # truncated stream: emit what we have
        m = min(remaining // min_w + 1, 1 << 20)
        idx = np.arange(t, t + m)
        wds = np.where(idx < t_final, sched[np.minimum(idx, t_final - 1)], 12)
        starts = np.empty(m, dtype=np.int64)
        starts[0] = p
        np.cumsum(wds[:-1], out=starts[1:])
        starts[1:] += p
        ends = starts + wds
        nv = int(np.searchsorted(ends, total_bits, side="right"))
        if nv == 0:
            break
        wds, ends = wds[:nv], ends[:nv]
        starts = starts[:nv]
        codes = (W[starts >> 3] >> (starts & 7).astype(np.uint32)) & (
            (np.uint32(1) << wds.astype(np.uint32)) - 1
        )
        ctrl = np.nonzero((codes == clear) | (codes == eoi))[0]
        stop = int(ctrl[0]) if len(ctrl) else nv
        if stop:
            for code in codes[:stop].tolist():
                if prev is None:
                    if code >= clear:
                        raise KeyError(code)  # first code must be a literal
                    entry = table[code]
                elif code < L:
                    entry = table[code]
                elif code == L:
                    entry = prev + prev[:1]  # the KwKwK case
                else:
                    raise ValueError(
                        f"corrupt LZW stream: code {code} > {L}"
                    )
                out_parts.append(entry)
                if prev is not None and L < MAX_CODE:
                    table.append(prev + entry[:1])
                    L += 1
                prev = entry
            t += stop
            p = int(ends[stop - 1])
        if stop < nv:
            code = int(codes[stop])
            p = int(ends[stop])
            if code == eoi:
                break
            del table[eoi + 1 :]  # CLEAR
            L, prev, t = eoi + 1, None, 0
    return np.frombuffer(b"".join(out_parts), dtype=np.uint8)


def _lzw_encode(indices: np.ndarray, min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[tuple[int, ...], int] = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    prev: tuple[int, ...] = ()
    for v in indices.tolist():
        cur = prev + (v,)
        if cur in table:
            prev = cur
            continue
        emit(table[prev], width)
        if next_code < MAX_CODE:
            table[cur] = next_code
            # decoder grows width when ITS next_code reaches 2^width; the
            # encoder's next_code leads by one, so grow after assignment
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        else:
            # table full: reset, as real encoders do
            emit(clear, width)
            table = {(i,): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        prev = (v,)
    if prev:
        emit(table[prev], width)
        # mirror the decoder's append-for-the-final-code: if that entry
        # lands on the 2^width boundary the decoder reads EOI one bit
        # wider (same latent flush off-by-one as the TIFF encoder, fixed
        # round 17)
        if next_code < MAX_CODE:
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


# ---------------------------------------------------------------------------
# container
# ---------------------------------------------------------------------------


def _read_blocks(data: bytes, pos: int) -> tuple[bytes, int]:
    """Concatenate GIF sub-blocks starting at ``pos``; returns (bytes,
    position past the terminator)."""
    chunks = []
    while True:
        if pos >= len(data):
            break  # truncated: tolerate, like the LZW path
        n = data[pos]
        pos += 1
        if n == 0:
            break
        chunks.append(data[pos : pos + n])
        pos += n
    return b"".join(chunks), pos


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif(data: bytes) -> np.ndarray:
    """GIF bytes -> (H, W, 3) uint8 RGB of the first image."""
    if data[:6] not in GIF_MAGICS:
        raise ValueError("not a GIF payload")
    sw, sh, flags, bg, _aspect = struct.unpack_from("<HHBBB", data, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(data[pos : pos + 3 * n], dtype=np.uint8).reshape(
            n, 3
        )
        pos += 3 * n
    transparent = None  # GCE transparent color index, if flagged
    while pos < len(data):
        b = data[pos]
        if b == 0x21:  # extension: label + sub-blocks (GCE/comment/app...)
            label = data[pos + 1] if pos + 1 < len(data) else 0
            pos += 2
            blocks, pos = _read_blocks(data, pos)
            if label == 0xF9 and len(blocks) >= 4 and (blocks[0] & 0x01):
                transparent = blocks[3]
        elif b == 0x2C:  # image descriptor
            x0, y0, w, h, iflags = struct.unpack_from("<HHHHB", data, pos + 1)
            pos += 10
            ct = gct
            if iflags & 0x80:
                n = 2 << (iflags & 0x07)
                ct = np.frombuffer(
                    data[pos : pos + 3 * n], dtype=np.uint8
                ).reshape(n, 3)
                pos += 3 * n
            if ct is None:
                raise ValueError("GIF image has no color table")
            min_code_size = data[pos]
            pos += 1
            lzw, pos = _read_blocks(data, pos)
            idx = np.asarray(
                _lzw_decode(lzw, min_code_size), dtype=np.int64
            )
            if idx.size < w * h:  # truncated image: pad with 0
                idx = np.concatenate(
                    [idx, np.zeros(w * h - idx.size, dtype=np.int64)]
                )
            idx = idx[: w * h].reshape(h, w)
            if iflags & 0x40:  # interlaced: rows arrive in 4 passes
                deinter = np.empty_like(idx)
                src = 0
                for start, step in _INTERLACE_PASSES:
                    rows = range(start, h, step)
                    for r in rows:
                        deinter[r] = idx[src]
                        src += 1
                idx = deinter
            rgb = ct[np.clip(idx, 0, len(ct) - 1)]
            if x0 == 0 and y0 == 0 and w == sw and h == sh and transparent is None:
                return rgb  # full-screen opaque image: no compositing
            # composite the first frame onto the logical screen at its
            # (x0, y0) placement: canvas = background color (GCT entry of
            # the header's bg index; black without a GCT), transparent
            # pixels (GCE flag) leave the canvas showing through.  Output
            # dims always == the header's logical screen (sw, sh).
            # the logical-screen background_color_index refers to the GLOBAL
            # color table (GIF89a §18) — not the frame's active (possibly
            # local) table
            bg_rgb = (
                gct[min(bg, len(gct) - 1)]
                if gct is not None
                else np.zeros(3, dtype=np.uint8)
            )
            canvas = np.broadcast_to(bg_rgb, (sh, sw, 3)).copy()
            ch = min(h, max(sh - y0, 0))
            cw = min(w, max(sw - x0, 0))
            if ch > 0 and cw > 0:
                patch = rgb[:ch, :cw]
                if transparent is not None:
                    mask = idx[:ch, :cw] != transparent
                    region = canvas[y0 : y0 + ch, x0 : x0 + cw]
                    canvas[y0 : y0 + ch, x0 : x0 + cw] = np.where(
                        mask[:, :, None], patch, region
                    )
                else:
                    canvas[y0 : y0 + ch, x0 : x0 + cw] = patch
            return canvas
        elif b == 0x3B:  # trailer before any image
            break
        else:
            raise ValueError(f"unknown GIF block 0x{b:02x}")
    raise ValueError("GIF contains no image data")


def encode_gif(img: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB (≤256 distinct colors) -> GIF89a bytes.
    Exact: decode_gif(encode_gif(img)) == img pixel-for-pixel."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    h, w, c = img.shape
    if c != 3:
        raise ValueError("encode_gif expects (H, W, 3)")
    flat = img.reshape(-1, 3)
    # pack RGB into one int before unique: np.unique(axis=0) sorts rows
    # through a void-dtype argsort (~0.4 ms for a 32x32 image — half the
    # encode cost); the packed scalar path sorts natively and yields the
    # SAME lexicographic (r, g, b) order, so palette bytes and index
    # stream are unchanged
    packed = (
        (flat[:, 0].astype(np.int32) << 16)
        | (flat[:, 1].astype(np.int32) << 8)
        | flat[:, 2].astype(np.int32)
    )
    upacked, idx = np.unique(packed, return_inverse=True)
    palette = np.stack(
        [(upacked >> 16) & 255, (upacked >> 8) & 255, upacked & 255], axis=1
    ).astype(np.uint8)
    n_colors = len(palette)
    if n_colors > 256:
        raise ValueError(
            f"GIF is palettized: {n_colors} distinct colors > 256 "
            "(quantize first)"
        )
    # color table size: power of two >= n_colors, minimum 2
    bits = max(1, int(np.ceil(np.log2(max(n_colors, 2)))))
    table_n = 1 << bits
    ct = np.zeros((table_n, 3), dtype=np.uint8)
    ct[:n_colors] = palette
    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HHBBB", w, h, 0x80 | ((bits - 1) & 0x07), 0, 0)
    out += ct.tobytes()
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)  # image descriptor
    min_code_size = max(2, bits)
    out.append(min_code_size)
    lzw = _lzw_encode(idx.astype(np.int64), min_code_size)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)  # block terminator
    out.append(0x3B)  # trailer
    return bytes(out)
