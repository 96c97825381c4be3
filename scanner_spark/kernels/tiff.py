"""TIFF codec (TIFF 6.0: uncompressed, LZW, PackBits; chunky 8-bit).

Fourth real still-image codec (after PNG/JPEG/GIF): covers the
archival/scan format of document corpora.  Scope is the TIFF 6.0 profile
that scanners and exporters actually write — Compression 1 (none),
5 (LZW, §13, with the early-code-size-change convention every real writer
uses), and 32773 (PackBits, §9); Predictor 2 (horizontal differencing,
§14); 8 bits per sample, chunky planar configuration, grey / RGB / RGBA,
any strip layout, both byte orders.  JPEG-in-TIFF / CCITT fax variants
raise (the sniffer routes TIFF magics here so the error is explicit
instead of falling to a fake).

The encoder writes a single-strip, little-endian, chunky RGB8 (or grey)
file with a minimal-but-complete IFD — byte-exact round trips with the
decoder and readable by any TIFF reader; ``compression=`` selects none /
lzw / packbits, ``predictor=2`` enables horizontal differencing.
"""

from __future__ import annotations

import struct

import numpy as np

TIFF_MAGICS = (b"II*\x00", b"MM\x00*")

# tag ids (TIFF 6.0 §8)
_W, _H, _BPS, _COMP, _PHOTO = 256, 257, 258, 259, 262
_STRIP_OFF, _SPP, _ROWS_PER_STRIP, _STRIP_CNT, _PLANAR = 273, 277, 278, 279, 284
_PREDICTOR = 317

# LZW control codes (TIFF 6.0 §13)
_LZW_CLEAR, _LZW_EOI = 256, 257


# Deterministic post-clear width schedule for the vectorized decoder
# (round 17).  After a CLEAR the decoder's state advances mechanically:
# the first code appends nothing, every later code appends exactly one
# table entry, and the early-change bump fires when the table reaches
# 510/1022/2046 — so the width of the t-th code after a clear is a pure
# function of t (9 for t<=252, 10 for t<=764, 11 for t<=1788, else 12),
# independent of the data.  That makes all code BIT POSITIONS between
# control codes computable up front, so the per-code bit-fiddling loop
# collapses to one numpy gather; only the table/output bookkeeping stays
# a (much tighter) Python loop.  The 4096-entry append cap never affects
# widths: the last bump is at 2046 entries.
_LZW_SCHED_W = np.concatenate(
    [
        np.full(253, 9, np.int64),
        np.full(512, 10, np.int64),
        np.full(1024, 11, np.int64),
    ]
)


def _lzw_decode(data: bytes, max_out: int) -> bytes:
    """TIFF-flavoured LZW: MSB-first codes, ClearCode=256, EOI=257, and
    the "early change" convention — code width grows when the NEXT entry
    to be assigned is ``(1 << width) - 1`` (one code earlier than the
    width arithmetically requires; TIFF 6.0 §13 note + what libtiff-
    compatible writers emit).  ``max_out`` bounds output so a corrupt
    stream can't balloon memory.  Byte-identical to the retired
    per-symbol bit loop (fuzz-pinned in tests/test_lzw_differential.py)."""
    n = len(data)
    total_bits = n * 8
    a = np.zeros(n + 2, dtype=np.uint32)
    a[:n] = np.frombuffer(data, dtype=np.uint8)
    # 24-bit MSB-first window starting at every byte: enough for any
    # 12-bit code at any intra-byte offset (12 + 7 < 24)
    W = (a[:-2] << 16) | (a[1:-1] << 8) | a[2:]
    out_parts: list[bytes] = []
    out_len = 0
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    L = 258
    prev: bytes | None = None
    p = 0  # bit position
    t = 0  # codes read since the last clear (schedule index)
    while True:
        remaining = total_bits - p
        if remaining < 9:
            return b"".join(out_parts)  # truncated: tolerate, as before
        m = min(remaining // 9 + 1, 1 << 20)
        idx = np.arange(t, t + m)
        wds = np.where(idx < 1789, _LZW_SCHED_W[np.minimum(idx, 1788)], 12)
        starts = np.empty(m, dtype=np.int64)
        starts[0] = p
        np.cumsum(wds[:-1], out=starts[1:])
        starts[1:] += p
        ends = starts + wds
        nv = int(np.searchsorted(ends, total_bits, side="right"))
        if nv == 0:
            return b"".join(out_parts)
        wds, starts, ends = wds[:nv], starts[:nv], ends[:nv]
        codes = (
            W[starts >> 3] >> (24 - wds - (starts & 7)).astype(np.uint32)
        ) & ((np.uint32(1) << wds.astype(np.uint32)) - 1)
        ctrl = np.nonzero((codes == _LZW_CLEAR) | (codes == _LZW_EOI))[0]
        stop = int(ctrl[0]) if len(ctrl) else nv
        if stop:
            for code in codes[:stop].tolist():
                if prev is None:
                    if code >= 256:
                        raise ValueError(
                            "LZW stream: first code after clear not a literal"
                        )
                    entry = table[code]
                elif code < L:
                    entry = table[code]
                elif code == L:
                    entry = prev + prev[:1]  # KwKwK case
                else:
                    raise ValueError(f"LZW stream: code {code} beyond table")
                out_parts.append(entry)
                out_len += len(entry)
                if out_len > max_out:
                    raise ValueError("LZW stream: output exceeds strip size")
                if prev is not None and L < 4096:
                    table.append(prev + entry[:1])
                    L += 1
                prev = entry
            t += stop
            p = int(ends[stop - 1])
        if stop < nv:
            code = int(codes[stop])
            p = int(ends[stop])
            if code == _LZW_EOI:
                return b"".join(out_parts)
            del table[258:]  # CLEAR
            L, prev, t = 258, None, 0


def _lzw_encode(data: bytes) -> bytes:
    """Mirror of :func:`_lzw_decode` (early change, clear at table-full)."""
    out = bytearray()
    bitbuf = bitcnt = 0

    def emit(code: int, width: int) -> None:
        nonlocal bitbuf, bitcnt
        bitbuf = (bitbuf << width) | code
        bitcnt += width
        while bitcnt >= 8:
            bitcnt -= 8
            out.append((bitbuf >> bitcnt) & 0xFF)

    def fresh() -> dict[bytes, int]:
        return {bytes([i]): i for i in range(256)}

    table, next_code, width = fresh(), 258, 9
    emit(_LZW_CLEAR, width)
    w = b""
    for b in data:
        k = w + bytes([b])
        if k in table:
            w = k
            continue
        emit(table[w], width)
        table[k] = next_code
        next_code += 1
        if next_code == (1 << width) - 1 and width < 12:
            width += 1  # early change, mirrors decoder
        w = bytes([b])
        if next_code == 4094:  # table nearly full: clear (spec §13)
            emit(_LZW_CLEAR, width)
            table, next_code, width = fresh(), 258, 9
    if w:
        emit(table[w], width)
        # The decoder appends a table entry for this final code too, and
        # widens if that lands on the early-change boundary — EOI must be
        # emitted at the width the decoder will read it with.  (Without
        # this, a strip whose flush falls exactly at 510/1022/2046
        # entries emitted a 9/10/11-bit EOI the decoder read as a wider
        # garbage code — latent since the encoder was written, found by
        # the round-17 property fuzz.)
        next_code += 1
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
    emit(_LZW_EOI, width)
    if bitcnt:
        out.append((bitbuf << (8 - bitcnt)) & 0xFF)
    return bytes(out)


def _packbits_decode(data: bytes, max_out: int) -> bytes:
    """PackBits run-length decode (TIFF 6.0 §9)."""
    out = bytearray()
    pos, n = 0, len(data)
    while pos < n and len(out) < max_out:
        ctrl = data[pos]
        pos += 1
        if ctrl < 128:  # 0..127: copy ctrl+1 literals
            out += data[pos : pos + ctrl + 1]
            pos += ctrl + 1
        elif ctrl > 128:  # 129..255 = -127..-1: repeat next byte 257-ctrl times
            if pos >= n:
                raise ValueError("PackBits stream truncated in a run")
            out += bytes([data[pos]]) * (257 - ctrl)
            pos += 1
        # ctrl == 128 (-128): noop per spec
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """PackBits encode: greedy runs ≥3 become replicate packets."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        # measure run at i
        j = i + 1
        while j < n and j - i < 128 and data[j] == data[i]:
            j += 1
        if j - i >= 3:
            out += bytes([257 - (j - i), data[i]])
            i = j
            continue
        # literal stretch: until a run of >=3 starts (or 128 cap)
        start = i
        while i < n and i - start < 128:
            j = i + 1
            while j < n and j - i < 3 and data[j] == data[i]:
                j += 1
            if j - i >= 3:
                break
            i = j
        i = min(i, start + 128)  # literal packet holds at most 128 bytes
        out += bytes([i - start - 1]) + data[start:i]
    return bytes(out)


def _undo_predictor2(img: np.ndarray) -> np.ndarray:
    """Predictor 2 (§14): horizontal differencing per row per channel —
    invert by cumulative sum mod 256 along the width axis."""
    return np.cumsum(img, axis=1, dtype=np.uint32).astype(np.uint8)


def _apply_predictor2(img: np.ndarray) -> np.ndarray:
    d = img.astype(np.int16)
    d[:, 1:, :] -= img[:, :-1, :].astype(np.int16)
    return (d % 256).astype(np.uint8)

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8, 11: 4, 12: 8}
_TYPE_FMT = {1: "B", 3: "H", 4: "I", 6: "b", 8: "h", 9: "i"}


def _unpack_from(fmt: str, buf: bytes, off: int) -> tuple:
    """``struct.unpack_from`` that reports a field past the end of the
    payload as a truncated TIFF."""
    if off + struct.calcsize(fmt) > len(buf):
        raise ValueError("TIFF truncated: field past end of payload")
    return struct.unpack_from(fmt, buf, off)


def _read_tag_values(buf: bytes, e: str, typ: int, count: int, val_off: int) -> list[int]:
    size = _TYPE_SIZES.get(typ)
    if size is None or typ not in _TYPE_FMT:
        return []
    total = size * count
    off = val_off if total <= 4 else _unpack_from(f"{e}I", buf, val_off)[0]
    return list(_unpack_from(f"{e}{count}{_TYPE_FMT[typ]}", buf, off))


def decode_tiff(data: bytes) -> np.ndarray:
    """TIFF bytes -> (H, W, C) uint8 (first IFD)."""
    if data[:4] not in TIFF_MAGICS:
        raise ValueError("not a TIFF payload")
    e = "<" if data[:2] == b"II" else ">"
    (ifd_off,) = _unpack_from(f"{e}I", data, 4)
    (n_tags,) = _unpack_from(f"{e}H", data, ifd_off)
    tags: dict[int, list[int]] = {}
    for i in range(n_tags):
        off = ifd_off + 2 + 12 * i
        tag, typ, count = _unpack_from(f"{e}HHI", data, off)
        tags[tag] = _read_tag_values(data, e, typ, count, off + 8)
    for required in (_W, _H, _STRIP_OFF, _STRIP_CNT):
        if required not in tags:
            raise ValueError(f"TIFF missing required tag {required}")
    w, h = tags[_W][0], tags[_H][0]
    comp = tags.get(_COMP, [1])[0]
    if comp not in (1, 5, 32773):
        raise NotImplementedError(
            f"TIFF compression {comp} not supported (none/LZW/PackBits "
            "only; JPEG-in-TIFF and CCITT fax are out of codec scope)"
        )
    spp = tags.get(_SPP, [1])[0]
    bps = tags.get(_BPS, [8])
    if any(b != 8 for b in bps):
        raise NotImplementedError(f"TIFF bits-per-sample {bps}: 8-bit only")
    if tags.get(_PLANAR, [1])[0] != 1:
        raise NotImplementedError("TIFF planar configuration 2 not supported")
    # PhotometricInterpretation (tag 262): 0 = WhiteIsZero (greyscale,
    # inverted — common in fax/scanner output), 1 = BlackIsZero, 2 = RGB.
    # Anything else (palette=3, CMYK=5, YCbCr=6) is out of baseline scope.
    photo = tags.get(_PHOTO, [1])[0]
    if photo not in (0, 1, 2):
        raise NotImplementedError(
            f"TIFF photometric interpretation {photo} not supported "
            "(WhiteIsZero/BlackIsZero/RGB only)"
        )
    # strips decompress independently; each holds rows_per_strip rows
    # (tag 278 defaults to "all rows") except a shorter final strip.
    rows_per_strip = tags.get(_ROWS_PER_STRIP, [h])[0] or h
    row_bytes = w * spp
    parts: list[bytes] = []
    remaining_rows = h
    for o, n in zip(tags[_STRIP_OFF], tags[_STRIP_CNT]):
        raw = bytes(data[o : o + n])
        strip_rows = min(rows_per_strip, remaining_rows)
        remaining_rows -= strip_rows
        expect = strip_rows * row_bytes
        if comp == 5:
            raw = _lzw_decode(raw, expect)
        elif comp == 32773:
            raw = _packbits_decode(raw, expect)
        parts.append(raw)
    strips = b"".join(parts)
    need = h * row_bytes
    if len(strips) < need:
        raise ValueError(f"TIFF strip data truncated: {len(strips)} < {need}")
    img = np.frombuffer(strips[:need], dtype=np.uint8).reshape(h, w, spp)
    predictor = tags.get(_PREDICTOR, [1])[0]
    if predictor == 2:
        img = _undo_predictor2(img)
    elif predictor != 1:
        raise NotImplementedError(f"TIFF predictor {predictor} not supported")
    if photo == 0:  # WhiteIsZero: 0 = white -> invert to BlackIsZero
        img = 255 - img
    return img


_COMP_IDS = {"none": 1, "lzw": 5, "packbits": 32773}


def encode_tiff(
    img: np.ndarray, compression: str = "none", predictor: int = 1
) -> bytes:
    """(H, W, C) uint8 (C in 1/3/4) -> single-strip little-endian TIFF.

    ``compression``: ``"none"`` / ``"lzw"`` / ``"packbits"``;
    ``predictor=2`` applies horizontal differencing before compression
    (TIFF 6.0 §14 — useful for smooth imagery under LZW).
    """
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    if c not in (1, 3, 4):
        raise ValueError("encode_tiff expects 1, 3, or 4 channels")
    if compression not in _COMP_IDS:
        raise ValueError(f"compression must be one of {sorted(_COMP_IDS)}")
    if predictor not in (1, 2):
        raise ValueError("predictor must be 1 (none) or 2 (horizontal)")
    comp_id = _COMP_IDS[compression]
    photo = 1 if c == 1 else 2  # BlackIsZero / RGB
    plane = _apply_predictor2(img) if predictor == 2 else img
    pixels = plane.tobytes()
    if comp_id == 5:
        pixels = _lzw_encode(pixels)
    elif comp_id == 32773:
        pixels = _packbits_encode(pixels)
    # layout: header (8) + pixel strip + [bps array if c>1] + IFD
    strip_off = 8
    bps_off = strip_off + len(pixels)
    n_tags = 10 + (1 if predictor == 2 else 0)
    ifd_off = bps_off + (2 * c if c > 1 else 0)
    out = bytearray()
    out += b"II*\x00" + struct.pack("<I", ifd_off)
    out += pixels
    if c > 1:
        out += struct.pack(f"<{c}H", *([8] * c))

    def tag(t, typ, count, value):
        return struct.pack("<HHI", t, typ, count) + struct.pack("<I", value)

    def tag_short(t, value):
        # SHORT value lives left-justified in the 4-byte field
        return struct.pack("<HHI", t, 3, 1) + struct.pack("<HH", value, 0)

    entries = [
        tag(_W, 4, 1, w),
        tag(_H, 4, 1, h),
        (tag_short(_BPS, 8) if c == 1 else tag(_BPS, 3, c, bps_off)),
        tag_short(_COMP, comp_id),
        tag_short(_PHOTO, photo),
        tag(_STRIP_OFF, 4, 1, strip_off),
        tag_short(_SPP, c),
        tag(_ROWS_PER_STRIP, 4, 1, h),
        tag(_STRIP_CNT, 4, 1, len(pixels)),
        tag_short(_PLANAR, 1),
    ]
    if predictor == 2:
        entries.append(tag_short(_PREDICTOR, 2))
    # IFD entries must be sorted by tag id (TIFF 6.0 §2) — 317 > 284, ok.
    assert len(entries) == n_tags
    out += struct.pack("<H", n_tags) + b"".join(entries) + struct.pack("<I", 0)
    return bytes(out)
