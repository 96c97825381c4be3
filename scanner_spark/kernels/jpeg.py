"""Dependency-free baseline JPEG codec (pure numpy + stdlib).

Retires the marked fake decode for the dominant real-world image format
(the reference ingests real image format groups —
scanner/engine/ingest.cpp:1004; its ImageEncoder emits PNG/JPEG,
scanner/util/image_encoder.cpp:112-117).  This container ships no
libjpeg/PIL/cv2, so both directions are implemented from the public JPEG
(ITU-T T.81) baseline spec:

- ``decode_jpeg``: any baseline sequential JFIF — arbitrary DQT/DHT
  tables, 1- or 3-component scans, subsampling factors up to 4, restart
  markers, APPn/COM skipping.  Huffman bit-decode is per-symbol Python
  (entropy decode is inherently sequential), everything after —
  dequantize, de-zigzag, IDCT, upsample, color transform — is vectorized
  numpy over all blocks at once.
- ``encode_jpeg``: baseline encoder used for fixtures and payload
  generation: level shift, vectorized 2-D DCT, quantize, zigzag,
  DC-differential + run-length Huffman coding with **self-describing
  canonical tables** (fixed-length code sets written into DHT — legal
  JPEG, chosen so no Annex-K table needs transcribing), optional 4:2:0
  subsampling and restart intervals.

Determinism: both directions are integer/float64 arithmetic with fixed
rounding — same payload bytes, same pixels, on every run and engine.
"""

from __future__ import annotations

import struct

import numpy as np

JPEG_MAGIC = b"\xff\xd8"

# ---------------------------------------------------------------------------
# shared constant machinery
# ---------------------------------------------------------------------------


def _zigzag_order() -> np.ndarray:
    """The 64-entry zigzag scan as (row, col) pairs, generated by the
    diagonal walk (no hardcoded table to get wrong)."""
    order = []
    for s in range(15):
        diag = [(s - j, j) for j in range(s + 1) if 0 <= s - j < 8 and 0 <= j < 8]
        if s % 2 == 0:
            diag.reverse()  # even diagonals run bottom-left -> top-right
        order.extend(diag)
    return np.array([r * 8 + c for r, c in order], dtype=np.int64)


ZIGZAG = _zigzag_order()  # zigzag index -> natural index


def _dct_basis() -> np.ndarray:
    """B[uv, xy] = C(u)C(v)/4 cos((2x+1)u pi/16) cos((2y+1)v pi/16):
    coeffs = blocks @ B.T (forward), blocks = coeffs @ B (inverse)."""
    u = np.arange(8)
    c = np.where(u == 0, 1.0 / np.sqrt(2.0), 1.0)
    cos = np.cos((2 * u[None, :] + 1) * u[:, None] * np.pi / 16.0)  # [u, x]
    B = np.einsum("u,v,ux,vy->uvxy", c, c, cos, cos) / 4.0
    return B.reshape(64, 64)


_BASIS = _dct_basis()


def _quant_table(quality: int) -> np.ndarray:
    """Deterministic formula table (flat 8 + ramp), scaled by quality
    50..95; self-describing (written to DQT), so any decoder reproduces
    the encode exactly."""
    u = np.arange(8)
    base = 8.0 + 2.0 * (u[:, None] + u[None, :])
    scale = 50.0 / max(1, min(quality, 99))
    q = np.floor(base * scale + 0.5)
    return np.clip(q, 1, 255).astype(np.int64)


# canonical fixed-length code sets (legal, self-describing via DHT):
# DC categories 0..11 as 4-bit codes, AC (run,size) symbols as 9-bit codes.
_DC_SYMBOLS = list(range(12))
_AC_SYMBOLS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]


def _canonical_codes(symbols: list[int], length: int) -> dict[int, tuple[int, int]]:
    """All symbols at one code length; canonical assignment 0,1,2,...
    (the same rule a DHT reader applies).  len(symbols) < 2**length so the
    all-ones code stays unused, as JPEG conventions expect."""
    assert len(symbols) < (1 << length)
    return {sym: (code, length) for code, sym in enumerate(symbols)}


_DC_LEN, _AC_LEN = 4, 9
_AC_CODES = _canonical_codes(_AC_SYMBOLS, _AC_LEN)

# vectorized-encoder lookups: bit_length via searchsorted over powers of
# two (exact, no float log), and (run<<4|size) symbol -> canonical code
_POW2 = 2 ** np.arange(17, dtype=np.int64)


def _bitlen_arr(a: np.ndarray) -> np.ndarray:
    """Elementwise int.bit_length for non-negative int64 arrays."""
    return np.searchsorted(_POW2, a, side="right")


def _code_num_lut(codes: dict[int, tuple[int, int]]) -> np.ndarray:
    lut = np.full(256, -1, dtype=np.int64)
    for sym, (code, _ln) in codes.items():
        lut[sym] = code
    return lut


_AC_CODE_NUM = _code_num_lut(_AC_CODES)


def _dht_payload(table_class: int, table_id: int, symbols: list[int], length: int) -> bytes:
    counts = [0] * 16
    counts[length - 1] = len(symbols)
    return bytes([(table_class << 4) | table_id] + counts + symbols)


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


def _blocks_of(plane: np.ndarray) -> np.ndarray:
    """(H, W) float64, H and W multiples of 8 -> (n_blocks, 64) in raster
    block order."""
    h, w = plane.shape
    b = plane.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3)
    return b.reshape(-1, 64)


def _interleaved_blocks(
    comp_blocks, n_mcu_x: int, mcu_lo: int, mcu_hi: int, dc_shift: int = 0
):
    """Gather the blocks of MCUs [mcu_lo, mcu_hi) in interleaved scan
    order (per MCU: each component's vs*hs blocks, by-major).

    Returns (allzz [G,64] or None, dcdiff [G]) where dcdiff is the
    per-component DC differential chain (predictors start at 0, i.e. a
    restart-segment boundary).  ``dc_shift`` applies the progressive
    point transform (arithmetic >>) before differencing."""
    cnts = [hs * vs for _cid, hs, vs, *_ in comp_blocks]
    bpm = sum(cnts)
    offs = np.cumsum([0] + cnts[:-1])
    nm = mcu_hi - mcu_lo
    G = nm * bpm
    allzz = np.empty((G, 64), dtype=np.int64)
    dcdiff = np.empty(G, dtype=np.int64)
    m = np.arange(mcu_lo, mcu_hi, dtype=np.int64)
    my, mx = m // n_mcu_x, m % n_mcu_x
    for k, (_cid, hs, vs, _qid, zz, stride, _nbx, _nby) in enumerate(comp_blocks):
        by = np.arange(vs, dtype=np.int64)[None, :, None]
        bx = np.arange(hs, dtype=np.int64)[None, None, :]
        bi = (
            (my[:, None, None] * vs + by) * stride + mx[:, None, None] * hs + bx
        ).reshape(-1)
        j = np.arange(len(bi), dtype=np.int64)
        slots = (j // cnts[k]) * bpm + offs[k] + (j % cnts[k])
        rows = zz[bi]
        allzz[slots] = rows
        dc = rows[:, 0] >> dc_shift if dc_shift else rows[:, 0]
        d = np.empty_like(dc)
        d[0] = dc[0]
        d[1:] = np.diff(dc)
        dcdiff[slots] = d
    return allzz, dcdiff


def _scan_segment_entries(
    allzz: np.ndarray | None, dcdiff: np.ndarray, with_keys: bool = False
):
    """(values, lengths) for one restart segment of a sequential scan —
    the vectorized equivalent of the retired per-symbol block encoder
    (DC category + differential bits, AC run-length with ZRL/EOB),
    bit-identical to its output.  ``allzz`` None emits DC only (the
    progressive DC-first scan).  Sequential scans carry NO cross-block
    entropy state beyond the DC differential chain the caller bakes into
    ``dcdiff``, so many images' blocks may be concatenated into one call;
    ``with_keys=True`` additionally returns the sorted per-entry block
    sort keys so the caller can split the stream at image boundaries."""
    G = len(dcdiff)
    vals, lens, keys = [], [], []

    def add(v, ln, key):
        vals.append(np.asarray(v, dtype=np.int64))
        lens.append(np.asarray(ln, dtype=np.int64))
        keys.append(np.asarray(key, dtype=np.int64))

    KB = 66 * 4  # sort-key stride per block: (block, pos 0..65, sub 0..3)
    b = np.arange(G, dtype=np.int64)
    cat = _bitlen_arr(np.abs(dcdiff))
    mag = np.where(dcdiff >= 0, dcdiff, dcdiff + (1 << cat) - 1)
    add(cat, np.full(G, _DC_LEN), b * KB)  # DC code == its category
    add(mag, cat, b * KB + 1)

    if allzz is not None:
        acm = allzz[:, 1:]
        rb, pc = np.nonzero(acm)
        pos = pc + 1
        n = len(rb)
        if n:
            first = np.empty(n, dtype=bool)
            first[0] = True
            first[1:] = rb[1:] != rb[:-1]
            prevpos = np.empty_like(pos)
            prevpos[1:] = pos[:-1]
            prevpos[first] = 0
            run = pos - prevpos - 1
            av = acm[rb, pc]
            size = _bitlen_arr(np.abs(av))
            acmag = np.where(av >= 0, av, av + (1 << size) - 1)
            accode = _AC_CODE_NUM[((run & 15) << 4) | size]
            if np.any(accode < 0):
                raise ValueError("JPEG encode: AC coefficient size > 10")
            key_ac = rb * KB + pos * 4
            add(accode, np.full(n, _AC_LEN), key_ac + 1)
            add(acmag, size, key_ac + 2)
            nzrl = run >> 4
            zi = np.flatnonzero(nzrl)
            if len(zi):
                zr = np.repeat(zi, nzrl[zi])
                zc = _AC_CODES[0xF0][0]
                add(np.full(len(zr), zc), np.full(len(zr), _AC_LEN),
                    rb[zr] * KB + pos[zr] * 4)
        # EOB for blocks whose last nonzero < 63 (incl. all-zero AC)
        lastpos = np.zeros(G, dtype=np.int64)
        if n:
            lastidx = np.flatnonzero(
                np.concatenate([rb[1:] != rb[:-1], [True]])
            )
            lastpos[rb[lastidx]] = pos[lastidx]
        eb = np.flatnonzero(lastpos < 63)
        add(np.full(len(eb), _AC_CODES[0x00][0]), np.full(len(eb), _AC_LEN),
            eb * KB + 64 * 4)

    v = np.concatenate(vals)
    ln = np.concatenate(lens)
    k = np.concatenate(keys)
    order = np.argsort(k, kind="stable")
    if with_keys:
        return v[order], ln[order], k[order]
    return v[order], ln[order]


def _segment_bounds(n_mcu: int, restart_interval: int) -> list[int]:
    if not restart_interval:
        return [0, n_mcu]
    bounds = list(range(0, n_mcu, restart_interval))
    bounds.append(n_mcu)
    return bounds


def _pad_edge(plane: np.ndarray, mh: int, mw: int) -> np.ndarray:
    h, w = plane.shape
    H = (h + mh - 1) // mh * mh
    W = (w + mw - 1) // mw * mw
    return np.pad(plane, ((0, H - h), (0, W - w)), mode="edge")


def _prepare_components(img: np.ndarray, quality: int, subsample: bool):
    """Shared encoder front half: color transform, optional 4:2:0,
    per-component quantized zigzag blocks.  Returns (gray, h, w, hmax,
    vmax, n_mcu_x, n_mcu_y, qtabs, comp_blocks) where comp_blocks entries
    are (cid, hs, vs, qid, zz[n_blocks,64], padded_stride, nbx, nby) with
    nbx/nby the NON-padded block dims (what non-interleaved scans walk)."""
    img = np.asarray(img)
    gray = img.ndim == 2 or (img.ndim == 3 and img.shape[2] == 1)
    if img.ndim == 3 and img.shape[2] == 1:
        img = img[:, :, 0]
    h, w = img.shape[:2]
    ql = _quant_table(quality)
    qc = _quant_table(max(1, quality - 10))

    if gray:
        y = img.astype(np.float64)
        comps = [(1, 1, 1, 0, y)]  # id, hs, vs, qid, plane
        hmax = vmax = 1
    else:
        rgb = img.astype(np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample:
            hmax = vmax = 2
            cbp = _pad_edge(cb, 2, 2)
            crp = _pad_edge(cr, 2, 2)
            cb = cbp.reshape(cbp.shape[0] // 2, 2, cbp.shape[1] // 2, 2).mean(axis=(1, 3))
            cr = crp.reshape(crp.shape[0] // 2, 2, crp.shape[1] // 2, 2).mean(axis=(1, 3))
            comps = [(1, 2, 2, 0, y), (2, 1, 1, 1, cb), (3, 1, 1, 1, cr)]
        else:
            hmax = vmax = 1
            comps = [(1, 1, 1, 0, y), (2, 1, 1, 1, cb), (3, 1, 1, 1, cr)]

    # per-component quantized zigzag blocks in raster order, each plane
    # edge-padded to cover whole MCUs
    n_mcu_x = (w + 8 * hmax - 1) // (8 * hmax)
    n_mcu_y = (h + 8 * vmax - 1) // (8 * vmax)
    qtabs = [ql, qc]
    comp_blocks = []
    for cid, hs, vs, qid, plane in comps:
        full_h, full_w = n_mcu_y * 8 * vs, n_mcu_x * 8 * hs
        ph, pw = plane.shape
        pl = np.pad(plane, ((0, full_h - ph), (0, full_w - pw)), mode="edge")
        blocks = _blocks_of(pl - 128.0)
        coeffs = blocks @ _BASIS.T
        # _quant_table is natural-order; coeffs columns are natural-order too
        q = qtabs[qid].reshape(-1)[None, :].astype(np.float64)
        quant = np.round(coeffs / q).astype(np.int64)
        zz = quant[:, ZIGZAG]
        nbx, nby = (pw + 7) // 8, (ph + 7) // 8
        comp_blocks.append((cid, hs, vs, qid, zz, full_w // 8, nbx, nby))
    return gray, h, w, hmax, vmax, n_mcu_x, n_mcu_y, qtabs, comp_blocks


def encode_jpeg(
    img: np.ndarray,
    quality: int = 85,
    subsample: bool = True,
    restart_interval: int = 0,
) -> bytes:
    """(H, W, 3) or (H, W) uint8 -> baseline JFIF bytes.

    ``subsample=True`` emits 4:2:0 chroma (box 2x2 average);
    ``restart_interval`` > 0 emits DRI + RSTn markers every that many MCUs
    (exercises the decoder's restart path)."""
    gray, h, w, hmax, vmax, n_mcu_x, n_mcu_y, qtabs, comp_blocks = (
        _prepare_components(img, quality, subsample)
    )
    comps = [(cid, hs, vs, qid) for cid, hs, vs, qid, *_ in comp_blocks]

    # --- markers ---
    out = bytearray(JPEG_MAGIC)

    def seg(marker: int, payload: bytes) -> None:
        out.extend(struct.pack(">BBH", 0xFF, marker, len(payload) + 2))
        out.extend(payload)

    seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")  # APP0
    for qid, q in enumerate(qtabs[: 1 if gray else 2]):
        seg(0xDB, bytes([qid]) + bytes(int(v) for v in q.reshape(-1)[ZIGZAG]))
    sof = struct.pack(">BHHB", 8, h, w, len(comps))
    for cid, hs, vs, qid in comps:
        sof += bytes([cid, (hs << 4) | vs, qid])
    seg(0xC0, sof)
    ntab = 1 if gray else 2
    for tid in range(ntab):
        seg(0xC4, _dht_payload(0, tid, _DC_SYMBOLS, _DC_LEN))
        seg(0xC4, _dht_payload(1, tid, _AC_SYMBOLS, _AC_LEN))
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([len(comps)])
    for k, (cid, *_rest) in enumerate(comps):
        tid = 0 if k == 0 else (0 if gray else 1)
        sos += bytes([cid, (tid << 4) | tid])
    sos += bytes([0, 63, 0])
    seg(0xDA, sos)

    # --- entropy-coded MCU stream: one vectorized symbol-stream build
    # per restart segment, ONE bit pack for the whole image (round 16 —
    # replaces ~1.8k per-symbol Python `write` calls per 32x32 image,
    # the measured top CPU sink of the multimodal suite) ---
    from scanner_spark.kernels.bitpack import BitAssembler

    asm = BitAssembler()
    asm.add_bytes(bytes(out))
    bounds = _segment_bounds(n_mcu_x * n_mcu_y, restart_interval)
    for s, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        if s:
            asm.add_bytes(bytes((0xFF, 0xD0 + (s - 1) % 8)))
        allzz, dcdiff = _interleaved_blocks(comp_blocks, n_mcu_x, lo, hi)
        asm.add_segment(*_scan_segment_entries(allzz, dcdiff))
    asm.add_bytes(b"\xff\xd9")
    return asm.getvalue()


# progressive AC tables also need the EOBn symbols (r<<4, r=1..14);
# EOB0 is 0x00 which the sequential set already has
_AC_PROG_SYMBOLS = _AC_SYMBOLS + [r << 4 for r in range(1, 15)]
_AC_PROG_CODES = _canonical_codes(_AC_PROG_SYMBOLS, _AC_LEN)
_AC_PROG_CODE_NUM = _code_num_lut(_AC_PROG_CODES)


def _mag_bits(v: int, size: int) -> int:
    return v if v >= 0 else v + (1 << size) - 1


def _ac_first_segment_entries(V: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(values, lengths) for one restart segment of a progressive AC
    'first' scan — the single-segment view of
    :func:`_ac_first_entries_multi` (one segment spanning every block)."""
    v, ln, _unit = _ac_first_entries_multi(V, len(V))
    return v, ln


def _ac_first_entries_multi(
    V: np.ndarray, seg: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(values, lengths, unit) for a progressive AC 'first' scan over
    band-value rows ``V`` [n_units*seg, band_width] grouped into
    independent segments of ``seg`` consecutive blocks (T.81 G.1.2.2).
    Segment boundaries are EOB-run flush points and runs never cross
    them, so each ``seg``-row group encodes exactly as a standalone
    restart segment — this is what lets a whole Arrow batch of small
    images run through ONE vectorized call (round 16): per-image scans
    are per-segment slices of the returned stream, split on ``unit``
    (the segment index of each entry, non-decreasing).  Bit-identical to
    the per-symbol emitter, including the 32767 EOB-run flush cap (only
    empty blocks separate cap flushes, so deferred chunking emits the
    same symbol stream)."""
    nb, w = V.shape
    nseg = nb // seg
    vals, lens, keys = [], [], []

    def add(v, ln, key):
        vals.append(np.asarray(v, dtype=np.int64))
        lens.append(np.asarray(ln, dtype=np.int64))
        keys.append(np.asarray(key, dtype=np.int64))

    rb, pc = np.nonzero(V)
    n = len(rb)
    has = np.zeros(nb, dtype=bool)
    lastpos = np.full(nb, w - 1, dtype=np.int64)
    if n:
        has[rb] = True
        lastidx = np.flatnonzero(np.concatenate([rb[1:] != rb[:-1], [True]]))
        lastpos[rb[lastidx]] = pc[lastidx]
    # each empty block, and each nonempty block with trailing zeros, adds
    # one EOB to the pending run (consumed at the NEXT flush point);
    # flush points are each nonempty block and each segment end (a
    # same-position segment end sorts first, so the pending run flushes
    # into the ENDING segment's stream — scan-end semantics per unit)
    contrib = (~has) | (lastpos < w - 1)
    csum = np.concatenate([[0], np.cumsum(contrib)])
    fb = np.flatnonzero(has)  # flush happens before a nonempty block's symbols
    bpos = np.arange(1, nseg + 1, dtype=np.int64) * seg
    pos = np.concatenate([bpos, fb])
    prio = np.concatenate(
        [np.zeros(nseg, dtype=np.int64), np.ones(len(fb), dtype=np.int64)]
    )
    order = np.lexsort((prio, pos))
    pos, prio = pos[order], prio[order]
    runs = np.diff(np.concatenate([[0], csum[pos]]))
    nchunks = (runs + 32766) // 32767
    ch_max = int(nchunks.max()) if len(nchunks) else 0
    # sort-key layout per block: EOBn chunks first, then per-pos entries;
    # blockkey = unit * (seg + 1) + local block (slot ``seg`` = the
    # unit-end flush, ordering after every block of its own unit)
    base = 2 * ch_max
    KB = base + 3 * w + 3
    SEGK = seg + 1
    unit_f = np.where(prio == 0, pos // seg - 1, pos // seg)
    local_f = np.where(prio == 0, seg, pos % seg)
    bk_f = unit_f * SEGK + local_f
    fi = np.flatnonzero(runs)
    if len(fi):
        blocks = np.repeat(bk_f[fi], nchunks[fi])
        j = np.concatenate([np.arange(c) for c in nchunks[fi]])
        rem = np.repeat(runs[fi] % 32767, nchunks[fi])
        last = np.concatenate(
            [np.arange(c) == c - 1 for c in nchunks[fi]]
        )
        chunk = np.where(last & (rem > 0), rem, 32767)
        r = _bitlen_arr(chunk) - 1
        add(_AC_PROG_CODE_NUM[r << 4], np.full(len(chunk), _AC_LEN),
            blocks * KB + 2 * j)
        add(chunk - (1 << r), r, blocks * KB + 2 * j + 1)
    if n:
        first = np.empty(n, dtype=bool)
        first[0] = True
        first[1:] = rb[1:] != rb[:-1]
        prevpos = np.empty_like(pc)
        prevpos[1:] = pc[:-1]
        prevpos[first] = -1
        run = pc - prevpos - 1
        av = V[rb, pc]
        size = _bitlen_arr(np.abs(av))
        acmag = np.where(av >= 0, av, av + (1 << size) - 1)
        accode = _AC_PROG_CODE_NUM[((run & 15) << 4) | size]
        if np.any(accode < 0):
            raise ValueError("JPEG encode: AC coefficient size > 10")
        bk = (rb // seg) * SEGK + rb % seg
        key_ac = bk * KB + base + pc * 3
        add(accode, np.full(n, _AC_LEN), key_ac + 1)
        add(acmag, size, key_ac + 2)
        nzrl = run >> 4
        zi = np.flatnonzero(nzrl)
        if len(zi):
            zr = np.repeat(zi, nzrl[zi])
            add(np.full(len(zr), _AC_PROG_CODE_NUM[0xF0]),
                np.full(len(zr), _AC_LEN), bk[zr] * KB + base + pc[zr] * 3)
    v = np.concatenate(vals)
    ln = np.concatenate(lens)
    k = np.concatenate(keys)
    order = np.argsort(k, kind="stable")
    return v[order], ln[order], k[order] // (SEGK * KB)


def _ac_refine_segment_entries(
    band: np.ndarray, al: int
) -> tuple[np.ndarray, np.ndarray] | None:
    """(values, lengths) for one restart segment of a progressive AC
    refinement scan — the single-segment view of
    :func:`_ac_refine_entries_multi` (one segment spanning every
    block)."""
    got = _ac_refine_entries_multi(band, al, len(band))
    if got is None:
        return None
    v, ln, _unit = got
    return v, ln


def _ac_refine_entries_multi(
    band: np.ndarray, al: int, seg: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray] | None:
    """(values, lengths, unit) for a progressive AC refinement scan
    (T.81 G.1.2.3) over raw band coefficients ``band`` [n_units*seg, w]
    grouped into independent segments of ``seg`` consecutive blocks:
    newly significant coefficients emit (run,1)+sign, already-significant
    ones contribute correction bits deferred to exactly the symbol whose
    decode-side advance consumes them, EOB runs accumulate across blocks
    and flush (first chunk carrying the pending correction bits) at the
    next nonempty block or segment end — runs never cross a segment
    boundary, so each group encodes exactly as a standalone restart
    segment (the round-16 whole-Arrow-batch path; per-image scans are
    per-segment slices split on the non-decreasing ``unit`` array).
    Bit-identical to the per-symbol :class:`_ProgACWriter` path; returns
    None when an EOB run reaches the 32767 cap (a >=32767-block empty
    stretch inside one segment), where the incremental cap-flush
    interleaving differs — callers fall back to the per-symbol writer."""
    nb, w = band.shape
    nseg = nb // seg
    A = np.abs(band) >> al
    newm = A == 1
    oldm = A >= 2
    cumz = np.cumsum(A == 0, axis=1) - (A == 0)  # zeros strictly before col
    newc = np.cumsum(newm, axis=1)  # newlies at-or-before col
    m_row = newc[:, -1] if w else np.zeros(nb, dtype=np.int64)
    has = m_row > 0
    # per-row last newly (for the tail-EOB contribution test)
    rbN, pcN = np.nonzero(newm)
    nN = len(rbN)
    lastnew = np.full(nb, w, dtype=np.int64)  # sentinel: no tail for w-1
    if nN:
        lastidx = np.flatnonzero(np.concatenate([rbN[1:] != rbN[:-1], [True]]))
        lastnew[rbN[lastidx]] = pcN[lastidx]
    contrib = (~has) | (lastnew < w - 1)
    csum = np.concatenate([[0], np.cumsum(contrib)])
    fb = np.flatnonzero(has)
    # flush points: nonempty blocks + each segment end; a same-position
    # segment end sorts first so pending runs/corrections flush into the
    # ENDING segment's stream (scan-end semantics per unit)
    bpos = np.arange(1, nseg + 1, dtype=np.int64) * seg
    pos = np.concatenate([bpos, fb])
    prio = np.concatenate(
        [np.zeros(nseg, dtype=np.int64), np.ones(len(fb), dtype=np.int64)]
    )
    order = np.lexsort((prio, pos))
    pos, prio = pos[order], prio[order]
    runs = np.diff(np.concatenate([[0], csum[pos]]))
    if bool(np.any(runs >= 32767)):
        return None
    SEGK = seg + 1
    unit_f = np.where(prio == 0, pos // seg - 1, pos // seg)
    local_f = np.where(prio == 0, seg, pos % seg)
    bk_f = unit_f * SEGK + local_f
    vals, lens, kb, kr, kt = [], [], [], [], []

    def add(v, ln, b, region, tert):
        n = len(np.atleast_1d(np.asarray(v)))
        vals.append(np.asarray(v, dtype=np.int64).reshape(-1))
        lens.append(np.broadcast_to(np.asarray(ln, dtype=np.int64), (n,)))
        kb.append(np.broadcast_to(np.asarray(b, dtype=np.int64), (n,)))
        kr.append(np.broadcast_to(np.asarray(region, dtype=np.int64), (n,)))
        kt.append(np.broadcast_to(np.asarray(tert, dtype=np.int64), (n,)))

    # region 0: EOBn symbol + extra bits at each flush (runs < 32767 so
    # exactly one chunk); region 2 pending bits follow it
    fi = np.flatnonzero(runs)
    if len(fi):
        run = runs[fi]
        r = _bitlen_arr(run) - 1
        fblk = bk_f[fi]
        add(_AC_PROG_CODE_NUM[r << 4], _AC_LEN, fblk, 0, 0)
        add(run - (1 << r), r, fblk, 0, 1)
    # pending correction bits: old coefficients in the tail of a
    # contributing block (whole block when empty), consumed by the first
    # flush after their block, ordered by (source block, position)
    rbO, pcO = np.nonzero(oldm)
    if len(rbO):
        cnb = newc[rbO, pcO]
        tail = cnb == m_row[rbO]
        if bool(np.any(tail)):
            tb, tp = rbO[tail], pcO[tail]
            consume = bk_f[np.searchsorted(pos, tb, side="right")]
            add(A[tb, tp] & 1, 1, consume, 2, tb * w + tp)
        ingap = ~tail
    else:
        ingap = np.zeros(0, dtype=bool)

    # per-newly gap facts (gap of newly j spans (prev newly, t_j))
    W1 = w + 1
    if nN:
        bkN = (rbN // seg) * SEGK + rbN % seg
        firstN = np.empty(nN, dtype=bool)
        firstN[0] = True
        firstN[1:] = rbN[1:] != rbN[:-1]
        prevN = np.empty_like(pcN)
        prevN[1:] = pcN[:-1]
        prevN[firstN] = -1
        gs = prevN + 1  # gap start
        zgap = cumz[rbN, pcN] - cumz[rbN, gs]
        nzrl = zgap >> 4
        remz = zgap & 15
        big3 = (3 * ((w >> 4) + 2) + 6) * W1
        # newly symbol ((remaining zeros)<<4 | 1), then the sign bit
        esym = 3 * (nzrl + 1)
        add(_AC_PROG_CODE_NUM[(remz << 4) | 1], _AC_LEN, bkN, 4,
            pcN * big3 + esym * W1)
        add((band[rbN, pcN] > 0).astype(np.int64), 1, bkN, 4,
            pcN * big3 + esym * W1 + 1)
        # ZRL symbols: k-th at slot 3k (k=1..nzrl)
        zi = np.flatnonzero(nzrl)
        if len(zi):
            zrep = np.repeat(zi, nzrl[zi])
            kk = np.concatenate([np.arange(1, c + 1) for c in nzrl[zi]])
            add(np.full(len(zrep), _AC_PROG_CODE_NUM[0xF0]), _AC_LEN,
                bkN[zrep], 4, pcN[zrep] * big3 + (3 * kk) * W1)
        # row offsets into the flattened newly list, for per-old gathers
        rowoffN = np.zeros(nb + 1, dtype=np.int64)
        np.add.at(rowoffN, rbN + 1, 1)
        rowoffN = np.cumsum(rowoffN)
        if bool(np.any(ingap)):
            gb, gp = rbO[ingap], pcO[ingap]
            j = newc[gb, gp]  # 0-based index of the closing newly
            ni = rowoffN[gb] + j
            t = pcN[ni]
            zo = cumz[gb, gp] - cumz[gb, gs[ni]]
            s = zo >> 4
            # segment k=s+1 corrections sit at slot 3(s+1)+1; the final
            # group (s == nzrl) at slot 3(nzrl+1)+2
            final = s == nzrl[ni]
            slot = np.where(final, 3 * (nzrl[ni] + 1) + 2, 3 * (s + 1) + 1)
            add(A[gb, gp] & 1, 1, (gb // seg) * SEGK + gb % seg, 4,
                t * big3 + slot * W1 + gp + 1)
    if not vals:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z
    v = np.concatenate(vals)
    ln = np.concatenate(lens)
    kbc = np.concatenate(kb)
    order = np.lexsort((np.concatenate(kt), np.concatenate(kr), kbc))
    return v[order], ln[order], kbc[order] // SEGK


class _ProgACWriter:
    """Progressive AC *refinement* emitter — the fallback path for
    refine segments whose EOB run reaches the 32767 cap (the 'first'
    scans and ordinary refine segments are vectorized by
    :func:`_ac_first_segment_entries` / :func:`_ac_refine_segment_
    entries`): EOB-run accumulation plus the correction-bit buffer (bits
    deferred until the next emitted symbol, matching the decoder's
    consumption order).  Writes go to a deferred :class:`~scanner_spark.
    kernels.bitpack.VecWriter`; bits are packed once per restart
    segment."""

    def __init__(self, writer) -> None:
        self.w = writer
        self.eobrun = 0
        self.pending: list[int] = []

    def _emit_pending(self) -> None:
        p = self.pending
        if p:
            # fold the bit list into <=32-bit fields (one deferred entry
            # per chunk instead of one per bit)
            for i in range(0, len(p), 32):
                chunk = p[i : i + 32]
                acc = 0
                for b in chunk:
                    acc = (acc << 1) | b
                self.w.write(acc, len(chunk))
            p.clear()

    def symbol(self, sym: int) -> None:
        code, ln = _AC_PROG_CODES[sym]
        self.w.write(code, ln)

    def flush_eob(self) -> None:
        while self.eobrun:
            run = min(self.eobrun, 32767)
            r = run.bit_length() - 1
            self.symbol(r << 4)
            if r:
                self.w.write(run - (1 << r), r)
            self._emit_pending()
            self.eobrun -= run

    def ac_first_block(self, vals: list[int]) -> None:
        """One block of an AC 'first' scan: ``vals`` are the band's
        point-transformed coefficients (trunc toward zero by 2^Al).
        Small-image path; large scans go through
        :func:`_ac_first_segment_entries`."""
        nz = [i for i, v in enumerate(vals) if v]
        if not nz:
            self.eobrun += 1
            if self.eobrun == 32767:
                self.flush_eob()
            return
        self.flush_eob()
        run, last = 0, nz[-1]
        for i, v in enumerate(vals[: last + 1]):
            if v == 0:
                run += 1
                continue
            while run > 15:
                self.symbol(0xF0)
                run -= 16
            size = abs(v).bit_length()
            self.symbol((run << 4) | size)
            self.w.write(_mag_bits(v, size), size)
            run = 0
        if last < len(vals) - 1:
            self.eobrun += 1
            if self.eobrun == 32767:
                self.flush_eob()

    def ac_refine_block(self, band_coeffs: list[int], al: int,
                        absv: list[int] | None = None) -> None:
        """One block of an AC refinement scan (Ah = Al+1 -> Al): newly
        significant coefficients emit (run,1)+sign; already-significant
        ones contribute correction bits, deferred and flushed with
        exactly the symbol whose decode-side advance consumes them.
        ``absv`` (|c| >> al) may be precomputed by the caller — the scan
        loop batches it with one numpy pass over all blocks."""
        if absv is None:
            absv = [abs(c) >> al for c in band_coeffs]
        newly = [i for i, a in enumerate(absv) if a == 1]
        if not newly:
            for a in absv:
                if a >= 2:
                    self.pending.append(a & 1)
            self.eobrun += 1
            if self.eobrun == 32767:
                self.flush_eob()
            return
        self.flush_eob()
        pos = 0  # next band position the decoder's advance will visit
        for t in newly:
            zeros = [i for i in range(pos, t) if absv[i] == 0]
            while len(zeros) > 15:
                # ZRL: the decoder skips 16 zero-history zeros, consuming
                # correction bits for already-significant coefficients it
                # passes BEFORE the 16th zero — flush exactly those
                sixteenth = zeros[15]
                self.symbol(0xF0)
                for i in range(pos, sixteenth):
                    if absv[i] >= 2:
                        self.pending.append(absv[i] & 1)
                self._emit_pending()
                pos = sixteenth + 1
                zeros = zeros[16:]
            self.symbol((len(zeros) << 4) | 1)
            self.w.write(1 if band_coeffs[t] > 0 else 0, 1)
            for i in range(pos, t):
                if absv[i] >= 2:
                    self.pending.append(absv[i] & 1)
            self._emit_pending()
            pos = t + 1
        if pos < len(absv):  # band tail: covered by an EOB
            for i in range(pos, len(absv)):
                if absv[i] >= 2:
                    self.pending.append(absv[i] & 1)
            self.eobrun += 1
            if self.eobrun == 32767:
                self.flush_eob()


def encode_jpeg_progressive(
    img: np.ndarray, quality: int = 85, subsample: bool = True,
    restart_interval: int = 0,
) -> bytes:
    """(H, W, 3) or (H, W) uint8 -> progressive JFIF bytes (SOF2).

    Emits a successive-approximation scan script that exercises every
    progressive decode path: interleaved DC first at Al=1, per-component
    AC first scans for bands 1-5 and 6-63 at Al=1, the matching AC
    refinement scans at Al=0, and a final DC refinement scan.  The same
    quantized coefficients as :func:`encode_jpeg` are transmitted, so
    both encodings decode to IDENTICAL pixels (T.81 Annex G).

    ``restart_interval`` > 0 emits DRI + RSTn markers every that many
    MCUs in every scan (in non-interleaved AC scans an MCU is one block,
    §G.1): EOB runs and DC predictors reset at each marker, matching
    what foreign progressive encoders emit."""
    gray, h, w, hmax, vmax, n_mcu_x, n_mcu_y, qtabs, comp_blocks = (
        _prepare_components(img, quality, subsample)
    )
    out = bytearray(JPEG_MAGIC)

    def seg(marker: int, payload: bytes) -> None:
        out.extend(struct.pack(">BBH", 0xFF, marker, len(payload) + 2))
        out.extend(payload)

    seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for qid, q in enumerate(qtabs[: 1 if gray else 2]):
        seg(0xDB, bytes([qid]) + bytes(int(v) for v in q.reshape(-1)[ZIGZAG]))
    sof = struct.pack(">BHHB", 8, h, w, len(comp_blocks))
    for cid, hs, vs, qid, *_ in comp_blocks:
        sof += bytes([cid, (hs << 4) | vs, qid])
    seg(0xC2, sof)  # SOF2: progressive DCT
    ntab = 1 if gray else 2
    for tid in range(ntab):
        seg(0xC4, _dht_payload(0, tid, _DC_SYMBOLS, _DC_LEN))
        seg(0xC4, _dht_payload(1, tid, _AC_PROG_SYMBOLS, _AC_LEN))
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))

    def ac_table(k: int) -> int:
        return 0 if (k == 0 or gray) else 1

    # every scan below is emitted per restart segment as a (values,
    # lengths) symbol stream; the whole image takes ONE bit pack via the
    # assembler (13 per-scan packs were the measured overhead on small
    # images), with RSTn (cycling 0-7 per scan) joining segments —
    # bit-identical to the retired per-symbol writer path (round 16)
    from scanner_spark.kernels.bitpack import BitAssembler, VecWriter

    asm = BitAssembler()
    asm.add_bytes(bytes(out))
    del seg  # headers below this point go through the assembler

    def sos_header(comp_sel, ss, se, ah, al):
        payload = bytes([len(comp_sel)])
        for cid, dc_t, ac_t in comp_sel:
            payload += bytes([cid, (dc_t << 4) | ac_t])
        payload += bytes([ss, se, (ah << 4) | al])
        asm.add_bytes(struct.pack(">BBH", 0xFF, 0xDA, len(payload) + 2)
                      + payload)

    def emit_segments(n_units: int, seg_entries) -> None:
        bounds = _segment_bounds(n_units, restart_interval)
        for s, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
            if s:
                asm.add_bytes(bytes((0xFF, 0xD0 + (s - 1) % 8)))
            asm.add_segment(*seg_entries(lo, hi))

    def writer_seg(blocks_fn) -> tuple[np.ndarray, np.ndarray]:
        """Per-symbol small-image path: run ``blocks_fn(prog)`` over a
        _ProgACWriter and hand its deferred entries to the assembler."""
        wv = VecWriter()
        prog = _ProgACWriter(wv)
        blocks_fn(prog)
        prog.flush_eob()
        return wv.entries()

    n_mcu = n_mcu_x * n_mcu_y

    # --- scan 1: DC first, interleaved, Al=1 ---
    sos_header([(cb[0], 0 if (k == 0 or gray) else 1, 0)
                 for k, cb in enumerate(comp_blocks)], 0, 0, 0, 1)
    emit_segments(n_mcu, lambda lo, hi: _scan_segment_entries(
        None, _interleaved_blocks(comp_blocks, n_mcu_x, lo, hi, dc_shift=1)[1]))

    bands = [(1, 5), (6, 63)]
    # --- AC first scans: per component, per band, Al=1 ---
    # numpy's fixed per-op cost beats the per-symbol loop only with
    # enough coefficients in the scan; below the cutover the Python
    # emitter wins (tiny fixture images), above it the vectorized
    # builder does (both are pinned bit-identical)
    VEC_MIN = 4096
    for k, (cid, hs, vs, qid, zz, stride, nbx, nby) in enumerate(comp_blocks):
        bidx = (np.arange(nby)[:, None] * stride + np.arange(nbx)).reshape(-1)
        for ss, se in bands:
            sos_header([(cid, 0, ac_table(k))], ss, se, 0, 1)
            band = zz[bidx][:, ss : se + 1]
            V = np.where(band >= 0, band >> 1, -((-band) >> 1))  # trunc, Al=1
            if V.size >= VEC_MIN:
                emit_segments(len(bidx), lambda lo, hi, V=V:
                              _ac_first_segment_entries(V[lo:hi]))
            else:
                Vl = V.tolist()

                def first_seg(lo: int, hi: int, Vl=Vl):
                    return writer_seg(lambda prog: [
                        prog.ac_first_block(Vl[b]) for b in range(lo, hi)])

                emit_segments(len(bidx), first_seg)
    # --- AC refinement scans: Ah=1 -> Al=0 ---
    for k, (cid, hs, vs, qid, zz, stride, nbx, nby) in enumerate(comp_blocks):
        bidx = (np.arange(nby)[:, None] * stride + np.arange(nbx)).reshape(-1)
        for ss, se in bands:
            sos_header([(cid, 0, ac_table(k))], ss, se, 1, 0)
            band = zz[bidx][:, ss : se + 1]
            bandl = absl = None  # built for the small path / rare fallback

            def refine_seg(lo: int, hi: int, band=band):
                nonlocal bandl, absl
                if band.size >= VEC_MIN:
                    got = _ac_refine_segment_entries(band[lo:hi], 0)
                    if got is not None:
                        return got
                    # >=32767-block EOB run: cap-flush interleaving of
                    # pending bits needs the per-symbol writer
                if bandl is None:
                    bandl = band.tolist()
                    absl = np.abs(band).tolist()
                return writer_seg(lambda prog: [
                    prog.ac_refine_block(bandl[b], 0, absl[b])
                    for b in range(lo, hi)])

            emit_segments(len(bidx), refine_seg)
    # --- DC refinement: interleaved, Ah=1 -> Al=0 (raw bits, no table) ---
    sos_header([(cb[0], 0, 0) for cb in comp_blocks], 0, 0, 1, 0)

    def dc_refine_seg(lo: int, hi: int):
        allzz, _ = _interleaved_blocks(comp_blocks, n_mcu_x, lo, hi)
        bits = allzz[:, 0] & 1
        return bits, np.ones(len(bits), dtype=np.int64)

    emit_segments(n_mcu, dc_refine_seg)
    asm.add_bytes(b"\xff\xd9")
    return asm.getvalue()


def _prepare_components_batch(arrs: list[np.ndarray], quality: int,
                              subsample: bool):
    """Batched :func:`_prepare_components` over same-shape images:
    the color transform, 4:2:0 box average, edge padding, quantization
    and zigzag reorder run once over the stacked array (all elementwise
    or fixed-order reductions, so per-pixel float results are identical
    to the per-image path); ONLY the DCT matmul stays per image — BLAS
    picks different accumulation kernels for different row counts, so a
    stacked (n*nb, 64) @ (64, 64) product is NOT bit-identical to n
    separate (nb, 64) products (verified empirically) and byte-identical
    payloads are the contract.  Returns the same geometry tuple with
    stacked ``zz`` arrays [n, n_blocks, 64]."""
    img = np.stack(arrs)
    gray = img.ndim == 3 or (img.ndim == 4 and img.shape[3] == 1)
    if img.ndim == 4 and img.shape[3] == 1:
        img = img[:, :, :, 0]
    n, h, w = img.shape[:3]
    ql = _quant_table(quality)
    qc = _quant_table(max(1, quality - 10))

    if gray:
        y = img.astype(np.float64)
        comps = [(1, 1, 1, 0, y)]
        hmax = vmax = 1
    else:
        rgb = img.astype(np.float64)
        r, g, b = rgb[:, :, :, 0], rgb[:, :, :, 1], rgb[:, :, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample:
            hmax = vmax = 2
            H2 = (h + 1) // 2 * 2
            W2 = (w + 1) // 2 * 2
            cbp = np.pad(cb, ((0, 0), (0, H2 - h), (0, W2 - w)), mode="edge")
            crp = np.pad(cr, ((0, 0), (0, H2 - h), (0, W2 - w)), mode="edge")
            cb = cbp.reshape(n, H2 // 2, 2, W2 // 2, 2).mean(axis=(2, 4))
            cr = crp.reshape(n, H2 // 2, 2, W2 // 2, 2).mean(axis=(2, 4))
            comps = [(1, 2, 2, 0, y), (2, 1, 1, 1, cb), (3, 1, 1, 1, cr)]
        else:
            hmax = vmax = 1
            comps = [(1, 1, 1, 0, y), (2, 1, 1, 1, cb), (3, 1, 1, 1, cr)]

    n_mcu_x = (w + 8 * hmax - 1) // (8 * hmax)
    n_mcu_y = (h + 8 * vmax - 1) // (8 * vmax)
    qtabs = [ql, qc]
    comp_blocks = []
    for cid, hs, vs, qid, plane in comps:
        full_h, full_w = n_mcu_y * 8 * vs, n_mcu_x * 8 * hs
        ph, pw = plane.shape[1:3]
        pl = np.pad(plane, ((0, 0), (0, full_h - ph), (0, full_w - pw)),
                    mode="edge")
        shifted = pl - 128.0
        blocks = shifted.reshape(
            n, full_h // 8, 8, full_w // 8, 8
        ).transpose(0, 1, 3, 2, 4).reshape(n, -1, 64)
        coeffs = np.empty_like(blocks)
        bt = _BASIS.T
        for i in range(n):  # per image: bit-identical to the scalar path
            coeffs[i] = blocks[i] @ bt
        q = qtabs[qid].reshape(-1)[None, None, :].astype(np.float64)
        quant = np.round(coeffs / q).astype(np.int64)
        zz = quant[:, :, ZIGZAG]
        nbx, nby = (pw + 7) // 8, (ph + 7) // 8
        comp_blocks.append((cid, hs, vs, qid, zz, full_w // 8, nbx, nby))
    return gray, h, w, hmax, vmax, n_mcu_x, n_mcu_y, qtabs, comp_blocks


def _split_units(v: np.ndarray, ln: np.ndarray, unit: np.ndarray, nimg: int):
    """Per-image (values, lengths) slices of a multi-segment entry
    stream (``unit`` is non-decreasing)."""
    cuts = np.searchsorted(unit, np.arange(1, nimg))
    return list(zip(np.split(v, cuts), np.split(ln, cuts)))


def _encode_prog_group(imgs, quality: int, subsample: bool) -> list[bytes]:
    """Batched progressive encode of same-shape images: every AC scan of
    every image runs through ONE vectorized multi-segment builder call
    (image boundary == restart-segment boundary), so the per-symbol
    Python path and the 13-per-image numpy fixed costs are amortized
    over the whole batch.  Byte-identical to per-image
    :func:`encode_jpeg_progressive` (pinned in test_kernels)."""
    from scanner_spark.kernels.bitpack import BitAssembler

    gray, h, w, hmax, vmax, n_mcu_x, n_mcu_y, qtabs, cb0 = (
        _prepare_components_batch([np.asarray(im) for im in imgs],
                                  quality, subsample)
    )
    nimg = len(imgs)
    ncomp = len(cb0)
    ZZ = [cb0[k][4] for k in range(ncomp)]

    # --- headers: identical for every image of the group ---
    out = bytearray(JPEG_MAGIC)

    def seg(marker: int, payload: bytes) -> None:
        out.extend(struct.pack(">BBH", 0xFF, marker, len(payload) + 2))
        out.extend(payload)

    seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for qid, q in enumerate(qtabs[: 1 if gray else 2]):
        seg(0xDB, bytes([qid]) + bytes(int(v) for v in q.reshape(-1)[ZIGZAG]))
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for cid, hs, vs, qid, *_ in cb0:
        sof += bytes([cid, (hs << 4) | vs, qid])
    seg(0xC2, sof)
    ntab = 1 if gray else 2
    for tid in range(ntab):
        seg(0xC4, _dht_payload(0, tid, _DC_SYMBOLS, _DC_LEN))
        seg(0xC4, _dht_payload(1, tid, _AC_PROG_SYMBOLS, _AC_LEN))
    header = bytes(out)

    def sos_bytes(comp_sel, ss, se, ah, al) -> bytes:
        payload = bytes([len(comp_sel)])
        for cid, dc_t, ac_t in comp_sel:
            payload += bytes([cid, (dc_t << 4) | ac_t])
        payload += bytes([ss, se, (ah << 4) | al])
        return struct.pack(">BBH", 0xFF, 0xDA, len(payload) + 2) + payload

    def ac_table(k: int) -> int:
        return 0 if (k == 0 or gray) else 1

    # --- interleaved gather, batched: the index maps are geometry-only,
    # so they are built once and applied to the stacked zz arrays; the
    # per-component DC differential chains diff along the block axis per
    # image (predictors reset at image start by construction) ---
    cnts = [hs * vs for _cid, hs, vs, *_ in cb0]
    bpm = sum(cnts)
    offs = np.cumsum([0] + cnts[:-1])
    n_mcu = n_mcu_x * n_mcu_y
    G = n_mcu * bpm
    allzz0 = np.empty((nimg, G), dtype=np.int64)  # zigzag slot 0 only
    dcdiff = np.empty((nimg, G), dtype=np.int64)
    m = np.arange(n_mcu, dtype=np.int64)
    my, mx = m // n_mcu_x, m % n_mcu_x
    for k, (_cid, hs, vs, _qid, _zz, stride, _nbx, _nby) in enumerate(cb0):
        by = np.arange(vs, dtype=np.int64)[None, :, None]
        bx = np.arange(hs, dtype=np.int64)[None, None, :]
        bi = (
            (my[:, None, None] * vs + by) * stride + mx[:, None, None] * hs + bx
        ).reshape(-1)
        j = np.arange(len(bi), dtype=np.int64)
        slots = (j // cnts[k]) * bpm + offs[k] + (j % cnts[k])
        dc0 = ZZ[k][:, bi, 0]
        allzz0[:, slots] = dc0
        dc = dc0 >> 1  # scan-1 point transform (Al=1)
        d = np.empty_like(dc)
        d[:, 0] = dc[:, 0]
        d[:, 1:] = np.diff(dc, axis=1)
        dcdiff[:, slots] = d

    scans: list[tuple[bytes, list]] = []
    # scan 1: DC first, interleaved, Al=1 — one builder call over the
    # concatenated per-image chains; entries are exactly 2 per block so
    # the per-image split is equal slices
    v1, l1 = _scan_segment_entries(None, dcdiff.reshape(-1))
    scans.append((
        sos_bytes([(cb[0], 0 if (kk == 0 or gray) else 1, 0)
                   for kk, cb in enumerate(cb0)], 0, 0, 0, 1),
        list(zip(np.split(v1, nimg), np.split(l1, nimg))),
    ))
    bands = [(1, 5), (6, 63)]
    band_stacks = {}
    for k, (cid, hs, vs, qid, _zz, stride, nbx, nby) in enumerate(cb0):
        bidx = (np.arange(nby)[:, None] * stride + np.arange(nbx)).reshape(-1)
        band_stacks[k] = ZZ[k][:, bidx, :]
    # AC first scans: per component, per band, Al=1
    for k, (cid, *_rest) in enumerate(cb0):
        full = band_stacks[k]
        nbk = full.shape[1]
        for ss, se in bands:
            band = full[:, :, ss : se + 1].reshape(nimg * nbk, se - ss + 1)
            V = np.where(band >= 0, band >> 1, -((-band) >> 1))
            v, ln, unit = _ac_first_entries_multi(V, nbk)
            scans.append((sos_bytes([(cid, 0, ac_table(k))], ss, se, 0, 1),
                          _split_units(v, ln, unit, nimg)))
    # AC refinement scans: Ah=1 -> Al=0
    for k, (cid, *_rest) in enumerate(cb0):
        full = band_stacks[k]
        nbk = full.shape[1]
        for ss, se in bands:
            band = full[:, :, ss : se + 1].reshape(nimg * nbk, se - ss + 1)
            got = _ac_refine_entries_multi(band, 0, nbk)
            if got is None:  # unreachable for seg < 32767; stay safe
                return [encode_jpeg_progressive(np.asarray(im), quality,
                                                subsample) for im in imgs]
            v, ln, unit = got
            scans.append((sos_bytes([(cid, 0, ac_table(k))], ss, se, 1, 0),
                          _split_units(v, ln, unit, nimg)))
    # DC refinement: raw LSBs, one bit per block
    bits = allzz0 & 1
    ones = np.ones(G, dtype=np.int64)
    scans.append((sos_bytes([(cb[0], 0, 0) for cb in cb0], 0, 0, 1, 0),
                  [(bits[i], ones) for i in range(nimg)]))

    # one assembler (= ONE pack_bits) for the whole group; per-image
    # payloads split at the recorded piece marks
    asm = BitAssembler()
    marks = []
    for i in range(nimg):
        marks.append(asm.mark())
        asm.add_bytes(header)
        for sos, per_img in scans:
            asm.add_bytes(sos)
            vi, li = per_img[i]
            asm.add_segment(vi, li)
        asm.add_bytes(b"\xff\xd9")
    return asm.getvalues(marks)


def encode_jpeg_progressive_batch(
    imgs, quality: int = 85, subsample: bool = True
) -> list[bytes]:
    """Progressive-encode a batch of images, byte-identical to calling
    :func:`encode_jpeg_progressive` per image (restart_interval=0).

    Images are grouped by shape; each group's scans run through ONE
    vectorized multi-segment builder call instead of 13 per-image calls
    (or the per-symbol path below ``VEC_MIN``) — the round-16 lever for
    small-image corpora, where per-image fixed costs dominate.  Groups
    are chunked so the stacked coefficient arrays stay under ~64 MB."""
    return _encode_batched(imgs, quality, subsample, encode_jpeg_progressive,
                           _encode_prog_group)


def _encode_batched(imgs, quality, subsample, one_fn, group_fn) -> list[bytes]:
    """Shape-group + memory-chunk driver shared by the batch encoders."""
    out: list[bytes | None] = [None] * len(imgs)
    groups: dict[tuple, list[int]] = {}
    arrs = [np.asarray(im) for im in imgs]
    for i, a in enumerate(arrs):
        groups.setdefault(a.shape, []).append(i)
    for shape, idxs in groups.items():
        if len(idxs) < 4:  # batching has nothing to amortize
            for i in idxs:
                out[i] = one_fn(arrs[i], quality, subsample)
            continue
        # chunk size is L2-deliberate, not memory-bound: with 32 encode
        # workers per box the whole-batch variant measured SLOWER than
        # per-image (cache thrash), while ~64-image chunks at 32x32
        # (~0.8 MB of stacked coefficients) ran 2.7x faster than
        # per-image under full parallelism — same phenomenon and remedy
        # as the round-15 512-frame image-kernel chunk
        npx = int(np.prod(shape))
        per = max(4, (768 << 10) // max(1, npx * 4))
        for s in range(0, len(idxs), per):
            chunk = idxs[s : s + per]
            for i, payload in zip(
                chunk,
                group_fn([arrs[i] for i in chunk], quality, subsample),
            ):
                out[i] = payload
    return out


def _encode_base_group(imgs, quality: int, subsample: bool) -> list[bytes]:
    """Batched baseline encode of same-shape images: the single
    sequential scan of every image runs through ONE builder call — legal
    because baseline entropy coding has no cross-block state beyond the
    DC differential chain, which the batched gather computes per image.
    Byte-identical to per-image :func:`encode_jpeg`."""
    from scanner_spark.kernels.bitpack import BitAssembler

    gray, h, w, hmax, vmax, n_mcu_x, n_mcu_y, qtabs, cb0 = (
        _prepare_components_batch([np.asarray(im) for im in imgs],
                                  quality, subsample)
    )
    nimg = len(imgs)
    ncomp = len(cb0)

    out = bytearray(JPEG_MAGIC)

    def seg(marker: int, payload: bytes) -> None:
        out.extend(struct.pack(">BBH", 0xFF, marker, len(payload) + 2))
        out.extend(payload)

    seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for qid, q in enumerate(qtabs[: 1 if gray else 2]):
        seg(0xDB, bytes([qid]) + bytes(int(v) for v in q.reshape(-1)[ZIGZAG]))
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for cid, hs, vs, qid, *_ in cb0:
        sof += bytes([cid, (hs << 4) | vs, qid])
    seg(0xC0, sof)
    ntab = 1 if gray else 2
    for tid in range(ntab):
        seg(0xC4, _dht_payload(0, tid, _DC_SYMBOLS, _DC_LEN))
        seg(0xC4, _dht_payload(1, tid, _AC_SYMBOLS, _AC_LEN))
    sos = bytes([ncomp])
    for k, (cid, *_rest) in enumerate(cb0):
        tid = 0 if k == 0 else (0 if gray else 1)
        sos += bytes([cid, (tid << 4) | tid])
    sos += bytes([0, 63, 0])
    seg(0xDA, sos)
    header = bytes(out)

    # batched interleaved gather: index maps are geometry-only; DC
    # differential chains diff along the block axis per image
    cnts = [hs * vs for _cid, hs, vs, *_ in cb0]
    bpm = sum(cnts)
    offs = np.cumsum([0] + cnts[:-1])
    n_mcu = n_mcu_x * n_mcu_y
    G = n_mcu * bpm
    allzz = np.empty((nimg, G, 64), dtype=np.int64)
    dcdiff = np.empty((nimg, G), dtype=np.int64)
    m = np.arange(n_mcu, dtype=np.int64)
    my, mx = m // n_mcu_x, m % n_mcu_x
    for k, (_cid, hs, vs, _qid, zz, stride, _nbx, _nby) in enumerate(cb0):
        by = np.arange(vs, dtype=np.int64)[None, :, None]
        bx = np.arange(hs, dtype=np.int64)[None, None, :]
        bi = (
            (my[:, None, None] * vs + by) * stride + mx[:, None, None] * hs + bx
        ).reshape(-1)
        j = np.arange(len(bi), dtype=np.int64)
        slots = (j // cnts[k]) * bpm + offs[k] + (j % cnts[k])
        rows = zz[:, bi, :]
        allzz[:, slots, :] = rows
        dc = rows[:, :, 0]
        d = np.empty_like(dc)
        d[:, 0] = dc[:, 0]
        d[:, 1:] = np.diff(dc, axis=1)
        dcdiff[:, slots] = d

    v, ln, keys = _scan_segment_entries(
        allzz.reshape(nimg * G, 64), dcdiff.reshape(-1), with_keys=True
    )
    KB = 66 * 4
    unit = keys // (G * KB)
    per_img = _split_units(v, ln, unit, nimg)

    asm = BitAssembler()
    marks = []
    for i in range(nimg):
        marks.append(asm.mark())
        asm.add_bytes(header)
        vi, li = per_img[i]
        asm.add_segment(vi, li)
        asm.add_bytes(b"\xff\xd9")
    return asm.getvalues(marks)


def encode_jpeg_batch(
    imgs, quality: int = 85, subsample: bool = True
) -> list[bytes]:
    """Baseline-encode a batch of images, byte-identical to calling
    :func:`encode_jpeg` per image (restart_interval=0) — shape-grouped
    and memory-chunked like :func:`encode_jpeg_progressive_batch`."""
    return _encode_batched(
        imgs, quality, subsample,
        lambda a, q, s: encode_jpeg(a, q, subsample=s), _encode_base_group)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def _window_words(raw: bytes) -> list[int]:
    """Per-byte 32-bit big-endian windows over the destuffed entropy
    bytes (padded with 1-bits past the end, per spec), as a Python list.

    ``w32[off >> 3]`` holds bits [8*(off>>3), +32); shifting left by
    ``off & 7`` and masking to 32 bits puts bit ``off`` at the MSB — one
    list index + two int ops per peek, which is what makes the
    per-symbol Huffman loop cheap in Python (the entropy decode is
    inherently sequential; everything after it is vectorized numpy)."""
    d = np.frombuffer(raw + b"\xff" * 8, dtype=np.uint8).astype(np.int64)
    w = (d[:-3] << 24) | (d[1:-2] << 16) | (d[2:-1] << 8) | d[3:]
    return w.tolist()


# (counts, symbols) -> decode LUT; JPEG tables repeat across payloads
# (every image from one encoder ships the same DHT), so table construction
# is paid once per distinct table per worker, not once per image
_HUFF_CACHE: dict[tuple[bytes, bytes], "_Huff"] = {}


class _Huff:
    """Canonical Huffman table with a flat 16-bit lookup: all JPEG codes
    are <= 16 bits, so ``lut[peek16]`` yields the packed action
    ``(symbol << 5) | code_length`` (-1 for an invalid code) in one
    Python list index — symbol AND length in a single read, no numpy
    scalar boxing in the hot loop."""

    __slots__ = ("lut",)

    def __init__(self, counts: list[int], symbols: bytes) -> None:
        sym = np.zeros(1 << 16, dtype=np.int32)
        ln = np.zeros(1 << 16, dtype=np.int32)  # 0 = invalid code
        code, k = 0, 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                lo = code << (16 - length)
                hi = lo + (1 << (16 - length))
                sym[lo:hi] = symbols[k]
                ln[lo:hi] = length
                code += 1
                k += 1
            code <<= 1
        self.lut = np.where(ln == 0, -1, (sym << 5) | ln).tolist()

    @classmethod
    def cached(cls, counts: list[int], symbols: bytes) -> "_Huff":
        key = (bytes(counts), bytes(symbols))
        t = _HUFF_CACHE.get(key)
        if t is None:
            t = _HUFF_CACHE[key] = cls(counts, symbols)
        return t


def decode_jpeg(data: bytes) -> np.ndarray:
    """JFIF bytes -> (H, W, 3) uint8 RGB (grayscale replicated).

    Supports baseline sequential DCT (SOF0/SOF1) and progressive DCT
    (SOF2, T.81 Annex G: spectral selection + successive approximation),
    restart intervals, arbitrary tables, subsampling factors up to 4.
    Raises ValueError on anything else (lossless/hierarchical frames,
    arithmetic coding, 12-bit precision)."""
    if data[:2] != JPEG_MAGIC:
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    hufs: dict[tuple[int, int], _Huff] = {}
    restart = 0
    frame = None
    prog_stores: list[np.ndarray] | None = None
    while True:
        # a stream that ends before EOI is truncated: decoding what it
        # holds would return a partial image
        if pos + 2 > len(data):
            raise ValueError("JPEG truncated: no EOI marker")
        if data[pos] != 0xFF:
            raise ValueError("invalid JPEG: expected marker")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01, *range(0xD0, 0xD8)):  # standalone
            continue
        if pos + 2 > len(data):
            raise ValueError("JPEG truncated: incomplete segment length")
        (ln,) = struct.unpack(">H", data[pos : pos + 2])
        seg = data[pos + 2 : pos + ln]
        if len(seg) != ln - 2:
            raise ValueError("JPEG truncated or corrupt: segment length")
        pos += ln
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            off = 0
            while off < len(seg):
                prec = seg[off] >> 4
                tid = seg[off] & 0x0F
                off += 1
                if prec:
                    vals = np.frombuffer(seg[off : off + 128], dtype=">u2").astype(np.int64)
                    off += 128
                else:
                    vals = np.frombuffer(seg[off : off + 64], dtype=np.uint8).astype(np.int64)
                    off += 64
                nat = np.empty(64, dtype=np.int64)
                nat[ZIGZAG] = vals
                qtabs[tid] = nat
        elif marker == 0xC4:  # DHT
            off = 0
            while off < len(seg):
                cls = seg[off] >> 4
                tid = seg[off] & 0x0F
                counts = list(seg[off + 1 : off + 17])
                n = sum(counts)
                syms = seg[off + 17 : off + 17 + n]
                hufs[(cls, tid)] = _Huff.cached(counts, syms)
                off += 17 + n
        elif marker == 0xDD:  # DRI
            (restart,) = struct.unpack(">H", seg[:2])
        elif marker in (0xC0, 0xC1, 0xC2):  # sequential / progressive DCT
            prec, fh, fw, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec}")
            comps = []
            for i in range(nc):
                cid, sf, qid = seg[6 + 3 * i : 9 + 3 * i]
                comps.append({"id": cid, "h": sf >> 4, "v": sf & 0x0F, "q": qid})
            frame = {"h": fh, "w": fw, "comps": comps, "prog": marker == 0xC2}
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(f"unsupported JPEG frame type SOF{marker - 0xC0}")
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("invalid JPEG: SOS before SOF")
            ns = seg[0]
            scan = []
            for i in range(ns):
                cid, tabs = seg[1 + 2 * i : 3 + 2 * i]
                comp = next(c for c in frame["comps"] if c["id"] == cid)
                scan.append((comp, tabs >> 4, tabs & 0x0F))
            ss, se, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
            # destuff until EOI, keeping RST markers as sentinels
            raw = bytearray()
            rst_positions = []
            p = pos
            while p < len(data) - 1:
                byte = data[p]
                if byte == 0xFF:
                    nxt = data[p + 1]
                    if nxt == 0x00:
                        raw.append(0xFF)
                        p += 2
                        continue
                    if 0xD0 <= nxt <= 0xD7:
                        rst_positions.append(len(raw))
                        p += 2
                        continue
                    break  # EOI or next marker
                raw.append(byte)
                p += 1
            else:
                raise ValueError("JPEG truncated: scan data ends without a marker")
            pos = p
            if not frame["prog"]:
                return _decode_scan(
                    frame, scan, qtabs, hufs, restart, bytes(raw), rst_positions
                )
            if prog_stores is None:
                hmax = max(c["h"] for c in frame["comps"])
                vmax = max(c["v"] for c in frame["comps"])
                nmx = (frame["w"] + 8 * hmax - 1) // (8 * hmax)
                nmy = (frame["h"] + 8 * vmax - 1) // (8 * vmax)
                prog_stores = [
                    np.zeros((nmy * c["v"] * nmx * c["h"], 64), dtype=np.int64)
                    for c in frame["comps"]
                ]
            _progressive_scan(
                frame, scan, ss, se, ahal >> 4, ahal & 0x0F, hufs, restart,
                bytes(raw), rst_positions, prog_stores,
            )
        # APPn / COM / others: skipped
    if frame is not None and frame["prog"] and prog_stores is not None:
        hmax = max(c["h"] for c in frame["comps"])
        vmax = max(c["v"] for c in frame["comps"])
        nmx = (frame["w"] + 8 * hmax - 1) // (8 * hmax)
        nmy = (frame["h"] + 8 * vmax - 1) // (8 * vmax)
        entries = list(zip(frame["comps"], prog_stores))
        return _reconstruct(frame, entries, qtabs, hmax, vmax, nmx, nmy)
    raise ValueError("invalid JPEG: no scan data")


def _decode_scan(frame, scan, qtabs, hufs, restart, raw, rst_positions) -> np.ndarray:
    h, w = frame["h"], frame["w"]
    comps = [c for c, _dc, _ac in scan]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    n_mcu_x = (w + 8 * hmax - 1) // (8 * hmax)
    n_mcu_y = (h + 8 * vmax - 1) // (8 * vmax)

    # coefficient store per component: [n_blocks_total, 64] in raster order
    stores = []
    for c, _dc, _ac in scan:
        bw = n_mcu_x * c["h"]
        bh = n_mcu_y * c["v"]
        stores.append(np.zeros((bh * bw, 64), dtype=np.int64))

    # hot loop: window-word peeks + packed-action LUTs — one list index
    # yields (symbol, code length), and the magnitude bits come from the
    # same 32-bit window when they fit (always, for <=25-bit
    # code+magnitude spans; the rare longer foreign-table span refetches)
    w32 = _window_words(raw)
    off = 0
    prev_dc = [0] * len(scan)
    mcu_count = 0
    rst_iter = iter(rst_positions)
    next_rst = next(rst_iter, None)
    # per-scan-component hoisted (lut_dc, lut_ac, bw)
    meta = [
        (hufs[(0, dc_id)].lut, hufs[(1, ac_id)].lut, n_mcu_x * c["h"])
        for c, dc_id, ac_id in scan
    ]
    for my in range(n_mcu_y):
        for mx in range(n_mcu_x):
            if restart and mcu_count and mcu_count % restart == 0:
                # re-align at the recorded restart boundary
                if next_rst is not None:
                    # jump to EXACTLY the recorded post-RST byte offset
                    off = next_rst << 3
                    next_rst = next(rst_iter, None)
                else:
                    off = (off + 7) & ~7
                prev_dc = [0] * len(scan)
            for k, (c, _dc_id, _ac_id) in enumerate(scan):
                lut_dc, lut_ac, bw = meta[k]
                store = stores[k]
                dc = prev_dc[k]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        blk = [0] * 64  # plain ints: faster than numpy scalars
                        win = (w32[off >> 3] << (off & 7)) & 0xFFFFFFFF
                        e = lut_dc[win >> 16]
                        if e < 0:
                            raise ValueError("invalid JPEG: bad huffman code")
                        cl = e & 31
                        cat = e >> 5
                        if cat:
                            tot = cl + cat
                            if tot <= 25:
                                v = (win >> (32 - tot)) & ((1 << cat) - 1)
                            else:
                                o2 = off + cl
                                v = ((w32[o2 >> 3] << (o2 & 7)) & 0xFFFFFFFF) >> (
                                    32 - cat
                                )
                            off += tot
                            dc += v if v >> (cat - 1) else v - (1 << cat) + 1
                        else:
                            off += cl
                        blk[0] = dc
                        i = 1
                        while i < 64:
                            win = (w32[off >> 3] << (off & 7)) & 0xFFFFFFFF
                            e = lut_ac[win >> 16]
                            if e < 0:
                                raise ValueError("invalid JPEG: bad huffman code")
                            cl = e & 31
                            sym = e >> 5
                            size = sym & 0x0F
                            if not size:
                                off += cl
                                if sym == 0xF0:  # ZRL
                                    i += 16
                                    continue
                                if sym:
                                    raise ValueError(
                                        "invalid JPEG: EOBn in sequential scan"
                                    )
                                break  # EOB
                            i += sym >> 4
                            if i > 63:
                                raise ValueError("invalid JPEG: AC index overrun")
                            tot = cl + size
                            if tot <= 25:
                                v = (win >> (32 - tot)) & ((1 << size) - 1)
                            else:
                                o2 = off + cl
                                v = ((w32[o2 >> 3] << (o2 & 7)) & 0xFFFFFFFF) >> (
                                    32 - size
                                )
                            off += tot
                            blk[i] = v if v >> (size - 1) else v - (1 << size) + 1
                            i += 1
                        bi = (my * c["v"] + by) * bw + (mx * c["h"] + bx)
                        store[bi] = blk
                prev_dc[k] = dc
            mcu_count += 1

    entries = [(c, st) for (c, _dc, _ac), st in zip(scan, stores)]
    return _reconstruct(frame, entries, qtabs, hmax, vmax, n_mcu_x, n_mcu_y)


def _progressive_scan(
    frame, scan, ss, se, ah, al, hufs, restart, raw, rst_positions, stores
) -> None:
    """One progressive scan (T.81 G.2) accumulated into the per-component
    coefficient ``stores``: DC first/refine (interleaved or single-comp),
    AC first/refine (single-component, non-interleaved block walk).

    Hot-loop shape mirrors :func:`_decode_scan`: window-word peeks +
    packed-action LUTs, and the touched coefficient band is snapshotted
    to Python lists for the scan (one ``tolist``/write-back pair instead
    of per-coefficient numpy scalar access)."""
    h, w = frame["h"], frame["w"]
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    n_mcu_x = (w + 8 * hmax - 1) // (8 * hmax)
    n_mcu_y = (h + 8 * vmax - 1) // (8 * vmax)
    w32 = _window_words(raw)
    off = 0
    rst_iter = iter(rst_positions)
    idx_of = {id(c): i for i, c in enumerate(comps)}

    if ss == 0:  # DC scan (Se must be 0): may be interleaved
        if se != 0:
            raise ValueError("invalid JPEG: DC scan with Se != 0")
        prev = [0] * len(scan)
        # per-scan-comp (store, its DC column as a list, stride, dc lut)
        meta = []
        for c, dc_id, _ac in scan:
            ci = idx_of[id(c)]
            huff = hufs.get((0, dc_id))
            meta.append((stores[ci], stores[ci][:, 0].tolist(),
                         n_mcu_x * c["h"], huff.lut if huff else None))
        if len(scan) == 1:
            c = scan[0][0]
            stride = meta[0][2]
            nbx = ((w * c["h"] + hmax - 1) // hmax + 7) // 8
            nby = ((h * c["v"] + vmax - 1) // vmax + 7) // 8
            units = [by * stride + bx for by in range(nby) for bx in range(nbx)]
            walk = [(0, bi) for bi in units]
        else:  # interleaved: per MCU, each comp's vs*hs blocks
            walk = []
            for my in range(n_mcu_y):
                for mx in range(n_mcu_x):
                    for k, (c, _dc, _ac) in enumerate(scan):
                        stride = meta[k][2]
                        for by in range(c["v"]):
                            for bx in range(c["h"]):
                                walk.append(
                                    (k, (my * c["v"] + by) * stride
                                     + (mx * c["h"] + bx))
                                )
        bpm = max(1, len(walk) // max(1, n_mcu_x * n_mcu_y)) \
            if len(scan) > 1 else 1
        mcu_count = 0
        unit = 0
        for k, bi in walk:
            # restart boundaries fall on MCU starts: every bpm walk steps
            if unit % bpm == 0:
                if restart and mcu_count and mcu_count % restart == 0:
                    nxt = next(rst_iter, None)
                    off = (nxt << 3) if nxt is not None else ((off + 7) & ~7)
                    prev = [0] * len(scan)
                mcu_count += 1
            unit += 1
            store, dccol, _stride, lut_dc = meta[k]
            if ah == 0:
                win = (w32[off >> 3] << (off & 7)) & 0xFFFFFFFF
                e = lut_dc[win >> 16]
                if e < 0:
                    raise ValueError("invalid JPEG: bad huffman code")
                cl = e & 31
                cat = e >> 5
                if cat:
                    tot = cl + cat
                    if tot <= 25:
                        v = (win >> (32 - tot)) & ((1 << cat) - 1)
                    else:
                        o2 = off + cl
                        v = ((w32[o2 >> 3] << (o2 & 7)) & 0xFFFFFFFF) >> (32 - cat)
                    off += tot
                    prev[k] += v if v >> (cat - 1) else v - (1 << cat) + 1
                else:
                    off += cl
                dccol[bi] = prev[k] << al
            else:
                if (w32[off >> 3] >> (31 - (off & 7))) & 1:
                    dccol[bi] |= 1 << al
                off += 1
        for store, dccol, _stride, _lut in meta:
            store[:, 0] = dccol
        return

    # AC scan: single component, non-interleaved (T.81 G.1.1.1.1)
    if len(scan) != 1:
        raise ValueError("invalid JPEG: interleaved AC progressive scan")
    c, _dc_id, ac_id = scan[0]
    lut_ac = hufs[(1, ac_id)].lut
    ci = idx_of[id(c)]
    store = stores[ci]
    stride = n_mcu_x * c["h"]
    nbx = ((w * c["h"] + hmax - 1) // hmax + 7) // 8
    nby = ((h * c["v"] + vmax - 1) // vmax + 7) // 8
    # scan-wide band snapshot: all reads/writes go through Python lists
    band = store[:, ss : se + 1].tolist()
    width = se + 1 - ss
    eobrun = 0
    p1, m1 = 1 << al, -(1 << al)
    mcu_count = 0
    for by in range(nby):
        for bx in range(nbx):
            if restart and mcu_count and mcu_count % restart == 0:
                nxt = next(rst_iter, None)
                off = (nxt << 3) if nxt is not None else ((off + 7) & ~7)
                eobrun = 0
            mcu_count += 1
            row = band[by * stride + bx]
            if ah == 0:  # AC first scan
                if eobrun:
                    eobrun -= 1
                    continue
                k = 0
                while k < width:
                    win = (w32[off >> 3] << (off & 7)) & 0xFFFFFFFF
                    e = lut_ac[win >> 16]
                    if e < 0:
                        raise ValueError("invalid JPEG: bad huffman code")
                    cl = e & 31
                    sym = e >> 5
                    r, s = sym >> 4, sym & 0x0F
                    if s == 0:
                        if r != 15:
                            eobrun = (1 << r) - 1
                            if r:
                                tot = cl + r
                                if tot <= 25:
                                    eobrun += (win >> (32 - tot)) & ((1 << r) - 1)
                                else:
                                    o2 = off + cl
                                    eobrun += (
                                        (w32[o2 >> 3] << (o2 & 7)) & 0xFFFFFFFF
                                    ) >> (32 - r)
                                off += tot
                            else:
                                off += cl
                            break
                        off += cl
                        k += 16  # ZRL
                    else:
                        k += r
                        if k >= width:
                            raise ValueError("invalid JPEG: AC index overrun")
                        tot = cl + s
                        if tot <= 25:
                            v = (win >> (32 - tot)) & ((1 << s) - 1)
                        else:
                            o2 = off + cl
                            v = ((w32[o2 >> 3] << (o2 & 7)) & 0xFFFFFFFF) >> (32 - s)
                        off += tot
                        row[k] = (v if v >> (s - 1) else v - (1 << s) + 1) << al
                        k += 1
                continue
            # AC refinement scan (G.1.2.3)
            k = 0
            if eobrun == 0:
                while k < width:
                    win = (w32[off >> 3] << (off & 7)) & 0xFFFFFFFF
                    e = lut_ac[win >> 16]
                    if e < 0:
                        raise ValueError("invalid JPEG: bad huffman code")
                    cl = e & 31
                    sym = e >> 5
                    r, s = sym >> 4, sym & 0x0F
                    off += cl
                    val = 0
                    if s:
                        val = p1 if (w32[off >> 3] >> (31 - (off & 7))) & 1 else m1
                        off += 1
                    elif r != 15:
                        eobrun = 1 << r
                        if r:
                            o2 = off
                            win2 = (w32[o2 >> 3] << (o2 & 7)) & 0xFFFFFFFF
                            eobrun += win2 >> (32 - r)
                            off += r
                        break
                    while k < width:
                        v = row[k]
                        if v != 0:
                            if ((w32[off >> 3] >> (31 - (off & 7))) & 1) \
                                    and (v & p1) == 0:
                                row[k] = v + (p1 if v > 0 else m1)
                            off += 1
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if val and k < width:
                        row[k] = val
                    k += 1
            if eobrun > 0:
                while k < width:
                    v = row[k]
                    if v != 0:
                        if ((w32[off >> 3] >> (31 - (off & 7))) & 1) \
                                and (v & p1) == 0:
                            row[k] = v + (p1 if v > 0 else m1)
                        off += 1
                    k += 1
                eobrun -= 1
    store[:, ss : se + 1] = band


def _reconstruct(frame, entries, qtabs, hmax, vmax, n_mcu_x, n_mcu_y) -> np.ndarray:
    """Coefficient stores -> RGB: dequantize, de-zigzag, IDCT, upsample,
    color transform — all vectorized numpy over every block at once."""
    h, w = frame["h"], frame["w"]
    # vectorized reconstruction per component
    planes = []
    for c, zz in entries:
        q = qtabs[c["q"]]
        coeffs = np.zeros_like(zz, dtype=np.float64)
        coeffs[:, ZIGZAG] = zz.astype(np.float64)  # de-zigzag
        coeffs *= q[None, :].astype(np.float64)  # q already natural-order
        spatial = coeffs @ _BASIS + 128.0
        bw = n_mcu_x * c["h"]
        bh = n_mcu_y * c["v"]
        plane = (
            spatial.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        )
        # upsample to full MCU grid by replication
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        planes.append(plane[: n_mcu_y * 8 * vmax, : n_mcu_x * 8 * hmax])

    if len(planes) == 1:
        y = np.clip(np.round(planes[0][:h, :w]), 0, 255).astype(np.uint8)
        return np.repeat(y[:, :, None], 3, axis=2)
    y, cb, cr = (p[:h, :w] for p in planes)
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
