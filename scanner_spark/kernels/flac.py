"""FLAC codec (free lossless audio, format per the public FLAC spec /
RFC 9639): the second real audio format after RIFF/WAVE
(``kernels.audio``), covering the lossless-compressed half of audio
corpora the reference handles via ffmpeg (scanner/engine/ingest.cpp
format groups).

Scope — the subset real encoders emit for integer PCM:
- decode: STREAMINFO parse, frames with explicit (end-of-header) or
  common computed blocksizes, all four channel assignments (independent,
  left-side, right-side, mid-side), subframe types CONSTANT / VERBATIM /
  FIXED(0-4) / LPC(1-32), wasted bits, rice residuals (4- and 5-bit
  parameter variants, escape partitions), CRC-8/CRC-16 verification.
- encode: 16-bit mono/stereo; per-block best-of fixed predictors plus an
  optional Levinson-Durbin LPC mode, rice-coded residuals, mid-side
  decorrelation for stereo, correct CRCs and STREAMINFO MD5 — real
  compression, byte-exact round trips.

Everything is computed from the spec's algorithms (CRC tables generated
from their polynomials 0x07 / 0x8005; no transcribed constant tables
beyond the fixed-predictor coefficients 1/2/3/4-term differences).
Sample-rate codes that name specific rates are refused rather than
guessed; the encoder always stores the rate in STREAMINFO.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

FLAC_MAGIC = b"fLaC"

def _make_crc_table(poly: int, width: int) -> list[int]:
    mask = (1 << width) - 1
    top = 1 << (width - 1)
    table = []
    for byte in range(256):
        crc = byte << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly) if crc & top else (crc << 1)
        table.append(crc & mask)
    return table


_CRC8_TABLE = _make_crc_table(0x07, 8)
_CRC16_TABLE = _make_crc_table(0x8005, 16)


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = _CRC8_TABLE[crc ^ b]
    return crc


def _crc16_byte(crc: int, b: int) -> int:
    return _CRC16_TABLE[((crc >> 8) ^ b) & 0xFF] ^ ((crc << 8) & 0xFFFF)


# lazy 16-bits-per-step table: for a width-16 CRC, absorbing one 16-bit
# word is exactly crc' = TAB16[crc ^ word] (state width == chunk width),
# halving the Python loop length over the per-byte table
_CRC16_TAB16: list[int] | None = None


def _crc16(data: bytes) -> int:
    global _CRC16_TAB16
    if _CRC16_TAB16 is None:
        _CRC16_TAB16 = [
            _crc16_byte(_crc16_byte(0, x >> 8), x & 0xFF) for x in range(65536)
        ]
    tab = _CRC16_TAB16
    n = len(data)
    crc = 0
    for w in struct.unpack(">%dH" % (n >> 1), data[: n & ~1]):
        crc = tab[crc ^ w]
    if n & 1:
        crc = _crc16_byte(crc, data[-1])
    return crc


# ---------------------------------------------------------------------------
# bit I/O
# ---------------------------------------------------------------------------


class _Bits:
    """MSB-first bit reader with byte-position access (frame CRCs are
    computed over whole header/frame byte spans).  ``_expand`` lazily
    builds a bit-array view with a ones-prefix count, which the rice
    decoder uses to find unary terminators in O(1) per value instead of
    bit-at-a-time reads."""

    __slots__ = ("data", "pos", "_bits", "_ones", "_csum", "_fjump")

    def __init__(self, data: bytes, bit_pos: int = 0) -> None:
        self.data = data
        self.pos = bit_pos
        self._bits = None
        self._fjump: dict[int, list[int]] = {}

    def _expand(self) -> None:
        if self._bits is None:
            self._bits = np.unpackbits(np.frombuffer(self.data, np.uint8))
            self._ones = np.flatnonzero(self._bits).astype(np.int64)
            csum = np.zeros(len(self._bits) + 1, dtype=np.int64)
            np.cumsum(self._bits, out=csum[1:])
            self._csum = csum  # csum[j] = ones in bits[:j]

    def _jump_table(self, param: int) -> list[int]:
        """F[i] = index (into the ones list) of the rice terminator that
        follows terminator i when ``param`` remainder bits trail each
        terminator — i.e. the first one-bit at/after ones[i]+1+param.
        Built once per (stream, param) and walked with one list index
        per rice code (the decode hot loop)."""
        F = self._fjump.get(param)
        if F is None:
            nb = len(self._bits)
            F = self._csum[np.minimum(self._ones + 1 + param, nb)].tolist()
            self._fjump[param] = F
        return F

    def read_vector(self, count: int, width: int, signed: bool) -> np.ndarray:
        """``count`` fixed-width fields as one vectorized gather."""
        if width == 0:
            self_pos_unchanged = np.zeros(count, dtype=np.int64)
            return self_pos_unchanged
        self._expand()
        end = self.pos + count * width
        if end > len(self._bits):
            raise ValueError("FLAC: bitstream truncated")
        f = self._bits[self.pos : end].reshape(count, width).astype(np.int64)
        w = (1 << np.arange(width - 1, -1, -1, dtype=np.int64))
        v = f @ w
        if signed:
            v = np.where(v & (1 << (width - 1)), v - (1 << width), v)
        self.pos = end
        return v

    def read_rice_vector(self, count: int, param: int) -> np.ndarray:
        """``count`` rice codes (unary quotient + ``param`` remainder
        bits), zigzag-decoded — the hot path of FLAC decode.

        Terminator positions come from walking the per-param jump table
        (one Python list index per code) instead of a numpy-scalar
        cursor loop; quotients and remainders are then one vectorized
        pass over the gathered positions."""
        if count == 0:
            return np.zeros(0, dtype=np.int64)
        self._expand()
        bits, ones = self._bits, self._ones
        pos0 = self.pos
        nb = len(bits)
        if pos0 > nb:
            raise ValueError("FLAC: bitstream truncated in rice code")
        step = 1 + param
        F = self._jump_table(param)
        non = len(ones)
        i = int(self._csum[pos0])  # first one at/after pos0
        idxs = []
        ap = idxs.append
        try:
            for _ in range(count):
                ap(i)
                i = F[i]
        except IndexError:
            raise ValueError("FLAC: bitstream truncated in rice code") from None
        if idxs[-1] >= non:
            raise ValueError("FLAC: bitstream truncated in rice code")
        t = ones[idxs]
        pos = int(t[-1]) + step
        if pos > nb:
            raise ValueError("FLAC: bitstream truncated in rice remainder")
        self.pos = pos
        s = np.empty(count, dtype=np.int64)
        s[0] = pos0
        s[1:] = t[:-1] + step
        q = t - s
        if np.any(q > 1 << 20):
            raise ValueError("FLAC: runaway unary code")
        if param:
            idx = t[:, None] + 1 + np.arange(param, dtype=np.int64)[None, :]
            w = (1 << np.arange(param - 1, -1, -1, dtype=np.int64))
            rem = bits[idx].astype(np.int64) @ w
            v = (q << param) | rem
        else:
            v = q
        return (v >> 1) ^ -(v & 1)  # zigzag

    def read(self, n: int) -> int:
        v = 0
        pos, data = self.pos, self.data
        end = pos + n
        if end > len(data) * 8:
            raise ValueError("FLAC: bitstream truncated")
        while n:
            byte_i, bit_i = pos >> 3, pos & 7
            take = min(8 - bit_i, n)
            chunk = (data[byte_i] >> (8 - bit_i - take)) & ((1 << take) - 1)
            v = (v << take) | chunk
            pos += take
            n -= take
        self.pos = pos
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v & (1 << (n - 1)) else v

    def unary(self) -> int:
        """Count 0-bits before the terminating 1-bit."""
        n = 0
        while self.read(1) == 0:
            n += 1
            if n > 1 << 20:
                raise ValueError("FLAC: runaway unary code")
        return n

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7


class _BitsW:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, v: int, n: int) -> None:
        self.acc = (self.acc << n) | (v & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)  # q zeros then a one

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.out)


def _utf8_coded(n: int) -> bytes:
    """FLAC's UTF-8-style coding of frame/sample numbers (up to 36 bits)."""
    if n < 0x80:
        return bytes([n])
    spans = [(0x7FF, 0xC0, 1), (0xFFFF, 0xE0, 2), (0x1FFFFF, 0xF0, 3),
             (0x3FFFFFF, 0xF8, 4), (0x7FFFFFFF, 0xFC, 5), (0xFFFFFFFFF, 0xFE, 6)]
    for limit, lead, cont in spans:
        if n <= limit:
            parts = [0x80 | ((n >> (6 * i)) & 0x3F) for i in range(cont)][::-1]
            return bytes([lead | (n >> (6 * cont))] + parts)
    raise ValueError("frame number too large")


def _read_utf8_coded(br: _Bits) -> int:
    b0 = br.read(8)
    if b0 < 0x80:
        return b0
    n_cont = 0
    for bit in range(6, 0, -1):
        if not (b0 >> bit) & 1:
            break
        n_cont += 1
    if n_cont < 1:
        raise ValueError("FLAC: bad UTF-8-coded number")
    v = b0 & ((1 << (6 - n_cont)) - 1)
    for _ in range(n_cont):
        c = br.read(8)
        if (c & 0xC0) != 0x80:
            raise ValueError("FLAC: bad UTF-8 continuation")
        v = (v << 6) | (c & 0x3F)
    return v


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------


def _decode_residual(br: _Bits, blocksize: int, pred_order: int) -> np.ndarray:
    method = br.read(2)
    if method not in (0, 1):
        raise ValueError(f"FLAC: reserved residual method {method}")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    po = br.read(4)
    nparts = 1 << po
    if blocksize % nparts:
        raise ValueError("FLAC: blocksize not divisible by partition count")
    parts: list[np.ndarray] = []
    for p in range(nparts):
        n = blocksize // nparts - (pred_order if p == 0 else 0)
        if n < 0:
            raise ValueError("FLAC: predictor order exceeds first partition")
        param = br.read(pbits)
        if param == escape:
            raw = br.read(5)
            parts.append(br.read_vector(n, raw, signed=True) if raw
                         else np.zeros(n, dtype=np.int64))
        else:
            parts.append(br.read_rice_vector(n, param))
    return np.concatenate(parts) if parts else np.zeros(0, dtype=np.int64)


def _undiff(res: np.ndarray, warm: list[int], order: int) -> np.ndarray:
    """Invert ``order`` rounds of differencing: integrate level by level,
    seeding each with Delta^j of the warmup samples (cumsum ladder)."""
    w = np.asarray(warm, dtype=np.int64)
    x = res
    for j in range(order - 1, -1, -1):
        # seed level j with Delta^j s at its first defined position j;
        # each cumsum recovers one level, and the seeds reproduce the
        # warmup samples exactly (s1 = s0 + d1, ...)
        init = np.diff(w, n=j)[:1]
        x = np.cumsum(np.concatenate([init, x]))
    return x


def _decode_subframe(br: _Bits, blocksize: int, bps: int) -> np.ndarray:
    if br.read(1):
        raise ValueError("FLAC: subframe padding bit set")
    stype = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = br.unary() + 1
    eff = bps - wasted
    if stype == 0:  # CONSTANT
        samples = np.full(blocksize, br.read_signed(eff), dtype=np.int64)
    elif stype == 1:  # VERBATIM
        samples = br.read_vector(blocksize, eff, signed=True)
    elif 8 <= stype <= 12:  # FIXED, order = stype - 8
        order = stype - 8
        warm = [br.read_signed(eff) for _ in range(order)]
        res = _decode_residual(br, blocksize, order)
        samples = _undiff(res, warm, order) if order else res
    elif stype >= 32:  # LPC, order = (stype & 31) + 1
        order = (stype & 31) + 1
        warm = [br.read_signed(eff) for _ in range(order)]
        precision = br.read(4) + 1
        if precision == 16:
            raise ValueError("FLAC: invalid LPC precision escape")
        shift = br.read_signed(5)
        if shift < 0:
            raise ValueError("FLAC: negative LPC shift")
        coefs = [br.read_signed(precision) for _ in range(order)]
        res = _decode_residual(br, blocksize, order)
        # IIR recurrence — inherently sequential.  Order 8 (what the
        # in-repo encoder emits) gets an unrolled register loop: all
        # locals, no per-sample list slicing; other orders keep the
        # generic windowed loop
        rl = res.tolist()
        out = list(warm)
        ap = out.append
        if order == 8:
            c0, c1, c2, c3, c4, c5, c6, c7 = coefs  # c_j * x[k-1-j]
            p8, p7, p6, p5, p4, p3, p2, p1 = warm
            for r in rl:
                v = r + ((c0 * p1 + c1 * p2 + c2 * p3 + c3 * p4 + c4 * p5
                          + c5 * p6 + c6 * p7 + c7 * p8) >> shift)
                ap(v)
                p8, p7, p6, p5, p4, p3, p2, p1 = p7, p6, p5, p4, p3, p2, p1, v
        else:
            rco = coefs[::-1]
            k = order
            for r in rl:
                acc = 0
                for c, v in zip(rco, out[k - order : k]):
                    acc += c * v
                ap(r + (acc >> shift))
                k += 1
        samples = np.asarray(out, dtype=np.int64)
    else:
        raise ValueError(f"FLAC: reserved subframe type {stype}")
    if wasted:
        samples = samples << wasted
    return samples


def decode_flac(data: bytes) -> tuple[np.ndarray, int]:
    """FLAC bytes -> (samples int32 [n, channels], sample_rate).

    Verifies frame header CRC-8 and frame CRC-16; raises ValueError on
    corrupt or out-of-scope streams."""
    if data[:4] != FLAC_MAGIC:
        raise ValueError("not a FLAC stream")
    pos = 4
    streaminfo = None
    while True:
        hdr = data[pos : pos + 4]
        if len(hdr) < 4:
            raise ValueError("FLAC: truncated metadata")
        last = hdr[0] >> 7
        btype = hdr[0] & 0x7F
        length = int.from_bytes(hdr[1:4], "big")
        body = data[pos + 4 : pos + 4 + length]
        if btype == 0:  # STREAMINFO
            if len(body) != 34:
                raise ValueError("FLAC: bad STREAMINFO length")
            bits = int.from_bytes(body[10:18], "big")
            streaminfo = {
                "sample_rate": (bits >> 44) & 0xFFFFF,
                "channels": ((bits >> 41) & 0x7) + 1,
                "bps": ((bits >> 36) & 0x1F) + 1,
                "total": bits & 0xFFFFFFFFF,
            }
        pos += 4 + length
        if last:
            break
    if streaminfo is None:
        raise ValueError("FLAC: missing STREAMINFO")
    sr, n_ch, bps = streaminfo["sample_rate"], streaminfo["channels"], streaminfo["bps"]
    rate = sr
    chans: list[list[int]] = [[] for _ in range(n_ch)]
    # one reader for all frames: the bit expansion and rice jump tables
    # are built once per payload, not once per frame
    br = _Bits(data, pos * 8)
    while br.pos // 8 < len(data):
        frame_start = br.pos // 8
        sync = br.read(14)
        if sync != 0x3FFE:
            raise ValueError("FLAC: lost frame sync")
        if br.read(1):
            raise ValueError("FLAC: reserved sync bit set")
        br.read(1)  # blocking strategy (fixed/variable): number parse is shared
        bs_code = br.read(4)
        sr_code = br.read(4)
        ch_code = br.read(4)
        sz_code = br.read(3)
        if br.read(1):
            raise ValueError("FLAC: reserved header bit set")
        _read_utf8_coded(br)  # frame/sample number
        if bs_code == 0:
            raise ValueError("FLAC: reserved blocksize code")
        elif bs_code == 1:
            blocksize = 192
        elif 2 <= bs_code <= 5:
            blocksize = 576 << (bs_code - 2)
        elif bs_code == 6:
            blocksize = br.read(8) + 1
        elif bs_code == 7:
            blocksize = br.read(16) + 1
        else:
            blocksize = 256 << (bs_code - 8)
        if sr_code == 0:
            rate = sr
        elif sr_code == 12:
            rate = br.read(8) * 1000
        elif sr_code == 13:
            rate = br.read(16)
        elif sr_code == 14:
            rate = br.read(16) * 10
        elif sr_code == 15:
            raise ValueError("FLAC: invalid sample-rate code")
        else:
            raise NotImplementedError(
                f"FLAC: named sample-rate code {sr_code} out of scope "
                "(streams in scope store the rate in STREAMINFO)"
            )
        if sz_code == 0:
            frame_bps = bps
        elif sz_code in (1, 2, 4, 5, 6):
            frame_bps = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24}[sz_code]
        else:
            raise ValueError(f"FLAC: reserved sample-size code {sz_code}")
        br.align()
        header_len = br.pos // 8 - frame_start
        crc8 = br.read(8)
        if crc8 != _crc8(data[frame_start : frame_start + header_len]):
            raise ValueError("FLAC: frame header CRC-8 mismatch")
        if ch_code <= 7:
            n_sub, mode = ch_code + 1, "indep"
        elif ch_code in (8, 9, 10):
            n_sub, mode = 2, ("left-side", "right-side", "mid-side")[ch_code - 8]
        else:
            raise ValueError(f"FLAC: reserved channel assignment {ch_code}")
        if n_sub != n_ch:
            raise ValueError("FLAC: frame channel count != STREAMINFO")
        subs = []
        for s in range(n_sub):
            sub_bps = frame_bps
            # the difference (side) channel carries one extra bit
            if (mode == "left-side" and s == 1) or (mode == "right-side" and s == 0) \
                    or (mode == "mid-side" and s == 1):
                sub_bps += 1
            subs.append(_decode_subframe(br, blocksize, sub_bps))
        br.align()
        body_len = br.pos // 8 - frame_start
        crc16 = br.read(16)
        if crc16 != _crc16(data[frame_start : frame_start + body_len]):
            raise ValueError("FLAC: frame CRC-16 mismatch")
        if mode == "indep":
            for c in range(n_ch):
                chans[c].append(subs[c])
        elif mode == "left-side":
            left, side = subs
            chans[0].append(left)
            chans[1].append(left - side)
        elif mode == "right-side":
            side, right = subs
            chans[0].append(right + side)
            chans[1].append(right)
        else:  # mid-side
            mid, side = subs
            m2 = (mid << 1) | (side & 1)
            chans[0].append((m2 + side) >> 1)
            chans[1].append((m2 - side) >> 1)
    total = streaminfo["total"]
    arr = np.stack(
        [np.concatenate(c) if c else np.zeros(0, dtype=np.int64) for c in chans]
    ).T
    if total and len(arr) < total:  # a stream cut at a frame boundary
        raise ValueError(f"FLAC truncated: {len(arr)} of {total} samples")
    if total and len(arr) > total:
        arr = arr[:total]
    return arr.astype(np.int32), rate


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------


def _zigzag_arr(res) -> np.ndarray:
    r = np.asarray(res, dtype=np.int64)
    return np.where(r >= 0, r << 1, ((-r) << 1) - 1)


def _best_rice_param_zz(zz: np.ndarray) -> tuple[int, int]:
    """(param, total_bits) minimizing the rice cost (params 0..14) over
    pre-zigzagged values — one vectorized shift/sum over all params."""
    n = len(zz)
    if n == 0:
        return 0, 0
    params = np.arange(15, dtype=np.int64)
    costs = (zz[None, :] >> params[:, None]).sum(axis=1) + n * (params + 1)
    p = int(np.argmin(costs))
    return p, int(costs[p])


def _best_rice_param(res) -> tuple[int, int]:
    return _best_rice_param_zz(_zigzag_arr(res))


def _write_residual(bw, res, zz: np.ndarray | None = None,
                    param: int | None = None) -> None:
    if zz is None:
        zz = _zigzag_arr(res)
    if param is None:
        param, _ = _best_rice_param_zz(zz)
    bw.write(0, 2)  # 4-bit rice method
    bw.write(0, 4)  # partition order 0
    bw.write(param, 4)
    # one vectorized append for the whole partition: each rice code is
    # q zero bits, the 1 terminator, then `param` remainder bits —
    # value (1<<param)|rem in a field of q+1+param bits (the leading
    # zeros cost nothing in the bit packer)
    bw.write_vec((1 << param) | (zz & ((1 << param) - 1)),
                 (zz >> param) + 1 + param)


def _fixed_residual(x: np.ndarray, order: int) -> np.ndarray:
    r = x.astype(np.int64)
    for _ in range(order):
        r = np.diff(r)
    return r


def _lpc_coeffs(x: np.ndarray, order: int, precision: int = 12):
    """Levinson-Durbin on the autocorrelation; returns (quantized coefs,
    shift) or None when the signal is degenerate."""
    xf = x.astype(np.float64)
    n = len(xf)
    if n <= order:
        return None
    ac = np.array([np.dot(xf[: n - k], xf[k:]) for k in range(order + 1)])
    if ac[0] == 0:
        return None
    err = ac[0]
    a = np.zeros(order)
    for i in range(order):
        acc = ac[i + 1] - np.dot(a[:i], ac[i:0:-1][:i])
        k = acc / err
        a[: i + 1] = np.concatenate([a[:i] - k * a[:i][::-1], [k]])
        err *= 1 - k * k
        if err <= 0:
            return None
    cmax = np.abs(a).max()
    if cmax == 0 or not np.isfinite(cmax):
        return None
    shift = precision - 1 - max(0, int(np.floor(np.log2(cmax))) + 1)
    shift = max(1, min(15, shift))
    q = np.round(a * (1 << shift)).astype(np.int64)
    lim = 1 << (precision - 1)
    if np.any(q >= lim) or np.any(q < -lim):
        return None
    return q, shift


def _encode_subframe(bw, x: np.ndarray, bps: int, try_lpc: bool) -> None:
    x64 = x.astype(np.int64)
    n = len(x64)
    if np.all(x64 == x64[0]):  # CONSTANT
        bw.write(0, 1)
        bw.write(0, 6)
        bw.write(0, 1)
        bw.write(int(x64[0]), bps)
        return
    # candidate: best fixed order by rice cost; the winner's zigzag and
    # rice param ride along so _write_residual never recomputes them
    best = None  # (cost, kind, order, extra, (zz, param))
    for order in range(min(5, n)):
        res = _fixed_residual(x64, order)
        zz = _zigzag_arr(res)
        param, cost = _best_rice_param_zz(zz)
        cost += order * bps
        if best is None or cost < best[0]:
            best = (cost, "fixed", order, None, (zz, param))
    if try_lpc and n > 16:
        lo = 8
        got = _lpc_coeffs(x64, lo)
        if got is not None:
            q, shift = got
            pred = np.zeros(n - lo, dtype=np.int64)
            for j in range(lo):
                pred += q[j] * x64[lo - 1 - j : n - 1 - j]
            res = x64[lo:] - (pred >> shift)
            zz = _zigzag_arr(res)
            param, cost = _best_rice_param_zz(zz)
            cost += lo * bps + lo * 12 + 9
            if cost < best[0]:
                best = (cost, "lpc", lo, (q, shift, res), (zz, param))
    verbatim_cost = n * bps
    if best[0] >= verbatim_cost:
        bw.write(0, 1)
        bw.write(1, 6)
        bw.write(0, 1)
        bw.write_vec(x64, bps)
        return
    _, kind, order, extra, (zz, param) = best
    bw.write(0, 1)
    if kind == "fixed":
        bw.write(8 + order, 6)
        bw.write(0, 1)  # no wasted bits
        bw.write_vec(x64[:order], bps)
        _write_residual(bw, None, zz, param)
    else:
        q, shift, _res = extra
        bw.write(32 + (order - 1), 6)
        bw.write(0, 1)
        bw.write_vec(x64[:order], bps)
        bw.write(12 - 1, 4)  # precision 12
        bw.write(shift, 5)
        bw.write_vec(q, 12)
        _write_residual(bw, None, zz, param)


def encode_flac(
    samples: np.ndarray,
    sample_rate: int,
    block_size: int = 4096,
    use_lpc: bool = True,
    mid_side: bool = True,
) -> bytes:
    """int16 samples [n] or [n, channels<=2] -> FLAC bytes (16 bps).

    Per block the encoder picks the cheapest of constant / fixed(0-4) /
    LPC(8) / verbatim per channel; stereo blocks additionally try
    mid-side decorrelation.  Lossless: ``decode_flac`` round-trips
    byte-exact samples."""
    s = np.asarray(samples)
    if s.ndim == 1:
        s = s[:, None]
    if s.dtype != np.int16:
        raise ValueError("encode_flac expects int16 samples")
    n, n_ch = s.shape
    if n_ch not in (1, 2):
        raise ValueError("encode_flac supports 1 or 2 channels")
    bps = 16

    frames = bytearray()
    frame_no = 0
    from scanner_spark.kernels.bitpack import VecWriter

    for start in range(0, n, block_size):
        blk = s[start : start + block_size].astype(np.int64)
        bs = len(blk)
        bw = VecWriter()
        # try mid-side for stereo
        mode_code = n_ch - 1  # independent
        chans = [blk[:, c] for c in range(n_ch)]
        if n_ch == 2 and mid_side:
            mid = (blk[:, 0] + blk[:, 1]) >> 1
            side = blk[:, 0] - blk[:, 1]
            # crude cost proxy: rice cost of order-2 residuals
            def cost(x: np.ndarray) -> int:
                return _best_rice_param(_fixed_residual(x, min(2, len(x))))[1]
            if cost(mid) + cost(side) < cost(chans[0]) + cost(chans[1]):
                mode_code = 10  # mid-side
                chans = [mid, side]
        bw.write(0x3FFE, 14)
        bw.write(0, 1)
        bw.write(0, 1)  # fixed blocksize strategy, frame-number coded
        bw.write(7, 4)  # blocksize: 16 bit at end of header
        bw.write(0, 4)  # sample rate: from STREAMINFO
        bw.write(mode_code, 4)
        bw.write(4, 3)  # 16 bps
        bw.write(0, 1)
        for b in _utf8_coded(frame_no):
            bw.write(b, 8)
        bw.write(bs - 1, 16)
        bw.align()
        # the header CRC-8 covers the packed header bytes; packing the
        # (few) header entries here is a byte-aligned prefix of the
        # final frame pack, so the bits agree
        bw.write(_crc8(bw.getbytes()), 8)
        for ci, x in enumerate(chans):
            sub_bps = bps + (1 if mode_code == 10 and ci == 1 else 0)
            _encode_subframe(bw, x, sub_bps, use_lpc)
        bw.align()
        body = bw.getbytes()  # one vectorized pack of the whole frame
        frames.extend(body)
        frames.extend(_crc16(body).to_bytes(2, "big"))
        frame_no += 1

    md5 = hashlib.md5(
        np.ascontiguousarray(s.astype("<i2")).tobytes()
    ).digest()
    info = bytearray()
    info += struct.pack(">HH", block_size if n else 16, block_size if n else 16)
    info += b"\x00\x00\x00" * 2  # min/max framesize unknown
    bits = (sample_rate << 44) | ((n_ch - 1) << 41) | ((bps - 1) << 36) | n
    info += bits.to_bytes(8, "big")
    info += md5
    header = FLAC_MAGIC + bytes([0x80]) + len(info).to_bytes(3, "big") + bytes(info)
    return header + bytes(frames)
