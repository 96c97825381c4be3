"""Vectorized MSB-first bit packing shared by the entropy coders.

The JPEG and FLAC encoders' measured hot spot (round-15 cProfile,
`.bench_out/codec_hotspots_r15.txt`) was per-symbol Python bit I/O:
~1.8k `_BitWriter.write` calls per 32x32 JPEG and ~1.3k per-sample rice
writes per FLAC frame.  This module replaces bit-at-a-time accumulation
with one numpy pass over the whole symbol stream:

- :func:`pack_bits`: (values, lengths) entry arrays -> packed bytes.
  Each entry ends at bit offset ``cumsum(lengths)``; its value is OR'd
  into the two output words its window overlaps (``np.bitwise_or.at``
  handles adjacent-entry byte sharing), so leading zero bits of long
  fields (rice unary runs) cost nothing.
- :func:`stuff_ff`: JPEG entropy-segment 0xFF byte stuffing in one
  vectorized insert.
- :class:`VecWriter`: a drop-in deferred writer with the same
  ``write(value, nbits)`` surface as the old incremental writers, plus
  bulk vector appends; bits are packed once at ``getbytes()``.

The reference's analog is its native encoders (scanner/util/
image_encoder.cpp); here the same streams are produced by numpy so the
Arrow-batched codec UDFs stay CPU-competitive at 100 TB scale.
"""

from __future__ import annotations

import numpy as np

_U1 = np.uint64(1)
_U63 = np.uint64(63)


def pack_bits(values, lengths) -> tuple[np.ndarray, int]:
    """Pack MSB-first bit fields into bytes.

    ``values[i]`` is written in a field of ``lengths[i]`` bits (negative
    values are masked to the field width, matching two's-complement bit
    writers).  Field widths may exceed 64 (rice unary runs): the extra
    leading bits are zeros.  Masked values must fit in 56 bits.

    Returns ``(uint8 array, total_bits)``; the final partial byte is
    zero-padded (callers append an explicit pad entry for 1-padding).
    """
    v = np.asarray(values, dtype=np.int64).astype(np.uint64)
    L = np.asarray(lengths, dtype=np.int64)
    if len(L) == 0:
        return np.zeros(0, np.uint8), 0
    lc = np.minimum(L, 63).astype(np.uint64)
    v &= (_U1 << lc) - _U1
    if bool(np.any(v >> np.uint64(56))):
        raise ValueError("pack_bits: masked value exceeds 56 bits")
    ends = np.cumsum(L)
    total = int(ends[-1])
    nbytes = (total + 7) >> 3
    nwords = ((nbytes + 7) >> 3) + 2
    words = np.zeros(nwords, np.uint64)
    # word holding the entry's last bit, +1 for the front margin word
    w1 = ((ends - 1) >> 6) + 1
    s1 = ((((ends - 1) >> 6) + 1 << 6) - ends).astype(np.uint64)
    np.bitwise_or.at(words, w1, v << s1)
    np.bitwise_or.at(words, w1 - 1, (v >> _U1) >> (_U63 - s1))
    by = words.byteswap().view(np.uint8)
    return by[8 : 8 + nbytes], total


def stuff_ff(arr: np.ndarray) -> bytes:
    """JPEG entropy-segment byte stuffing: 0xFF -> 0xFF 0x00."""
    pos = np.flatnonzero(arr == 0xFF)
    if len(pos) == 0:
        return arr.tobytes()
    return np.insert(arr, pos + 1, 0).tobytes()


class BitAssembler:
    """Byte stream assembled from literal byte pieces (marker segments,
    RSTn) and byte-aligned packed-bit segments — with ONE
    :func:`pack_bits` call for every segment in the stream.

    numpy's fixed per-call cost makes per-scan packing the dominant
    overhead for small images (a 32x32 progressive JPEG has 13 scans);
    batching all segments into a single pack and slicing the result at
    the recorded byte boundaries removes it.  Segments are 1-padded to a
    byte boundary (the JPEG convention) and optionally 0xFF-stuffed."""

    __slots__ = ("_pieces", "_vals", "_lens")

    def __init__(self) -> None:
        self._pieces: list[tuple] = []  # ("b", bytes) | ("e", nbytes, stuff)
        self._vals: list[np.ndarray] = []
        self._lens: list[np.ndarray] = []

    def add_bytes(self, b: bytes) -> None:
        self._pieces.append(("b", b))

    def add_segment(self, vals, lens, stuff: bool = True) -> None:
        vals = np.asarray(vals, dtype=np.int64)
        if np.isscalar(lens):
            lens = np.full(len(vals), lens, dtype=np.int64)
        else:
            lens = np.asarray(lens, dtype=np.int64)
        total = int(lens.sum())
        pad = (-total) % 8
        self._vals.append(vals)
        self._lens.append(lens)
        if pad:
            self._vals.append(np.array([(1 << pad) - 1], dtype=np.int64))
            self._lens.append(np.array([pad], dtype=np.int64))
        self._pieces.append(("e", (total + pad) >> 3, stuff))

    def getvalue(self) -> bytes:
        return self.getvalues([0])[0]

    def mark(self) -> int:
        """Piece boundary for :meth:`getvalues` (call before the first
        piece of each output document)."""
        return len(self._pieces)

    def getvalues(self, marks: list[int]) -> list[bytes]:
        """Assemble the stream into one bytes object per mark — many
        documents' segments share a SINGLE :func:`pack_bits` call (the
        round-16 batch-encode path: per-document packing was the fixed
        numpy cost left after per-scan packing was batched).

        ``marks`` must be non-decreasing and start at 0 (the whole
        stream is covered; pieces before a later first mark would be
        silently folded into the first output otherwise)."""
        if not (
            marks and marks[0] == 0 and all(a <= b for a, b in zip(marks, marks[1:]))
        ):
            raise ValueError("getvalues: marks must start at 0 and be non-decreasing")
        packed = (
            pack_bits(np.concatenate(self._vals), np.concatenate(self._lens))[0]
            if self._vals
            else np.zeros(0, np.uint8)
        )
        bounds = set(marks[1:])
        outs: list[bytes] = []
        out = bytearray()
        off = 0
        for pi, piece in enumerate(self._pieces):
            if pi in bounds:
                outs.append(bytes(out))
                out = bytearray()
            if piece[0] == "b":
                out.extend(piece[1])
            else:
                _tag, nbytes, stuff = piece
                seg = packed[off : off + nbytes]
                off += nbytes
                out.extend(stuff_ff(seg) if stuff else seg.tobytes())
        outs.append(bytes(out))
        return outs


class VecWriter:
    """Deferred MSB-first bit writer: ``write`` appends (value, nbits)
    entries; bits are packed vectorized at :meth:`getbytes`.

    Scalar writes go to Python lists (cheap appends); vector writes
    flush them and append numpy chunks directly, so bulk streams (rice
    residuals, JPEG symbol streams) never round-trip through Python.
    """

    __slots__ = ("_sv", "_sl", "_parts", "nbits")

    def __init__(self) -> None:
        self._sv: list[int] = []
        self._sl: list[int] = []
        self._parts: list[tuple[np.ndarray, np.ndarray]] = []
        self.nbits = 0

    def write(self, v: int, n: int) -> None:
        self._sv.append(v)
        self._sl.append(n)
        self.nbits += n

    def write_vec(self, vals: np.ndarray, lens) -> None:
        """Append ``len(vals)`` fields; ``lens`` is an array or a scalar
        width applied to every value."""
        if len(vals) == 0:
            return
        self._flush_scalars()
        if np.isscalar(lens):
            lens = np.full(len(vals), lens, dtype=np.int64)
        self._parts.append((np.asarray(vals, dtype=np.int64),
                            np.asarray(lens, dtype=np.int64)))
        self.nbits += int(np.sum(lens))

    def align(self, fill_ones: bool = False) -> None:
        pad = (-self.nbits) % 8
        if pad:
            self.write((1 << pad) - 1 if fill_ones else 0, pad)

    def _flush_scalars(self) -> None:
        if self._sv:
            self._parts.append((np.array(self._sv, dtype=np.int64),
                                np.array(self._sl, dtype=np.int64)))
            self._sv, self._sl = [], []

    def entries(self) -> tuple[np.ndarray, np.ndarray]:
        """All (values, lengths) written so far, for batched packing
        (e.g. handing a scan to a :class:`BitAssembler`)."""
        self._flush_scalars()
        if not self._parts:
            z = np.zeros(0, dtype=np.int64)
            return z, z
        return (np.concatenate([p[0] for p in self._parts]),
                np.concatenate([p[1] for p in self._parts]))

    def getbytes(self) -> bytes:
        """Pack all entries (bit stream must be byte-aligned)."""
        assert self.nbits % 8 == 0, "VecWriter.getbytes on unaligned stream"
        vals, lens = self.entries()
        if not len(vals):
            return b""
        out, _ = pack_bits(vals, lens)
        return out.tobytes()
