"""Direct pins for kernels/bitpack.py — the vectorized bit layer under
the JPEG and FLAC entropy coders (round 16).  The codecs pin payload
byte-identity end-to-end; these tests pin the packer's own contract so a
future regression localizes here instead of surfacing as a golden-image
diff."""

import numpy as np
import pytest

from scanner_spark.kernels.bitpack import (
    BitAssembler,
    VecWriter,
    pack_bits,
    stuff_ff,
)


def _ref_pack(values, lengths) -> bytes:
    """Bit-at-a-time reference packer (the retired writer's semantics:
    MSB-first, values masked to field width, zero-padded final byte)."""
    acc = 0
    nbits = 0
    out = bytearray()
    for v, n in zip(values, lengths):
        acc = (acc << n) | (int(v) & ((1 << n) - 1))
        nbits += n
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
            acc &= (1 << nbits) - 1
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def test_pack_bits_matches_reference_randomized():
    rng = np.random.default_rng(42)
    for trial in range(40):
        n = int(rng.integers(1, 400))
        lens = rng.integers(0, 20, n)
        vals = rng.integers(-(1 << 18), 1 << 18, n)
        out, total = pack_bits(vals, lens)
        assert total == int(lens.sum())
        assert out.tobytes() == _ref_pack(vals, lens)


def test_pack_bits_long_rice_fields():
    # rice shape: tiny value, huge field (leading zeros) — incl. > 64 bits
    vals = [1, 0b101, 3, 1]
    lens = [1, 70, 200, 9]
    out, total = pack_bits(np.array(vals), np.array(lens))
    assert total == 280
    assert out.tobytes() == _ref_pack(vals, lens)


def test_pack_bits_empty_and_zero_length_entries():
    out, total = pack_bits(np.zeros(0, np.int64), np.zeros(0, np.int64))
    assert total == 0 and out.tobytes() == b""
    # zero-length entries contribute nothing (JPEG DC category 0)
    vals, lens = np.array([5, 0, 3]), np.array([3, 0, 2])
    assert pack_bits(vals, lens)[0].tobytes() == _ref_pack(vals, lens)


def test_pack_bits_rejects_oversized_values():
    with pytest.raises(ValueError, match="56 bits"):
        pack_bits(np.array([1 << 57]), np.array([60]))


def test_stuff_ff():
    assert stuff_ff(np.array([0xFF, 0x00, 0xFF], np.uint8)) \
        == b"\xff\x00\x00\xff\x00"
    assert stuff_ff(np.array([1, 2, 3], np.uint8)) == b"\x01\x02\x03"
    assert stuff_ff(np.zeros(0, np.uint8)) == b""


def test_vecwriter_scalar_vector_mix():
    wv = VecWriter()
    wv.write(0x3FE, 14)
    wv.write_vec(np.array([5, -3, 7]), 16)
    wv.write_vec(np.array([1, 2]), np.array([3, 7]))
    wv.align()
    vals, lens = [0x3FE, 5, -3, 7, 1, 2], [14, 16, 16, 16, 3, 7]
    pad = (-sum(lens)) % 8
    assert wv.getbytes() == _ref_pack(vals + [0], lens + [pad])
    # align with ones
    wv2 = VecWriter()
    wv2.write(0b101, 3)
    wv2.align(fill_ones=True)
    assert wv2.getbytes() == bytes([0b10111111])


def test_vecwriter_getbytes_requires_alignment():
    wv = VecWriter()
    wv.write(1, 3)
    with pytest.raises(AssertionError):
        wv.getbytes()


def test_bit_assembler_slices_and_stuffs_per_segment():
    asm = BitAssembler()
    asm.add_bytes(b"\xff\xd8HDR")
    # segment 1: ends in 0xFF so the 1-padding produces a stuffed byte
    asm.add_segment(np.array([0xFF]), np.array([8]))
    asm.add_bytes(b"\xff\xd0")  # RST marker: literal, never stuffed
    # segment 2: unstuffed raw segment
    asm.add_segment(np.array([0xFF, 0x01]), np.array([8, 8]), stuff=False)
    out = asm.getvalue()
    assert out == b"\xff\xd8HDR" + b"\xff\x00" + b"\xff\xd0" + b"\xff\x01"


def test_bit_assembler_one_pack_many_segments_matches_per_segment_pack():
    rng = np.random.default_rng(7)
    asm = BitAssembler()
    expect = bytearray()
    for _ in range(9):
        n = int(rng.integers(1, 60))
        lens = rng.integers(1, 17, n)
        vals = rng.integers(0, 1 << 16, n) & ((1 << lens) - 1)
        asm.add_segment(vals, lens)
        pad = (-int(lens.sum())) % 8
        seg = _ref_pack(list(vals) + [(1 << pad) - 1], list(lens) + [pad])
        expect.extend(stuff_ff(np.frombuffer(seg, np.uint8)))
        marker = bytes((0xFF, 0xD7))
        asm.add_bytes(marker)
        expect.extend(marker)
    assert asm.getvalue() == bytes(expect)


@pytest.mark.parametrize(
    "marks", [[0, 2, 1], [1, 2], []], ids=["unsorted", "not_from_0", "empty"]
)
def test_bit_assembler_getvalues_rejects_bad_marks(marks):
    """Marks that are unsorted or do not start at 0 would silently fold
    pieces into the wrong output; they fail with a ValueError instead."""
    asm = BitAssembler()
    for _ in range(3):
        asm.add_bytes(b"\xff\xd8")
    with pytest.raises(ValueError, match="marks must start at 0"):
        asm.getvalues(marks)
