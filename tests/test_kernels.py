"""Frame kernels over synthetic frame streams (reference kernels:
/root/reference/tests/test_ops.cpp; fixtures per FIXTURES.md)."""

import numpy as np
import pytest

from scanner_spark.frames import FRAME_SCHEMA, pack, synthetic_frame, unpack
from scanner_spark.kernels import histogram_op, image_encoder_op, optical_flow_op
from scanner_spark.kernels.image import encode_png, make_blur_op, make_resize_op

N_FRAMES = 6
H, W, C = 16, 20, 3


@pytest.fixture(scope="module")
def frame_stream(spark):
    rows = []
    for s in range(2):
        for i in range(N_FRAMES):
            r = pack(synthetic_frame(s, i, H, W, C))
            rows.append({"stream_id": str(s), "idx": i, **r})
    return spark.createDataFrame(
        rows, f"stream_id string, idx long, {FRAME_SCHEMA}"
    ).cache()


def test_histogram(frame_stream):
    out = histogram_op(
        frame_stream,
        ["frame", "height", "width", "channels", "dtype"],
        "hist",
        "array<array<long>>",
    )
    row = out.filter("stream_id = '0' and idx = 0").collect()[0]
    img = synthetic_frame(0, 0, H, W, C)
    for c in range(C):
        expect = np.histogram(img[:, :, c], bins=16, range=(0, 256))[0]
        assert row.hist[c] == expect.tolist()
        assert sum(row.hist[c]) == H * W


def test_resize_nearest(frame_stream):
    op = make_resize_op(8, 10, interp="nearest")
    out = op(
        frame_stream,
        ["frame", "height", "width", "channels", "dtype"],
        "resized",
        f"struct<{FRAME_SCHEMA}>",
    )
    row = out.filter("stream_id = '0' and idx = 1").collect()[0]
    r = row.resized
    assert (r.height, r.width, r.channels) == (8, 10, C)
    img = unpack(r.frame, r.height, r.width, r.channels, r.dtype)
    src = synthetic_frame(0, 1, H, W, C)
    # nearest-neighbor: out[0,0] == src[0,0]
    assert (img[0, 0] == src[0, 0]).all()


def test_resize_bilinear_exact_on_ramp(spark):
    # bilinear interpolation reproduces an affine ramp exactly at the
    # half-pixel-center source coordinates (the cv2 INTER_LINEAR map)
    h, w, nh, nw = 16, 20, 8, 10
    y = np.arange(h)[:, None]
    x = np.arange(w)[None, :]
    ramp = (2.0 * y + 3.0 * x + 5.0).astype(np.float32)[:, :, None]
    df = spark.createDataFrame(
        [{"stream_id": "0", "idx": 0, **pack(ramp)}],
        f"stream_id string, idx long, {FRAME_SCHEMA}",
    )
    op = make_resize_op(nh, nw)
    out = op(
        df,
        ["frame", "height", "width", "channels", "dtype"],
        "resized",
        f"struct<{FRAME_SCHEMA}>",
    )
    r = out.collect()[0].resized
    img = unpack(r.frame, r.height, r.width, r.channels, r.dtype)[:, :, 0]
    sy = np.clip((np.arange(nh) + 0.5) * (h / nh) - 0.5, 0, h - 1)[:, None]
    sx = np.clip((np.arange(nw) + 0.5) * (w / nw) - 0.5, 0, w - 1)[None, :]
    expect = 2.0 * sy + 3.0 * sx + 5.0
    assert np.allclose(img, expect, atol=1e-4)


def test_blur_constant_region(spark):
    # blur of a constant image is the same constant (normalized taps)
    img = np.full((8, 8, 1), 77, dtype=np.uint8)
    df = spark.createDataFrame(
        [{"stream_id": "0", "idx": 0, **pack(img)}],
        f"stream_id string, idx long, {FRAME_SCHEMA}",
    )
    op = make_blur_op(3)
    out = op(
        df,
        ["frame", "height", "width", "channels", "dtype"],
        "blurred",
        f"struct<{FRAME_SCHEMA}>",
    )
    r = out.collect()[0].blurred
    assert unpack(r.frame, r.height, r.width, r.channels, r.dtype).min() == 77
    assert unpack(r.frame, r.height, r.width, r.channels, r.dtype).max() == 77


def test_blur_impulse_is_gaussian(spark):
    # blur of a unit impulse is the separable Gaussian kernel itself
    # (cv2's fixed 3-tap table [.25, .5, .25])
    img = np.zeros((9, 9, 1), dtype=np.float32)
    img[4, 4, 0] = 1.0
    df = spark.createDataFrame(
        [{"stream_id": "0", "idx": 0, **pack(img)}],
        f"stream_id string, idx long, {FRAME_SCHEMA}",
    )
    op = make_blur_op(3)
    out = op(
        df,
        ["frame", "height", "width", "channels", "dtype"],
        "blurred",
        f"struct<{FRAME_SCHEMA}>",
    )
    r = out.collect()[0].blurred
    got = unpack(r.frame, r.height, r.width, r.channels, r.dtype)[:, :, 0]
    taps = np.array([0.25, 0.5, 0.25])
    expect = np.zeros((9, 9))
    expect[3:6, 3:6] = np.outer(taps, taps)
    assert np.allclose(got, expect, atol=1e-6)


@pytest.fixture(scope="module")
def struct_frame_stream(spark, frame_stream):
    from pyspark.sql import functions as F

    return frame_stream.select(
        "stream_id",
        "idx",
        F.struct("frame", "height", "width", "channels", "dtype").alias("frame_struct"),
    ).cache()


def test_optical_flow(struct_frame_stream):
    out = optical_flow_op(
        struct_frame_stream, ["frame_struct"], "flow", f"struct<{FRAME_SCHEMA}>"
    )
    rows = {
        (r.stream_id, r.idx): r.flow
        for r in out.collect()
    }
    f0 = rows[("0", 0)]
    assert (f0.height, f0.width, f0.channels, f0.dtype) == (H, W, 2, "f32")
    # REPEAT_EDGE at stream head: flow(0) compares frame 0 with itself -> 0
    flow0 = unpack(f0.frame, H, W, 2, "f32")
    assert float(np.abs(flow0).max()) == 0.0
    # every frame produces a finite dense field of the right shape
    f1 = rows[("0", 1)]
    flow1 = unpack(f1.frame, H, W, 2, "f32")
    assert np.isfinite(flow1).all()


def test_optical_flow_recovers_translation(spark):
    # dense LK must recover a 1-px horizontal shift of a smooth scene:
    # interior flow_x ~= +1, flow_y ~= 0 (prev->cur displacement sign)
    h, w = 64, 80
    y = np.arange(h)[:, None]
    x = np.arange(w + 1)[None, :]
    scene = (
        100.0
        + 60.0 * np.sin(2 * np.pi * x / 24.0)
        + 40.0 * np.cos(2 * np.pi * y / 20.0)
    ) * np.ones((h, 1))
    prev = scene[:, 1:].astype(np.float32)[:, :, None]   # window at x+1
    cur = scene[:, :-1].astype(np.float32)[:, :, None]   # window at x: content moved +1 px
    df = spark.createDataFrame(
        [
            {"stream_id": "0", "idx": 0, **pack(prev)},
            {"stream_id": "0", "idx": 1, **pack(cur)},
        ],
        f"stream_id string, idx long, {FRAME_SCHEMA}",
    )
    from pyspark.sql import functions as F

    st = df.select(
        "stream_id",
        "idx",
        F.struct("frame", "height", "width", "channels", "dtype").alias("frame_struct"),
    )
    out = optical_flow_op(st, ["frame_struct"], "flow", f"struct<{FRAME_SCHEMA}>")
    r = {row.idx: row.flow for row in out.collect()}[1]
    flow = unpack(r.frame, r.height, r.width, r.channels, r.dtype)
    interior = flow[12:-12, 12:-12]
    assert abs(float(np.median(interior[:, :, 0])) - 1.0) < 0.1
    assert abs(float(np.median(interior[:, :, 1]))) < 0.1


def test_png_encoder_roundtrip_header(frame_stream):
    out = image_encoder_op(
        frame_stream.limit(1),
        ["frame", "height", "width", "channels", "dtype"],
        "png",
        "binary",
    )
    png = bytes(out.collect()[0].png)
    assert png.startswith(b"\x89PNG\r\n\x1a\n")
    assert b"IHDR" in png and b"IEND" in png


def test_png_bytes_deterministic():
    img = synthetic_frame(0, 0, 4, 4, 3)
    assert encode_png(img) == encode_png(img)


# ---- PNG decode (real codec) ----------------------------------------------------


def _filtered_png(img, filter_type):
    """Foreign-encoder PNG using one non-trivial scanline filter per row."""
    import struct as _s
    import zlib as _z

    from scanner_spark.kernels.image import _png_chunk

    h, w, c = img.shape
    lines, prev = [], np.zeros(w * c, dtype=np.int64)
    for y in range(h):
        row = img[y].reshape(-1).astype(np.int64)
        left = np.concatenate([np.zeros(c, np.int64), row[:-c]])
        if filter_type == 0:
            filt = row
        elif filter_type == 1:
            filt = (row - left) & 0xFF
        elif filter_type == 2:
            filt = (row - prev) & 0xFF
        elif filter_type == 3:
            filt = (row - ((left + prev) >> 1)) & 0xFF
        else:  # Paeth
            filt = np.empty(w * c, np.int64)
            prow = (
                img[y - 1].reshape(-1).astype(np.int64)
                if y
                else np.zeros(w * c, np.int64)
            )
            for x in range(w * c):
                a = row[x - c] if x >= c else 0
                b = prev[x]
                cc = prow[x - c] if (y and x >= c) else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                filt[x] = (row[x] - pred) & 0xFF
        lines.append(bytes([filter_type]) + bytes(filt.astype(np.uint8)))
        prev = row
    ihdr = _s.pack(">IIBBBBB", w, h, 8, {1: 0, 3: 2, 4: 6}[c], 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _z.compress(b"".join(lines)))
        + _png_chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("shape", [(5, 7, 3), (4, 4, 1), (9, 3, 4), (1, 1, 3)])
def test_png_decode_roundtrip_bit_exact(shape):
    from scanner_spark.kernels.image import decode_png

    rng = np.random.default_rng(sum(shape))
    img = rng.integers(0, 256, size=shape, dtype=np.uint8)
    enc_input = img if shape[2] > 1 else img[:, :, 0]
    assert np.array_equal(decode_png(encode_png(enc_input)), img)


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_png_decode_foreign_filters(filter_type):
    from scanner_spark.kernels.image import decode_png

    rng = np.random.default_rng(filter_type)
    img = rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(_filtered_png(img, filter_type)), img)


def test_png_decode_rejects_garbage():
    from scanner_spark.kernels.image import decode_png

    with pytest.raises(ValueError):
        decode_png(b"not a png at all")


def test_png_16bit_decode():
    """16-bit PNGs (big-endian samples) decode to uint16 across color
    types, filters (bytewise at bpp = 2*channels), and Adam7; the
    payload path folds them to the high byte."""
    import struct
    import zlib

    from scanner_spark.functions.multimodal import decode_payload
    from scanner_spark.kernels.image import _ADAM7, PNG_MAGIC, _png_chunk, decode_png

    def make_png16(img16, color_type, filter_type=0, interlace=0):
        h, w, c = img16.shape
        be = img16.astype(">u2")
        if interlace:
            parts = []
            for x0, y0, dx, dy in _ADAM7:
                sub = be[y0::dy, x0::dx]
                if sub.size == 0:
                    continue
                ph, pw = sub.shape[:2]
                flat = np.frombuffer(sub.tobytes(), np.uint8).reshape(ph, pw * c * 2)
                lines = np.zeros((ph, pw * c * 2 + 1), np.uint8)
                lines[:, 1:] = flat
                parts.append(lines.tobytes())
            raw = b"".join(parts)
        else:
            flat = np.frombuffer(be.tobytes(), np.uint8).reshape(h, w * c * 2)
            lines = np.zeros((h, w * c * 2 + 1), np.uint8)
            if filter_type == 2:  # Up
                lines[:, 0] = 2
                f = flat.astype(np.int64)
                lines[0, 1:] = f[0]
                lines[1:, 1:] = (f[1:] - f[:-1]) % 256
            else:
                lines[:, 1:] = flat
            raw = lines.tobytes()
        ihdr = struct.pack(">IIBBBBB", w, h, 16, color_type, 0, 0, interlace)
        return (PNG_MAGIC + _png_chunk(b"IHDR", ihdr)
                + _png_chunk(b"IDAT", zlib.compress(raw))
                + _png_chunk(b"IEND", b""))

    rng = np.random.default_rng(37)
    for shape, ct in [((7, 9, 1), 0), ((6, 5, 3), 2), ((4, 4, 4), 6)]:
        img = rng.integers(0, 65536, shape, dtype=np.uint16)
        for ft in (0, 2):
            out = decode_png(make_png16(img, ct, filter_type=ft))
            assert out.dtype == np.uint16 and np.array_equal(out, img), (shape, ft)
        assert np.array_equal(decode_png(make_png16(img, ct, interlace=1)), img)
    # payload path: high byte survives
    img = (np.arange(48, dtype=np.uint16).reshape(4, 4, 3) << 8) | 0x7F
    out = decode_payload(make_png16(img, 2), 4, 4)
    assert np.array_equal(out, (img >> 8).astype(np.uint8))


def test_png_adam7_interlace():
    """Adam7 round trips bit-exact (tiny images exercise empty passes);
    a foreign interlaced stream with per-pass Up filters decodes too."""
    import struct
    import zlib

    from scanner_spark.kernels.image import (
        _ADAM7, PNG_MAGIC, _png_chunk, decode_png)

    rng = np.random.default_rng(23)
    for shape in [(1, 1, 3), (3, 5, 3), (7, 7), (13, 21, 3), (16, 16, 4)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        want = img if img.ndim == 3 else img[:, :, None]
        assert np.array_equal(decode_png(encode_png(img, interlace=True)), want)

    img = rng.integers(0, 256, (21, 17, 3), dtype=np.uint8)
    parts = []
    for x0, y0, dx, dy in _ADAM7:
        sub = img[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        ph, pw = sub.shape[:2]
        flat = sub.reshape(ph, pw * 3).astype(np.int64)
        lines = np.zeros((ph, pw * 3 + 1), dtype=np.uint8)
        lines[:, 0] = 2  # Up filter, resets per pass
        lines[0, 1:] = flat[0]
        lines[1:, 1:] = (flat[1:] - flat[:-1]) % 256
        parts.append(lines.tobytes())
    ihdr = struct.pack(">IIBBBBB", 17, 21, 8, 2, 0, 0, 1)
    png = (PNG_MAGIC + _png_chunk(b"IHDR", ihdr)
           + _png_chunk(b"IDAT", zlib.compress(b"".join(parts)))
           + _png_chunk(b"IEND", b""))
    assert np.array_equal(decode_png(png), img)


# ---------------------------------------------------------------------------
# baseline JPEG codec (kernels/jpeg.py)
# ---------------------------------------------------------------------------

def _grad_img(n=64):
    import numpy as np

    x = np.linspace(0, 255, n)
    g = np.stack(np.meshgrid(x, x), axis=-1).mean(axis=-1)
    return np.repeat(g[:, :, None], 3, axis=2).astype(np.uint8)


def test_jpeg_flat_blocks_exact():
    """A flat image is DC-only: quantization cannot touch it — decode must
    reproduce the input EXACTLY, in both subsample modes."""
    import numpy as np

    from scanner_spark.kernels.jpeg import decode_jpeg, encode_jpeg

    for val in (0, 64, 128, 200, 255):
        img = np.full((16, 24, 3), val, dtype=np.uint8)
        for ss in (True, False):
            assert np.array_equal(decode_jpeg(encode_jpeg(img, subsample=ss)), img)


def test_jpeg_gradient_high_psnr():
    import numpy as np

    from scanner_spark.kernels.jpeg import decode_jpeg, encode_jpeg

    img = _grad_img()
    for ss in (True, False):
        out = decode_jpeg(encode_jpeg(img, quality=90, subsample=ss))
        err = out.astype(float) - img.astype(float)
        psnr = 10 * np.log10(255**2 / max(1e-9, float(np.mean(err**2))))
        assert psnr > 40.0, f"psnr {psnr:.1f} subsample={ss}"
        assert int(np.abs(err).max()) <= 8


def test_jpeg_golden_pixels():
    """Pinned bytes and pixels: the codec is deterministic arithmetic, so
    any change to DCT/quant/huffman shows up as a golden mismatch."""
    import hashlib

    import numpy as np

    from scanner_spark.kernels.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (24, 40, 3), dtype=np.uint8)
    enc = encode_jpeg(img, quality=85)
    assert hashlib.sha256(enc).hexdigest()[:16] == "048c958f9cdecee0"
    dec = decode_jpeg(enc)
    assert hashlib.sha256(dec.tobytes()).hexdigest()[:16] == "da7bbf43c4d488b8"
    assert dec[0, 0].tolist() == [142, 105, 47]
    assert dec[12, 20].tolist() == [112, 148, 101]
    assert dec[23, 39].tolist() == [102, 109, 117]
    dec444 = decode_jpeg(encode_jpeg(img, quality=85, subsample=False))
    assert hashlib.sha256(dec444.tobytes()).hexdigest()[:16] == "af407e18c309d3d7"


def test_jpeg_restart_markers_equivalent():
    """DRI/RSTn path: restart intervals change the byte stream but not one
    pixel (DC predictor + bit alignment reset handled on both sides)."""
    import numpy as np

    from scanner_spark.kernels.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (48, 56, 3), dtype=np.uint8)
    base = decode_jpeg(encode_jpeg(img, quality=95))
    for ri in (1, 2, 7):
        assert np.array_equal(decode_jpeg(encode_jpeg(img, quality=95, restart_interval=ri)), base)


def test_jpeg_grayscale_and_odd_dims():
    import numpy as np

    from scanner_spark.kernels.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(5)
    g = rng.integers(0, 256, (19, 23), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(g, quality=90))
    assert out.shape == (19, 23, 3)
    assert np.array_equal(out[:, :, 0], out[:, :, 1])  # grey replicated
    img = rng.integers(0, 256, (33, 41, 3), dtype=np.uint8)  # non-multiple of 16
    assert decode_jpeg(encode_jpeg(img)).shape == img.shape


def test_jpeg_rejects_non_baseline():
    import pytest

    from scanner_spark.kernels.jpeg import decode_jpeg, encode_jpeg
    import numpy as np

    with pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg")
    # flip SOF0 -> SOF3 (lossless) in a real stream: must refuse, not
    # silently mis-decode
    enc = bytearray(encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8)))
    i = enc.find(b"\xff\xc0")
    enc[i + 1] = 0xC3
    with pytest.raises(ValueError, match="SOF3"):
        decode_jpeg(bytes(enc))
    # a sequential stream mislabeled SOF2: the scan header is malformed
    # for progressive (full-band "DC" scan) — loud error, not garbage
    enc[i + 1] = 0xC2
    with pytest.raises(ValueError, match="DC scan"):
        decode_jpeg(bytes(enc))


def test_jpeg_progressive_matches_baseline_pixels():
    """SOF2 successive-approximation streams decode to pixels IDENTICAL
    to the baseline encoding of the same image (same quantized
    coefficients, T.81 Annex G) — across subsampling, grayscale, flat
    images (long EOB runs), noise (dense AC + ZRL), and spikes."""
    import numpy as np

    from scanner_spark.kernels.jpeg import (
        decode_jpeg, encode_jpeg, encode_jpeg_progressive)

    rng = np.random.default_rng(17)
    cases = [
        (rng.integers(0, 256, (13, 21, 3), dtype=np.uint8), False),
        (rng.integers(0, 256, (32, 24, 3), dtype=np.uint8), True),
        (np.full((17, 19, 3), 77, np.uint8), True),          # flat: EOB runs
        (rng.integers(0, 256, (19, 23), dtype=np.uint8), False),  # grayscale
    ]
    spikes = np.zeros((48, 48, 3), np.uint8)
    spikes[5, 7], spikes[20, 33], spikes[40, 1] = 255, 200, 180  # ZRL paths
    cases.append((spikes, False))
    for img, sub in cases:
        for q in (50, 95):
            b = encode_jpeg(img, q, subsample=sub)
            p = encode_jpeg_progressive(img, q, subsample=sub)
            assert np.array_equal(decode_jpeg(b), decode_jpeg(p)), (img.shape, sub, q)
    # progressive streams are real SOF2 (marker present exactly once)
    assert encode_jpeg_progressive(spikes).count(b"\xff\xc2") == 1
    # restart markers inside progressive scans: EOB runs and DC
    # predictors reset at each RSTn, pixels still identical to baseline
    for img, sub, ri in [(spikes, False, 2),
                         (rng.integers(0, 256, (40, 56, 3), dtype=np.uint8), True, 3),
                         (np.full((40, 40, 3), 120, np.uint8), False, 2)]:
        b = decode_jpeg(encode_jpeg(img, 85, subsample=sub))
        p = decode_jpeg(
            encode_jpeg_progressive(img, 85, subsample=sub, restart_interval=ri))
        assert np.array_equal(b, p)
    enc = encode_jpeg_progressive(spikes, restart_interval=2)
    assert b"\xff\xdd" in enc and b"\xff\xd0" in enc  # DRI + RST0 present


def test_jpeg_progressive_batch_byte_identical():
    """encode_jpeg_progressive_batch must produce payloads BYTE-identical
    to per-image encode_jpeg_progressive — the whole-batch multi-segment
    builders (round 16) may change only speed.  Covers: text-tiled
    fixture content (the product path), all-zero (cross-block EOB runs
    ending at image boundaries), constant, dense noise, spikes (ZRL
    chains), grayscale, mixed shapes in one call (grouping), odd
    non-multiple-of-16 dims, and both qualities."""
    import numpy as np

    from scanner_spark.kernels.jpeg import (
        encode_jpeg_progressive, encode_jpeg_progressive_batch)

    rng = np.random.default_rng(31)
    imgs = []
    for did in range(24):  # the text_to_media tiling shape
        raw = (f"doc {did} " + "the quick brown fox " * 30).encode()
        need = 32 * 32 * 3
        arr = np.frombuffer((raw * (-(-need // len(raw))))[:need],
                            np.uint8).reshape(32, 32, 3)
        imgs.append(arr.copy())
    spikes = np.zeros((48, 48, 3), np.uint8)
    spikes[5, 7], spikes[20, 33], spikes[40, 1] = 255, 200, 180
    imgs += [
        np.zeros((32, 32, 3), np.uint8),
        np.full((32, 32, 3), 77, np.uint8),
        rng.integers(0, 256, (32, 32, 3), dtype=np.uint8),
        spikes,
        rng.integers(0, 256, (19, 23), dtype=np.uint8),   # grayscale
        rng.integers(0, 256, (13, 21, 3), dtype=np.uint8),  # odd dims
    ]
    # enough same-shape grays/odd-dims that those groups batch too
    imgs += [rng.integers(0, 256, (19, 23), dtype=np.uint8) for _ in range(5)]
    imgs += [rng.integers(0, 256, (13, 21, 3), dtype=np.uint8)
             for _ in range(5)]
    for q in (50, 95):
        got = encode_jpeg_progressive_batch(imgs, q)
        for i, img in enumerate(imgs):
            assert got[i] == encode_jpeg_progressive(img, q), (i, img.shape, q)


def test_jpeg_baseline_batch_byte_identical():
    """encode_jpeg_batch must match per-image encode_jpeg byte-for-byte
    over the same fixture spread as the progressive batch pin."""
    import numpy as np

    from scanner_spark.kernels.jpeg import encode_jpeg, encode_jpeg_batch

    rng = np.random.default_rng(33)
    imgs = []
    for did in range(16):
        raw = (f"doc {did} " + "the quick brown fox " * 30).encode()
        need = 32 * 32 * 3
        imgs.append(np.frombuffer((raw * (-(-need // len(raw))))[:need],
                                  np.uint8).reshape(32, 32, 3).copy())
    spikes = np.zeros((48, 48, 3), np.uint8)
    spikes[5, 7], spikes[20, 33] = 255, 200
    imgs += [
        np.zeros((32, 32, 3), np.uint8),
        np.full((32, 32, 3), 77, np.uint8),
        rng.integers(0, 256, (32, 32, 3), dtype=np.uint8),
        spikes,
        rng.integers(0, 256, (19, 23), dtype=np.uint8),
    ]
    imgs += [rng.integers(0, 256, (19, 23), dtype=np.uint8) for _ in range(5)]
    for q in (50, 95):
        got = encode_jpeg_batch(imgs, q)
        for i, img in enumerate(imgs):
            assert got[i] == encode_jpeg(img, q), (i, img.shape, q)


def test_decode_payload_jpeg_real_path_and_no_fake():
    """decode_payload routes JPEG magic through the REAL decoder; a
    payload with no recognized magic RAISES — there is no fake image
    decode path (VERDICT r05 #8)."""
    import numpy as np
    import pytest

    from scanner_spark.functions.multimodal import decode_payload
    from scanner_spark.kernels.jpeg import encode_jpeg

    img = _grad_img(32)
    pay = encode_jpeg(img, quality=90)
    out = decode_payload(pay, 32, 32)
    err = out.astype(float) - img.astype(float)
    assert 10 * np.log10(255**2 / max(1e-9, float(np.mean(err**2)))) > 40.0
    # corrupt JPEG body with intact magic: raises (caller picks policy)
    with pytest.raises(Exception):
        decode_payload(b"\xff\xd8garbage", 8, 8)
    # GIF now has a real codec: a truncated GIF body with intact magic
    # RAISES (caller picks policy) instead of falling to a fake
    with pytest.raises(Exception):
        decode_payload(b"GIF89a" + b"\x00" * 16, 8, 8)
    # unrecognized magic: loud refusal, not fabricated pixels
    with pytest.raises(ValueError, match="no codec"):
        decode_payload(b"BM" + b"\x00" * 16, 8, 8)  # BMP out of scope


# ---------------------------------------------------------------------------
# WAV/PCM audio codec (kernels/audio.py)
# ---------------------------------------------------------------------------

def test_wav_int16_round_trip_bit_exact():
    import numpy as np

    from scanner_spark.kernels.audio import decode_wav, encode_wav

    rng = np.random.default_rng(11)
    for ch in (1, 2):
        s = rng.integers(-32768, 32768, (777, ch)).astype(np.int16)
        x, sr = decode_wav(encode_wav(s, 44100))
        assert sr == 44100 and x.shape == (777, ch)
        back = np.round(x * 32768.0).astype(np.int16)  # exact: int16/2^15
        assert np.array_equal(back, s)


def test_wav_decodes_other_depths_and_skips_chunks():
    import struct

    import numpy as np

    from scanner_spark.kernels.audio import decode_wav

    def wav(tag, bits, body, ch=1, sr=8000, extra=b""):
        fmt = struct.pack("<HHIIHH", tag, ch, sr, sr * ch * bits // 8, ch * bits // 8, bits)
        chunks = extra + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        chunks += b"data" + struct.pack("<I", len(body)) + body
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    # 8-bit unsigned: 128 is zero
    x, _ = decode_wav(wav(1, 8, bytes([128, 255, 0])))
    assert x[0, 0] == 0.0 and x[1, 0] > 0.99 and x[2, 0] == -1.0
    # 24-bit: max positive
    x, _ = decode_wav(wav(1, 24, b"\xff\xff\x7f" + b"\x00\x00\x80"))
    assert abs(x[0, 0] - (2**23 - 1) / 2**23) < 1e-12 and x[1, 0] == -1.0
    # float32 passthrough
    body = np.array([0.5, -0.25], dtype="<f4").tobytes()
    x, _ = decode_wav(wav(3, 32, body))
    assert x[0, 0] == 0.5 and x[1, 0] == -0.25
    # unknown leading chunk (LIST) skipped
    lst = b"LIST" + struct.pack("<I", 4) + b"INFO"
    x, sr = decode_wav(wav(1, 16, np.array([1000], dtype="<i2").tobytes(), extra=lst))
    assert sr == 8000 and x.shape == (1, 1)


def test_wav_malformed_raises():
    import pytest

    from scanner_spark.kernels.audio import decode_wav

    with pytest.raises(ValueError):
        decode_wav(b"not audio")
    with pytest.raises(ValueError):
        decode_wav(b"RIFF\x00\x00\x00\x00WAVE")  # no fmt/data


def test_resample_linear_endpoints_and_identity():
    import numpy as np

    from scanner_spark.kernels.audio import resample_linear

    s = np.array([0.0, 1.0, 0.0, -1.0, 0.0])
    same = resample_linear(s, 8000, 8000)
    assert np.allclose(same, s)  # identity rate keeps every sample
    up = resample_linear(s, 8000, 16000)
    assert up[0] == s[0] and up[-1] == s[-1]  # endpoint-anchored
    assert len(up) == 10
    down = resample_linear(up, 16000, 8000)
    assert down[0] == s[0] and down[-1] == s[-1]
    # a straight line resamples to a straight line exactly (linear kernel)
    line = np.linspace(-1, 1, 100)
    up2 = resample_linear(line, 100, 250)
    assert np.allclose(up2, np.linspace(-1, 1, len(up2)), atol=1e-12)


def test_audio_features_integer_exact():
    import numpy as np

    from scanner_spark.kernels.audio import audio_features

    # alternating full-scale square wave: rms = amplitude, zcr = 1
    s = np.tile([1000, -1000], 50).astype(np.int16)
    f = audio_features(s)
    assert f == {"n_samples": 100, "rms": 1000.0, "zcr": 1.0, "peak": 1000}
    # silence: zero everything, sign(0) = +1 so no crossings
    z = audio_features(np.zeros(10, dtype=np.int16))
    assert z == {"n_samples": 10, "rms": 0.0, "zcr": 0.0, "peak": 0}


# ---------------------------------------------------------------------------
# GIF codec (kernels/gif.py)
# ---------------------------------------------------------------------------

def test_gif_round_trip_pixel_exact():
    import numpy as np

    from scanner_spark.kernels.gif import decode_gif, encode_gif

    rng = np.random.default_rng(7)
    # palette sizes crossing every LZW code-width boundary incl. 256
    for h, w, ncol in [(1, 1, 1), (8, 8, 2), (16, 16, 5), (32, 32, 256), (64, 48, 129)]:
        pal = rng.integers(0, 256, size=(ncol, 3), dtype=np.uint8)
        img = pal[rng.integers(0, ncol, size=(h, w))]
        out = decode_gif(encode_gif(img))
        assert out.shape == (h, w, 3) and np.array_equal(out, img)
    # large random 256-color image: forces dictionary reset at code 4096
    pal = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    img = pal[rng.integers(0, 256, size=(128, 128))]
    assert np.array_equal(decode_gif(encode_gif(img)), img)


def test_gif_golden_pixels():
    """Golden pin: a hand-built 4x2 2-color GIF (spec-layout bytes written
    field by field) decodes to exactly the expected pixels — decoder
    correctness independent of our own encoder."""
    import struct

    import numpy as np

    from scanner_spark.kernels.gif import _lzw_encode, decode_gif

    # palette: red, white; pixels: checkerboard
    idx = np.array([[0, 1, 0, 1], [1, 0, 1, 0]], dtype=np.int64)
    lzw = _lzw_encode(idx.ravel(), 2)
    raw = bytearray()
    raw += b"GIF89a"
    raw += struct.pack("<HHBBB", 4, 2, 0x80, 0, 0)  # GCT, 2 entries
    raw += bytes([255, 0, 0, 255, 255, 255])
    raw += struct.pack("<BHHHHB", 0x2C, 0, 0, 4, 2, 0)
    raw += bytes([2, len(lzw)]) + lzw + bytes([0, 0x3B])
    out = decode_gif(bytes(raw))
    expect = np.array(
        [[[255, 0, 0], [255, 255, 255]] * 2,
         [[255, 255, 255], [255, 0, 0]] * 2],
        dtype=np.uint8,
    )
    assert np.array_equal(out, expect)


def test_gif_interlaced_and_local_table():
    """Interlaced row ordering (4 passes) and a LOCAL color table override
    both decode correctly — built by hand since the encoder writes
    non-interlaced global-table files."""
    import struct

    import numpy as np

    from scanner_spark.kernels.gif import _INTERLACE_PASSES, _lzw_encode, decode_gif

    rng = np.random.default_rng(3)
    h, w = 11, 6  # odd height exercises uneven pass lengths
    pal = rng.integers(0, 256, size=(4, 3), dtype=np.uint8)
    img_idx = rng.integers(0, 4, size=(h, w))
    # rows in interlace transmission order
    order = [r for start, step in _INTERLACE_PASSES for r in range(start, h, step)]
    transmitted = img_idx[order].ravel().astype(np.int64)
    lzw = _lzw_encode(transmitted, 2)
    raw = bytearray()
    raw += b"GIF89a"
    raw += struct.pack("<HHBBB", w, h, 0x80, 0, 0)  # bogus 2-entry GCT
    raw += bytes([9, 9, 9, 1, 1, 1])
    # image descriptor: interlace (0x40) + local table of 4 entries (0x81)
    raw += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0x40 | 0x80 | 0x01)
    raw += pal.tobytes()
    raw += bytes([2])
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        raw += bytes([len(chunk)]) + chunk
    raw += bytes([0, 0x3B])
    out = decode_gif(bytes(raw))
    assert np.array_equal(out, pal[img_idx])  # local table + de-interlace


def test_gif_skips_extensions_and_honors_first_frame():
    """Extension blocks (GCE/comment) before the image are skipped; only
    the FIRST image of a multi-image stream is returned."""
    import numpy as np

    from scanner_spark.kernels.gif import decode_gif, encode_gif

    img1 = np.full((4, 4, 3), 200, dtype=np.uint8)
    base = bytearray(encode_gif(img1))
    # splice a GCE + comment extension after the header+GCT (13 + 6 bytes)
    hdr_end = 13 + 2 * 3
    gce = bytes([0x21, 0xF9, 4, 0, 0, 0, 0, 0])
    comment = bytes([0x21, 0xFE, 3]) + b"hey" + bytes([0])
    spliced = bytes(base[:hdr_end]) + gce + comment + bytes(base[hdr_end:])
    assert np.array_equal(decode_gif(spliced), img1)


@pytest.mark.parametrize("bad", [0, 1, 9, 11, 255])
def test_gif_corrupt_min_code_size_rejected(bad):
    """A corrupt LZW minimum code size byte fails with a deliberate
    ValueError, not an incidental error inside the decoder."""
    import numpy as np

    from scanner_spark.kernels.gif import decode_gif, encode_gif

    raw = bytearray(encode_gif(np.full((4, 4, 3), 200, dtype=np.uint8)))
    # header + 2-entry GCT (13 + 6 bytes), image descriptor (10 bytes)
    pos = 13 + 2 * 3 + 10
    assert raw[pos] == 2
    raw[pos] = bad
    with pytest.raises(ValueError, match="min code size out of range"):
        decode_gif(bytes(raw))


# ---------------------------------------------------------------------------
# TIFF codec (kernels/tiff.py)
# ---------------------------------------------------------------------------

def test_tiff_round_trip_and_variants():
    import numpy as np

    from scanner_spark.kernels.tiff import decode_tiff, encode_tiff

    rng = np.random.default_rng(4)
    for shape in [(7, 9), (16, 16, 1), (13, 21, 3), (8, 8, 4)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        out = decode_tiff(encode_tiff(img))
        want = img if img.ndim == 3 else img[:, :, None]
        assert np.array_equal(out, want)


def test_tiff_foreign_layout_big_endian_multistrip():
    """Decoder handles what OUR encoder never writes: big-endian byte
    order and a multi-strip layout — built field by field."""
    import struct

    import numpy as np

    from scanner_spark.kernels.tiff import decode_tiff

    rng = np.random.default_rng(6)
    img = rng.integers(0, 256, (6, 5, 3), dtype=np.uint8)
    px = img.tobytes()
    half = 3 * 5 * 3
    out = bytearray(b"MM\x00*" + struct.pack(">I", 8))
    offs = []
    for s in (px[:half], px[half:]):
        offs.append(len(out))
        out += s
    bps_off = len(out); out += struct.pack(">3H", 8, 8, 8)
    so_off = len(out); out += struct.pack(">2I", *offs)
    sc_off = len(out); out += struct.pack(">2I", half, half)
    out[4:8] = struct.pack(">I", len(out))

    def tag(t, typ, count, value):
        return struct.pack(">HHI", t, typ, count) + struct.pack(">I", value)

    def tshort(t, v):
        return struct.pack(">HHI", t, 3, 1) + struct.pack(">HH", v, 0)

    tags = [tag(256, 4, 1, 5), tag(257, 4, 1, 6), tag(258, 3, 3, bps_off),
            tshort(259, 1), tshort(262, 2), tag(273, 4, 2, so_off),
            tshort(277, 3), tag(278, 4, 1, 3), tag(279, 4, 2, sc_off),
            tshort(284, 1)]
    out += struct.pack(">H", len(tags)) + b"".join(tags) + struct.pack(">I", 0)
    assert np.array_equal(decode_tiff(bytes(out)), img)


def test_tiff_unsupported_compression_refused_payload_real_formats():
    import numpy as np
    import pytest as _pytest

    from scanner_spark.functions.multimodal import decode_payload
    from scanner_spark.kernels.tiff import decode_tiff, encode_tiff

    # JPEG-in-TIFF (compression 7): explicit refusal, not silent garbage —
    # walk the IFD and patch the Compression (259) entry
    import struct as _s

    img = np.full((4, 4, 3), 9, np.uint8)
    buf = bytearray(encode_tiff(img))
    (ifd,) = _s.unpack_from("<I", buf, 4)
    (n,) = _s.unpack_from("<H", buf, ifd)
    for i in range(n):
        off = ifd + 2 + 12 * i
        t, typ, cnt = _s.unpack_from("<HHI", buf, off)
        if t == 259:
            _s.pack_into("<H", buf, off + 8, 7)
    with _pytest.raises(NotImplementedError, match="compression 7"):
        decode_tiff(bytes(buf))
    # decode_payload: real TIFF path end-to-end; real WebP path too
    out = decode_payload(encode_tiff(img), 4, 4)
    assert np.array_equal(out, img)
    from scanner_spark.kernels.webp import encode_webp

    out = decode_payload(encode_webp(img), 4, 4)
    assert np.array_equal(out, img)


def test_tiff_lzw_packbits_predictor_round_trips():
    """Compression 5 (LZW, early change), 32773 (PackBits), and
    Predictor 2 round-trip exactly; LZW+predictor compresses a smooth
    gradient; the spec's §13 worked example emits the pinned code
    sequence (external-conformance anchor for the early-change widths)."""
    import numpy as np

    from scanner_spark.kernels.tiff import (
        _lzw_decode, _lzw_encode, decode_tiff, encode_tiff)

    rng = np.random.default_rng(11)
    for shape in [(7, 9), (16, 16, 1), (13, 21, 3), (8, 8, 4)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        want = img if img.ndim == 3 else img[:, :, None]
        for comp in ("none", "lzw", "packbits"):
            for pred in (1, 2):
                got = decode_tiff(encode_tiff(img, compression=comp, predictor=pred))
                assert np.array_equal(got, want), (shape, comp, pred)

    # smooth gradient: horizontal differencing makes LZW earn its keep
    g = np.arange(256, dtype=np.uint8)[None, :].repeat(64, 0)[:, :, None]
    assert len(encode_tiff(g, compression="lzw", predictor=2)) < len(encode_tiff(g)) / 4

    # TIFF 6.0 §13 worked example: CLEAR 7 258 8 8 258 6 6 EOI, 9-bit codes
    enc = _lzw_encode(bytes([7, 7, 7, 8, 8, 7, 7, 6, 6]))
    bits = "".join(f"{b:08b}" for b in enc)
    codes = [int(bits[i : i + 9], 2) for i in range(0, (len(bits) // 9) * 9, 9)]
    assert codes == [256, 7, 258, 8, 8, 258, 6, 6, 257]
    assert _lzw_decode(enc, 16) == bytes([7, 7, 7, 8, 8, 7, 7, 6, 6])

    # early-change width walk + table clear: 200k random bytes push the
    # code width through 9->10->11->12 and force a 4094-entry clear
    blob = rng.integers(0, 256, 200_000, dtype=np.uint8).tobytes()
    assert _lzw_decode(_lzw_encode(blob), len(blob)) == blob
    # KwKwK case (code == next free entry)
    s = b"ab" * 500
    assert _lzw_decode(_lzw_encode(s), len(s)) == s


def test_tiff_foreign_multistrip_lzw():
    """A multi-strip LZW file where each strip is independently
    compressed (what real writers emit) decodes strip-by-strip."""
    import struct

    import numpy as np

    from scanner_spark.kernels.tiff import _lzw_encode, decode_tiff

    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, (6, 5, 3), dtype=np.uint8)
    px = img.tobytes()
    half = 3 * 5 * 3
    strips = [_lzw_encode(px[:half]), _lzw_encode(px[half:])]
    out = bytearray(b"MM\x00*" + struct.pack(">I", 8))
    offs = []
    for s in strips:
        offs.append(len(out))
        out += s
    bps_off = len(out); out += struct.pack(">3H", 8, 8, 8)
    so_off = len(out); out += struct.pack(">2I", *offs)
    sc_off = len(out); out += struct.pack(">2I", *(len(s) for s in strips))
    out[4:8] = struct.pack(">I", len(out))

    def tag(t, typ, count, value):
        return struct.pack(">HHI", t, typ, count) + struct.pack(">I", value)

    def tshort(t, v):
        return struct.pack(">HHI", t, 3, 1) + struct.pack(">HH", v, 0)

    tags = [tag(256, 4, 1, 5), tag(257, 4, 1, 6), tag(258, 3, 3, bps_off),
            tshort(259, 5), tshort(262, 2), tag(273, 4, 2, so_off),
            tshort(277, 3), tag(278, 4, 1, 3), tag(279, 4, 2, sc_off),
            tshort(284, 1)]
    out += struct.pack(">H", len(tags)) + b"".join(tags) + struct.pack(">I", 0)
    assert np.array_equal(decode_tiff(bytes(out)), img)


def test_tiff_white_is_zero_inverted():
    """PhotometricInterpretation 0 (WhiteIsZero) greyscale decodes
    inverted to BlackIsZero sample space; unknown photo values are
    refused loudly (ADVICE r05)."""
    import struct as _s

    import numpy as np
    import pytest as _pytest

    from scanner_spark.kernels.tiff import decode_tiff, encode_tiff

    img = np.arange(24, dtype=np.uint8).reshape(4, 6)

    def patch_photo(buf: bytes, value: int) -> bytes:
        buf = bytearray(buf)
        (ifd,) = _s.unpack_from("<I", buf, 4)
        (n,) = _s.unpack_from("<H", buf, ifd)
        for i in range(n):
            off = ifd + 2 + 12 * i
            t, typ, cnt = _s.unpack_from("<HHI", buf, off)
            if t == 262:
                _s.pack_into("<HH", buf, off + 8, value, 0)
        return bytes(buf)

    wiz = patch_photo(encode_tiff(img), 0)
    assert np.array_equal(decode_tiff(wiz)[:, :, 0], 255 - img)
    with _pytest.raises(NotImplementedError, match="photometric"):
        decode_tiff(patch_photo(encode_tiff(img), 3))  # palette


# ---------------------------------------------------------------------------
# FLAC codec (kernels/flac.py)
# ---------------------------------------------------------------------------

def test_flac_round_trips_and_compression():
    """Byte-exact lossless round trips across signal shapes, block sizes,
    and channel modes; smooth audio actually compresses; dual-mono
    engages mid-side decorrelation."""
    import numpy as np

    from scanner_spark.kernels.flac import decode_flac, encode_flac

    rng = np.random.default_rng(31)

    def rt(s, sr=8000, **kw):
        enc = encode_flac(s, sr, **kw)
        dec, rate = decode_flac(enc)
        want = (s if s.ndim == 2 else s[:, None]).astype(np.int32)
        assert np.array_equal(dec, want) and rate == sr, (s.shape, kw)
        return len(enc)

    i = np.arange(1300)
    saw = ((((i * 17) % 256) - 128) * 64).astype(np.int16)  # synth_audio shape
    rt(saw)
    rt(rng.integers(-32768, 32768, 5000).astype(np.int16))  # white noise
    rt(np.zeros(1000, np.int16))                             # constant
    rt(np.array([32767, -32768] * 200, np.int16))            # extremes
    smooth = (10000 * np.sin(np.arange(6000) / 20.0)).astype(np.int16)
    assert rt(smooth) < smooth.nbytes / 4                     # real compression
    l = (8000 * np.sin(np.arange(4000) / 15.0)).astype(np.int16)
    ms = rt(np.stack([l, l], 1))
    ind = rt(np.stack([l, l], 1), mid_side=False)
    assert ms < ind * 0.62                                    # mid-side wins
    noisy_r = (l.astype(np.int32) + rng.integers(-50, 50, 4000)) \
        .clip(-32768, 32767).astype(np.int16)
    rt(np.stack([l, noisy_r], 1))
    rt(saw[:1].copy()); rt(saw[:5].copy())                    # tiny inputs
    rt(saw, block_size=256); rt(saw, use_lpc=False)
    rt(np.array([], np.int16).reshape(0))                     # empty stream


def test_flac_crc_check_values():
    """External-conformance anchors: the generated CRC tables reproduce
    the published '123456789' check values for CRC-8 poly 0x07 (0xF4,
    CRC-8/SMBUS) and CRC-16 poly 0x8005 non-reflected (0xFEE8,
    CRC-16/UMTS) — the two algorithms the FLAC format specifies."""
    from scanner_spark.kernels.flac import _crc8, _crc16

    assert _crc8(b"123456789") == 0xF4
    assert _crc16(b"123456789") == 0xFEE8


def test_flac_foreign_stream_partitions_escape_wasted_bits():
    """Hand-built stream exercising decoder paths our encoder never
    emits: rice partition order 1, an ESCAPE (raw-bits) partition, and a
    wasted-bits verbatim subframe."""
    import struct

    import numpy as np

    from scanner_spark.kernels.flac import (
        FLAC_MAGIC, _BitsW, _crc8, _crc16, _utf8_coded, decode_flac)

    sr, bps, n = 8000, 16, 64
    samples = np.cumsum(np.concatenate(
        [[100], np.arange(-15, 16), np.arange(-16, 16)])).astype(np.int64)
    res = np.diff(samples)

    def frame_header(bw, frame_no):
        bw.write(0x3FFE, 14); bw.write(0, 1); bw.write(0, 1)
        bw.write(7, 4); bw.write(0, 4); bw.write(0, 4); bw.write(4, 3)
        bw.write(0, 1)
        for b in _utf8_coded(frame_no):
            bw.write(b, 8)
        bw.write(n - 1, 16)
        bw.align()
        bw.write(_crc8(bytes(bw.out)), 8)

    # frame 0: FIXED(1), partition order 1, partition 2 escaped (7 raw bits)
    bw = _BitsW()
    frame_header(bw, 0)
    bw.write(0, 1); bw.write(9, 6); bw.write(0, 1)  # FIXED order 1
    bw.write(int(samples[0]), bps)
    bw.write(0, 2); bw.write(1, 4)  # rice-4, 2 partitions
    bw.write(3, 4)
    for r in res[:31]:
        z = (int(r) << 1) if r >= 0 else ((-int(r)) << 1) - 1
        bw.write_unary(z >> 3); bw.write(z & 7, 3)
    bw.write(15, 4); bw.write(7, 5)  # escape: raw 7-bit residuals
    for r in res[31:]:
        bw.write(int(r), 7)
    bw.align()
    bw.write(_crc16(bytes(bw.out)), 16)
    frame0 = bw.bytes()

    # frame 1: VERBATIM with 2 wasted bits (samples are multiples of 4)
    samples1 = (np.arange(n, dtype=np.int64) - 32) * 4
    bw = _BitsW()
    frame_header(bw, 1)
    bw.write(0, 1); bw.write(1, 6)      # VERBATIM
    bw.write(1, 1); bw.write_unary(1)   # wasted_bits = unary(1) + 1 = 2
    for v in samples1 >> 2:
        bw.write(int(v), bps - 2)
    bw.align()
    bw.write(_crc16(bytes(bw.out)), 16)
    frame1 = bw.bytes()

    info = bytearray()
    info += struct.pack(">HH", n, n) + b"\x00\x00\x00" * 2
    bits = (sr << 44) | (0 << 41) | ((bps - 1) << 36) | (2 * n)
    info += bits.to_bytes(8, "big") + b"\x00" * 16  # md5 unknown
    blob = (FLAC_MAGIC + bytes([0x80]) + len(info).to_bytes(3, "big")
            + bytes(info) + frame0 + frame1)
    dec, rate = decode_flac(blob)
    assert rate == sr
    want = np.concatenate([samples, samples1]).astype(np.int32)
    assert np.array_equal(dec[:, 0], want)


def test_flac_crc_detects_corruption():
    import numpy as np
    import pytest as _pytest

    from scanner_spark.kernels.flac import decode_flac, encode_flac

    smooth = (10000 * np.sin(np.arange(3000) / 20.0)).astype(np.int16)
    enc = bytearray(encode_flac(smooth, 8000))
    enc[len(enc) // 2] ^= 0xFF
    with _pytest.raises(ValueError):
        decode_flac(bytes(enc))
    with _pytest.raises(ValueError):
        decode_flac(b"not flac at all")


def test_gif_composites_placement_and_transparency():
    """A first frame smaller than the logical screen composites onto the
    background canvas at its (x0, y0); GCE-transparent pixels show the
    background (ADVICE r05).  Output dims == the header's screen."""
    import struct as _s

    import numpy as np

    from scanner_spark.kernels.gif import _lzw_encode, decode_gif

    # screen 8x6, bg = palette[1] (blue-ish); 3x2 patch at (x0=2, y0=1)
    pal = np.array([[250, 0, 0], [0, 0, 200], [0, 255, 0], [9, 9, 9]], np.uint8)
    patch_idx = np.array([[0, 2, 0], [3, 0, 3]])  # color 3 marked transparent
    raw = bytearray()
    raw += b"GIF89a"
    raw += _s.pack("<HHBBB", 8, 6, 0x80 | 0x01, 1, 0)  # 4-entry GCT, bg=1
    raw += pal.tobytes()
    raw += bytes([0x21, 0xF9, 4, 0x01, 0, 0, 3, 0])  # GCE: transparent idx 3
    raw += _s.pack("<BHHHHB", 0x2C, 2, 1, 3, 2, 0)  # descriptor at (2,1) 3x2
    lzw = _lzw_encode(patch_idx.ravel().astype(np.int64), 2)
    raw += bytes([2, len(lzw)]) + lzw + bytes([0, 0x3B])
    out = decode_gif(bytes(raw))
    assert out.shape == (6, 8, 3)
    bg = pal[1]
    assert np.array_equal(out[0, 0], bg) and np.array_equal(out[5, 7], bg)
    assert np.array_equal(out[1, 2], pal[0]) and np.array_equal(out[1, 3], pal[2])
    assert np.array_equal(out[2, 2], bg)  # transparent -> background
    assert np.array_equal(out[2, 3], pal[0])


# ---------------------------------------------------------------------------
# WebP lossless / VP8L codec (kernels/webp.py)
# ---------------------------------------------------------------------------

def test_webp_round_trip_pixel_exact():
    import numpy as np

    from scanner_spark.kernels import webp as W

    rng = np.random.default_rng(8)
    for shape in [(7, 9, 3), (16, 16, 4), (1, 1, 3), (33, 5, 3)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        out = W.decode_webp(W.encode_webp(img))
        want = img if shape[2] == 4 else np.dstack(
            [img, np.full(shape[:2], 255, np.uint8)]
        )
        assert np.array_equal(out, want), shape
    # grey input replicates to RGB
    g = rng.integers(0, 256, (6, 6), dtype=np.uint8)
    out = W.decode_webp(W.encode_webp(g))
    assert np.array_equal(out[:, :, 0], g) and np.array_equal(out[:, :, 1], g)


def test_webp_distance_map_matches_spec_prefix():
    """The generated 120-entry LZ77 neighbourhood map must reproduce the
    spec's explicit list — the first 40 entries are pinned verbatim."""
    from scanner_spark.kernels.webp import _DIST_MAP

    exp = [(0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
           (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
           (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
           (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
           (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0)]
    assert _DIST_MAP[:40] == exp
    assert len(_DIST_MAP) == 120 and len(set(_DIST_MAP)) == 120


def _vp8l_container(payload: bytes) -> bytes:
    import struct

    vp8l = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        vp8l += b"\x00"
    riff = b"WEBP" + vp8l
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def _emit_code(wtr, codebook, sym):
    code, n = codebook[sym]
    for i in range(n - 1, -1, -1):
        wtr.u((code >> i) & 1, 1)


def test_webp_decodes_subtract_green_and_lz77():
    """Hand-built stream using decoder-only features: SUBTRACT_GREEN
    transform + an LZ77 backward reference copying the first row into the
    second (2D distance code 1 = (0, 1) = one row up)."""
    import numpy as np

    from scanner_spark.kernels import webp as W

    w, h = 4, 2
    row = np.array([[30, 90, 10], [200, 40, 250], [90, 90, 90], [0, 255, 0]],
                   dtype=np.uint8)
    # forward subtract-green on the literals
    res = row.astype(np.int64).copy()
    res[:, 0] = (res[:, 0] - res[:, 1]) % 256
    res[:, 2] = (res[:, 2] - res[:, 1]) % 256
    wtr = W._LsbWriter()
    wtr.u(w - 1, 14); wtr.u(h - 1, 14); wtr.u(0, 1); wtr.u(0, 3)
    wtr.u(1, 1); wtr.u(2, 2)  # one transform: SUBTRACT_GREEN
    wtr.u(0, 1)  # no more transforms
    wtr.u(0, 1)  # no color cache
    wtr.u(0, 1)  # no entropy image
    # green alphabet: literals + symbol 256 (lz77 len code 0)
    greens = sorted(set(res[:, 1].tolist()) | {256})
    glen = [0] * 280
    for s in greens:
        glen[s] = max(1, (len(greens) - 1).bit_length())
    # make it a valid complete-enough code: use equal lengths via padding
    L = (len(greens) - 1).bit_length() or 1
    glen = [0] * 280
    for s in greens:
        glen[s] = L
    W._write_code_lengths(wtr, glen)
    gcode = W._canonical_codes(glen)
    chans = []
    for col in (0, 2):  # red, blue
        vals = sorted(set(res[:, col].tolist()))
        ln = [0] * 256
        Lc = (len(vals) - 1).bit_length() or 1
        if len(vals) == 1:
            ln[vals[0]] = 1
            W._write_code_lengths(wtr, ln)
            chans.append({vals[0]: (0, 0)})
            continue
        for v in vals:
            ln[v] = Lc
        W._write_code_lengths(wtr, ln)
        chans.append(W._canonical_codes(ln))
    rcode, bcode = chans
    alen = [0] * 256
    alen[255] = 1
    W._write_code_lengths(wtr, alen)
    acode = {255: (0, 0)}
    dlen = [0] * 40
    dlen[0] = 1  # distance prefix symbol 0 -> value 1 -> plane code 1
    W._write_code_lengths(wtr, dlen)
    dcode = {0: (0, 0)}
    for i in range(w):  # first row literals
        _emit_code(wtr, gcode, int(res[i, 1]))
        _emit_code(wtr, rcode, int(res[i, 0]))
        _emit_code(wtr, bcode, int(res[i, 2]))
        _emit_code(wtr, acode, 255)
    # second row: one LZ77 ref, length 4, distance plane-code 1 -> (0,1)
    _emit_code(wtr, gcode, 256)  # length prefix symbol 0 -> length 1? no:
    # symbol 256 = length code 0 -> value 1.  Emit 4 refs of length 1 is
    # also fine, but use one length-4 ref: length code for 4 is symbol 3
    # (sym<4 -> value sym+1).  Rebuild: emit three more singles instead.
    _emit_code(wtr, dcode, 0)
    for _ in range(3):
        _emit_code(wtr, gcode, 256)
        _emit_code(wtr, dcode, 0)
    data = _vp8l_container(bytes([0x2F]) + wtr.bytes())
    out = W.decode_webp(data)
    assert out.shape == (2, 4, 4)
    for y in range(2):
        assert np.array_equal(out[y, :, :3], row), y


def test_webp_decodes_color_cache():
    """Hand-built stream using the color cache: one literal pixel, then a
    cache hit reproducing it."""
    import numpy as np

    from scanner_spark.kernels import webp as W

    wtr = W._LsbWriter()
    wtr.u(1, 14); wtr.u(1, 14); wtr.u(0, 1); wtr.u(0, 3)  # 2x2
    wtr.u(0, 1)  # no transforms
    wtr.u(1, 1); wtr.u(2, 4)  # color cache, 2 bits (size 4)
    wtr.u(0, 1)  # no entropy image
    cache_size = 4
    px = (255 << 24) | (17 << 16) | (99 << 8) | 203  # a,r,g,b
    slot = ((0x1E35A7BD * px) & 0xFFFFFFFF) >> (32 - 2)
    # green alphabet 256+24+4: literal 99 + cache symbol 280+slot
    glen = [0] * (256 + 24 + cache_size)
    glen[99] = 1
    glen[256 + 24 + slot] = 1
    W._write_code_lengths(wtr, glen)
    gcode = W._canonical_codes(glen)
    for ln_arr, sym in (([0] * 256, 17), ([0] * 256, 203), ([0] * 256, 255)):
        ln_arr[sym] = 1
        W._write_code_lengths(wtr, ln_arr)
    dlen = [0] * 40
    dlen[0] = 1
    W._write_code_lengths(wtr, dlen)
    # 4 pixels: literal, cache, cache, cache
    _emit_code(wtr, gcode, 99)  # r/b/a channels are single-symbol: 0 bits
    for _ in range(3):
        _emit_code(wtr, gcode, 256 + 24 + slot)
    out = W.decode_webp(_vp8l_container(bytes([0x2F]) + wtr.bytes()))
    assert np.array_equal(out.reshape(-1, 4), np.tile([17, 99, 203, 255], (4, 1)))


def test_webp_decodes_palette_with_bundling():
    """Hand-built COLOR_INDEXING stream: a 3-color palette (bundled 2
    pixels per green byte) over an 8x1 image."""
    import numpy as np

    from scanner_spark.kernels import webp as W

    w, h = 8, 1
    palette = np.array([[255, 10, 20, 30], [255, 200, 100, 50], [255, 0, 0, 0]],
                       dtype=np.int64)  # ARGB
    idx = [0, 1, 2, 1, 0, 0, 2, 2]
    wtr = W._LsbWriter()
    wtr.u(w - 1, 14); wtr.u(h - 1, 14); wtr.u(0, 1); wtr.u(0, 3)
    wtr.u(1, 1); wtr.u(3, 2)  # COLOR_INDEXING
    wtr.u(len(palette) - 1, 8)
    # palette image (n_colors x 1), delta-coded per component
    deltas = palette.copy()
    deltas[1:] = (palette[1:] - palette[:-1]) % 256
    # palette sub-image: no cache, (meta not allowed)
    wtr.u(0, 1)  # no color cache
    def emit_image(pixels_argb):
        # one prefix-code group, per-channel equal-length codes
        chans = {"g": [p[2] for p in pixels_argb], "r": [p[1] for p in pixels_argb],
                 "b": [p[3] for p in pixels_argb], "a": [p[0] for p in pixels_argb]}
        books = {}
        for key, size in (("g", 280), ("r", 256), ("b", 256), ("a", 256)):
            vals = sorted(set(chans[key]))
            ln = [0] * size
            if len(vals) == 1:
                ln[vals[0]] = 1
                W._write_code_lengths(wtr, ln)
                books[key] = {vals[0]: (0, 0)}
            else:
                L = (len(vals) - 1).bit_length()
                for v in vals:
                    ln[v] = L
                W._write_code_lengths(wtr, ln)
                books[key] = W._canonical_codes(ln)
        dlen = [0] * 40
        dlen[0] = 1
        W._write_code_lengths(wtr, dlen)
        for p in pixels_argb:
            _emit_code(wtr, books["g"], p[2])
            _emit_code(wtr, books["r"], p[1])
            _emit_code(wtr, books["b"], p[3])
            _emit_code(wtr, books["a"], p[0])
    emit_image([tuple(int(x) for x in d) for d in deltas])
    wtr.u(0, 1)  # no more transforms
    # main image: 3 colors -> 2 bits/px, 4 px/byte -> width ceil(8/4) = 2
    wtr.u(0, 1)  # no cache
    wtr.u(0, 1)  # no entropy image
    bundled = []
    for i in range(0, 8, 4):
        b = idx[i] | (idx[i + 1] << 2) | (idx[i + 2] << 4) | (idx[i + 3] << 6)
        bundled.append((255, 0, b, 0))
    emit_image(bundled)
    out = W.decode_webp(_vp8l_container(bytes([0x2F]) + wtr.bytes()))
    want = palette[idx][:, [1, 2, 3, 0]]  # ARGB -> RGBA
    assert np.array_equal(out.reshape(-1, 4), want)


def test_webp_refuses_lossy_and_junk():
    import pytest

    from scanner_spark.kernels import webp as W

    with pytest.raises(NotImplementedError, match="VP8 "):
        W.decode_webp(b"RIFF\x10\x00\x00\x00WEBPVP8 \x04\x00\x00\x00abcd")
    with pytest.raises(ValueError):
        W.decode_webp(b"nope")


def test_webp_decodes_predictor_transform():
    """Hand-built PREDICTOR-transform stream (one 4x4 block, mode 2 =
    predict-from-top): residuals + T must reconstruct the column ramp.
    First row/column use the spec's fixed L/T edge predictors."""
    import numpy as np

    from scanner_spark.kernels import webp as W

    w, h = 4, 4
    img = np.zeros((h, w, 4), dtype=np.int64)  # target ARGB
    for y in range(h):
        for x in range(w):
            img[y, x] = (255, 10 * y + x, 20 + y, 5 * x)
    # forward predictor: mode 2 (T) for interior; spec edge rules
    res = np.zeros_like(img)
    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = np.array([255, 0, 0, 0])
            elif y == 0:
                pred = img[0, x - 1]
            elif x == 0:
                pred = img[y - 1, 0]
            else:
                pred = img[y - 1, x]
            res[y, x] = (img[y, x] - pred) % 256
    wtr = W._LsbWriter()
    wtr.u(w - 1, 14); wtr.u(h - 1, 14); wtr.u(0, 1); wtr.u(0, 3)
    wtr.u(1, 1); wtr.u(0, 2)  # PREDICTOR transform
    wtr.u(0, 3)  # size_bits - 2 = 0 -> 4x4 blocks -> 1x1 sub-image
    # sub-image pixel: green channel = mode 2
    def emit_image(pixels_argb):
        books = {}
        for key, size, comp in (("g", 280, 2), ("r", 256, 1), ("b", 256, 3), ("a", 256, 0)):
            vals = sorted({p[comp] for p in pixels_argb})
            ln = [0] * size
            if len(vals) == 1:
                ln[vals[0]] = 1
                W._write_code_lengths(wtr, ln)
                books[key] = {vals[0]: (0, 0)}
            else:
                L = (len(vals) - 1).bit_length()
                for v in vals:
                    ln[v] = L
                W._write_code_lengths(wtr, ln)
                books[key] = W._canonical_codes(ln)
        dlen = [0] * 40
        dlen[0] = 1
        W._write_code_lengths(wtr, dlen)
        for p in pixels_argb:
            _emit_code(wtr, books["g"], p[2])
            _emit_code(wtr, books["r"], p[1])
            _emit_code(wtr, books["b"], p[3])
            _emit_code(wtr, books["a"], p[0])
    wtr.u(0, 1)  # sub-image: no color cache
    emit_image([(255, 0, 2, 0)])  # mode 2
    wtr.u(0, 1)  # no more transforms
    wtr.u(0, 1)  # main: no cache
    wtr.u(0, 1)  # no entropy image
    emit_image([tuple(int(v) for v in res[y, x]) for y in range(h) for x in range(w)])
    out = W.decode_webp(_vp8l_container(bytes([0x2F]) + wtr.bytes()))
    want = img[:, :, [1, 2, 3, 0]].astype(np.uint8)  # ARGB -> RGBA
    assert np.array_equal(out, want)


def test_webp_color_indexing_oob_decodes_transparent_black():
    """VP8L spec: a palette index >= color_table_size decodes as
    0x00000000 (transparent black), not a clamp to the last entry
    (ADVICE r06)."""
    import numpy as np

    from scanner_spark.kernels import webp as W

    rng = np.random.default_rng(7)
    palette = rng.integers(0, 256, size=(20, 4), dtype=np.int64)  # ARGB rows
    img = np.zeros((1, 3, 4), dtype=np.int64)  # green channel carries idx
    img[0, 0, 2] = 5
    img[0, 1, 2] = 25  # out of range -> transparent black
    img[0, 2, 2] = 19
    out = W._inv_color_indexing(img, palette, w_full=3)
    assert np.array_equal(out[0, 0], palette[5])
    assert np.array_equal(out[0, 1], np.zeros(4, dtype=np.int64))
    assert np.array_equal(out[0, 2], palette[19])


def test_webp_predictor_clamp_half_truncates_toward_zero():
    """Predictor mode 13 (ClampAddSubtractHalf) must apply the spec's C
    division (truncate toward zero) to the (ave - TL) correction; floor
    division is off by one whenever ave < TL with an odd gap (ADVICE
    r06).  2x2 stream: the (1,1) pixel has ave=10, TL=13 -> pred must be
    10 + trunc(-3/2) = 9, not 8."""
    import numpy as np

    from scanner_spark.kernels import webp as W

    w, h = 2, 2
    img = np.zeros((h, w, 4), dtype=np.int64)  # ARGB targets
    img[0, 0] = (255, 13, 13, 13)  # TL
    img[0, 1] = (255, 11, 11, 11)  # T
    img[1, 0] = (255, 10, 10, 10)  # L
    img[1, 1] = (255, 9, 9, 9)  # == mode-13 pred under truncation
    res = np.zeros_like(img)
    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = np.array([255, 0, 0, 0])
            elif y == 0:
                pred = img[0, x - 1]
            elif x == 0:
                pred = img[y - 1, 0]
            else:  # mode 13 with truncate-toward-zero
                L, T, TL = img[y, x - 1], img[y - 1, x], img[y - 1, x - 1]
                ave = (L + T) // 2
                d = ave - TL
                pred = np.clip(ave + np.sign(d) * (np.abs(d) // 2), 0, 255)
            res[y, x] = (img[y, x] - pred) % 256
    wtr = W._LsbWriter()
    wtr.u(w - 1, 14); wtr.u(h - 1, 14); wtr.u(0, 1); wtr.u(0, 3)
    wtr.u(1, 1); wtr.u(0, 2)  # PREDICTOR transform
    wtr.u(0, 3)  # 4x4 blocks -> 1x1 sub-image

    def emit_image(pixels_argb):
        books = {}
        for key, size, comp in (
            ("g", 280, 2), ("r", 256, 1), ("b", 256, 3), ("a", 256, 0)
        ):
            vals = sorted({p[comp] for p in pixels_argb})
            ln = [0] * size
            if len(vals) == 1:
                ln[vals[0]] = 1
                W._write_code_lengths(wtr, ln)
                books[key] = {vals[0]: (0, 0)}
            else:
                L = (len(vals) - 1).bit_length()
                for v in vals:
                    ln[v] = L
                W._write_code_lengths(wtr, ln)
                books[key] = W._canonical_codes(ln)
        dlen = [0] * 40
        dlen[0] = 1
        W._write_code_lengths(wtr, dlen)
        for p in pixels_argb:
            _emit_code(wtr, books["g"], p[2])
            _emit_code(wtr, books["r"], p[1])
            _emit_code(wtr, books["b"], p[3])
            _emit_code(wtr, books["a"], p[0])

    wtr.u(0, 1)  # sub-image: no color cache
    emit_image([(255, 0, 13, 0)])  # predictor mode 13
    wtr.u(0, 1)  # no more transforms
    wtr.u(0, 1)  # main: no cache
    wtr.u(0, 1)  # no entropy image
    emit_image([tuple(int(v) for v in res[y, x]) for y in range(h) for x in range(w)])
    out = W.decode_webp(_vp8l_container(bytes([0x2F]) + wtr.bytes()))
    want = img[:, :, [1, 2, 3, 0]].astype(np.uint8)  # ARGB -> RGBA
    assert np.array_equal(out, want)


def test_gif_background_uses_global_table_with_local_frame_table():
    """The logical-screen background_color_index indexes the GLOBAL color
    table even when the composited frame carries a LOCAL table (ADVICE
    r06): the canvas outside the patch must be GCT[bg], not LCT[bg]."""
    import struct as _s

    import numpy as np

    from scanner_spark.kernels.gif import _lzw_encode, decode_gif

    gct = np.array([[1, 2, 3], [0, 0, 200], [7, 7, 7], [8, 8, 8]], np.uint8)
    lct = np.array([[90, 0, 0], [0, 90, 0], [0, 0, 90], [90, 90, 90]], np.uint8)
    patch_idx = np.array([[0, 2], [3, 1]])
    raw = bytearray()
    raw += b"GIF89a"
    raw += _s.pack("<HHBBB", 6, 4, 0x80 | 0x01, 1, 0)  # 4-entry GCT, bg=1
    raw += gct.tobytes()
    # frame at (1,1) 2x2 with its own 4-entry LOCAL table
    raw += _s.pack("<BHHHHB", 0x2C, 1, 1, 2, 2, 0x80 | 0x01)
    raw += lct.tobytes()
    lzw = _lzw_encode(patch_idx.ravel().astype(np.int64), 2)
    raw += bytes([2, len(lzw)]) + lzw + bytes([0, 0x3B])
    out = decode_gif(bytes(raw))
    assert out.shape == (4, 6, 3)
    assert np.array_equal(out[0, 0], gct[1])  # background from the GCT
    assert np.array_equal(out[3, 5], gct[1])
    assert np.array_equal(out[1, 1], lct[0])  # patch from the local table
    assert np.array_equal(out[2, 2], lct[1])


def test_flac_truncation_raises_value_error_uniformly():
    """decode_flac's contract is ValueError on corrupt/truncated streams;
    a truncated rice-coded frame must not escape as IndexError from the
    vectorized unary gather (ADVICE r7)."""
    import numpy as np
    import pytest

    from scanner_spark.kernels.flac import decode_flac, encode_flac

    rng = np.random.default_rng(77)
    s = rng.integers(-2000, 2000, 3000).astype(np.int16)
    enc = encode_flac(s, 8000)
    # every truncation point past the stream header must raise ValueError
    # (never IndexError); step 7 keeps the fuzz fast but hits all phases
    for cut in range(50, len(enc) - 1, 7):
        with pytest.raises(ValueError):
            decode_flac(enc[:cut])


def test_optical_flow_batch_equals_pair():
    """The batched LK solve is value-identical to the per-pair form
    (every operation is independent along the batch axis)."""
    import numpy as np

    from scanner_spark.frames import pack
    from scanner_spark.kernels.image import lk_flow_batch, optical_flow_pair

    rng = np.random.default_rng(7)
    rows = []
    for i in range(5):
        a = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
        b = np.roll(a, shift=i % 3, axis=1)
        rows.append((
            {"frame": pack(a)["frame"], "height": 16, "width": 16,
             "channels": 3, "dtype": "u8"},
            {"frame": pack(b)["frame"], "height": 16, "width": 16,
             "channels": 3, "dtype": "u8"},
        ))
    prev = np.stack([np.frombuffer(r[0]["frame"], np.uint8)
                     .reshape(16, 16, 3) for r in rows]).astype(np.float64)
    cur = np.stack([np.frombuffer(r[1]["frame"], np.uint8)
                    .reshape(16, 16, 3) for r in rows]).astype(np.float64)
    batch = lk_flow_batch(prev.mean(axis=3), cur.mean(axis=3))
    for i, (p, c) in enumerate(rows):
        single = optical_flow_pair([p, c])
        got = np.frombuffer(single["frame"], np.float32)
        assert np.array_equal(got, batch[i].reshape(-1)), i


# ---- round 15: batched elementwise kernels == single-frame reference forms ----


def _mixed_batch_series():
    """A mixed-geometry, mixed-dtype batch as pandas Series — exactly what
    the op compiler's batch elementwise path hands the kernels."""
    import pandas as pd

    imgs = [
        synthetic_frame(0, 0, 16, 16, 3),
        synthetic_frame(1, 2, 16, 16, 3),
        synthetic_frame(0, 1, 8, 12, 1),
        (synthetic_frame(0, 3, 8, 12, 1).astype(np.float32) * 1.5 - 20.0),
        np.array([[[0, 15, 16], [255, 256, 300]]], dtype=np.float64) / 1.0,
        synthetic_frame(2, 5, 16, 16, 3),
    ]
    rows = [pack(a) for a in imgs]
    return imgs, (
        pd.Series([r["frame"] for r in rows]),
        pd.Series([r["height"] for r in rows]),
        pd.Series([r["width"] for r in rows]),
        pd.Series([r["channels"] for r in rows]),
        pd.Series([r["dtype"] for r in rows]),
    )


def test_histogram_batch_equals_np_histogram():
    from scanner_spark.kernels.image import histogram_frame, histogram_op

    imgs, series = _mixed_batch_series()
    got = histogram_op.fn(*series)
    for i, img in enumerate(imgs):
        assert got.iloc[i] == histogram_frame(img), i


def test_resize_batch_equals_single():
    from scanner_spark.kernels.image import make_resize_op, resize_bilinear

    imgs, series = _mixed_batch_series()
    op = make_resize_op(5, 7)
    got = op.fn(*series)
    for i, img in enumerate(imgs):
        want = pack(np.ascontiguousarray(resize_bilinear(img, 5, 7)))
        assert got.iloc[i]["frame"] == want["frame"], i
        assert got.iloc[i]["dtype"] == want["dtype"], i
    # nearest path too
    opn = make_resize_op(3, 4, interp="nearest")
    gotn = opn.fn(*series)
    for i, img in enumerate(imgs):
        h, w = img.shape[:2]
        ys = (np.arange(3) * h // 3).clip(0, h - 1)
        xs = (np.arange(4) * w // 4).clip(0, w - 1)
        want = pack(np.ascontiguousarray(img[ys][:, xs]))
        assert gotn.iloc[i]["frame"] == want["frame"], i


def test_blur_batch_equals_single():
    from scanner_spark.kernels.image import _sep_filter, make_blur_op

    imgs, series = _mixed_batch_series()
    op = make_blur_op(3)
    got = op.fn(*series)
    for i, img in enumerate(imgs):
        ref = _sep_filter(img.astype(np.float64), np.array([0.25, 0.5, 0.25]), "reflect101")
        if img.dtype == np.uint8:
            ref = np.floor(ref + 0.5).clip(0, 255).astype(np.uint8)
        else:
            ref = ref.astype(img.dtype)
        assert got.iloc[i]["frame"] == pack(np.ascontiguousarray(ref))["frame"], i


def test_image_encoder_scalar_equals_encode_png():
    # ImageEncoder stays a SCALAR kernel on purpose (probe: batching it
    # measured 0.91x — zlib runs per row either way); pin the contract
    from scanner_spark.kernels.image import image_encoder_op

    imgs, series = _mixed_batch_series()
    assert image_encoder_op.batch is False
    for i, img in enumerate(imgs):
        u8 = img if img.dtype == np.uint8 else np.clip(img, 0, 255).astype(np.uint8)
        got = image_encoder_op.fn(*[series[j].iloc[i] for j in range(5)])
        assert bytes(got) == encode_png(u8), i


def test_batched_kernels_null_passthrough(spark):
    # NullElement rows must yield NULL outputs and never reach the batch
    # kernel (the op compiler masks them out)
    from pyspark.sql import functions as F

    from scanner_spark.kernels.image import histogram_op

    rows = [
        {"stream_id": "0", "idx": 0, **pack(synthetic_frame(0, 0, 4, 4, 1))},
        {"stream_id": "0", "idx": 1, "frame": None, "height": None,
         "width": None, "channels": None, "dtype": None},
    ]
    df = spark.createDataFrame(rows, f"stream_id string, idx long, {FRAME_SCHEMA}")
    out = histogram_op(
        df, ["frame", "height", "width", "channels", "dtype"], "hist",
        "array<array<long>>",
    ).orderBy("idx").collect()
    assert out[0].hist is not None and sum(out[0].hist[0]) == 16
    assert out[1].hist is None


def test_histogram_batch_chunk_boundary():
    """Round 15: one geometry group larger than _STACK_CHUNK must split
    into multiple stacks and still equal the per-frame reference at the
    chunk seams."""
    import pandas as pd

    from scanner_spark.frames import pack
    from scanner_spark.kernels.image import (_STACK_CHUNK, histogram_frame,
                                             histogram_op)

    n = _STACK_CHUNK + 8
    imgs = [synthetic_frame(0, i, 4, 4, 3) for i in range(n)]
    rows = [pack(a) for a in imgs]
    series = (
        pd.Series([r["frame"] for r in rows]),
        pd.Series([r["height"] for r in rows]),
        pd.Series([r["width"] for r in rows]),
        pd.Series([r["channels"] for r in rows]),
        pd.Series([r["dtype"] for r in rows]),
    )
    got = histogram_op.fn(*series)
    for i in (0, 1, _STACK_CHUNK - 1, _STACK_CHUNK, _STACK_CHUNK + 7):
        assert got.iloc[i] == histogram_frame(imgs[i]), i
