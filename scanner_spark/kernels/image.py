"""Frame kernels: histogram / resize / blur / optical flow / PNG encode.

numpy re-implementations of the reference's in-repo kernels
(/root/reference/tests/test_ops.cpp:13-338,
/root/reference/scanner/util/image_encoder.cpp:112-117).  OpenCV is not
available in this container, so the numerics are vectorized numpy:

- blur: true separable Gaussian (cv2-matching kernel coefficients,
  REFLECT_101 border), not a box surrogate;
- resize: bilinear with cv2's half-pixel-center convention (nearest
  available via ``interp=``);
- optical flow: dense Lucas-Kanade (windowed least squares on image
  gradients) — a real classical dense-flow algorithm with the same
  output contract (H x W x 2 float32, prev->cur displacement) as the
  reference's cv2.calcOpticalFlowFarneback; Farneback's specific
  polynomial-expansion numerics would need cv2 and are documented as the
  drop-in swap.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd

from scanner_spark.frames import DTYPES, pack, unpack
from scanner_spark.ops import register_op

HIST_BINS = 16


# Frames per vectorized kernel call.  Full-Arrow-batch stacks (10k 16x16
# frames ~ 60 MB of float64 temporaries) thrash the cache across 32
# parallel Python workers and measured SLOWER than per-row numpy at sf10;
# ~512 small frames keep the working set L2-resident while still
# amortizing the numpy dispatch ~512x (standalone probe: chunked batch
# 2x the full-batch throughput, 10-35x per-row).
_STACK_CHUNK = 512


def _stack_groups(frames, heights, widths, channels, dtypes):
    """Group an Arrow batch's frame rows by geometry and stack each group
    into (N<=_STACK_CHUNK, H, W, C) ndarrays — the shared front half of
    every batched elementwise frame kernel (round 15; same cost class the
    round-14 batch stencil win proved out: per-row numpy dispatch on small
    frames costs more than the arithmetic).  Yields (row_indices, stack)."""
    groups: dict = {}
    for i in range(len(frames)):
        key = (
            int(heights.iloc[i]),
            int(widths.iloc[i]),
            int(channels.iloc[i]),
            dtypes.iloc[i],
        )
        groups.setdefault(key, []).append(i)
    for (h, w, c, dt), idxs in groups.items():
        for s in range(0, len(idxs), _STACK_CHUNK):
            chunk = idxs[s : s + _STACK_CHUNK]
            stack = np.stack(
                [
                    np.frombuffer(frames.iloc[i], dtype=DTYPES[dt]).reshape(h, w, c)
                    for i in chunk
                ]
            )
            yield chunk, stack


def histogram_frame(img: np.ndarray) -> list:
    """Single-frame reference form of the Histogram kernel (the batch op
    is value-identical by test)."""
    return [
        np.histogram(img[:, :, c], bins=HIST_BINS, range=(0, 256))[0]
        .astype("int64")
        .tolist()
        for c in range(img.shape[2])
    ]


@register_op(name="Histogram", batch=True)
def histogram_op(frames, heights, widths, channels, dtypes) -> pd.Series:
    """Per-channel 16-bin histogram (reference: tests/test_ops.cpp:13-56;
    Histogram type = 3 x int32 array, python/scannerpy/types.py:132).

    Output type: ``array<array<int>>`` (C x 16).  BATCH elementwise
    kernel: frames are stacked per geometry group and every bin count in
    the batch comes from ONE ``np.bincount`` over a combined
    (frame, channel, bin) index — matching ``np.histogram``'s range
    (0, 256) semantics exactly (out-of-range values dropped, right edge
    of the last bin inclusive; bin edges are exact multiples of 16)."""
    out: list = [None] * len(frames)
    for idxs, stack in _stack_groups(frames, heights, widths, channels, dtypes):
        n, h, w, c = stack.shape
        if stack.dtype == np.uint8:
            bins = stack >> 4
            keep = None
        else:
            f = stack.astype(np.float64)
            keep = (f >= 0.0) & (f <= 256.0)
            bins = np.clip(np.floor(f / 16.0).astype(np.int32), 0, HIST_BINS - 1)
        frame_ch = (
            np.arange(n, dtype=np.int32)[:, None, None, None] * c
            + np.arange(c, dtype=np.int32)[None, None, None, :]
        )
        comb = (frame_ch * HIST_BINS + bins).ravel()
        if keep is not None:
            comb = comb[keep.ravel()]
        counts = np.bincount(comb, minlength=n * c * HIST_BINS).reshape(
            n, c, HIST_BINS
        )
        for k, i in enumerate(idxs):
            out[i] = counts[k].tolist()
    return pd.Series(out)


def _bilinear_axis(length_src: int, length_dst: int):
    """cv2 INTER_LINEAR coordinate map for one axis: src = (dst + 0.5) *
    scale - 0.5, clipped; returns (lo_idx, hi_idx, hi_weight)."""
    scale = length_src / length_dst
    src = (np.arange(length_dst) + 0.5) * scale - 0.5
    src = np.clip(src, 0, length_src - 1)
    lo = np.floor(src).astype(np.int64)
    hi = np.minimum(lo + 1, length_src - 1)
    return lo, hi, (src - lo)


def resize_bilinear_batch(stack: np.ndarray, new_h: int, new_w: int) -> np.ndarray:
    """Bilinear resize of an (N, H, W, C) stack with cv2's half-pixel-center
    source mapping — the batch axis threads straight through the separable
    lerp, so values are bit-identical to the per-image form (same float64
    operations in the same order)."""
    ylo, yhi, wy = _bilinear_axis(stack.shape[1], new_h)
    xlo, xhi, wx = _bilinear_axis(stack.shape[2], new_w)
    f = stack.astype(np.float64)
    wy = wy[None, :, None, None]
    # rows first, then columns (separable lerp)
    rows = f[:, ylo] * (1.0 - wy) + f[:, yhi] * wy
    wx = wx[None, None, :, None]
    out = rows[:, :, xlo] * (1.0 - wx) + rows[:, :, xhi] * wx
    if stack.dtype == np.uint8:
        return np.floor(out + 0.5).clip(0, 255).astype(np.uint8)
    return out.astype(stack.dtype)


def resize_bilinear(img: np.ndarray, new_h: int, new_w: int) -> np.ndarray:
    """Bilinear resize of an (H, W, C) array with cv2's half-pixel-center
    source mapping — exact on affine ramps.  Shared by the multimodal
    decode path; the Resize kernel runs the batched form."""
    return resize_bilinear_batch(img[None], new_h, new_w)[0]


def make_resize_op(new_h: int, new_w: int, interp: str = "bilinear"):
    """Resize kernel factory — per-stream (width, height) args in the
    reference (ResizeArgs, tests/test_ops.proto:8-14; kernel
    tests/test_ops.cpp:114-170).

    ``interp='bilinear'`` (default) uses cv2's half-pixel-center source
    mapping with a separable lerp — exact on linear ramps;
    ``interp='nearest'`` keeps the round-down grid map.  Output type:
    frame struct (``scanner_spark.frames.FRAME_SCHEMA``).  BATCH
    elementwise kernel: one vectorized resize per geometry group."""
    if interp not in ("bilinear", "nearest"):
        raise ValueError(f"unknown interp {interp!r}")

    @register_op(name="Resize", batch=True)
    def resize_op(frames, heights, widths, channels, dtypes) -> pd.DataFrame:
        out: list = [None] * len(frames)
        for idxs, stack in _stack_groups(frames, heights, widths, channels, dtypes):
            n, height, width, c = stack.shape
            if interp == "nearest":
                ys = (np.arange(new_h) * height // new_h).clip(0, height - 1)
                xs = (np.arange(new_w) * width // new_w).clip(0, width - 1)
                res = stack[:, ys][:, :, xs]
            else:
                res = resize_bilinear_batch(stack, new_h, new_w)
            res = np.ascontiguousarray(res)
            for k, i in enumerate(idxs):
                out[i] = pack(res[k])
        return pd.DataFrame(out)

    return resize_op


resize_op = make_resize_op  # factory alias


# cv2 getGaussianKernel: fixed coefficient tables for small apertures when
# sigma is unspecified (<= 0), else the sampled-Gaussian formula with
# sigma = 0.3*((ksize-1)*0.5 - 1) + 0.8 as the automatic sigma
_SMALL_GAUSSIAN = {
    1: np.array([1.0]),
    3: np.array([0.25, 0.5, 0.25]),
    5: np.array([0.0625, 0.25, 0.375, 0.25, 0.0625]),
    7: np.array([0.03125, 0.109375, 0.21875, 0.28125, 0.21875, 0.109375, 0.03125]),
}


def gaussian_kernel_1d(ksize: int, sigma: float = 0.0) -> np.ndarray:
    """1-D Gaussian filter taps matching cv2.getGaussianKernel semantics."""
    if ksize % 2 != 1 or ksize < 1:
        raise ValueError("ksize must be odd and positive")
    if sigma <= 0 and ksize in _SMALL_GAUSSIAN:
        return _SMALL_GAUSSIAN[ksize].copy()
    if sigma <= 0:
        sigma = 0.3 * ((ksize - 1) * 0.5 - 1) + 0.8
    x = np.arange(ksize, dtype=np.float64) - (ksize - 1) / 2.0
    k = np.exp(-(x * x) / (2.0 * sigma * sigma))
    return k / k.sum()


def _sep_filter_batch(stack: np.ndarray, taps: np.ndarray, border: str) -> np.ndarray:
    """Separable 2-D filter over (N, H, W, C) float input: O(k)
    shifted-slice accumulation per spatial axis, fully vectorized across
    the batch — bit-identical to the per-image form (the batch axis is
    never padded or mixed)."""
    r = len(taps) // 2
    pad_mode = {"reflect101": "reflect", "edge": "edge"}[border]
    out = stack
    for axis in (1, 2):
        if r == 0:
            continue
        pw = [(0, 0)] * 4
        pw[axis] = (r, r)
        padded = np.pad(out, pw, mode=pad_mode)
        acc = np.zeros_like(out)
        for i, t in enumerate(taps):
            sl = [slice(None)] * 4
            sl[axis] = slice(i, i + out.shape[axis])
            acc += t * padded[tuple(sl)]
        out = acc
    return out


def _sep_filter(img: np.ndarray, taps: np.ndarray, border: str) -> np.ndarray:
    """Separable 2-D filter over one (H, W, C) float image (single-image
    reference form of :func:`_sep_filter_batch`)."""
    return _sep_filter_batch(img[None], taps, border)[0]


def make_blur_op(ksize: int = 3, sigma: float = 0.0, border: str = "reflect101"):
    """Gaussian blur kernel factory (reference: cv2.GaussianBlur in
    tests/test_ops.cpp:239-310, args tests/test_ops.proto:3-6).

    True separable Gaussian: cv2-matching taps (fixed small-aperture
    tables / automatic sigma) and cv2's default BORDER_REFLECT_101.
    Output frame struct.  BATCH elementwise kernel: one vectorized
    separable convolution per geometry group."""
    taps = gaussian_kernel_1d(ksize, sigma)
    if border not in ("reflect101", "edge"):
        raise ValueError(f"unknown border {border!r}")

    @register_op(name="Blur", batch=True)
    def blur_op(frames, heights, widths, channels, dtypes) -> pd.DataFrame:
        out: list = [None] * len(frames)
        for idxs, stack in _stack_groups(frames, heights, widths, channels, dtypes):
            res = _sep_filter_batch(stack.astype(np.float64), taps, border)
            if stack.dtype == np.uint8:
                res = np.floor(res + 0.5).clip(0, 255).astype(np.uint8)
            else:
                res = res.astype(stack.dtype)
            res = np.ascontiguousarray(res)
            for k, i in enumerate(idxs):
                out[i] = pack(res[k])
        return pd.DataFrame(out)

    return blur_op


blur_op = make_blur_op

# Lucas-Kanade window: gradient products are box-summed over
# (2r+1) x (2r+1) neighborhoods; 15 matches Farneback's default winsize
LK_WINSIZE = 15
_LK_EPS = 1e-6


def _box_sum(a: np.ndarray, r: int) -> np.ndarray:
    """(2r+1)^2 neighborhood sum via the 2-D integral image — O(1) per
    pixel regardless of window size (edge-clamped)."""
    h, w = a.shape
    ii = np.zeros((h + 1, w + 1), dtype=np.float64)
    ii[1:, 1:] = a.cumsum(0).cumsum(1)
    y0 = np.clip(np.arange(h) - r, 0, h)
    y1 = np.clip(np.arange(h) + r + 1, 0, h)
    x0 = np.clip(np.arange(w) - r, 0, w)
    x1 = np.clip(np.arange(w) + r + 1, 0, w)
    return (
        ii[y1[:, None], x1[None, :]]
        - ii[y0[:, None], x1[None, :]]
        - ii[y1[:, None], x0[None, :]]
        + ii[y0[:, None], x0[None, :]]
    )


def _box_sum_batch(a: np.ndarray, r: int) -> np.ndarray:
    """Batched :func:`_box_sum`: (N, H, W) -> (N, H, W).  Per-slice
    integral images are independent, so values are identical to the
    2-D form applied slice by slice."""
    n, h, w = a.shape
    ii = np.zeros((n, h + 1, w + 1), dtype=np.float64)
    ii[:, 1:, 1:] = a.cumsum(1).cumsum(2)
    y0 = np.clip(np.arange(h) - r, 0, h)
    y1 = np.clip(np.arange(h) + r + 1, 0, h)
    x0 = np.clip(np.arange(w) - r, 0, w)
    x1 = np.clip(np.arange(w) + r + 1, 0, w)
    return (
        ii[:, y1[:, None], x1[None, :]]
        - ii[:, y0[:, None], x1[None, :]]
        - ii[:, y1[:, None], x0[None, :]]
        + ii[:, y0[:, None], x0[None, :]]
    )


def lk_flow_batch(prev: np.ndarray, cur: np.ndarray) -> np.ndarray:
    """Dense Lucas-Kanade over a BATCH of grey frame pairs: (N, H, W)
    float64 x2 -> (N, H, W, 2) float32 flow.  Per-pixel 2x2 windowed
    least squares on spatial / temporal gradients (integral-image box
    window, LK_WINSIZE taps), solved in closed form over the whole
    batch at once — value-identical to the per-pair form (every
    operation is independent along axis 0), ~batch-size fewer numpy
    dispatches."""
    # central-difference spatial gradients on the temporal average (the
    # symmetric choice keeps 1-px shifts unbiased), forward temporal diff
    avg = 0.5 * (prev + cur)
    iy = np.gradient(avg, axis=1)
    ix = np.gradient(avg, axis=2)
    it = cur - prev
    r = LK_WINSIZE // 2
    sxx = _box_sum_batch(ix * ix, r)
    syy = _box_sum_batch(iy * iy, r)
    sxy = _box_sum_batch(ix * iy, r)
    sxt = _box_sum_batch(ix * it, r)
    syt = _box_sum_batch(iy * it, r)
    det = sxx * syy - sxy * sxy
    safe = np.abs(det) > _LK_EPS
    inv_det = np.where(safe, 1.0 / np.where(safe, det, 1.0), 0.0)
    u = (sxy * syt - syy * sxt) * inv_det
    v = (sxy * sxt - sxx * syt) * inv_det
    return np.stack([u, v], axis=3).astype(np.float32)


def optical_flow_pair(frames: list):
    """Single-pair reference form of the OpticalFlow kernel (the batch
    op delegates to :func:`lk_flow_batch`; tests pin batch == pair)."""
    prev = unpack(**_row_kwargs(frames[0])).astype(np.float64).mean(axis=2)
    cur = unpack(**_row_kwargs(frames[1])).astype(np.float64).mean(axis=2)
    return pack(lk_flow_batch(prev[None], cur[None])[0])


@register_op(name="OpticalFlow", stencil=[-1, 0], batch=True)
def optical_flow_op(rows: list) -> list:
    """Dense optical flow between stenciled frames [-1, 0] (reference:
    tests/test_ops.cpp:63-109, cv2.calcOpticalFlowFarneback).

    Output contract matches Farneback — H x W x 2 float32, flow =
    prev->cur displacement (a scene shifting +1 px in x yields flow_x
    ~= +1) — while the polynomial-expansion numerics specific to
    Farneback would need cv2 (documented swap point).  The stencil
    plumbing — Window [-1, 0] with REPEAT_EDGE at the stream head — is
    shared with every stencil kernel.

    BATCH stencil kernel (round 14): ``rows`` is the Arrow batch's list
    of per-row argument tuples ([prev_row, cur_row] frame structs);
    pairs are grouped by frame geometry and solved through ONE
    vectorized :func:`lk_flow_batch` call per group — per-row numpy
    dispatch on small frames was the #4 suite cost at sf10."""
    groups: dict = {}
    for i, (frames,) in enumerate(rows):
        p, c = frames[0], frames[1]
        key = (p["height"], p["width"], p["channels"], p["dtype"],
               c["height"], c["width"], c["channels"], c["dtype"])
        groups.setdefault(key, []).append(i)
    out: list = [None] * len(rows)
    for idxs in groups.values():
        prev = np.stack([
            unpack(**_row_kwargs(rows[i][0][0])) for i in idxs
        ]).astype(np.float64).mean(axis=3)
        cur = np.stack([
            unpack(**_row_kwargs(rows[i][0][1])) for i in idxs
        ]).astype(np.float64).mean(axis=3)
        flows = lk_flow_batch(prev, cur)
        for k, i in enumerate(idxs):
            out[i] = pack(flows[k])
    return out


def _row_kwargs(row) -> dict:
    # stencil windows deliver whole frame-struct rows
    return {
        "buf": row["frame"],
        "height": row["height"],
        "width": row["width"],
        "channels": row["channels"],
        "dtype": row["dtype"],
    }


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


# Adam7 interlace pass origins/strides (PNG spec §8.2): (x0, y0, dx, dy)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def encode_png(img: np.ndarray, interlace: bool = False) -> bytes:
    """Dependency-free PNG encode (stdlib zlib) for u8 RGB/gray frames.
    ``interlace=True`` emits Adam7 pass ordering (filter 0 scanlines)."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    color_type = {1: 0, 3: 2, 4: 6}[c]
    if interlace:
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            sub = img[y0::dy, x0::dx]
            if sub.size == 0:
                continue
            ph, pw = sub.shape[:2]
            lines = np.zeros((ph, pw * c + 1), dtype=np.uint8)
            lines[:, 1:] = sub.reshape(ph, pw * c)
            parts.append(lines.tobytes())
        raw = b"".join(parts)
    else:
        # scanlines = filter byte 0 + row bytes, one vectorized concat
        flat = img.reshape(h, w * c)
        lines = np.zeros((h, w * c + 1), dtype=np.uint8)
        lines[:, 1:] = flat
        raw = lines.tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, int(interlace))
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def decode_png(data: bytes) -> np.ndarray:
    """Dependency-free PNG decode (stdlib zlib) — the inverse of
    ``encode_png`` and the real-codec counterpart of the reference's image
    ingest (scanner/engine/ingest.cpp:1004).

    Supports 8- and 16-bit grey / grey+alpha / RGB / RGBA, both
    interlace modes (none and Adam7), and all five scanline filter types
    (our encoder emits filter 0 only, but foreign encoders differ).
    Returns (H, W, C) uint8, or uint16 for 16-bit files (big-endian
    samples per spec; callers that need u8 take the high byte).
    """
    if data[:8] != PNG_MAGIC:
        raise ValueError("not a PNG (bad signature)")
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        chunk = data[pos + 8 : pos + 8 + length]
        if len(chunk) != length:
            raise ValueError(f"PNG truncated inside a {tag!r} chunk")
        pos += 12 + length  # length + tag + payload + crc
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", chunk)
        elif tag == b"IDAT":
            idat.append(chunk)
        elif tag == b"IEND":
            break
    if ihdr is None:
        raise ValueError("missing IHDR")
    w, h, depth, color_type, comp, filt, interlace = ihdr
    if depth not in (8, 16) or comp != 0 or filt != 0 or interlace not in (0, 1):
        raise ValueError(
            f"unsupported PNG (depth={depth}, interlace={interlace})"
        )
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color_type)
    if channels is None:  # 3 = palette
        raise ValueError(f"unsupported color type {color_type}")
    sb = depth // 8  # bytes per sample; 16-bit samples are big-endian
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as exc:
        raise ValueError(f"PNG image data is truncated or corrupt: {exc}") from exc

    def to_samples(bytes2d: np.ndarray, ph: int, pw: int) -> np.ndarray:
        if sb == 1:
            return bytes2d.reshape(ph, pw, channels)
        u16 = bytes2d.reshape(ph, pw * channels, 2).astype(np.uint16)
        return ((u16[:, :, 0] << 8) | u16[:, :, 1]).reshape(ph, pw, channels)

    if interlace:  # Adam7: seven independently-filtered sub-images
        out = np.zeros((h, w, channels), dtype=np.uint8 if sb == 1 else np.uint16)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            span = ph * (pw * channels * sb + 1)
            sub = _unfilter_lines(raw[off : off + span], ph, pw, channels, sb)
            out[y0::dy, x0::dx] = to_samples(sub, ph, pw)
            off += span
        if off != len(raw):
            raise ValueError("PNG Adam7 payload size mismatch")
        return out
    stride = w * channels * sb
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline payload size mismatch")
    return to_samples(_unfilter_lines(raw, h, w, channels, sb), h, w)


def _unfilter_lines(raw: bytes, h: int, w: int, channels: int,
                    sample_bytes: int = 1) -> np.ndarray:
    """Reverse PNG scanline filtering over one (sub-)image: ``raw`` holds
    ``h`` lines of [filter byte + w*channels*sample_bytes bytes].  The
    filters operate BYTEWISE at any bit depth (spec: bpp = bytes per
    pixel, rounded up).  Returns (h, w*channels*sample_bytes) uint8."""
    stride = w * channels * sample_bytes
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline payload size mismatch")
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    filters = arr[:, 0]
    if not filters.any():  # all filter 0 (our own encoder's output): bulk copy
        return arr[:, 1:].copy()
    rows = arr[:, 1:].astype(np.int64)
    out = np.zeros((h, stride), dtype=np.uint8)
    bpp = channels * sample_bytes
    n_px = stride // bpp
    for y in range(h):
        f, cur = int(filters[y]), rows[y]
        up = out[y - 1].astype(np.int64) if y else np.zeros(stride, np.int64)
        if f == 0:  # None
            rec = cur
        elif f == 1:  # Sub: per-lane prefix sum (mod 256 distributes)
            rec = np.cumsum(cur.reshape(n_px, bpp), axis=0).reshape(stride)
        elif f == 2:  # Up
            rec = cur + up
        else:  # Average (3) / Paeth (4): left-dependent, per-pixel walk
            rec = np.empty(stride, dtype=np.int64)
            left = np.zeros(bpp, dtype=np.int64)
            for x in range(n_px):
                s = slice(x * bpp, (x + 1) * bpp)
                u = up[s] & 0xFF
                if f == 3:
                    px = (cur[s] + ((left + u) >> 1)) & 0xFF
                elif f == 4:
                    ul = (
                        (out[y - 1, (x - 1) * bpp : x * bpp].astype(np.int64))
                        if (y and x)
                        else np.zeros(bpp, dtype=np.int64)
                    )
                    p = left + u - ul
                    pa, pb, pc = np.abs(p - left), np.abs(p - u), np.abs(p - ul)
                    pred = np.where(
                        (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, u, ul)
                    )
                    px = (cur[s] + pred) & 0xFF
                else:
                    raise ValueError(f"bad filter byte {f}")
                rec[s] = px
                left = px
        out[y] = (rec & 0xFF).astype(np.uint8)
    return out


@register_op(name="ImageEncoder")
def image_encoder_op(frame: bytes, height: int, width: int, channels: int, dtype: str):
    """frame -> PNG bytes (reference: image_encoder.cpp:112-117, used by
    Column.load() of video columns, python/scannerpy/column.py:231-245).

    Deliberately NOT a batched kernel: the round-15 interleaved sf10
    probe (.bench_out/probe_r15_sf10b.out) measured the batched variant
    0.91x — each PNG is its own deflate stream, so zlib (C code) runs
    per row either way and the group stack only adds copies.  The other
    three elementwise frame kernels batch (2.45x/1.25x/1.33x)."""
    img = unpack(frame, height, width, channels, dtype)
    if img.dtype != np.uint8:
        img = np.clip(img, 0, 255).astype(np.uint8)
    return encode_png(img)
