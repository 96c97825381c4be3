"""Frame model: dense tensors packed into binary columns.

Maps Scanner's ``Frame`` (3-dim tensor + FrameType; reference:
/root/reference/scanner/api/frame.h:34-82, dtypes metadata.proto:49-54) onto
a Spark row ``(frame: binary, height: int, width: int, channels: int,
dtype: string)``.  The binary payload is the row-major C-order buffer —
exactly what ``np.ndarray.tobytes()`` produces — so pack/unpack is a zero-copy
``np.frombuffer`` reshape inside Arrow-batched UDFs.
"""

from __future__ import annotations

import numpy as np

# Scanner FrameType -> numpy dtype (metadata.proto:49-54, frame.h:26-29)
DTYPES = {"u8": np.uint8, "u16": np.uint16, "f32": np.float32, "f64": np.float64}

FRAME_SCHEMA = (
    "frame binary, height int, width int, channels int, dtype string"
)


def unpack(buf: bytes, height: int, width: int, channels: int, dtype: str) -> np.ndarray:
    """binary buffer -> (H, W, C) ndarray view (no copy)."""
    arr = np.frombuffer(buf, dtype=DTYPES[dtype])
    return arr.reshape(int(height), int(width), int(channels))


def pack(arr: np.ndarray) -> dict:
    """(H, W, C) ndarray -> frame row dict."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    dtype = {v: k for k, v in DTYPES.items()}[arr.dtype.type]
    h, w, c = arr.shape
    return {
        "frame": arr.tobytes(),
        "height": int(h),
        "width": int(w),
        "channels": int(c),
        "dtype": dtype,
    }


def synthetic_frame(stream_id: int, idx: int, height: int = 48, width: int = 64, channels: int = 3) -> np.ndarray:
    """Deterministic per-pixel test frame: value = f(stream, idx, x, y, c).

    Mirrors the fixture recipe in FIXTURES.md so kernels (histogram, resize,
    blur) have closed-form expected outputs in tests.
    """
    y = np.arange(height)[:, None, None]
    x = np.arange(width)[None, :, None]
    c = np.arange(channels)[None, None, :]
    v = (stream_id * 7 + idx * 13 + x * 3 + y * 5 + c * 11) % 256
    return v.astype(np.uint8)
