"""Dependency-free WAV/PCM audio codec + DSP kernels (pure numpy + stdlib).

Third modality for the multimodal column model (the reference's media
schema reserves ``duration_ms``; its ingest handles audio-bearing
containers through ffmpeg — scanner/engine/ingest.cpp).  This container
ships no audio libraries, so the RIFF/WAVE format is parsed directly:

- ``decode_wav``: RIFF/WAVE with PCM 8/16/24/32-bit integer or IEEE
  float32/float64 samples, any channel count, unknown chunks (LIST, fact,
  bext...) skipped.  Returns float64 samples normalized to [-1, 1) plus
  the sample rate — the shape DSP expects.
- ``encode_wav``: 16-bit PCM little-endian writer (the interchange
  default), any channel count.
- ``resample_linear``: deterministic vectorized linear-interpolation
  resampler (endpoint-anchored, no ringing, engine-free arithmetic).
- ``audio_features``: per-clip RMS / zero-crossing-rate / peak — integer
  and dyadic-rational arithmetic wherever exactness matters so a SQL
  oracle reproduces the values bit-for-bit.
"""

from __future__ import annotations

import struct

import numpy as np


# ---------------------------------------------------------------------------
# codec
# ---------------------------------------------------------------------------


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """int16 samples (n,) or (n, channels) -> 16-bit PCM RIFF/WAVE bytes."""
    s = np.asarray(samples)
    if s.ndim == 1:
        s = s[:, None]
    if s.dtype != np.int16:
        raise ValueError(f"encode_wav wants int16 samples, got {s.dtype}")
    n, ch = s.shape
    data = s.astype("<i2").tobytes()
    byte_rate = sample_rate * ch * 2
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate, byte_rate, ch * 2, 16)
    out = bytearray()
    out += b"RIFF"
    out += struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
    out += b"WAVE"
    out += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    out += b"data" + struct.pack("<I", len(data)) + data
    return bytes(out)


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE bytes -> (samples float64 [n, channels] in [-1, 1),
    sample_rate).  PCM 8 (unsigned) / 16 / 24 / 32-bit and IEEE float32/64;
    unknown chunks skipped; raises ValueError on malformed input."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    fmt = None
    raw = None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (clen,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            if clen < 16:
                raise ValueError("invalid WAV: short fmt chunk")
            tag, ch, sr, _br, _ba, bits = struct.unpack("<HHIIHH", body[:16])
            if tag == 0xFFFE and clen >= 40:  # WAVE_FORMAT_EXTENSIBLE
                (tag,) = struct.unpack("<H", body[24:26])
            fmt = (tag, ch, sr, bits)
        elif cid == b"data":
            raw = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or raw is None:
        raise ValueError("invalid WAV: missing fmt or data chunk")
    tag, ch, sr, bits = fmt
    if ch <= 0:
        raise ValueError("invalid WAV: zero channels")
    if tag == 1:  # integer PCM
        if bits == 8:
            x = np.frombuffer(raw, dtype=np.uint8).astype(np.float64)
            x = (x - 128.0) / 128.0
        elif bits == 16:
            x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
        elif bits == 24:
            b = np.frombuffer(raw[: len(raw) // 3 * 3], dtype=np.uint8).reshape(-1, 3)
            v = (
                b[:, 0].astype(np.int64)
                | (b[:, 1].astype(np.int64) << 8)
                | (b[:, 2].astype(np.int64) << 16)
            )
            v = np.where(v >= 1 << 23, v - (1 << 24), v)
            x = v.astype(np.float64) / float(1 << 23)
        elif bits == 32:
            x = np.frombuffer(raw, dtype="<i4").astype(np.float64) / float(1 << 31)
        else:
            raise ValueError(f"unsupported PCM bit depth {bits}")
    elif tag == 3:  # IEEE float
        if bits == 32:
            x = np.frombuffer(raw, dtype="<f4").astype(np.float64)
        elif bits == 64:
            x = np.frombuffer(raw, dtype="<f8").astype(np.float64)
        else:
            raise ValueError(f"unsupported float bit depth {bits}")
    else:
        raise ValueError(f"unsupported WAV format tag {tag}")
    n = len(x) // ch
    return x[: n * ch].reshape(n, ch), sr


# ---------------------------------------------------------------------------
# DSP
# ---------------------------------------------------------------------------


def resample_linear(samples: np.ndarray, sr_in: int, sr_out: int) -> np.ndarray:
    """Deterministic linear-interpolation resample, endpoint-anchored:
    output position j maps to input position j * (n_in - 1) / (n_out - 1),
    so the first and last samples are preserved exactly.  Vectorized; no
    windowed-sinc machinery (this is the bounded-error baseline, same
    spirit as bilinear image resize in kernels/image.py)."""
    s = np.asarray(samples, dtype=np.float64)
    squeeze = s.ndim == 1
    if squeeze:
        s = s[:, None]
    n_in = s.shape[0]
    n_out = max(1, int(round(n_in * sr_out / sr_in)))
    if n_in == 1 or n_out == 1:
        out = np.repeat(s[:1], n_out, axis=0)
    else:
        pos = np.arange(n_out, dtype=np.float64) * (n_in - 1) / (n_out - 1)
        i0 = np.floor(pos).astype(np.int64)
        i1 = np.minimum(i0 + 1, n_in - 1)
        frac = (pos - i0)[:, None]
        out = s[i0] * (1.0 - frac) + s[i1] * frac
    return out[:, 0] if squeeze else out


def audio_features(samples_i16: np.ndarray) -> dict:
    """Per-clip features over int16 mono samples, computed so a SQL oracle
    reproduces them exactly: the sum of squares and the zero-crossing
    count are integers, and the only floats are one sqrt and two
    divisions in fixed order.

    - ``rms``: round(sqrt(sum(s^2)/n), 6) on the RAW int16 scale
    - ``zcr``: round(#{i : sign(s_i) != sign(s_{i-1})}/(n-1), 6), with
      sign(0) treated as +1 (so silence has zero crossings)
    - ``peak``: max(abs(s)) as an integer
    """
    s = np.asarray(samples_i16, dtype=np.int64).reshape(-1)
    n = s.size
    if n == 0:
        return {"n_samples": 0, "rms": 0.0, "zcr": 0.0, "peak": 0}
    ss = int(np.sum(s * s))
    rms = round(float(np.sqrt(ss / n)), 6)
    sign = np.where(s >= 0, 1, -1)
    crossings = int(np.sum(sign[1:] != sign[:-1]))
    zcr = round(crossings / (n - 1), 6) if n > 1 else 0.0
    return {
        "n_samples": n,
        "rms": rms,
        "zcr": zcr,
        "peak": int(np.max(np.abs(s))),
    }
