"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Model (FIXTURES.md / SURVEY.md §1): a media element is a row
``(asset_id, media_type, payload: binary, meta: struct)``.  Decode and
feature extraction run as Arrow-batched ``mapInPandas`` so each Python
worker sees a columnar batch of blobs — the right shape for handing to an
image/audio library.

``decode_image`` has REAL codec paths for every routed format: PNG
payloads are decoded by the in-repo dependency-free decoder
(``kernels.image.decode_png`` — inverse of ``encode_png``), baseline
AND progressive JPEG payloads by the in-repo T.81 decoder
(``kernels.jpeg.decode_jpeg``; the reference ingests real image format
groups the same way, scanner/engine/ingest.cpp:1004), GIF payloads by
the in-repo LZW decoder (``kernels.gif.decode_gif``), TIFF
(uncompressed / LZW / PackBits, predictor 2) by
``kernels.tiff.decode_tiff``, and lossless WebP (VP8L) by
``kernels.webp.decode_webp`` — all normalized to 3 channels and
bilinearly resized to the requested output size.  A payload with no
recognized magic RAISES (``decode_image(on_error='skip')`` drops it with
the counted-skip policy) — there is no fake image decode path left; the
only remaining deterministic stub is ``sample_video_frames``'s frame
synth for opaque video payloads, clearly marked.  The Spark-side
plumbing — schema, batch iteration, partitioning, output contracts — is
identical on all paths.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from scanner_spark.frames import FRAME_SCHEMA

MEDIA_SCHEMA = (
    "asset_id long, media_type string, payload binary, "
    "meta struct<width:int, height:int, duration_ms:int, codec:string>"
)


def _fake_decode(payload: bytes, h: int, w: int) -> np.ndarray:
    """DETERMINISTIC FAKE frame synth: pixels seeded from md5(payload).
    Used ONLY by ``sample_video_frames`` for opaque video payloads (the
    documented ffmpeg stand-in); every image format routes through a
    real in-repo codec — see ``decode_payload``."""
    seed = int.from_bytes(hashlib.md5(payload or b"").digest()[:4], "big")
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def _to_rgb(img: np.ndarray) -> np.ndarray:
    """(H, W, C) any-channel-count uint8 -> (H, W, 3)."""
    c = img.shape[2]
    if c == 3:
        return img
    if c == 1:  # grey -> replicate
        return np.repeat(img, 3, axis=2)
    if c == 2:  # grey+alpha -> replicate grey, drop alpha
        return np.repeat(img[:, :, :1], 3, axis=2)
    return img[:, :, :3]  # RGBA -> drop alpha


def decode_payload(payload: bytes, out_h: int, out_w: int) -> np.ndarray:
    """One blob -> (out_h, out_w, 3) uint8.  PNG, baseline JPEG, GIF,
    uncompressed TIFF, and lossless WebP (VP8L) take REAL in-repo
    decoders (+ bilinear resize).  Raises on a malformed payload or an
    unrecognized format — callers choose the failure policy
    (``decode_image(on_error='skip')``)."""
    from scanner_spark.kernels.gif import GIF_MAGICS, decode_gif
    from scanner_spark.kernels.image import PNG_MAGIC, decode_png, resize_bilinear
    from scanner_spark.kernels.jpeg import JPEG_MAGIC, decode_jpeg
    from scanner_spark.kernels.tiff import TIFF_MAGICS, decode_tiff
    from scanner_spark.kernels.webp import decode_webp, is_webp

    if payload and bytes(payload[:8]) == PNG_MAGIC:
        img = decode_png(bytes(payload))
        if img.dtype == np.uint16:  # 16-bit file: keep the high byte
            img = (img >> 8).astype(np.uint8)
        img = _to_rgb(img)
    elif payload and bytes(payload[:2]) == JPEG_MAGIC:
        img = decode_jpeg(bytes(payload))
    elif payload and bytes(payload[:6]) in GIF_MAGICS:
        img = decode_gif(bytes(payload))
    elif payload and bytes(payload[:4]) in TIFF_MAGICS:
        img = _to_rgb(decode_tiff(bytes(payload)))
    elif payload and is_webp(bytes(payload[:12])):
        img = _to_rgb(decode_webp(bytes(payload)))
    else:
        raise ValueError(
            f"no codec for payload (magic {bytes(payload[:4])!r}): "
            "PNG/JPEG/GIF/TIFF/WebP-lossless are in scope"
        )
    if img.shape[:2] != (out_h, out_w):
        img = resize_bilinear(img, out_h, out_w)
    return img


def decode_image(
    df: DataFrame, out_h: int = 32, out_w: int = 32, on_error: str = "raise"
) -> DataFrame:
    """payload binary -> decoded frame columns (mapInPandas, Arrow batches).

    Every payload routes through a real in-repo codec by magic sniff
    (PNG/JPEG/GIF/TIFF/WebP-lossless); unrecognized formats raise.
    ``on_error``: ``'raise'`` fails the job on a corrupt payload (strict
    pipelines); ``'skip'`` drops the bad rows — one rotten blob in a
    billion-asset corpus should not kill the query (the per-row analog of
    the op compiler's ``on_error='null'`` blacklisting).

    Skips are never silent: a Spark accumulator counts dropped payloads and
    is exposed as ``.decode_skipped`` on the returned DataFrame (read its
    ``.value`` after an action; task retries may over-count, as usual for
    accumulators in transformations — it is an observability counter, not an
    exact ledger), and each affected batch logs a worker-side warning.
    """
    if on_error not in ("raise", "skip"):
        raise ValueError(f"unknown on_error {on_error!r}")

    out_schema = f"asset_id long, {FRAME_SCHEMA}"
    skipped = df.sparkSession.sparkContext.accumulator(0)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import logging

        for pdf in batches:
            ids, frames = [], []
            n_bad = 0
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                try:
                    arr = decode_payload(payload, out_h, out_w)
                except Exception:
                    if on_error == "raise":
                        raise
                    n_bad += 1
                    continue  # skip: blacklist the corrupt element
                ids.append(asset_id)
                frames.append(arr.tobytes())
            if n_bad:
                skipped.add(n_bad)
                logging.getLogger(__name__).warning(
                    "decode_image skipped %d corrupt payload(s) in a batch of %d",
                    n_bad,
                    len(pdf),
                )
            yield pd.DataFrame(
                {
                    "asset_id": ids,
                    "frame": frames,
                    "height": [out_h] * len(ids),
                    "width": [out_w] * len(ids),
                    "channels": [3] * len(ids),
                    "dtype": ["u8"] * len(ids),
                }
            )

    out = df.mapInPandas(run, schema=out_schema)
    out.decode_skipped = skipped
    return out


def text_to_png(df: DataFrame, text_col: str = "text", h: int = 32, w: int = 32,
                id_col: str = "doc_id") -> DataFrame:
    """Render each document's utf-8 bytes into a deterministic (h, w, 3)
    image and REAL-encode it as PNG — gives the media pipeline genuine
    compressed image payloads built from driver-provided data (no RNG:
    bytes tile the pixel grid).  Arrow-batched mapInPandas."""
    from scanner_spark.kernels.image import encode_png

    need = h * w * 3

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for s in pdf[text_col]:
                raw = (s or " ").encode("utf-8")
                reps = -(-need // len(raw))  # ceil-div tile
                arr = np.frombuffer((raw * reps)[:need], dtype=np.uint8)
                payloads.append(encode_png(arr.reshape(h, w, 3)))
            yield pd.DataFrame(
                {
                    "asset_id": pdf[id_col],
                    "media_type": "image",
                    "payload": payloads,
                    "meta": [
                        {"width": w, "height": h, "duration_ms": 0, "codec": "png"}
                    ]
                    * len(pdf),
                }
            )

    return df.select(id_col, text_col).mapInPandas(run, schema=MEDIA_SCHEMA)


def text_to_media(df: DataFrame, text_col: str = "text", h: int = 32,
                  w: int = 32, id_col: str = "doc_id",
                  quality: int = 85) -> DataFrame:
    """ONE-PASS six-format image encode: per row, ``id % 6`` selects
    PNG (0) / baseline JPEG (1) / GIF (2) / lossless WebP-VP8L (3) /
    LZW+predictor TIFF (4) / progressive JPEG (5).  Each document's
    utf-8 bytes tile the pixel grid as in ``text_to_png``; GIF rows are
    GREYSCALE (byte-per-pixel grey keeps the palette within 256 entries,
    so the LZW encode is pixel-exact).  A SINGLE documents scan and a
    single Arrow stage instead of six filter+encode branches union'd
    over the same parquet (round 14, VERDICT r13 finding #2:
    multimodal_decode was the #1 suite cost).  At 100 TB this is the
    difference between one pass over the corpus and six."""
    from scanner_spark.kernels.gif import encode_gif
    from scanner_spark.kernels.image import encode_png
    from scanner_spark.kernels.jpeg import (
        encode_jpeg_batch,
        encode_jpeg_progressive_batch,
    )
    from scanner_spark.kernels.tiff import encode_tiff
    from scanner_spark.kernels.webp import encode_webp

    need3, need1 = h * w * 3, h * w

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def tile(raw: bytes, need: int) -> np.ndarray:
            reps = -(-need // len(raw))  # ceil-div tile
            return np.frombuffer((raw * reps)[:need], dtype=np.uint8)

        for pdf in batches:
            payloads, codecs = [], []
            # JPEG rows (baseline AND progressive) are encoded as ONE
            # vectorized batch each: every image's scans share one
            # builder call per scan and one bit pack (round 16);
            # payloads are byte-identical to the per-row encoders,
            # slotted back by position
            base_pos: list[int] = []
            base_arrs: list[np.ndarray] = []
            prog_pos: list[int] = []
            prog_arrs: list[np.ndarray] = []
            for did, s in zip(pdf[id_col], pdf[text_col]):
                raw = (s or " ").encode("utf-8")
                k = int(did) % 6
                if k == 2:  # GIF is palettized: byte-per-pixel grey
                    grey = tile(raw, need1)
                    img = np.repeat(grey.reshape(h, w, 1), 3, axis=2)
                    payloads.append(encode_gif(img))
                    codecs.append("gif")
                    continue
                arr = tile(raw, need3).reshape(h, w, 3)
                if k == 0:
                    payloads.append(encode_png(arr))
                    codecs.append("png")
                elif k == 1:
                    base_pos.append(len(payloads))
                    base_arrs.append(arr)
                    payloads.append(b"")  # placeholder, filled below
                    codecs.append("jpeg")
                elif k == 3:
                    payloads.append(encode_webp(arr))
                    codecs.append("webp")
                elif k == 4:
                    payloads.append(encode_tiff(arr, compression="lzw",
                                                predictor=2))
                    codecs.append("tiff")
                else:
                    prog_pos.append(len(payloads))
                    prog_arrs.append(arr)
                    payloads.append(b"")
                    codecs.append("jpeg")
            if base_arrs:
                for pos, payload in zip(
                    base_pos, encode_jpeg_batch(base_arrs, quality=quality)
                ):
                    payloads[pos] = payload
            if prog_arrs:
                for pos, payload in zip(
                    prog_pos,
                    encode_jpeg_progressive_batch(prog_arrs, quality=quality),
                ):
                    payloads[pos] = payload
            yield pd.DataFrame(
                {
                    "asset_id": pdf[id_col],
                    "media_type": "image",
                    "payload": payloads,
                    "meta": [
                        {"width": w, "height": h, "duration_ms": 0,
                         "codec": c}
                        for c in codecs
                    ],
                }
            )

    return df.select(id_col, text_col).mapInPandas(run, schema=MEDIA_SCHEMA)


AUDIO_SAMPLE_RATE = 8000


def synth_audio(df: DataFrame, id_col: str = "doc_id",
                sample_rate: int = AUDIO_SAMPLE_RATE,
                codec: str = "pcm") -> DataFrame:
    """Deterministic audio synthesis: per doc, an integer sawtooth whose
    period and length derive from the id (s_i = (((i*p) % 256) - 128) * 64,
    p = id%50+2, n = 1000 + (id%7)*100), REAL-encoded as 16-bit PCM
    RIFF/WAVE (``codec='pcm'``) or FLAC (``codec='flac'``, in-repo
    lossless encoder — identical samples on decode, so every downstream
    feature is codec-invariant).  Closed-form samples so a SQL oracle can
    recompute every feature exactly.  Arrow-batched mapInPandas."""
    from scanner_spark.kernels.audio import encode_wav
    from scanner_spark.kernels.flac import encode_flac

    if codec not in ("pcm", "flac", "auto"):
        raise ValueError(f"unknown audio codec {codec!r}")
    # "auto" (round 14): per-row dispatch — even ids PCM, odd ids FLAC —
    # one Arrow pass instead of two filter+union branches

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, metas = [], []
            for did in pdf[id_col]:
                did = int(did)
                p = did % 50 + 2
                n = 1000 + (did % 7) * 100
                i = np.arange(n, dtype=np.int64)
                s = ((((i * p) % 256) - 128) * 64).astype(np.int16)
                use_flac = codec == "flac" or (
                    codec == "auto" and did % 2 == 1
                )
                if use_flac:
                    payloads.append(encode_flac(s, sample_rate))
                else:
                    payloads.append(encode_wav(s, sample_rate))
                metas.append(
                    {
                        "width": 0,
                        "height": 0,
                        "duration_ms": n * 1000 // sample_rate,
                        "codec": "flac" if use_flac else "pcm_s16le",
                    }
                )
            yield pd.DataFrame(
                {
                    "asset_id": pdf[id_col],
                    "media_type": "audio",
                    "payload": payloads,
                    "meta": metas,
                }
            )

    return df.select(id_col).mapInPandas(run, schema=MEDIA_SCHEMA)


def audio_feature_table(df: DataFrame) -> DataFrame:
    """Audio payload -> per-clip features via the REAL codecs (RIFF/WAVE
    or FLAC, magic-sniffed): (n_samples, sample_rate, duration_ms, rms,
    zcr, peak).  Features use integer-exact accumulation
    (kernels.audio.audio_features) so they hash-match a SQL oracle — and
    are codec-invariant because FLAC is lossless.  Multi-channel clips
    are folded to mono by integer-averaging channels."""
    from scanner_spark.kernels.audio import audio_features, decode_wav
    from scanner_spark.kernels.flac import FLAC_MAGIC, decode_flac

    out_schema = (
        "asset_id long, n_samples long, sample_rate long, duration_ms long, "
        "rms double, zcr double, peak long"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "asset_id", "n_samples", "sample_rate", "duration_ms", "rms", "zcr", "peak"
            )}
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                if bytes(payload[:4]) == FLAC_MAGIC:
                    s_i, sr = decode_flac(bytes(payload))
                    s = s_i.astype(np.int64)
                else:
                    x, sr = decode_wav(bytes(payload))
                    # back to the raw int16 scale (exact: int16/32768
                    # round-trips in double)
                    s = np.round(x * 32768.0).astype(np.int64)
                # mono-fold by integer mean
                mono = s[:, 0] if s.shape[1] == 1 else s.sum(axis=1) // s.shape[1]
                f = audio_features(mono)
                rows["asset_id"].append(asset_id)
                rows["n_samples"].append(f["n_samples"])
                rows["sample_rate"].append(sr)
                rows["duration_ms"].append(f["n_samples"] * 1000 // sr)
                rows["rms"].append(f["rms"])
                rows["zcr"].append(f["zcr"])
                rows["peak"].append(f["peak"])
            yield pd.DataFrame(rows)

    return df.select("asset_id", "payload").mapInPandas(run, schema=out_schema)


def sample_video_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """video payload -> sampled frame rows (one output row per sampled
    timestamp — a 1:N mapInPandas, the cardinality shape video decode
    needs).  Frame *content* is the deterministic fake; the frame-count
    arithmetic uses real metadata (duration_ms)."""
    out_schema = f"asset_id long, frame_no long, pts_ms long, {FRAME_SCHEMA}"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("asset_id", "frame_no", "pts_ms", "frame", "height", "width", "channels", "dtype")}
            for _, row in pdf.iterrows():
                dur = int(row["meta"]["duration_ms"] or 0)
                n = max(1, dur // every_ms)
                for i in range(n):
                    arr = _fake_decode((row["payload"] or b"") + i.to_bytes(4, "big"), 16, 16)
                    rows["asset_id"].append(row["asset_id"])
                    rows["frame_no"].append(i)
                    rows["pts_ms"].append(i * every_ms)
                    rows["frame"].append(arr.tobytes())
                    rows["height"].append(16)
                    rows["width"].append(16)
                    rows["channels"].append(3)
                    rows["dtype"].append("u8")
            yield pd.DataFrame(rows)

    return df.mapInPandas(run, schema=out_schema)
