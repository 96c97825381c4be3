"""Index-only mp4 ("inplace") ingest: pure-Python ISO-BMFF box parsing.

The reference ingests real video WITHOUT transcoding by demuxing the
container and recording a keyframe/sample index next to the original bits
("inplace" mode — reference: scanner/engine/ingest.cpp:310-365,
metadata.proto:107; the H.264 sample index it builds:
scanner/video/h264_byte_stream_index_creator.cpp).  That index is pure
container metadata: no codec is required to build it, only the
``moov/trak/mdia/minf/stbl`` sample tables:

  stsd          sample description (avc1/hev1...): width/height, codec
  stsz          per-sample byte sizes
  stsc          sample-to-chunk runs
  stco / co64   chunk byte offsets (32/64-bit)
  stss          sync-sample numbers (keyframes; absent = all sync)

This module walks those boxes and emits the same (meta, entries) shape as
``svf.parse_index``, so ``ingest_videos`` feeds either container into the
one ``video_index`` schema.  DECODE of mp4 payloads stays unavailable in
this environment (no ffmpeg/PyAV) — ingest is index-only, exactly the
reference's inplace contract: bits stay in the original file, reads plan
byte ranges off the index.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from scanner_spark.sources.svf import FrameIndexEntry

_FULLBOX = 4  # version (1) + flags (3)

# containers we descend into looking for sample tables
_CONTAINERS = {"moov", "trak", "mdia", "minf", "stbl"}


def _boxes(buf: bytes, start: int, end: int) -> Iterator[tuple[str, int, int]]:
    """Yield (type, payload_start, box_end) for each box in [start, end)."""
    off = start
    while off + 8 <= end:
        size, btype = struct.unpack_from(">I4s", buf, off)
        header = 8
        if size == 1:  # 64-bit largesize
            size = struct.unpack_from(">Q", buf, off + 8)[0]
            header = 16
        elif size == 0:  # box extends to end of file
            size = end - off
        if size < header or off + size > end:
            raise ValueError(f"malformed mp4 box {btype!r} at offset {off}")
        yield btype.decode("latin1"), off + header, off + size
        off += size


def _walk(buf: bytes, start: int, end: int, found: dict[str, tuple[int, int]]) -> None:
    for btype, pstart, bend in _boxes(buf, start, end):
        if btype in _CONTAINERS:
            _walk(buf, pstart, bend, found)
        else:
            # keep the FIRST of each sample-table box (first video trak wins;
            # a hdlr check below rejects traks without sample sizes anyway)
            found.setdefault(btype, (pstart, bend))


def _u32s(buf: bytes, off: int, n: int) -> list[int]:
    return list(struct.unpack_from(f">{n}I", buf, off))


def _parse_stsd(buf: bytes, start: int, end: int):
    """(width, height, codec, avcc) from the first sample entry; ``avcc``
    is (sps_list, pps_list, length_size) for avc1 tracks, else None."""
    # fullbox header + entry_count
    entry = start + _FULLBOX + 4
    size, fmt = struct.unpack_from(">I4s", buf, entry)
    # VisualSampleEntry: 6 reserved + 2 data_ref_index + 16 pre_defined/reserved
    # then u16 width, u16 height (ISO 14496-12 §12.1.3)
    w, h = struct.unpack_from(">HH", buf, entry + 8 + 6 + 2 + 16)
    avcc = None
    # codec-private boxes follow the 78-byte VisualSampleEntry body
    vse_end = min(entry + size, end)
    try:
        for btype, ps, be in _boxes(buf, entry + 8 + 78, vse_end):
            if btype == "avcC":
                avcc = _parse_avcc(buf[ps:be])
                break
    except Exception:
        # index-only ingest must survive any codec-private garbage: a
        # malformed avcC only disables DECODE, never the sample index
        avcc = None
    return w, h, fmt.decode("latin1"), avcc


def _parse_avcc(cfg: bytes):
    """AVCDecoderConfigurationRecord (ISO 14496-15 §5.2.4.1)."""
    length_size = (cfg[4] & 3) + 1
    n_sps = cfg[5] & 0x1F
    off = 6
    sps = []
    for _ in range(n_sps):
        (n,) = struct.unpack_from(">H", cfg, off)
        off += 2
        sps.append(cfg[off : off + n])
        off += n
    n_pps = cfg[off]
    off += 1
    pps = []
    for _ in range(n_pps):
        (n,) = struct.unpack_from(">H", cfg, off)
        off += 2
        pps.append(cfg[off : off + n])
        off += n
    return sps, pps, length_size


def parse_index(buf: bytes) -> tuple[dict, list[FrameIndexEntry]]:
    """Demux-only pass over an mp4: per-sample (frame_no, is_key, offset,
    size) plus stream meta — the inplace ingest index.  Payload bytes are
    never touched."""
    found: dict[str, tuple[int, int]] = {}
    _walk(buf, 0, len(buf), found)
    for required in ("stsz", "stsc", "stsd"):
        if required not in found:
            raise ValueError(f"mp4 missing {required} box — not a video track?")
    if "stco" not in found and "co64" not in found:
        raise ValueError("mp4 missing chunk offsets (stco/co64)")

    # --- sample sizes -----------------------------------------------------
    s, _ = found["stsz"]
    uniform, count = struct.unpack_from(">II", buf, s + _FULLBOX)
    sizes = [uniform] * count if uniform else _u32s(buf, s + _FULLBOX + 8, count)

    # --- chunk offsets ----------------------------------------------------
    if "stco" in found:
        s, _ = found["stco"]
        (n_chunks,) = struct.unpack_from(">I", buf, s + _FULLBOX)
        chunk_offs = _u32s(buf, s + _FULLBOX + 4, n_chunks)
    else:
        s, _ = found["co64"]
        (n_chunks,) = struct.unpack_from(">I", buf, s + _FULLBOX)
        chunk_offs = list(struct.unpack_from(f">{n_chunks}Q", buf, s + _FULLBOX + 4))

    # --- sample-to-chunk runs -> samples per chunk ------------------------
    s, _ = found["stsc"]
    (n_runs,) = struct.unpack_from(">I", buf, s + _FULLBOX)
    runs = [
        struct.unpack_from(">III", buf, s + _FULLBOX + 4 + 12 * i) for i in range(n_runs)
    ]  # (first_chunk 1-based, samples_per_chunk, sample_desc_idx)
    per_chunk: list[int] = []
    for i, (first, spc, _sdi) in enumerate(runs):
        last = runs[i + 1][0] - 1 if i + 1 < n_runs else len(chunk_offs)
        per_chunk.extend([spc] * (last - first + 1))

    # --- sync samples (keyframes) -----------------------------------------
    if "stss" in found:
        s, _ = found["stss"]
        (n_sync,) = struct.unpack_from(">I", buf, s + _FULLBOX)
        sync = set(_u32s(buf, s + _FULLBOX + 4, n_sync))  # 1-based sample numbers
    else:
        sync = None  # absent stss = every sample is sync (ISO 14496-12 §8.6.2)

    # --- composition reordering (B frames) --------------------------------
    # display rank comes from composition times: CT = DT (stts cumsum) +
    # ctts offset.  Without a ctts box, display order == sample (decode)
    # order and frame_no is just the sample index.
    disp_of: list[int] | None = None
    if "ctts" in found:
        s, bend = found["ctts"]
        version = buf[s]
        (n_runs_c,) = struct.unpack_from(">I", buf, s + _FULLBOX)
        cts_off: list[int] = []
        fmt = ">Ii" if version == 1 else ">II"
        for i in range(n_runs_c):
            cnt, off_v = struct.unpack_from(fmt, buf, s + _FULLBOX + 4 + 8 * i)
            cts_off.extend([off_v] * cnt)
        # decode times from stts runs
        dts: list[int] = []
        if "stts" in found:
            s2, _ = found["stts"]
            (n_runs_t,) = struct.unpack_from(">I", buf, s2 + _FULLBOX)
            t = 0
            for i in range(n_runs_t):
                cnt, delta = struct.unpack_from(
                    ">II", buf, s2 + _FULLBOX + 4 + 8 * i
                )
                for _ in range(cnt):
                    dts.append(t)
                    t += delta
        else:
            dts = list(range(len(cts_off)))
        # A ctts/stts whose coverage disagrees with stsz is a malformed
        # timing box either way: under-coverage would leave tail samples
        # at frame_no = sample index, colliding with display ranks
        # already assigned; over-coverage means the muxer's sample count
        # disagrees with its timing runs and any truncation is a guess.
        # Refuse loudly in BOTH directions (ADVICE r08 symmetry).
        if len(cts_off) != len(sizes) or len(dts) != len(sizes):
            raise ValueError(
                f"mp4: ctts/stts cover {len(cts_off)}/{len(dts)} samples "
                f"but stsz declares {len(sizes)}"
            )
        n = len(sizes)
        ct = [dts[i] + cts_off[i] for i in range(n)]
        order = sorted(range(n), key=lambda i: (ct[i], i))
        disp_of = [0] * n
        for rank, i in enumerate(order):
            disp_of[i] = rank

    # --- per-sample absolute offsets --------------------------------------
    entries: list[FrameIndexEntry] = []
    sample = 0
    for chunk_i, spc in enumerate(per_chunk):
        off = chunk_offs[chunk_i]
        for _ in range(spc):
            if sample >= len(sizes):
                break
            is_key = (sync is None) or ((sample + 1) in sync)
            frame_no = (
                disp_of[sample]
                if disp_of is not None and sample < len(disp_of)
                else sample
            )
            entries.append(FrameIndexEntry(frame_no, bool(is_key), off, sizes[sample]))
            off += sizes[sample]
            sample += 1

    w, h, codec, avcc = _parse_stsd(buf, *found["stsd"])
    keys = [e.frame_no for e in entries if e.is_key]
    gop = max(
        (b - a for a, b in zip(keys, keys[1:])),
        default=len(entries) if entries else 0,
    )
    meta = {
        "height": h,
        "width": w,
        "channels": 3,
        "gop": int(gop),
        "codec": codec,
        "reordered": disp_of is not None,
    }
    if avcc is not None:
        meta["avcc"] = avcc
    return meta, entries


def is_mp4(buf: bytes) -> bool:
    return len(buf) >= 8 and buf[4:8] == b"ftyp"


def read_moov(path: str, opener=open):
    """Read ONLY the moov box from an mp4 file: walk top-level box headers
    with seeks (8-16 bytes each), skip payloads — in particular the mdat,
    which is ~the whole file.  Returns the moov box bytes, which
    ``parse_index`` accepts directly (its box walk descends from whatever
    buffer it is given; stco/co64 chunk offsets are ABSOLUTE file offsets
    and are only ever used to address payload reads from the real file,
    never into the parse buffer).

    This is the decode-task metadata path at scale: a cluster task doing a
    GOP-pruned read fetches the index with one or two range GETs instead
    of the whole object (reference reads via storehouse byte ranges —
    scanner/engine/column_source.cpp:120-180)."""
    with opener(path, "rb") as f:
        f.seek(0, 2)
        flen = f.tell()
        pos = 0
        while pos + 8 <= flen:
            f.seek(pos)
            hdr = f.read(8)
            if len(hdr) < 8:
                break
            size, btype = struct.unpack(">I4s", hdr)
            if size == 1:  # 64-bit largesize
                size = struct.unpack(">Q", f.read(8))[0]
            elif size == 0:  # box extends to end of file
                size = flen - pos
            if size < 8:
                raise ValueError(f"malformed mp4 box {btype!r} at offset {pos}")
            if btype == b"moov":
                f.seek(pos)
                return f.read(size)
            pos += size
    raise ValueError(f"no moov box found in {path}")


# ---------------------------------------------------------------------------
# raw-video mp4: write + decode
#
# 'raw ' is the QuickTime/ISO fourcc for uncompressed RGB samples.  With a
# real codec unavailable in this environment, a raw-sample track is the one
# standard-container format the engine can both WRITE (FrameColumn sink,
# column_sink.cpp:278 analog) and DECODE (column_source.cpp:560 analog)
# with full pixel fidelity — closing the mp4 round trip with legal
# ISO-BMFF instead of the private SVF container.  Every sample is a sync
# sample (no stss box), so GOP pruning degenerates to per-frame tasks.
# ---------------------------------------------------------------------------


def _wbox(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def _wfull(btype: bytes, payload: bytes, version: int = 0, flags: int = 0) -> bytes:
    return _wbox(btype, struct.pack(">B", version) + flags.to_bytes(3, "big") + payload)


_MATRIX = struct.pack(
    ">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000
)  # identity transform, 16.16 / 2.30 fixed point


def encode_mp4_raw(frames, fps: int = 30) -> bytes:
    """Encode u8 (H, W, 3) frames as a legal ISO-BMFF mp4 with an
    uncompressed 'raw ' RGB24 video track: ftyp + mdat (raw samples,
    single chunk) + moov with real mvhd/tkhd/mdhd/hdlr/vmhd/dinf and
    stsd/stts/stsc/stsz/stco sample tables.  Readable by ``parse_index``
    and decodable by ``decode_range`` (and by ffprobe-class tooling)."""
    h, w, c = frames[0].shape
    if c != 3:
        raise ValueError("raw mp4 track is RGB24: expected 3 channels")
    n = len(frames)
    sample_size = h * w * 3
    for f in frames:
        if f.shape != (h, w, 3) or f.dtype.name != "uint8":
            raise ValueError("all frames must be uint8 with identical shape")
    total = n * sample_size
    if total + 1024 >= (1 << 32):
        # 32-bit box sizes / stco offsets; co64+largesize would be needed
        raise ValueError(
            f"raw mp4 stream is {total} bytes — exceeds the 32-bit ISO-BMFF "
            "box limit; split the stream (write_video writes one file per "
            "stream key, so partition longer streams before the sink)"
        )

    ftyp = _wbox(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isommp41")
    mdat_data_off = len(ftyp) + 8
    mdat = _wbox(b"mdat", b"".join(f.tobytes() for f in frames))

    timescale, delta = fps * 1000, 1000
    duration = n * delta

    # VisualSampleEntry 'raw ' (ISO 14496-12 §12.1.3): no codec-private box
    vse = (
        b"\x00" * 6
        + struct.pack(">H", 1)  # data_reference_index
        + b"\x00" * 16
        + struct.pack(">HH", w, h)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4
        + struct.pack(">H", 1)  # frame_count
        + b"\x00" * 32  # compressorname
        + struct.pack(">H", 24)  # depth: RGB24
        + struct.pack(">h", -1)  # pre_defined
    )
    stsd = _wfull(b"stsd", struct.pack(">I", 1) + _wbox(b"raw ", vse))
    stts = _wfull(b"stts", struct.pack(">I", 1) + struct.pack(">II", n, delta))
    stsc = _wfull(b"stsc", struct.pack(">I", 1) + struct.pack(">III", 1, n, 1))
    stsz = _wfull(b"stsz", struct.pack(">II", sample_size, n))  # uniform sizes
    stco = _wfull(b"stco", struct.pack(">II", 1, mdat_data_off))
    # no stss box: every sample is sync (ISO 14496-12 §8.6.2)
    stbl = _wbox(b"stbl", stsd + stts + stsc + stsz + stco)

    url = _wfull(b"url ", b"", flags=1)  # self-contained
    dref = _wfull(b"dref", struct.pack(">I", 1) + url)
    dinf = _wbox(b"dinf", dref)
    vmhd = _wfull(b"vmhd", struct.pack(">HHHH", 0, 0, 0, 0), flags=1)
    minf = _wbox(b"minf", vmhd + dinf + stbl)
    hdlr = _wfull(b"hdlr", b"\x00" * 4 + b"vide" + b"\x00" * 12 + b"VideoHandler\x00")
    mdhd = _wfull(
        b"mdhd",
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">HH", 0x55C4, 0),  # language 'und'
    )
    mdia = _wbox(b"mdia", mdhd + hdlr + minf)
    tkhd = _wfull(
        b"tkhd",
        struct.pack(">IIIII", 0, 0, 1, 0, duration)
        + b"\x00" * 8
        + struct.pack(">hhhH", 0, 0, 0, 0)
        + _MATRIX
        + struct.pack(">II", w << 16, h << 16),
        flags=7,  # enabled | in_movie | in_preview
    )
    trak = _wbox(b"trak", tkhd + mdia)
    mvhd = _wfull(
        b"mvhd",
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">iH", 0x00010000, 0x0100)  # rate 1.0, volume 1.0
        + b"\x00" * 10
        + _MATRIX
        + b"\x00" * 24  # pre_defined
        + struct.pack(">I", 2),  # next_track_ID
    )
    moov = _wbox(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def encode_mp4_avc1(frames, fps: int = 30, qp: int = 26, mb_mode: str = "auto",
                    gop: int | None = None, b_frames: int = 0,
                    slices: int = 1, entropy: str = "cavlc",
                    b_pyramid: bool = False,
                    p_intra_slices: int = 0,
                    deblock: bool = False,
                    p_refs: int = 1,
                    implicit_bipred: bool = False,
                    ref_mode: str = "sliding",
                    b_refs: int = 1,
                    scaling4=None,
                    b_direct: bool = False,
                    scaling8=None,
                    transform_8x8: bool = False,
                    direct_mode: str = "spatial",
                    part_mode: str = "auto") -> bytes:
    """Encode u8 (H, W, 3) RGB frames as a legal ISO-BMFF mp4 with a REAL
    compressed avc1 (H.264) track from the in-repo baseline encoder
    (kernels/h264.py), samples stored as 4-byte length-prefixed NALs,
    SPS/PPS in the avcC box (ISO 14496-15).

    ``gop=None`` (default) writes every frame as an IDR keyframe — every
    sample sync (no stss box), one decode task per frame.  ``gop=N``
    writes real GOP structure: an IDR every N frames with P frames
    between (stss lists the sync samples), so the engine's pruned loads
    decode keyframe-forward exactly like the reference's decode model
    (decoder_automata.cpp; inplace ingest ingest.cpp:310-365).
    ``b_frames=n`` additionally inserts n non-reference B frames between
    consecutive references; samples are then stored in DECODE order with
    a ctts box carrying the display (composition) reordering.
    ``b_pyramid=True`` (with ``b_frames >= 2``) makes the middle B of
    each gap a REFERENCE picture (hierarchical mini-GOPs, the x264
    b-pyramid shape): the SPS advertises the 4-deep sliding-window DPB
    the decode walk then maintains, and each following P carries an
    explicit ref_pic_list_modification (see h264.encode_stream_nals)."""
    import numpy as np

    from scanner_spark.kernels import h264

    h, w, c = frames[0].shape
    if c != 3:
        raise ValueError("avc1 track input is RGB24: expected 3 channels")
    for f in frames:
        if f.shape != (h, w, 3) or f.dtype.name != "uint8":
            raise ValueError("all frames must be uint8 with identical shape")
    if b_frames and gop is None:
        raise ValueError("b_frames needs a GOP structure (pass gop=N)")
    # DPB depth: pyramid keeps {prev P, prev mid-B, cur P, cur mid-B}
    # live across mini-GOP seams -> 4; plain B gaps need the 2 bracketing
    # references; I/P chains need 1
    if p_refs > 1 and gop is None:
        raise ValueError("p_refs needs a GOP structure (pass gop=N)")
    if ref_mode != "sliding" and gop is None:
        raise ValueError("adaptive ref_mode needs a GOP structure")
    sps = h264.write_sps(
        w, h,
        num_ref_frames=max(
            4 if b_pyramid else (2 if b_frames else 1), p_refs,
            3 if b_refs > 1 else 1,
        ),
        poc_type=0 if b_frames else 2,
        scaling4=scaling4,
        scaling8=scaling8,
        high_profile=transform_8x8,  # §8.5.13 needs the High SPS layout
    )
    pps = h264.write_pps(
        qp, cabac=entropy == "cabac",
        weighted_bipred_idc=2 if implicit_bipred else 0,
        transform_8x8=transform_8x8,
    )
    yuv = [h264.yuv420_from_rgb(np.asarray(f)) for f in frames]
    if gop is None:
        nals = [
            (h264.encode_frame_nals(y, cb, cr, qp=qp, mb_mode=mb_mode,
                                    slices=slices, entropy=entropy,
                                    deblock=deblock,
                                    scaling4=scaling4, scaling8=scaling8,
                                    transform_8x8=transform_8x8), True, i)
            for i, (y, cb, cr) in enumerate(yuv)
        ]
    else:
        nals = h264.encode_stream_nals(
            yuv, gop=gop, qp=qp, mb_mode=mb_mode, b_frames=b_frames,
            slices=slices, entropy=entropy, b_pyramid=b_pyramid,
            p_intra_slices=p_intra_slices, deblock=deblock,
            p_refs=p_refs, implicit_bipred=implicit_bipred,
            ref_mode=ref_mode, b_refs=b_refs, scaling4=scaling4,
            b_direct=b_direct, scaling8=scaling8,
            transform_8x8=transform_8x8, direct_mode=direct_mode,
            part_mode=part_mode,
        )
    # CABAC samples each carry the origin-marker SEI: the decoder's
    # uniform-context-init CABAC accepts only marked (in-repo) streams
    # (kernels/cabac.py provenance note)
    marker = [h264.cabac_marker_nal()] if entropy == "cabac" else []

    def _sample(ns):
        # one sample = ALL of the picture's slice NALs, length-prefixed
        return b"".join(
            len(n_).to_bytes(4, "big") + n_ for n_ in marker + ns
        )

    samples = [_sample(nal) for nal, _, _ in nals]
    sync_nos = [i + 1 for i, (_, is_idr, _) in enumerate(nals) if is_idr]  # 1-based
    all_sync = len(sync_nos) == len(samples)
    disp_nos = [d for _, _, d in nals]
    reordered = disp_nos != list(range(len(nals)))
    sps_nal = h264.rbsp_to_nal(3, 7, sps)
    pps_nal = h264.rbsp_to_nal(3, 8, pps)
    avcc = (
        bytes([1, sps_nal[1], sps_nal[2], sps_nal[3], 0xFC | 3, 0xE0 | 1])
        + len(sps_nal).to_bytes(2, "big") + sps_nal
        + bytes([1]) + len(pps_nal).to_bytes(2, "big") + pps_nal
    )
    n = len(samples)
    ftyp = _wbox(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomavc1")
    mdat_data_off = len(ftyp) + 8
    mdat = _wbox(b"mdat", b"".join(samples))
    timescale, delta = fps * 1000, 1000
    duration = n * delta
    vse = (
        b"\x00" * 6
        + struct.pack(">H", 1)
        + b"\x00" * 16
        + struct.pack(">HH", w, h)
        + struct.pack(">II", 0x00480000, 0x00480000)
        + b"\x00" * 4
        + struct.pack(">H", 1)
        + b"\x00" * 32
        + struct.pack(">H", 24)
        + struct.pack(">h", -1)
        + _wbox(b"avcC", avcc)
    )
    stsd = _wfull(b"stsd", struct.pack(">I", 1) + _wbox(b"avc1", vse))
    stts = _wfull(b"stts", struct.pack(">I", 1) + struct.pack(">II", n, delta))
    stsc = _wfull(b"stsc", struct.pack(">I", 1) + struct.pack(">III", 1, n, 1))
    stsz = _wfull(
        b"stsz",
        struct.pack(">II", 0, n) + b"".join(struct.pack(">I", len(s)) for s in samples),
    )
    stco = _wfull(b"stco", struct.pack(">II", 1, mdat_data_off))
    # stss only when NOT all-sync (absent stss = every sample sync,
    # ISO 14496-12 SS8.6.2)
    stss = b"" if all_sync else _wfull(
        b"stss",
        struct.pack(">I", len(sync_nos))
        + b"".join(struct.pack(">I", s) for s in sync_nos),
    )
    # ctts only when decode order != display order (B frames): version-0
    # unsigned offsets via a constant composition delay so
    # CT = (disp - idx + shift) * delta >= 0 for every sample
    ctts = b""
    if reordered:
        shift = max(i - d for i, d in enumerate(disp_nos))
        offs = [(d - i + shift) * delta for i, d in enumerate(disp_nos)]
        ctts = _wfull(
            b"ctts",
            struct.pack(">I", len(offs))
            + b"".join(struct.pack(">II", 1, o) for o in offs),
        )
    stbl = _wbox(b"stbl", stsd + stts + stsc + stsz + stco + stss + ctts)
    url = _wfull(b"url ", b"", flags=1)
    dref = _wfull(b"dref", struct.pack(">I", 1) + url)
    dinf = _wbox(b"dinf", dref)
    vmhd = _wfull(b"vmhd", struct.pack(">HHHH", 0, 0, 0, 0), flags=1)
    minf = _wbox(b"minf", vmhd + dinf + stbl)
    hdlr = _wfull(b"hdlr", b"\x00" * 4 + b"vide" + b"\x00" * 12 + b"VideoHandler\x00")
    mdhd = _wfull(
        b"mdhd",
        struct.pack(">IIII", 0, 0, timescale, duration) + struct.pack(">HH", 0x55C4, 0),
    )
    mdia = _wbox(b"mdia", mdhd + hdlr + minf)
    tkhd = _wfull(
        b"tkhd",
        struct.pack(">IIIII", 0, 0, 1, 0, duration)
        + b"\x00" * 8
        + struct.pack(">hhhH", 0, 0, 0, 0)
        + _MATRIX
        + struct.pack(">II", w << 16, h << 16),
        flags=7,
    )
    trak = _wbox(b"trak", tkhd + mdia)
    mvhd = _wfull(
        b"mvhd",
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">iH", 0x00010000, 0x0100)
        + b"\x00" * 10
        + _MATRIX
        + b"\x00" * 24
        + struct.pack(">I", 2),
    )
    moov = _wbox(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def _parse_avcc_params(sps_rbsp_list, pps_rbsp_list):
    from scanner_spark.kernels import h264

    sps = pps = None
    for raw in sps_rbsp_list:
        _, t, rbsp = h264.nal_to_rbsp(bytes(raw))
        if t == 7:
            sps = h264.parse_sps(rbsp)
    for raw in pps_rbsp_list:
        _, t, rbsp = h264.nal_to_rbsp(bytes(raw))
        if t == 8:
            pps = h264.parse_pps(rbsp)
    if sps is None or pps is None:
        raise ValueError("avc1 track missing SPS/PPS in avcC")
    return sps, pps


def _decode_avc1_sample(sample: bytes, sps_rbsp_list, pps_rbsp_list,
                        length_size: int, sps_pps=None, ref=None, ref1=None,
                        pocs=None, cur_poc=None):
    """One avc1 sample (length-prefixed NALs) -> ((H, W, 3) RGB frame,
    reconstruction state).  ``ref`` chains P-frame decode through a GOP;
    B samples additionally take ``ref1`` (the future reference);
    ``cur_poc`` POC-tags the decode for §8.4.1.2.3 temporal direct."""
    from scanner_spark.kernels import h264

    sps, pps = sps_pps if sps_pps else _parse_avcc_params(sps_rbsp_list, pps_rbsp_list)
    all_nals = list(h264.split_length_prefixed(bytes(sample), length_size))
    cabac_marked = any(h264.is_cabac_marker(n) for n in all_nals)
    slices = [nal for nal in all_nals if nal and nal[0] & 0x1F in (1, 5)]
    if not slices:
        raise ValueError("avc1 sample contains no slice NAL")
    (y, cb, cr), st = h264.decode_picture_nals(
        slices, sps, pps, ref=ref, return_state=True, ref1=ref1,
        cabac_marked=cabac_marked, pocs=pocs, cur_poc=cur_poc,
    )
    return h264.rgb_from_yuv420(y, cb, cr), st


def _avc1_sample_info(sample: bytes, length_size: int,
                      sps: dict, pps: dict) -> dict:
    """Header-peek EVERY slice NAL of one sample (no pixel decode) and
    merge to the picture-level facts the DPB walk needs: ``kinds`` (the
    set of slice kinds — mixed I/P pictures are legal, §7.4.3),
    ``is_ref``/``idr``/``frame_num``/``poc`` (identical across a
    picture's slices), and the ref-list modification ops (must agree
    across slices; a picture whose slices disagree would need per-slice
    reference plumbing and is refused)."""
    from scanner_spark.kernels import h264

    infos = [
        h264.slice_header_info(nal, sps, pps)
        for nal in h264.split_length_prefixed(bytes(sample), length_size)
        if nal and nal[0] & 0x1F in (1, 5)
    ]
    if not infos:
        raise ValueError("avc1 sample contains no slice NAL")
    kinds = {i["kind"] for i in infos}
    if "P" in kinds and "B" in kinds:
        raise NotImplementedError(
            "avc1 picture mixes P and B slices: their default reference "
            "lists initialize differently (PicNum vs POC order, "
            "§8.2.4.2) — per-slice reference plumbing not supported"
        )
    mods = {
        (
            None if i["l0_mod"] is None else tuple(i["l0_mod"]),
            None if i["l1_mod"] is None else tuple(i["l1_mod"]),
        )
        for i in infos
        if i["kind"] in ("P", "B")
    }
    if len(mods) > 1:
        raise NotImplementedError(
            "avc1 picture's slices carry differing ref_pic_list_"
            "modification ops — per-slice reference lists not supported"
        )
    marks = {
        (None if i["mmco"] is None else tuple(i["mmco"]), i["idr_lt"])
        for i in infos
        if i["is_ref"]
    }
    if len(marks) > 1:
        raise ValueError(
            "avc1 picture's slices carry differing dec_ref_pic_marking "
            "— §7.4.3.3 requires them identical across a picture"
        )
    first = infos[0]
    pb = next((i for i in infos if i["kind"] in ("P", "B")), first)
    mmco, idr_lt = next(iter(marks)) if marks else (None, False)
    return {
        "kinds": kinds, "is_ref": first["is_ref"], "idr": first["idr"],
        "frame_num": first["frame_num"], "poc": first["poc"],
        "l0_mod": pb["l0_mod"], "l1_mod": pb["l1_mod"],
        "n_l0": pb.get("n_l0", 1), "n_l1": pb.get("n_l1", 1),
        "mmco": list(mmco) if mmco is not None else None,
        "idr_lt": idr_lt,
    }


def decode_range(
    buf: bytes, start_offset: int, meta: dict, wanted: set, index=None,
    base: int = 0,
) -> dict:
    """Decode wanted frames from a raw-sample mp4 (same contract as
    ``svf.decode_range``).  Raw samples are independent, so the "range" is
    a direct read at each wanted sample's indexed byte range; compressed
    codecs (avc1/hev1) raise — their ingest stays index-only in this
    environment.  Pass ``index=(meta, entries)`` (from one ``parse_index``
    per file) to avoid re-walking the box tree per decode task — raw mp4s
    are all-sync, so sparse loads plan one task per frame.

    ``base``: absolute file offset of ``buf[0]`` — lets a decode task hand
    in only its GOP's byte window (range read) while index entry offsets
    stay absolute."""
    import numpy as np

    m, entries = index if index is not None else parse_index(buf)
    codec = m["codec"].strip()
    if codec == "avc1":
        if "avcc" not in m:
            raise NotImplementedError(
                "avc1 track has no parseable avcC configuration - cannot "
                "decode without SPS/PPS (ingest stays index-only)"
            )
        sps_l, pps_l, ls = m["avcc"]
        sps_pps = _parse_avcc_params(sps_l, pps_l)
        out = {}
        known = {e.frame_no for e in entries}
        missing = [no for no in wanted if no not in known]
        if missing:
            raise ValueError(f"frames not found in container: {sorted(missing)[:5]}")
        # keyframe-forward GOP decode (decoder_automata's model): each
        # wanted DISPLAY frame decodes from its governing sync sample
        # forward in SAMPLE (decode) order, maintaining a general
        # sliding-window DPB (§8.2.5.3) of the SPS's num_ref_frames most
        # recent reference pictures — I/P/referenced-B all enter it, so
        # hierarchical (pyramid) B streams decode.  Each picture's
        # references resolve by header peek (_avc1_sample_info): default
        # list initialization (P: highest PicNum = most recently decoded
        # reference; B: nearest POC past / future, §8.2.4.2) unless the
        # slice carries ref_pic_list_modification ops, which are
        # replayed against PicNum (§8.2.4.3).  Unwanted non-reference
        # samples are skipped without decoding (closed GOPs: nothing
        # depends on them).  For all-sync tracks this degenerates to
        # one direct decode per frame.
        import bisect

        from scanner_spark.kernels import h264 as _h264

        sps_d = sps_pps[0]
        max_fn = 1 << sps_d["log2_max_frame_num"]
        max_poc = 1 << sps_d.get("log2_max_poc_lsb", 4)
        n_ref = max(1, sps_d.get("num_ref_frames", 1))

        # governing keyframe of display d = sync sample with the greatest
        # display number <= d (closed GOPs: display ranges don't straddle)
        key_pairs = sorted(
            (e.frame_no, i) for i, e in enumerate(entries) if e.is_key
        )
        key_disps = [d for d, _ in key_pairs]
        targets = sorted(set(wanted))
        t_i = 0
        while t_i < len(targets):
            ki = bisect.bisect_right(key_disps, targets[t_i]) - 1
            if ki < 0:
                raise ValueError(
                    f"frame {targets[t_i]} precedes the first sync sample"
                )
            k_disp, k_sample = key_pairs[ki]
            gop_end = key_pairs[ki + 1][0] if ki + 1 < len(key_pairs) else None
            remaining = set()
            while t_i < len(targets) and (
                gop_end is None or targets[t_i] < gop_end
            ):
                remaining.add(targets[t_i])
                t_i += 1
            # (fn, poc, state, lt) in decode order; lt None = short-term,
            # else the picture's LongTermFrameIdx (§8.2.5 marking)
            dpb: list[tuple[int, int, object, object]] = []
            poc_msb, poc_lsb_prev = 0, 0  # of the last reference picture
            s = k_sample
            while remaining and s < len(entries):
                e = entries[s]
                sample = buf[e.offset - base : e.offset - base + e.size]
                info = _avc1_sample_info(sample, ls, sps_d, sps_pps[1])
                if info["idr"]:
                    dpb.clear()
                    poc_msb = poc_lsb_prev = 0
                # full POC: §8.2.1.1 lsb->msb wrap derivation for poc
                # type 0; type 2 pictures already carry 2*frame_num
                # (decode == display order, never B-bearing)
                if sps_d["poc_type"] == 0:
                    lsb = info["poc"]
                    msb = poc_msb
                    if lsb < poc_lsb_prev and poc_lsb_prev - lsb >= max_poc // 2:
                        msb += max_poc
                    elif lsb > poc_lsb_prev and lsb - poc_lsb_prev > max_poc // 2:
                        msb -= max_poc
                    poc = msb + lsb
                    if info["is_ref"]:
                        poc_msb, poc_lsb_prev = msb, lsb
                else:
                    poc = info["poc"]
                if not info["is_ref"] and e.frame_no not in remaining:
                    s += 1
                    continue  # non-reference sample nobody needs
                kinds = info["kinds"]
                ref_st = ref1_st = None
                poc0 = poc1 = None  # ref POCs for implicit bipred weights
                ref_pocs0 = ref_pocs1 = None  # POC tags (temporal direct)
                if kinds & {"P", "B"}:
                    if not dpb:
                        raise ValueError(
                            f"display {e.frame_no}: inter picture with an "
                            "empty DPB (open GOP / broken sync index)"
                        )
                    if "B" in kinds:
                        # §8.2.4.2.3 default B lists over the tagged DPB:
                        # list0 = past short-terms by POC descending, then
                        # future by POC ascending; list1 mirrored; both
                        # with long-terms at the tail by LongTermFrameIdx
                        past = sorted(
                            (x for x in dpb if x[3] is None and x[1] < poc),
                            key=lambda x: -x[1],
                        )
                        future = sorted(
                            (x for x in dpb if x[3] is None and x[1] > poc),
                            key=lambda x: x[1],
                        )
                        lts = sorted(
                            (x for x in dpb if x[3] is not None),
                            key=lambda x: x[3],
                        )
                        if not past:
                            raise ValueError(
                                f"display {e.frame_no}: B picture has "
                                "no past reference in the DPB"
                            )
                        if not future:
                            raise ValueError(
                                f"display {e.frame_no}: B picture has no "
                                "future reference in the DPB"
                            )
                        lt_tags = [("lt", x[3]) for x in lts]
                        d0 = [("st", x[0]) for x in past + future] + lt_tags
                        d1 = [("st", x[0]) for x in future + past] + lt_tags
                        n0b = max(info.get("n_l0", 1), 1)
                        n1b = max(info.get("n_l1", 1), 1)

                        def build_list(defaults, mods, n_act, which):
                            if mods is not None:
                                tags = _h264.resolve_list_mods_full(
                                    mods, info["frame_num"], max_fn,
                                    defaults, n_act,
                                )
                            else:
                                tags = defaults[:n_act]
                            ents = []
                            for tag, v in tags:
                                if tag == "st":
                                    cand = [x for x in dpb
                                            if x[0] == v and x[3] is None]
                                    what = f"frame_num {v}"
                                else:
                                    cand = [x for x in dpb if x[3] == v]
                                    what = f"LongTermFrameIdx {v}"
                                if not cand:
                                    raise ValueError(
                                        f"RefPicList{which} needs {what}, "
                                        "not in the DPB"
                                    )
                                ents.append(cand[-1])
                            if len(ents) < n_act:
                                raise ValueError(
                                    f"display {e.frame_no}: RefPicList"
                                    f"{which} has {len(ents)} entries, "
                                    f"slice needs {n_act}"
                                )
                            return ents

                        ents0 = build_list(d0, info["l0_mod"], n0b, 0)
                        ents1 = build_list(d1, info["l1_mod"], n1b, 1)
                        poc0, poc1 = ents0[0][1], ents1[0][1]
                        ref_st = ([x[2] for x in ents0] if n0b > 1
                                  else ents0[0][2])
                        ref1_st = ([x[2] for x in ents1] if n1b > 1
                                   else ents1[0][2])
                        # POC tags for §8.4.1.2.3 temporal direct: the
                        # picture's own lists (recorded onto its state
                        # after decode)
                        ref_pocs0 = [x[1] for x in ents0]
                        ref_pocs1 = [x[1] for x in ents1]
                    else:
                        # P: full RefPicList0 — default order is most
                        # recently decoded first (PicNum descending at
                        # sliding-window depth, §8.2.4.2.1), then any
                        # modification ops replay §8.2.4.3.1, then
                        # truncate to the slice's active count
                        defaults = _h264.default_ref_list0_p(dpb)
                        n0 = max(info.get("n_l0", 1), 1)
                        if info["l0_mod"] is not None:
                            tags = _h264.resolve_list_mods_full(
                                info["l0_mod"], info["frame_num"], max_fn,
                                defaults, n0,
                            )
                        else:
                            tags = defaults[:n0]
                        ref_l = []
                        ref_pocs0 = []
                        for tag, v in tags:
                            if tag == "st":
                                cand = [x for x in dpb
                                        if x[0] == v and x[3] is None]
                                what = f"frame_num {v}"
                            else:
                                cand = [x for x in dpb if x[3] == v]
                                what = f"LongTermFrameIdx {v}"
                            if not cand:
                                raise ValueError(
                                    f"RefPicList0 needs {what}, "
                                    "not in the DPB"
                                )
                            ref_l.append(cand[-1][2])
                            ref_pocs0.append(cand[-1][1])
                        if len(ref_l) < n0:
                            raise ValueError(
                                f"display {e.frame_no}: RefPicList0 has "
                                f"{len(ref_l)} entries, slice needs {n0}"
                            )
                        ref_st = ref_l if n0 > 1 else ref_l[0]
                pocs = None
                if ("B" in kinds
                        and sps_pps[1].get("weighted_bipred_idc", 0) == 2):
                    pocs = (poc, poc0, poc1)
                rgb, st = _decode_avc1_sample(
                    sample, sps_l, pps_l, ls, sps_pps=sps_pps,
                    ref=ref_st, ref1=ref1_st, pocs=pocs, cur_poc=poc,
                )
                # POC-tag the reconstruction so a LATER temporal-direct
                # B can scale this picture's motion (§8.4.1.2.3 reads
                # the co-located picture's own list POCs)
                st.poc = poc
                st.ref_pocs0 = ref_pocs0
                st.ref_pocs1 = ref_pocs1
                if info["is_ref"]:
                    # §8.2.5 marking: sliding window, or the slice's
                    # adaptive MMCO ops (IDR long_term_reference_flag
                    # admits the IDR as LongTermFrameIdx 0)
                    cur = (
                        info["frame_num"], poc, st,
                        0 if (info["idr"] and info["idr_lt"]) else None,
                    )
                    dpb = _h264.apply_ref_pic_marking(
                        dpb, cur, info["mmco"], max_fn, n_ref
                    )
                    if info["mmco"] and any(
                        op == 5 for op, _, _ in info["mmco"]
                    ):
                        # §8.2.5.4.5 rebase: the POC chain continues
                        # from the rebased origin (like an IDR's reset)
                        poc_msb = poc_lsb_prev = 0
                if e.frame_no in remaining:
                    out[e.frame_no] = rgb
                    remaining.discard(e.frame_no)
                s += 1
            if remaining:
                raise ValueError(
                    f"GOP at sync display {k_disp} ended before frames "
                    f"{sorted(remaining)[:5]} were produced"
                )
        return out
    if codec != "raw":
        raise NotImplementedError(
            f"no decoder for codec {m['codec']!r} in this environment; "
            "mp4 ingest is index-only for other compressed tracks"
        )
    h, w, c = m["height"], m["width"], 3
    out, remaining = {}, set(wanted)
    for e in entries:
        if e.frame_no in remaining:
            if e.size != h * w * c:
                raise ValueError(
                    f"raw sample {e.frame_no} has {e.size} bytes, expected {h * w * c}"
                )
            out[e.frame_no] = (
                np.frombuffer(buf, dtype=np.uint8, count=e.size, offset=e.offset - base)
                .reshape(h, w, c)
                .copy()
            )
            remaining.discard(e.frame_no)
    if remaining:
        raise ValueError(f"frames not found in container: {sorted(remaining)[:5]}")
    return out
