"""Video container handling: a real AVI (RIFF) muxer/demuxer for
uncompressed 24-bit DIB video, pure Python/NumPy — closing the
video-frames slot the way PNG closed images and IMA-ADPCM closed
compressed audio. The AVI/RIFF layout is public (Microsoft "AVI RIFF
File Reference"; the same structures ship in every open demuxer).

What's REAL here: container parsing (nested RIFF LISTs), stream-header
interpretation (fps from dwRate/dwScale, dims from BITMAPINFOHEADER),
frame chunk iteration ('00db' DIBs: bottom-up rows, BGR, 4-byte row
stride), exact frame reconstruction, and — via the pure-Python
baseline-JPEG codec in jpeg.py — REAL MJPG (Motion-JPEG) decode, the
most common compressed AVI fourcc from capture tools. For H.264 only
IDR I-frames of Annex-B elementary streams decode
(h264.py::decode_iframe — CAVLC, intra prediction, integer
transform); P/B slices, CABAC, and vp9 entirely stay documented
stubs, which need an ffmpeg-class decoder this library does not
bundle — `blobs.py::sample_blob_frames(fake=False)` routes AVI here and
still raises for those. Their header-level METADATA
(resolution/profile via H.264 SPS parse, Exp-Golomb) is fully real in
mediameta.py — the triage layer a 100 TB crawl actually runs first.

Spark shape: demux is per-blob and embarrassingly parallel — one Arrow
mapInPandas pass, no shuffle; emitted rows carry per-frame STATS, never
frame bytes.
"""

from __future__ import annotations

import struct

import numpy as np


def _pad4(n: int) -> int:
    return (n + 3) & ~3


MJPG_FOURCC = struct.unpack("<I", b"MJPG")[0]


def encode_avi_rgb(frames: np.ndarray, fps: int = 10) -> bytes:
    """(n, h, w, 3) uint8 RGB frames → uncompressed AVI bytes
    ('DIB ' handler, BI_RGB 24-bit, bottom-up BGR rows, 4-byte stride)."""
    frames = np.asarray(frames, dtype="uint8")
    n, h, w, _ = frames.shape
    stride = _pad4(w * 3)
    frame_size = stride * h

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    avih = struct.pack(
        "<14I",
        1_000_000 // fps,  # dwMicroSecPerFrame
        frame_size * fps,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0x10,  # dwFlags: AVIF_HASINDEX absent; 0x10 = AVIF_WASCAPTUREFILE-ish ok
        n,  # dwTotalFrames
        0,  # dwInitialFrames
        1,  # dwStreams
        frame_size,  # dwSuggestedBufferSize
        w,
        h,
        0, 0, 0, 0,  # dwReserved
    )
    strh = (
        b"vids"
        + b"DIB "
        + struct.pack(
            "<10I4H",
            0,  # dwFlags
            0,  # wPriority + wLanguage packed as one DWORD (0)
            0,  # dwInitialFrames
            1,  # dwScale
            fps,  # dwRate
            0,  # dwStart
            n,  # dwLength
            frame_size,  # dwSuggestedBufferSize
            0,  # dwQuality
            0,  # dwSampleSize
            0, 0, w, h,  # rcFrame
        )
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_size, 0, 0, 0, 0
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_frames = []
    for f in frames:
        bgr = f[::-1, :, ::-1]  # bottom-up rows, RGB→BGR
        rows = np.zeros((h, stride), dtype="uint8")
        rows[:, : w * 3] = bgr.reshape(h, w * 3)
        movi_frames.append(chunk(b"00db", rows.tobytes()))
    movi = lst(b"movi", b"".join(movi_frames))
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def encode_avi_mjpeg(
    frames: np.ndarray,
    fps: int = 10,
    quality: int = 90,
    subsampling: tuple[int, int] = (2, 2),
) -> bytes:
    """(n, h, w, 3) uint8 RGB frames → Motion-JPEG AVI bytes: each
    '00dc' chunk is an independent baseline JPEG (jpeg.py), fourcc MJPG
    — the layout USB capture devices and older camera firmware emit.
    Default 4:2:0 subsampling matches what hardware MJPEG encoders
    produce."""
    from .jpeg import encode_jpeg

    frames = np.asarray(frames, dtype="uint8")
    n, h, w, _ = frames.shape

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    payloads = [
        encode_jpeg(f, quality=quality, subsampling=subsampling)
        for f in frames
    ]
    bufsize = max(len(pl) for pl in payloads)
    avih = struct.pack(
        "<14I",
        1_000_000 // fps,
        bufsize * fps,
        0,
        0x10,
        n,
        0,
        1,
        bufsize,
        w,
        h,
        0, 0, 0, 0,
    )
    strh = (
        b"vids"
        + b"MJPG"
        + struct.pack(
            "<10I4H",
            0, 0, 0,
            1,  # dwScale
            fps,  # dwRate
            0,
            n,
            bufsize,
            0, 0,
            0, 0, w, h,
        )
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, MJPG_FOURCC, bufsize, 0, 0, 0, 0
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", pl) for pl in payloads))
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def _iter_chunks(data: bytes, off: int, end: int):
    while off + 8 <= end:
        cid = data[off : off + 4]
        size = struct.unpack("<I", data[off + 4 : off + 8])[0]
        body_off = off + 8
        yield cid, body_off, size
        off = body_off + size + (size & 1)


def decode_avi_frames(data: bytes) -> tuple[np.ndarray, float]:
    """AVI bytes → ((n, h, w, 3) uint8 RGB frames, fps). Supports the
    uncompressed BI_RGB 24-bit layout encode_avi_rgb writes (and any
    conforming capture tool produces); compressed fourccs raise."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI stream")
    w = h = None
    top_down = False  # negative biHeight = top-down DIB, no row flip
    mjpeg = False  # biCompression == 'MJPG': chunks are baseline JPEGs
    compression = None
    scale, rate = 1, 10
    frames: list[np.ndarray] = []

    def walk(off: int, end: int) -> None:
        nonlocal w, h, top_down, mjpeg, compression, scale, rate
        for cid, body_off, size in _iter_chunks(data, off, end):
            if cid == b"LIST":
                walk(body_off + 4, body_off + size)
            elif cid == b"strh":
                fcc_type = data[body_off : body_off + 4]
                if fcc_type == b"vids":
                    scale, rate = struct.unpack(
                        "<II", data[body_off + 20 : body_off + 28]
                    )
            elif cid == b"strf" and w is None:
                (_bs, bw, bh, _pl, bits, comp) = struct.unpack(
                    "<IiiHHI", data[body_off : body_off + 20]
                )
                if comp == MJPG_FOURCC:
                    mjpeg = True
                elif comp != 0 or bits != 24:
                    raise NotImplementedError(
                        f"compression 0x{comp:08X}/depth-{bits} AVI needs "
                        "an ffmpeg-class decoder — BI_RGB 24-bit and MJPG "
                        "are supported here"
                    )
                w, h, top_down = bw, abs(bh), bh < 0
            elif cid in (b"00db", b"00dc"):
                if w is None:
                    raise ValueError("frame chunk before stream format")
                if mjpeg:
                    from .jpeg import decode_jpeg

                    frames.append(
                        decode_jpeg(data[body_off : body_off + size])
                    )
                    continue
                stride = _pad4(w * 3)
                raw = np.frombuffer(
                    data[body_off : body_off + stride * h], dtype="uint8"
                ).reshape(h, stride)
                bgr = raw[:, : w * 3].reshape(h, w, 3)
                # bottom-up DIBs (positive biHeight) store rows inverted
                # and need the flip; top-down DIBs are already in order.
                rgb = bgr[:, :, ::-1] if top_down else bgr[::-1, :, ::-1]
                frames.append(rgb.copy())

    walk(12, 8 + struct.unpack("<I", data[4:8])[0])
    fps = rate / scale if scale else float(rate)
    if not frames:
        raise ValueError("no video frames found")
    return np.stack(frames), fps


def sample_avi_frames(arr_bytes: bytes, n_samples: int) -> list[dict]:
    """Uniform temporal sampling over a decoded AVI: frame indices
    floor(j·n/k) for j in 0..k-1, each reported as (frame_idx, mean/min/
    max over the R channel) — the per-frame triage stats a video-corpus
    pipeline aggregates."""
    frames, _fps = decode_avi_frames(arr_bytes)
    n = len(frames)
    out = []
    for j in range(n_samples):
        idx = j * n // n_samples
        f = frames[idx][:, :, 0].astype("float64")
        out.append(
            {
                "frame_idx": idx,
                "px_mean": round(float(f.mean()), 6),
                "px_min": int(f.min()),
                "px_max": int(f.max()),
            }
        )
    return out
