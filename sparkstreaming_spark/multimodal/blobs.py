"""Multimodal (image/audio/video) column plumbing.

Media are opaque `binary` columns with typed metadata alongside. The
Spark-side plumbing — schemas, Arrow-batched `mapInPandas`, partition
shape — is real and tested, and the codec step has two modes:

- `fake=True`: a deterministic byte-level "decoder" (byte histogram +
  mean byte) so the pipeline is exercisable end-to-end, reproducible,
  and SQL-oracle-able on any blob.
- `fake=False`: REAL image decode for PPM/BMP/PNG via the pure-Python
  codecs in multimodal/codecs.py (features/resize over decoded pixels);
  unsupported formats raise ValueError. Video frame extraction
  (`sample_blob_frames(fake=False)`) decodes REAL AVI streams via
  multimodal/video.py — uncompressed BI_RGB exactly, and MJPG
  (Motion-JPEG) through the pure-Python baseline JPEG codec in
  multimodal/jpeg.py; inter-frame fourccs (h264/vp9) raise
  NotImplementedError (no ffmpeg in this container).

Scale notes: blobs ride in parquet binary columns; `mapInPandas` keeps
them in Arrow record batches (no per-row Python), and
`spark.sql.files.maxPartitionBytes` bounds the per-task batch footprint.
Feature extraction is a narrow map — no shuffle until the caller
aggregates the (small) feature output.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_HIST_BINS = 16

FEATURE_SCHEMA = (
    "id bigint, n_bytes bigint, mean_byte double, byte_hist array<bigint>"
)


def with_blob(df: DataFrame, text_col: str, blob_col: str = "blob") -> DataFrame:
    """Materialize an opaque binary column (here: utf-8 bytes of a string
    column — the stand-in for real media bytes)."""
    return df.withColumn(blob_col, F.encode(F.col(text_col), "utf-8"))


def blob_meta(blob_col: str | Column) -> dict[str, Column]:
    """Cheap typed metadata computed JVM-side: byte length + sha256 hex."""
    c = F.col(blob_col) if isinstance(blob_col, str) else blob_col
    return {
        "n_bytes": F.length(c).cast("bigint"),
        "sha256": F.sha2(c, 256),
    }


def decode_blob_features(
    df: DataFrame, id_col: str, blob_col: str = "blob", fake: bool = True
) -> DataFrame:
    """Arrow-batched feature extraction over binary blobs via mapInPandas.

    Output: (id, n_bytes, mean_byte, byte_hist[16]). With fake=False this
    is where a real decoder (PIL image decode, audio resample, video frame
    sample) would run per Arrow batch.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, sizes, means, hists = [], [], [], []
            for i, blob in zip(pdf["__id"], pdf["__blob"]):
                raw = bytes(blob)
                if fake:
                    arr = np.frombuffer(raw, dtype=np.uint8)
                else:
                    # real decode: PPM/BMP/PNG via the pure-Python codecs;
                    # features are over decoded PIXELS, not file bytes
                    from .codecs import decode_image

                    arr = decode_image(raw).ravel()
                ids.append(i)
                sizes.append(len(raw))
                means.append(float(arr.mean()) if arr.size else 0.0)
                hist, _ = np.histogram(arr, bins=N_HIST_BINS, range=(0, 256))
                hists.append(hist.astype("int64").tolist())
            yield pd.DataFrame(
                {"id": ids, "n_bytes": sizes, "mean_byte": means, "byte_hist": hists}
            )

    narrow = df.select(
        F.col(id_col).cast("bigint").alias("__id"), F.col(blob_col).alias("__blob")
    )
    return narrow.mapInPandas(extract, schema=FEATURE_SCHEMA)


def sample_blob_frames(
    df: DataFrame,
    id_col: str,
    blob_col: str = "blob",
    n_frames: int = 4,
    fake: bool = True,
) -> DataFrame:
    """Frame sampling: one blob row in → n_frames rows out (the video
    shape: uniform temporal sampling). Output (id, frame_idx, n_bytes,
    frame_md5).

    fake=True: a "frame" is the i-th of n uniform byte ranges
    (boundaries floor(i·L/n)) — deterministic and reproducible in SQL,
    so the whole 1→N mapInPandas plumbing gets an exact DuckDB oracle.
    fake=False DEMUXES REAL AVI blobs (multimodal/video.py — RIFF
    container walk; BI_RGB DIBs decoded exactly, MJPG chunks decoded by
    the pure-Python baseline JPEG codec in multimodal/jpeg.py; uniform
    temporal sampling; frame content is md5'd from the decoded RGB
    array). Inter-frame codecs (h264/vp9) still raise: those need an
    ffmpeg-class decoder absent from this container.

    Scale: narrow 1→N map, no shuffle; output carries hashes/lengths
    (small), never the frame bytes, so downstream aggregation is cheap.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            ids, idxs, sizes, hashes = [], [], [], []
            for i, blob in zip(pdf["__id"], pdf["__blob"]):
                raw = bytes(blob)
                if not fake:
                    from .video import decode_avi_frames

                    frames, _fps = decode_avi_frames(raw)  # raises for
                    # non-AVI / compressed formats (documented stub)
                    n = len(frames)
                    for j in range(n_frames):
                        fr = frames[j * n // n_frames]
                        ids.append(i)
                        idxs.append(j)
                        sizes.append(int(fr.nbytes))
                        hashes.append(hashlib.md5(fr.tobytes()).hexdigest())
                    continue
                L = len(raw)
                for j in range(n_frames):
                    lo = j * L // n_frames
                    hi = (j + 1) * L // n_frames
                    frame = raw[lo:hi]
                    ids.append(i)
                    idxs.append(j)
                    sizes.append(len(frame))
                    hashes.append(hashlib.md5(frame).hexdigest())
            yield pd.DataFrame(
                {
                    "id": ids,
                    "frame_idx": idxs,
                    "n_bytes": sizes,
                    "frame_md5": hashes,
                }
            )

    narrow = df.select(
        F.col(id_col).cast("bigint").alias("__id"), F.col(blob_col).alias("__blob")
    )
    return narrow.mapInPandas(
        extract, schema="id bigint, frame_idx int, n_bytes bigint, frame_md5 string"
    )


def resize_blob(
    df: DataFrame,
    id_col: str,
    blob_col: str = "blob",
    out_len: int = 64,
    fake: bool = True,
) -> DataFrame:
    """Resize: fixed-size representation per blob — (id, orig_bytes,
    resized binary). fake=True mean-pools the byte signal into out_len
    buckets (the 1-D stand-in; shorter blobs stretch, like an image
    upscale; empty blobs become zeros). fake=False REALLY decodes the
    blob (PPM/BMP/PNG, multimodal/codecs.py), nearest-neighbor-resizes
    to out_len × out_len, and re-encodes as PPM P6/P5 — a working
    end-to-end image path with no native libraries. Deterministic;
    unit-tested (pooling/NN-resize are not worth a SQL twin)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, origs, outs = [], [], []
            for i, blob in zip(pdf["__id"], pdf["__blob"]):
                raw = bytes(blob)
                ids.append(i)
                origs.append(len(raw))
                if not fake:
                    from .codecs import decode_image, encode_ppm, resize_nearest

                    img = decode_image(raw)
                    if img.shape[2] in (2, 4):  # drop alpha for PPM output
                        img = img[:, :, : img.shape[2] - 1]
                    outs.append(encode_ppm(resize_nearest(img, out_len, out_len)))
                    continue
                arr = np.frombuffer(raw, dtype=np.uint8)
                if arr.size == 0:
                    outs.append(bytes(out_len))
                    continue
                edges = (np.arange(out_len + 1) * arr.size) // out_len
                pooled = np.array(
                    [
                        arr[edges[j]: max(edges[j + 1], edges[j] + 1)].mean()
                        for j in range(out_len)
                    ]
                )
                outs.append(pooled.astype(np.uint8).tobytes())
            yield pd.DataFrame({"id": ids, "orig_bytes": origs, "resized": outs})

    narrow = df.select(
        F.col(id_col).cast("bigint").alias("__id"), F.col(blob_col).alias("__blob")
    )
    return narrow.mapInPandas(
        extract, schema="id bigint, orig_bytes bigint, resized binary"
    )


# magic-byte table for sniff_mime — ASCII-safe magics (GIF, BM, P6,
# RIFF/WAVE, FLAC, Ogg); PNG/JPEG magics are non-ASCII and would need
# raw-byte test fixtures rather than encode()'d strings
MAGIC_PREFIXES: list[tuple[str, bytes]] = [
    ("image/gif", b"GIF87a"),
    ("image/gif", b"GIF89a"),
    ("image/bmp", b"BM"),
    ("image/x-portable-pixmap", b"P6"),
    ("audio/flac", b"fLaC"),
    ("audio/ogg", b"OggS"),
    ("audio/mpeg", b"ID3"),  # ID3v2-tagged mp3
    # non-ASCII magics: the hex-prefix compare handles raw bytes fine;
    # only the doc_mime_sniff ORACLE trick needs ASCII-safe markers
    ("image/png", b"\x89PNG\r\n\x1a\n"),
    ("image/jpeg", b"\xff\xd8\xff"),
    # Annex-B H.264 elementary stream opening with an SPS NAL (the
    # shape multimodal/h264.py::encode_iframe emits and any raw .264
    # dump starts with)
    ("video/h264", b"\x00\x00\x00\x01\x67"),
]


def sniff_mime(blob_col: str | Column) -> Column:
    """Content-type detection from magic bytes — the ingestion dispatch
    step before format-specific decode (multimodal/codecs.py). Pure
    codegen'd prefix compares on the binary column (hex-prefix equality);
    RIFF containers additionally check the format tag at offset 9-12
    (audio/wav). Unknown content falls through to
    'application/octet-stream' rather than erroring — quarantine-style
    routing decides what to do with it downstream."""
    c = F.col(blob_col) if isinstance(blob_col, str) else blob_col

    def prefix_is(b: bytes) -> Column:
        return F.hex(F.substring(c, 1, len(b))) == b.hex().upper()

    out = F.lit("application/octet-stream")
    riff = prefix_is(b"RIFF") & (
        F.hex(F.substring(c, 9, 4)) == b"WAVE".hex().upper()
    )
    out = F.when(riff, F.lit("audio/wav")).otherwise(out)
    # ISO-BMFF: brand box at offset 4 ("....ftyp"), not a prefix
    ftyp = F.hex(F.substring(c, 5, 4)) == b"ftyp".hex().upper()
    out = F.when(ftyp, F.lit("video/mp4")).otherwise(out)
    # raw mp3 frame sync: 11 set bits → first 3 hex chars FFE or FFF
    sync = F.substring(F.hex(F.substring(c, 1, 2)), 1, 3).isin("FFE", "FFF")
    out = F.when(sync, F.lit("audio/mpeg")).otherwise(out)
    for mime, magic in reversed(MAGIC_PREFIXES):
        out = F.when(prefix_is(magic), F.lit(mime)).otherwise(out)
    return out
