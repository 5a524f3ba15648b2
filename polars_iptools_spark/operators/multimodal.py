"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata structs.

The Spark-side machinery — schema, Arrow batch shape, mapInPandas
iterator signature, partition-size control — is real and tested.  Two
codec modes:

- ``decode_mode="fake"``: deterministic synthetic decode from the
  bytes (any payload).
- ``decode_mode="real"``: an actual pure-stdlib header decoder for the
  three formats whose containers are spec-parseable without an
  image/audio library — BMP (``BM``, dims at offsets 18/22), binary
  PPM (``P6`` ASCII header) and RIFF/WAVE (``fmt ``/``data`` chunk
  walk).  Audio rows report ``width``/``height`` as null and
  ``n_frames`` = PCM sample-frame count; unknown containers decode to
  null dimension fields rather than failing the task (one corrupt blob
  must not kill a 100 TB scan).  Codecs needing external libraries
  (PNG/JPEG/MP4) would slot into :func:`_real_decode`'s dispatch.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

MEDIA_META_SCHEMA = (
    "media_id long, n_bytes long, sha256 string, magic string, "
    "width int, height int, n_frames int"
)


def attach_fake_media(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Derive a deterministic opaque binary payload per row (stand-in
    for real image/audio bytes) plus its mime tag — the typed-metadata
    convention: (media binary, media_type string)."""
    return df.withColumn(
        "media", F.to_binary(F.sha2(F.col(text_col), 256), F.lit("hex"))
    ).withColumn(
        "media_type",
        F.element_at(
            F.array(F.lit("image/png"), F.lit("audio/wav"), F.lit("video/mp4")),
            (F.pmod(F.xxhash64(id_col), F.lit(3)) + 1).cast("int"),
        ),
    )


def build_bmp(width: int, height: int, fill: int = 0) -> bytes:
    """Minimal valid 24-bit BMP (BITMAPINFOHEADER), rows padded to 4."""
    row = width * 3
    pad = (4 - row % 4) % 4
    data_size = (row + pad) * height
    size = 54 + data_size
    header = struct.pack(
        "<2sIHHI", b"BM", size, 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, data_size, 2835, 2835, 0, 0
    )
    return header + bytes([fill % 256]) * data_size


def build_ppm(width: int, height: int, fill: int = 0) -> bytes:
    """Binary PPM (P6): ASCII header + raw RGB."""
    return f"P6\n{width} {height}\n255\n".encode() + bytes([fill % 256]) * (
        3 * width * height
    )


def build_wav(n_frames: int, sample_rate: int = 8000, fill: int = 0) -> bytes:
    """Canonical 44-byte PCM WAV header, mono 16-bit, + data."""
    data_size = n_frames * 2
    return (
        struct.pack("<4sI4s", b"RIFF", 36 + data_size, b"WAVE")
        + struct.pack(
            "<4sIHHIIHH", b"fmt ", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16
        )
        + struct.pack("<4sI", b"data", data_size)
        + bytes([fill % 256]) * data_size
    )


def attach_synthetic_media(df: DataFrame, id_col: str) -> DataFrame:
    """Derive a REAL-format media payload per row (BMP / PPM / WAV by
    ``id % 3``) with id-determined dimensions — the fixture generator
    for the ``decode_mode="real"`` path.  Dimension formulas are pure
    arithmetic on the id so an independent SQL oracle can recompute
    every decoded field."""

    @F.arrow_udf(BinaryType())
    def _payload(ids: pa.Array) -> pa.Array:
        out = []
        for i in ids.to_pylist():
            m = i % 3
            if m == 0:
                out.append(build_bmp(16 + (i % 8) * 4, 16 + (i % 6) * 4, fill=i))
            elif m == 1:
                out.append(build_ppm(10 + (i % 40), 10 + (i % 30), fill=i))
            else:
                out.append(build_wav(100 + (i % 50), fill=i))
        return pa.array(out, pa.binary())

    mime = F.element_at(
        F.array(F.lit("image/bmp"), F.lit("image/x-portable-pixmap"), F.lit("audio/wav")),
        (F.col(id_col) % 3 + 1).cast("int"),
    )
    return df.withColumn("media", _payload(F.col(id_col))).withColumn(
        "media_type", mime
    )


def _real_decode(media_id: int, payload: bytes) -> dict:
    """Pure-stdlib container header decode (BMP / P6 PPM / RIFF WAVE).

    Unknown or truncated containers yield null dimension fields — a
    robust-scan contract: one corrupt blob degrades its row, never the
    task.  Audio: ``width``/``height`` null, ``n_frames`` = PCM
    sample-frame count (``data`` size / block-align)."""
    width = height = n_frames = None
    try:
        if payload[:2] == b"BM" and len(payload) >= 26:
            # BITMAPINFOHEADER: int32 LE width @18, height @22 (height
            # may be negative for top-down rows)
            width = struct.unpack_from("<i", payload, 18)[0]
            height = abs(struct.unpack_from("<i", payload, 22)[0])
            n_frames = 1
        elif payload[:2] == b"P6":
            # ASCII header: P6 <width> <height> <maxval>, any whitespace
            toks = payload[2:64].split()
            width, height = int(toks[0]), int(toks[1])
            n_frames = 1
        elif payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            off, block_align, data_size = 12, None, None
            while off + 8 <= len(payload):
                cid, csize = struct.unpack_from("<4sI", payload, off)
                if cid == b"fmt " and csize >= 16:
                    block_align = struct.unpack_from("<H", payload, off + 8 + 12)[0]
                elif cid == b"data":
                    data_size = csize
                off += 8 + csize + (csize % 2)  # chunks are word-aligned
            if block_align and data_size is not None:
                n_frames = data_size // block_align
    except (ValueError, IndexError, struct.error):
        width = height = n_frames = None

    def _i32(v, min_ok):
        # a corrupt header can CLAIM any dimension (e.g. PPM
        # 'P6\n99999999999 5\n...' or a WAV data chunk implying 4e9
        # frames); values outside Int32 must degrade to null here —
        # otherwise the nullable-Int32 pin in extract_media_meta
        # raises and kills the task, violating the robust-scan
        # contract.  min_ok: a 0-dimension image is junk (null), but a
        # well-formed WAV with an empty data chunk is legitimately
        # n_frames=0.
        return v if v is not None and min_ok <= v <= 0x7FFFFFFF else None

    width, height = _i32(width, 1), _i32(height, 1)
    n_frames = _i32(n_frames, 0)
    if payload[:2] in (b"BM", b"P6") and (width is None or height is None):
        # image container whose claimed dimensions were junk: the whole
        # decode is untrustworthy, so null n_frames too — otherwise
        # sample_frames would emit frame 0 for an undecodable image,
        # violating the 'undecodable rows emit no frames' contract
        # (per-field zero/null semantics remain for the audio branch)
        n_frames = None
    return {
        "media_id": media_id,
        "n_bytes": len(payload),
        "sha256": hashlib.sha256(payload).hexdigest(),
        "magic": payload[:4].hex(),
        "width": width,
        "height": height,
        "n_frames": n_frames,
    }


def _fake_decode(media_id: int, payload: bytes) -> dict:
    """Deterministic fake of a codec: dimensions derived from content
    bytes.  A real implementation would replace only this function."""
    h = hashlib.sha256(payload).hexdigest()
    return {
        "media_id": media_id,
        "n_bytes": len(payload),
        "sha256": h,
        "magic": payload[:4].hex(),
        "width": 16 + payload[0] % 240,
        "height": 16 + payload[1] % 240,
        "n_frames": 1 + payload[2] % 30,
    }


def extract_media_meta(
    df: DataFrame,
    id_col: str = "media_id",
    media_col: str = "media",
    decode_mode: str = "fake",
) -> DataFrame:
    """mapInPandas feature extraction over binary media columns.

    Iterator form: one Python worker handles many Arrow batches without
    re-initializing codec state — the shape a real decoder needs.
    """
    if decode_mode not in ("fake", "real"):
        raise ValueError(decode_mode)
    decode = _real_decode if decode_mode == "real" else _fake_decode

    narrowed = df.select(F.col(id_col).alias("media_id"), F.col(media_col).alias("media"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # codec init would happen here, once per worker
        for b in batches:
            if not len(b):
                continue
            out = pd.DataFrame(
                [decode(int(i), bytes(p)) for i, p in zip(b["media_id"], b["media"])]
            )
            # real decode yields null dims for audio/unknown rows —
            # pin nullable Int32 so Arrow doesn't see object columns
            for c in ("width", "height", "n_frames"):
                out[c] = pd.array(out[c], dtype="Int32")
            yield out

    return narrowed.mapInPandas(run, schema=MEDIA_META_SCHEMA)


def sample_frames(
    df: DataFrame,
    every_n: int = 10,
    id_col: str = "media_id",
    media_col: str = "media",
    decode_mode: str = "fake",
) -> DataFrame:
    """Frame-sampling plumbing: fan a media binary out to one row per
    sampled frame index (a full decoder would attach frame bytes).
    With ``decode_mode="real"`` undecodable rows have null ``n_frames``
    and emit no frames (coalesced to 0 before the sequence)."""
    meta = extract_media_meta(df, id_col, media_col, decode_mode=decode_mode)
    nf = F.coalesce(F.col("n_frames"), F.lit(0))
    return meta.where(nf > 0).select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.greatest(nf - 1, F.lit(0)), F.lit(every_n))
        ).alias("frame_idx"),
    )
