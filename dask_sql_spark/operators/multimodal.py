"""Multimodal column plumbing: image/audio/video as opaque binary columns.

Design (SURVEY.md §7 M6): media payloads are ``binary`` columns carried
alongside typed metadata; decode / feature-extract / frame-sample
run as Arrow-batched ``mapInPandas`` pipelines, so executors stream batches
without materializing whole partitions.

Capability tiers (what is real vs stubbed):

- **Header metadata is REAL, dependency-free byte parsing**:
  :func:`parse_image_header` (PNG/JPEG/GIF dimensions + channels),
  :func:`parse_wav_header` (RIFF/WAVE sample rate/channels/bits/duration),
  :func:`parse_mp4_duration` (ISO-BMFF ``moov``/``mvhd`` timescale →
  duration). :func:`decode_image` uses the header parse, falls back to a
  PIL full decode when installed, and raises ``NotImplementedError`` only
  for unknown formats without PIL.
- **Pixel/sample decoding is STUBBED** (PIL / torchaudio / av are not in
  this container): ``fake=True`` selects a deterministic md5-derived
  decoder that the DuckDB oracle can mirror; frame *extraction* in
  :func:`sample_video_frames` is a payload-offset slice.

The Spark-side plumbing — schema, Arrow batch iteration, partitioning —
is real and tested; a deployment swaps the stub for the real codec
without touching the plan shape.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("byte_len", T.LongType()),
        T.StructField("sha1", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("mean_byte", T.DoubleType()),
    ]
)


def attach_binary(df: DataFrame, source_col: str, out_col: str = "payload") -> DataFrame:
    """Materialize a binary payload column (UTF-8 encode of a string column
    — stands in for real media bytes read from a lake)."""
    return df.withColumn(out_col, F.encode(F.col(source_col), "UTF-8"))


def _fake_decode(payload: bytes) -> tuple[int, int, int, float]:
    """Deterministic fake image decode: dimensions derived from md5 bytes
    (md5, not sha1, so the DuckDB oracle can reproduce the values).
    Placeholder for PIL/av — stable across runs and engines."""
    digest = hashlib.md5(payload).digest()
    width = 16 + digest[0] % 240
    height = 16 + digest[1] % 240
    channels = 1 + digest[2] % 4
    mean_byte = round(sum(payload) / len(payload), 4) if payload else 0.0
    return width, height, channels, mean_byte


def parse_image_header(payload: bytes) -> tuple[int, int, int] | None:
    """(width, height, channels) from PNG / JPEG / GIF header bytes — no
    codec dependency, pure byte parsing. Returns None for unknown formats.

    PNG: IHDR at offset 16 (big-endian W, H; color type → channels).
    JPEG: walk markers to the first SOFn frame header (C0-C3, C5-C7, C9-CB,
    CD-CF). GIF87a/89a: little-endian W, H in the logical screen descriptor.
    """
    if len(payload) >= 24 and payload[:8] == b"\x89PNG\r\n\x1a\n":
        w = int.from_bytes(payload[16:20], "big")
        h = int.from_bytes(payload[20:24], "big")
        color_type = payload[25] if len(payload) > 25 else 6
        channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type, 3)
        return w, h, channels
    if len(payload) >= 4 and payload[:2] == b"\xff\xd8":  # JPEG SOI
        i = 2
        n = len(payload)
        while i + 9 < n:
            if payload[i] != 0xFF:
                i += 1
                continue
            marker = payload[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            seg_len = int.from_bytes(payload[i + 2 : i + 4], "big")
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h = int.from_bytes(payload[i + 5 : i + 7], "big")
                w = int.from_bytes(payload[i + 7 : i + 9], "big")
                channels = payload[i + 9]
                return w, h, channels
            i += 2 + seg_len
        return None
    if len(payload) >= 10 and payload[:6] in (b"GIF87a", b"GIF89a"):
        w = int.from_bytes(payload[6:8], "little")
        h = int.from_bytes(payload[8:10], "little")
        return w, h, 3
    return None


def decode_image(payload: bytes, fake: bool = False) -> tuple[int, int, int, float]:
    """Decode one image payload → (width, height, channels, mean_byte).

    Real payload path: header-parse PNG/JPEG/GIF dimensions from bytes (no
    dependencies); if PIL happens to be installed, fall back to a full
    decode for formats the header parser doesn't know. ``fake=True`` uses
    the deterministic md5-derived stub (cross-engine reproducible — the
    DuckDB oracle can mirror it, which real decoding cannot).
    """
    if fake:
        return _fake_decode(payload)
    meta = parse_image_header(payload)
    if meta is not None:
        w, h, c = meta
        mean_byte = round(sum(payload) / len(payload), 4) if payload else 0.0
        return w, h, c, mean_byte
    try:  # PIL-gated full decode (not installed in this container)
        import io

        from PIL import Image  # type: ignore[import-not-found]

        with Image.open(io.BytesIO(payload)) as im:
            return im.width, im.height, len(im.getbands()), 0.0
    except ImportError:
        raise NotImplementedError(
            "unrecognized image format and PIL is not installed; "
            "pass fake=True for the deterministic stub decoder"
        ) from None


def extract_image_meta(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    fake: bool = True,
) -> DataFrame:
    """(id, byte_len, sha1, width, height, channels, mean_byte) via
    mapInPandas — the canonical decode/feature-extract batch shape.

    Arrow batches stream through Python once; everything before/after stays
    JVM-side. Partitioning is inherited (narrow transform, no shuffle).
    """
    out_schema = T.StructType(
        [df.schema[id_col]] + list(IMAGE_META_SCHEMA.fields)
    )

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[payload_col]
            decoded = [decode_image(p, fake=fake) for p in payloads]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "byte_len": [len(p) for p in payloads],
                    "sha1": [hashlib.sha1(p).hexdigest() for p in payloads],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "channels": [d[2] for d in decoded],
                    "mean_byte": [d[3] for d in decoded],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(_extract, out_schema)


AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("byte_len", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("bits_per_sample", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)


def parse_wav_header(payload: bytes) -> tuple[int, int, int, int] | None:
    """(sample_rate, channels, bits_per_sample, duration_ms) from RIFF/WAVE
    header bytes — no codec dependency. Returns None for non-WAV payloads.

    Walks RIFF chunks to the ``fmt `` chunk (PCM layout) and sizes the
    ``data`` chunk for duration.
    """
    if len(payload) < 36 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    sample_rate = channels = bits = 0
    data_size = None
    i = 12
    n = len(payload)
    while i + 8 <= n:
        chunk_id = payload[i : i + 4]
        chunk_size = int.from_bytes(payload[i + 4 : i + 8], "little")
        if chunk_id == b"fmt " and i + 24 <= n:
            channels = int.from_bytes(payload[i + 10 : i + 12], "little")
            sample_rate = int.from_bytes(payload[i + 12 : i + 16], "little")
            bits = int.from_bytes(payload[i + 22 : i + 24], "little")
        elif chunk_id == b"data":
            data_size = chunk_size
        i += 8 + chunk_size + (chunk_size % 2)  # chunks are word-aligned
    if not sample_rate or not channels or not bits:
        return None
    if data_size is None:
        data_size = max(0, n - 44)
    bytes_per_second = sample_rate * channels * (bits // 8)
    duration_ms = (data_size * 1000) // bytes_per_second if bytes_per_second else 0
    return sample_rate, channels, bits, duration_ms


def extract_audio_meta(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """(id, byte_len, sample_rate, channels, bits_per_sample, duration_ms)
    via mapInPandas — same Arrow-batched narrow-transform shape as
    extract_image_meta. Non-WAV payloads yield NULL metadata columns."""
    out_schema = T.StructType([df.schema[id_col]] + list(AUDIO_META_SCHEMA.fields))

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[payload_col]
            metas = [parse_wav_header(p) for p in payloads]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "byte_len": [len(p) for p in payloads],
                    "sample_rate": [m[0] if m else None for m in metas],
                    "channels": [m[1] if m else None for m in metas],
                    "bits_per_sample": [m[2] if m else None for m in metas],
                    "duration_ms": [m[3] if m else None for m in metas],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(_extract, out_schema)


def parse_mp4_duration(payload: bytes) -> int | None:
    """Video duration in ms from ISO-BMFF (MP4/MOV) header bytes — walks
    top-level boxes to ``moov``, then its children to ``mvhd``, and divides
    the declared duration by the timescale. Pure byte parsing, same
    discipline as :func:`parse_image_header`; returns None for non-BMFF
    payloads or a zero/absent timescale."""

    def _boxes(buf: bytes, start: int, end: int):
        i = start
        while i + 8 <= end:
            size = int.from_bytes(buf[i : i + 4], "big")
            btype = buf[i + 4 : i + 8]
            header = 8
            if size == 1:  # 64-bit largesize follows the type
                if i + 16 > end:
                    return
                size = int.from_bytes(buf[i + 8 : i + 16], "big")
                header = 16
            elif size == 0:  # box extends to end of file
                size = end - i
            if size < header:
                return
            yield btype, i + header, min(i + size, end)
            i += size

    # sanity: ISO-BMFF files start with a box whose type is ftyp/moov/...
    if len(payload) < 16 or not payload[4:8].isalpha():
        return None
    for btype, body_start, body_end in _boxes(payload, 0, len(payload)):
        if btype != b"moov":
            continue
        for ctype, c_start, c_end in _boxes(payload, body_start, body_end):
            if ctype != b"mvhd":
                continue
            if c_end - c_start < 20:
                return None
            version = payload[c_start]
            if version == 1:
                # version/flags(4) ctime(8) mtime(8) timescale(4) dur(8)
                if c_end - c_start < 32:
                    return None
                timescale = int.from_bytes(
                    payload[c_start + 20 : c_start + 24], "big"
                )
                duration = int.from_bytes(
                    payload[c_start + 24 : c_start + 32], "big"
                )
            else:
                # version/flags(4) ctime(4) mtime(4) timescale(4) dur(4)
                timescale = int.from_bytes(
                    payload[c_start + 12 : c_start + 16], "big"
                )
                duration = int.from_bytes(
                    payload[c_start + 16 : c_start + 20], "big"
                )
            if not timescale:
                return None
            return (duration * 1000) // timescale
    return None


VIDEO_META_SCHEMA = T.StructType(
    [
        T.StructField("byte_len", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("is_bmff", T.BooleanType()),
    ]
)


def extract_video_meta(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """(id, byte_len, duration_ms, is_bmff) via mapInPandas — real MP4
    header durations where the payload parses as ISO-BMFF, NULL duration
    otherwise."""
    out_schema = T.StructType([df.schema[id_col]] + list(VIDEO_META_SCHEMA.fields))

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[payload_col]
            durs = [parse_mp4_duration(p) for p in payloads]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "byte_len": [len(p) for p in payloads],
                    "duration_ms": durs,
                    "is_bmff": [d is not None for d in durs],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(_extract, out_schema)


def sample_video_frames(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    every_ms: int = 1000,
    fake_duration_ms: int | None = None,
) -> DataFrame:
    """Frame-sampling plumbing: one output row per sampled frame timestamp
    per video — the explode shape a real decoder (av/ffmpeg, not in this
    container) drops into. Duration precedence: ``fake_duration_ms`` if
    given, else the real MP4 ``mvhd`` header duration when the payload
    parses as ISO-BMFF, else a deterministic md5-derived stand-in; the
    frame extraction itself is STUBBED as a payload-offset slice."""
    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("frame_ts_ms", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
        ]
    )

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, ts, idxs = [], [], []
        for pdf in batches:
            for _, row in pdf.iterrows():
                payload = row[payload_col]
                if fake_duration_ms is not None:
                    duration = fake_duration_ms
                else:
                    duration = parse_mp4_duration(payload)
                    if duration is None:
                        digest = hashlib.md5(payload).digest()
                        duration = 1000 + int.from_bytes(digest[:2], "big") % 9000
                for k, t in enumerate(range(0, duration, every_ms)):
                    ids.append(row[id_col])
                    ts.append(t)
                    idxs.append(k)
        yield pd.DataFrame({id_col: ids, "frame_ts_ms": ts, "frame_idx": idxs})

    return df.select(id_col, payload_col).mapInPandas(_sample, out_schema)

