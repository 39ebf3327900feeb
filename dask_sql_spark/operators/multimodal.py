"""Media columns: image/audio/video payloads as binary columns.

Design (SURVEY.md §7 M6): media payloads are ``binary`` columns, and their
metadata comes from one Arrow-batched ``mapInPandas`` pass
(:func:`_header_meta`). Each batch runs through a header parser and is
yielded at once, so executors stream batches without holding a whole
partition; everything before and after the pass stays JVM-side, and
partitioning is inherited (narrow transform, no shuffle).

The parsers read container headers only, with no codec dependency:

- :func:`parse_image_header`: PNG ``IHDR``, JPEG ``SOFn``, GIF logical
  screen descriptor → width, height, channels;
- :func:`parse_wav_header`: RIFF/WAVE ``fmt `` and ``data`` chunks →
  sample rate, channels, bits per sample, duration;
- :func:`parse_mp4_duration`: ISO-BMFF ``moov``/``mvhd`` → duration.

A payload its parser does not recognize gives NULL metadata. Pixel and
sample decoding are out of scope: :func:`sample_video_frames` gives the
frame timestamps a decoder would seek to, from the header duration.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _header_meta(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    fields: dict[str, T.DataType],
    parse: Callable[[bytes], tuple | None],
) -> DataFrame:
    """(id, byte_len, *fields) with one ``mapInPandas`` pass: ``parse``
    maps each payload to a tuple of ``fields`` values, or None for a
    payload it does not recognize, which gives NULL fields (a NULL payload
    also gives a NULL ``byte_len``)."""
    schema = T.StructType(
        [df.schema[id_col], T.StructField("byte_len", T.LongType())]
        + [T.StructField(name, dtype) for name, dtype in fields.items()]
    )
    nulls = (None,) * len(fields)

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (None, *nulls) if p is None else (len(p), *(parse(p) or nulls))
                for p in pdf[payload_col]
            ]
            out = pd.DataFrame(rows, columns=schema.names[1:], dtype=object)
            out.insert(0, id_col, pdf[id_col].to_numpy())
            yield out

    return df.select(id_col, payload_col).mapInPandas(_parse, schema)


def parse_image_header(payload: bytes) -> tuple[int, int, int] | None:
    """(width, height, channels) from PNG / JPEG / GIF header bytes — no
    codec dependency, pure byte parsing. Returns None for unknown formats.

    PNG: the ``IHDR`` chunk at offset 8 (big-endian W, H; color type →
    channels). JPEG: walk markers, skipping ``0xFF`` fill bytes, to the
    first SOFn frame header (C0-C3, C5-C7, C9-CB, CD-CF). GIF87a/89a:
    little-endian W, H in the logical screen descriptor.
    """
    if len(payload) >= 26 and payload[:8] == b"\x89PNG\r\n\x1a\n":
        if payload[12:16] != b"IHDR":
            return None
        w = int.from_bytes(payload[16:20], "big")
        h = int.from_bytes(payload[20:24], "big")
        channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(payload[25], 3)
        return w, h, channels
    if len(payload) >= 4 and payload[:2] == b"\xff\xd8":  # JPEG SOI
        i = 2
        n = len(payload)
        while i + 9 < n:
            if payload[i] != 0xFF:
                i += 1
                continue
            marker = payload[i + 1]
            if marker == 0xFF:  # fill byte: the marker follows the run
                i += 1
                continue
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


def extract_image_meta(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """(id, byte_len, width, height, channels) from PNG/JPEG/GIF headers;
    other payloads give NULL metadata."""
    fields = {name: T.IntegerType() for name in ("width", "height", "channels")}
    return _header_meta(df, payload_col, id_col, fields, parse_image_header)


def parse_wav_header(payload: bytes) -> tuple[int, int, int, int] | None:
    """(sample_rate, channels, bits_per_sample, duration_ms) from RIFF/WAVE
    header bytes — no codec dependency. Returns None for non-WAV payloads.

    Walks RIFF chunks to the ``fmt `` chunk and sizes the ``data`` chunk
    for duration, at the ``fmt `` chunk's average byte rate (so packed
    12-bit PCM and compressed formats such as IMA-ADPCM time correctly).
    """
    if len(payload) < 36 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    sample_rate = channels = bits = byte_rate = 0
    data_size = None
    i = 12
    n = len(payload)
    while i + 8 <= n:
        chunk_id = payload[i : i + 4]
        chunk_size = int.from_bytes(payload[i + 4 : i + 8], "little")
        if chunk_id == b"fmt " and i + 24 <= n:
            channels = int.from_bytes(payload[i + 10 : i + 12], "little")
            sample_rate = int.from_bytes(payload[i + 12 : i + 16], "little")
            byte_rate = int.from_bytes(payload[i + 16 : i + 20], "little")
            bits = int.from_bytes(payload[i + 22 : i + 24], "little")
        elif chunk_id == b"data":
            data_size = chunk_size
        i += 8 + chunk_size + (chunk_size % 2)  # chunks are word-aligned
    if not sample_rate or not channels or not bits:
        return None
    if data_size is None:
        data_size = max(0, n - 44)
    duration_ms = (data_size * 1000) // byte_rate if byte_rate else 0
    return sample_rate, channels, bits, duration_ms


def extract_audio_meta(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """(id, byte_len, sample_rate, channels, bits_per_sample, duration_ms)
    from RIFF/WAVE headers; other payloads give NULL metadata."""
    fields = {
        "sample_rate": T.IntegerType(),
        "channels": T.IntegerType(),
        "bits_per_sample": T.IntegerType(),
        "duration_ms": T.LongType(),
    }
    return _header_meta(df, payload_col, id_col, fields, parse_wav_header)


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


def extract_video_meta(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """(id, byte_len, duration_ms) from ISO-BMFF ``mvhd`` headers; other
    payloads give a NULL duration."""

    def _parse(payload: bytes) -> tuple[int] | None:
        duration = parse_mp4_duration(payload)
        return None if duration is None else (duration,)

    fields = {"duration_ms": T.LongType()}
    return _header_meta(df, payload_col, id_col, fields, _parse)


def sample_video_frames(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    every_ms: int = 1000,
) -> DataFrame:
    """(id, frame_ts_ms, frame_idx): one row per frame timestamp, every
    ``every_ms`` from 0 up to the MP4 header duration — the seek points a
    decoder reads frames at. The timestamps are a JVM-side
    ``posexplode(sequence(...))`` over :func:`extract_video_meta`; payloads
    that do not parse, or declare a zero duration, give no rows."""
    if not isinstance(every_ms, int) or every_ms < 1:
        raise ValueError(f"every_ms must be an integer >= 1, got {every_ms!r}")
    stamps = F.sequence(
        F.lit(0).cast("long"), F.col("duration_ms") - 1, F.lit(every_ms).cast("long")
    )
    return (
        extract_video_meta(df, payload_col, id_col)
        .where(F.col("duration_ms") > 0)
        .select(id_col, F.posexplode(stamps).alias("frame_idx", "frame_ts_ms"))
        .select(id_col, "frame_ts_ms", "frame_idx")
    )
