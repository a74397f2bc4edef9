"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched pandas UDFs over
mapInPandas.

The synthetic corpus attaches REAL format byte streams (a valid PNG
signature + IHDR chunk, or a valid JPEG SOI + SOF0 segment) built entirely
JVM-side (hex/unhex/concat — no Python in the generation path), and
``decode_image_meta`` is a genuine header parser: PNG dimensions read from
the IHDR big-endian fields, JPEG dimensions found by walking the marker
segments to the first SOF. Pixel decode would need an image codec library
(PIL/opencv) and is not provided; everything up to it — schema, Arrow
batching, partition behavior, header parsing — is real and oracle-checked.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

PNG_SIG = b"\x89PNG\r\n\x1a\n"
JPEG_SOI = b"\xff\xd8"

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("format", T.StringType()),
    ]
)

# deterministic synthetic sizes (verifiable by the SQL oracle)
PNG_LEN = 8 + (4 + 4 + 13 + 4) + 32  # sig + IHDR chunk + md5-hex payload
JPEG_LEN = 2 + 19 + 32 + 2  # SOI + SOF0 segment + payload + EOI


def _be(col: Column, n_bytes: int) -> Column:
    """Integer column -> big-endian binary of n_bytes (JVM-side)."""
    return F.unhex(F.lpad(F.hex(col), n_bytes * 2, "0"))


def fake_image_col(doc_id: Column, text: Column) -> Column:
    """A REAL (header-valid) image byte stream per row: even doc_ids get a
    PNG (signature + IHDR with width/height), odd get a JPEG (SOI + SOF0).
    Dimensions derive from doc_id so metadata extraction is verifiable."""
    w = (doc_id % 64 + 1) * 10
    h = (doc_id % 48 + 1) * 10
    payload = F.encode(F.md5(text), "UTF-8")  # 32 bytes

    png = F.concat(
        F.lit(PNG_SIG),
        F.lit(b"\x00\x00\x00\x0dIHDR"),
        _be(w.cast("int"), 4),
        _be(h.cast("int"), 4),
        F.lit(b"\x08\x02\x00\x00\x00"),  # bit depth 8, truecolor
        F.lit(b"\x00\x00\x00\x00"),  # CRC placeholder
        payload,
    )
    jpeg = F.concat(
        F.lit(JPEG_SOI),
        F.lit(b"\xff\xc0\x00\x11\x08"),  # SOF0, len 17, precision 8
        _be(h.cast("int"), 2),
        _be(w.cast("int"), 2),
        F.lit(b"\x03\x01\x11\x00\x02\x11\x01\x03\x11\x01"),  # 3 components
        payload,
        F.lit(b"\xff\xd9"),
    )
    return F.when(doc_id % 2 == 0, png).otherwise(jpeg)


def attach_fake_images(docs: DataFrame) -> DataFrame:
    return docs.withColumn("image", fake_image_col(F.col("doc_id"), F.col("text")))


def _parse_png(b: bytes) -> tuple[int, int] | None:
    if len(b) < 24 or not b.startswith(PNG_SIG) or b[12:16] != b"IHDR":
        return None
    return (
        int.from_bytes(b[16:20], "big"),
        int.from_bytes(b[20:24], "big"),
    )


_SOF_MARKERS = set(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def _parse_jpeg(b: bytes) -> tuple[int, int] | None:
    """Walk JPEG marker segments to the first start-of-frame; (w, h)."""
    if len(b) < 4 or not b.startswith(JPEG_SOI):
        return None
    i = 2
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            return None
        marker = b[i + 1]
        if marker == 0xD9:  # EOI
            return None
        if marker in _SOF_MARKERS:
            if i + 9 > len(b):
                return None
            h = int.from_bytes(b[i + 5 : i + 7], "big")
            w = int.from_bytes(b[i + 7 : i + 9], "big")
            return (w, h)
        seg_len = int.from_bytes(b[i + 2 : i + 4], "big")
        i += 2 + seg_len
    return None


def decode_image_meta(df: DataFrame) -> DataFrame:
    """mapInPandas metadata extraction: Arrow batches in, Arrow batches out;
    per-batch pandas with a real header parser per binary value."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raw = pdf["image"].map(bytes)
            widths, heights, fmts = [], [], []
            for b in raw:
                wh = _parse_png(b)
                if wh is not None:
                    fmts.append("png")
                else:
                    wh = _parse_jpeg(b)
                    fmts.append("jpeg" if wh is not None else "unknown")
                widths.append(wh[0] if wh else None)
                heights.append(wh[1] if wh else None)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "width": pd.array(widths, dtype="Int32"),
                    "height": pd.array(heights, dtype="Int32"),
                    "n_bytes": raw.map(len).astype("int64"),
                    "format": fmts,
                }
            )

    return df.select("doc_id", "image").mapInPandas(fn, IMAGE_META_SCHEMA)


def image_meta_oracle_sql(table: str = "documents") -> str:
    """DuckDB twin of attach_fake_images |> decode_image_meta — the
    dimensions/format/length are deterministic functions of doc_id."""
    return f"""
SELECT doc_id,
       CAST((doc_id % 64 + 1) * 10 AS INT) AS width,
       CAST((doc_id % 48 + 1) * 10 AS INT) AS height,
       CAST(CASE WHEN doc_id % 2 = 0 THEN {PNG_LEN} ELSE {JPEG_LEN} END AS BIGINT) AS n_bytes,
       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format
FROM {table}
"""


# --------------------------------------------------------------------------
# audio: WAV (RIFF) header plumbing — same pattern as images
# --------------------------------------------------------------------------

AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("bits_per_sample", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("format", T.StringType()),
    ]
)

WAV_DATA_LEN = 32  # md5-hex payload
WAV_LEN = 44 + WAV_DATA_LEN


def _le(col: Column, n_bytes: int) -> Column:
    """Integer column -> little-endian binary of n_bytes (byte-swapped hex)."""
    h = F.lpad(F.hex(col), n_bytes * 2, "0")
    pairs = [F.substring(h, i * 2 + 1, 2) for i in range(n_bytes)]
    return F.unhex(F.concat(*reversed(pairs)))


def fake_audio_col(doc_id: Column, text: Column) -> Column:
    """A REAL canonical 44-byte PCM WAV header + payload per row; sample
    rate / channel count derive from doc_id so extraction is verifiable."""
    rate = (doc_id % 5 + 4) * 2000  # 8000..16000
    channels = (doc_id % 2 + 1).cast("int")
    bits = F.lit(16)
    block_align = channels * 2
    byte_rate = rate * block_align
    payload = F.encode(F.md5(text), "UTF-8")  # 32 bytes
    return F.concat(
        F.lit(b"RIFF"),
        _le(F.lit(36 + WAV_DATA_LEN), 4),
        F.lit(b"WAVEfmt "),
        _le(F.lit(16), 4),
        _le(F.lit(1), 2),  # PCM
        _le(channels, 2),
        _le(rate.cast("int"), 4),
        _le(byte_rate.cast("int"), 4),
        _le(block_align.cast("int"), 2),
        _le(bits, 2),
        F.lit(b"data"),
        _le(F.lit(WAV_DATA_LEN), 4),
        payload,
    )


def attach_fake_audio(docs: DataFrame) -> DataFrame:
    return docs.withColumn("audio", fake_audio_col(F.col("doc_id"), F.col("text")))


def _parse_wav(b: bytes) -> tuple[int, int, int, int] | None:
    """(sample_rate, channels, bits, n_samples) via a real RIFF chunk walk."""
    if len(b) < 12 or b[0:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    i = 12
    rate = channels = bits = block = None
    data_size = None
    while i + 8 <= len(b):
        cid = b[i : i + 4]
        size = int.from_bytes(b[i + 4 : i + 8], "little")
        if cid == b"fmt " and i + 24 <= len(b):
            channels = int.from_bytes(b[i + 10 : i + 12], "little")
            rate = int.from_bytes(b[i + 12 : i + 16], "little")
            block = int.from_bytes(b[i + 20 : i + 22], "little")
            bits = int.from_bytes(b[i + 22 : i + 24], "little")
        elif cid == b"data":
            data_size = size
        i += 8 + size + (size % 2)
    if rate is None or data_size is None or not block:
        return None
    return (rate, channels or 0, bits or 0, data_size // block)


def decode_audio_meta(df: DataFrame) -> DataFrame:
    """mapInPandas WAV metadata extraction (Arrow-batched)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raw = pdf["audio"].map(bytes)
            rates, chans, bits_, nsamp, fmts = [], [], [], [], []
            for b in raw:
                meta = _parse_wav(b)
                if meta is None:
                    rates.append(None); chans.append(None)
                    bits_.append(None); nsamp.append(None); fmts.append("unknown")
                else:
                    rates.append(meta[0]); chans.append(meta[1])
                    bits_.append(meta[2]); nsamp.append(meta[3]); fmts.append("wav")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "sample_rate": pd.array(rates, dtype="Int32"),
                    "channels": pd.array(chans, dtype="Int32"),
                    "bits_per_sample": pd.array(bits_, dtype="Int32"),
                    "n_samples": pd.array(nsamp, dtype="Int64"),
                    "format": fmts,
                }
            )

    return df.select("doc_id", "audio").mapInPandas(fn, AUDIO_META_SCHEMA)


def audio_meta_oracle_sql(table: str = "documents") -> str:
    return f"""
SELECT doc_id,
       CAST((doc_id % 5 + 4) * 2000 AS INT) AS sample_rate,
       CAST(doc_id % 2 + 1 AS INT) AS channels,
       CAST(16 AS INT) AS bits_per_sample,
       CAST({WAV_DATA_LEN} / ((doc_id % 2 + 1) * 2) AS BIGINT) AS n_samples,
       'wav' AS format
FROM {table}
"""


def frame_sample_stub(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling plumbing stub: emits (doc_id, frame_idx) rows for
    a deterministic fake frame count (n_bytes // 16), sampled every_n.
    Real ffmpeg extraction would replace the frame-count source only."""
    n_frames = (F.length(F.col("image")) / F.lit(16)).cast("int")
    return df.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))).alias("frame_idx"),
    )
