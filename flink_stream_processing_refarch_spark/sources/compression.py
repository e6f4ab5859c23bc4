"""Transparent decompression for wire-text ingestion (SURVEY.md §2.1 S4).

The reference wraps every S3 object stream in commons-compress's
auto-detecting CompressorStreamFactory and falls back to plain text when
detection fails (kinesis-taxi-stream-producer/.../TaxiEventReader.java:
108-118); its published dataset is snappy-framed (prefix
``nyc-tlc-trips.snz``, StreamPopulator.java:104). Spark's text source
gets gzip/bzip2 transparently from the Hadoop codec registry but has no
snappy-framed codec on the classpath, so a user replaying the
reference's own dataset hits exactly that gap.

This module closes it Spark-side:

  * ``decode_snappy_framed``: the official snappy framing format
    (framing_format.txt in google/snappy — stream identifier 0xff
    "sNaPpY", compressed 0x00 / uncompressed 0x01 chunks with masked
    CRC-32C, skippable 0x80-0xfe), with chunk payloads inflated by
    pyarrow's raw snappy codec (no external snappy library needed).
  * ``maybe_decompress``: magic-byte auto-detection (gzip, bzip2,
    snappy-framed) with pass-through on unknown input — the same
    "try codecs, fall back to plain" contract as the reference.
  * ``read_text_auto``: a distributed text reader over mixed
    plain/.gz/.snz inputs — binaryFile scan + ``mapInPandas`` so each
    file decompresses ON THE EXECUTOR that read it (bytes never visit
    the driver); one file per task, which matches how any
    non-splittable compressed text must be read (Hadoop's gzip path
    has the same per-file parallelism).

Scale note: non-splittable codecs cap scan parallelism at file count —
fine for replay chunks (many small files by construction). CRC-32C
verification is optional (``verify=True``): the producer-side encoder
stamps real checksums, the hot ingest path skips the check like most
Hadoop codec implementations do by default.
"""

from __future__ import annotations

import struct

_SNAPPY_MAGIC = b"\xff\x06\x00\x00sNaPpY"
_GZIP_MAGIC = b"\x1f\x8b"
_BZIP2_MAGIC = b"BZh"
_MAX_CHUNK = 65536  # framing_format.txt: max uncompressed chunk payload

_CRC32C_POLY = 0x82F63B78
_crc_table: list[int] = []


def _crc32c(data: bytes) -> int:
    """Table-driven CRC-32C (Castagnoli) — the checksum the framing
    format masks; pure python, used on the encoder/verify path only."""
    if not _crc_table:
        for i in range(256):
            c = i
            for _ in range(8):
                c = (c >> 1) ^ _CRC32C_POLY if c & 1 else c >> 1
            _crc_table.append(c)
    crc = 0xFFFFFFFF
    for b in data:
        crc = _crc_table[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def _mask_crc(crc: int) -> int:
    """framing_format.txt §3: masked = rotr(crc, 15) + 0xa282ead8."""
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF


def _snappy_uncompressed_len(payload: bytes) -> int:
    """Raw snappy blocks open with the uncompressed length as a varint."""
    result = shift = i = 0
    while True:
        b = payload[i]
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result
        shift += 7
        i += 1


def decode_snappy_framed(data: bytes, verify: bool = False) -> bytes:
    """Decode a snappy framing-format stream (.snz / .sz) to bytes."""
    import pyarrow as pa

    codec = pa.Codec("snappy")
    out: list[bytes] = []
    pos = 0
    n = len(data)
    while pos < n:
        if n - pos < 4:
            raise ValueError("truncated snappy frame header")
        ctype = data[pos]
        (clen,) = struct.unpack("<I", data[pos + 1 : pos + 4] + b"\x00")
        pos += 4
        payload = data[pos : pos + clen]
        if len(payload) != clen:
            raise ValueError("truncated snappy frame payload")
        pos += clen
        if ctype == 0xFF:  # stream identifier
            if payload != b"sNaPpY":
                raise ValueError("bad snappy stream identifier")
        elif ctype == 0x00:  # compressed data: masked crc + snappy block
            block = payload[4:]
            try:
                raw = bytes(
                    codec.decompress(block, _snappy_uncompressed_len(block))
                )
            except (OSError, IndexError) as e:
                raise ValueError(f"corrupt snappy chunk: {e}") from e
            if verify:
                (want,) = struct.unpack("<I", payload[:4])
                if _mask_crc(_crc32c(raw)) != want:
                    raise ValueError("snappy chunk CRC mismatch")
            out.append(raw)
        elif ctype == 0x01:  # uncompressed data: masked crc + raw
            raw = payload[4:]
            if verify:
                (want,) = struct.unpack("<I", payload[:4])
                if _mask_crc(_crc32c(raw)) != want:
                    raise ValueError("snappy chunk CRC mismatch")
            out.append(raw)
        elif 0x80 <= ctype <= 0xFE:  # skippable (incl. padding 0xfe)
            continue
        else:  # 0x02-0x7f: reserved unskippable
            raise ValueError(f"unskippable snappy chunk type 0x{ctype:02x}")
    return b"".join(out)


def encode_snappy_framed(data: bytes) -> bytes:
    """Producer-side .snz encoder (real masked CRC-32C per chunk) — the
    replay tool's analogue of the dataset's compression; also the test
    fixture generator."""
    import pyarrow as pa

    codec = pa.Codec("snappy")
    out = [_SNAPPY_MAGIC]
    for i in range(0, len(data) or 1, _MAX_CHUNK):
        raw = data[i : i + _MAX_CHUNK]
        crc = struct.pack("<I", _mask_crc(_crc32c(raw)))
        comp = bytes(codec.compress(raw))
        if len(comp) < len(raw):
            payload = crc + comp
            out.append(bytes([0x00]) + struct.pack("<I", len(payload))[:3] + payload)
        else:  # incompressible chunk: store uncompressed (spec behaviour)
            payload = crc + raw
            out.append(bytes([0x01]) + struct.pack("<I", len(payload))[:3] + payload)
    return b"".join(out)


def maybe_decompress(data: bytes) -> bytes:
    """Auto-detect by magic bytes and decompress; pass unknown data
    through unchanged, and fall back to the raw bytes when a stream that
    *looked* compressed fails to inflate (truncation/corruption) — the
    full catch-and-fall-back-to-plain contract of
    TaxiEventReader.java:112-117, where CompressorStreamFactory failure
    of any kind downgrades to reading the object as plain text."""
    try:
        if data.startswith(_SNAPPY_MAGIC[:4]):
            return decode_snappy_framed(data)
        if data.startswith(_GZIP_MAGIC):
            import gzip

            return gzip.decompress(data)
        if data.startswith(_BZIP2_MAGIC):
            import bz2

            return bz2.decompress(data)
    except (ValueError, OSError, EOFError):
        return data
    return data


def _decode_lines(content) -> list[str]:
    """Decompress one file's bytes and split into text lines.

    Splits on ``'\\n'`` only (with a single trailing ``'\\r'`` stripped,
    Hadoop LineRecordReader style) — NOT ``str.splitlines()``, which
    would also break on Unicode line separators (U+2028/U+2029, \\x0b,
    \\x85, ...) that ``spark.read.text`` treats as ordinary in-line
    characters; a JSON payload legally containing one must survive
    intact or plain vs compressed replays of the same data diverge."""
    text = maybe_decompress(bytes(content)).decode("utf-8")
    return [
        ln[:-1] if ln.endswith("\r") else ln for ln in text.split("\n")
    ]


def read_text_auto(spark, path: str, glob: str | None = None):
    """Distributed line reader over mixed plain / .gz / .snz text files.

    binaryFile scan -> per-file executor-side decompress -> one output
    row per line (column ``value``, like ``spark.read.text``). Column
    pruning keeps the scan at (path, content); bytes stay on executors.
    """
    from pyspark.sql import functions as F  # noqa: N812

    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    files = reader.load(path).select("content")

    def _lines(batches):
        import pandas as pd

        for pdf in batches:
            for content in pdf["content"]:
                lines = _decode_lines(content)
                if lines:
                    yield pd.DataFrame({"value": lines})

    return files.mapInPandas(_lines, "value string").filter(
        F.length("value") > 0
    )


_BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def stream_text_auto(spark, path: str, glob: str | None = None, **source_opts):
    """Streaming twin of ``read_text_auto``: binaryFile streaming source
    + the same executor-side decompress-to-lines map, so compressed wire
    chunks replay through the micro-batch engine exactly like plain ones
    (one chunk file per micro-batch under maxFilesPerTrigger=1)."""
    reader = spark.readStream.format("binaryFile").schema(_BINARY_FILE_SCHEMA)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    files = reader.options(**source_opts).load(path).select("content")

    def _lines(batches):
        import pandas as pd

        for pdf in batches:
            for content in pdf["content"]:
                lines = _decode_lines(content)
                if lines:
                    yield pd.DataFrame({"value": lines})

    from pyspark.sql import functions as F  # noqa: N812

    return files.mapInPandas(_lines, "value string").filter(
        F.length("value") > 0
    )
