"""Multimodal-column operators: image/audio/video payloads as opaque
``binary`` columns with typed metadata, processed by Arrow-batched
``mapInPandas``.

The codec is REAL (round 4 — no imaging libraries needed): PNG IHDR and
JPEG SOF0 headers are plain big-endian bytes, so ``parse_image_dims``
recovers format/width/height from the binary column with a genuine
segment walk (JPEG markers are skipped by their length fields until a
SOF frame appears — not a fixed offset).  ``image_payloads`` synthesizes
valid headers deterministically from ``doc_id`` entirely in Spark SQL
(hex-string concat -> ``unhex``), and the DuckDB oracle parses the SAME
big-endian byte layout back out of the same hex, so the decode is
value-checked cross-engine (text_mm_meta).

Full pixel decode (beyond header metadata) still requires an imaging
library and is out of scope in this container; the UDF shape to extend is
``_meta_batches``.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

META_SCHEMA = ("doc_id bigint, n_bytes bigint, digest string, "
               "format string, width int, height int")

PNG_SIG = b"\x89PNG\r\n\x1a\n"
# markers with no length field (standalone) inside a JPEG stream
_JPEG_STANDALONE = {0xD8, 0xD9, 0x01} | set(range(0xD0, 0xD8))
_JPEG_SOF = {0xC0, 0xC1, 0xC2, 0xC3}        # baseline/extended/progressive


def parse_image_dims(payload: bytes) -> tuple[str, int, int] | None:
    """(format, width, height) parsed from raw image bytes, or None.

    PNG: 8-byte signature, then the IHDR chunk (4-byte length + 'IHDR' +
    big-endian width/height).  JPEG: SOI then a marker-segment walk —
    every non-standalone segment carries a 2-byte big-endian length, so
    APP0/COM/quant tables are skipped until the first SOF frame, whose
    payload is precision(1) + height(2BE) + width(2BE)."""
    if payload[:8] == PNG_SIG:
        if payload[12:16] == b"IHDR" and len(payload) >= 24:
            w = int.from_bytes(payload[16:20], "big")
            h = int.from_bytes(payload[20:24], "big")
            return ("png", w, h)
        return None
    if payload[:2] == b"\xff\xd8":
        i = 2
        n = len(payload)
        while i + 2 <= n:
            if payload[i] != 0xFF:
                return None
            marker = payload[i + 1]
            if marker in _JPEG_STANDALONE:
                i += 2
                continue
            if i + 4 > n:
                return None
            seglen = int.from_bytes(payload[i + 2:i + 4], "big")
            if marker in _JPEG_SOF:
                if i + 9 > n:
                    return None
                h = int.from_bytes(payload[i + 5:i + 7], "big")
                w = int.from_bytes(payload[i + 7:i + 9], "big")
                return ("jpeg", w, h)
            i += 2 + seglen
        return None
    return None


def _meta_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
            b = bytes(b)
            dims = parse_image_dims(b)
            fmt, w, h = dims if dims else (None, None, None)
            # digest over the uppercase hex form: DuckDB's md5() takes
            # VARCHAR only, so both engines hash the same hex string
            digest = hashlib.md5(b.hex().upper().encode()).hexdigest()
            rows.append((int(doc_id), len(b), digest, fmt, w, h))
        yield pd.DataFrame(rows, columns=["doc_id", "n_bytes", "digest",
                                          "format", "width", "height"])


def _be_hex(col: Column, nbytes: int) -> Column:
    """Big-endian fixed-width hex of a non-negative integer column."""
    return F.lpad(F.hex(col.cast("bigint")), 2 * nbytes, "0")


# JPEG skeleton pieces (uppercase hex): SOI + a real APP0/JFIF segment the
# parser must walk over, then SOF0 with 3 components, filler, EOI.
_JPEG_PRE_SOF = "FFD8" + "FFE00010" + "4A46494600010100000100010000"
_SOF0_HEAD = "FFC0" + "0011" + "08"           # marker, len 17, precision 8
_SOF0_COMPS = "03" + "011100" + "021101" + "031101"
_PNG_PRE_DIMS = "89504E470D0A1A0A" + "0000000D" + "49484452"
_PNG_POST_DIMS = "0806000000" + "DEADBEEF"    # depth/color/... + placeholder CRC


def payload_hex_expr(doc: Column, text: Column) -> Column:
    """Uppercase hex of a deterministic image payload: even doc_ids get a
    PNG (width = doc_id % 1920 + 1, height = doc_id*7 % 1080 + 1), odd get
    a JPEG with the same dimensions; the utf-8 text bytes ride along as
    filler.  Pure Catalyst — the DuckDB oracle emits the same string."""
    w = (doc % 1920 + 1).cast("bigint")
    h = ((doc * 7) % 1080 + 1).cast("bigint")
    png = F.concat(F.lit(_PNG_PRE_DIMS), _be_hex(w, 4), _be_hex(h, 4),
                   F.lit(_PNG_POST_DIMS), F.hex(F.encode(text, "UTF-8")))
    jpg = F.concat(F.lit(_JPEG_PRE_SOF), F.lit(_SOF0_HEAD),
                   _be_hex(h, 2), _be_hex(w, 2), F.lit(_SOF0_COMPS),
                   F.hex(F.encode(text, "UTF-8")), F.lit("FFD9"))
    return F.when(doc % 2 == 0, png).otherwise(jpg)


def image_payloads(df: DataFrame) -> DataFrame:
    """(doc_id, text) -> multimodal table (doc_id, payload binary) with
    REAL image headers."""
    doc = F.col("doc_id").cast("bigint")
    return df.select(
        doc.alias("doc_id"),
        F.unhex(payload_hex_expr(doc, F.col("text"))).alias("payload"))


def decode_meta(payloads: DataFrame) -> DataFrame:
    """binary payload -> typed metadata via Arrow-batched mapInPandas."""
    return payloads.mapInPandas(_meta_batches, schema=META_SCHEMA)
