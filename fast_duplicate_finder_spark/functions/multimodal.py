"""Multimodal (binary-payload) column plumbing.

Training-data pipelines carry images/audio/video as opaque ``binary``
columns with typed metadata. The reference engine has no multimodal
capability (files are hashed as byte streams, backend/pkg/fastdupefinder/
helpers/calculate_hash.go); this module supplies the Spark-side plumbing a
100 TB multimodal corpus needs:

* schema convention: ``(id, payload binary, media_type string)`` plus a
  typed metadata struct produced here;
* Arrow-batched ``mapInPandas`` kernels (binary columns cross the Arrow
  boundary as ``bytes``) — never per-row Python UDFs;
* the default decode step (``decode_media``) REALLY parses PNG (IHDR) and
  JPEG (SOF frame header) container bytes in pure Python — no image
  library needed for dimensions; payloads in neither container fall back
  to ``decode_stub``'s deterministic fake fields (the documented
  unknown-codec fallback).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

META_SCHEMA = (
    "id bigint, media_type string, n_bytes bigint, width int, height int, "
    "n_frames int, checksum bigint"
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def parse_png_header(payload: bytes) -> tuple[int, int] | None:
    """(width, height) from a PNG's IHDR chunk, or None if ``payload`` is
    not a PNG. The spec (W3C PNG, 11.2.2) fixes IHDR as the FIRST chunk:
    8-byte signature, 4-byte length (13), 4-byte type ``IHDR``, then
    big-endian uint32 width and height — a 24-byte prefix read, no CRC
    verification (dimensions, not integrity, are the contract here)."""
    if len(payload) < 24 or not payload.startswith(_PNG_SIG):
        return None
    if payload[12:16] != b"IHDR":
        return None
    w = int.from_bytes(payload[16:20], "big")
    h = int.from_bytes(payload[20:24], "big")
    # META_SCHEMA pins width/height as 32-bit signed ints; the spec caps
    # dimensions at 2^31-1 (11.2.2), so a larger uint32 here is a corrupt
    # or hostile header — treat as not-a-PNG rather than overflow the
    # Arrow int cast (the kernel's raises-nothing contract).
    if not (0 < w < 2**31 and 0 < h < 2**31):
        return None
    return (w, h)


def parse_jpeg_header(payload: bytes) -> tuple[int, int] | None:
    """(width, height) from a JPEG's first SOF frame header, or None.

    Walks the marker segments from SOI (ITU-T T.81 §B): each marker is
    0xFF + code with optional 0xFF fill bytes; standalone markers (TEM,
    RST0-7) have no length field; every other segment carries a big-endian
    u16 length including itself. SOFn markers are 0xC0-0xCF minus DHT
    (0xC4), JPG (0xC8) and DAC (0xCC); their payload is precision(1),
    height(2), width(2). Stops (None) at SOS or EOI without a SOF, or on
    any malformed structure — the caller treats None as unknown codec."""
    n = len(payload)
    if n < 4 or payload[0:2] != b"\xff\xd8":
        return None
    i = 2
    while i + 1 < n:
        if payload[i] != 0xFF:
            return None
        marker = payload[i + 1]
        i += 2
        while marker == 0xFF and i < n:  # fill bytes before the code
            marker = payload[i]
            i += 1
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # TEM / RSTn
            continue
        if marker in (0xD9, 0xDA):  # EOI / SOS: scan data, no SOF seen
            return None
        if i + 2 > n:
            return None
        seglen = int.from_bytes(payload[i : i + 2], "big")
        if seglen < 2:
            return None
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if i + 7 > n:
                return None
            h = int.from_bytes(payload[i + 3 : i + 5], "big")
            w = int.from_bytes(payload[i + 5 : i + 7], "big")
            return (w, h) if w and h else None
        i += seglen
    return None


def decode_stub(payload: bytes) -> dict:
    """Deterministic fake decode — the documented fallback for payloads in
    no recognized container (decode_media tries the real header parsers
    first). Tests and the DuckDB oracle pin these exact arithmetic values
    via octet_length + byte sums.

    Raises nothing here; a production decoder should raise and let the
    kernel route the row to the bad-records side output.
    """
    n = len(payload)
    checksum = sum(payload[:64]) if n else 0  # header checksum analogue
    return {
        "n_bytes": n,
        "width": n % 640 + 1,
        "height": (n * 7) % 480 + 1,
        "n_frames": n % 16 + 1,
        "checksum": checksum,
    }


def decode_media(payload: bytes) -> dict:
    """Default decoder: REAL dimensions from PNG/JPEG container bytes
    (parse_png_header / parse_jpeg_header, n_frames = 1 for stills);
    unknown containers fall back to decode_stub's deterministic fields.
    n_bytes and the 64-byte header checksum are computed the same way in
    both regimes."""
    dims = parse_png_header(payload) or parse_jpeg_header(payload)
    if dims is None:
        return decode_stub(payload)
    n = len(payload)
    return {
        "n_bytes": n,
        "width": dims[0],
        "height": dims[1],
        "n_frames": 1,
        "checksum": sum(payload[:64]) if n else 0,
    }


# PNG container synthesis, JVM-side: signature + IHDR(len=13) prefix,
# 9-byte fixed tail (bit depth 8, color type 6, compression/filter/
# interlace 0, CRC zeroed — the parser reads dimensions, not CRCs).
_PNG_PREFIX = bytes.fromhex("89504E470D0A1A0A0000000D49484452")
_PNG_TAIL = bytes.fromhex("080600000000000000")
# sum of every fixed header byte (prefix + tail): the oracle reconstructs
# the 64-byte checksum as this constant + the width/height byte sums +
# the first 31 body bytes (33-byte header fills the rest of the window)
PNG_HEADER_BYTES = len(_PNG_PREFIX) + 8 + len(_PNG_TAIL)  # 33
PNG_HEADER_FIXED_SUM = sum(_PNG_PREFIX) + sum(_PNG_TAIL)


def _be32(col: Column) -> Column:
    """Big-endian 4-byte binary of a non-negative integral column —
    hex + left-pad + unhex, all JVM-side."""
    return F.unhex(F.lpad(F.hex(col), 8, "0"))


def png_payload_col(width: Column, height: Column, body: Column) -> Column:
    """A real parseable PNG container as a binary COLUMN: signature + IHDR
    with the given dimensions, ``body`` bytes riding after the header (a
    valid-for-our-parser fixture generator, used to plant binary payloads
    whose parsed dimensions an oracle can predict arithmetically). Entirely
    built from JVM expressions — no Python sees the bytes."""
    return F.concat(
        F.lit(_PNG_PREFIX),
        _be32(width),
        _be32(height),
        F.lit(_PNG_TAIL),
        body,
    )


def extract_media_meta(df: DataFrame) -> DataFrame:
    """``mapInPandas`` metadata extraction (decode_media) over the
    ``(id, payload, media_type)`` convention.

    Input partitioning is preserved (narrow transformation — no shuffle);
    at 100 TB the payload bytes never move between executors.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [
                decode_media(p if p is not None else b"")
                for p in pdf["payload"]
            ]
            out = pd.DataFrame(
                {
                    "id": pdf["id"].astype("int64"),
                    "media_type": pdf["media_type"],
                    "n_bytes": [m["n_bytes"] for m in metas],
                    "width": [m["width"] for m in metas],
                    "height": [m["height"] for m in metas],
                    "n_frames": [m["n_frames"] for m in metas],
                    "checksum": [m["checksum"] for m in metas],
                }
            )
            yield out

    return df.mapInPandas(kernel, META_SCHEMA)


def frame_sample_indices(
    meta: DataFrame, every_nth: int = 4
) -> DataFrame:
    """Frame-sampling plan: one row per (id, frame_idx) to decode — the
    shuffle-free JVM-side explode that precedes a real frame extractor."""
    return meta.select(
        "id",
        F.explode(
            F.sequence(
                F.lit(0), F.col("n_frames") - 1, F.lit(every_nth)
            )
        ).alias("frame_idx"),
    )


def payload_dedup_keys(df: DataFrame) -> DataFrame:
    """Exact binary dedup keys: (id, n_bytes, xxhash64(payload)) — the
    multimodal analogue of the reference's size->hash cascade, entirely
    JVM-side (no Python sees the bytes)."""
    return df.select(
        "id",
        F.length("payload").cast("long").alias("n_bytes"),
        F.xxhash64("payload").alias("payload_hash"),
    )
