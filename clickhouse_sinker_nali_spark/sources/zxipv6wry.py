"""zxipv6wry (ZX IPv6 库) binary reader → parquet interval-table converter.

IPv6 counterpart of :mod:`.qqwry`: the reference binary-searches an 11-byte
index of the TOP 64 BITS of the IPv6 address per query
(``ipHandle/pkg/zxipv6wry/zxipv6wry.go:59-135`` — ``Find`` divides the
address by 2^64 and searches that), with NUL-terminated UTF-8 strings and
the same " CZ88.NET" filler convention.  The converter walks the index
once and emits a sorted interval table over the hi-64 key; the per-row
lookup then becomes the broadcast range join in ``enrich.enrich_ipv6``.

Binary layout (as read by the reference):

- offset  8: u32 LE ``index_count``
- offset 16: u32 LE ``index_start``
- index: 11-byte records — ``ip_hi`` (LE u64, top 64 bits of the range
  start) + ``record_offset`` (u24 LE)
- record (``getAddr``):
    - byte 0x01 → u24 absolute redirect to another record
    - byte 0x02 → u24 → country string; area data at record+4
    - else: inline country C-string; area data right after its NUL
- area data: itself 0x01/0x02-redirectable (u24 ptr, 0 ⇒ empty) or inline
- ranges are delimited by consecutive index entries; the last extends to
  2^64-1

``(country, area)`` map onto ``(loc, isp)``; ``ip_hi_end`` is EXCLUSIVE.
Values can exceed int64, so the emitted columns are ``decimal(20,0)``.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession

CZ88_FILLER = " CZ88.NET"
_MAX_HI = (1 << 64) - 1


def _u32(data: bytes, off: int) -> int:
    return struct.unpack_from("<I", data, off)[0]


def _u64(data: bytes, off: int) -> int:
    return struct.unpack_from("<Q", data, off)[0]


def _u24(data: bytes, off: int) -> int:
    return data[off] | (data[off + 1] << 8) | (data[off + 2] << 16)


def _cstr(data: bytes, off: int) -> tuple[bytes, int]:
    end = data.index(0, off)
    return data[off:end], end + 1


def _read_area(data: bytes, off: int) -> bytes:
    mode = data[off]
    if mode in (1, 2):
        ptr = _u24(data, off + 1)
        if ptr == 0:
            return b""
        return _cstr(data, ptr)[0]
    return _cstr(data, off)[0]


def _get_addr(data: bytes, off: int, _depth: int = 0) -> tuple[bytes, bytes]:
    """Decode (country, area) at a record offset (reference getAddr,
    zxipv6wry.go:92-107): 0x01 redirects the whole record; 0x02 redirects
    the country with area at record+4; otherwise inline country with area
    following."""
    if _depth > 8:
        return b"", b""
    mode = data[off]
    if mode == 1:
        return _get_addr(data, _u24(data, off + 1), _depth + 1)
    country = _read_area(data, off)
    if mode == 2:
        area_off = off + 4
    else:
        area_off = off + len(country) + 1
    return country, _read_area(data, area_off)


def _decode(raw: bytes) -> str:
    return raw.decode("utf-8", errors="replace").replace(CZ88_FILLER, "").strip()


def iter_zxipv6wry(data: bytes) -> Iterator[tuple[int, int, str, str]]:
    """Yield (ip_hi_start, ip_hi_end_exclusive, country, area) ranges from
    a zxipv6wry blob — one linear walk over the sorted index."""
    count = _u32(data, 8)
    start = _u32(data, 16)
    entries = [
        (_u64(data, start + i * 11), _u24(data, start + i * 11 + 8))
        for i in range(count)
    ]
    for i, (ip_hi, rec) in enumerate(entries):
        end = entries[i + 1][0] if i + 1 < len(entries) else _MAX_HI
        country, area = _get_addr(data, rec)
        yield ip_hi, end, _decode(country), _decode(area)


def zxipv6wry_to_dataframe(spark: SparkSession, dat_path: str) -> DataFrame:
    """Parse a zxipv6wry file into (ip_hi_start, ip_hi_end, loc, isp) for
    ``enrich.enrich_ipv6``, sorted by range start.  decimal(20,0) columns
    carry the unsigned-64 key range without overflow."""
    with open(dat_path, "rb") as f:
        data = f.read()
    rows = [
        (Decimal(s), Decimal(e), loc, isp)
        for s, e, loc, isp in iter_zxipv6wry(data)
    ]
    rows.sort(key=lambda r: r[0])
    return spark.createDataFrame(
        rows,
        "ip_hi_start decimal(20,0), ip_hi_end decimal(20,0), "
        "loc string, isp string",
    )


# --------------------------------------------------------------------------
# Fixture builder (tests): synthesize a structurally-valid zxipv6wry blob.
# --------------------------------------------------------------------------


def build_zxipv6wry_blob(
    entries: list[tuple[int, str, str]], styles: list[str] | None = None
) -> bytes:
    """Build a tiny in-memory zxipv6wry DB.

    ``entries`` are (ip_hi_start, country, area); each range ends where the
    next begins (the format has no end field).  ``styles`` cycles through
    record layouts: ``direct`` (inline strings), ``mode2`` (redirected
    country), ``mode1`` (whole-record redirect to a direct record).
    """
    styles = styles or ["direct", "mode2", "mode1"]
    body = bytearray(b"\x00" * 20)  # room for both header fields
    pool: dict[bytes, int] = {}

    def intern(s: str) -> int:
        raw = s.encode("utf-8") + b"\x00"
        if raw not in pool:
            pool[raw] = len(body)
            body.extend(raw)
        return pool[raw]

    def u24(v: int) -> bytes:
        return bytes([v & 0xFF, (v >> 8) & 0xFF, (v >> 16) & 0xFF])

    records: list[tuple[int, int]] = []
    for i, (ip_hi, country, area) in enumerate(entries):
        style = styles[i % len(styles)]
        if style == "direct":
            rec = len(body)
            body.extend((country + CZ88_FILLER).encode("utf-8") + b"\x00")
            body.extend(area.encode("utf-8") + b"\x00")
        elif style == "mode2":
            cptr = intern(country)
            rec = len(body)
            body.append(2)
            body.extend(u24(cptr))
            # area data at rec+4: redirect to an interned area string
            aptr = intern(area)
            body.append(2)
            body.extend(u24(aptr))
        else:  # mode1: redirect to a freshly-written direct record
            target = len(body)
            body.extend(country.encode("utf-8") + b"\x00")
            body.extend(area.encode("utf-8") + b"\x00")
            rec = len(body)
            body.append(1)
            body.extend(u24(target))
        records.append((ip_hi, rec))

    records.sort(key=lambda r: r[0])
    index_start = len(body)
    for ip_hi, rec in records:
        body.extend(struct.pack("<Q", ip_hi))
        body.extend(u24(rec))
    struct.pack_into("<I", body, 8, len(records))
    struct.pack_into("<I", body, 16, index_start)
    return bytes(body)
