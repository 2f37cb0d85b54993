"""MaxMind GeoLite2 ``.mmdb`` reader → parquet interval-table converter.

The reference wraps geoip2-golang for per-query City lookups
(``ipHandle/pkg/geoip/geoip.go:39-74``), preferring zh-CN names and
falling back to another language when asked.  The MaxMind DB format is
public (maxmind.github.io/MaxMind-DB): a binary search tree over address
bits + a type-tagged data section + trailing metadata.

Layout handled here:

- **search tree**: ``node_count`` nodes of ``2 × record_size`` bits
  (record_size 24/28/32).  A record value ``< node_count`` is a child
  node; ``== node_count`` is a miss; ``> node_count`` points at
  ``data_section_start + (value - node_count - 16)``.
- **data section**: control-byte encoding — top 3 bits type (0 ⇒ extended:
  real type = next byte + 7), bottom 5 bits size (29/30/31 ⇒ 1/2/3 extra
  size bytes).  Types decoded: pointer, utf8, double, bytes, uint16/32/64,
  int32, map, array, bool, float.
- **metadata**: a map after the ``\\xAB\\xCD\\xEFMaxMind.com`` marker
  (searched from the end), same encoding.
- IPv6-tree databases (GeoLite2's shipping form) store IPv4 under the
  96-zero-bit prefix; IPv4-only trees are depth-32 from the root.

The converter DFS-walks the IPv4 subtree once and emits
``(ip_start, ip_end_exclusive, loc, isp)``, with ``loc`` =
"country city" zh-CN-preferred (the reference Result.String,
``geoip.go:62-74``) — feeding the same broadcast interval join as every
other geo source.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

METADATA_MARKER = b"\xab\xcd\xefMaxMind.com"
_PTR_BASES = (0, 2048, 526336, 0)


class MmdbDecoder:
    """Type-tagged value decoder for the data + metadata sections."""

    def __init__(self, data: bytes, base: int = 0):
        self.data = data
        self.base = base  # data-section start (pointer targets are relative)

    def decode(self, off: int):
        """Decode the value at absolute offset ``off`` → (value, next_off)."""
        ctrl = self.data[off]
        typ = ctrl >> 5
        off += 1
        if typ == 0:  # extended
            typ = self.data[off] + 7
            off += 1
        size = ctrl & 0x1F
        if typ == 1:  # pointer: ssvvv size bits
            psize = (ctrl >> 3) & 0x3
            vvv = ctrl & 0x7
            raw = self.data[off : off + psize + 1]
            value = vvv if psize < 3 else 0
            for b in raw:
                value = (value << 8) | b
            ptr = value + _PTR_BASES[psize]
            target, _ = self.decode(self.base + ptr)
            return target, off + psize + 1
        if size == 29:
            size = 29 + self.data[off]
            off += 1
        elif size == 30:
            size = 285 + int.from_bytes(self.data[off : off + 2], "big")
            off += 2
        elif size == 31:
            size = 65821 + int.from_bytes(self.data[off : off + 3], "big")
            off += 3
        if typ == 2:  # utf8
            return self.data[off : off + size].decode("utf-8"), off + size
        if typ == 3:  # double
            return struct.unpack_from(">d", self.data, off)[0], off + 8
        if typ == 4:  # bytes
            return self.data[off : off + size], off + size
        if typ in (5, 6, 9, 10):  # uint16/32/64/128
            return int.from_bytes(self.data[off : off + size], "big"), off + size
        if typ == 8:  # int32
            return int.from_bytes(
                self.data[off : off + size], "big", signed=True
            ), off + size
        if typ == 7:  # map
            out = {}
            for _ in range(size):
                key, off = self.decode(off)
                val, off = self.decode(off)
                out[key] = val
            return out, off
        if typ == 11:  # array
            items = []
            for _ in range(size):
                val, off = self.decode(off)
                items.append(val)
            return items, off
        if typ == 14:  # bool (size IS the value)
            return bool(size), off
        if typ == 15:  # float
            return struct.unpack_from(">f", self.data, off)[0], off + 4
        raise ValueError(f"unsupported mmdb type {typ}")


class MmdbReader:
    def __init__(self, data: bytes):
        meta_at = data.rindex(METADATA_MARKER) + len(METADATA_MARKER)
        self.meta, _ = MmdbDecoder(data).decode(meta_at)
        self.node_count: int = self.meta["node_count"]
        self.record_size: int = self.meta["record_size"]
        self.ip_version: int = self.meta.get("ip_version", 6)
        self.tree_size = self.node_count * self.record_size // 4
        self.data = data
        self.decoder = MmdbDecoder(data, base=self.tree_size + 16)

    def read_record(self, node: int, bit: int) -> int:
        if self.record_size == 24:
            off = node * 6 + bit * 3
            return int.from_bytes(self.data[off : off + 3], "big")
        if self.record_size == 28:
            off = node * 7
            mid = self.data[off + 3]
            if bit == 0:
                return (mid >> 4) << 24 | int.from_bytes(
                    self.data[off : off + 3], "big"
                )
            return (mid & 0x0F) << 24 | int.from_bytes(
                self.data[off + 4 : off + 7], "big"
            )
        if self.record_size == 32:
            off = node * 8 + bit * 4
            return int.from_bytes(self.data[off : off + 4], "big")
        raise ValueError(f"unsupported record_size {self.record_size}")

    def resolve(self, value: int):
        off = self.tree_size + 16 + (value - self.node_count - 16)
        return self.decoder.decode(off)[0]

    def v4_root(self) -> int:
        """IPv4 subtree start: 96 zero bits from the root in an IPv6 tree,
        the root itself in an IPv4 tree."""
        node = 0
        if self.ip_version == 6:
            for _ in range(96):
                if node >= self.node_count:
                    break
                node = self.read_record(node, 0)
        return node


def iter_mmdb_v4(data: bytes) -> Iterator[tuple[int, int, dict]]:
    """Yield (ip_start, ip_end_exclusive, record_dict) for every populated
    IPv4 range — iterative DFS, each tree node visited once."""
    reader = MmdbReader(data)
    stack: list[tuple[int, int, int]] = [(reader.v4_root(), 0, 0)]
    while stack:
        node, prefix, depth = stack.pop()
        if node == reader.node_count:
            continue  # miss
        if node > reader.node_count:
            span = 1 << (32 - depth)
            start = prefix << (32 - depth)
            yield start, start + span, reader.resolve(node)
            continue
        if depth == 32:
            continue
        stack.append((reader.read_record(node, 1), (prefix << 1) | 1, depth + 1))
        stack.append((reader.read_record(node, 0), prefix << 1, depth + 1))


def _name(section: dict | None, lang: str = "zh-CN") -> str:
    """zh-CN-preferred name with en fallback (reference geoip.go:49-54)."""
    names = (section or {}).get("names") or {}
    return names.get(lang) or names.get("en") or ""


def geolite2_to_dataframe(spark: SparkSession, mmdb_path: str) -> DataFrame:
    """Parse a GeoLite2-City mmdb into (ip_start, ip_end, loc, isp) for
    ``enrich_ips``: ``loc`` = "country city" (city omitted when absent,
    the reference Result.String); City databases carry no ISP → ''."""
    with open(mmdb_path, "rb") as f:
        data = f.read()
    rows = []
    for start, end, record in iter_mmdb_v4(data):
        country = _name(record.get("country"))
        city = _name(record.get("city"))
        loc = f"{country} {city}".strip()
        rows.append((start, end, loc, ""))
    rows.sort(key=lambda r: r[0])
    return spark.createDataFrame(
        rows, "ip_start bigint, ip_end bigint, loc string, isp string"
    )


# --------------------------------------------------------------------------
# Fixture builder (tests): synthesize a structurally-valid mmdb blob.
# --------------------------------------------------------------------------


def _encode_value(v) -> bytes:
    """Minimal mmdb value encoder (strings, maps, uint32) for fixtures."""
    if isinstance(v, str):
        raw = v.encode("utf-8")
        assert len(raw) < 29
        return bytes([(2 << 5) | len(raw)]) + raw
    if isinstance(v, int):
        raw = v.to_bytes((v.bit_length() + 7) // 8 or 1, "big")
        return bytes([(6 << 5) | len(raw)]) + raw
    if isinstance(v, dict):
        assert len(v) < 29
        out = bytearray([(7 << 5) | len(v)])
        for key, val in v.items():
            out.extend(_encode_value(key))
            out.extend(_encode_value(val))
        return bytes(out)
    raise TypeError(type(v))


def build_mmdb_blob(
    entries: list[tuple[str, dict]], ip_version: int = 6, record_size: int = 24
) -> bytes:
    """Build a tiny GeoLite2-style mmdb from (cidr, record_dict) entries.

    IPv6-form trees (the GeoLite2 shipping shape) place IPv4 CIDRs under
    96 zero bits; ``ip_version=4`` builds a depth-32 tree.
    """
    import ipaddress

    nodes: list[list] = [[None, None]]
    data_area = bytearray()
    offsets: dict[bytes, int] = {}

    def add_record(d: dict) -> int:
        raw = _encode_value(d)
        if raw not in offsets:
            offsets[raw] = len(data_area)
            data_area.extend(raw)
        return offsets[raw]

    def insert(bits: list[int], rec_off: int) -> None:
        node = 0
        for bit in bits[:-1]:
            child = nodes[node][bit]
            if child is None:
                nodes.append([None, None])
                child = len(nodes) - 1
                nodes[node][bit] = child
            node = child
        nodes[node][bits[-1]] = ("leaf", rec_off)

    for cidr, record in entries:
        if ":" in cidr:  # raw IPv6 CIDR (requires ip_version=6)
            net6 = ipaddress.IPv6Network(cidr)
            addr6 = int(net6.network_address)
            bits = [(addr6 >> (127 - i)) & 1 for i in range(net6.prefixlen)]
        else:
            net = ipaddress.IPv4Network(cidr)
            bits = [0] * 96 if ip_version == 6 else []
            addr = int(net.network_address)
            bits += [(addr >> (31 - i)) & 1 for i in range(net.prefixlen)]
        insert(bits, add_record(record))

    node_count = len(nodes)
    assert record_size in (24, 28)  # the forms real GeoLite2 ships

    def record_value(child) -> int:
        if child is None:
            return node_count
        if isinstance(child, tuple):
            # resolve: data_off = value - node_count - 16 → value =
            # data_off + node_count + 16 (strictly > node_count)
            return child[1] + node_count + 16
        return child

    tree = bytearray()
    for left, right in nodes:
        lv, rv = record_value(left), record_value(right)
        if record_size == 24:
            tree.extend(lv.to_bytes(3, "big"))
            tree.extend(rv.to_bytes(3, "big"))
        else:  # 28-bit: 3 low bytes of L, nibble byte (Lhi<<4|Rhi), 3 of R
            tree.extend((lv & 0xFFFFFF).to_bytes(3, "big"))
            tree.append(((lv >> 24) & 0xF) << 4 | ((rv >> 24) & 0xF))
            tree.extend((rv & 0xFFFFFF).to_bytes(3, "big"))

    meta = {
        "binary_format_major_version": 2,
        "binary_format_minor_version": 0,
        "node_count": node_count,
        "record_size": record_size,
        "ip_version": ip_version,
        "database_type": "GeoLite2-City",
    }
    return (
        bytes(tree)
        + b"\x00" * 16
        + bytes(data_area)
        + METADATA_MARKER
        + _encode_value(meta)
    )


# --------------------------------------------------------------------------
# IPv6 subtree enumeration (hi-64 granularity)
# --------------------------------------------------------------------------


def iter_mmdb_v6_hi64(data: bytes) -> Iterator[tuple[int, int, dict]]:
    """Yield (ip_hi_start, ip_hi_end_exclusive, record) over the TOP 64
    BITS of the IPv6 space — the key granularity ``enrich.enrich_ipv6``
    joins on (decimal(20,0); a full 128-bit key would exceed Spark's
    decimal(38)).

    Real GeoLite2 v6 blocks are allocated at /64 or coarser almost
    universally, so a leaf at depth d ≤ 64 becomes the exact interval
    [prefix << (64-d), (prefix+1) << (64-d)).  For the rare subtree that
    extends BELOW bit 64, the whole hi-64 unit takes its leftmost leaf's
    record (first-wins within the unit) — the same one-unit resolution any
    hi-64-keyed index has.  The IPv4-mapped spaces live under hi64 unit 0
    and are subject to the same rule; use the v4 iterator for v4 data.
    """
    reader = MmdbReader(data)
    if reader.ip_version != 6:
        return
    stack: list[tuple[int, int, int]] = [(0, 0, 0)]
    while stack:
        node, prefix, depth = stack.pop()
        if node == reader.node_count:
            continue
        if node > reader.node_count:
            span = 1 << (64 - depth)
            start = prefix << (64 - depth)
            yield start, start + span, reader.resolve(node)
            continue
        if depth == 64:
            # subtree deeper than the key granularity: leftmost leaf wins
            leaf = node
            while leaf < reader.node_count:
                nxt = reader.read_record(leaf, 0)
                leaf = nxt if nxt != reader.node_count else reader.read_record(leaf, 1)
            if leaf > reader.node_count:
                yield prefix, prefix + 1, reader.resolve(leaf)
            continue
        stack.append((reader.read_record(node, 1), (prefix << 1) | 1, depth + 1))
        stack.append((reader.read_record(node, 0), prefix << 1, depth + 1))


def geolite2_v6_to_dataframe(spark: SparkSession, mmdb_path: str) -> DataFrame:
    """GeoLite2 IPv6 ranges in the zxipv6wry interval shape
    (ip_hi_start, ip_hi_end as decimal(20,0), loc, isp) for
    ``enrich.enrich_ipv6`` — the non-zh-CN IPv6 path of the db registry."""
    from decimal import Decimal

    with open(mmdb_path, "rb") as f:
        data = f.read()
    rows = []
    for start, end, record in iter_mmdb_v6_hi64(data):
        country = _name(record.get("country"))
        city = _name(record.get("city"))
        rows.append(
            (Decimal(start), Decimal(end), f"{country} {city}".strip(), "")
        )
    rows.sort(key=lambda r: r[0])
    return spark.createDataFrame(
        rows,
        "ip_hi_start decimal(20,0), ip_hi_end decimal(20,0), "
        "loc string, isp string",
    )
