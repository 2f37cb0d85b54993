"""ipip.net ``.ipdb`` binary-trie reader → parquet interval-table converter.

The reference wraps the ipdb-go client for per-query lookups
(``ipHandle/pkg/ipip/ipipfree.go:50-63``); the format itself is public
(github.com/ipipdotnet/ipdb-go): a big-endian binary prefix trie.

Layout:

- 4 bytes BE: metadata JSON length
- metadata JSON: ``node_count``, ``fields`` (per-record tab-separated
  columns), ``languages`` (name → field offset), ``ip_version`` bitmask
- node area: ``node_count`` × 8 bytes — two BE u32 children
  (index 0 = bit 0, index 1 = bit 1)
- data area: records addressed by leaf values ``v > node_count`` at
  ``v - node_count + node_count*8`` (relative to the node area):
  BE u16 length + UTF-8 payload, fields joined by ``\\t``
- ``v == node_count`` marks a miss
- IPv4 lookups first walk the ``::ffff:0:0/96`` path (80 zero bits, 16
  one bits) to the v4 subtree root, then the 32 address bits

The converter DFS-walks the v4 subtree once, emitting every populated
CIDR as an (ip_start, ip_end_exclusive, fields...) row — the broadcast
interval join in ``enrich.enrich_ips`` replaces the per-row trie search.
"""

from __future__ import annotations

import json
import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession


class IpdbTrie:
    """Minimal ipdb parser: metadata + node reads + record resolve."""

    def __init__(self, data: bytes):
        meta_len = struct.unpack_from(">I", data, 0)[0]
        self.meta = json.loads(data[4 : 4 + meta_len].decode("utf-8"))
        self.node_count: int = self.meta["node_count"]
        self.fields: list[str] = self.meta.get("fields", [])
        self.region = data[4 + meta_len :]  # node area + data area

    def read_node(self, node: int, bit: int) -> int:
        return struct.unpack_from(">I", self.region, node * 8 + bit * 4)[0]

    def resolve(self, leaf: int) -> list[str]:
        off = leaf - self.node_count + self.node_count * 8
        size = struct.unpack_from(">H", self.region, off)[0]
        payload = self.region[off + 2 : off + 2 + size].decode("utf-8")
        return payload.split("\t")

    def v4_root(self) -> int:
        """Walk the ::ffff:0:0/96 path to the IPv4 subtree (ipdb-go's
        v4offset computation)."""
        node = 0
        for i in range(96):
            if node >= self.node_count:
                break
            node = self.read_node(node, 1 if i >= 80 else 0)
        return node


def iter_ipdb_v4(data: bytes) -> Iterator[tuple[int, int, list[str]]]:
    """Yield (ip_start, ip_end_exclusive, fields) for every populated IPv4
    range — an iterative DFS over the 32-bit trie, each node visited once."""
    trie = IpdbTrie(data)
    stack: list[tuple[int, int, int]] = [(trie.v4_root(), 0, 0)]
    while stack:
        node, prefix, depth = stack.pop()
        if node == trie.node_count:
            continue  # miss marker — unpopulated branch
        if node > trie.node_count:
            span = 1 << (32 - depth)
            start = prefix << (32 - depth)
            yield start, start + span, trie.resolve(node)
            continue
        if depth == 32:
            continue
        # push bit-1 first so bit-0 pops first → ascending ip order
        stack.append((trie.read_node(node, 1), (prefix << 1) | 1, depth + 1))
        stack.append((trie.read_node(node, 0), prefix << 1, depth + 1))


def ipdb_to_dataframe(spark: SparkSession, ipdb_path: str) -> DataFrame:
    """Parse a .ipdb file into the (ip_start, ip_end, loc, isp) shape for
    ``enrich_ips``: ``loc`` = "country region city" non-empty parts joined
    (the reference Result.String, ipipfree.go:42-47); ``isp`` comes from an
    ``isp_domain`` field when the db carries one, else ''."""
    with open(ipdb_path, "rb") as f:
        data = f.read()
    trie = IpdbTrie(data)

    def field(fields: list[str], name: str) -> str:
        try:
            return fields[trie.fields.index(name)]
        except ValueError:
            return ""

    rows = []
    for start, end, fields in iter_ipdb_v4(data):
        loc_parts = [
            field(fields, "country_name"),
            field(fields, "region_name"),
            field(fields, "city_name"),
        ]
        loc = " ".join(p for p in loc_parts if p)
        rows.append((start, end, loc, field(fields, "isp_domain")))
    rows.sort(key=lambda r: r[0])
    return spark.createDataFrame(
        rows, "ip_start bigint, ip_end bigint, loc string, isp string"
    )


# --------------------------------------------------------------------------
# Fixture builder (tests): synthesize a structurally-valid .ipdb blob.
# --------------------------------------------------------------------------


def build_ipdb_blob(
    entries: list[tuple[str, list[str]]], fields: list[str]
) -> bytes:
    """Build a tiny .ipdb from (cidr, field_values) entries.

    Inserts each IPv4 CIDR under the ::ffff:0:0/96 path exactly as real
    builders do, allocates trie nodes on demand, and packs records into
    the data area with BE-u16 length prefixes.
    """
    import ipaddress

    nodes: list[list[int | tuple]] = [[None, None]]  # root; None = miss
    rec_offsets: dict[bytes, int] = {}
    # one pad byte so no record sits at data offset 0 — a leaf value of
    # exactly node_count is the miss marker
    data_area = bytearray(b"\x00")

    def add_record(values: list[str]) -> int:
        payload = "\t".join(values).encode("utf-8")
        if payload not in rec_offsets:
            rec_offsets[payload] = len(data_area)
            data_area.extend(struct.pack(">H", len(payload)) + payload)
        return rec_offsets[payload]

    def insert(bits: list[int], rec_off: int) -> None:
        node = 0
        for bit in bits[:-1]:
            child = nodes[node][bit]
            if child is None:
                nodes.append([None, None])
                child = len(nodes) - 1
                nodes[node][bit] = child
            elif isinstance(child, tuple):
                raise ValueError("overlapping CIDRs in fixture")
            node = child
        if nodes[node][bits[-1]] is not None:
            raise ValueError("overlapping CIDRs in fixture")
        nodes[node][bits[-1]] = ("leaf", rec_off)

    for cidr, values in entries:
        net = ipaddress.IPv4Network(cidr)
        v4bits = [0] * 80 + [1] * 16
        addr = int(net.network_address)
        v4bits += [
            (addr >> (31 - i)) & 1 for i in range(net.prefixlen)
        ]
        insert(v4bits, add_record(values))

    node_count = len(nodes)
    node_bytes = bytearray()
    for left, right in nodes:
        for child in (left, right):
            if child is None:
                value = node_count  # miss
            elif isinstance(child, tuple):
                value = child[1] + node_count  # leaf → data offset encoding
            else:
                value = child
            node_bytes.extend(struct.pack(">I", value))

    meta = {
        "build": 0,
        "ip_version": 1,
        "node_count": node_count,
        "languages": {"CN": 0},
        "fields": fields,
        "total_size": len(node_bytes) + len(data_area),
    }
    meta_json = json.dumps(meta).encode("utf-8")
    return struct.pack(">I", len(meta_json)) + meta_json + bytes(node_bytes) + bytes(data_area)
