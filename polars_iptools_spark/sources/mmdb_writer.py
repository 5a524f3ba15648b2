"""Minimal MMDB writer — test infrastructure.

Builds a spec-conformant MaxMind DB file (search tree + data section +
metadata) from a list of (CIDR, record) pairs.  Used to synthesize
fixture databases (e.g. a Spur anonymity feed, which has no public test
file) and to property-test the decoder round-trip.  Implements the
public format spec only; 24-, 28- or 32-bit records (32 by default), no
pointer compression (the spec makes pointers optional for writers).

By default IPv4 networks are stored under the v4-mapped ::ffff:0:0/96
prefix, matching the engine's lookup convention.  ``ipv4_aliased=True``
writes the GeoLite2 layout instead: IPv4 networks under ::/96, and the
::ffff:0:0/96 record pointing at that same ::/96 node, so the IPv4
subtree is reachable through two paths.
"""

from __future__ import annotations

import ipaddress
import struct
import time
from pathlib import Path


def _encode(value) -> bytes:
    """Encode one data-section value (no pointers)."""
    if isinstance(value, bool):
        # extended type 14: control 0x00|size, ext byte 14-7
        return bytes([(0 << 5) | (1 if value else 0), 14 - 7])
    if isinstance(value, str):
        b = value.encode("utf-8")
        return _ctrl(2, len(b)) + b
    if isinstance(value, float):
        return _ctrl(3, 8) + struct.pack(">d", value)
    if isinstance(value, bytes):
        return _ctrl(4, len(value)) + value
    if isinstance(value, int):
        if value < 0:
            b = value.to_bytes(4, "big", signed=True)
            return bytes([(0 << 5) | 4, 8 - 7]) + b
        if value < 1 << 16:
            b = value.to_bytes((value.bit_length() + 7) // 8, "big") if value else b""
            return _ctrl(5, len(b)) + b
        if value < 1 << 32:
            b = value.to_bytes((value.bit_length() + 7) // 8, "big")
            return _ctrl(6, len(b)) + b
        b = value.to_bytes((value.bit_length() + 7) // 8, "big")
        return bytes([(0 << 5) | len(b), 9 - 7]) + b
    if isinstance(value, dict):
        out = _ctrl(7, len(value))
        for k, v in value.items():
            out += _encode(str(k)) + _encode(v)
        return out
    if isinstance(value, (list, tuple)):
        out = bytes([(0 << 5) | len(value), 11 - 7]) if len(value) < 29 else None
        if out is None:
            raise ValueError("array too long for minimal writer")
        for v in value:
            out += _encode(v)
        return out
    raise TypeError(f"unsupported type {type(value)}")


def _ctrl(typ: int, size: int) -> bytes:
    if size < 29:
        return bytes([(typ << 5) | size])
    if size < 29 + 256:
        return bytes([(typ << 5) | 29, size - 29])
    if size < 285 + 65536:
        return bytes([(typ << 5) | 30]) + (size - 285).to_bytes(2, "big")
    return bytes([(typ << 5) | 31]) + (size - 65821).to_bytes(3, "big")


class _Node:
    __slots__ = ("left", "right", "data", "num")

    def __init__(self):
        self.left = None
        self.right = None
        self.data = None
        self.num = -1


def _net_bits(net, ipv4_aliased: bool) -> tuple[int, int]:
    """(128-bit value, prefix length) in the v6 tree: IPv4 under
    ::/96 in the aliased layout, under ::ffff:0:0/96 otherwise."""
    if net.version == 4:
        base = 0 if ipv4_aliased else 0xFFFF << 32
        return base | int(net.network_address), 96 + net.prefixlen
    return int(net.network_address), net.prefixlen


def _alias_ipv4(root: _Node) -> None:
    """Point the ::ffff:0:0/96 record at the ::/96 node (GeoLite2's
    IPv4 layout); no-op when the tree holds nothing under ::/96."""
    v4_root = root
    for _ in range(96):
        v4_root = v4_root.left
        if v4_root is None or v4_root.data is not None:
            return
    node = root
    for depth in range(95):  # 80 zero bits, then 15 of the 16 one bits
        if depth < 80:
            node = node.left  # shared with the ::/96 path
        else:
            if node.right is None:
                node.right = _Node()
            node = node.right
            if node.data is not None:
                break
    if node.data is not None or node.right is not None:
        raise ValueError("::ffff:0:0/96 holds entries; it cannot alias ::/96")
    node.right = v4_root


def _pack_records(left: int, right: int, record_size: int) -> bytes:
    """One search-tree node in the spec layout for ``record_size``."""
    if record_size == 32:
        return left.to_bytes(4, "big") + right.to_bytes(4, "big")
    if record_size == 24:
        return left.to_bytes(3, "big") + right.to_bytes(3, "big")
    # 28: low 24 bits of each record around one byte holding the high
    # nibble of the left record, then the high nibble of the right
    return (
        (left & 0xFFFFFF).to_bytes(3, "big")
        + bytes([(left >> 20 & 0xF0) | (right >> 24)])
        + (right & 0xFFFFFF).to_bytes(3, "big")
    )


def write_mmdb(
    path: str | Path,
    entries: list[tuple[str, dict]],
    database_type: str = "Test-DB",
    record_size: int = 32,
    ipv4_aliased: bool = False,
) -> None:
    if record_size not in (24, 28, 32):
        raise ValueError(f"record_size must be 24, 28 or 32 (got {record_size})")
    root = _Node()
    data_blobs: list[bytes] = []
    offsets: dict[bytes, int] = {}
    by_obj: dict[int, int] = {}
    next_off = 0

    def data_offset(record: dict) -> int:
        # production-scale fast path: callers synthesizing millions of
        # networks reuse record OBJECTS (GeoLite2-City style: ~3.5M
        # networks over ~100k distinct records) — key by id() first so
        # only distinct records pay the Python encode
        nonlocal next_off
        off = by_obj.get(id(record))
        if off is not None:
            return off
        blob = _encode(record)
        off = offsets.get(blob)
        if off is None:
            off = next_off
            offsets[blob] = off
            data_blobs.append(blob)
            next_off += len(blob)
        by_obj[id(record)] = off
        return off

    # Insertion reuses the previous entry's trie path: for SORTED input
    # the common-prefix nodes are identical, so each insert walks only
    # the bits below the longest common prefix — O(output nodes) total
    # instead of O(entries × depth) (the v4-mapped /96 chain alone is 96
    # redundant steps per entry).  Unsorted input stays correct, just
    # without the speedup.
    walk: list[_Node] = [root]  # walk[d] = node reached after d bits
    prev_val = -1
    for cidr, record in entries:
        net = ipaddress.ip_network(cidr, strict=False)
        val, plen = _net_bits(net, ipv4_aliased)
        if prev_val >= 0:
            lcp = 128 - ((val ^ prev_val).bit_length() or 0) if val != prev_val else 128
            start = min(lcp, plen, len(walk) - 1)
        else:
            start = 0
        del walk[start + 1 :]
        node = walk[start]
        if node.data is not None:
            raise ValueError(f"network {cidr} nested under an existing entry")
        for depth in range(start, plen):
            bit = (val >> (127 - depth)) & 1
            child = node.right if bit else node.left
            if child is None:
                child = _Node()
                if bit:
                    node.right = child
                else:
                    node.left = child
            node = child
            walk.append(node)
            if node.data is not None:
                raise ValueError(f"network {cidr} nested under an existing entry")
        if node.left or node.right:
            raise ValueError(f"network {cidr} contains an existing entry")
        node.data = data_offset(record)
        prev_val = val
    if ipv4_aliased:
        _alias_ipv4(root)

    # number internal nodes (nodes with any child); leaves carry data.
    # iterative pre-order DFS — at production scale (millions of
    # networks) the tree has tens of millions of nodes and per-node
    # recursion would dominate the build.  An aliased subtree is
    # reached twice but numbered once.
    internal: list[_Node] = []
    stack = [root]
    while stack:
        n = stack.pop()
        if n.num < 0 and (n.left or n.right or n is root):
            n.num = len(internal)
            internal.append(n)
            if n.right is not None:
                stack.append(n.right)
            if n.left is not None:
                stack.append(n.left)
    node_count = len(internal)

    def record_value(child: _Node | None) -> int:
        if child is None:
            return node_count  # no data
        if child.num >= 0:
            return child.num
        return node_count + 16 + child.data

    if node_count + 16 + next_off >= 1 << record_size:
        raise ValueError(f"tree and data section too large for {record_size}-bit records")
    tree = bytearray()
    for n in internal:
        tree += _pack_records(record_value(n.left), record_value(n.right), record_size)

    data_section = b"".join(data_blobs)
    meta = {
        "binary_format_major_version": 2,
        "binary_format_minor_version": 0,
        "build_epoch": int(time.time()),
        "database_type": database_type,
        "description": {"en": f"synthetic {database_type}"},
        "ip_version": 6,
        "languages": ["en"],
        "node_count": node_count,
        "record_size": record_size,
    }
    blob = (
        bytes(tree)
        + b"\x00" * 16
        + data_section
        + b"\xab\xcd\xefMaxMind.com"
        + _encode(meta)
    )
    Path(path).write_bytes(blob)
