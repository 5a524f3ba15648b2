"""Pure-Python MaxMind DB (MMDB) decoder → broadcastable interval table.

The reference mmaps MMDB files per-process and walks the binary search
tree per row (/root/reference/src/maxmind.rs:122-148, :182-243).  The
Spark-first equivalent decodes the file ONCE on the driver, enumerates
the search tree into disjoint network intervals, and broadcasts sorted
big-endian 16-byte key arrays + a decoded record list.  Per-batch
lookup is then a vectorized ``np.searchsorted`` — O(log n), no
pointer-chasing, no per-executor file dependency.

Format implemented from the public MaxMind DB spec
(https://maxmind.github.io/MaxMind-DB/): binary search tree with
24/28/32-bit records, 16-byte data-section separator, type-tagged data
section, metadata map after the \\xab\\xcd\\xefMaxMind.com marker.
No code from any MMDB library is used.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass
from pathlib import Path

import numpy as np

from ..functions._ipparse import find_interval

METADATA_MARKER = b"\xab\xcd\xefMaxMind.com"

# data-section type tags (spec §"Output Data Section")
_T_PTR = 1
_T_STR = 2
_T_DOUBLE = 3
_T_BYTES = 4
_T_U16 = 5
_T_U32 = 6
_T_MAP = 7
_T_I32 = 8
_T_U64 = 9
_T_U128 = 10
_T_ARRAY = 11
_T_CONTAINER = 12
_T_END = 13
_T_BOOL = 14
_T_FLOAT = 15


class MMDBError(ValueError):
    pass


def _decode_value(buf: bytes, offset: int, data_start: int):
    """Decode one value at absolute ``offset``; returns (value, next_offset)."""
    control = buf[offset]
    offset += 1
    typ = control >> 5
    if typ == 0:  # extended type
        typ = buf[offset] + 7
        offset += 1
    if typ == _T_PTR:
        ss = (control >> 3) & 0x3
        vvv = control & 0x7
        if ss == 0:
            value = (vvv << 8) | buf[offset]
            offset += 1
        elif ss == 1:
            value = ((vvv << 16) | int.from_bytes(buf[offset : offset + 2], "big")) + 2048
            offset += 2
        elif ss == 2:
            value = (
                (vvv << 24) | int.from_bytes(buf[offset : offset + 3], "big")
            ) + 526336
            offset += 3
        else:
            value = int.from_bytes(buf[offset : offset + 4], "big")
            offset += 4
        pointed, _ = _decode_value(buf, data_start + value, data_start)
        return pointed, offset

    size = control & 0x1F
    if typ != _T_BOOL:  # boolean stores its value in the size bits
        if size == 29:
            size = 29 + buf[offset]
            offset += 1
        elif size == 30:
            size = 285 + int.from_bytes(buf[offset : offset + 2], "big")
            offset += 2
        elif size == 31:
            size = 65821 + int.from_bytes(buf[offset : offset + 3], "big")
            offset += 3

    if typ == _T_STR:
        return buf[offset : offset + size].decode("utf-8"), offset + size
    if typ == _T_DOUBLE:
        return struct.unpack(">d", buf[offset : offset + 8])[0], offset + 8
    if typ == _T_FLOAT:
        return struct.unpack(">f", buf[offset : offset + 4])[0], offset + 4
    if typ == _T_BYTES:
        return buf[offset : offset + size], offset + size
    if typ in (_T_U16, _T_U32, _T_U64, _T_U128):
        return int.from_bytes(buf[offset : offset + size], "big"), offset + size
    if typ == _T_I32:
        return int.from_bytes(buf[offset : offset + size], "big", signed=True), (
            offset + size
        )
    if typ == _T_MAP:
        out = {}
        for _ in range(size):
            key, offset = _decode_value(buf, offset, data_start)
            val, offset = _decode_value(buf, offset, data_start)
            out[key] = val
        return out, offset
    if typ == _T_ARRAY:
        items = []
        for _ in range(size):
            val, offset = _decode_value(buf, offset, data_start)
            items.append(val)
        return items, offset
    if typ == _T_BOOL:
        return bool(size), offset
    if typ == _T_END:
        return None, offset
    raise MMDBError(f"unsupported MMDB data type {typ}")


@dataclass
class IntervalTable:
    """Disjoint sorted [lo,hi] v4-mapped/128-bit intervals + records.

    ``lo``/``hi`` are |S16 big-endian key arrays (bytewise order ==
    unsigned 128-bit order), ``rec_idx`` maps each interval to an entry
    of ``records``.  This is the broadcast payload.
    """

    lo: np.ndarray
    hi: np.ndarray
    rec_idx: np.ndarray
    records: list

    def lookup_indices(self, keys: np.ndarray) -> np.ndarray:
        """|S16 key array -> record index per key (-1 = not found)."""
        pos = find_interval(self.lo, self.hi, keys)
        hit = pos >= 0
        res = np.full(len(keys), -1, dtype=np.int64)
        res[hit] = self.rec_idx[pos[hit]]
        return res


class MMDBFile:
    """One decoded MMDB file."""

    def __init__(self, path: str | Path):
        self.path = str(path)
        buf = Path(path).read_bytes()
        marker_at = buf.rfind(METADATA_MARKER)
        if marker_at < 0:
            raise MMDBError(f"not an MMDB file (no metadata marker): {path}")
        # metadata pointers resolve relative to the metadata section start
        meta_start = marker_at + len(METADATA_MARKER)
        meta, _ = _decode_value(buf, meta_start, meta_start)
        self.metadata = meta
        self.node_count = meta["node_count"]
        self.record_size = meta["record_size"]  # bits
        self.ip_version = meta["ip_version"]
        self.tree_size = (self.record_size * 2 // 8) * self.node_count
        self.data_start = self.tree_size + 16
        self._buf = buf

    def _record(self, node: int, side: int) -> int:
        buf, rs = self._buf, self.record_size
        if rs == 24:
            base = node * 6 + side * 3
            return int.from_bytes(buf[base : base + 3], "big")
        if rs == 28:
            base = node * 7
            if side == 0:
                return ((buf[base + 3] & 0xF0) << 20) | int.from_bytes(
                    buf[base : base + 3], "big"
                )
            return ((buf[base + 3] & 0x0F) << 24) | int.from_bytes(
                buf[base + 4 : base + 7], "big"
            )
        if rs == 32:
            base = node * 8 + side * 4
            return int.from_bytes(buf[base : base + 4], "big")
        raise MMDBError(f"unsupported record size {rs}")

    def _tree_records(self) -> np.ndarray:
        """Decode the whole search-tree section into an (node_count, 2)
        uint32 array of [left, right] record values — vectorized for all
        three spec record sizes.  A production GeoLite2-City has ~3.5M
        nodes; per-node Python decoding of the tree is the decode-wall
        bottleneck at that scale."""
        nc, rs = self.node_count, self.record_size
        raw = np.frombuffer(self._buf, dtype=np.uint8, count=self.tree_size)
        if rs == 32:
            return (
                np.frombuffer(self._buf, dtype=">u4", count=nc * 2)
                .reshape(nc, 2)
                .astype(np.uint32)
            )
        if rs == 24:
            b = raw.reshape(nc, 6).astype(np.uint32)
            left = (b[:, 0] << 16) | (b[:, 1] << 8) | b[:, 2]
            right = (b[:, 3] << 16) | (b[:, 4] << 8) | b[:, 5]
            return np.stack([left, right], axis=1)
        if rs == 28:
            b = raw.reshape(nc, 7).astype(np.uint32)
            left = ((b[:, 3] & 0xF0) << 20) | (b[:, 0] << 16) | (b[:, 1] << 8) | b[:, 2]
            right = ((b[:, 3] & 0x0F) << 24) | (b[:, 4] << 16) | (b[:, 5] << 8) | b[:, 6]
            return np.stack([left, right], axis=1)
        raise MMDBError(f"unsupported record size {rs}")

    def enumerate_intervals(self) -> IntervalTable:
        """Enumerate the search tree into disjoint leaf intervals with a
        vectorized level-order (BFS) walk: one numpy gather per tree
        level instead of one Python iteration per node.  At production
        DB scale (~3.5M networks / ~7M nodes) the per-node DFS
        (:meth:`_enumerate_intervals_py`, kept for property
        cross-checks) pays ~30x more wall on the same input.

        Equivalent to longest-prefix match because tree leaves are
        disjoint by construction; aliased subtrees (e.g. ::ffff:0:0/96
        in GeoLite2) are simply traversed once per alias, yielding
        duplicate records at different ranges — harmless and exact.
        """
        bits = 128 if self.ip_version == 6 else 32
        nc = self.node_count
        tree = self._tree_records()
        # per-level frontier: node ids + 128-bit prefixes as two uint64
        # limbs (numpy has no uint128)
        nodes = np.array([0], dtype=np.int64)
        pref_hi = np.zeros(1, dtype=np.uint64)
        pref_lo = np.zeros(1, dtype=np.uint64)
        leaf_hi: list[np.ndarray] = []
        leaf_lo: list[np.ndarray] = []
        leaf_off: list[np.ndarray] = []
        leaf_depth: list[int] = []
        for depth in range(bits):
            if not len(nodes):
                break
            recs = tree[nodes]  # (k, 2)
            bitpos = bits - depth - 1
            for side in (0, 1):
                rec = recs[:, side].astype(np.int64)
                if side == 0:
                    chi, clo = pref_hi, pref_lo
                else:
                    if bits == 128 and bitpos >= 64:
                        chi = pref_hi | np.uint64(1 << (bitpos - 64))
                        clo = pref_lo
                    else:
                        chi = pref_hi
                        clo = pref_lo | np.uint64(1 << bitpos)
                is_data = rec > nc
                if is_data.any():
                    leaf_hi.append(chi[is_data])
                    leaf_lo.append(clo[is_data])
                    leaf_off.append(rec[is_data] - nc - 16)
                    leaf_depth.append(depth + 1)
                is_node = rec < nc
                if side == 0:
                    l_nodes, l_hi, l_lo = rec[is_node], chi[is_node], clo[is_node]
                else:
                    r_nodes, r_hi, r_lo = rec[is_node], chi[is_node], clo[is_node]
            nodes = np.concatenate([l_nodes, r_nodes])
            pref_hi = np.concatenate([l_hi, r_hi])
            pref_lo = np.concatenate([l_lo, r_lo])
        return self._assemble_intervals(bits, leaf_hi, leaf_lo, leaf_off, leaf_depth)

    def _assemble_intervals(
        self,
        bits: int,
        leaf_hi: list[np.ndarray],
        leaf_lo: list[np.ndarray],
        leaf_off: list[np.ndarray],
        leaf_depth: list[int],
    ) -> IntervalTable:
        """Leaf (prefix, depth, data offset) batches -> sorted
        IntervalTable, decoding each distinct data offset exactly once."""
        if not leaf_off:
            return IntervalTable(
                np.empty(0, dtype="|S16"),
                np.empty(0, dtype="|S16"),
                np.empty(0, dtype=np.int64),
                [],
            )
        lo_hi = np.concatenate(leaf_hi)
        lo_lo = np.concatenate(leaf_lo)
        offs = np.concatenate(leaf_off)
        depths = np.concatenate(
            [
                np.full(len(o), d, dtype=np.int64)
                for o, d in zip(leaf_off, leaf_depth)
            ]
        )
        if bits == 32:
            # v4-only tree: shift prefixes into v4-mapped space; the
            # 32-bit prefix currently sits in the LOW limb's low bits
            lo_lo = lo_lo | np.uint64(0xFFFF00000000)
            depths = depths + 96
        # hi bound = prefix | host-mask; prefixes are aligned, so OR
        # per-limb needs no carries
        span_bits = 128 - depths
        # np.where evaluates both branches, so shifts must stay < 64
        # even on the branch that is discarded
        low_shift = np.clip(span_bits, 0, 63).astype(np.uint64)
        mask_lo = np.where(
            span_bits >= 64,
            np.uint64(0xFFFFFFFFFFFFFFFF),
            (np.uint64(1) << low_shift) - np.uint64(1),
        ).astype(np.uint64)
        over = np.clip(span_bits - 64, 0, 63).astype(np.uint64)
        mask_hi = np.where(
            span_bits > 64,
            (np.uint64(1) << over) - np.uint64(1),
            np.uint64(0),
        ).astype(np.uint64)
        hi_hi = lo_hi | mask_hi
        hi_lo = lo_lo | mask_lo

        # decode each distinct data offset once
        uniq, inv = np.unique(offs, return_inverse=True)
        records = []
        for off in uniq:
            value, _ = _decode_value(
                self._buf, self.data_start + int(off), self.data_start
            )
            records.append(value)

        def _to_s16(hi: np.ndarray, lo: np.ndarray) -> np.ndarray:
            # two big-endian u64 limbs laid out adjacently ARE the
            # 16-byte big-endian key
            pair = np.empty((len(hi), 2), dtype=">u8")
            pair[:, 0] = hi
            pair[:, 1] = lo
            return pair.view("|S16").reshape(len(hi))

        lo_arr = _to_s16(lo_hi, lo_lo)
        hi_arr = _to_s16(hi_hi, hi_lo)
        order = np.lexsort((lo_lo, lo_hi))
        return IntervalTable(
            lo_arr[order], hi_arr[order], inv.astype(np.int64)[order], records
        )

    def _enumerate_intervals_py(self) -> IntervalTable:
        """Reference per-node DFS enumeration (kept for property
        cross-checks against the vectorized walk)."""
        bits = 128 if self.ip_version == 6 else 32
        nc = self.node_count
        intervals: list[tuple[int, int, int]] = []
        offset_to_idx: dict[int, int] = {}
        records: list = []
        # iterative DFS: (node, depth, prefix)
        stack = [(0, 0, 0)]
        while stack:
            node, depth, prefix = stack.pop()
            for side in (0, 1):
                rec = self._record(node, side)
                child_prefix = prefix | (side << (bits - depth - 1))
                if rec < nc:
                    if depth + 1 < bits:
                        stack.append((rec, depth + 1, child_prefix))
                    else:  # leaf at max depth pointing to a node: invalid
                        continue
                elif rec == nc:
                    continue  # no data
                else:
                    data_off = rec - nc - 16
                    idx = offset_to_idx.get(data_off)
                    if idx is None:
                        value, _ = _decode_value(
                            self._buf, self.data_start + data_off, self.data_start
                        )
                        idx = len(records)
                        records.append(value)
                        offset_to_idx[data_off] = idx
                    span = 1 << (bits - depth - 1)
                    lo = child_prefix
                    hi = child_prefix + span - 1
                    if bits == 32:  # v4-only tree: shift into v4-mapped space
                        lo |= 0xFFFF00000000
                        hi |= 0xFFFF00000000
                    intervals.append((lo, hi, idx))
        intervals.sort()
        lo_arr = np.array(
            [lo.to_bytes(16, "big") for lo, _, _ in intervals], dtype="|S16"
        )
        hi_arr = np.array(
            [hi.to_bytes(16, "big") for _, hi, _ in intervals], dtype="|S16"
        )
        rec_arr = np.array([i for _, _, i in intervals], dtype=np.int64)
        return IntervalTable(lo_arr, hi_arr, rec_arr, records)


def load_interval_table(path: str | Path) -> IntervalTable:
    return MMDBFile(path).enumerate_intervals()
