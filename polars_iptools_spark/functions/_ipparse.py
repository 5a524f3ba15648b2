"""Vectorized IP parsing helpers shared by the Arrow UDF kernels.

Everything here operates on whole pandas Series / numpy arrays — one
call per Arrow batch, no per-row Python UDFs (BASELINE.json
input_hint).  IPv4 is the hot path: C-level ``inet_aton`` per row with
a vectorized canonical-roundtrip strictness gate (see
:func:`parse_v4_strict`); IPv6 falls back to stdlib ``ipaddress`` only
for the (rare) rows the fast path rejected.

Canonical 16-byte form: IPv4 is stored v4-mapped (``::ffff:a.b.c.d``),
matching the reference's IPAddress extension storage rule
(/root/reference/src/iptools.rs:338,353,368).  Big-endian 16-byte keys
compare bytewise exactly like the underlying unsigned 128-bit integers,
so sorted ``|S16`` numpy arrays support ``np.searchsorted`` range
lookups — the array-encoded equivalent of the reference's LC-trie
(/root/reference/src/iptools.rs:130-151).
"""

from __future__ import annotations

import ipaddress
import re
import socket

import numpy as np
import pandas as pd

_V4_OCTET = r"(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
# \A..\Z (Python's absolute end anchor — NOT '$', which also matches
# before a trailing newline and would disagree with the strict
# canonical-roundtrip gate on inputs like '1.2.3.4\n')
V4_FULLMATCH = re.compile(
    r"\A" + r"\.".join([_V4_OCTET] * 4) + r"\Z"
)

V4_MAPPED_PREFIX = b"\x00" * 10 + b"\xff\xff"


def _parse_v4_strict_obj(arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per-row fallback parser (the r6 implementation): C-level
    ``inet_aton`` per row plus a vectorized canonical-roundtrip gate.
    Kept as the fallback for batches the byte-matrix fast path cannot
    encode (non-ASCII content) and as the reference implementation the
    property suite cross-checks."""
    n = len(arr)
    nums = np.zeros(n, dtype=np.uint32)
    cand = np.zeros(n, dtype=bool)
    aton = socket.inet_aton
    from_bytes = int.from_bytes
    for i in range(n):
        try:
            nums[i] = from_bytes(aton(arr[i]), "big")
            cand[i] = True
        except (OSError, TypeError, ValueError, UnicodeError):
            pass
    idx = np.flatnonzero(cand)
    if len(idx):
        v = nums[idx]
        octs = np.stack(
            [(v >> 24) & 255, (v >> 16) & 255, (v >> 8) & 255, v & 255], axis=1
        ).astype(np.uint8)
        ok = quad_strings(octs) == arr[idx]
        cand[idx[~ok]] = False
    return nums, cand


# strict dotted-quad grammar for Arrow's RE2 (absolute ^/$ anchors:
# RE2 without multiline does NOT match before a trailing newline, so
# '1.2.3.4\n' is rejected exactly like the fallback parser)
_V4_RE2 = (
    r"^(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
    r"(\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}$"
)


def parse_v4_strict(arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Object array of values -> (uint32 numbers, strict-valid mask).

    Vectorized Arrow-compute path (r07): ONE RE2 pass validates the
    strict grammar and a split + C-level int cast computes the numeric
    form for the valid rows — zero per-row Python.  Measured 21 ms vs
    67 ms for the r6 per-row ``inet_aton`` loop on a 65k bench-shaped
    batch; profiling showed this parse was >80% of the geoip / is_in /
    to_address batch kernels.  Batches Arrow does not infer as strings
    (bytes-like rows, mixed object types) fall back to the per-row
    parser, preserving the non-str -> invalid contract.  Equivalence
    with V4_FULLMATCH (and with the fallback) is property-tested in
    tests/test_kernels_hypothesis.py.
    """
    n = len(arr)
    nums = np.zeros(n, dtype=np.uint32)
    if n == 0:
        return nums, np.zeros(0, dtype=bool)
    try:
        import pyarrow as pa
        import pyarrow.compute as pc

        # let Arrow infer the type: any bytes-like row makes it binary
        # (a str/int mix raises), and the kernel contract is non-str ->
        # invalid, so only string (or all-null) batches take this path
        a = pa.array(arr, from_pandas=True)
        if a.type == pa.null():
            a = a.cast(pa.string())
        elif a.type != pa.string():
            return _parse_v4_strict_obj(arr)
        ok = pc.fill_null(pc.match_substring_regex(a, _V4_RE2), False)
        okn = ok.to_numpy(zero_copy_only=False)
        if okn.any():
            valid = pc.if_else(ok, a, pa.scalar(None, pa.string()))
            flat = pc.list_flatten(pc.split_pattern(valid, "."))
            quads = pc.cast(flat, pa.int64()).to_numpy(zero_copy_only=False)
            if len(quads) != int(okn.sum()) * 4:  # defensive: never expected
                return _parse_v4_strict_obj(arr)
            q = quads.reshape(-1, 4)
            nums[okn] = (
                (q[:, 0] << 24) | (q[:, 1] << 16) | (q[:, 2] << 8) | q[:, 3]
            ).astype(np.uint32)
        return nums, okn
    except Exception:
        return _parse_v4_strict_obj(arr)


def v4_num_to_packed16(nums: np.ndarray) -> np.ndarray:
    """uint32 array -> (n,16) uint8 array of v4-mapped addresses."""
    out = np.zeros((len(nums), 16), dtype=np.uint8)
    out[:, 10] = 0xFF
    out[:, 11] = 0xFF
    out[:, 12:16] = nums.astype(">u4").view(np.uint8).reshape(-1, 4)
    return out


def ip_to_int128(ip: str) -> int:
    """Single IP string -> v4-mapped 128-bit int (raises on invalid)."""
    addr = ipaddress.ip_address(ip)
    if addr.version == 4:
        return 0xFFFF00000000 | int(addr)
    return int(addr)


def int128_to_bytes(v: int) -> bytes:
    return v.to_bytes(16, "big")


def pack_ip_series(s: pd.Series) -> np.ndarray:
    """Series of IP strings -> object array of 16-byte keys.

    null -> None; unparseable -> None.  IPv4 rows take the vectorized
    path; only non-IPv4 non-null rows hit the per-element fallback.
    """
    s = s.astype(object)
    n = len(s)
    out = np.full(n, None, dtype=object)
    if n == 0:
        return out
    notnull = s.notna().to_numpy()
    arr = s.to_numpy()
    allnums, v4mask = parse_v4_strict(arr)
    if v4mask.any():
        packed = v4_num_to_packed16(allnums[v4mask])
        vals = [p.tobytes() for p in packed]
        out[np.flatnonzero(v4mask)] = vals
    # slow path: candidate v6 / weird strings
    rest = np.flatnonzero(notnull & ~v4mask)
    for i in rest:
        v = arr[i]
        if not isinstance(v, str) or ":" not in v:
            continue
        try:
            out[i] = int128_to_bytes(ip_to_int128(v))
        except ValueError:
            pass
    return out


def pack_ip_series_s16(s: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Series of IP strings -> (``|S16`` key array, valid mask) with NO
    per-row Python objects on the IPv4 fast path — the bytes land
    directly in the (n, 16) matrix the searchsorted kernel consumes.
    Only non-IPv4 non-null rows (rare in enrichment feeds) fall back to
    per-element stdlib parsing.  Invalid/null rows: valid=False, key
    bytes zero."""
    s = s.astype(object)
    n = len(s)
    kb = np.zeros((n, 16), dtype=np.uint8)
    valid = np.zeros(n, dtype=bool)
    if n == 0:
        return kb.view("|S16").reshape(n), valid
    notnull = s.notna().to_numpy()
    arr = s.to_numpy()
    allnums, v4mask = parse_v4_strict(arr)
    if v4mask.any():
        idx = np.flatnonzero(v4mask)
        kb[idx, 10] = 0xFF
        kb[idx, 11] = 0xFF
        kb[idx, 12:16] = (
            allnums[idx].astype(">u4").view(np.uint8).reshape(-1, 4)
        )
        valid[idx] = True
    rest = np.flatnonzero(notnull & ~v4mask)
    for i in rest:
        v = arr[i]
        if not isinstance(v, str) or ":" not in v:
            continue
        try:
            kb[i] = np.frombuffer(
                int128_to_bytes(ip_to_int128(v)), dtype=np.uint8
            )
            valid[i] = True
        except ValueError:
            pass
    return kb.view("|S16").reshape(n), valid


def pack_ip_series_with_family(s: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Like :func:`pack_ip_series` but also reports the TEXTUAL address
    family per row (0 = null/invalid, 4 = dotted-quad literal, 6 =
    parsed as IPv6 — including v4-mapped text like ``::ffff:1.2.3.4``).

    The reference keeps two tries and routes by the parsed family
    (/root/reference/src/iptools.rs:160-166): a v4-mapped IPv6 *string*
    is a V6 address and must never match v4-only CIDR sets, even though
    its 16-byte key equals the mapped IPv4's.
    """
    s = s.astype(object)
    n = len(s)
    out = np.full(n, None, dtype=object)
    fam = np.zeros(n, dtype=np.int8)
    if n == 0:
        return out, fam
    notnull = s.notna().to_numpy()
    arr = s.to_numpy()
    allnums, v4mask = parse_v4_strict(arr)
    if v4mask.any():
        packed = v4_num_to_packed16(allnums[v4mask])
        out[np.flatnonzero(v4mask)] = [p.tobytes() for p in packed]
        fam[v4mask] = 4
    rest = np.flatnonzero(notnull & ~v4mask)
    for i in rest:
        v = arr[i]
        if not isinstance(v, str) or ":" not in v:
            continue
        try:
            out[i] = int128_to_bytes(int(ipaddress.IPv6Address(v)))
            fam[i] = 6
        except ValueError:
            pass
    return out, fam


# precomputed octet strings: dotted-quad rendering becomes four C-level
# object-array gathers + three concats (measured 3.3x over a per-row
# join loop and 12x over np.char chains at 600k rows)
OCT_STR = np.array([str(i) for i in range(256)], dtype=object)
DOT_OCT_STR = np.array(["." + str(i) for i in range(256)], dtype=object)


def quad_strings(octets: np.ndarray) -> np.ndarray:
    """(k, 4) uint8 octet matrix -> object array of dotted-quad strings."""
    return (
        OCT_STR[octets[:, 0]]
        + DOT_OCT_STR[octets[:, 1]]
        + DOT_OCT_STR[octets[:, 2]]
        + DOT_OCT_STR[octets[:, 3]]
    )


def packed16_to_str(b: bytes) -> str | None:
    """16-byte (or 4-byte) binary -> canonical string.

    v4-mapped 16-byte values render as plain dotted quad, matching
    /root/reference/src/iptools.rs:291-314; other lengths -> None.
    """
    if b is None:
        return None
    if len(b) == 4:
        return ".".join(str(x) for x in b)
    if len(b) != 16:
        return None
    if b[:12] == V4_MAPPED_PREFIX:
        return ".".join(str(x) for x in b[12:])
    return str(ipaddress.IPv6Address(b))


def sort_intervals(
    intervals: list[tuple[int, int]],
) -> tuple[np.ndarray, np.ndarray]:
    """Merge + sort [lo,hi] 128-bit int intervals into |S16 key arrays."""
    merged: list[tuple[int, int]] = []
    for lo, hi in sorted(intervals):
        if merged and lo <= merged[-1][1] + 1:
            prev_lo, prev_hi = merged[-1]
            merged[-1] = (prev_lo, max(prev_hi, hi))
        else:
            merged.append((lo, hi))
    lo_arr = np.array([int128_to_bytes(lo) for lo, _ in merged], dtype="|S16")
    hi_arr = np.array([int128_to_bytes(hi) for _, hi in merged], dtype="|S16")
    return lo_arr, hi_arr


def membership(
    keys: np.ndarray, mask: np.ndarray, lo_arr: np.ndarray, hi_arr: np.ndarray
) -> np.ndarray:
    """For object array of 16-byte keys (None where invalid) return an
    object array of True/False/None membership flags."""
    out = np.full(len(keys), None, dtype=object)
    valid_idx = np.flatnonzero(mask)
    if len(valid_idx) == 0 or len(lo_arr) == 0:
        if len(lo_arr) == 0:
            out[valid_idx] = False
        return out
    kb = np.array([keys[i] for i in valid_idx], dtype="|S16")
    pos = np.searchsorted(lo_arr, kb, side="right") - 1
    ok = pos >= 0
    hit = np.zeros(len(kb), dtype=bool)
    hit[ok] = kb[ok] <= hi_arr[pos[ok]]
    out[valid_idx] = hit.astype(object)
    return out
