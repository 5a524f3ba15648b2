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

This module is the only one that knows the key format: every address
UDF turns its batch into keys with :func:`ip_keys`, probes sorted
intervals with :func:`find_interval`, then gathers.
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
# bounds of ::ffff:0:0/96 as 1-element |S16 arrays, NOT scalars: see
# find_interval on comparing |S16 against a bytes scalar
V4_MAPPED_LO = np.array([V4_MAPPED_PREFIX], dtype="|S16")
V4_MAPPED_HI = np.array([V4_MAPPED_PREFIX + b"\xff" * 4], dtype="|S16")


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


def first_value(vals: np.ndarray):
    """First non-None element of a batch (None if there is none): the
    batch's type, since a Spark column hands every row the same one."""
    return next((v for v in vals if v is not None), None)


def key_matrix(keys: np.ndarray) -> np.ndarray:
    """``|S16`` key array -> (n, 16) uint8 view of its full bytes.

    Element access on ``|S16`` (``keys[i]``) strips trailing NUL bytes,
    so any code that needs the 16 bytes themselves reads this matrix."""
    return np.ascontiguousarray(keys).view(np.uint8).reshape(len(keys), 16)


def is_v4_mapped(m: np.ndarray) -> np.ndarray:
    """(n, 16) uint8 key matrix -> mask of keys inside ::ffff:0:0/96."""
    return (m[:, 10] == 0xFF) & (m[:, 11] == 0xFF) & ~m[:, :10].any(axis=1)


def v4_u32(m: np.ndarray) -> np.ndarray:
    """(n, 16) uint8 key matrix -> uint32 value of each key's last 4 bytes."""
    return np.ascontiguousarray(m[:, 12:16]).view(">u4").ravel().astype(np.uint32)


def _put_v4(m: np.ndarray, rows, nums: np.ndarray) -> None:
    m[rows, 10:12] = 0xFF
    m[rows, 12:16] = nums.astype(">u4").view(np.uint8).reshape(-1, 4)


def ip_keys(s: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """One UDF batch -> (``|S16`` keys, int8 family), mirroring the
    reference's input normalization (``src/iptools.rs:444-502``).

    The batch type is read from its first non-null value:
    - text: strict dotted quads take the vectorized path (family 4);
      only the rest are tried as IPv6 with stdlib ``ipaddress``
      (family 6, v4-mapped text like ``::ffff:1.2.3.4`` included, as
      the reference routes by the parsed family);
    - binary: 16 bytes pass through, 4 bytes become v4-mapped;
    - numeric: u32 values become v4-mapped (a long column with nulls
      arrives as float64 with NaN).
    Family 0 marks null or unparseable rows, whose key bytes are zero;
    binary and numeric rows are family 4 when v4-mapped, 6 otherwise.
    """
    vals = s.to_numpy()
    n = len(vals)
    m = np.zeros((n, 16), dtype=np.uint8)
    fam = np.zeros(n, dtype=np.int8)
    first = first_value(vals)
    if isinstance(first, (bytes, bytearray)):
        lens = np.fromiter(
            (-1 if v is None else len(v) for v in vals), dtype=np.int64, count=n
        )
        for width in (16, 4):
            idx = np.flatnonzero(lens == width)
            if len(idx):
                blob = b"".join(bytes(vals[i]) for i in idx)
                m[idx, 16 - width :] = np.frombuffer(blob, np.uint8).reshape(-1, width)
        m[lens == 4, 10:12] = 0xFF
        fam[lens == 16] = 6
        fam[(lens == 4) | ((lens == 16) & is_v4_mapped(m))] = 4
    elif first is None or isinstance(first, str):
        arr = s.astype(object).to_numpy()
        nums, v4 = parse_v4_strict(arr)
        _put_v4(m, v4, nums[v4])
        fam[v4] = 4
        idx6, packed = [], []
        for i in np.flatnonzero(s.notna().to_numpy() & ~v4):
            v = arr[i]
            if isinstance(v, str) and ":" in v:
                try:
                    packed.append(ipaddress.IPv6Address(v).packed)
                except ValueError:
                    continue
                idx6.append(i)
        if idx6:
            m[idx6] = np.frombuffer(b"".join(packed), np.uint8).reshape(-1, 16)
            fam[idx6] = 6
    else:
        nums, ok = u32_values(s)
        _put_v4(m, ok, nums[ok])
        fam[ok] = 4
    return m.view("|S16").reshape(n), fam


def u32_values(s: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Numeric batch -> (uint32 values, mask of the whole numbers in
    ``[0, 2**32)``): fractions, NaN and out-of-range values are not u32."""
    x = pd.to_numeric(s, errors="coerce").to_numpy(dtype=np.float64, na_value=np.nan)
    ok = (x >= 0) & (x <= 0xFFFFFFFF) & (x == np.floor(x))
    return np.where(ok, x, 0).astype(np.uint32), ok


def find_interval(lo: np.ndarray, hi: np.ndarray, keys: np.ndarray) -> np.ndarray:
    """Position of the sorted, disjoint interval ``[lo[i], hi[i]]`` that
    holds each key, or -1 — the package's one interval probe.

    Works on uint32 bounds and on ``|S16`` ones.  ``|S16`` strips
    trailing NULs, which is safe here: NUL is the minimal byte, so a
    stripped prefix sorts exactly where its zero-padded form would, and
    array-vs-array comparison pads both sides the same way.  (Comparing
    against a bytes *scalar* instead stops at the first NUL — never do.)
    """
    pos = np.searchsorted(lo, keys, side="right") - 1
    ok = np.flatnonzero(pos >= 0)
    ok = ok[keys[ok] <= hi[pos[ok]]]
    out = np.full(len(keys), -1, dtype=np.int64)
    out[ok] = pos[ok]
    return out


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
    lo_arr = np.array([lo.to_bytes(16, "big") for lo, _ in merged], dtype="|S16")
    hi_arr = np.array([hi.to_bytes(16, "big") for _, hi in merged], dtype="|S16")
    return lo_arr, hi_arr


def membership(
    keys: np.ndarray,
    fam: np.ndarray,
    l4: np.ndarray,
    h4: np.ndarray,
    l6: np.ndarray,
    h6: np.ndarray,
) -> np.ndarray:
    """``|S16`` keys + family (from :func:`ip_keys`) -> object array of
    True/False membership in the family's own interval set, None where
    the family is 0."""
    out = np.full(len(keys), None, dtype=object)
    for f, lo, hi in ((4, l4, h4), (6, l6, h6)):
        sel = fam == f
        if sel.any():
            out[sel] = find_interval(lo, hi, keys[sel]) >= 0
    return out
