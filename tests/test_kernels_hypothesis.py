"""Hypothesis property tests for the pure-numpy hot-path kernels —
no SparkSession needed, so they pin the batch kernels' semantics
independently of the JVM.

Contracts:
1. ``_ipparse.ip_keys`` (the one batch -> 16-byte key kernel behind
   every address UDF) agrees with stdlib ``ipaddress`` and
   ``V4_FULLMATCH`` on Arrow text, binary and u32 batches (string and
   large_string, binary and large_binary, int64 and float64).
2. ``_ipparse.find_interval`` (the one interval probe) agrees with a
   brute-force scan, on ``|S16`` keys ending in NUL bytes and on
   uint32 keys.
3. ``jaro_winkler_batch`` (the vectorized (L, N) matrix kernel that
   scores candidate pairs) must agree with the scalar textbook
   ``jaro_winkler`` to float precision on every string pair.
"""

import ipaddress

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from polars_iptools_spark.functions import _ipparse
from polars_iptools_spark.plans import scoring

# -- strategies ---------------------------------------------------------

_octet = st.integers(0, 255)
_v4 = st.builds(lambda a, b, c, d: f"{a}.{b}.{c}.{d}", _octet, _octet, _octet, _octet)
_v6 = st.integers(0, (1 << 128) - 1).map(lambda v: str(ipaddress.IPv6Address(v)))
_garbage = st.text("0123456789abcdefg.:% \n", max_size=20)
_ip_like = st.one_of(_v4, _v6, _garbage, st.none())


_MAPPED = b"\x00" * 10 + b"\xff\xff"


def _stdlib_key(addr) -> tuple[int, bytes]:
    """Parsed address -> (family, 16-byte key); v4 is stored v4-mapped
    and a v4-mapped IPv6 *binary* key counts as family 4."""
    if addr.version == 4:
        return 4, _MAPPED + addr.packed
    return (4 if addr.packed[:12] == _MAPPED else 6), addr.packed


def _check_keys(a, expect):
    keys, fam = _ipparse.ip_keys(a)
    m = _ipparse.key_matrix(keys)
    assert keys.dtype == np.dtype("|S16") and fam.dtype == np.int8
    assert len(keys) == len(fam) == len(expect)
    for i, (f, k) in enumerate(expect):
        assert fam[i] == f, (i, a[i], fam[i], f)
        assert m[i].tobytes() == (k if f else bytes(16)), (i, a[i])


_ip_text = st.one_of(
    _ip_like,
    st.builds(lambda v: f"::ffff:{v}", _v4),  # v4-mapped text is IPv6
    st.builds(lambda v, t: v + t, st.one_of(_v4, _v6), st.sampled_from(["\n", "\x00", " "])),
    st.builds(lambda v: v + "%eth0", _v6),  # scoped IPv6
)


@settings(max_examples=200, deadline=None)
@given(st.lists(_ip_text, max_size=40))
def test_ip_keys_text_matches_stdlib(vals):
    """Text: strict dotted quads (V4_FULLMATCH) are family 4; any other
    string stdlib parses is IPv6 (v4-mapped text included) and family
    6; everything else, and null, is family 0 with a zero key."""
    expect = []
    for v in vals:
        if v is None:
            expect.append((0, b""))
            continue
        try:
            addr = ipaddress.ip_address(v)
        except ValueError:
            addr = None
        assert (addr is not None and addr.version == 4) == bool(
            _ipparse.V4_FULLMATCH.match(v)
        ), v
        if addr is None:
            expect.append((0, b""))
        elif addr.version == 4:
            expect.append(_stdlib_key(addr))
        else:
            expect.append((6, addr.packed))
    for typ in (pa.string(), pa.large_string()):
        _check_keys(pa.array(vals, typ), expect)


_addr_bytes = st.one_of(
    st.binary(min_size=4, max_size=4),
    st.binary(min_size=16, max_size=16),
    st.builds(lambda b: _MAPPED + b, st.binary(min_size=4, max_size=4)),
    # trailing NULs: |S16 element access would drop them
    st.builds(lambda b: b + bytes(16 - len(b)), st.binary(max_size=15)),
    st.binary(max_size=20),
)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.one_of(_addr_bytes, st.none()), max_size=40))
def test_ip_keys_binary_matches_stdlib(vals):
    """Binary: 4- and 16-byte values are addresses (stdlib
    ``ip_address(bytes)``), other lengths and null are family 0."""
    expect = [
        _stdlib_key(ipaddress.ip_address(v))
        if v is not None and len(v) in (4, 16)
        else (0, b"")
        for v in vals
    ]
    for typ in (pa.binary(), pa.large_binary()):
        _check_keys(pa.array(vals, typ), expect)
        # a sliced array (non-zero offset) reads the same rows
        _check_keys(pa.array([bytes(16)] + vals, typ).slice(1), expect)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.one_of(st.integers(-3, (1 << 32) + 3), st.integers(0, (1 << 32) - 1)),
        max_size=40,
    ),
    st.lists(st.booleans(), max_size=40),
)
def test_ip_keys_u32_matches_stdlib(nums, nulls):
    """u32: values in [0, 2**32) are IPv4; null and out-of-range values
    are family 0.  A long column arrives as int64 with nulls; a double
    column as float64, where NaN and fractions are family 0 too."""
    vals = [None if i < len(nulls) and nulls[i] else v for i, v in enumerate(nums)]
    expect = [
        _stdlib_key(ipaddress.IPv4Address(v))
        if v is not None and 0 <= v < (1 << 32)
        else (0, b"")
        for v in vals
    ]
    _check_keys(pa.array(vals, pa.int64()), expect)
    _check_keys(pa.array(vals, pa.float64()), expect)
    # fractions and NaN are not u32 values
    frac = [None if v is None else v + 0.5 for v in vals] + [float("nan")]
    _check_keys(pa.array(frac, pa.float64()), [(0, b"")] * len(frac))


# interval bounds biased to values with trailing zero bytes
_point = st.one_of(
    st.integers(0, (1 << 128) - 1),
    st.builds(lambda v, k: v << (8 * k), st.integers(0, (1 << 32) - 1), st.integers(0, 12)),
    st.builds(lambda v: 0xFFFF00000000 | v, st.integers(0, (1 << 32) - 1)),
)


def _disjoint(points, singles):
    """Sorted distinct points -> sorted disjoint [lo, hi] intervals
    (a point is its own interval where ``singles`` says so)."""
    pts = sorted(set(points))
    out, i = [], 0
    while i < len(pts):
        if i + 1 < len(pts) and not (i < len(singles) and singles[i]):
            out.append((pts[i], pts[i + 1]))
            i += 2
        else:
            out.append((pts[i], pts[i]))
            i += 1
    return out


def _brute(intervals, k):
    return next((j for j, (lo, hi) in enumerate(intervals) if lo <= k <= hi), -1)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(_point, max_size=24),
    st.lists(st.booleans(), max_size=24),
    st.lists(_point, max_size=24),
)
def test_find_interval_s16_matches_bruteforce(points, singles, extra):
    iv = _disjoint(points, singles)
    probes = [p + d for lo, hi in iv for p in (lo, hi) for d in (-1, 0, 1)]
    probes = [p for p in probes + extra if 0 <= p < (1 << 128)]

    def s16(vals):
        return np.array([v.to_bytes(16, "big") for v in vals], dtype="|S16")

    got = _ipparse.find_interval(
        s16([lo for lo, _ in iv]), s16([hi for _, hi in iv]), s16(probes)
    )
    assert got.tolist() == [_brute(iv, k) for k in probes]


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(0, (1 << 32) - 1), max_size=24),
    st.lists(st.booleans(), max_size=24),
    st.lists(st.integers(0, (1 << 32) - 1), max_size=24),
)
def test_find_interval_u32_matches_bruteforce(points, singles, extra):
    iv = _disjoint(points, singles)
    probes = [p + d for lo, hi in iv for p in (lo, hi) for d in (-1, 0, 1)]
    probes = [p for p in probes + extra if 0 <= p < (1 << 32)]
    got = _ipparse.find_interval(
        np.array([lo for lo, _ in iv], dtype=np.uint32),
        np.array([hi for _, hi in iv], dtype=np.uint32),
        np.array(probes, dtype=np.uint32),
    )
    assert got.tolist() == [_brute(iv, k) for k in probes]


_v4ish = st.one_of(
    _v4,
    # near-miss forms the strict gate must reject exactly like the regex
    st.builds(lambda a, b, c: f"{a}.{b}.{c}", _octet, _octet, _octet),
    st.builds(lambda v4: "0" + v4, _v4),
    st.builds(lambda v4: v4 + " ", _v4),
    st.builds(lambda v4: " " + v4, _v4),
    # trailing newline: '$'-anchored regex would accept, absolute \Z
    # (and the strict parser) reject — the class the ADVICE flagged
    st.builds(lambda v4: v4 + "\n", _v4),
    st.builds(lambda v4: "0x" + v4, _v4),
    st.builds(lambda a, b: f"{a}.{b}", st.integers(0, 2**24 - 1), _octet),
    # NUL suffix: indistinguishable from Arrow/C terminators unless the
    # parser checks true string length (r07 vectorized path)
    st.builds(lambda v4: v4 + "\x00", _v4),
    st.text("0123456789.x \n\x00", max_size=18),
)


@settings(max_examples=300, deadline=None)
@given(st.lists(st.one_of(_v4ish, st.none()), max_size=30))
def test_parse_v4_strict_equals_regex(vals):
    """The Arrow-compute strict parser accepts EXACTLY the strict
    dotted-quad language of V4_FULLMATCH, with equal values; null is
    invalid."""
    for typ in (pa.string(), pa.large_string()):
        nums, mask = _ipparse.parse_v4_strict(pa.array(vals, typ))
        for i, v in enumerate(vals):
            m = v is not None and _ipparse.V4_FULLMATCH.match(v)
            assert bool(mask[i]) == bool(m), f"{v!r}: strict={mask[i]} regex={bool(m)}"
            if m:
                expect = sum(int(g) << k for g, k in zip(m.groups(), (24, 16, 8, 0)))
                assert int(nums[i]) == expect, (v, nums[i], expect)


# -- is_in: interval kernel vs stdlib ipaddress -------------------------

_v4_cidr = st.builds(
    lambda a, b, c, d, p: f"{a}.{b}.{c}.{d}/{p}",
    _octet, _octet, _octet, _octet, st.integers(0, 32),
)
_v6_cidr = st.builds(
    lambda v, p: f"{ipaddress.IPv6Address(v)}/{p}",
    st.integers(0, (1 << 128) - 1),
    st.integers(0, 128),
)
_mapped_text = st.builds(lambda a, b: f"::ffff:{a}.{b}.7.9", _octet, _octet)
_member_probe = st.one_of(_v4, _v6, _mapped_text, _garbage, st.none())


def _expected_member(s, v4_nets, v6_nets):
    """Reference semantics via stdlib: null/invalid -> None; textual
    family routes to that family's CIDR list only (a v4-mapped IPv6
    STRING is a v6 address, /root/reference/src/iptools.rs:160-166)."""
    if s is None:
        return None
    try:
        addr = ipaddress.ip_address(s)
    except ValueError:
        return None
    if addr.version == 4:
        return any(addr in n for n in v4_nets)
    return any(addr in n for n in v6_nets)


@settings(max_examples=250, deadline=None)
@given(
    st.lists(st.one_of(_v4_cidr, _v6_cidr), min_size=1, max_size=12),
    st.lists(_member_probe, max_size=25),
)
def test_is_in_kernel_matches_stdlib(cidrs, probes):
    from polars_iptools_spark.functions import iptools

    v4_iv, v6_iv = iptools._compile_networks(cidrs)
    l4, h4 = _ipparse.sort_intervals(v4_iv)
    l6, h6 = _ipparse.sort_intervals(v6_iv)
    nets = [ipaddress.ip_network(c, strict=False) for c in cidrs]
    v4_nets = [n for n in nets if n.version == 4]
    v6_nets = [n for n in nets if n.version == 6]
    for typ in (pa.string(), pa.large_string()):
        got = iptools._is_in_kernel(pa.array(probes, typ), l4, h4, l6, h6).to_pylist()
        for i, s in enumerate(probes):
            exp = _expected_member(s, v4_nets, v6_nets)
            assert got[i] == exp, (s, cidrs, got[i], exp)


_word = st.text(
    st.characters(codec="utf-8", exclude_categories=("Cs",)), max_size=24
)


@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(_word, _word), min_size=1, max_size=30))
def test_jw_batch_matches_scalar(pairs):
    a = pa.array([p[0] for p in pairs], pa.string())
    b = pa.array([p[1] for p in pairs], pa.string())
    batch = scoring.jaro_winkler_batch(a, b)
    for i, (x, y) in enumerate(pairs):
        expect = scoring.jaro_winkler(x, y)
        assert abs(batch[i] - expect) < 1e-12, (x, y, batch[i], expect)
