"""Hypothesis property tests for the pure-numpy hot-path kernels —
no SparkSession needed, so they pin the batch kernels' semantics
independently of the JVM.

Two equivalence contracts:
1. ``pack_ip_series_s16`` (the zero-object |S16 enrichment key path
   added for geoip/spur string batches) must agree byte-for-byte with
   the older object-array ``pack_ip_series`` on every input.
2. ``jaro_winkler_batch`` (the vectorized (L, N) matrix kernel that
   scores candidate pairs) must agree with the scalar textbook
   ``jaro_winkler`` to float precision on every string pair.
"""

import ipaddress

import numpy as np
import pandas as pd
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


@settings(max_examples=200, deadline=None)
@given(st.lists(_ip_like, max_size=40))
def test_pack_s16_matches_object_path(vals):
    s = pd.Series(vals, dtype=object)
    kb, valid = _ipparse.pack_ip_series_s16(s)
    legacy = _ipparse.pack_ip_series(s)
    for i in range(len(s)):
        if legacy[i] is None:
            assert not valid[i], f"row {i}: s16 valid but legacy None ({vals[i]!r})"
        else:
            assert valid[i], f"row {i}: legacy parsed but s16 invalid ({vals[i]!r})"
            # numpy |S16 strips trailing NULs; zero-pad back to 16 for
            # the byte-level comparison (ordering semantics unaffected —
            # see FlatTable.lookup_s16)
            assert bytes(kb[i]).ljust(16, b"\x00") == legacy[i], (
                f"row {i}: key bytes differ ({vals[i]!r})"
            )


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
@given(st.lists(_v4ish, max_size=30))
def test_parse_v4_strict_equals_regex(vals):
    """The inet_aton + canonical-roundtrip parser accepts EXACTLY the
    strict dotted-quad language of V4_FULLMATCH, with equal values;
    bytes-like rows are invalid whatever their content (non-str ->
    invalid), alone or mixed with str rows."""
    for batch in (
        vals,
        [v.encode() for v in vals],
        [bytearray(v.encode()) for v in vals],
        [v.encode() if i % 2 else v for i, v in enumerate(vals)],
    ):
        arr = np.empty(len(batch), dtype=object)
        arr[:] = batch
        nums, mask = _ipparse.parse_v4_strict(arr)
        # the r07 Arrow-compute fast path and the per-row fallback must
        # agree with each other AND with the regex
        nums_f, mask_f = _ipparse._parse_v4_strict_obj(arr)
        assert (mask == mask_f).all()
        assert (nums[mask] == nums_f[mask]).all()
        for i, v in enumerate(batch):
            if not isinstance(v, str):
                assert not mask[i], f"{v!r}: non-str row parsed as valid"
                continue
            m = _ipparse.V4_FULLMATCH.match(v)
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
    got = iptools._is_in_kernel(pd.Series(probes, dtype=object), l4, h4, l6, h6)
    nets = [ipaddress.ip_network(c, strict=False) for c in cidrs]
    v4_nets = [n for n in nets if n.version == 4]
    v6_nets = [n for n in nets if n.version == 6]
    for i, s in enumerate(probes):
        exp = _expected_member(s, v4_nets, v6_nets)
        assert got[i] == exp, (s, cidrs, got[i], exp)


_word = st.text(
    st.characters(codec="utf-8", exclude_categories=("Cs",)), max_size=24
)


@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(_word, _word), min_size=1, max_size=30))
def test_jw_batch_matches_scalar(pairs):
    a = np.array([p[0] for p in pairs], dtype=object)
    b = np.array([p[1] for p in pairs], dtype=object)
    batch = scoring.jaro_winkler_batch(a, b)
    for i, (x, y) in enumerate(pairs):
        expect = scoring.jaro_winkler(x, y)
        assert abs(batch[i] - expect) < 1e-12, (x, y, batch[i], expect)
