"""Unit tests for the pure-Python MMDB decoder against the golden
GeoLite2 test databases (``mmdb_synth.write_golden_geolite``, FIXTURES.md
§5), which are laid out like the reference's test files: 28-bit
records, IPv4 under ::/96 with ::ffff:0:0/96 aliased to it."""

import ipaddress

import numpy as np
import pytest

from polars_iptools_spark.sources.mmdb import MMDBFile, load_interval_table


@pytest.fixture(scope="module")
def asn_mmdb(maxmind_dir):
    return f"{maxmind_dir}/GeoLite2-ASN.mmdb"


@pytest.fixture(scope="module")
def city_mmdb(maxmind_dir):
    return f"{maxmind_dir}/GeoLite2-City.mmdb"


def _key(ip: str) -> np.ndarray:
    a = ipaddress.ip_address(ip)
    v = int(a) | (0xFFFF00000000 if a.version == 4 else 0)
    return np.array([v.to_bytes(16, "big")], dtype="|S16")


def test_metadata(asn_mmdb):
    f = MMDBFile(asn_mmdb)
    assert f.metadata["database_type"] == "GeoLite2-ASN"
    assert f.record_size in (24, 28, 32)
    assert f.ip_version == 6


def test_asn_goldens(asn_mmdb):
    t = load_interval_table(asn_mmdb)
    i = t.lookup_indices(_key("67.43.156.1"))[0]
    assert t.records[i] == {"autonomous_system_number": 35908}
    i = t.lookup_indices(_key("240b::beef:0:24"))[0]
    assert t.records[i]["autonomous_system_organization"] == "KDDI KDDI CORPORATION"
    assert t.lookup_indices(_key("192.168.1.1"))[0] == -1


def test_city_goldens(city_mmdb):
    t = load_interval_table(city_mmdb)
    i = t.lookup_indices(_key("202.196.224.99"))[0]
    rec = t.records[i]
    assert rec["country"]["iso_code"] == "PH"
    assert rec["location"]["latitude"] == 13.0
    assert rec["postal"]["code"] == "34021"


def test_intervals_sorted_disjoint(asn_mmdb):
    t = load_interval_table(asn_mmdb)
    los = t.lo.astype(bytes)
    his = t.hi.astype(bytes)
    assert all(los[i] <= his[i] for i in range(len(los)))
    assert all(his[i] < los[i + 1] for i in range(len(los) - 1))


def test_vectorized_lookup_matches_scalar(asn_mmdb):
    t = load_interval_table(asn_mmdb)
    ips = ["67.43.156.1", "8.8.8.8", "240b::beef:0:24", "1.1.1.1"]
    keys = np.array(
        [_key(i)[0] for i in ips], dtype="|S16"
    )
    idx = t.lookup_indices(keys)
    for j, ipstr in enumerate(ips):
        assert idx[j] == t.lookup_indices(_key(ipstr))[0]



@pytest.mark.parametrize("name", ["GeoLite2-ASN.mmdb", "GeoLite2-City.mmdb"])
def test_golden_files_keep_reference_layout(maxmind_dir, name):
    """The golden files exercise the decoder paths the reference's test
    files did: 28-bit records (vectorized walk and per-node DFS agree)
    and one IPv4 subtree reached from both ::/96 and ::ffff:0:0/96."""
    f = MMDBFile(f"{maxmind_dir}/{name}")
    assert f.record_size == 28
    a = f.enumerate_intervals()
    b = f._enumerate_intervals_py()
    assert (a.lo == b.lo).all() and (a.hi == b.hi).all()
    assert [a.records[i] for i in a.rec_idx] == [b.records[i] for i in b.rec_idx]
    v4_compat = int(ipaddress.ip_address("67.43.156.1")).to_bytes(16, "big")
    mapped = a.lookup_indices(_key("67.43.156.1"))[0]
    compat = a.lookup_indices(np.array([v4_compat], dtype="|S16"))[0]
    assert mapped >= 0 and mapped == compat

def test_flat_table_split_v4_index():
    """FlatTable splits intervals into a uint32 v4-mapped index and an
    |S16 remainder; keys must route to the right side with exact
    containment, including an interval that CONTAINS the whole
    ::ffff:0:0/96 (served clamped to v4 keys, unclamped to v6 keys)."""
    import ipaddress

    import pyarrow as pa

    from polars_iptools_spark.functions._enrich import FlatTable
    from polars_iptools_spark.functions._ipparse import ip_keys
    from polars_iptools_spark.sources.mmdb import IntervalTable

    def k(ip):
        a = ipaddress.ip_address(ip)
        v = int(a) | (0xFFFF00000000 if a.version == 4 else 0)
        return v.to_bytes(16, "big")

    # sorted disjoint intervals: one pure-v6 block, one block containing
    # all of ::ffff:0:0/96 (straddle), then after it a pure-v6 block
    lo = np.array(
        [k("2001:db8::"), b"\x00" * 16, k("ff00::")], dtype="|S16"
    )
    hi = np.array(
        [
            k("2001:db8::ffff"),
            b"\x00" * 10 + b"\xff\xff" + b"\xff" * 4,  # ends at v4 top
            k("ff00::ff"),
        ],
        dtype="|S16",
    )
    order = np.argsort(lo)
    tab = IntervalTable(
        lo=lo[order],
        hi=hi[order],
        rec_idx=np.array([0, 1, 2], dtype=np.int64)[order],
        records=[{"v": "six"}, {"v": "wide"}, {"v": "high"}],
    )
    ft = FlatTable(tab, [("v", lambda r: r["v"], "miss", pa.string())])
    # the wide interval is not fully inside the /96 -> remainder keeps
    # it; its clamped uint32 image serves the v4 side
    assert len(ft.lo4) == 1 and ft.lo4[0] == 0 and ft.hi4[0] == 0xFFFFFFFF
    assert len(ft.lo6) == 3

    ips = pa.array(
        [
            "10.1.2.3",          # v4 -> wide (clamped)
            "0.0.0.0",           # v4 lower edge
            "255.255.255.255",   # v4 upper edge
            "2001:db8::5",       # v6 -> six
            "2001:db9::5",       # v6 miss
            "ff00::7f",          # v6 -> high
            "::1",               # below the /96, inside wide's raw range
        ]
    )
    kb, fam = ip_keys(ips)
    rows = ft.lookup(kb, fam != 0)
    got = [ft.columns["v"][r].as_py() for r in rows]
    assert got == ["wide", "wide", "wide", "six", "miss", "high", "wide"]


def test_flat_table_interior_nul_keys_regression():
    """numpy compares |S16 arrays against bytes SCALARS with C-string
    semantics (stops at the first NUL), silently mis-bucketing keys with
    interior NULs — the split predicate must use array-vs-array
    comparison.  Interval here is ::ffff:0.0.128.0/115-shaped: its hi
    has interior NULs after the ffff marker."""
    import pyarrow as pa

    from polars_iptools_spark.functions._enrich import FlatTable
    from polars_iptools_spark.sources.mmdb import IntervalTable

    lo = np.array([b"\x00" * 10 + b"\xff\xff\x00\x00\x80\x00"], dtype="|S16")
    hi = np.array([b"\x00" * 10 + b"\xff\xff\x00\x00\x9f\xff"], dtype="|S16")
    tab = IntervalTable(
        lo=lo, hi=hi, rec_idx=np.array([0], dtype=np.int64), records=[{"v": "x"}]
    )
    ft = FlatTable(tab, [("v", lambda r: r["v"], "miss", pa.string())])
    assert len(ft.lo4) == 1          # the regression dropped it
    assert len(ft.lo6) == 0          # fully inside the /96
    key = np.array([b"\x00" * 10 + b"\xff\xff\x00\x00\x90\x01"], dtype="|S16")
    rows = ft.lookup(key, np.array([True]))
    assert ft.columns["v"][rows[0]].as_py() == "x"
