"""Production-shaped MMDB evidence at pytest scale: a synthesized
GeoLite2-City/ASN pair with >=100k networks driven END TO END through
the Spark enrichment path, spot-checked against the synthesizer's
arithmetic oracle and stdlib ``ipaddress`` containment.

(The full 1.9M-network stress with decode wall / broadcast size /
throughput is ``BENCH/mmdb_scale.py --db geolite``; this test keeps the
same machinery permanently green at a CI-sized 120k networks.)
"""

import ipaddress

import numpy as np
import pytest

from polars_iptools_spark.sources import mmdb_synth
from polars_iptools_spark.sources.mmdb import MMDBFile

N_CITY, N_CITY_REC = 120_000, 9_000
N_ASN, N_ASN_REC = 30_000, 5_000


@pytest.fixture(scope="module")
def synth_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("mmdb_scale")
    mmdb_synth.write_synthetic_geolite(
        d,
        n_city_networks=N_CITY,
        n_city_records=N_CITY_REC,
        n_asn_networks=N_ASN,
        n_asn_records=N_ASN_REC,
    )
    return d


def _sample_addrs(n_networks, step=977 * 4096):
    # stay inside the covered address space (avg 2048 addrs/network
    # under the //4 bound used by the stress script)
    return list(range(4096, n_networks * 8192 // 4, step))


def test_tiling_matches_stdlib_ipaddress(synth_dir):
    """The arithmetic oracle's (address -> network) math agrees with
    stdlib containment for sampled networks of every prefix length."""
    sampled = {}
    for i, cidr in mmdb_synth._iter_networks(N_CITY):
        if i % 9973 == 0:
            sampled[i] = cidr
    assert len(sampled) > 10
    for i, cidr in sampled.items():
        net = ipaddress.ip_network(cidr)
        for addr in (net.network_address, net.broadcast_address):
            exp = mmdb_synth.expected_city_record_index(int(addr), N_CITY, N_CITY_REC)
            assert exp == mmdb_synth.record_index(i, N_CITY_REC)
            assert addr in net


def test_vectorized_enumeration_matches_py_dfs(synth_dir):
    """The numpy BFS walk and the per-node DFS agree exactly on a
    >=100k-network rs=32 DB (test_mmdb's golden files cover rs=28)."""
    f = MMDBFile(synth_dir / "GeoLite2-ASN.mmdb")
    a = f.enumerate_intervals()
    b = f._enumerate_intervals_py()
    assert len(a.lo) == len(b.lo) == N_ASN
    assert (a.lo == b.lo).all() and (a.hi == b.hi).all()
    assert [a.records[i] for i in a.rec_idx] == [b.records[i] for i in b.rec_idx]


def test_driver_lookup_matches_oracle(synth_dir):
    f = MMDBFile(synth_dir / "GeoLite2-City.mmdb")
    tab = f.enumerate_intervals()
    assert len(tab.lo) == N_CITY
    addrs = _sample_addrs(N_CITY)
    keys = np.array(
        [(0xFFFF << 32 | a).to_bytes(16, "big") for a in addrs], dtype="|S16"
    )
    idx = tab.lookup_indices(keys)
    for a, i in zip(addrs, idx):
        exp = mmdb_synth.expected_city_record_index(a, N_CITY, N_CITY_REC)
        assert exp is not None and i >= 0
        assert tab.records[i]["city"]["geoname_id"] == 100000 + exp


def test_geoip_full_end_to_end_spark(spark, synth_dir):
    """geoip.full through the real broadcast + Arrow UDF path against a
    120k-network DB: every enriched field recomputed independently from
    the record-index arithmetic."""
    from polars_iptools_spark.functions import geoip

    addrs = _sample_addrs(N_CITY, step=1531 * 4096)
    rows_in = [(a, str(ipaddress.ip_address(a))) for a in addrs]
    df = spark.createDataFrame(rows_in, "addr long, ip string")
    got = {
        r.addr: r.g
        for r in df.select(
            "addr", geoip.full("ip", db_dir=str(synth_dir), reload_mmdb=True).alias("g")
        ).collect()
    }
    assert len(got) == len(addrs)
    for a in addrs:
        j = mmdb_synth.expected_city_record_index(a, N_CITY, N_CITY_REC)
        g = got[a]
        assert g.city == f"City {j}"
        cc = j % 250
        assert g.country == f"Country {cc}"
        assert g.postalcode == f"{j % 100000:05d}"
        assert g.latitude == pytest.approx(-90.0 + (j % 18000) / 100.0)
        assert g.timezone == f"Zone/Region_{j % 400}"
        # ASN side: the ASN DB covers only its first N_ASN tiles
        exp_asn = mmdb_synth.expected_city_record_index(a, N_ASN, N_ASN_REC)
        if exp_asn is not None:
            assert g.asnnum == 1000 + exp_asn
        else:
            assert g.asnnum == 0


def test_tree_records_24_bit_branch(tmp_path):
    """Pin the vectorized 24-bit record decode against the spec layout
    (left = bytes 0-2 big-endian, right = bytes 3-5) on a 2-node tree
    built by hand, independent of the writer's own 24-bit packing.

    Tree: root(0): left->node 1, right->data@0; node 1: left->no-data
    (==node_count), right->data@9.  Data section holds two maps.
    """
    import struct

    from polars_iptools_spark.sources.mmdb_writer import _encode

    node_count = 2
    rec_a = _encode({"x": 1})   # 9 bytes? compute dynamically
    rec_b = _encode({"x": 2})
    data = rec_a + rec_b

    def r24(v):
        return v.to_bytes(3, "big")

    # data pointers: node_count + 16 + offset
    tree = (
        r24(1) + r24(node_count + 16 + 0)
        + r24(node_count) + r24(node_count + 16 + len(rec_a))
    )
    meta = _encode(
        {
            "binary_format_major_version": 2,
            "binary_format_minor_version": 0,
            "build_epoch": 0,
            "database_type": "t24",
            "description": {"en": "t"},
            "ip_version": 6,
            "languages": ["en"],
            "node_count": node_count,
            "record_size": 24,
        }
    )
    blob = tree + b"\x00" * 16 + data + b"\xab\xcd\xefMaxMind.com" + meta
    p = tmp_path / "t24.mmdb"
    p.write_bytes(blob)

    f = MMDBFile(p)
    assert f.record_size == 24
    recs = f._tree_records()
    assert recs.tolist() == [
        [1, node_count + 16 + 0],
        [node_count, node_count + 16 + len(rec_a)],
    ]
    a = f.enumerate_intervals()
    b = f._enumerate_intervals_py()
    assert (a.lo == b.lo).all() and (a.hi == b.hi).all()
    # numpy |S16 strips trailing NULs, so dict keys are the stripped
    # prefixes (the decoder's documented key convention)
    got = {bytes(lo): a.records[i] for lo, i in zip(a.lo, a.rec_idx)}
    # right of root: prefix 1 at depth 1 -> top half, record {"x":1};
    # right of node 1 (path 01): {"x":2}
    assert got[(1 << 127).to_bytes(16, "big").rstrip(b"\x00")] == {"x": 1}
    assert got[(1 << 126).to_bytes(16, "big").rstrip(b"\x00")] == {"x": 2}


def test_geoip_asn_string_end_to_end_spark(spark, synth_dir):
    from polars_iptools_spark.functions import geoip

    addrs = _sample_addrs(N_ASN, step=401 * 4096)
    df = spark.createDataFrame(
        [(a, str(ipaddress.ip_address(a))) for a in addrs], "addr long, ip string"
    )
    got = {
        r.addr: r.a
        for r in df.select(
            "addr", geoip.asn("ip", db_dir=str(synth_dir)).alias("a")
        ).collect()
    }
    for a in addrs:
        j = mmdb_synth.expected_city_record_index(a, N_ASN, N_ASN_REC)
        assert got[a] == f"AS{1000 + j} Synthetic Org {j} LLC"


def test_v6_tiling_end_to_end(tmp_path):
    """v6 networks (2600::/12 tiling) through write -> decode ->
    FlatTable split index: v4 keys hit the uint32 side, v6 keys the
    |S16 remainder, both matching the arithmetic oracle; outside-range
    v4 and v6 addresses miss."""
    import pyarrow as pa

    from polars_iptools_spark.functions._enrich import build_geoip_tables
    from polars_iptools_spark.functions._ipparse import ip_keys

    NV4, NV6, NREC = 10_000, 5_000, 800
    mmdb_synth.write_synthetic_geolite(
        tmp_path,
        n_city_networks=NV4,
        n_city_records=NREC,
        n_asn_networks=3_000,
        n_asn_records=200,
        n_city_v6_networks=NV6,
        n_asn_v6_networks=1_000,
    )
    city = build_geoip_tables(tmp_path)["city"]
    assert len(city.lo4) == NV4 and len(city.lo6) == NV6

    tests = []
    for a in range(0, NV4 * 8192 // 2, 1_234_567):
        tests.append(
            (str(ipaddress.IPv4Address(a)),
             mmdb_synth.expected_city_record_index(a, NV4, NREC))
        )
    span = mmdb_synth._V6_BLOCK_SPAN
    for rel in range(0, NV6 * span // 4, 97 * span // 16 + 12345):
        ai = mmdb_synth.V6_BASE + rel
        tests.append(
            (str(ipaddress.IPv6Address(ai)),
             mmdb_synth.expected_city_v6_record_index(ai, NV4, NV6, NREC))
        )
    tests.append(("203.0.113.9", None))   # past the v4 tiling
    tests.append(("2800::1", None))       # past the v6 tiling
    assert any(e is not None for _, e in tests[-20:-2])  # v6 hits sampled

    kb, fam = ip_keys(pa.array([t[0] for t in tests]))
    rows = city.lookup(kb, fam != 0)
    for (ip_s, exp), r in zip(tests, rows):
        want = f"City {exp}" if exp is not None else ""
        assert city.columns["city"][r].as_py() == want, ip_s

    # stdlib containment agreement on sampled v6 networks
    sampled = [(i, c) for i, c in mmdb_synth._iter_v6_networks(NV6) if i % 997 == 0]
    assert len(sampled) > 3
    for i, cidr in sampled:
        net = ipaddress.ip_network(cidr)
        exp = mmdb_synth.expected_city_v6_record_index(
            int(net.network_address), NV4, NV6, NREC
        )
        assert exp == mmdb_synth.record_index(NV4 + i, NREC)
        assert net.broadcast_address in net


@pytest.fixture(scope="module")
def typed_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("mmdb_typed")
    mmdb_synth.write_synthetic_geolite(
        d,
        n_city_networks=3_000,
        n_city_records=400,
        n_asn_networks=1_500,
        n_asn_records=200,
        n_city_v6_networks=300,
        n_asn_v6_networks=100,
    )
    mmdb_synth.write_synthetic_spur(d, n_networks=2_000, n_records=300, n_v6_networks=200)
    return d


def test_typed_column_enrichment_matches_string(spark, typed_dir):
    """u32, 16-byte binary and 4-byte binary columns enrich exactly like
    the string column they were derived from (a null typed value like a
    null string), through geoip.asn, geoip.full, spur.full and
    to_string(to_address); is_in on a typed column is null throughout."""
    import polars_iptools_spark as ip
    from pyspark.sql import functions as F

    from polars_iptools_spark.functions import geoip, spur

    d = str(typed_dir)
    v4 = [str(ipaddress.IPv4Address(a)) for a in range(4096, 3_000 * 2048, 397 * 1024)]
    v4 += ["203.0.113.9", "0.0.0.0", "255.255.255.255", "10.1.2.0"]
    v6 = [
        str(ipaddress.IPv6Address(mmdb_synth.V6_BASE + k * mmdb_synth._V6_BLOCK_SPAN // 3))
        for k in range(0, 300, 37)
    ] + ["2800::1", "fe80::1"]
    ips = v4 + v6 + ["::ffff:10.0.0.0", "::ffff:0.0.64.1", "bad", None]
    df = (
        spark.createDataFrame(list(enumerate(ips)), "rid int, ip string")
        .withColumn("u32", ip.to_ipv4("ip"))
        .withColumn("b16", ip.to_address("ip"))
        .withColumn("b4", F.unhex(F.lpad(F.hex("u32"), 8, "0")))
    )
    nets = ["10.0.0.0/8", "0.0.0.0/20", "2600::/12"]
    cols = ["ip", "u32", "b16", "b4"]
    exprs = [
        F.struct(
            geoip.asn(c, db_dir=d).alias("asn"),
            geoip.full(c, db_dir=d).alias("full"),
            spur.full(c, db_dir=d).alias("spur"),
            ip.to_string(ip.to_address(c)).alias("addr"),
            ip.is_in(c, nets).alias("is_in"),
        ).alias(f"r_{c}")
        for c in cols
    ]
    rows = df.select("rid", *cols, *exprs).collect()
    null_row = next(r for r in rows if r.ip is None)
    assert sum(r.r_ip.full.city not in (None, "") for r in rows) > 10
    assert sum(r.r_ip.spur.tag not in (None, "") for r in rows) > 5
    assert sum(r.r_ip.asn not in (None, "") for r in rows) > 5
    assert sum(r.r_ip.is_in is True for r in rows) > 3
    for r in rows:
        for c in ("u32", "b16", "b4"):
            ref = null_row.r_ip if r[c] is None else r.r_ip
            got = r[f"r_{c}"]
            assert got.asn == ref.asn, (r.ip, c)
            assert got.full == ref.full, (r.ip, c)
            assert got.spur == ref.spur, (r.ip, c)
            assert got.addr == ref.addr, (r.ip, c)
            assert got.is_in is None, (r.ip, c)
    typed = {r.ip: (r.u32, r.b16, r.b4) for r in rows}
    assert typed["10.1.2.0"] == (0x0A010200, bytes(10) + b"\xff\xff\x0a\x01\x02\x00", b"\x0a\x01\x02\x00")
    assert typed["fe80::1"][0] is None and len(typed["fe80::1"][1]) == 16
