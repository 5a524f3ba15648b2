"""MMDB writer round-trip property tests + spur.full golden tests over
a synthesized spur.mmdb fixture (no public Spur test file exists)."""

import ipaddress

import numpy as np
import pytest

from polars_iptools_spark.functions import spur
from polars_iptools_spark.schemas import SPUR_SCHEMA
from polars_iptools_spark.sources.mmdb import load_interval_table
from polars_iptools_spark.sources.mmdb_writer import write_mmdb


def _key(ipstr):
    a = ipaddress.ip_address(ipstr)
    v = int(a) | (0xFFFF00000000 if a.version == 4 else 0)
    return np.array([v.to_bytes(16, "big")], dtype="|S16")



@pytest.mark.parametrize("record_size", [24, 28, 32])
@pytest.mark.parametrize("ipv4_aliased", [False, True])
def test_writer_record_sizes_and_ipv4_layouts(tmp_path, record_size, ipv4_aliased):
    """Every spec record size round-trips through both decoder walks,
    and the GeoLite2 layout serves IPv4 from ::/96 as well as from
    ::ffff:0:0/96."""
    from polars_iptools_spark.sources.mmdb import MMDBFile

    entries = [
        ("8.8.8.0/24", {"n": 1}),
        ("10.0.0.0/8", {"n": 2}),
        ("2606:4700::/32", {"n": 3}),
    ]
    p = tmp_path / "t.mmdb"
    write_mmdb(p, entries, record_size=record_size, ipv4_aliased=ipv4_aliased)
    f = MMDBFile(p)
    assert f.record_size == record_size
    a, b = f.enumerate_intervals(), f._enumerate_intervals_py()
    assert (a.lo == b.lo).all() and (a.hi == b.hi).all()
    assert [a.records[i] for i in a.rec_idx] == [b.records[i] for i in b.rec_idx]
    assert len(a.lo) == (5 if ipv4_aliased else 3)
    for ipstr, n in [("8.8.8.8", 1), ("10.1.2.3", 2), ("2606:4700::1", 3)]:
        assert a.records[a.lookup_indices(_key(ipstr))[0]] == {"n": n}
    assert a.lookup_indices(_key("1.1.1.1"))[0] == -1
    compat = int(ipaddress.ip_address("8.8.8.8")).to_bytes(16, "big")
    hit = a.lookup_indices(np.array([compat], dtype="|S16"))[0]
    assert (hit >= 0) == ipv4_aliased



def test_writer_28_bit_high_nibbles(tmp_path):
    """A record value past 2**24 puts bits in the shared middle byte of
    a 28-bit node; writer and both decoder walks must agree on them."""
    from polars_iptools_spark.sources.mmdb import MMDBFile

    p = tmp_path / "t28.mmdb"
    entries = [("8.8.8.0/24", {"pad": b"x" * (1 << 24)}), ("10.0.0.0/8", {"n": 2})]
    write_mmdb(p, entries, record_size=28)
    f = MMDBFile(p)
    assert f._tree_records().max() >= 1 << 24
    a, b = f.enumerate_intervals(), f._enumerate_intervals_py()
    assert (a.lo == b.lo).all() and (a.hi == b.hi).all()
    assert [a.records[i] for i in a.rec_idx] == [b.records[i] for i in b.rec_idx]
    assert a.records[a.lookup_indices(_key("10.1.2.3"))[0]] == {"n": 2}

def test_writer_rejects_bad_record_size_and_alias_clash(tmp_path):
    with pytest.raises(ValueError, match="record_size"):
        write_mmdb(tmp_path / "a.mmdb", [("8.8.8.0/24", {"n": 1})], record_size=30)
    # the aliased layout owns ::ffff:0:0/96, so an entry there clashes
    with pytest.raises(ValueError, match="alias"):
        write_mmdb(
            tmp_path / "b.mmdb",
            [("8.8.8.0/24", {"n": 1}), ("::ffff:1.2.3.0/120", {"n": 2})],
            ipv4_aliased=True,
        )
    with pytest.raises(ValueError, match="24-bit"):
        write_mmdb(
            tmp_path / "c.mmdb",
            [("8.8.8.0/24", {"blob": b"x" * (1 << 24)})],
            record_size=24,
        )

def test_writer_reader_roundtrip(tmp_path):
    entries = [
        ("8.8.8.0/24", {"name": "google", "num": 15169, "score": 1.5}),
        ("10.0.0.0/8", {"name": "rfc1918", "flag": True}),
        ("2606:4700::/32", {"name": "cloudflare", "tags": ["a", "b"]}),
        ("192.0.2.128/25", {"name": "testnet-upper", "big": 2**40}),
    ]
    p = tmp_path / "t.mmdb"
    write_mmdb(p, entries)
    t = load_interval_table(p)
    cases = {
        "8.8.8.8": {"name": "google", "num": 15169, "score": 1.5},
        "10.255.0.1": {"name": "rfc1918", "flag": True},
        "2606:4700::1111": {"name": "cloudflare", "tags": ["a", "b"]},
        "192.0.2.129": {"name": "testnet-upper", "big": 2**40},
        "192.0.2.1": None,
        "1.1.1.1": None,
        "2607::1": None,
    }
    for ipstr, expected in cases.items():
        i = t.lookup_indices(_key(ipstr))[0]
        got = t.records[i] if i >= 0 else None
        assert got == expected, (ipstr, got, expected)


def test_writer_rejects_nested_networks(tmp_path):
    with pytest.raises(ValueError, match="nested|contains"):
        write_mmdb(
            tmp_path / "bad.mmdb",
            [("8.8.0.0/16", {"a": 1}), ("8.8.8.0/24", {"a": 2})],
        )


def test_writer_random_roundtrip(tmp_path):
    """Property-ish: 100 random disjoint /24s decode to exactly their
    records at sampled addresses inside and outside."""
    import random

    rnd = random.Random(9)
    nets = {}
    while len(nets) < 100:
        a, b, c = rnd.randrange(1, 224), rnd.randrange(256), rnd.randrange(256)
        if a in (10, 127):
            continue
        nets[f"{a}.{b}.{c}.0/24"] = {"id": len(nets)}
    p = tmp_path / "r.mmdb"
    write_mmdb(p, list(nets.items()))
    t = load_interval_table(p)
    for cidr, rec in nets.items():
        base = cidr.split("/")[0]
        probe = base.rsplit(".", 1)[0] + f".{rnd.randrange(256)}"
        i = t.lookup_indices(_key(probe))[0]
        assert i >= 0 and t.records[i] == rec, (cidr, probe)


@pytest.fixture(scope="module")
def spur_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("spurdb")
    entries = [
        (
            "5.5.5.0/24",
            {
                "clientCount": 12.5,
                "infrastructure": "DATACENTER",
                "locationCity": "Amsterdam",
                "locationCountry": "NL",
                "locationState": "North Holland",
                "services": ["VPN", "PROXY"],
                "tag": "anon",
            },
        ),
        ("7.7.0.0/16", {"infrastructure": "MOBILE", "clientCount": 3.0}),
    ]
    write_mmdb(d / "spur.mmdb", entries, database_type="spur")
    return str(d)


def test_spur_full_golden(spark, spur_dir):
    """Field order + defaults per src/spurdb.rs:16-28,183; null/invalid
    -> all-null struct per src/spur.rs:41-44."""
    ips = ["5.5.5.123", "7.7.1.1", "8.8.8.8", "999.9.9.9", None]
    df = spark.createDataFrame([(x,) for x in ips], "ip string")
    res = df.select(spur.full("ip", db_dir=spur_dir).alias("result"))
    assert res.schema["result"].dataType == SPUR_SCHEMA
    rows = [r.result.asDict() for r in res.collect()]
    assert rows[0] == {
        "client_count": 12.5, "infrastructure": "DATACENTER",
        "location_city": "Amsterdam", "location_country": "NL",
        "location_state": "North Holland", "services": ["VPN", "PROXY"],
        "tag": "anon",
    }
    assert rows[1]["infrastructure"] == "MOBILE"
    assert rows[1]["client_count"] == 3.0
    assert rows[1]["services"] == []  # absent -> default empty list
    # valid-but-not-found -> defaults (src/spurdb.rs:183)
    assert rows[2] == {
        "client_count": 0.0, "infrastructure": "", "location_city": "",
        "location_country": "", "location_state": "", "services": [], "tag": "",
    }
    # invalid + null -> all-null struct
    assert all(v is None for v in rows[3].values())
    assert all(v is None for v in rows[4].values())


def test_spur_reload(spark, spur_dir, tmp_path):
    """reload_mmdb re-reads the file (MaxMindDB::reload analog)."""
    import shutil

    d = tmp_path / "reload_dir"
    d.mkdir()
    shutil.copy(f"{spur_dir}/spur.mmdb", d / "spur.mmdb")
    df = spark.createDataFrame([("5.5.5.5",)], "ip string")
    r1 = df.select(spur.full("ip", db_dir=str(d)).alias("r")).collect()[0].r
    assert r1.tag == "anon"
    write_mmdb(d / "spur.mmdb", [("5.5.5.0/24", {"tag": "updated"})],
               database_type="spur")
    # without reload the old broadcast is reused
    r2 = df.select(spur.full("ip", db_dir=str(d)).alias("r")).collect()[0].r
    assert r2.tag == "anon"
    r3 = df.select(
        spur.full("ip", reload_mmdb=True, db_dir=str(d)).alias("r")
    ).collect()[0].r
    assert r3.tag == "updated"


def test_spur_missing_db_errors():
    with pytest.raises(FileNotFoundError, match="SPUR_MMDB_DIR"):
        spur.full("ip", db_dir="/nonexistent")
