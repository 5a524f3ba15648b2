"""Geo enrichment goldens ported from the reference's tests/test_geoip.py,
run against the in-repo golden GeoLite2-ASN/City test databases that
the ``maxmind_dir`` fixture writes (``mmdb_synth.write_golden_geolite``,
FIXTURES.md §5)."""

import pytest

from polars_iptools_spark.functions import geoip
from polars_iptools_spark.schemas import GEOIP_SCHEMA


def test_asn_lookup(spark, maxmind_dir):
    """ref tests/test_geoip.py:23-40 — org-less record renders 'AS35908'
    with no trailing space; invalid -> empty string."""
    ips = ["67.43.156.1", "240b::beef:0:24", "999.9.9.9"]
    df = spark.createDataFrame([(x,) for x in ips], "ip string")
    got = [
        r.result
        for r in df.select(
            geoip.asn("ip", db_dir=maxmind_dir).alias("result")
        ).collect()
    ]
    assert got == ["AS35908", "AS2516 KDDI KDDI CORPORATION", ""]


def test_asn_null_and_not_found(spark, maxmind_dir):
    ips = [None, "192.168.1.1"]
    df = spark.createDataFrame([(x,) for x in ips], "ip string")
    got = [
        r.result
        for r in df.select(
            geoip.asn("ip", db_dir=maxmind_dir).alias("result")
        ).collect()
    ]
    assert got == [None, ""]


def test_full_geoip_lookup(spark, maxmind_dir):
    """ref tests/test_geoip.py:43-120 — exact golden structs."""
    ips = ["67.43.156.1", "240b::beef:0:24", "202.196.224.99"]
    df = spark.createDataFrame([(x,) for x in ips], "ip string")
    res = df.select(geoip.full("ip", db_dir=maxmind_dir).alias("result"))
    assert res.schema["result"].dataType == GEOIP_SCHEMA
    rows = [r.result.asDict() for r in res.collect()]
    assert rows[0] == {
        "asnnum": 35908, "asnorg": "", "city": "", "continent": "Asia",
        "country": "Bhutan", "country_iso": "BT", "latitude": 27.5,
        "longitude": 90.5, "postalcode": "", "subdivision": "",
        "subdivision_iso": "", "timezone": "Asia/Thimphu",
    }
    assert rows[1] == {
        "asnnum": 2516, "asnorg": "KDDI KDDI CORPORATION", "city": "",
        "continent": "", "country": "", "country_iso": "", "latitude": 0.0,
        "longitude": 0.0, "postalcode": "", "subdivision": "",
        "subdivision_iso": "", "timezone": "",
    }
    assert rows[2] == {
        "asnnum": 0, "asnorg": "", "city": "", "continent": "Asia",
        "country": "Philippines", "country_iso": "PH", "latitude": 13.0,
        "longitude": 122.0, "postalcode": "34021", "subdivision": "",
        "subdivision_iso": "", "timezone": "Asia/Manila",
    }


def test_full_geoip_invalid_and_null(spark, maxmind_dir):
    """null/invalid -> all-null struct fields (src/geoip.rs:41-44)."""
    df = spark.createDataFrame([("999.9.9.9",), (None,)], "ip string")
    rows = [
        r.result.asDict()
        for r in df.select(
            geoip.full("ip", db_dir=maxmind_dir).alias("result")
        ).collect()
    ]
    for row in rows:
        assert all(v is None for v in row.values())


def test_typed_column_inputs(spark, maxmind_dir):
    """Enrichment accepts u32-typed and 16-byte binary IP columns
    (src/iptools.rs:444-502 input normalization)."""
    import polars_iptools_spark as ip

    df = spark.createDataFrame([("67.43.156.1",)], "ip string")
    via_num = df.select(
        geoip.asn(ip.to_ipv4("ip"), db_dir=maxmind_dir).alias("result")
    ).collect()[0].result
    via_bin = df.select(
        geoip.asn(ip.to_address("ip"), db_dir=maxmind_dir).alias("result")
    ).collect()[0].result
    assert via_num == "AS35908"
    assert via_bin == "AS35908"


def test_missing_db_dir_errors():
    with pytest.raises(FileNotFoundError, match="MAXMIND_MMDB_DIR"):
        geoip.asn("ip", db_dir="/nonexistent/dir")
