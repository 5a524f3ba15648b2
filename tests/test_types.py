"""Typed-column round-trips ported from
/root/reference/tests/test_extension_types.py — str -> typed -> str
identities, null/invalid handling, metadata tagging, parquet IO."""

import math

import pyarrow as pa
import pytest

import polars_iptools_spark as ip
from polars_iptools_spark import types as iptypes
from polars_iptools_spark.functions.iptools import _to_string_udf


def _roundtrip(spark, ips, via):
    df = spark.createDataFrame([(x,) for x in ips], "ip string")
    out = df.select(ip.to_string(via("ip")).alias("result"))
    return [r.result for r in out.collect()]


def test_to_ipv4_roundtrip(spark):
    """ref test_extension_types.py:12-22"""
    ips = ["8.8.8.8", "192.168.1.1", "255.255.255.255"]
    assert _roundtrip(spark, ips, ip.to_ipv4) == ips


def test_to_ipv4_invalid_returns_null(spark):
    """ref :25-41"""
    assert _roundtrip(spark, ["8.8.8.8", "999.9.9.9", "not_an_ip"], ip.to_ipv4) == [
        "8.8.8.8", None, None,
    ]


def test_to_ipv4_null_passthrough(spark):
    """ref :43-50"""
    df = spark.createDataFrame([(None,), ("8.8.8.8",), (None,)], "ip string")
    got = [r.result for r in df.select(ip.to_ipv4("ip").alias("result")).collect()]
    assert got == [None, 134744072, None]


def test_to_address_roundtrips(spark):
    """ref :56-92 — v4, v6, mixed"""
    assert _roundtrip(spark, ["8.8.8.8", "1.1.1.1"], ip.to_address) == [
        "8.8.8.8", "1.1.1.1",
    ]
    assert _roundtrip(spark, ["2606:4700::1111", "::1"], ip.to_address) == [
        "2606:4700::1111", "::1",
    ]
    mixed = ["8.8.8.8", "2606:4700::1111", "192.168.1.1", "::1"]
    assert _roundtrip(spark, mixed, ip.to_address) == mixed


def test_to_address_invalid_returns_null(spark):
    """ref :95-109"""
    assert _roundtrip(
        spark, ["8.8.8.8", "not_an_ip", "999.9.9.9"], ip.to_address
    ) == ["8.8.8.8", None, None]


def test_to_address_all_null_partition(spark):
    """The reference has an upstream panic on all-null extension
    batches (types.py:16-21); our encoding must not (SURVEY §7)."""
    df = spark.createDataFrame([(None,), (None,)], "ip string").repartition(1)
    got = [r.result for r in df.select(ip.to_address("ip").alias("result")).collect()]
    assert got == [None, None]


def test_to_address_v4_mapped_storage(spark):
    """IPv4 stored as v4-mapped 16-byte binary (src/iptools.rs:338)."""
    df = spark.createDataFrame([("8.8.8.8",)], "ip string")
    b = df.select(ip.to_address("ip").alias("result")).collect()[0].result
    assert bytes(b) == b"\x00" * 10 + b"\xff\xff" + bytes([8, 8, 8, 8])


def test_to_string_from_numeric_column(spark):
    df = spark.createDataFrame([(134744072,), (None,), (4294967296,)], "n long")
    got = [r.result for r in df.select(ip.to_string("n").alias("result")).collect()]
    assert got == ["8.8.8.8", None, None]


def test_to_string_numeric_sweep(spark):
    """Whole numbers in [0, 2**32) render; fractions, negatives and NaN
    are null (not truncated), through to_string and through the
    to_address key path alike."""
    vals = [0.0, 1.0, 1.5, 4294967295.0, 4294967295.5, -1.0, math.nan]
    want = ["0.0.0.0", "0.0.0.1", None, "255.255.255.255", None, None, None]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i int, n double")
    rows = df.select(
        "i",
        ip.to_string("n").alias("direct"),
        ip.to_string(ip.to_address("n")).alias("via_address"),
    ).orderBy("i").collect()
    assert [r.direct for r in rows] == want
    assert [r.via_address for r in rows] == want


def test_to_string_rejects_string_column(spark):
    """A string batch is not reinterpreted as u32 numbers: it raises a
    TypeError naming to_string and the accepted types (the reference
    rejects any other dtype, src/iptools.rs:323)."""
    msg = r"to_string expects a typed IP column \(u32 numeric or 4/16-byte binary\)"
    with pytest.raises(TypeError, match=msg):
        _to_string_udf.func(pa.array(["1234", "1.2.3.4", "::1"]))
    df = spark.createDataFrame([("1234",), ("1.2.3.4",), ("::1",)], "ip string")
    with pytest.raises(Exception, match=msg):
        df.select(ip.to_string("ip")).collect()


def test_to_string_from_4byte_binary(spark):
    """4-byte binary accepted (src/iptools.rs:310-314)."""
    df = spark.createDataFrame([(bytes([1, 2, 3, 4]),)], "b binary")
    got = [r.result for r in df.select(ip.to_string("b").alias("result")).collect()]
    assert got == ["1.2.3.4"]


def test_ip_dtypes_frozenset():
    """ref :115-124"""
    assert iptypes.IPV4_DTYPE in iptypes.IP_DTYPES
    assert iptypes.IPADDRESS_DTYPE in iptypes.IP_DTYPES
    assert len(iptypes.IP_DTYPES) == 2


def test_metadata_tagging_and_parquet_roundtrip(spark, tmp_path):
    """ref :243-305 — typed columns survive parquet with their tag."""
    df = spark.createDataFrame(
        [("8.8.8.8",), ("2606:4700::1111",)], "ip string"
    ).select(
        iptypes.as_ipv4(ip.to_ipv4("ip"), "ip4"),
        iptypes.as_ip_address(ip.to_address("ip"), "addr"),
    )
    assert iptypes.ip_columns(df) == {"ip4": "ipv4", "addr": "ip_address"}
    path = str(tmp_path / "typed.parquet")
    df.write.parquet(path)
    back = spark.read.parquet(path)
    assert iptypes.ip_columns(back) == {"ip4": "ipv4", "addr": "ip_address"}
    vals = back.select(ip.to_string("addr").alias("result")).collect()
    assert sorted(r.result for r in vals) == ["2606:4700::1111", "8.8.8.8"]


def test_metadata_ipc_roundtrip(spark, tmp_path):
    """ref :278-305 — typed columns survive an Arrow IPC file with
    their tag and values (the reference's write_ipc/read_ipc analog)."""
    import pyarrow as pa

    df = spark.createDataFrame(
        [("8.8.8.8",), ("2606:4700::1111",), (None,)], "ip string"
    ).select(
        iptypes.as_ipv4(ip.to_ipv4("ip"), "ip4"),
        iptypes.as_ip_address(ip.to_address("ip"), "addr"),
    )
    tbl = iptypes.to_arrow_tagged(df)
    path = tmp_path / "typed.arrow"
    with pa.ipc.new_file(str(path), tbl.schema) as w:
        w.write_table(tbl)
    with pa.ipc.open_file(str(path)) as r:
        back_tbl = r.read_all()
    back = iptypes.from_arrow_tagged(spark, back_tbl)
    assert iptypes.ip_columns(back) == {"ip4": "ipv4", "addr": "ip_address"}
    vals = back.select(ip.to_string("addr").alias("result")).collect()
    assert sorted(r.result for r in vals if r.result) == [
        "2606:4700::1111", "8.8.8.8",
    ]
    nums = [r.ip4 for r in back.select("ip4").collect()]
    assert sorted(n for n in nums if n is not None) == [134744072]


def test_ndjson_sink_roundtrip(spark, tmp_path):
    """ndjson sink parity (reference run.py:29 writes ndjson): an
    enriched frame with struct + array columns survives
    df.write.json -> spark.read.json with values intact."""
    import polars_iptools_spark as ip
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("x 8.8.8.8 y", "8.8.8.8"), ("no ips", "1.2.3.4")],
        "text string, ipaddr string",
    ).select(
        "ipaddr",
        ip.extract_ips("text").alias("ips"),
        F.struct(
            ip.is_private("ipaddr").alias("priv"),
            ip.ipv4_to_numeric("ipaddr").alias("num"),
        ).alias("meta"),
    )
    out = str(tmp_path / "nd.json")
    df.write.json(out)
    back = spark.read.json(out)
    rows = {r.ipaddr: r for r in back.collect()}
    assert rows["8.8.8.8"].ips == ["8.8.8.8"]
    assert rows["1.2.3.4"].ips == []
    assert rows["8.8.8.8"].meta.num == 134744072
    assert rows["1.2.3.4"].meta.priv is False
