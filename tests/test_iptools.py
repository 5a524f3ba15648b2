"""Golden-frame unit tests ported verbatim from the reference pytest
suite (/root/reference/tests/test_iptools.py) — same inputs, same
expected outputs.  Each case runs through the DataFrame API and, where
marked, through spark.sql text (the Spark analog of the reference's
eager/lazy parametrization, tests/test_iptools.py:8-27)."""

import ipaddress
import random

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

import polars_iptools_spark as ip
from polars_iptools_spark.functions.iptools import _is_private_addr


def run(spark, data, colname, expr):
    df = spark.createDataFrame([(x,) for x in data], f"{colname} string")
    return [r.result for r in df.select(expr.alias("result")).collect()]


def run_typed(spark, data, schema, expr):
    df = spark.createDataFrame([(x,) for x in data], schema)
    return [r.result for r in df.select(expr.alias("result")).collect()]


# -- is_valid (ref tests/test_iptools.py:30-44) --------------------------


def test_is_valid(spark):
    ips = ["8.8.8.8", "1.1.1.1", "999.9.9.9", "2606:4700::1111"]
    assert run(spark, ips, "ip", ip.is_valid("ip")) == [True, True, False, True]


def test_is_valid_null_and_edge(spark):
    ips = [None, "::1", "abcd", "", "1.2.3.4.5", "08.8.8.8", "fe80::1",
           "1:2:3:4:5:6:7.8.9.10", "::ffff:1.2.3.4"]
    assert run(spark, ips, "ip", ip.is_valid("ip")) == [
        None, True, False, False, False, False, True, True, True,
    ]


def test_is_valid_matches_stdlib(spark):
    """Cross-check the native regex against stdlib ipaddress over a
    broad fixed corpus (proxy for the Rust parser)."""
    import ipaddress

    corpus = [
        "0.0.0.0", "255.255.255.255", "256.1.1.1", "1.1.1.01", "1..1.1",
        "::", "::0", "1::", "1:2:3:4:5:6:7:8", "1:2:3:4:5:6:7:8:9",
        "1:2:3:4:5:6:7::", "1:2:3:4:5:6:7:8::", "::1:2:3:4:5:6:7",
        "1::2::3", ":::", "12345::", "g::1", "1:2:3:4:5::6.7.8.9",
        "1:2:3:4:5:6:6.7.8.9", "::ffff:0:1.2.3.4", "::1.2.3.4",
        "1:2:3:4:5:6:7:1.2.3.4", "0:0:0:0:0:0:0:1", " 1.1.1.1", "1.1.1.1 ",
    ]
    expected = []
    for c in corpus:
        try:
            ipaddress.ip_address(c)
            expected.append(True)
        except ValueError:
            expected.append(False)
    assert run(spark, corpus, "ip", ip.is_valid("ip")) == expected


# -- is_private (ref :47-69) ---------------------------------------------


def test_is_private(spark):
    ips = [
        "8.8.8.8",
        "192.168.30.30",
        "10.1.2.3",
        "172.16.25.30",
        "999.9.9.9",
        "2606:4700::1111",
        "fd12:3456:789a:1::1",
    ]
    assert run(spark, ips, "ip", ip.is_private("ip")) == [
        False, True, True, True, False, False, False,
    ]
    # boundary checks around 172.16/12 and null passthrough
    ips2 = ["172.15.255.255", "172.16.0.0", "172.31.255.255", "172.32.0.0", None]
    assert run(spark, ips2, "ip", ip.is_private("ip")) == [
        False, True, True, False, None,
    ]


# -- ipv4_to_numeric (ref :72-92) ----------------------------------------


def test_ipv4_to_numeric(spark):
    ips = ["8.8.8.8", "192.168.30.30", "999.9.9.9", "2606:4700::1111"]
    assert run(spark, ips, "ip", ip.ipv4_to_numeric("ip")) == [
        134744072, 3232243230, None, None,
    ]


def test_ipv4_to_numeric_sql(spark):
    """Same op through spark.sql text."""
    spark.createDataFrame(
        [("8.8.8.8",), ("255.255.255.255",), (None,)], "ip string"
    ).createOrReplaceTempView("t_ips")
    df = spark.table("t_ips").select(ip.ipv4_to_numeric(F.col("ip")).alias("result"))
    assert [r.result for r in df.collect()] == [134744072, 4294967295, None]


# -- numeric_to_ipv4 (ref :95-132) ----------------------------------------


def test_numeric_to_ipv4(spark):
    nums = [134744072, 3232243230, 4294967295, 4294967296, None]
    assert run_typed(spark, nums, "ip long", ip.numeric_to_ipv4("ip")) == [
        "8.8.8.8", "192.168.30.30", "255.255.255.255", None, None,
    ]


def test_numeric_to_ipv4_strings(spark):
    assert run(spark, ["abcde"], "ip", ip.numeric_to_ipv4("ip")) == [None]


# -- is_in (ref :135-171) --------------------------------------------------


@pytest.mark.parametrize(
    "networks",
    [
        ["8.8.8.0/24", "2606:4700::/32"],
        {"8.8.8.0/24", "2606:4700::/32"},
        ("8.8.8.0/24", "2606:4700::/32", None, "8.8.8.0/24"),  # dup+null dropped
    ],
)
def test_is_in(spark, networks):
    ips = ["8.8.8.8", "1.1.1.1", "abcd", "2606:4700::1111"]
    assert run(spark, ips, "ip", ip.is_in("ip", networks)) == [
        True, False, None, True,
    ]


def test_is_in_null_ip(spark):
    assert run(spark, [None, "8.8.8.8"], "ip", ip.is_in("ip", ["8.8.8.0/24"])) == [
        None, True,
    ]


def test_is_in_invalid_network(spark):
    with pytest.raises(ValueError, match="Invalid CIDR range"):
        ip.is_in("ip", {"8.8.8.0/55"})


def test_is_in_v4_mapped_text_is_v6_family(spark):
    """Two-trie family split (ref src/iptools.rs:160-166): v4-mapped
    IPv6 TEXT must not match v4-only CIDRs, and ::ffff:0:0/96 (a v6
    CIDR) must not match plain dotted-quad strings."""
    # mixed set (forces the UDF path): v4-only coverage of 8.8.8.0/24
    nets = ["8.8.8.0/24", "2606:4700::/32"]
    ips = ["8.8.8.8", "::ffff:8.8.8.8", "::ffff:808:808", "2606:4700::1"]
    assert run(spark, ips, "ip", ip.is_in("ip", nets)) == [
        True, False, False, True,
    ]
    # v6 CIDR covering the v4-mapped range matches v6 text, not v4 text
    nets6 = ["::ffff:0:0/96", "2606:4700::/32"]
    assert run(spark, ips, "ip", ip.is_in("ip", nets6)) == [
        False, True, True, True,
    ]


# -- extract_ips (ref :174-198) ---------------------------------------------


def test_extract_ipv4(spark):
    text = [
        "255.255.255.255",
        '{"json":"8.8.8.8"}',
        "X-Forwarded-For: 203.0.113.195, 70.41.3.18, 150.172.238.178",
        "X-Forwarded-For: 203.0.113.195:41237, 198.51.100.100:38523",
    ]
    assert run(spark, text, "text", ip.extract_ips("text")) == [
        ["255.255.255.255"],
        ["8.8.8.8"],
        ["203.0.113.195", "70.41.3.18", "150.172.238.178"],
        ["203.0.113.195", "198.51.100.100"],
    ]


def test_extract_ipv4_and_ipv6_flag(spark):
    """ipv6=True on ipv4-only text gives same result (ref :201-225)."""
    text = [
        "255.255.255.255",
        '{"json":"8.8.8.8"}',
        "X-Forwarded-For: 203.0.113.195, 70.41.3.18, 150.172.238.178",
        "X-Forwarded-For: 203.0.113.195:41237, 198.51.100.100:38523",
    ]
    assert run(spark, text, "text", ip.extract_ips("text", ipv6=True)) == [
        ["255.255.255.255"],
        ["8.8.8.8"],
        ["203.0.113.195", "70.41.3.18", "150.172.238.178"],
        ["203.0.113.195", "198.51.100.100"],
    ]


def test_extract_real_ipv6(spark):
    """ref :228-255"""
    text = [
        "::1",
        '{"json":"8.8.8.8"}',
        "X-Forwarded-For: [2001:db8::1a2b:3c4d]:41237, 198.51.100.100:26321",
        "X-Forwarded-For: 2001:db8:85a3:8d3:1319:8a2e:370:7348",
        'Forwarded: for="[2001:db8::1234]"',
    ]
    assert run(spark, text, "text", ip.extract_ips("text", ipv6=True)) == [
        ["::1"],
        ["8.8.8.8"],
        ["2001:db8::1a2b:3c4d", "198.51.100.100"],
        ["2001:db8:85a3:8d3:1319:8a2e:370:7348"],
        ["2001:db8::1234"],
    ]


def test_extract_defanged(spark):
    """ref :258-280"""
    text = [
        "threat: 192[.]168[.]1[.]1 seen",
        "ioc: 10[.]0[.]0[.]1 and 8.8.8.8",
        "clean text no ips here",
    ]
    assert run(spark, text, "text", ip.extract_ips("text")) == [
        ["192.168.1.1"],
        ["10.0.0.1", "8.8.8.8"],
        [],
    ]


def test_refang_no_minted_markers(spark):
    """The dot-refang pass cannot mint a colon defang marker (it only
    inserts '.', so '[:]'/'(:)' in the refanged text implies the marker
    existed verbatim in the input) — the colon probe on the ORIGINAL
    column is therefore sound.  Mixed-marker text exercising both
    passes, including markers adjacent to each other."""
    text = [
        "v6 fe80[:]0[:]0[:]0[:]0[:]0[:]0[:]1 and 1[.]2[.]3[.]4",
        "adjacent [[.]:] 2606:4700(:)(:)1111 tail",
        "2001[:]db8[:][:]2[:]1 mixed 8(.)8(.)8(.)8",
    ]
    assert run(spark, text, "text", ip.extract_ips("text", ipv6=True)) == [
        ["fe80::1", "1.2.3.4"],
        ["2606:4700::1111"],
        ["2001:db8::2:1", "8.8.8.8"],
    ]


def test_extract_null_text(spark):
    assert run(spark, [None], "text", ip.extract_ips("text")) == [None]
    assert run(spark, [None], "text", ip.extract_ips("text", ipv6=True)) == [None]
    assert run(spark, [None], "text", ip.extract_private_ips("text")) == [None]


def test_extract_v6_gate_mixed_rows(spark):
    """Nulls, '[:]'/'(:)'-defanged v6 rows (UDF side of the gate) and
    '[.]'-only v4 rows (native side) in one frame: every row gets its
    own path's answer, and the gate is computed once, as the UDF's
    input mask, with the native result only filling the UDF's nulls."""
    text = [
        None,
        "v6 fd00[:][:]5 and 2606(:)(:)1111",
        "only dots 10[.]0[.]0[.]1 and 8(.)8(.)8(.)8",
        None,
        "bracket [fd00::3]:443 and 192[.]168[.]1[.]7",
        "plain 1.1.1.1 and no defang",
        "nothing here",
    ]
    assert run(spark, text, "text", ip.extract_ips("text", ipv6=True)) == [
        None,
        ["fd00::5", "2606::1111"],
        ["10.0.0.1", "8.8.8.8"],
        None,
        ["fd00::3", "192.168.1.7"],
        ["1.1.1.1"],
        [],
    ]
    assert run(spark, text, "text", ip.extract_private_ips("text", ipv6=True)) == [
        None, ["fd00::5"], ["10.0.0.1"], None, ["fd00::3", "192.168.1.7"], [], [],
    ]
    df = spark.createDataFrame([(t,) for t in text], "text string")
    plan = df.select(ip.extract_ips("text", ipv6=True))._jdf.queryExecution()
    assert "coalesce(pythonUDF" in plan.executedPlan().toString()


def test_extract_only_public(spark):
    """ref :283-305"""
    text = [
        "public 8.8.8.8 and private 192.168.1.1",
        "loopback 127.0.0.1 and public 1.1.1.1",
        "broadcast 255.255.255.255 and public 9.9.9.9",
    ]
    assert run(spark, text, "text", ip.extract_ips("text", only_public=True)) == [
        ["8.8.8.8"], ["1.1.1.1"], ["9.9.9.9"],
    ]


def test_extract_public_ips(spark):
    """ref :308-317"""
    assert run(
        spark, ["8.8.8.8 and 10.0.0.1"], "text", ip.extract_public_ips("text")
    ) == [["8.8.8.8"]]


def test_extract_private_ips(spark):
    """ref :320-342"""
    text = [
        "public 8.8.8.8 and private 192.168.1.1",
        "private 10.0.0.1 and private 172.16.0.1",
        "only public 1.1.1.1",
    ]
    assert run(spark, text, "text", ip.extract_private_ips("text")) == [
        ["192.168.1.1"],
        ["10.0.0.1", "172.16.0.1"],
        [],
    ]


def test_extract_private_ips_v6(spark):
    """ULA and RFC-1918 kept; v4-mapped RFC-1918 text is an IPv6
    address and stays out, like loopback and public ones; defanged and
    bracketed tokens are found."""
    text = [
        "ula fd12:3456::1 and fc00::1 public 2001:db8::1",
        "v4 10.1.2.3 172.16.5.4 192.168.0.1 public 8.8.8.8",
        "mapped ::ffff:10.0.0.1 loopback ::1 127.0.0.1",
        "defanged 10[.]0[.]0[.]2 and fd00[:][:]5",
        "bracketed [fd00::7]:443 and [2001:db8::2]:80",
        "no colon at all 192.168.9.9 and 1.1.1.1",
        None,
    ]
    assert run(spark, text, "text", ip.extract_private_ips("text", ipv6=True)) == [
        ["fd12:3456::1", "fc00::1"],
        ["10.1.2.3", "172.16.5.4", "192.168.0.1"],
        [],
        ["10.0.0.2", "fd00::5"],
        ["fd00::7"],
        ["192.168.9.9"],
        None,
    ]


def test_extract_private_ips_v6_matches_two_udf_composition(spark):
    """The one-scan private filter equals the former composition: the
    gated IPv6 extractor followed by a second UDF keeping private
    addresses, on random text mixing every token shape."""

    @F.pandas_udf(ArrayType(StringType()))
    def keep_private(s: pd.Series) -> pd.Series:
        def one(lst):
            if lst is None:
                return None
            return [a for a in lst if _is_private_addr(ipaddress.ip_address(a))]

        return s.map(one)

    tokens = [
        "10.0.0.1", "172.31.255.255", "192.168.1.1", "8.8.8.8", "127.0.0.1",
        "255.255.255.255", "fd00::1", "fc12:34::9", "fe80::1", "::1", "::",
        "2001:db8::1", "::ffff:10.0.0.1", "::ffff:8.8.8.8", "10[.]1[.]2[.]3",
        "fd00[:][:]2", "fd00(:)(:)3", "[fd00::4]:443", "[10.0.0.9]", "1.2.3.4:80",
        "word", "a:b", "[x]", "300.1.1.1", "1.2.3", "fd00::1::2",
    ]
    rnd = random.Random(7)
    text = [None] + [
        " ".join(rnd.choice(tokens) for _ in range(rnd.randint(0, 6)))
        for _ in range(400)
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(text)], "i int, text string")
    old = keep_private(
        ip.extract_ips("text", ipv6=True, ignore_loopback=True, ignore_broadcast=True)
    )
    rows = df.select(
        "i", ip.extract_private_ips("text", ipv6=True).alias("new"), old.alias("old")
    ).collect()
    assert len(rows) == len(text)
    assert all(r.new == r.old for r in rows)
    assert sum(bool(r.new) for r in rows) > 100


def test_extract_all_ips_deprecated(spark):
    """ref :345-355"""
    with pytest.warns(DeprecationWarning, match="extract_ips"):
        expr = ip.extract_all_ips("text")
    assert run(spark, ["8.8.8.8 and 1.1.1.1"], "text", expr) == [
        ["8.8.8.8", "1.1.1.1"]
    ]


def test_extract_ignore_private(spark):
    """ref :358-367 — ignore_private keeps loopback"""
    assert run(
        spark,
        ["8.8.8.8 and 192.168.1.1 and 127.0.0.1"],
        "text",
        ip.extract_ips("text", ignore_private=True),
    ) == [["8.8.8.8", "127.0.0.1"]]


def test_trailing_newline_is_invalid_across_all_ops(spark):
    """ADVICE regression: '1.2.3.4\\n' must be invalid EVERYWHERE —
    is_valid (Java regex, \\z anchor), the numeric conversion, the
    strict typed parse and the UDF address path — no cross-op split."""
    import polars_iptools_spark as ip

    df = spark.createDataFrame([("1.2.3.4\n",), ("1.2.3.4",)], "ip string")
    rows = df.select(
        "ip",
        ip.is_valid("ip").alias("valid"),
        ip.ipv4_to_numeric("ip").alias("num"),
        ip.to_string(ip.to_ipv4("ip")).alias("quad"),
        ip.to_string(ip.to_address("ip")).alias("canon"),
    ).collect()
    by = {r.ip: r for r in rows}
    bad, good = by["1.2.3.4\n"], by["1.2.3.4"]
    assert not bad.valid and bad.num is None and bad.quad is None and bad.canon is None
    assert good.valid and good.num == 16909060 and good.quad == "1.2.3.4"
