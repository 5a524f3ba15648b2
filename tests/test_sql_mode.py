"""SQL-text front-end parity — the Spark analog of the reference's
eager/lazy dual-run contract (/root/reference/tests/test_iptools.py:8-27
parametrizes every golden fixture over both front-ends).  Each scalar
op here runs through the DataFrame API and through ``spark.sql`` TEXT
(rendered expression for pure-Catalyst ops, registered ``pis_*``
functions for Arrow-UDF-backed ops) and the results must agree."""

import pytest
from pyspark.sql import functions as F

import polars_iptools_spark as ip

IPS = [
    "8.8.8.8", "1.1.1.1", "999.9.9.9", "2606:4700::1111", None, "::1",
    "abcd", "", "10.1.2.3", "172.16.0.1", "192.168.255.255", "08.8.8.8",
    "255.255.255.255", "::ffff:1.2.3.4", "fe80::1", "0.0.0.0",
]

TEXTS = [
    "conn 8.8.8.8 and 10[.]0[.]0[.]7 end",
    "v6 [2001:DB8::2:1]:443 plus fe80[:][:]1 and 1.2.3.4:80",
    "nothing here",
    None,
    "dup 9.9.9.9 9.9.9.9 255.255.255.255 127.0.0.1",
]

NETWORKS = ["8.8.8.0/24", "10.0.0.0/8", "172.16.0.0/12"]

NATIVE_CASES = {
    "is_valid": lambda: ip.is_valid("ip"),
    "is_private": lambda: ip.is_private("ip"),
    "ipv4_to_numeric": lambda: ip.ipv4_to_numeric("ip"),
    "numeric_to_ipv4_roundtrip": lambda: ip.numeric_to_ipv4(
        ip.ipv4_to_numeric("ip")
    ),
    "to_ipv4": lambda: ip.to_ipv4("ip"),
    "is_in_native_v4_path": lambda: ip.is_in("ip", NETWORKS),
}


@pytest.fixture(scope="module")
def ip_view(spark):
    df = spark.createDataFrame([(i, x) for i, x in enumerate(IPS)], "rid long, ip string")
    df.createOrReplaceTempView("sqlmode_ips")
    return df


@pytest.fixture(scope="module")
def text_view(spark):
    df = spark.createDataFrame(
        [(i, x) for i, x in enumerate(TEXTS)], "rid long, text string"
    )
    df.createOrReplaceTempView("sqlmode_texts")
    return df


@pytest.mark.parametrize("name", sorted(NATIVE_CASES))
def test_native_op_sql_text_parity(spark, ip_view, name):
    """Pure-Catalyst ops: the DSL-built expression rendered to SQL text
    and re-parsed by spark.sql must produce identical results."""
    col = NATIVE_CASES[name]()
    api = ip_view.select("rid", col.alias("out")).collect()
    txt = ip.column_sql(col)
    via_sql = spark.sql(f"SELECT rid, {txt} AS out FROM sqlmode_ips").collect()
    assert api == via_sql


def test_native_extract_sql_text_parity(spark, text_view):
    for col in (ip.extract_ips("text"), ip.extract_public_ips("text")):
        api = text_view.select("rid", col.alias("out")).collect()
        txt = ip.column_sql(col)
        via_sql = spark.sql(f"SELECT rid, {txt} AS out FROM sqlmode_texts").collect()
        assert api == via_sql


def test_registered_udf_roundtrip_parity(spark, ip_view):
    """Arrow-UDF-backed typed round-trip through registered pis_*
    functions equals the DataFrame API composition."""
    names = ip.register_sql_functions(spark)
    assert "pis_to_address" in names and "pis_to_string" in names
    api = ip_view.select(
        "rid", ip.to_string(ip.to_address("ip")).alias("canonical")
    ).collect()
    via_sql = spark.sql(
        "SELECT rid, pis_to_string(pis_to_address(ip)) AS canonical FROM sqlmode_ips"
    ).collect()
    assert api == via_sql


def test_registered_udf_extract_v6_parity(spark, text_view):
    ip.register_sql_functions(spark)
    api = text_view.select(
        "rid",
        ip.extract_ips("text", ipv6=True).alias("a"),
        ip.extract_public_ips("text", ipv6=True).alias("p"),
    ).collect()
    via_sql = spark.sql(
        "SELECT rid, pis_extract_ips_v6(text) AS a,"
        "       pis_extract_public_ips_v6(text) AS p FROM sqlmode_texts"
    ).collect()
    assert api == via_sql


def test_column_sql_is_plain_text(spark):
    """The rendered form is genuine SQL text (no JVM object repr)."""
    txt = ip.column_sql(ip.is_valid("ip"))
    assert isinstance(txt, str) and "RLIKE" in txt.upper()


def test_registered_enrichment_parity(spark, maxmind_dir):
    """geoip via registered pis_* SQL functions equals the Column API
    (reference golden: 67.43.156.1 -> AS35908)."""
    names = ip.register_enrichment_sql_functions(
        spark, geoip_dir=maxmind_dir
    )
    assert {"pis_geoip_asn", "pis_geoip_full"} <= set(names)
    df = spark.createDataFrame(
        [("67.43.156.1",), ("10.0.0.1",), (None,), ("2001:218::1",)], "ip string"
    )
    df.createOrReplaceTempView("sqlmode_geo")
    api = df.select(
        "ip",
        ip.geoip.asn("ip", db_dir=maxmind_dir).alias("a"),
        ip.geoip.full("ip", db_dir=maxmind_dir).alias("g"),
    ).collect()
    via_sql = spark.sql(
        "SELECT ip, pis_geoip_asn(ip) AS a, pis_geoip_full(ip) AS g FROM sqlmode_geo"
    ).collect()
    assert api == via_sql
    golden = {r.ip: r.a for r in via_sql}
    assert golden["67.43.156.1"] == "AS35908"


def test_rewrite_lambdas_escaped_backslash_literal():
    """ADVICE regression: a rendered literal ending in an escaped
    backslash must still close the string (count preceding backslashes,
    odd = escaped quote)."""
    from polars_iptools_spark.sql import _rewrite_lambdas

    assert (
        _rewrite_lambdas(r"lambdafunction(concat(v, 'a\\'), v)")
        == r"v -> concat(v, 'a\\')"
    )
    # escaped quote inside the literal still treated as content
    assert (
        _rewrite_lambdas(r"lambdafunction(concat(v, 'a\', b'), v)")
        == r"v -> concat(v, 'a\', b')"
    )
    # nested + two-arg forms unaffected
    assert (
        _rewrite_lambdas("lambdafunction(x + y, x, y)") == "(x, y) -> x + y"
    )


def test_enrichment_registration_raises_on_explicit_bad_spur_dir(
    spark, tmp_path, monkeypatch, maxmind_dir
):
    """ADVICE regression: an explicitly-requested Spur dir that lacks
    spur.mmdb must raise, not silently skip the registration; the
    genuinely-unconfigured case still registers geoip only."""
    from polars_iptools_spark.sql import register_enrichment_sql_functions

    with pytest.raises(FileNotFoundError):
        register_enrichment_sql_functions(
            spark, geoip_dir=maxmind_dir, spur_dir=str(tmp_path)
        )
    monkeypatch.delenv("SPUR_MMDB_DIR", raising=False)
    names = register_enrichment_sql_functions(spark, geoip_dir=maxmind_dir)
    assert "pis_geoip_asn" in names and "pis_geoip_full" in names
    assert not any("spur" in n for n in names)


def test_enrichment_registration_warns_on_corrupt_default_spur(
    spark, tmp_path, monkeypatch, maxmind_dir
):
    """Unconfigured-but-corrupt default-dir spur.mmdb: geoip still
    registers, spur is skipped WITH a warning carrying the root cause."""
    import warnings

    from polars_iptools_spark.functions import _enrich
    from polars_iptools_spark.sql import register_enrichment_sql_functions

    (tmp_path / "spur.mmdb").write_bytes(b"not an mmdb at all")
    monkeypatch.delenv("SPUR_MMDB_DIR", raising=False)
    monkeypatch.setattr(_enrich, "DEFAULT_MMDB_PATHS", [str(tmp_path)])
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        names = register_enrichment_sql_functions(
            spark, geoip_dir=maxmind_dir
        )
    assert "pis_geoip_full" in names and not any("spur" in n for n in names)
    assert any("spur_full registration" in str(x.message) for x in w)
