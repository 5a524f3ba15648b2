"""Fluent namespace parity tests, incl. deprecation warnings
(reference tests/test_extension_types.py:130-237)."""

import warnings

from polars_iptools_spark.namespace import ipcol


def run(spark, data, expr):
    df = spark.createDataFrame([(x,) for x in data], "ip string")
    return [r.result for r in df.select(expr.alias("result")).collect()]


def test_namespace_chain_to_string(spark):
    """.ip.to_ipv4().ip.to_string() analog."""
    got = run(spark, ["8.8.8.8", "1.1.1.1"], ipcol("ip").to_ipv4().to_string())
    assert got == ["8.8.8.8", "1.1.1.1"]


def test_namespace_to_address_chain(spark):
    got = run(
        spark, ["8.8.8.8", "2606:4700::1111"], ipcol("ip").to_address().to_string()
    )
    assert got == ["8.8.8.8", "2606:4700::1111"]


def test_namespace_aliases(spark):
    got = run(spark, ["8.8.8.8"], ipcol("ip").to_native().to_canonical())
    assert got == ["8.8.8.8"]


def test_namespace_scalar_ops(spark):
    assert run(spark, ["8.8.8.8", "abcd"], ipcol("ip").is_valid()) == [True, False]
    assert run(spark, ["10.0.0.1"], ipcol("ip").is_private()) == [True]
    assert run(spark, ["8.8.8.8"], ipcol("ip").is_in(["8.8.8.0/24"])) == [True]
    assert run(spark, ["x 8.8.8.8 y"], ipcol("ip").extract_public_ips()) == [
        ["8.8.8.8"]
    ]


def test_deprecated_ipv4_to_numeric_warns_and_works(spark):
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        expr = ipcol("ip").ipv4_to_numeric()
        assert len(w) == 1
        assert issubclass(w[0].category, DeprecationWarning)
        assert "deprecated" in str(w[0].message).lower()
    assert run(spark, ["8.8.8.8", "192.168.30.30"], expr) == [134744072, 3232243230]


def test_deprecated_numeric_to_ipv4_warns_and_works(spark):
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        expr = ipcol("ip").numeric_to_ipv4()
        assert len(w) == 1
        assert issubclass(w[0].category, DeprecationWarning)
    df = spark.createDataFrame([(134744072,), (3232243230,)], "ip long")
    got = [r.result for r in df.select(expr.alias("result")).collect()]
    assert got == ["8.8.8.8", "192.168.30.30"]


def test_namespace_geoip(spark, maxmind_dir):
    got = run(
        spark, ["67.43.156.1"], ipcol("ip").geoip_asn(db_dir=maxmind_dir)
    )
    assert got == ["AS35908"]


def test_env_var_db_resolution(spark, monkeypatch, maxmind_dir):
    """MAXMIND_MMDB_DIR resolution like src/maxmind.rs:82-106."""
    monkeypatch.setenv("MAXMIND_MMDB_DIR", maxmind_dir)
    got = run(spark, ["67.43.156.1"], ipcol("ip").geoip_asn(reload_mmdb=True))
    assert got == ["AS35908"]


def test_namespace_equivalence_both_paths(spark):
    """Every namespace op must agree between the string-name path
    (ipcol("ip")) and the Column-object path (ipcol(F.col("ip"))) AND
    with the module-level function — the Spark analog of the
    reference's Expr/Series dual coverage
    (tests/test_extension_types.py:130-158)."""
    import pyspark.sql.functions as F

    import polars_iptools_spark as ip

    data = ["8.8.8.8", "192.168.1.1", "2606:4700::1111", "999.9.9.9",
            "not an ip", None, "x 7.7.7.7 and 10.0.0.5 y"]
    df = spark.createDataFrame([(x,) for x in data], "ip string")
    nets = ["8.8.8.0/24", "2606:4700::/32"]
    ops = {
        "is_valid": (lambda c: ipcol(c).is_valid(), lambda c: ip.is_valid(c)),
        "is_private": (lambda c: ipcol(c).is_private(), lambda c: ip.is_private(c)),
        "to_ipv4": (
            lambda c: ipcol(c).to_ipv4().to_string(),
            lambda c: ip.to_string(ip.to_ipv4(c)),
        ),
        "to_address": (
            lambda c: ipcol(c).to_address().to_string(),
            lambda c: ip.to_string(ip.to_address(c)),
        ),
        "is_in": (
            lambda c: ipcol(c).is_in(nets),
            lambda c: ip.is_in(c, nets),
        ),
        "extract_ips": (
            lambda c: F.array_join(ipcol(c).extract_ips(), ","),
            lambda c: F.array_join(ip.extract_ips(c), ","),
        ),
        "extract_public_ips": (
            lambda c: F.array_join(ipcol(c).extract_public_ips(), ","),
            lambda c: F.array_join(ip.extract_public_ips(c), ","),
        ),
        "extract_private_ips": (
            lambda c: F.array_join(ipcol(c).extract_private_ips(), ","),
            lambda c: F.array_join(ip.extract_private_ips(c), ","),
        ),
    }
    for name, (ns_fn, mod_fn) in ops.items():
        by_name = [r.r for r in df.select(ns_fn("ip").alias("r")).collect()]
        by_col = [r.r for r in df.select(ns_fn(F.col("ip")).alias("r")).collect()]
        by_mod = [r.r for r in df.select(mod_fn(F.col("ip")).alias("r")).collect()]
        assert by_name == by_col == by_mod, (name, by_name, by_col, by_mod)
