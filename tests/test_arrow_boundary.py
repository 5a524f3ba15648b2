"""The package's Python-UDF boundary is Arrow-typed.

Every scalar UDF the package builds or registers is an ``arrow_udf``
(``SQL_SCALAR_ARROW_UDF``): it takes and returns ``pa.Array``, so a
batch's type comes from the column's Arrow type.  Spark sends string
and binary columns as ``large_string`` / ``large_binary`` when
``spark.sql.execution.arrow.useLargeVarTypes`` is on; both settings
must give the same rows.
"""

import ipaddress
import re

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType
from pyspark.sql.udf import UDFRegistration
from pyspark.util import PythonEvalType

import polars_iptools_spark as ip
from polars_iptools_spark.operators.similarity import lsh_buckets_banded
from polars_iptools_spark.plans.scoring import jaro_winkler, jaro_winkler_udf
from polars_iptools_spark.sources.mmdb_writer import write_mmdb

ARROW = PythonEvalType.SQL_SCALAR_ARROW_UDF
LARGE = "spark.sql.execution.arrow.useLargeVarTypes"


@pytest.fixture(scope="module")
def spur_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("spur_boundary")
    entries = [
        (
            "67.43.156.0/24",
            {"clientCount": 2.5, "infrastructure": "DATACENTER", "services": ["VPN"]},
        ),
        ("2606:4700::/32", {"tag": "cf", "clientCount": 1.25}),
    ]
    write_mmdb(d / "spur.mmdb", entries, database_type="spur")
    return str(d)


def _plan_eval_types(df) -> list[int]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, plan
    return [
        int(re.search(r", (\d+)$", line).group(1))
        for line in plan.splitlines()
        if "ArrowEvalPython" in line
    ]


def test_every_udf_is_scalar_arrow(spark, maxmind_dir, spur_dir, monkeypatch):
    registered = {}
    original = UDFRegistration.register

    def record(self, name, f, *args, **kwargs):
        registered[name] = f
        return original(self, name, f, *args, **kwargs)

    monkeypatch.setattr(UDFRegistration, "register", record)
    ip.register_sql_functions(spark)
    ip.register_enrichment_sql_functions(spark, geoip_dir=maxmind_dir, spur_dir=spur_dir)
    assert len(registered) == 7, sorted(registered)
    assert {n: f.evalType for n, f in registered.items()} == {n: ARROW for n in registered}
    assert jaro_winkler_udf.evalType == ARROW

    df = spark.createDataFrame([("10.0.0.1", [1.0, 0.0])], "ip string, v array<double>")
    for col in (
        ip.is_in("ip", ["10.0.0.0/8"], _force_udf=True),
        lsh_buckets_banded(F.col("v"), dim=2, n_tables=2, n_planes=3),
    ):
        assert _plan_eval_types(df.select(col)) == [ARROW]


@F.arrow_udf(StringType())
def _batch_type(a: pa.Array) -> pa.Array:
    return pa.array([str(a.type)] * len(a))


def test_large_var_types_same_rows(spark, maxmind_dir, spur_dir):
    ips = [
        "67.43.156.1",
        "240b::beef:0:24",
        "::ffff:67.43.156.1",
        "192.168.1.1",
        "not an ip",
        None,
    ]
    packed = [ipaddress.ip_address(v).packed for v in ips[:4]] + [b"\x01\x02", None]
    df = spark.createDataFrame(
        [
            (i, v, b, f"seen {v} and [2001:db8::1]:443" if v else None)
            for i, (v, b) in enumerate(zip(ips, packed))
        ],
        "i int, ip string, b binary, text string",
    )
    cols = lambda: (  # noqa: E731
        "i",
        _batch_type("ip").alias("t_ip"),
        _batch_type("b").alias("t_b"),
        ip.to_address("ip").alias("addr"),
        ip.to_string(ip.to_address("ip")).alias("canon"),
        ip.to_string("b").alias("b_canon"),
        ip.geoip.full("b", db_dir=maxmind_dir).alias("b_geo"),
        ip.is_in("ip", ["67.43.0.0/16", "240b::/16"], _force_udf=True).alias("member"),
        ip.extract_ips("text", ipv6=True).alias("found"),
        ip.geoip.full("ip", db_dir=maxmind_dir).alias("geo"),
        ip.spur.full("ip", db_dir=spur_dir).alias("spur"),
    )
    before = spark.conf.get(LARGE)
    rows = {}
    try:
        for large in ("false", "true"):
            spark.conf.set(LARGE, large)
            # a new plan each time: the physical plan reads the conf once
            query = df.select(*cols()).orderBy("i")
            rows[large] = [r.asDict(recursive=True) for r in query.collect()]
    finally:
        spark.conf.set(LARGE, before)

    small, big = rows["false"], rows["true"]
    assert {(r["t_ip"], r["t_b"]) for r in small} == {("string", "binary")}
    assert {(r["t_ip"], r["t_b"]) for r in big} == {("large_string", "large_binary")}
    strip = lambda rs: [{k: v for k, v in r.items() if not k.startswith("t_")} for r in rs]  # noqa: E731
    assert strip(small) == strip(big)
    assert [r["canon"] for r in small] == [
        "67.43.156.1", "240b::beef:0:24", "67.43.156.1", "192.168.1.1", None, None
    ]
    assert [r["b_canon"] for r in small] == [
        "67.43.156.1", "240b::beef:0:24", "67.43.156.1", "192.168.1.1", None, None
    ]
    assert [r["b_geo"] for r in small[:2]] == [r["geo"] for r in small[:2]]
    assert [r["member"] for r in small] == [True, True, False, False, None, None]
    assert small[0]["geo"]["asnnum"] == 35908
    assert small[0]["spur"]["infrastructure"] == "DATACENTER"
    assert small[4]["geo"] == dict.fromkeys(small[4]["geo"])


def test_jaro_winkler_udf_large_var_types(spark):
    """The scoring UDF dictionary-encodes whichever string type Spark
    sends; both settings must match the scalar reference, with nulls
    scoring 0.0, NULs compared as characters, equal non-empty strings
    1.0 and equal empty strings 0.0."""
    pairs = [
        (None, "x"),
        ("abc", None),
        (None, None),
        ("a\x00b", "ab"),
        ("a\x00", "a"),
        ("b", "b"),
        ("", ""),
        ("", "bb"),
        ("src/a/main.py", "src/a/main.py"),
        ("日本語テスト", "日本語のテスト"),
        ("martha", "marhta"),
        ("src/a/main.py", "src/a/util.py"),
    ]
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)], "i int, a string, b string"
    )
    expected = [0.0 if a is None or b is None else jaro_winkler(a, b) for a, b in pairs]
    before = spark.conf.get(LARGE)
    try:
        for large, typ in (("false", "string"), ("true", "large_string")):
            spark.conf.set(LARGE, large)
            jw = jaro_winkler_udf("a", "b").alias("jw")
            rows = df.select("i", _batch_type("a").alias("t"), jw).orderBy("i").collect()
            assert {r.t for r in rows} == {typ}
            assert [r.jw for r in rows] == pytest.approx(expected, abs=1e-12), large
    finally:
        spark.conf.set(LARGE, before)


def test_ip_keys_rejects_non_ip_types():
    """Only string, binary, integer/floating and null batches are IP
    columns; any other Arrow type raises instead of being coerced."""
    from polars_iptools_spark.functions._ipparse import ip_keys

    for a in (pa.array([True, None]), pa.array([[1]]), pa.array([1], pa.decimal128(5, 0))):
        with pytest.raises(TypeError, match="expected an IP column"):
            ip_keys(a)
