"""Two seams that only show up off the classic-SparkContext path:

1. Spark Connect fallback: sessions without a ``sparkContext`` cannot
   create broadcast variables, so ``is_in`` interval tables and the
   enrichment FlatTables must ship via plain closure capture — with
   identical results.  Faked here with a session object whose
   ``sparkContext`` raises, exactly what pyspark.sql.connect does.

2. Native-vs-UDF agreement: the ≤64-CIDR pure-Catalyst ``is_in`` fast
   path and the Arrow-UDF interval path must agree on every input
   (property-tested via the ``_force_udf`` seam).
"""

import ipaddress
import types

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import polars_iptools_spark as ip
from polars_iptools_spark.functions import geoip, iptools

MAXMIND = "/root/reference/tests/maxmind"


class _ConnectishSession:
    """What matters about a Spark Connect session for these seams: any
    sparkContext access raises (pyspark.sql.connect raises
    PySparkAttributeError).  Everything else delegates to the real
    session so UDF construction still works."""

    def __init__(self, real):
        self._real = real

    def __getattr__(self, name):
        # NOT a @property raising AttributeError — that would fall
        # back into __getattr__ and silently delegate to the real
        # session's working sparkContext
        if name == "sparkContext":
            raise AttributeError("sparkContext is not supported in Spark Connect")
        return getattr(self._real, name)


def test_is_in_closure_capture_fallback(spark, monkeypatch):
    df = spark.createDataFrame(
        [("8.8.8.8",), ("1.1.1.1",), ("2606:4700::1111",), ("bad",), (None,)],
        "ip string",
    )
    nets = ["8.8.8.0/24", "2606:4700::/32"]  # mixed family -> UDF path
    with monkeypatch.context() as m:
        # force the broadcast attempt (size threshold 0) AND make OUR
        # module's session lookup return a connect-ish session so the
        # attempt fails into closure capture.  Only iptools' imported
        # SparkSession symbol is patched — pyspark's classic UDF
        # internals (which a real Connect client replaces wholesale)
        # keep the real session.
        m.setattr(iptools, "_BROADCAST_THRESHOLD", 0)
        m.setattr(
            iptools,
            "SparkSession",
            types.SimpleNamespace(
                getActiveSession=lambda: _ConnectishSession(spark)
            ),
        )
        col = ip.is_in("ip", nets)
    got = {r.ip: r.m for r in df.select("ip", col.alias("m")).collect()}
    assert got["8.8.8.8"] is True
    assert got["1.1.1.1"] is False
    assert got["2606:4700::1111"] is True
    assert got["bad"] is None and got[None] is None


def test_geoip_closure_capture_fallback(spark, monkeypatch):
    df = spark.createDataFrame([("67.43.156.1",), ("bad",), (None,)], "ip string")
    with monkeypatch.context() as m:
        m.setattr(
            geoip,
            "SparkSession",
            types.SimpleNamespace(
                getActiveSession=lambda: _ConnectishSession(spark)
            ),
        )
        # reload forces a rebuild so BroadcastedDB actually attempts
        # (and fails) the broadcast instead of reusing a cached one
        col = ip.geoip.asn("ip", db_dir=MAXMIND, reload_mmdb=True)
    assert geoip._DB._bc is None  # the fallback really engaged
    got = {r.ip: r.a for r in df.select("ip", col.alias("a")).collect()}
    assert got["67.43.156.1"] == "AS35908"  # reference golden
    assert got["bad"] == "" and got[None] is None


_octet = st.integers(0, 255)
_v4 = st.builds(lambda a, b, c, d: f"{a}.{b}.{c}.{d}", _octet, _octet, _octet, _octet)
_v6 = st.integers(0, (1 << 128) - 1).map(lambda v: str(ipaddress.IPv6Address(v)))
_probe = st.one_of(_v4, _v6, st.text("0123456789.:x ", max_size=16), st.none())
_v4_cidr = st.builds(
    lambda a, b, c, d, p: f"{a}.{b}.{c}.{d}/{p}",
    _octet, _octet, _octet, _octet, st.integers(0, 32),
)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(_v4_cidr, min_size=1, max_size=8),
    st.lists(_probe, min_size=1, max_size=20),
)
def test_is_in_native_fast_path_agrees_with_udf_path(spark, cidrs, probes):
    df = spark.createDataFrame([(p,) for p in probes], "ip string")
    out = df.select(
        ip.is_in("ip", cidrs).alias("native"),
        ip.is_in("ip", cidrs, _force_udf=True).alias("udf"),
    ).collect()
    for r, p in zip(out, probes):
        assert r.native == r.udf, (p, cidrs, r.native, r.udf)


def test_ensure_parallelism_connect_passthrough(spark):
    """ensure_parallelism must pass a Connect-ish frame through
    untouched instead of raising on the sparkContext access (the
    exploding operators pin their own fan-out separately, through
    pinned_partitions' fixed Connect fallback)."""
    from polars_iptools_spark.functions._par import (
        ensure_parallelism,
        pinned_partitions,
    )

    real_df = spark.range(4)

    class _ConnectishFrame:
        def __init__(self, real):
            self._real = real
            self.sparkSession = _ConnectishSession(spark)

        def __getattr__(self, name):
            if name == "rdd":
                raise AttributeError("rdd is not supported in Spark Connect")
            return getattr(self._real, name)

    fake = _ConnectishFrame(real_df)
    assert ensure_parallelism(fake) is fake
    assert pinned_partitions(fake) == 16
    assert pinned_partitions(real_df) == max(
        spark.sparkContext.defaultParallelism * 2, 8
    )
