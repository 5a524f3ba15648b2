"""MaxMind GeoLite2 enrichment — ``geoip.asn`` and ``geoip.full``.

Semantics pinned to /root/reference/src/geoip.rs:
- ``asn``: null -> null, invalid -> "", valid-not-in-db -> ""
  (src/geoip.rs:73-93); format "AS{num} {org}" with no trailing space
  when the org is absent (src/geoip.rs:85-91).
- ``full``: null/invalid -> all-null struct (src/geoip.rs:41-44);
  valid-not-found -> defaults asnnum=0, strings "", lat/lon 0.0
  (src/maxmind.rs:47-64). Field order per src/maxmind.rs:15-26.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from ..schemas import GEOIP_SCHEMA
from . import _enrich, _ipparse

__all__ = ["asn", "full"]

_DB = _enrich.BroadcastedDB(_enrich.build_geoip_tables, "MAXMIND_MMDB_DIR")


def _col(expr):
    return F.col(expr) if isinstance(expr, str) else expr


def asn_udf(reload_mmdb: bool = False, db_dir: str | None = None):
    """The ASN-lookup Arrow UDF itself (for ``spark.udf.register`` /
    SQL-text use); :func:`asn` is the Column-level sugar over it."""
    get = _DB.getter(SparkSession.getActiveSession(), reload_mmdb, db_dir)

    @F.arrow_udf(StringType())
    def _asn_udf(a: pa.Array) -> pa.Array:
        t = get()["asn"]
        kb, fam = _ipparse.ip_keys(a)
        # strings pre-formatted once per record at table build; invalid
        # rows hit the "" defaults row, null rows stay null
        null = pc.is_null(a, nan_is_null=True).to_numpy(zero_copy_only=False)
        return t.take(t.lookup(kb, fam != 0), null, ["asn_str"])[0]

    return _asn_udf


def asn(expr: Column | str, reload_mmdb: bool = False, db_dir: str | None = None) -> Column:
    """``"AS{num} {org}"`` string from GeoLite2-ASN.

    ``db_dir`` overrides the MAXMIND_MMDB_DIR resolution (test seam).
    """
    return asn_udf(reload_mmdb, db_dir)(_col(expr))


def full_udf(reload_mmdb: bool = False, db_dir: str | None = None):
    """The 12-field geolocation Arrow UDF itself (for
    ``spark.udf.register`` / SQL-text use); :func:`full` is the
    Column-level sugar over it."""
    get = _DB.getter(SparkSession.getActiveSession(), reload_mmdb, db_dir)

    @F.arrow_udf(GEOIP_SCHEMA)
    def _full_udf(a: pa.Array) -> pa.Array:
        tabs = get()
        ta, tc = tabs["asn"], tabs["city"]
        kb, fam = _ipparse.ip_keys(a)
        valid = fam != 0
        # null and invalid rows come out with every field null
        fields = ta.take(ta.lookup(kb, valid), ~valid, ["asnnum", "asnorg"])
        fields += tc.take(tc.lookup(kb, valid), ~valid)
        return pa.StructArray.from_arrays(fields, names=GEOIP_SCHEMA.names)

    return _full_udf


def full(expr: Column | str, reload_mmdb: bool = False, db_dir: str | None = None) -> Column:
    """12-field geolocation struct from GeoLite2-ASN + GeoLite2-City."""
    return full_udf(reload_mmdb, db_dir)(_col(expr))
