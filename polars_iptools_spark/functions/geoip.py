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

import pandas as pd
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
    """The ASN-lookup pandas UDF itself (for ``spark.udf.register`` /
    SQL-text use); :func:`asn` is the Column-level sugar over it."""
    get = _DB.getter(SparkSession.getActiveSession(), reload_mmdb, db_dir)

    @F.pandas_udf(StringType())
    def _asn_udf(s: pd.Series) -> pd.Series:
        t = get()["asn"]
        kb, fam = _ipparse.ip_keys(s)
        valid = fam != 0
        # strings pre-formatted once per record at table build; the
        # batch path is a single vectorized gather
        out = t.columns["asn_str"][t.lookup(kb, valid)]
        # invalid (non-null unparseable) -> "" ; null stays null
        null_in = s.isna().to_numpy()
        out[~valid & ~null_in] = ""
        out[null_in] = None
        return pd.Series(out)

    return _asn_udf


def asn(expr: Column | str, reload_mmdb: bool = False, db_dir: str | None = None) -> Column:
    """``"AS{num} {org}"`` string from GeoLite2-ASN.

    ``db_dir`` overrides the MAXMIND_MMDB_DIR resolution (test seam).
    """
    return asn_udf(reload_mmdb, db_dir)(_col(expr))


def full_udf(reload_mmdb: bool = False, db_dir: str | None = None):
    """The 12-field geolocation pandas UDF itself (for
    ``spark.udf.register`` / SQL-text use); :func:`full` is the
    Column-level sugar over it."""
    get = _DB.getter(SparkSession.getActiveSession(), reload_mmdb, db_dir)

    @F.pandas_udf(GEOIP_SCHEMA)
    def _full_udf(s: pd.Series) -> pd.DataFrame:
        tabs = get()
        ta, tc = tabs["asn"], tabs["city"]
        kb, fam = _ipparse.ip_keys(s)
        valid = fam != 0
        rows_a, rows_c = ta.lookup(kb, valid), tc.lookup(kb, valid)
        # asnnum is stored int64 in the flat table — typed gather, no
        # per-row unboxing
        data = {
            "asnnum": pd.array(ta.columns["asnnum"][rows_a], dtype="Int64"),
            "asnorg": ta.columns["asnorg"][rows_a],
        }
        data.update((name, col[rows_c]) for name, col in tc.columns.items())
        return _enrich.struct_batch(data, ~valid)

    return _full_udf


def full(expr: Column | str, reload_mmdb: bool = False, db_dir: str | None = None) -> Column:
    """12-field geolocation struct from GeoLite2-ASN + GeoLite2-City."""
    return full_udf(reload_mmdb, db_dir)(_col(expr))
