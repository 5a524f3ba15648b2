"""Spur anonymity-feed enrichment — ``spur.full``.

Semantics per /root/reference/src/spur.rs:20-52: null/invalid ->
all-null struct (:41-44); valid-not-found -> defaults client_count 0.0,
strings "", services [] (src/spurdb.rs:183).  Field order per
src/spurdb.rs:16-28.  Requires ``spur.mmdb`` under SPUR_MMDB_DIR.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from ..schemas import SPUR_SCHEMA
from . import _enrich, _ipparse

__all__ = ["full"]

_DB = _enrich.BroadcastedDB(_enrich.build_spur_tables, "SPUR_MMDB_DIR")


def full_udf(reload_mmdb: bool = False, db_dir: str | None = None):
    """The Spur-context Arrow UDF itself (for ``spark.udf.register`` /
    SQL-text use); :func:`full` is the Column-level sugar over it."""
    get = _DB.getter(SparkSession.getActiveSession(), reload_mmdb, db_dir)

    @F.arrow_udf(SPUR_SCHEMA)
    def _spur_udf(a: pa.Array) -> pa.Array:
        t = get()["spur"]
        kb, fam = _ipparse.ip_keys(a)
        valid = fam != 0
        # null and invalid rows come out with every field null
        fields = t.take(t.lookup(kb, valid), ~valid)
        return pa.StructArray.from_arrays(fields, names=SPUR_SCHEMA.names)

    return _spur_udf


def full(expr: Column | str, reload_mmdb: bool = False, db_dir: str | None = None) -> Column:
    c = F.col(expr) if isinstance(expr, str) else expr
    return full_udf(reload_mmdb, db_dir)(c)
