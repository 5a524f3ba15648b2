"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query on sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2 + the
training-data operators); each callable takes (spark, sf_dir).
``oracle_sql()`` — independent DuckDB ANSI-SQL implementations of the
same semantics over the same parquet views.  LSH-family queries are
oracle-checked through a recall-1.0 construction: candidate generation
is tuned so the (seed-fixed, deterministic) recall against the exact
pair set is 1.0 at the driver's sf0.01, and candidates are
exact-verified, so the emitted set equals the SQL-computable exact set
— any regression in recall, hashing or verification breaks the match.
simhash_pairs and winnowing (xxhash64-derived values SQL cannot
recompute) are checked against pinned seed-fixed goldens
(`_SIMHASH_GOLDEN` / `_WINNOW_GOLDEN`) plus property-based pytest
coverage — every query now carries a full value oracle.

Input derivation: the testdata tables carry no IP columns, so IP-shaped
inputs are derived *deterministically and identically* in both engines
from lineitem/orders keys (pure modular arithmetic + concat).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# executor import robustness
# ---------------------------------------------------------------------------
# The driver-side sys.path insert above does NOT propagate to executor
# Python workers: they resolve imports from their own cwd/PYTHONPATH,
# so a harness that launches the session from any cwd other than
# /root/repo would fail to unpickle our Arrow UDFs
# (ModuleNotFoundError: polars_iptools_spark).  Ship the package to
# executors once per application via addPyFile (a ~100 KB zip of pure
# Python; zipimport makes it importable on every worker).

_SHIPPED: set = set()


def _pkg_zip() -> str:
    import shutil
    import tempfile

    import polars_iptools_spark as _pkg

    pkg_dir = os.path.dirname(os.path.abspath(_pkg.__file__))
    base = os.path.join(
        tempfile.gettempdir(), f"pis_pkg_{os.getpid()}_{len(_SHIPPED)}"
    )
    return shutil.make_archive(
        base, "zip", root_dir=os.path.dirname(pkg_dir),
        base_dir="polars_iptools_spark",
    )


def _ensure_importable(spark: SparkSession) -> None:
    try:
        sc = spark.sparkContext
        key = sc.applicationId
    except Exception:
        # Spark Connect: key by a sentinel attribute ON the session
        # object, not id(spark) — id() values are recycled after GC, so
        # a later distinct session could be wrongly treated as already
        # shipped and skip addArtifacts
        sc, key = None, None
        if getattr(spark, "_pis_pkg_shipped", False):
            return
    if key is not None and key in _SHIPPED:
        return
    zip_path = _pkg_zip()
    # the source zip must OUTLIVE the application: local-mode executors
    # re-fetch addPyFile sources from the ORIGINAL path at task launch
    # and verify contents against it (deleting it immediately fails
    # tasks with 'does not match contents') — so cleanup happens at
    # interpreter exit, not here
    import atexit

    atexit.register(lambda p=zip_path: os.path.exists(p) and os.remove(p))
    if sc is not None:
        sc.addPyFile(zip_path)
    else:
        # Spark Connect: the artifact API is the Connect-side analog
        # of addPyFile; if the server rejects artifacts, degrade to
        # relying on cluster-side PYTHONPATH rather than failing the
        # query here
        try:
            spark.addArtifacts(zip_path, pyfile=True)
        except Exception:
            return
        try:
            spark._pis_pkg_shipped = True
        except Exception:
            pass
        return
    _SHIPPED.add(key)


def _with_ship(fn):
    import functools

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_importable(spark)
        return fn(spark, sf_dir)

    return wrapped

# ---------------------------------------------------------------------------
# shared deterministic input derivations (Spark side)
# ---------------------------------------------------------------------------


def _derived_ips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem -> (rid, ip): mixed valid-v4 / invalid / v6 / null.

    The scan is wrapped in ``ensure_parallelism``: the testdata parquet
    is a single row group, which scans as ~1 partition and serializes
    every downstream per-row operator onto one core (guide §2/§6 —
    under-partitioned input).  The guard is a no-op at scale, where
    inputs already arrive with >= cores/2 partitions.
    """
    from polars_iptools_spark.functions._par import ensure_parallelism

    li = ensure_parallelism(spark.read.parquet(f"{sf_dir}/lineitem.parquet"))
    quad = F.concat_ws(
        ".",
        (F.col("l_orderkey") % 223 + 1).cast("string"),
        (F.col("l_partkey") % 256).cast("string"),
        (F.col("l_suppkey") % 256).cast("string"),
        (F.col("l_linenumber") % 256).cast("string"),
    )
    m = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    ip = (
        F.when(m % 13 == 0, F.lit("999.9.9.9"))
        .when(m % 13 == 1, F.lit("2606:4700::1111"))
        .when(m % 13 == 2, F.lit(None).cast("string"))
        .when(m % 13 == 3, F.lit("not an ip"))
        .otherwise(quad)
    )
    return li.select(m.alias("rid"), ip.alias("ip"))


_DERIVED_IPS_SQL = """
SELECT l_orderkey * 10 + l_linenumber AS rid,
       CASE (l_orderkey * 10 + l_linenumber) % 13
         WHEN 0 THEN '999.9.9.9'
         WHEN 1 THEN '2606:4700::1111'
         WHEN 2 THEN NULL
         WHEN 3 THEN 'not an ip'
         ELSE concat_ws('.', CAST(l_orderkey % 223 + 1 AS VARCHAR),
                             CAST(l_partkey % 256 AS VARCHAR),
                             CAST(l_suppkey % 256 AS VARCHAR),
                             CAST(l_linenumber % 256 AS VARCHAR))
       END AS ip
FROM lineitem
"""

_V4_RE_SQL = (
    "^(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
    "(\\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}$"
)

# numeric form of a (pre-validated) dotted quad, DuckDB side
_NUM_SQL = (
    "CAST(string_split(ip,'.')[1] AS BIGINT)*16777216 + "
    "CAST(string_split(ip,'.')[2] AS BIGINT)*65536 + "
    "CAST(string_split(ip,'.')[3] AS BIGINT)*256 + "
    "CAST(string_split(ip,'.')[4] AS BIGINT)"
)


def _derived_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, itext): text salted with planted indicators
    (plain, defanged, private, loopback) in deterministic positions."""
    from polars_iptools_spark.functions._par import ensure_parallelism

    d = ensure_parallelism(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    pub = F.concat_ws(
        ".",
        (F.col("doc_id") % 200 + 20).cast("string"),
        (F.col("doc_id") % 251).cast("string"),
        (F.col("doc_id") % 241).cast("string"),
        (F.col("doc_id") % 254 + 1).cast("string"),
    )
    pub2 = F.when(F.col("doc_id") % 3 == 0, F.regexp_replace(pub, r"\.", "[.]")).otherwise(pub)
    priv = F.concat(F.lit("10.0."), (F.col("doc_id") % 254).cast("string"), F.lit(".7"))
    extra = (
        F.when(F.col("doc_id") % 5 == 0, F.lit(" 127.0.0.1"))
        .when(F.col("doc_id") % 5 == 1, F.lit(" 255.255.255.255"))
        .otherwise(F.lit(""))
    )
    itext = F.concat(
        F.lit("conn "), pub2, F.lit(" and "), priv, extra, F.lit(" | "), F.col("text")
    )
    return d.select("doc_id", itext.alias("itext"))


_DERIVED_TEXTS_SQL = """
SELECT doc_id,
       concat('conn ',
              CASE WHEN doc_id % 3 = 0 THEN replace(ipx, '.', '[.]') ELSE ipx END,
              ' and 10.0.', CAST(doc_id % 254 AS VARCHAR), '.7',
              CASE WHEN doc_id % 5 = 0 THEN ' 127.0.0.1'
                   WHEN doc_id % 5 = 1 THEN ' 255.255.255.255'
                   ELSE '' END,
              ' | ', text) AS itext
FROM (
  SELECT doc_id, text,
         concat_ws('.', CAST(doc_id % 200 + 20 AS VARCHAR),
                        CAST(doc_id % 251 AS VARCHAR),
                        CAST(doc_id % 241 AS VARCHAR),
                        CAST(doc_id % 254 + 1 AS VARCHAR)) AS ipx
  FROM documents
)
"""

# v4 candidate regex without lookarounds (safe on the derived text:
# indicators are space-delimited)
_V4_FIND_SQL = (
    "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
    "(\\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}"
)


def _derived_v6_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, vtext): fully doc_id-determined text mixing
    IPv6 forms that exercise canonicalization (bracketed+port, full
    uncompressed, defanged, v4-mapped) with one public IPv4."""
    from polars_iptools_spark.functions._par import ensure_parallelism

    d = ensure_parallelism(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    seg = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("[2001:DB8::2:1]:443"))
        .when(F.col("doc_id") % 4 == 1, F.lit("2606:4700:0:0:0:0:0:1111"))
        .when(F.col("doc_id") % 4 == 2, F.lit("fe80[:]0[:]0[:]0[:]0[:]0[:]0[:]1"))
        .otherwise(F.lit("::ffff:10.0.0.1"))
    )
    pub = F.concat_ws(
        ".",
        (F.col("doc_id") % 200 + 20).cast("string"),
        (F.col("doc_id") % 251).cast("string"),
        (F.col("doc_id") % 241).cast("string"),
        (F.col("doc_id") % 254 + 1).cast("string"),
    )
    pub2 = F.when(F.col("doc_id") % 3 == 0, F.regexp_replace(pub, r"\.", "[.]")).otherwise(pub)
    vtext = F.concat(F.lit("v6 "), seg, F.lit(" conn "), pub2, F.lit(" end"))
    return d.select("doc_id", vtext.alias("vtext"))


# expected extraction is fully determined by doc_id: canonical v6 form
# per segment (incl. the Rust-style dotted v4-mapped rendering), then
# the planted public IPv4 — an independent SQL construction of the
# extractor's contract on this input
_EXTRACT_V6_SQL = """
SELECT doc_id,
       concat(CASE doc_id % 4
                WHEN 0 THEN '2001:db8::2:1'
                WHEN 1 THEN '2606:4700::1111'
                WHEN 2 THEN 'fe80::1'
                ELSE '::ffff:10.0.0.1' END,
              ',',
              concat_ws('.', CAST(doc_id % 200 + 20 AS VARCHAR),
                             CAST(doc_id % 251 AS VARCHAR),
                             CAST(doc_id % 241 AS VARCHAR),
                             CAST(doc_id % 254 + 1 AS VARCHAR))) AS ips_csv
FROM documents
"""

# ---------------------------------------------------------------------------
# enrichment oracle fixtures (driver-side, deterministic)
# ---------------------------------------------------------------------------

GEOIP_FIELDS = [
    "asnnum", "asnorg", "city", "continent", "country", "country_iso",
    "latitude", "longitude", "postalcode", "subdivision", "subdivision_iso",
    "timezone",
]


def _oracle_dir() -> str:
    import tempfile
    from pathlib import Path

    d = Path(tempfile.gettempdir()) / "pis_oracle_tables"
    d.mkdir(exist_ok=True)
    return str(d)


def _geolite_fixture_dir() -> str:
    """Write the golden GeoLite2-ASN/City test pair (FIXTURES.md §5)
    into the oracle temp dir once, and return that directory."""
    from polars_iptools_spark.sources.mmdb_synth import write_golden_geolite

    out = f"{_oracle_dir()}/geolite_golden"
    if not os.path.exists(f"{out}/GeoLite2-City.mmdb"):
        write_golden_geolite(out)
    return out


def _dump_geoip_intervals() -> str:
    """Decode the golden GeoLite2 test MMDBs into per-interval parquet tables
    (lo_hex, hi_hex, record fields) so DuckDB can replicate the lookup
    with a plain range join — the oracle re-implements the SEARCH
    independently; record decode is shared (it is the fixture)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pathlib import Path

    from polars_iptools_spark.functions._enrich import GEOIP_TABLES, FlatTable
    from polars_iptools_spark.functions._ipparse import key_matrix
    from polars_iptools_spark.sources.mmdb import load_interval_table

    out = _oracle_dir()
    db_dir = Path(_geolite_fixture_dir())
    for name, (fname, fields) in GEOIP_TABLES.items():
        # intervals come from the RAW decoded table, not FlatTable's
        # split v4/v6 index — the oracle replicates the search from
        # first principles, independent of the engine's layout; the
        # record columns come from the same decode
        it = load_interval_table(db_dir / fname)
        # full 32-hex bounds from the byte matrix: |S16 elements drop
        # trailing NULs, and a short hi would sort below its own key
        cols = {
            bound: [r.tobytes().hex() for r in key_matrix(getattr(it, bound))]
            for bound in ("lo", "hi")
        }
        for field, col in FlatTable(it, fields).columns.items():
            cols[field] = col.take(it.rec_idx)
        pq.write_table(pa.table(cols), f"{out}/geoip_{name}.parquet")
    return out


# v4 keys live in the v4-mapped 128-bit space; the only v6 literal the
# derived inputs contain is pinned by the CASE below
_KEY_HEX_SQL = (
    "CASE WHEN regexp_full_match(ip, '{v4re}')"
    "     THEN concat('00000000000000000000ffff', lpad(lower(hex({num})), 8, '0'))"
    "     WHEN ip = '2606:4700::1111'"
    "     THEN '26064700000000000000000000001111'"
    "     ELSE NULL END"
)


_SPUR_ENTRIES = [
    (
        "5.0.0.0/8",
        {
            "clientCount": 12.5,
            "infrastructure": "DATACENTER",
            "locationCity": "Amsterdam",
            "locationCountry": "NL",
            "locationState": "North Holland",
            "services": ["VPN", "PROXY"],
            "tag": "anon",
        },
    ),
    ("77.0.0.0/8", {"infrastructure": "MOBILE", "clientCount": 3.0}),
    (
        "2606:4700::/32",
        {
            "clientCount": 1.25,
            "infrastructure": "VPN_PROVIDER",
            "services": ["TOR"],
            "tag": "cf",
        },
    ),
]


def _spur_fixture_dir() -> str:
    """Synthesize the spur.mmdb fixture (deterministic entries) into the
    oracle temp dir; the reference ships no public Spur test file."""
    import os
    from polars_iptools_spark.sources.mmdb_writer import write_mmdb

    out = _oracle_dir()
    path = f"{out}/spur.mmdb"
    if not os.path.exists(path):
        write_mmdb(path, _SPUR_ENTRIES, database_type="spur")
    return out


# production-shaped synthetic GeoLite2 pair (decode + broadcast + lookup
# exercised at 120k/30k networks inside the correctness gate; the full
# 1.9M-network stress record lives in BENCH/mmdb_scale_result.json).
# The records are pure arithmetic on the network index, so the DuckDB
# oracle recomputes every enriched field independently of the MMDB
# machinery — this entry validates the DECODER, not just the lookup.
_SYNTH_CITY_N, _SYNTH_CITY_REC = 120_000, 9_000
_SYNTH_ASN_N, _SYNTH_ASN_REC = 30_000, 5_000
_SYNTH_CITY_N6, _SYNTH_ASN_N6 = 40_000, 10_000


def _synth_geolite_dir() -> str:
    import os
    from polars_iptools_spark.sources.mmdb_synth import write_synthetic_geolite

    # dir name encodes the v6 addition so a cached pre-v6 build from an
    # earlier gate run can never be picked up by the v6 query
    out = f"{_oracle_dir()}/synth_geolite_v6"
    if not os.path.exists(f"{out}/GeoLite2-City.mmdb"):
        write_synthetic_geolite(
            out,
            n_city_networks=_SYNTH_CITY_N,
            n_city_records=_SYNTH_CITY_REC,
            n_asn_networks=_SYNTH_ASN_N,
            n_asn_records=_SYNTH_ASN_REC,
            n_city_v6_networks=_SYNTH_CITY_N6,
            n_asn_v6_networks=_SYNTH_ASN_N6,
        )
    return out


_V6_PROBES: list | None = None


def _synth_v6_probes() -> list:
    """Pinned (ip, tiling_index) probes across the 2600::/12 tiling of
    the synthesized pair: every 173rd v6 network at an interior address,
    plus past-the-tiling and out-of-geometry misses.  The ip <-> index
    mapping is stdlib-derived (``ipaddress``) and independently cross-
    checked against containment in tests/test_mmdb_scale.py; the oracle
    recomputes every enriched FIELD from the index arithmetic, so the
    whole v6 write -> decode -> split-index -> |S16-remainder lookup
    chain sits under the value hash."""
    global _V6_PROBES
    if _V6_PROBES is None:
        import ipaddress

        from polars_iptools_spark.sources import mmdb_synth as ms

        rows = []
        for i, cidr in ms._iter_v6_networks(_SYNTH_CITY_N6 + 1004):
            # sample in-tiling networks; keep a few past-city-tiling
            # indices too (written in neither DB -> full miss, caps the
            # `i < N` guards in the oracle)
            keep = (i % 173 == 0) if i < _SYNTH_CITY_N6 else (i % 251 == 0)
            if not keep:
                continue
            net = ipaddress.ip_network(cidr)
            off = (net.num_addresses - 1) // 3
            rows.append((str(net.network_address + off), i))
        rows.append(("2400::1", None))  # below the 2600::/12 base
        rows.append(("2800::1", None))  # outside the /12, same family
        _V6_PROBES = rows
    return _V6_PROBES



# ---------------------------------------------------------------------------
# pinned goldens for the two xxhash64-derived queries
# ---------------------------------------------------------------------------
# Both outputs are fully deterministic at fixed seed (xxhash64 with
# literal seeds over doc_id-keyed text), but DuckDB cannot recompute
# xxhash64 — so the oracle pins the seed-fixed sf0.01 output as a
# literal VALUES table.  Every stage regression (tokenizer, hashing,
# banding, bucket guard, hamming/window selection) changes these rows
# and breaks the driver's value-hash match.  Valid ONLY at the
# driver's sf0.01 gate; pytest property tests cover other inputs.

_SIMHASH_GOLDEN = [
    (8,245,2),(45,413,3),(58,293,0),(61,185,0),
    (70,447,1),(76,102,2),(98,290,2),(107,387,1),
    (120,332,3),(166,323,3),(251,473,3),(267,413,2),
    (285,301,0),(326,457,2),(393,420,0),(435,486,3),
    (458,462,2),
]

_WINNOW_GOLDEN = [
    (0,12),(1,25),(2,15),(3,8),(4,17),(5,20),(6,4),(7,25),(8,32),(9,27),
    (10,18),(11,22),(12,25),(13,22),(14,29),(15,13),(16,4),(17,30),(18,28),(19,3),
    (20,26),(21,13),(22,31),(23,9),(24,35),(25,35),(26,2),(27,19),(28,20),(29,11),
    (30,11),(31,14),(32,35),(33,15),(34,9),(35,35),(36,8),(37,26),(38,11),(39,7),
    (40,29),(41,23),(42,17),(43,10),(44,9),(45,29),(46,29),(47,14),(48,7),(49,17),
    (50,15),(51,20),(52,3),(53,13),(54,22),(55,13),(56,35),(57,30),(58,28),(59,9),
    (60,37),(61,24),(62,29),(63,40),(64,8),(65,4),(66,22),(67,20),(68,12),(69,19),
    (70,38),(71,19),(72,15),(73,31),(74,1),(75,21),(76,24),(77,21),(78,14),(79,2),
    (80,10),(81,22),(82,15),(83,4),(84,28),(85,9),(86,6),(87,6),(88,18),(89,8),
    (90,7),(91,28),(92,8),(93,10),(94,8),(95,22),(96,31),(97,20),(98,38),(99,14),
    (100,30),(101,14),(102,32),(103,37),(104,13),(105,21),(106,2),(107,14),(108,3),(109,27),
    (110,3),(111,36),(112,18),(113,29),(114,12),(115,7),(116,1),(117,16),(118,28),(119,4),
    (120,12),(121,8),(122,6),(123,7),(124,26),(125,11),(126,36),(127,30),(128,32),(129,28),
    (130,9),(131,20),(132,21),(133,36),(134,7),(135,39),(136,25),(137,14),(138,23),(139,18),
    (140,7),(141,28),(142,40),(143,28),(144,5),(145,29),(146,8),(147,34),(148,14),(149,7),
    (150,14),(151,35),(152,13),(153,28),(154,30),(155,26),(156,8),(157,6),(158,5),(159,26),
    (160,17),(161,37),(162,27),(163,16),(164,6),(165,6),(166,21),(167,32),(168,13),(169,26),
    (170,7),(171,24),(172,6),(173,36),(174,22),(175,8),(176,33),(177,17),(178,12),(179,32),
    (180,8),(181,5),(182,22),(183,7),(184,29),(185,23),(186,28),(187,34),(188,18),(189,11),
    (190,34),(191,7),(192,8),(193,11),(194,9),(195,20),(196,19),(197,39),(198,16),(199,8),
    (200,20),(201,22),(202,34),(203,7),(204,7),(205,25),(206,7),(207,25),(208,9),(209,13),
    (210,36),(211,20),(212,15),(213,35),(214,3),(215,33),(216,36),(217,27),(218,29),(219,8),
    (220,35),(221,12),(222,19),(223,33),(224,29),(225,23),(226,7),(227,31),(228,36),(229,30),
    (230,21),(231,8),(232,18),(233,31),(234,22),(235,14),(236,2),(237,27),(238,18),(239,11),
    (240,25),(241,36),(242,26),(243,9),(244,23),(245,31),(246,14),(247,27),(248,32),(249,26),
    (250,16),(251,33),(252,16),(253,13),(254,6),(255,8),(256,3),(257,7),(258,24),(259,16),
    (260,7),(261,29),(262,19),(263,28),(264,34),(265,15),(266,14),(267,29),(268,11),(269,34),
    (270,35),(271,18),(272,35),(273,9),(274,40),(275,2),(276,38),(277,10),(278,26),(279,19),
    (280,33),(281,9),(282,10),(283,29),(284,21),(285,36),(286,16),(287,4),(288,12),(289,15),
    (290,38),(291,28),(292,33),(293,28),(294,30),(295,13),(296,26),(297,21),(298,10),(299,35),
    (300,13),(301,36),(302,34),(303,31),(304,14),(305,4),(306,27),(307,17),(308,5),(309,16),
    (310,9),(311,32),(312,26),(313,5),(314,13),(315,33),(316,28),(317,26),(318,32),(319,32),
    (320,25),(321,18),(322,18),(323,21),(324,14),(325,19),(326,12),(327,10),(328,31),(329,23),
    (330,21),(331,15),(332,12),(333,10),(334,38),(335,21),(336,25),(337,14),(338,5),(339,10),
    (340,15),(341,32),(342,7),(343,9),(344,27),(345,20),(346,30),(347,19),(348,9),(349,29),
    (350,34),(351,23),(352,42),(353,23),(354,30),(355,19),(356,24),(357,19),(358,2),(359,25),
    (360,30),(361,24),(362,3),(363,21),(364,16),(365,3),(366,20),(367,12),(368,3),(369,18),
    (370,15),(371,21),(372,8),(373,24),(374,12),(375,21),(376,25),(377,15),(378,23),(379,24),
    (380,31),(381,24),(382,6),(383,15),(384,5),(385,21),(386,33),(387,13),(388,25),(389,9),
    (390,9),(391,12),(392,5),(393,30),(394,26),(395,30),(396,15),(397,17),(398,5),(399,19),
    (400,7),(401,25),(402,11),(403,32),(404,16),(405,22),(406,27),(407,5),(408,5),(409,22),
    (410,30),(411,28),(412,26),(413,29),(414,30),(415,22),(416,18),(417,36),(418,34),(419,6),
    (420,30),(421,33),(422,25),(423,29),(424,25),(425,6),(426,30),(427,27),(428,16),(429,35),
    (430,30),(431,19),(432,23),(433,10),(434,31),(435,10),(436,17),(437,29),(438,12),(439,11),
    (440,12),(441,36),(442,31),(443,21),(444,26),(445,21),(446,10),(447,37),(448,19),(449,13),
    (450,7),(451,6),(452,23),(453,33),(454,10),(455,2),(456,7),(457,12),(458,23),(459,26),
    (460,18),(461,26),(462,23),(463,38),(464,12),(465,24),(466,29),(467,25),(468,12),(469,2),
    (470,13),(471,22),(472,13),(473,18),(474,26),(475,4),(476,3),(477,8),(478,17),(479,25),
    (480,25),(481,6),(482,11),(483,16),(484,18),(485,7),(486,10),(487,19),(488,12),(489,21),
    (490,20),(491,25),(492,4),(493,34),(494,13),(495,25),(496,30),(497,4),(498,33),(499,11),
]


def _pinned_values_sql(rows: list[tuple], casts: list[tuple[str, str]]) -> str:
    """Literal rows -> DuckDB VALUES oracle with Spark-matching types."""
    vals = ",".join("(" + ",".join(str(v) for v in r) + ")" for r in rows)
    cols = ", ".join(
        f"CAST(c{i} AS {t}) AS {name}" for i, (name, t) in enumerate(casts)
    )
    names = ", ".join(f"c{i}" for i in range(len(casts)))
    return f"SELECT {cols} FROM (VALUES {vals}) AS t({names})"


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: sf0.001 documents -> derive indicator-bearing text ->
    extract public IPs (JVM-side) -> explode -> numeric + validity ->
    geoip-enrich (golden GeoLite2 test MMDBs) -> per-ASN rollup."""
    import polars_iptools_spark as ip

    _ensure_importable(spark)
    texts = _derived_texts(spark, "/root/testdata/sf0.001")
    return (
        texts.withColumn("ips", ip.extract_public_ips("itext"))
        .select("doc_id", F.explode("ips").alias("ipaddr"))
        .withColumn("asn", ip.geoip.asn("ipaddr", db_dir=_geolite_fixture_dir()))
        .withColumn("num", ip.ipv4_to_numeric("ipaddr"))
        .groupBy("asn")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("ipaddr").alias("uniq_ips"),
            F.max("num").alias("max_num"),
        )
        .orderBy("asn")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    import polars_iptools_spark as ip
    from polars_iptools_spark.operators import dedup, multimodal, similarity, textstats
    from polars_iptools_spark.operators.closure import connected_components
    from polars_iptools_spark.plans import blocking, scoring

    def q_is_valid(spark, sf):
        return _derived_ips(spark, sf).select(
            "rid", "ip", ip.is_valid("ip").alias("valid")
        )

    def q_is_private(spark, sf):
        return _derived_ips(spark, sf).select(
            "rid", "ip", ip.is_private("ip").alias("private")
        )

    def q_ipv4_to_numeric(spark, sf):
        return _derived_ips(spark, sf).select(
            "rid", "ip", ip.ipv4_to_numeric("ip").alias("ipnum")
        )

    def q_numeric_to_ipv4(spark, sf):
        df = _derived_ips(spark, sf).select(
            "rid", ip.ipv4_to_numeric("ip").alias("ipnum")
        )
        n = F.when(F.col("rid") % 11 == 0, F.col("ipnum") + 4294967296).otherwise(
            F.col("ipnum")
        )
        return df.select("rid", n.alias("n"), ip.numeric_to_ipv4(n).alias("quad"))

    def q_roundtrip_address(spark, sf):
        df = _derived_ips(spark, sf)
        return df.select(
            "rid", "ip", ip.to_string(ip.to_address("ip")).alias("canonical")
        )

    def q_roundtrip_typed_ipv4(spark, sf):
        df = _derived_ips(spark, sf)
        return df.select(
            "rid", ip.to_string(ip.to_ipv4("ip")).alias("quad")
        )

    NETWORKS = ["8.8.8.0/24", "10.0.0.0/8", "100.64.0.0/10", "2606:4700::/32",
                "20.0.0.0/6", "57.0.0.0/8"]

    def q_is_in(spark, sf):
        return _derived_ips(spark, sf).select(
            "rid", "ip", ip.is_in("ip", NETWORKS).alias("member")
        )

    def q_extract_ips(spark, sf):
        t = _derived_texts(spark, sf)
        return t.select(
            "doc_id",
            F.array_join(ip.extract_ips("itext"), ",").alias("ips_csv"),
        )

    def q_extract_public_ips(spark, sf):
        t = _derived_texts(spark, sf)
        return t.select(
            "doc_id",
            F.array_join(ip.extract_public_ips("itext"), ",").alias("ips_csv"),
        )

    def q_extract_private_ips(spark, sf):
        t = _derived_texts(spark, sf)
        return t.select(
            "doc_id",
            F.array_join(ip.extract_private_ips("itext"), ",").alias("ips_csv"),
        )

    def q_extract_ips_v6(spark, sf):
        # IPv6 canonicalization path over fully doc_id-determined text:
        # bracketed+port, uncompressed, defanged and v4-mapped forms
        t = _derived_v6_texts(spark, sf)
        return t.select(
            "doc_id",
            F.array_join(ip.extract_ips("vtext", ipv6=True), ",").alias("ips_csv"),
        )

    def q_geoip_asn(spark, sf):
        return _derived_ips(spark, sf).select(
            "rid", ip.geoip.asn("ip", db_dir=_geolite_fixture_dir()).alias("asn")
        )

    def q_geoip_full(spark, sf):
        g = ip.geoip.full("ip", db_dir=_geolite_fixture_dir())
        return _derived_ips(spark, sf).select(
            "rid", *[g[f].alias(f) for f in GEOIP_FIELDS]
        )

    def q_spur_full(spark, sf):
        s = ip.spur.full("ip", db_dir=_spur_fixture_dir())
        return _derived_ips(spark, sf).select(
            "rid",
            s["client_count"].cast("double").alias("client_count"),
            s["infrastructure"].alias("infrastructure"),
            s["location_city"].alias("location_city"),
            s["location_country"].alias("location_country"),
            s["location_state"].alias("location_state"),
            F.array_join(s["services"], ",").alias("services_csv"),
            s["tag"].alias("tag"),
        )

    def q_geoip_synth_scale(spark, sf):
        # production-shaped synthesized GeoLite2 pair: the oracle
        # recomputes every field from the tiling arithmetic, so this is
        # an independent check of decode+broadcast+lookup at 120k/30k
        # networks (the dir-keyed singleton rebuilds on the dir switch)
        g = ip.geoip.full("ip", db_dir=_synth_geolite_dir())
        return _derived_ips(spark, sf).select(
            "rid",
            g["asnnum"].alias("asnnum"),
            g["city"].alias("city"),
            g["country"].alias("country"),
            g["postalcode"].alias("postalcode"),
            g["timezone"].alias("timezone"),
            g["latitude"].alias("latitude"),
        )

    def q_geoip_synth_scale_v6(spark, sf):
        # v6 side of the same synthesized pair: pinned probe ips across
        # the 2600::/12 tiling (stdlib-derived; containment cross-
        # checked in pytest), every field recomputed by DuckDB from the
        # tiling index — exercises the |S16 remainder path of the split
        # interval index end-to-end (write -> decode -> lookup)
        g = ip.geoip.full("ip", db_dir=_synth_geolite_dir())
        probes = spark.createDataFrame(
            [(r, s) for r, (s, _i) in enumerate(_synth_v6_probes())],
            "rid int, ip string",
        )
        return probes.select(
            "rid",
            g["asnnum"].alias("asnnum"),
            g["asnorg"].alias("asnorg"),
            g["city"].alias("city"),
            g["country"].alias("country"),
            g["postalcode"].alias("postalcode"),
            g["timezone"].alias("timezone"),
            g["latitude"].alias("latitude"),
            g["longitude"].alias("longitude"),
        )

    def q_exact_dedup(spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet")
        return dedup.exact_dedup(d, "doc_id", "text")

    def q_ngram_jaccard(spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet")
        return dedup.ngram_jaccard_pairs(
            d, "doc_id", "text", k=3, threshold=0.5, max_shingle_freq=None
        ).select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))

    def q_minhash_lsh(spark, sf):
        # hash-green vs the EXACT-pair DuckDB oracle: LSH candidate
        # recall is 1.0 at this SF (verified: 25/25 exact pairs) and
        # candidates are exact-Jaccard-verified, so emitted set ==
        # exact set — any recall or verification regression breaks
        # the row-count/hash match
        d = spark.read.parquet(f"{sf}/documents.parquet")
        return dedup.minhash_lsh_pairs(
            d, "doc_id", "text", k=3, num_hashes=32, bands=8, threshold=0.5,
            max_shingle_freq=None,
        ).select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))

    def q_minhash_lsh_guarded(spark, sf):
        # exercises the hot-shingle skew guard (dedup.py guarded path:
        # explode -> broadcast left_anti -> re-collect); at sf0.01 the
        # guard drops 29 stop-shingles (freq > 5) and the surviving
        # pair set still has LSH recall 1.0, so the guarded exact-
        # Jaccard pair set is the oracle
        d = spark.read.parquet(f"{sf}/documents.parquet")
        return dedup.minhash_lsh_pairs(
            d, "doc_id", "text", k=3, num_hashes=32, bands=8, threshold=0.5,
            max_shingle_freq=5,
        ).select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))

    def q_simhash_pairs(spark, sf):
        # oracle: pinned seed-fixed golden (_SIMHASH_GOLDEN)
        d = spark.read.parquet(f"{sf}/documents.parquet")
        return dedup.simhash_pairs(d, "doc_id", "text", max_hamming=3, bands=4)

    def q_token_stats(spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet")
        return d.select(
            "doc_id",
            textstats.token_count(F.col("text")).alias("tokens"),
            textstats.bpe_ish_token_count(F.col("text")).alias("subtokens"),
            F.length("text").alias("chars"),
        )

    def q_quality_score(spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet")
        return d.select(
            "doc_id", textstats.quality_score(F.col("text")).alias("quality")
        )

    def q_lang_id(spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet")
        return d.select(
            "doc_id",
            textstats.lang_id(F.col("text")).alias("lang_guess"),
            (textstats.lang_id(F.col("text")) == F.col("lang")).alias("agrees"),
        )

    def q_fingerprint(spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet")
        return d.select(
            "doc_id", textstats.fingerprint(F.col("text")).alias("fp")
        )

    def q_winnowing(spark, sf):
        # oracle: pinned seed-fixed golden (_WINNOW_GOLDEN)
        d = spark.read.parquet(f"{sf}/documents.parquet")
        return d.select(
            "doc_id",
            F.size(textstats.winnowing_fingerprints(F.col("text"))).alias("n_fp"),
        )

    def q_ann_cosine_topk(spark, sf):
        e = spark.read.parquet(f"{sf}/embeddings.parquet").select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
        )
        q = e.where("vec_id < 3").select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = similarity.brute_force_topk(e, q, k=10)
        return out.select(
            "query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
        )

    def q_ann_lsh(spark, sf):
        # hash-green vs the EXACT all-pairs cosine DuckDB oracle: at
        # 48 tables x 4 planes the banded construction has recall
        # exactly 1.0 for the 990 pairs >= 0.3 at this SF (seeded
        # hyperplanes are deterministic; nearest boundary pair is
        # 7e-5 from the threshold, far above float noise), and
        # candidates are exact-cosine-verified — emitted == exact
        e = spark.read.parquet(f"{sf}/embeddings.parquet").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
        dim = 64
        return similarity.lsh_near_duplicates(
            e, dim=dim, threshold=0.3, n_tables=48, n_planes=4
        ).select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))

    def q_embedding_dedup(spark, sf):
        # embedding-cosine near-dup DEDUP on the documents table:
        # LSH pairs (same proven-recall-1.0 48x4 config as ann_lsh —
        # at 0.45 the per-pair candidate probability is strictly
        # higher than at 0.3; nearest excluded pair is 0.4494, a
        # 1.6e-3 boundary gap) transitively closed into per-document
        # keep assignments, verified against DuckDB's exact all-pairs
        # cosine + recursive-CTE closure
        d = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id")
        e = spark.read.parquet(f"{sf}/embeddings.parquet").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
        return dedup.embedding_dedup(
            d, e, dim=64, threshold=0.45, n_tables=48, n_planes=4
        )

    def q_ann_ivf(spark, sf):
        # hash-green via a membership-pinned oracle: WHICH pairs the
        # probe-limited scan emits is xxhash64-seeded (SQL cannot
        # re-derive it — and on isotropic synthetic embeddings no
        # n_probe < n_centroids reaches recall 1.0), so the oracle pins
        # the 30 emitted (query_id, vec_id) pairs as literals, but
        # every VALUE (cosine, rank ordering) is genuinely recomputed
        # by DuckDB from the raw table — any drift in the engine's
        # scan, scoring or ordering breaks the hash match
        e = spark.read.parquet(f"{sf}/embeddings.parquet")
        q = e.where("vec_id < 3").select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return similarity.ivf_topk(e, q, k=10, n_centroids=16, n_probe=4).select(
            "query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
        )

    def q_closure(spark, sf):
        o = spark.read.parquet(f"{sf}/orders.parquet")
        edges = o.select(
            (F.col("o_orderkey") % 500).alias("src"),
            (F.col("o_custkey") % 500).alias("dst"),
        )
        return connected_components(edges)

    def q_block_stats(spark, sf):
        t = _derived_texts(spark, sf)
        d = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "lang")
        ind = (
            t.join(d, "doc_id")
            .select("doc_id", "lang", F.explode(ip.extract_public_ips("itext")).alias("ipaddr"))
            .dropDuplicates(["doc_id", "ipaddr"])
        )
        key = F.concat_ws("|", F.substring_index("ipaddr", ".", 3), F.col("lang"))
        return (
            ind.withColumn("block_key", key)
            .groupBy("block_key")
            .agg(F.count(F.lit(1)).alias("block_rows"))
        )

    def q_pipeline_clusters(spark, sf):
        # full record-linkage pipeline on the synthetic corpus; the
        # cluster-size histogram is the oracle-checkable invariant:
        # 200 entities x 3 records each must resolve to EXACTLY 200
        # clusters of size 3 (any fp merge or fn split changes the
        # histogram)
        import tempfile

        from polars_iptools_spark.plans.pipeline import run_pipeline
        from polars_iptools_spark.sources.corpus import synth_corpus

        corpus, _ = synth_corpus(spark, n_entities=200, records_per_entity=3, n_blocks=20)
        res = run_pipeline(spark, corpus, tempfile.mkdtemp(prefix="plc_"))
        return (
            res["clusters"]
            .groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("members"))
            .groupBy("members")
            .agg(F.count(F.lit(1)).alias("n_clusters"))
        )

    def q_pipeline_clusters_v6(spark, sf):
        # the IPv6 path of the full pipeline under the driver gate:
        # v6 indicators -> /48-prefix blocking -> scoring -> closure.
        # 8 entities each keyed by a distinct global-unicast /48 must
        # resolve to exactly 8 clusters of size 3 (the same histogram
        # invariant as pipeline_clusters)
        import tempfile

        from polars_iptools_spark.plans.pipeline import run_pipeline

        rows = []
        for e in range(8):
            v6 = f"2606:4700:{e:x}::1"
            for r in range(3):
                rows.append(
                    (
                        f"org/repo{e}",
                        f"src/mod{e}/file{r}.py",
                        f"c{e}_{r}",
                        "py",
                        f"conn {v6} seen in log",
                    )
                )
        corpus = spark.createDataFrame(
            rows,
            "repo string, path string, commit string, lang string, content string",
        )
        res = run_pipeline(
            spark, corpus, tempfile.mkdtemp(prefix="plc6_"), ipv6=True
        )
        return (
            res["clusters"]
            .groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("members"))
            .groupBy("members")
            .agg(F.count(F.lit(1)).alias("n_clusters"))
        )

    def q_scoring(spark, sf):
        # jaro-winkler + levenshtein blend over derived string pairs
        d = spark.read.parquet(f"{sf}/documents.parquet")
        pairs = d.select(
            "doc_id",
            F.col("source").alias("s_a"),
            F.concat(F.col("source"), F.when(F.col("doc_id") % 2 == 0, F.lit("x")).otherwise(F.lit(""))).alias("s_b"),
        )
        return pairs.select(
            "doc_id",
            F.round(scoring.jaro_winkler_udf("s_a", "s_b"), 6).alias("jw"),
            F.levenshtein("s_a", "s_b").alias("lev"),
        )

    def q_streaming_first_seen(spark, sf):
        # Structured Streaming correctness: the applyInPandasWithState
        # first-seen feed over a deterministic single-file stream must
        # equal the batch groupBy(ip).agg(min(ts), count) aggregation.
        import tempfile
        import uuid

        from polars_iptools_spark.streaming.enrich import first_seen_indicators

        d = spark.read.parquet(f"{sf}/documents.parquet")
        ev = d.select(
            F.concat(F.lit("9.9.9."), (F.col("doc_id") % 50).cast("string")).alias("ip"),
            F.timestamp_seconds(
                F.lit(1700000000) + (F.col("doc_id") * 37) % 1000
            ).alias("ts"),
        )
        src = tempfile.mkdtemp(prefix="pis_stream_src_")
        ev.coalesce(1).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        qname = "q_first_seen_" + uuid.uuid4().hex[:8]
        q = (
            first_seen_indicators(stream)
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(qname).select(
            "ip", F.unix_timestamp("first_ts").alias("first_ts"), "hits"
        )

    def q_streaming_first_seen_bounded(spark, sf):
        # bounded-retention first-seen (dropDuplicatesWithinWatermark):
        # over a single availableNow batch with a wide watermark it
        # reduces to per-key dedup, and single-occurrence keys
        # (doc_id < 50, one row each) make first_ts deterministic —
        # the eviction/refresh timing semantics are pinned by
        # tests/test_streaming.py, this entry pins the emission surface
        import tempfile
        import uuid

        from polars_iptools_spark.streaming.enrich import (
            first_seen_indicators_bounded,
        )

        d = spark.read.parquet(f"{sf}/documents.parquet").where(F.col("doc_id") < 50)
        ev = d.select(
            F.concat(F.lit("9.9.8."), F.col("doc_id").cast("string")).alias("ip"),
            F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id") * 37).alias("ts"),
        )
        src = tempfile.mkdtemp(prefix="pis_stream_bsrc_")
        ev.coalesce(1).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        qname = "q_first_seen_bounded_" + uuid.uuid4().hex[:8]
        q = (
            first_seen_indicators_bounded(stream, watermark="365 days")
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(qname).select(
            "ip", F.unix_timestamp("first_ts").alias("first_ts")
        )

    def q_streaming_windowed_counts(spark, sf):
        # second streaming correctness entry: the watermarked tumbling-
        # window aggregation over an availableNow stream must equal the
        # batch GROUP BY (floor(ts/60)*60, ip) — complete output mode so
        # the final (post-watermark) windows are emitted too
        import tempfile
        import uuid

        from polars_iptools_spark.streaming.enrich import windowed_indicator_counts

        d = spark.read.parquet(f"{sf}/documents.parquet")
        ev = d.select(
            F.concat(F.lit("9.9.9."), (F.col("doc_id") % 50).cast("string")).alias("ip"),
            F.timestamp_seconds(
                F.lit(1700000000) + (F.col("doc_id") * 37) % 1000
            ).alias("ts"),
        )
        src = tempfile.mkdtemp(prefix="pis_stream_win_")
        ev.coalesce(1).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        qname = "q_win_counts_" + uuid.uuid4().hex[:8]
        q = (
            windowed_indicator_counts(stream, window="1 minute", watermark="2 minutes")
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(qname).select(
            F.unix_timestamp("window_start").alias("ws"),
            F.unix_timestamp("window_end").alias("we"),
            "ip",
            "hits",
        )

    def q_streaming_events(spark, sf):
        # third streaming entry, over the driver's REAL events table
        # (timestamp_ntz column, whole-hour tumbling windows): the
        # watermarked per-event-type window stats from an availableNow
        # stream must equal the batch GROUP BY — integer aggregates
        # (count, min/max id) so the comparison is bit-stable
        import tempfile
        import uuid

        from polars_iptools_spark.streaming.enrich import windowed_event_stats

        # watermarks require TIMESTAMP (LTZ); the table ships
        # TIMESTAMP_NTZ — the cast keeps identical epochs in the UTC
        # session
        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            "event_id",
            F.col("ts").cast("timestamp").alias("ts"),
            "event_type",
        )
        src = tempfile.mkdtemp(prefix="pis_stream_ev_")
        ev.coalesce(1).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        qname = "q_ev_stats_" + uuid.uuid4().hex[:8]
        q = (
            windowed_event_stats(stream, window="1 hour", watermark="2 hours")
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(qname).select(
            F.unix_timestamp("window_start").alias("ws"),
            F.unix_timestamp("window_end").alias("we"),
            "key",
            "n",
            "min_id",
            "max_id",
        )

    def q_multimodal_meta(spark, sf):
        # the payload-sha256 field stays pytest-covered (DuckDB cannot
        # hash BLOBs); the other 6 decoded fields are oracle-checked
        d = spark.read.parquet(f"{sf}/documents.parquet")
        media = multimodal.attach_fake_media(d, "doc_id", "text")
        return multimodal.extract_media_meta(media, "doc_id", "media").select(
            "media_id", "n_bytes", "magic", "width", "height", "n_frames"
        )

    def q_multimodal_meta_real(spark, sf):
        # REAL stdlib container decode (BMP / PPM / WAV headers) over
        # synthesized real-format payloads whose dimensions are pure
        # doc_id arithmetic — the oracle recomputes every decoded field
        # (incl. the BMP size bytes inside the 4-byte magic) from
        # doc_id alone.  sha256 stays pytest-covered (DuckDB can't
        # hash blobs).
        d = spark.read.parquet(f"{sf}/documents.parquet")
        media = multimodal.attach_synthetic_media(d, "doc_id")
        return multimodal.extract_media_meta(
            media, "doc_id", "media", decode_mode="real"
        ).select("media_id", "n_bytes", "magic", "width", "height", "n_frames")

    def q_extract_all_ips_alias(spark, sf):
        # §2 #12: deprecated alias — must emit exactly the extract_ips
        # result (the DeprecationWarning itself is pytest-asserted in
        # tests/test_iptools.py; suppressed here to keep driver logs clean)
        import warnings as _w

        t = _derived_texts(spark, sf)
        with _w.catch_warnings():
            _w.simplefilter("ignore", DeprecationWarning)
            col = ip.extract_all_ips("itext")
        return t.select("doc_id", F.array_join(col, ",").alias("ips_csv"))

    def q_namespace_chain(spark, sf):
        # §2 #17: fluent .ip namespace — ipcol chains must equal the
        # functional API the other oracles pin
        from polars_iptools_spark.namespace import ipcol

        df = _derived_ips(spark, sf)
        return df.select(
            "rid",
            ipcol("ip").is_valid().alias("valid"),
            ipcol("ip").to_address().to_string().alias("canonical"),
            ipcol("ip").to_ipv4().to_string().alias("quad"),
        )

    def q_typed_parquet_roundtrip(spark, sf):
        # §2 #18: the IPv4/IPAddress extension tags (schema field
        # metadata) must survive a parquet write -> read cycle, and the
        # typed storage columns must re-render to the canonical strings.
        # The surviving tags are surfaced as literal columns so the
        # oracle checks them by value.
        import tempfile

        from polars_iptools_spark import types as T

        df = _derived_ips(spark, sf)
        typed = df.select(
            "rid",
            T.as_ipv4(ip.to_ipv4("ip"), "ip4"),
            T.as_ip_address(ip.to_address("ip"), "addr"),
        )
        path = tempfile.mkdtemp(prefix="pis_typedpq_") + "/t.parquet"
        typed.write.mode("overwrite").parquet(path)
        back = spark.read.parquet(path)
        tags = T.ip_columns(back)
        return back.select(
            "rid",
            F.lit(tags.get("ip4", "MISSING")).alias("tag_ip4"),
            F.lit(tags.get("addr", "MISSING")).alias("tag_addr"),
            ip.to_string("ip4").alias("quad"),
            ip.to_string("addr").alias("canonical"),
        )

    def q_reload_mmdb(spark, sf):
        # §2 #16: explicit reload semantics (the Spark analog of
        # MaxMindDB::reload, /root/reference/src/maxmind.rs:161-168).
        # A spur.mmdb replaced IN-PLACE keeps serving the cached tables
        # until a column is built with reload_mmdb=True: tag_stale must
        # show the v1 feed, tag_fresh the v2 feed, in the same result.
        import tempfile

        from polars_iptools_spark.sources.mmdb_writer import write_mmdb

        d = tempfile.mkdtemp(prefix="pis_reload_")
        path = f"{d}/spur.mmdb"
        write_mmdb(
            path,
            [("5.0.0.0/8", {"tag": "one", "infrastructure": "DC1"})],
            database_type="spur",
        )
        col_v1 = ip.spur.full("ip", db_dir=d)  # caches + broadcasts v1
        write_mmdb(
            path,
            [("5.0.0.0/8", {"tag": "two", "infrastructure": "DC2"})],
            database_type="spur",
        )
        col_stale = ip.spur.full("ip", db_dir=d)  # no reload: still v1
        col_fresh = ip.spur.full("ip", db_dir=d, reload_mmdb=True)  # v2
        del col_v1
        df = _derived_ips(spark, sf)
        return df.select(
            "rid",
            col_stale["tag"].alias("tag_stale"),
            col_fresh["tag"].alias("tag_fresh"),
            col_fresh["infrastructure"].alias("infra_fresh"),
        )

    raw = {
        "is_valid": q_is_valid,
        "is_private": q_is_private,
        "ipv4_to_numeric": q_ipv4_to_numeric,
        "numeric_to_ipv4": q_numeric_to_ipv4,
        "roundtrip_address": q_roundtrip_address,
        "roundtrip_typed_ipv4": q_roundtrip_typed_ipv4,
        "is_in": q_is_in,
        "extract_ips": q_extract_ips,
        "extract_public_ips": q_extract_public_ips,
        "extract_private_ips": q_extract_private_ips,
        "extract_ips_v6": q_extract_ips_v6,
        "geoip_asn": q_geoip_asn,
        "geoip_full": q_geoip_full,
        "spur_full": q_spur_full,
        "geoip_synth_scale": q_geoip_synth_scale,
        "geoip_synth_scale_v6": q_geoip_synth_scale_v6,
        "exact_dedup": q_exact_dedup,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_lsh": q_minhash_lsh,
        "minhash_lsh_guarded": q_minhash_lsh_guarded,
        "simhash_pairs": q_simhash_pairs,
        "token_stats": q_token_stats,
        "quality_score": q_quality_score,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "winnowing": q_winnowing,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh": q_ann_lsh,
        "embedding_dedup": q_embedding_dedup,
        "ann_ivf": q_ann_ivf,
        "closure": q_closure,
        "block_stats": q_block_stats,
        "pipeline_clusters": q_pipeline_clusters,
        "pipeline_clusters_v6": q_pipeline_clusters_v6,
        "scoring": q_scoring,
        "streaming_first_seen": q_streaming_first_seen,
        "streaming_first_seen_bounded": q_streaming_first_seen_bounded,
        "streaming_windowed_counts": q_streaming_windowed_counts,
        "streaming_events": q_streaming_events,
        "multimodal_meta": q_multimodal_meta,
        "multimodal_meta_real": q_multimodal_meta_real,
        "extract_all_ips_alias": q_extract_all_ips_alias,
        "namespace_chain": q_namespace_chain,
        "typed_parquet_roundtrip": q_typed_parquet_roundtrip,
        "reload_mmdb": q_reload_mmdb,
    }
    return {k: _with_ship(fn) for k, fn in raw.items()}


def oracle_sql() -> dict[str, str]:
    from polars_iptools_spark.functions.iptools import VALID_ANCHORED

    ips = f"WITH ips AS ({_DERIVED_IPS_SQL})"
    texts = f"WITH texts AS ({_DERIVED_TEXTS_SQL})"
    valid_re = VALID_ANCHORED.replace("'", "''")

    # enrichment oracles: interval tables dumped to parquet, range-joined
    gd = _dump_geoip_intervals()
    key_hex = _KEY_HEX_SQL.format(v4re=_V4_RE_SQL, num=_NUM_SQL)
    keyed = f"""{ips},
k AS (SELECT rid, ip, {key_hex} AS key FROM ips)"""
    oct1 = f"(({_NUM_SQL}) >> 24)"

    # private check over the numeric form
    priv = (
        f"(({_NUM_SQL}) >> 24 = 10 OR ({_NUM_SQL}) >> 20 = 2753 "
        f"OR ({_NUM_SQL}) >> 16 = 49320)"
    )

    # list filters over extracted v4 strings (DuckDB lambda syntax)
    vnum = (
        "CAST(string_split(x,'.')[1] AS BIGINT)*16777216 + "
        "CAST(string_split(x,'.')[2] AS BIGINT)*65536 + "
        "CAST(string_split(x,'.')[3] AS BIGINT)*256 + "
        "CAST(string_split(x,'.')[4] AS BIGINT)"
    )
    is_priv_x = f"(({vnum})>>24 = 10 OR ({vnum})>>20 = 2753 OR ({vnum})>>16 = 49320)"
    is_loop_x = f"(({vnum})>>24 = 127)"
    is_bcast_x = f"(({vnum}) = 4294967295)"

    extract_base = (
        "regexp_extract_all(replace(replace(itext,'[.]','.'),'(.)','.'), "
        f"'{_V4_FIND_SQL}', 0)"
    )

    return {
        "is_valid": f"""{ips}
SELECT rid, ip,
       CASE WHEN ip IS NULL THEN NULL
            ELSE regexp_full_match(ip, '{valid_re}') END AS valid
FROM ips""",
        "is_private": f"""{ips}
SELECT rid, ip,
       CASE WHEN ip IS NULL THEN NULL
            WHEN regexp_full_match(ip, '{_V4_RE_SQL}') THEN {priv}
            ELSE FALSE END AS private
FROM ips""",
        "ipv4_to_numeric": f"""{ips}
SELECT rid, ip,
       CASE WHEN ip IS NOT NULL AND regexp_full_match(ip, '{_V4_RE_SQL}')
            THEN {_NUM_SQL} ELSE NULL END AS ipnum
FROM ips""",
        "numeric_to_ipv4": f"""{ips},
nums AS (
  SELECT rid,
         CASE WHEN ip IS NOT NULL AND regexp_full_match(ip, '{_V4_RE_SQL}')
              THEN {_NUM_SQL} ELSE NULL END AS ipnum
  FROM ips
)
SELECT rid,
       CASE WHEN rid % 11 = 0 THEN ipnum + 4294967296 ELSE ipnum END AS n,
       CASE WHEN (CASE WHEN rid % 11 = 0 THEN ipnum + 4294967296 ELSE ipnum END)
                 BETWEEN 0 AND 4294967295
            THEN concat_ws('.',
                 CAST(((CASE WHEN rid % 11 = 0 THEN ipnum + 4294967296 ELSE ipnum END) >> 24) & 255 AS VARCHAR),
                 CAST(((CASE WHEN rid % 11 = 0 THEN ipnum + 4294967296 ELSE ipnum END) >> 16) & 255 AS VARCHAR),
                 CAST(((CASE WHEN rid % 11 = 0 THEN ipnum + 4294967296 ELSE ipnum END) >> 8) & 255 AS VARCHAR),
                 CAST((CASE WHEN rid % 11 = 0 THEN ipnum + 4294967296 ELSE ipnum END) & 255 AS VARCHAR))
            ELSE NULL END AS quad
FROM nums""",
        # derived inputs are already canonical, so the round-trip is
        # identity on valid IPs and NULL otherwise
        "roundtrip_address": f"""{ips}
SELECT rid, ip,
       CASE WHEN ip IS NULL THEN NULL
            WHEN regexp_full_match(ip, '{valid_re}') THEN lower(ip)
            ELSE NULL END AS canonical
FROM ips""",
        "roundtrip_typed_ipv4": f"""{ips}
SELECT rid,
       CASE WHEN ip IS NOT NULL AND regexp_full_match(ip, '{_V4_RE_SQL}')
            THEN ip ELSE NULL END AS quad
FROM ips""",
        "is_in": f"""{ips}
SELECT rid, ip,
       CASE WHEN ip IS NULL THEN NULL
            WHEN regexp_full_match(ip, '{_V4_RE_SQL}') THEN
              (({_NUM_SQL}) BETWEEN 134744064 AND 134744319
               OR ({_NUM_SQL}) BETWEEN 167772160 AND 184549375
               OR ({_NUM_SQL}) BETWEEN 1681915904 AND 1686110207
               OR ({_NUM_SQL}) BETWEEN 335544320 AND 402653183
               OR ({_NUM_SQL}) BETWEEN 956301312 AND 973078527)
            WHEN ip = '2606:4700::1111' THEN TRUE
            WHEN regexp_full_match(ip, '{valid_re}') THEN FALSE
            ELSE NULL END AS member
FROM ips""",
        "extract_ips": f"""{texts}
SELECT doc_id, coalesce(array_to_string({extract_base}, ','), '') AS ips_csv
FROM texts""",
        "extract_public_ips": f"""{texts}
SELECT doc_id,
       coalesce(array_to_string(
         list_filter({extract_base},
                     x -> NOT {is_priv_x} AND NOT {is_loop_x} AND NOT {is_bcast_x}),
         ','), '') AS ips_csv
FROM texts""",
        "extract_private_ips": f"""{texts}
SELECT doc_id,
       coalesce(array_to_string(
         list_filter({extract_base}, x -> {is_priv_x}),
         ','), '') AS ips_csv
FROM texts""",
        "extract_ips_v6": _EXTRACT_V6_SQL,
        "geoip_asn": f"""{keyed}
SELECT k.rid,
       CASE WHEN k.ip IS NULL THEN NULL
            WHEN k.key IS NULL THEN ''
            ELSE coalesce(a.asn_str, '') END AS asn
FROM k LEFT JOIN read_parquet('{gd}/geoip_asn.parquet') a
  ON k.key >= a.lo AND k.key <= a.hi""",
        "geoip_full": f"""{keyed}
SELECT k.rid,
       CASE WHEN k.key IS NULL THEN NULL ELSE coalesce(a.asnnum, 0) END AS asnnum,
       CASE WHEN k.key IS NULL THEN NULL ELSE coalesce(a.asnorg, '') END AS asnorg,
       CASE WHEN k.key IS NULL THEN NULL ELSE coalesce(c.city, '') END AS city,
       CASE WHEN k.key IS NULL THEN NULL ELSE coalesce(c.continent, '') END AS continent,
       CASE WHEN k.key IS NULL THEN NULL ELSE coalesce(c.country, '') END AS country,
       CASE WHEN k.key IS NULL THEN NULL ELSE coalesce(c.country_iso, '') END AS country_iso,
       CASE WHEN k.key IS NULL THEN NULL ELSE coalesce(c.latitude, 0.0) END AS latitude,
       CASE WHEN k.key IS NULL THEN NULL ELSE coalesce(c.longitude, 0.0) END AS longitude,
       CASE WHEN k.key IS NULL THEN NULL ELSE coalesce(c.postalcode, '') END AS postalcode,
       CASE WHEN k.key IS NULL THEN NULL ELSE coalesce(c.subdivision, '') END AS subdivision,
       CASE WHEN k.key IS NULL THEN NULL ELSE coalesce(c.subdivision_iso, '') END AS subdivision_iso,
       CASE WHEN k.key IS NULL THEN NULL ELSE coalesce(c.timezone, '') END AS timezone
FROM k
LEFT JOIN read_parquet('{gd}/geoip_asn.parquet') a ON k.key >= a.lo AND k.key <= a.hi
LEFT JOIN read_parquet('{gd}/geoip_city.parquet') c ON k.key >= c.lo AND k.key <= c.hi""",
        # synthetic production-shaped GeoLite2: the oracle recomputes the
        # tiling arithmetic (mmdb_synth._iter_networks + record_index)
        # from scratch — independent of the MMDB file, decoder, writer
        # AND interval dump, so a regression anywhere in that chain
        # breaks the hash.  Tiling: /19 block b subdivides by b%4 into
        # 1x/19, 2x/20, 4x/21 or 8x/22 (cumulative offsets 0/1/3/7,
        # 15 networks per 4 blocks); record j = (i*2654435761) % n_rec.
        "geoip_synth_scale": f"""{ips},
p AS (
  SELECT rid, ip,
         CASE WHEN ip IS NULL THEN NULL
              ELSE regexp_full_match(ip, '{valid_re}') END AS valid,
         CASE WHEN ip IS NOT NULL AND regexp_full_match(ip, '{_V4_RE_SQL}')
              THEN {_NUM_SQL} END AS addr
  FROM ips
),
calc AS (
  SELECT rid, valid,
         CASE WHEN addr IS NOT NULL THEN
           (addr // 8192 // 4) * 15
           + CASE (addr // 8192) % 4 WHEN 0 THEN 0 WHEN 1 THEN 1
                                     WHEN 2 THEN 3 ELSE 7 END
           + (addr % 8192) // (CASE (addr // 8192) % 4
                               WHEN 0 THEN 8192 WHEN 1 THEN 4096
                               WHEN 2 THEN 2048 ELSE 1024 END)
         END AS i
  FROM p
),
jj AS (
  SELECT rid, valid,
         CASE WHEN i IS NOT NULL AND i < {_SYNTH_CITY_N}
              THEN (i * 2654435761) % {_SYNTH_CITY_REC} END AS jc,
         CASE WHEN i IS NOT NULL AND i < {_SYNTH_ASN_N}
              THEN (i * 2654435761) % {_SYNTH_ASN_REC} END AS ja
  FROM calc
)
SELECT rid,
  CASE WHEN valid IS DISTINCT FROM TRUE THEN NULL
       WHEN ja IS NULL THEN 0 ELSE 1000 + ja END AS asnnum,
  CASE WHEN valid IS DISTINCT FROM TRUE THEN NULL
       WHEN jc IS NULL THEN '' ELSE 'City ' || CAST(jc AS VARCHAR) END AS city,
  CASE WHEN valid IS DISTINCT FROM TRUE THEN NULL
       WHEN jc IS NULL THEN ''
       ELSE 'Country ' || CAST(jc % 250 AS VARCHAR) END AS country,
  CASE WHEN valid IS DISTINCT FROM TRUE THEN NULL
       WHEN jc IS NULL THEN ''
       ELSE lpad(CAST(jc % 100000 AS VARCHAR), 5, '0') END AS postalcode,
  CASE WHEN valid IS DISTINCT FROM TRUE THEN NULL
       WHEN jc IS NULL THEN ''
       ELSE 'Zone/Region_' || CAST(jc % 400 AS VARCHAR) END AS timezone,
  CASE WHEN valid IS DISTINCT FROM TRUE THEN NULL
       WHEN jc IS NULL THEN 0.0
       ELSE -90.0 + (jc % 18000) / 100.0 END AS latitude
FROM jj""",
        # v6 side of the synthesized pair: probe rows are pinned
        # (rid, tiling-index) literals (the ip <-> index mapping is
        # stdlib ipaddress arithmetic, containment-checked in pytest);
        # every enriched FIELD is recomputed here from the index, with
        # the v6 record sequence continuing the v4 one (record j =
        # ((n_v4 + i) * 2654435761) % n_rec), so the engine's v6
        # writer/decoder/split-index/|S16-lookup chain is what the
        # value hash actually tests
        "geoip_synth_scale_v6": "WITH v(rid, i) AS (VALUES "
        + ",".join(
            f"({r},{'NULL' if i is None else i})"
            for r, (_s, i) in enumerate(_synth_v6_probes())
        )
        + f"""),
jj AS (
  SELECT rid,
         CASE WHEN i IS NOT NULL AND i < {_SYNTH_CITY_N6}
              THEN (({_SYNTH_CITY_N} + i) * 2654435761) % {_SYNTH_CITY_REC} END AS jc,
         CASE WHEN i IS NOT NULL AND i < {_SYNTH_ASN_N6}
              THEN (({_SYNTH_ASN_N} + i) * 2654435761) % {_SYNTH_ASN_REC} END AS ja
  FROM v
)
SELECT rid,
  CASE WHEN ja IS NULL THEN 0 ELSE 1000 + ja END AS asnnum,
  CASE WHEN ja IS NULL THEN ''
       ELSE 'Synthetic Org ' || CAST(ja AS VARCHAR) || ' LLC' END AS asnorg,
  CASE WHEN jc IS NULL THEN '' ELSE 'City ' || CAST(jc AS VARCHAR) END AS city,
  CASE WHEN jc IS NULL THEN ''
       ELSE 'Country ' || CAST(jc % 250 AS VARCHAR) END AS country,
  CASE WHEN jc IS NULL THEN ''
       ELSE lpad(CAST(jc % 100000 AS VARCHAR), 5, '0') END AS postalcode,
  CASE WHEN jc IS NULL THEN ''
       ELSE 'Zone/Region_' || CAST(jc % 400 AS VARCHAR) END AS timezone,
  CASE WHEN jc IS NULL THEN 0.0
       ELSE -90.0 + (jc % 18000) / 100.0 END AS latitude,
  CASE WHEN jc IS NULL THEN 0.0
       ELSE -180.0 + (jc % 36000) / 100.0 END AS longitude
FROM jj""",
        # spur fixture entries are known literals -> pure CASE oracle;
        # 'nul' = null or invalid input (all-null struct per spur.rs:41-44)
        "spur_full": f"""{ips},
cat AS (
  SELECT rid,
         CASE WHEN ip IS NULL THEN 'nul'
              WHEN ip = '2606:4700::1111' THEN 'v6'
              WHEN NOT regexp_full_match(ip, '{_V4_RE_SQL}') THEN 'nul'
              WHEN {oct1} = 5 THEN 'dc'
              WHEN {oct1} = 77 THEN 'mob'
              ELSE 'none' END AS c
  FROM ips
)
SELECT rid,
       CASE c WHEN 'v6' THEN 1.25 WHEN 'dc' THEN 12.5
              WHEN 'mob' THEN 3.0 WHEN 'none' THEN 0.0 END AS client_count,
       CASE c WHEN 'v6' THEN 'VPN_PROVIDER' WHEN 'dc' THEN 'DATACENTER'
              WHEN 'mob' THEN 'MOBILE' WHEN 'none' THEN '' END AS infrastructure,
       CASE c WHEN 'dc' THEN 'Amsterdam' WHEN 'v6' THEN ''
              WHEN 'mob' THEN '' WHEN 'none' THEN '' END AS location_city,
       CASE c WHEN 'dc' THEN 'NL' WHEN 'v6' THEN ''
              WHEN 'mob' THEN '' WHEN 'none' THEN '' END AS location_country,
       CASE c WHEN 'dc' THEN 'North Holland' WHEN 'v6' THEN ''
              WHEN 'mob' THEN '' WHEN 'none' THEN '' END AS location_state,
       CASE c WHEN 'dc' THEN 'VPN,PROXY' WHEN 'v6' THEN 'TOR'
              WHEN 'mob' THEN '' WHEN 'none' THEN '' END AS services_csv,
       CASE c WHEN 'dc' THEN 'anon' WHEN 'v6' THEN 'cf'
              WHEN 'mob' THEN '' WHEN 'none' THEN '' END AS tag
FROM cat""",
        "exact_dedup": """
SELECT sha256(text) AS content_sha,
       min(doc_id) AS keep_id,
       count(*) AS dup_count
FROM documents GROUP BY sha256(text)""",
        "ngram_jaccard": _jaccard_pairs_sql(),
        # minhash+LSH emits the SAME exact-Jaccard pair set (candidate
        # recall verified 1.0 at this SF; candidates exact-verified), so
        # the exact inverted-index construction is its oracle too
        "minhash_lsh": _jaccard_pairs_sql(),
        # guarded variant: the oracle replicates the hot-shingle drop
        # (freq > 5) and computes Jaccard over the FILTERED sets
        "minhash_lsh_guarded": _jaccard_pairs_sql(guard_freq=5),
        "token_stats": """
SELECT doc_id,
       CASE WHEN length(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) = 0 THEN 0
            ELSE len(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' '))
       END AS tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0)) AS subtokens,
       length(text) AS chars
FROM documents""",
        "fingerprint": """
SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
FROM documents""",
        # real-container decode: every field re-derived from doc_id
        # (format by doc_id%3; BMP rows already 4-aligned since width
        # is a multiple of 4, so n_bytes = 54 + 3wh; PPM dims pinned to
        # 2 digits so the header is a fixed 13 bytes; WAV is the
        # canonical 44-byte mono 16-bit header)
        "multimodal_meta_real": """
WITH p AS (
  SELECT doc_id,
         doc_id % 3 AS fmt,
         16 + (doc_id % 8) * 4 AS bw, 16 + (doc_id % 6) * 4 AS bh,
         10 + (doc_id % 40) AS pw, 10 + (doc_id % 30) AS ph,
         100 + (doc_id % 50) AS nf
  FROM documents
)
SELECT doc_id AS media_id,
       CAST(CASE fmt WHEN 0 THEN 54 + 3 * bw * bh
                     WHEN 1 THEN 13 + 3 * pw * ph
                     ELSE 44 + 2 * nf END AS BIGINT) AS n_bytes,
       CASE fmt
         WHEN 0 THEN '424d'
           || lpad(lower(hex((54 + 3 * bw * bh) % 256)), 2, '0')
           || lpad(lower(hex(((54 + 3 * bw * bh) // 256) % 256)), 2, '0')
         WHEN 1 THEN '50360a3' || CAST(pw // 10 AS VARCHAR)
         ELSE '52494646' END AS magic,
       CAST(CASE fmt WHEN 0 THEN bw WHEN 1 THEN pw ELSE NULL END AS INTEGER) AS width,
       CAST(CASE fmt WHEN 0 THEN bh WHEN 1 THEN ph ELSE NULL END AS INTEGER) AS height,
       CAST(CASE fmt WHEN 2 THEN nf ELSE 1 END AS INTEGER) AS n_frames
FROM p""",
        # §2 #12: the deprecated alias is plain extract_ips
        "extract_all_ips_alias": f"""{texts}
SELECT doc_id, coalesce(array_to_string({extract_base}, ','), '') AS ips_csv
FROM texts""",
        # §2 #17: namespace chain = is_valid + both round-trips
        "namespace_chain": f"""{ips}
SELECT rid,
       CASE WHEN ip IS NULL THEN NULL
            ELSE regexp_full_match(ip, '{valid_re}') END AS valid,
       CASE WHEN ip IS NULL THEN NULL
            WHEN regexp_full_match(ip, '{valid_re}') THEN lower(ip)
            ELSE NULL END AS canonical,
       CASE WHEN ip IS NOT NULL AND regexp_full_match(ip, '{_V4_RE_SQL}')
            THEN ip ELSE NULL END AS quad
FROM ips""",
        # §2 #18: tags must survive the parquet cycle verbatim; typed
        # storage re-renders to the canonical strings
        "typed_parquet_roundtrip": f"""{ips}
SELECT rid,
       'ipv4' AS tag_ip4,
       'ip_address' AS tag_addr,
       CASE WHEN ip IS NOT NULL AND regexp_full_match(ip, '{_V4_RE_SQL}')
            THEN ip ELSE NULL END AS quad,
       CASE WHEN ip IS NULL THEN NULL
            WHEN regexp_full_match(ip, '{valid_re}') THEN lower(ip)
            ELSE NULL END AS canonical
FROM ips""",
        # §2 #16: stale column serves the v1 feed (tag 'one'), fresh
        # column the v2 feed ('two'/'DC2'); null/invalid -> all-null
        # struct, valid-not-found (incl. the v6 literal) -> defaults ''
        "reload_mmdb": f"""{ips},
cat AS (
  SELECT rid,
         CASE WHEN ip IS NULL THEN 'nul'
              WHEN NOT regexp_full_match(ip, '{valid_re}') THEN 'nul'
              -- sequential branches: the oct1 cast must only see
              -- dotted-quad rows (DuckDB evaluates AND conjuncts
              -- eagerly across the vector)
              WHEN NOT regexp_full_match(ip, '{_V4_RE_SQL}') THEN 'none'
              WHEN {oct1} = 5 THEN 'hit'
              ELSE 'none' END AS c
  FROM ips
)
SELECT rid,
       CASE c WHEN 'nul' THEN NULL WHEN 'hit' THEN 'one' ELSE '' END AS tag_stale,
       CASE c WHEN 'nul' THEN NULL WHEN 'hit' THEN 'two' ELSE '' END AS tag_fresh,
       CASE c WHEN 'nul' THEN NULL WHEN 'hit' THEN 'DC2' ELSE '' END AS infra_fresh
FROM cat""",
        "simhash_pairs": _pinned_values_sql(
            _SIMHASH_GOLDEN,
            [("doc_a", "BIGINT"), ("doc_b", "BIGINT"), ("hamming", "INTEGER")],
        ),
        "winnowing": _pinned_values_sql(
            _WINNOW_GOLDEN, [("doc_id", "BIGINT"), ("n_fp", "INTEGER")]
        ),
        "ann_cosine_topk": """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < 3),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(e.emb, q.qemb) AS cos
  FROM e CROSS JOIN q
),
ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, round(cos, 6) AS cosine, rank
FROM ranked WHERE rank <= 10""",
        # exact all-pairs cosine >= 0.3: the banded-LSH query has
        # verified recall 1.0 at this SF and exact-verifies candidates,
        # so its emitted set equals this exact set
        # membership-pinned IVF oracle (see q_ann_ivf): the VALUES list
        # is the seed-deterministic probe-limited result set at sf0.01;
        # cosines and ranks are recomputed from the raw embeddings
        "ann_ivf": """
WITH ivf(query_id, vec_id) AS (VALUES
  (0,0),(0,365),(0,334),(0,387),(0,190),(0,388),(0,323),(0,257),(0,165),(0,478),
  (1,1),(1,386),(1,407),(1,402),(1,220),(1,312),(1,353),(1,165),(1,80),(1,233),
  (2,2),(2,117),(2,320),(2,418),(2,350),(2,172),(2,239),(2,459),(2,128),(2,407)),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
scored AS (
  SELECT i.query_id, i.vec_id,
         list_cosine_similarity(q.emb, v.emb) AS cos
  FROM ivf i
  JOIN e q ON q.vec_id = i.query_id
  JOIN e v ON v.vec_id = i.vec_id
)
SELECT query_id, vec_id, round(cos, 6) AS cosine,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
FROM scored""",
        "ann_lsh": """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.emb, b.emb), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.emb, b.emb) >= 0.3""",
        "embedding_dedup": """
WITH RECURSIVE e AS (
  SELECT d.doc_id, CAST(m.embedding AS DOUBLE[]) AS emb
  FROM documents d JOIN embeddings m ON m.vec_id = d.doc_id
),
p AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib
  FROM e a JOIN e b ON a.doc_id < b.doc_id
  WHERE list_cosine_similarity(a.emb, b.emb) >= 0.45
),
sym AS (SELECT ia AS s, ib AS t FROM p UNION SELECT ib, ia FROM p),
reach(a, b) AS (
  SELECT s, s FROM sym
  UNION
  SELECT r.a, y.t FROM reach r JOIN sym y ON r.b = y.s
),
comp AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a)
SELECT d.doc_id,
       coalesce(c.component, d.doc_id) AS keep_id,
       coalesce(c.component, d.doc_id) <> d.doc_id AS is_dup
FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id""",
        "closure": """
WITH RECURSIVE e AS (
  SELECT DISTINCT o_orderkey % 500 AS src, o_custkey % 500 AS dst FROM orders
),
sym AS (
  SELECT src, dst FROM e WHERE src <> dst
  UNION SELECT dst, src FROM e WHERE src <> dst
),
nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e),
reach(a, b) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
)
SELECT a AS node, min(b) AS component FROM reach GROUP BY a""",
        "block_stats": f"""{texts}
SELECT block_key, count(*) AS block_rows FROM (
  SELECT DISTINCT doc_id, concat_ws('|',
           array_to_string(string_split(ipaddr,'.')[1:3], '.'), lang) AS block_key,
         ipaddr
  FROM (
    SELECT t.doc_id, d.lang, unnest(
      list_filter(regexp_extract_all(
        replace(replace(t.itext,'[.]','.'),'(.)','.'), '{_V4_FIND_SQL}', 0),
        x -> NOT {is_priv_x} AND NOT {is_loop_x} AND NOT {is_bcast_x})) AS ipaddr
    FROM texts t JOIN documents d ON t.doc_id = d.doc_id
  )
)
GROUP BY block_key""",
        "scoring": """
SELECT doc_id,
       round(jaro_winkler_similarity(s_a, s_b), 6) AS jw,
       levenshtein(s_a, s_b) AS lev
FROM (
  SELECT doc_id, source AS s_a,
         concat(source, CASE WHEN doc_id % 2 = 0 THEN 'x' ELSE '' END) AS s_b
  FROM documents
)""",
        "quality_score": _quality_sql(),
        "lang_id": _lang_id_sql(),
        # fake-decode fields derived from sha256(text) hex: byte k of
        # the payload is the k-th hex-digit pair
        "multimodal_meta": """
WITH m AS (SELECT doc_id AS media_id, sha256(text) AS h FROM documents),
b AS (
  SELECT media_id, h,
         (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
           + strpos('0123456789abcdef', substr(h, 2, 1)) - 1 AS b0,
         (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
           + strpos('0123456789abcdef', substr(h, 4, 1)) - 1 AS b1,
         (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 16
           + strpos('0123456789abcdef', substr(h, 6, 1)) - 1 AS b2
  FROM m
)
SELECT media_id,
       CAST(32 AS BIGINT) AS n_bytes,
       substr(h, 1, 8) AS magic,
       CAST(16 + b0 % 240 AS INTEGER) AS width,
       CAST(16 + b1 % 240 AS INTEGER) AS height,
       CAST(1 + b2 % 30 AS INTEGER) AS n_frames
FROM b""",
        # invariant of the synthetic linkage corpus (200 entities x 3
        # records, pairwise F1 = 1.0): exactly 200 clusters of size 3
        "pipeline_clusters": """
SELECT CAST(3 AS BIGINT) AS members, CAST(200 AS BIGINT) AS n_clusters""",
        # IPv6-path invariant: 8 entities x 3 records, distinct /48s
        "pipeline_clusters_v6": """
SELECT CAST(3 AS BIGINT) AS members, CAST(8 AS BIGINT) AS n_clusters""",
        # the streaming first-seen feed over the full (single-batch)
        # stream must equal the batch min/count aggregation
        "streaming_first_seen": """
SELECT ip,
       1700000000 + min((doc_id * 37) % 1000) AS first_ts,
       count(*) AS hits
FROM (SELECT concat('9.9.9.', CAST(doc_id % 50 AS VARCHAR)) AS ip, doc_id
      FROM documents)
GROUP BY ip""",
        # bounded-retention variant over a single batch of
        # single-occurrence keys: reduces to the identity projection
        "streaming_first_seen_bounded": """
SELECT concat('9.9.8.', CAST(doc_id AS VARCHAR)) AS ip,
       1700000000 + doc_id * 37 AS first_ts
FROM documents
WHERE doc_id < 50""",
        # tumbling 1-minute windows aligned to the epoch (Spark's
        # default window origin): floor(ts/60)*60
        "streaming_windowed_counts": """
WITH ev AS (
  SELECT concat('9.9.9.', CAST(doc_id % 50 AS VARCHAR)) AS ip,
         1700000000 + (doc_id * 37) % 1000 AS ts
  FROM documents
)
SELECT (ts // 60) * 60 AS ws,
       (ts // 60) * 60 + 60 AS we,
       ip,
       count(*) AS hits
FROM ev
GROUP BY 1, 2, 3""",
        # whole-hour tumbling windows over the real events table;
        # unix_timestamp on TIMESTAMP_NTZ in a UTC session == floor of
        # DuckDB's fractional epoch (window bounds are whole seconds,
        # so the truncate-vs-round difference cannot bite)
        "streaming_events": """
SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS ws,
       CAST(floor(epoch(ts) / 3600) * 3600 + 3600 AS BIGINT) AS we,
       event_type AS key,
       count(*) AS n,
       min(event_id) AS min_id,
       max(event_id) AS max_id
FROM events
GROUP BY 1, 2, 3""",
    }


def _jaccard_pairs_sql(guard_freq: int | None = None, threshold: float = 0.5) -> str:
    """Exact word-shingle Jaccard pair set over ``documents`` — the
    oracle for ngram_jaccard AND (recall-1.0-verified) minhash_lsh.
    ``guard_freq`` replicates the engine's hot-shingle skew guard:
    shingles in more than that many docs are dropped BEFORE sizes and
    intersections, exactly as dedup.minhash_lsh_pairs does."""
    guard = (
        f"""hot AS (SELECT s FROM idx GROUP BY s HAVING count(*) > {guard_freq}),
fidx AS (SELECT doc, s FROM idx ANTI JOIN hot USING (s)),"""
        if guard_freq
        else "fidx AS (SELECT doc, s FROM idx),"
    )
    return f"""
WITH norm AS (
  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) < 3 THEN []
              ELSE [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
              END) AS shs
  FROM norm
),
idx AS (SELECT doc_id AS doc, unnest(shs) AS s FROM sh),
{guard}
sizes AS (SELECT doc, count(*) AS sz FROM fidx GROUP BY doc),
common AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS c
  FROM fidx a JOIN fidx b ON a.s = b.s AND a.doc < b.doc
  GROUP BY a.doc, b.doc
)
SELECT doc_a, doc_b,
       round(CAST(c AS DOUBLE) / (sa.sz + sb.sz - c), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc = doc_a
JOIN sizes sb ON sb.doc = doc_b
WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= {threshold}"""


def _stop_pat(langs: dict) -> dict:
    return {lang: r"\b(" + "|".join(ws) + r")\b" for lang, ws in langs.items()}


def _quality_sql() -> str:
    from polars_iptools_spark.operators.textstats import STOPWORDS

    pats = _stop_pat(STOPWORDS)
    stop_sum = " + ".join(
        f"len(regexp_extract_all(lower(text), '{p}', 0))" for p in pats.values()
    )
    return f"""
WITH b AS (
  SELECT doc_id, text,
         CAST(length(text) AS DOUBLE) AS nch,
         CASE WHEN length(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) = 0 THEN 0
              ELSE len(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' '))
         END AS tc,
         ({stop_sum}) AS stops
  FROM documents
),
c AS (
  SELECT doc_id,
         CASE WHEN nch BETWEEN 20 AND 100000 THEN 1.0 ELSE 0.0 END AS length_ok,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / (CASE WHEN nch = 0 THEN 1.0 ELSE nch END) AS alpha_ratio,
         nch / (CASE WHEN tc = 0 THEN 1.0 ELSE CAST(tc AS DOUBLE) END) AS mean_wlen,
         CAST(stops AS DOUBLE) / (CASE WHEN tc = 0 THEN 1.0 ELSE CAST(tc AS DOUBLE) END) AS stop_ratio
  FROM b
)
SELECT doc_id,
       round(0.3 * length_ok
           + 0.3 * least(alpha_ratio * 1.25, 1.0)
           + 0.2 * (CASE WHEN mean_wlen BETWEEN 2.5 AND 12.0 THEN 1.0 ELSE 0.0 END)
           + 0.2 * least(stop_ratio * 5.0, 1.0), 6) AS quality
FROM c"""


def _lang_id_sql() -> str:
    from polars_iptools_spark.operators.textstats import STOPWORDS

    pats = _stop_pat(STOPWORDS)
    langs = sorted(STOPWORDS)
    counts = ", ".join(
        f"len(regexp_extract_all(lower(text), '{pats[lang]}', 0)) AS c_{lang}"
        for lang in langs
    )
    # replicate the engine's fold: first lang seeds, later langs win ties
    # only when strictly greater
    expr = f"CASE WHEN c_{langs[0]} > 0 THEN '{langs[0]}' ELSE 'und' END"
    best = f"c_{langs[0]}"
    for lang in langs[1:]:
        expr = f"CASE WHEN c_{lang} > {best} THEN '{lang}' ELSE ({expr}) END"
        best = f"greatest(c_{lang}, {best})"
    return f"""
WITH c AS (SELECT doc_id, lang, {counts} FROM documents)
SELECT doc_id, ({expr}) AS lang_guess, (({expr}) = lang) AS agrees FROM c"""
