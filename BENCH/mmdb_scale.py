"""Production-scale MMDB stress: synthesize a deployment-sized database,
then measure the three numbers the toy fixtures never exercised:

  1. driver decode wall (tree enumeration + record decode + FlatTable)
  2. broadcast payload size (pickled flat tables)
  3. per-batch lookup throughput (the enrichment UDF over sf0.1-derived
     IPs, plus the |S16 v6 remainder path)

plus arithmetic-oracle spot checks (the tiling oracle recomputes the
expected record index for an address with zero MMDB machinery), so the
big DB is evidence, not just load.

``--db geolite`` (default) writes a GeoLite2-City/ASN pair: ~2M city
networks over 120k distinct records + 500k ASN networks over 70k (a real
GeoLite2-City carries ~3.5M/~120k), and BENCH/mmdb_scale_result.json.
``--db spur`` writes a ``spur.mmdb`` of 1.5M v4 + 300k v6 networks over
100k camelCase feed records (a real Spur anonymous feed carries ~1-2M
entries), and BENCH/spur_scale_result.json.  ``--networks``,
``--records`` and ``--v6-networks`` size the City table or the Spur
feed; the ``--asn-*`` sizes apply to GeoLite2 only.  Prints one JSON
line.

Usage: python BENCH/mmdb_scale.py [--db geolite|spur] [--networks N] [--keep-dir D]
"""

from __future__ import annotations

import argparse
import ipaddress
import json
import os
import pickle
import shutil
import sys
import tempfile
import time
from pathlib import Path
from typing import Callable, NamedTuple

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import numpy as np

from polars_iptools_spark.functions import _enrich, geoip, spur
from polars_iptools_spark.sources import mmdb_synth


class Db(NamedTuple):
    files: tuple[str, ...]
    sizes: tuple[int, int, int]  # default (networks, records, v6 networks)
    result: str
    write: Callable  # (db_dir, args) -> per-file stats
    build: Callable  # db_dir -> {name: FlatTable}
    table: str  # flat table the oracle spot checks read
    expect: Callable  # record index or None -> {column: value}
    full: Callable  # the enrichment UDF the lookup times
    num: str  # struct fields the lookup aggregates
    text: str


def _spur_expect(exp: int | None) -> dict:
    """Fields record ``exp`` carries, including the every-5th-record
    tag hole (``mmdb_synth.spur_record``)."""
    if exp is None:
        return {"tag": "", "location_city": ""}
    return {
        "tag": f"tag{exp % 40}" if exp % 5 != 0 else "",
        "location_city": f"City {exp % 9000}",
    }


DBS = {
    "geolite": Db(
        files=("GeoLite2-City.mmdb", "GeoLite2-ASN.mmdb"),
        sizes=(1_900_000, 120_000, 400_000),
        result="mmdb_scale_result.json",
        write=lambda d, a: mmdb_synth.write_synthetic_geolite(
            d,
            n_city_networks=a.networks,
            n_city_records=a.records,
            n_asn_networks=a.asn_networks,
            n_asn_records=a.asn_records,
            n_city_v6_networks=a.v6_networks,
            n_asn_v6_networks=a.asn_v6_networks,
        ),
        build=_enrich.build_geoip_tables,
        table="city",
        expect=lambda exp: {"city": f"City {exp}" if exp is not None else ""},
        full=geoip.full,
        num="asnnum",
        text="city",
    ),
    "spur": Db(
        files=("spur.mmdb",),
        sizes=(1_500_000, 100_000, 300_000),
        result="spur_scale_result.json",
        write=lambda d, a: mmdb_synth.write_synthetic_spur(
            d, n_networks=a.networks, n_records=a.records, n_v6_networks=a.v6_networks
        ),
        build=_enrich.build_spur_tables,
        table="spur",
        expect=_spur_expect,
        full=spur.full,
        num="client_count",
        text="tag",
    ),
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--db", choices=sorted(DBS), default="geolite")
    ap.add_argument("--networks", type=int, help="default: per --db")
    ap.add_argument("--records", type=int, help="default: per --db")
    ap.add_argument("--v6-networks", type=int, help="default: per --db")
    ap.add_argument("--asn-networks", type=int, default=500_000)
    ap.add_argument("--asn-records", type=int, default=70_000)
    ap.add_argument("--asn-v6-networks", type=int, default=100_000)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)))
    ap.add_argument("--keep-dir", default=None, help="reuse/keep DB dir instead of a temp dir")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()
    db = DBS[args.db]
    for flag, default in zip(("networks", "records", "v6_networks"), db.sizes):
        if getattr(args, flag) is None:
            setattr(args, flag, default)

    from BENCH.sysload import cpu_calibration
    from polars_iptools_spark.sources.mmdb import MMDBFile

    result: dict = {"config": vars(args).copy()}
    # host-epoch witness (see sysload.cpu_calibration): walls in this
    # record are only comparable across records at like calibration
    result["calib_start"] = cpu_calibration()

    db_dir = Path(args.keep_dir) if args.keep_dir else Path(tempfile.mkdtemp(prefix=f"{args.db}_scale_"))
    cleanup = args.keep_dir is None
    try:
        # ---- 1. synthesize ------------------------------------------------
        if not (db_dir / db.files[0]).exists():
            t0 = time.time()
            result["files"] = db.write(db_dir, args)
            result["write_sec"] = round(time.time() - t0, 2)
        else:
            result["files"] = {
                p.name: {"bytes": p.stat().st_size} for p in db_dir.glob("*.mmdb")
            }

        # ---- 2. driver decode wall ---------------------------------------
        decode = {}
        for name in db.files:
            t0 = time.time()
            f = MMDBFile(db_dir / name)
            tab = f.enumerate_intervals()
            decode[name] = {
                "wall_sec": round(time.time() - t0, 2),
                "node_count": f.node_count,
                "intervals": int(len(tab.lo)),
                "distinct_records": len(tab.records),
            }
            del tab, f
        result["decode"] = decode

        t0 = time.time()
        tables = db.build(db_dir)
        result["flat_tables_build_sec"] = round(time.time() - t0, 2)
        result["split_index"] = {
            name: {"v4_intervals": int(len(t.lo4)), "v6_intervals": int(len(t.lo6))}
            for name, t in tables.items()
        }
        t0 = time.time()
        payload = pickle.dumps(tables, protocol=pickle.HIGHEST_PROTOCOL)
        result["broadcast_payload_mb"] = round(len(payload) / 1e6, 1)
        result["pickle_sec"] = round(time.time() - t0, 2)
        del payload

        # ---- 3. driver-side spot checks vs the arithmetic oracle ---------
        tab = tables[db.table]

        def check(addr: int, exp: int | None) -> None:
            rows = tab.lookup(
                np.array([addr.to_bytes(16, "big")], dtype="|S16"), np.array([True])
            )
            for col, want in db.expect(exp).items():
                got = tab.columns[col][rows[0]].as_py()
                assert got == want, (hex(addr), col, got, want)

        checked = 0
        for a in range(4096, args.networks * 8192 // 4, 7_919 * 4096):
            check(0xFFFF << 32 | a, mmdb_synth.expected_city_record_index(a, args.networks, args.records))
            checked += 1
        result["oracle_spot_checks"] = checked
        span = mmdb_synth._V6_BLOCK_SPAN
        checked6 = 0
        for rel in range(0, args.v6_networks * span // 4, 6007 * span // 16 + 1):
            ai = mmdb_synth.V6_BASE + rel
            check(ai, mmdb_synth.expected_city_v6_record_index(
                ai, args.networks, args.v6_networks, args.records
            ))
            checked6 += 1
        result["oracle_spot_checks_v6"] = checked6
        del tables, tab

        # ---- 4. Spark lookup throughput ----------------------------------
        import __spark_entry__ as entry
        from pyspark.sql import functions as F

        from polars_iptools_spark.session import get_spark

        spark = get_spark(
            app_name=f"{args.db}_scale", master=f"local[{args.cpus}]",
            shuffle_partitions=args.cpus,
        )
        spark.sparkContext.setLogLevel("ERROR")
        entry._ensure_importable(spark)

        # driver-side decode + broadcast registration paid once, OUTSIDE
        # the per-rep lookup timer (it is reported as its own number)
        t0 = time.time()
        col = db.full("ip", db_dir=str(db_dir)).alias("r")
        result["enrich_init_sec"] = round(time.time() - t0, 2)

        def lookup(df, prefix: str) -> None:
            """Time ``args.reps`` lookups over ``df``'s ``ip`` column."""
            n = df.count()
            reps = []
            for _ in range(args.reps):
                t0 = time.time()
                # aggregate over the VALUES: a bare count() would let
                # Catalyst prune the whole (deterministic) UDF projection
                # and time nothing but the row count
                agg = df.select(col).agg(
                    F.count(F.when(F.col(f"r.{db.num}") > 0, 1)).alias("hits"),
                    F.sum(F.length(f"r.{db.text}")).alias("chars"),
                ).collect()[0]
                reps.append(round(time.time() - t0, 3))
                assert agg["chars"] is not None
            med = sorted(reps)[len(reps) // 2]
            result[f"{prefix}_rows"] = n
            result[f"{prefix}_reps_sec"] = reps
            result[f"{prefix}_median_sec"] = med
            result[f"{prefix}_rows_per_sec"] = int(n / med)
            # sanity: how many of the keys the DB resolves
            result[f"{prefix}_resolved"] = (
                df.select(col).where(f"r.{db.num} > 0 or r.{db.text} <> ''").count()
            )

        # sf0.1 lineitem is a single row-group -> 3 scan partitions;
        # spread the cached input so the lookup measurement uses every
        # core (the kernel under test is the UDF, not the scan)
        ips = entry._derived_ips(spark, args.sf_dir).repartition(args.cpus * 2).cache()
        lookup(ips, "lookup")

        # ---- 5. v6 remainder-path throughput -----------------------------
        # the derived sf rows are v4; measure the |S16 remainder side
        # with its own 600k-key column inside the synthesized 2600::/12
        # tiling (driver-built strings, executor-side lookups)
        if args.v6_networks:
            hi = args.v6_networks * span // 4
            step6 = max(hi // 600_000, 1)
            v6_strs = [
                str(ipaddress.IPv6Address(mmdb_synth.V6_BASE + rel))
                for rel in range(0, hi, step6)
            ][:600_000]
            v6df = (
                spark.createDataFrame([(s,) for s in v6_strs], "ip string")
                .repartition(args.cpus * 2)
                .cache()
            )
            lookup(v6df, "lookup_v6")
        spark.stop()
    finally:
        if cleanup:
            shutil.rmtree(db_dir, ignore_errors=True)

    result["calib_end"] = cpu_calibration()
    (Path(__file__).resolve().parent / db.result).write_text(json.dumps(result, indent=2))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
