"""Production-scale MMDB stress: synthesize a GeoLite2-shaped DB pair
at deployment size (default ~2M city networks over 120k distinct
records + 500k ASN networks over 70k — a real GeoLite2-City carries
~3.5M/~120k), then measure the three numbers the toy fixtures never
exercised:

  1. driver decode wall (tree enumeration + record decode + FlatTable)
  2. broadcast payload size (pickled flat tables)
  3. per-batch lookup throughput (geoip.full over sf0.1-derived IPs)

plus arithmetic-oracle spot checks so the big DB is evidence, not just
load.  Writes BENCH/mmdb_scale_result.json and prints one JSON line.

Usage: python BENCH/mmdb_scale.py [--city-networks N] [--keep-dir D]
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import numpy as np


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--city-networks", type=int, default=1_900_000)
    ap.add_argument("--city-records", type=int, default=120_000)
    ap.add_argument("--asn-networks", type=int, default=500_000)
    ap.add_argument("--asn-records", type=int, default=70_000)
    ap.add_argument("--city-v6-networks", type=int, default=400_000)
    ap.add_argument("--asn-v6-networks", type=int, default=100_000)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--keep-dir", default=None, help="reuse/keep DB dir instead of a temp dir")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from polars_iptools_spark.sources import mmdb_synth
    from polars_iptools_spark.sources.mmdb import MMDBFile

    result: dict = {"config": vars(args).copy()}

    db_dir = Path(args.keep_dir) if args.keep_dir else Path(tempfile.mkdtemp(prefix="mmdb_scale_"))
    cleanup = args.keep_dir is None
    try:
        # ---- 1. synthesize ------------------------------------------------
        if not (db_dir / "GeoLite2-City.mmdb").exists():
            t0 = time.time()
            stats = mmdb_synth.write_synthetic_geolite(
                db_dir,
                n_city_networks=args.city_networks,
                n_city_records=args.city_records,
                n_asn_networks=args.asn_networks,
                n_asn_records=args.asn_records,
                n_city_v6_networks=args.city_v6_networks,
                n_asn_v6_networks=args.asn_v6_networks,
            )
            result["write_sec"] = round(time.time() - t0, 2)
            result["files"] = stats
        else:
            result["files"] = {
                p.name: {"bytes": p.stat().st_size} for p in db_dir.glob("*.mmdb")
            }

        # ---- 2. driver decode wall ---------------------------------------
        decode = {}
        for name in ("GeoLite2-City.mmdb", "GeoLite2-ASN.mmdb"):
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

        from polars_iptools_spark.functions import _enrich

        t0 = time.time()
        tables = _enrich.build_geoip_tables(db_dir)
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
        city = tables["city"]
        checked = 0
        for a in range(4096, args.city_networks * 8192 // 4, 7_919 * 4096):
            key = np.array([(0xFFFF << 32 | a).to_bytes(16, "big")], dtype="|S16")
            rows = city.lookup(key, np.array([True]))
            exp = mmdb_synth.expected_city_record_index(
                a, args.city_networks, args.city_records
            )
            got = city.columns["city"][rows[0]].as_py()
            want = f"City {exp}" if exp is not None else ""
            assert got == want, (a, got, want)
            checked += 1
        result["oracle_spot_checks"] = checked
        span = mmdb_synth._V6_BLOCK_SPAN
        checked6 = 0
        for rel in range(0, args.city_v6_networks * span // 4, 6007 * span // 16 + 1):
            ai = mmdb_synth.V6_BASE + rel
            key = np.array([ai.to_bytes(16, "big")], dtype="|S16")
            rows = city.lookup(key, np.array([True]))
            exp = mmdb_synth.expected_city_v6_record_index(
                ai, args.city_networks, args.city_v6_networks, args.city_records
            )
            got = city.columns["city"][rows[0]].as_py()
            want = f"City {exp}" if exp is not None else ""
            assert got == want, (hex(ai), got, want)
            checked6 += 1
        result["oracle_spot_checks_v6"] = checked6
        del tables

        # ---- 4. Spark lookup throughput ----------------------------------
        import __spark_entry__ as entry
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master(f"local[{args.cpus}]")
            .config("spark.sql.shuffle.partitions", str(int(args.cpus)))
            .config("spark.driver.memory", "48g")
            .config("spark.sql.session.timeZone", "UTC")
            .appName("mmdb_scale")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        entry._ensure_importable(spark)
        from polars_iptools_spark.functions import geoip

        # sf0.1 lineitem is a single row-group -> 3 scan partitions;
        # spread the cached input so the lookup measurement uses every
        # core (the kernel under test is the UDF, not the scan)
        ips = entry._derived_ips(spark, args.sf_dir).repartition(int(args.cpus) * 2).cache()
        n_rows = ips.count()
        result["lookup_rows"] = n_rows

        # driver-side decode + broadcast registration paid once, OUTSIDE
        # the per-rep lookup timer (it is reported as its own number)
        t0 = time.time()
        gcol = geoip.full("ip", db_dir=str(db_dir)).alias("g")
        result["enrich_init_sec"] = round(time.time() - t0, 2)

        from pyspark.sql import functions as F

        reps = []
        for r in range(args.reps):
            t0 = time.time()
            out = ips.select(gcol).select("g.country", "g.asnnum")
            # aggregate over the VALUES — a bare count() would let
            # Catalyst prune the whole (deterministic) UDF projection
            # and time nothing but the row count
            agg = out.agg(
                F.count(F.when(F.col("asnnum") > 0, 1)).alias("hits"),
                F.sum(F.length("country")).alias("chars"),
            ).collect()[0]
            reps.append(round(time.time() - t0, 3))
            assert agg["chars"] is not None
        # sanity: the big DB actually resolves most derived valid IPs
        hit = (
            ips.select(gcol)
            .where("g.asnnum > 0 or g.country <> '' ")
            .count()
        )
        result["lookup_reps_sec"] = reps
        med = sorted(reps)[len(reps) // 2]
        result["lookup_median_sec"] = med
        result["lookup_rows_per_sec"] = int(n_rows / med)
        result["resolved_rows"] = hit

        # ---- 5. v6 remainder-path throughput -----------------------------
        # the derived sf rows are v4; measure the |S16 remainder side
        # with its own 600k-key column inside the synthesized 2600::/12
        # tiling (driver-built strings, executor-side lookups)
        if args.city_v6_networks:
            import ipaddress

            span6 = mmdb_synth._V6_BLOCK_SPAN
            hi = args.city_v6_networks * span6 // 4
            step6 = max(hi // 600_000, 1)
            v6_strs = [
                str(ipaddress.IPv6Address(mmdb_synth.V6_BASE + rel))
                for rel in range(0, hi, step6)
            ][:600_000]
            v6df = (
                spark.createDataFrame([(s,) for s in v6_strs], "ip string")
                .repartition(int(args.cpus) * 2)
                .cache()
            )
            n6 = v6df.count()
            reps6 = []
            for r in range(args.reps):
                t0 = time.time()
                agg = (
                    v6df.select(gcol)
                    .select("g.city", "g.asnnum")
                    .agg(
                        F.count(F.when(F.col("city") != "", 1)).alias("hits"),
                        F.sum(F.length("city")).alias("chars"),
                    )
                    .collect()[0]
                )
                reps6.append(round(time.time() - t0, 3))
            result["lookup_v6_rows"] = n6
            result["lookup_v6_reps_sec"] = reps6
            med6 = sorted(reps6)[len(reps6) // 2]
            result["lookup_v6_median_sec"] = med6
            result["lookup_v6_rows_per_sec"] = int(n6 / med6)
            result["lookup_v6_resolved"] = int(agg["hits"])
        spark.stop()
    finally:
        if cleanup:
            shutil.rmtree(db_dir, ignore_errors=True)

    out_path = Path(__file__).resolve().parent / "mmdb_scale_result.json"
    out_path.write_text(json.dumps(result, indent=2))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
