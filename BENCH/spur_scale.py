"""Production-scale Spur stress: synthesize a deployment-sized
``spur.mmdb`` (default 1.5M v4 + 300k v6 networks over 100k distinct
camelCase feed records — a real Spur anonymous feed carries ~1-2M
entries, /root/reference/src/spurdb.rs:61-71), then measure the same
three axes BENCH/mmdb_scale.py pinned for GeoLite2 but which spur.full
had only toy-fixture evidence for:

  1. driver decode wall (tree enumeration + record decode + FlatTable)
  2. broadcast payload size (pickled flat table)
  3. per-batch lookup throughput (spur.full over sf0.1-derived IPs,
     plus the |S16 v6 remainder path)

plus arithmetic-oracle spot checks (the tiling oracle recomputes the
expected record index for an address with zero MMDB machinery).
Writes BENCH/spur_scale_result.json and prints one JSON line.

Usage: python BENCH/spur_scale.py [--networks N] [--keep-dir D]
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
    ap.add_argument("--networks", type=int, default=1_500_000)
    ap.add_argument("--records", type=int, default=100_000)
    ap.add_argument("--v6-networks", type=int, default=300_000)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--keep-dir", default=None, help="reuse/keep DB dir instead of a temp dir")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from polars_iptools_spark.sources import mmdb_synth
    from polars_iptools_spark.sources.mmdb import MMDBFile

    from BENCH.sysload import cpu_calibration

    result: dict = {"config": vars(args).copy()}
    # host-epoch witness (see sysload.cpu_calibration): walls in this
    # record are only comparable across records at like calibration
    result["calib_start"] = cpu_calibration()

    db_dir = Path(args.keep_dir) if args.keep_dir else Path(tempfile.mkdtemp(prefix="spur_scale_"))
    cleanup = args.keep_dir is None
    try:
        # ---- 1. synthesize ------------------------------------------------
        if not (db_dir / "spur.mmdb").exists():
            t0 = time.time()
            result["files"] = mmdb_synth.write_synthetic_spur(
                db_dir,
                n_networks=args.networks,
                n_records=args.records,
                n_v6_networks=args.v6_networks,
            )
            result["write_sec"] = round(time.time() - t0, 2)
        else:
            result["files"] = {
                p.name: {"bytes": p.stat().st_size} for p in db_dir.glob("*.mmdb")
            }

        # ---- 2. driver decode wall ---------------------------------------
        t0 = time.time()
        f = MMDBFile(db_dir / "spur.mmdb")
        tab = f.enumerate_intervals()
        result["decode"] = {
            "wall_sec": round(time.time() - t0, 2),
            "node_count": f.node_count,
            "intervals": int(len(tab.lo)),
            "distinct_records": len(tab.records),
        }
        del tab, f

        from polars_iptools_spark.functions import _enrich

        t0 = time.time()
        tables = _enrich.build_spur_tables(db_dir)
        result["flat_tables_build_sec"] = round(time.time() - t0, 2)
        spur_tab = tables["spur"]
        result["split_index"] = {
            "v4_intervals": int(len(spur_tab.lo4)),
            "v6_intervals": int(len(spur_tab.lo6)),
        }
        t0 = time.time()
        payload = pickle.dumps(tables, protocol=pickle.HIGHEST_PROTOCOL)
        result["broadcast_payload_mb"] = round(len(payload) / 1e6, 1)
        result["pickle_sec"] = round(time.time() - t0, 2)
        del payload

        # ---- 3. driver-side spot checks vs the arithmetic oracle ---------
        def want_fields(exp: int | None) -> tuple[str, str]:
            """(tag, locationCity) the record index must carry — including
            the every-5th-record-omits-tag hole (synth spur_record)."""
            if exp is None:
                return "", ""
            tag = f"tag{exp % 40}" if exp % 5 != 0 else ""
            return tag, f"City {exp % 9000}"

        checked = 0
        for a in range(4096, args.networks * 8192 // 4, 7_919 * 4096):
            key = np.array([(0xFFFF << 32 | a).to_bytes(16, "big")], dtype="|S16")
            rows = spur_tab.lookup(key, np.array([True]))
            exp = mmdb_synth.expected_city_record_index(a, args.networks, args.records)
            tag, city = want_fields(exp)
            assert spur_tab.columns["tag"][rows[0]].as_py() == tag, (a, exp)
            assert spur_tab.columns["location_city"][rows[0]].as_py() == city, (a, exp)
            checked += 1
        result["oracle_spot_checks"] = checked
        span = mmdb_synth._V6_BLOCK_SPAN
        checked6 = 0
        for rel in range(0, args.v6_networks * span // 4, 6007 * span // 16 + 1):
            ai = mmdb_synth.V6_BASE + rel
            key = np.array([ai.to_bytes(16, "big")], dtype="|S16")
            rows = spur_tab.lookup(key, np.array([True]))
            exp = mmdb_synth.expected_city_v6_record_index(
                ai, args.networks, args.v6_networks, args.records
            )
            tag, city = want_fields(exp)
            assert spur_tab.columns["tag"][rows[0]].as_py() == tag, (hex(ai), exp)
            checked6 += 1
        result["oracle_spot_checks_v6"] = checked6
        del tables, spur_tab

        # ---- 4. Spark lookup throughput ----------------------------------
        import __spark_entry__ as entry
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master(f"local[{args.cpus}]")
            .config("spark.sql.shuffle.partitions", str(int(args.cpus)))
            .config("spark.driver.memory", "48g")
            .config("spark.sql.session.timeZone", "UTC")
            .appName("spur_scale")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        entry._ensure_importable(spark)
        from pyspark.sql import functions as F

        from polars_iptools_spark.functions import spur

        ips = entry._derived_ips(spark, args.sf_dir).repartition(int(args.cpus) * 2).cache()
        n_rows = ips.count()
        result["lookup_rows"] = n_rows

        # driver-side decode + broadcast registration paid once, OUTSIDE
        # the per-rep lookup timer (it is reported as its own number)
        t0 = time.time()
        scol = spur.full("ip", db_dir=str(db_dir)).alias("s")
        result["enrich_init_sec"] = round(time.time() - t0, 2)

        reps = []
        for _ in range(args.reps):
            t0 = time.time()
            out = ips.select(scol).select("s.tag", "s.client_count")
            # aggregate over the VALUES — a bare count() would let
            # Catalyst prune the whole (deterministic) UDF projection
            agg = out.agg(
                F.count(F.when(F.col("client_count") > 0, 1)).alias("hits"),
                F.sum(F.length("tag")).alias("chars"),
            ).collect()[0]
            reps.append(round(time.time() - t0, 3))
            assert agg["chars"] is not None
        hit = ips.select(scol).where("s.tag <> '' or s.client_count > 0").count()
        result["lookup_reps_sec"] = reps
        med = sorted(reps)[len(reps) // 2]
        result["lookup_median_sec"] = med
        result["lookup_rows_per_sec"] = int(n_rows / med)
        result["resolved_rows"] = hit

        # ---- 5. v6 remainder-path throughput -----------------------------
        if args.v6_networks:
            import ipaddress

            hi = args.v6_networks * span // 4
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
            result["lookup_v6_rows"] = n6
            reps6 = []
            for _ in range(args.reps):
                t0 = time.time()
                agg = (
                    v6df.select(spur.full("ip", db_dir=str(db_dir)).alias("s"))
                    .agg(F.sum(F.length("s.tag")).alias("chars"))
                    .collect()[0]
                )
                reps6.append(round(time.time() - t0, 3))
                assert agg["chars"] is not None
            med6 = sorted(reps6)[len(reps6) // 2]
            result["lookup_v6_reps_sec"] = reps6
            result["lookup_v6_median_sec"] = med6
            result["lookup_v6_rows_per_sec"] = int(n6 / med6)
            result["lookup_v6_resolved"] = (
                v6df.select(spur.full("ip", db_dir=str(db_dir)).alias("s"))
                .where("s.infrastructure <> '' or s.client_count > 0")
                .count()
            )
        spark.stop()
    finally:
        if cleanup:
            shutil.rmtree(db_dir, ignore_errors=True)

    result["calib_end"] = cpu_calibration()
    Path("BENCH/spur_scale_result.json").write_text(json.dumps(result, indent=2))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
