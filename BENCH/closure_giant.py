"""Giant-component closure wall record (skew-robust evidence).

The 9.6M-file scaling corpus yields 3.2M size-3 clusters — trivial for
closure.  This job runs connected_components on the adversarial shape:
the same sea of size-3 components PLUS one chain component spanning
~1% of nodes (maximum diameter — worst case for star contraction) and
one hub star of the same size (maximum degree — the skew case), at
corpus scale.  Runs the closure twice in one session and records both
passes: the first (cold) pass also pays JVM warm-up and code
generation, so the second (warm) pass is the closure's own wall.  The
pass criterion is supersteps staying O(log diameter) and the warm wall
staying within a small multiple of the uniform-corpus closure stage.
Each pass records the closure's ``stats``: per-superstep walls and
working-set edges, and the edges and hook rounds of the driver finish
when it ran (at entry for inputs of at most
``closure.LOCAL_FINISH_EDGES`` rows, else on the first small enough
remnant).

Usage: python BENCH/closure_giant.py [--nodes 9600000] [--giant-frac 0.01]
       [--cpus N] [--driver-memory 6g] [--out BENCH/closure_giant_result.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--nodes", type=int, default=9_600_000)
    ap.add_argument("--giant-frac", type=float, default=0.01)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))
    ap.add_argument("--driver-memory", default="6g")
    ap.add_argument(
        "--out", default=str(Path(__file__).resolve().parent / "closure_giant_result.json")
    )
    args = ap.parse_args()

    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from polars_iptools_spark.operators.closure import connected_components
    from polars_iptools_spark.session import get_spark

    spark = get_spark(
        app_name="closure_giant",
        master=f"local[{args.cpus}]",
        shuffle_partitions=int(args.cpus) * 2,
        extra_conf={"spark.driver.memory": args.driver_memory},
    )
    spark.sparkContext.setLogLevel("ERROR")
    entry._ensure_importable(spark)

    # the size-3 sea tiles [0, n_small) in strides of 3 — round down so
    # its last component cannot spill into the giant-chain id range
    n_small = args.nodes - (args.nodes % 3)
    gsize = int(args.nodes * args.giant_frac)
    chain = spark.range(n_small, n_small + gsize - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    hub = n_small + gsize
    star = spark.range(hub + 1, hub + gsize).select(
        F.lit(hub).alias("src"), F.col("id").alias("dst")
    )
    small = spark.range(0, n_small, 3).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    ).union(
        spark.range(0, n_small, 3).select(
            F.col("id").alias("src"), (F.col("id") + 2).alias("dst")
        )
    )
    edges = chain.union(star).union(small).repartition(int(args.cpus) * 2)
    n_edges = edges.cache().count()

    def loadavg():
        try:
            with open("/proc/loadavg") as f:
                return float(f.read().split()[0])
        except OSError:
            return None

    def timed_pass() -> dict:
        stats: dict = {}
        t0 = time.monotonic()
        comp = connected_components(edges, stats=stats)
        sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("n"))
        big = {
            int(r.component): int(r.n)
            for r in sizes.where(F.col("n") > 3).collect()
        }
        n_components = sizes.count()
        wall = time.monotonic() - t0
        assert big == {n_small: gsize, hub: gsize}, big
        return {
            "wall_sec": round(wall, 2),
            "components_total": n_components,
            "supersteps": stats.get("supersteps"),
            "normalize_s": stats.get("normalize_s"),
            "peel_after": stats.get("peel_after"),
            "superstep_walls": stats.get("superstep_walls"),
            "superstep_edges": stats.get("superstep_edges"),
            "local_edges": stats.get("local_edges"),
            "local_rounds": stats.get("local_rounds"),
        }

    load_start = loadavg()
    cold = timed_pass()
    warm = timed_pass()
    result = {
        "nodes": args.nodes + 2 * gsize,
        "edges": n_edges,
        "giant_chain_size": gsize,
        "giant_star_size": gsize,
        "small_components": n_small // 3,
        "components_total": warm["components_total"],
        "supersteps": warm["supersteps"],
        "wall_sec_cold": cold["wall_sec"],
        "wall_sec_warm": warm["wall_sec"],
        "passes": [cold, warm],
        "loadavg_start": load_start,
        "loadavg_end": loadavg(),
        "cpus": int(args.cpus),
        "membership_check": "pass",
    }
    Path(args.out).write_text(json.dumps(result, indent=2))
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
