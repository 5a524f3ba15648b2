"""Scaling-efficiency job (north_rule): run the SAME record-linkage
pipeline over the SAME corpus parquet at two parallelism levels and
report throughput at both.

Launched via spark-submit --py-files (see BENCH/scale_test.sh):

    spark-submit --master local[8]  --py-files pkg.zip run_scaling.py \
        --corpus /path/corpus.parquet --ckpt /tmp/ck8 --out r8.json

The corpus is pre-materialized once (generation excluded from timing);
timing covers pipeline read -> clusters count, i.e. the end-to-end
files/sec the north_star asks for.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--ckpt", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--threshold", type=float, default=0.72)
    ap.add_argument("--truth", default=None, help="truth parquet (commit, entity) to also report pairwise F1")
    ap.add_argument(
        "--no-persist-blocked",
        action="store_true",
        help="stage 02 A/B: recompute block keys from the committed "
        "stage-01 parquet instead of persisting the blocked frame",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from polars_iptools_spark.plans.pipeline import run_pipeline
    from polars_iptools_spark.sources.corpus import read_corpus

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism

    corpus = read_corpus(spark, args.corpus)
    n_files = corpus.count()  # warms the scan; excluded from timing

    def _load():  # noisy-neighbor transparency: 1-min load at run edges
        try:
            with open("/proc/loadavg") as f:
                return float(f.read().split()[0])
        except OSError:
            return None

    from BENCH.sysload import ExternalCpuMeter, cpu_calibration

    # host-epoch probe at BOTH edges of the timed body: round 6 found
    # 2.3x parallel-capacity swings (16,250 vs 6,988 MB/s sha256)
    # invisible to guest CPU accounting; a long rep can straddle an
    # epoch change, so record entry and exit.
    # ALSO measure the host's own 2-thread and 8-thread sha256
    # throughput: their ratio is the ceiling ANY 2v8 sweep can show on
    # this box (BENCH/BASELINE.md r6e probes: even idle, the host
    # scales 1->8 threads at only 0.64 on embarrassingly-parallel work
    # — a real cluster's executors do not share a throttled
    # hypervisor).  The
    # summary reports raw efficiency AND efficiency normalized by this
    # same-window host ceiling.
    calib_start = cpu_calibration()
    host_2t = cpu_calibration(2)
    host_8t = cpu_calibration(8)
    load_start = _load()
    t0 = time.monotonic()
    with ExternalCpuMeter() as meter:
        res = run_pipeline(
            spark,
            corpus,
            args.ckpt,
            threshold=args.threshold,
            persist_blocked=not args.no_persist_blocked,
        )
        n_clusters = res["clusters"].agg(F.countDistinct("cluster_id")).collect()[0][0]
    wall = time.monotonic() - t0
    calib_end = cpu_calibration()

    f1 = None
    if args.truth:
        from polars_iptools_spark.plans.pipeline import pairwise_f1

        truth = spark.read.parquet(args.truth)
        f1 = pairwise_f1(res["clusters"], truth, res["blocked"])

    out = {
        "cores": cores,
        "f1": f1,
        "files": n_files,
        "clusters": n_clusters,
        "wall_sec": round(wall, 3),
        "files_per_sec": round(n_files / wall, 2),
        "stage_wall": {k: v["wall_sec"] for k, v in res["metrics"].items()},
        "loadavg_start": load_start,
        "loadavg_end": _load(),
        # directly-measured neighbor CPU during the timed body (cores):
        # /proc/stat busy minus our own process tree — the loadavg
        # fields above decay slowly and count D-state disk waits, this
        # does neither (BENCH/sysload.py)
        "external_cores_avg": meter.external_cores_avg,
        # host-epoch calibration (BENCH/sysload.cpu_calibration) at the
        # rep's entry and exit; read this rep's walls against its own
        # epoch, and the 2v8 ratio only across same-epoch reps
        "calib_start": calib_start,
        "calib_end": calib_end,
        # same-window host 2v8 ceiling: what a PERFECTLY scaling job
        # could show between 2 and 8 threads on this host right now
        "host_2t_mb_s": host_2t["sha256_2t_mb_s"],
        "host_8t_mb_s": host_8t["sha256_8t_mb_s"],
        "host_2v8_ceiling": round(
            host_8t["sha256_8t_mb_s"] / host_2t["sha256_2t_mb_s"] / 4.0, 3
        ),
    }
    Path(args.out).write_text(json.dumps(out, indent=1))
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
