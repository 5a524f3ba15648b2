"""Streaming throughput at scale: the oracle-green streaming queries
run at sf0.01 sizes (50-3.4k output rows); this records what the same
operators do on a multi-million-row stream processed as REAL
micro-batches (availableNow + maxFilesPerTrigger, noop sink), the
missing evidence row for the streaming surface:

  1. watermarked windowed indicator counts (shuffle + windowed agg)
  2. in-stream geoip enrichment (broadcast searchsorted inside a
     streaming plan)
  3. applyInPandasWithState first-seen feed (custom stateful op,
     state bounded by distinct keys)

Input is synthesized JVM-natively (spark.range + column arithmetic —
no Python in generation): event-time is deliberately scattered across
files (Knuth-hash of the id) so every micro-batch carries late rows
and the watermark path does real work.

Writes BENCH/streaming_scale_result.json and prints one JSON line.

Usage: python BENCH/streaming_scale.py [--rows N] [--files K]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=10_000_000)
    ap.add_argument("--state-rows", type=int, default=2_000_000,
                    help="rows for the stateful first-seen stream (Python state op)")
    ap.add_argument("--files", type=int, default=64)
    ap.add_argument("--batches", type=int, default=8,
                    help="micro-batch count (maxFilesPerTrigger = files/batches)")
    ap.add_argument("--distinct-ips", type=int, default=100_000)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--out", default=None,
                    help="result path (default: BENCH/streaming_scale_result.json)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from __spark_entry__ import _geolite_fixture_dir
    from polars_iptools_spark.session import get_spark
    from polars_iptools_spark.streaming import enrich as se

    spark = get_spark(
        master=f"local[{args.cpus}]", shuffle_partitions=int(args.cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")

    result: dict = {"config": {k: v for k, v in vars(args).items()}}
    work = Path(tempfile.mkdtemp(prefix="stream_scale_"))
    try:
        # ---- synthesize the stream source (JVM-native) -------------------
        t0 = time.time()
        # Knuth multiplicative hash scatters event time across the day so
        # parquet file order != event-time order: every micro-batch mixes
        # early and late rows, exercising watermark bookkeeping for real.
        scat = (F.col("id") * F.lit(2654435761)) % F.lit(86400)
        ip_num = (F.col("id") % F.lit(args.distinct_ips)) + F.lit(1 << 24)
        events = (
            spark.range(0, args.rows, 1, int(args.cpus))
            .select(
                F.col("id").alias("event_id"),
                (F.lit(1700000000) + scat).cast("timestamp").alias("ts"),
                F.concat_ws(
                    ".",
                    (ip_num / F.lit(16777216)).cast("long") % 256,
                    (ip_num / F.lit(65536)).cast("long") % 256,
                    (ip_num / F.lit(256)).cast("long") % 256,
                    ip_num % 256,
                ).alias("ip"),
            )
        )
        src = str(work / "events")
        events.repartition(args.files).write.parquet(src)
        result["synth_sec"] = round(time.time() - t0, 2)
        schema = spark.read.parquet(src).schema

        def run_stream(df, name: str, n_rows: int) -> None:
            t0 = time.time()
            q = (
                df.writeStream.format("noop")
                .option("checkpointLocation", str(work / f"ckpt_{name}"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            batches = [
                p for p in q.recentProgress if p["numInputRows"] > 0
            ]
            wall = round(time.time() - t0, 2)
            result[name] = {
                "wall_sec": wall,
                "rows_per_sec": round(n_rows / wall),
                "micro_batches": len(batches),
                "state_rows": max(
                    (
                        sum(s.get("numRowsTotal", 0) for s in p.get("stateOperators", []))
                        for p in q.recentProgress
                    ),
                    default=0,
                ),
            }

        mpt = max(1, args.files // args.batches)
        reader = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", mpt)
            .parquet(src)
        )

        # ---- 1. watermarked windowed counts per ip -----------------------
        run_stream(
            se.windowed_indicator_counts(
                reader.select("ts", "ip"), window="1 hour", watermark="2 hours"
            ),
            "windowed_counts",
            args.rows,
        )

        # ---- 2. in-stream enrichment (broadcast searchsorted) ------------
        db_dir = os.environ.get("MAXMIND_MMDB_DIR") or _geolite_fixture_dir()
        enriched = se.enrich_stream(reader, "ip", db_dir=db_dir).select(
            "event_id", "ip", F.col("geo.asnnum").alias("asnnum")
        )
        run_stream(enriched, "enrich", args.rows)

        # ---- 3. stateful first-seen (applyInPandasWithState) -------------
        small = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", mpt)
            .parquet(src)
        ).where(F.col("event_id") < args.state_rows)
        run_stream(
            se.first_seen_indicators(small.select("ts", "ip")),
            "first_seen",
            args.state_rows,
        )

        # ---- 3b. JVM-native first-seen (streaming dropDuplicates) --------
        small2 = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", mpt)
            .parquet(src)
        ).where(F.col("event_id") < args.state_rows)
        run_stream(
            se.first_seen_indicators_native(small2.select("ts", "ip")),
            "first_seen_native",
            args.state_rows,
        )

        # ---- 3c. bounded-retention first-seen (watermarked dedup) --------
        # same input as 3b; the watermark bookkeeping is the only delta
        small3 = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", mpt)
            .parquet(src)
        ).where(F.col("event_id") < args.state_rows)
        run_stream(
            se.first_seen_indicators_bounded(
                small3.select("ts", "ip"), watermark="24 hours"
            ),
            "first_seen_bounded",
            args.state_rows,
        )

        out = Path(args.out) if args.out else (
            Path(__file__).resolve().parent / "streaming_scale_result.json"
        )
        out.write_text(json.dumps(result, indent=1))
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
