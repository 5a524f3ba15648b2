"""Headline benchmark: one JSON line on stdout.

Runs the engine's representative queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default all
cores).  Each query is forced with a cheap aggregate so timing measures
the full plan, not collect serialization.

Every query runs $SPARK_GRAFT_BENCH_REPS times (default 3) and the
reported per-query number is the MEDIAN; per-rep raw times and the min
ride along under "reps"/"min".

Self-defending record protocol: the sandbox has noisy-neighbor phases
where bursts arrive MID-RUN, so a clean gate-open does not imply a
clean run (round 5's official record opened at load 0.2 and ended at
10.2 — 3.3x the engine's quiet-window cost).  The whole measured body
therefore RETRIES (up to $SPARK_GRAFT_BENCH_ATTEMPTS, default 4) until
the start load AND the attempt's directly-measured external CPU
(total /proc/stat busy minus our own process tree — immune to the
bench's own burst, unlike loadavg-at-end) both clear their gates; the
accepted attempt is the record.  If no clean window appears within the attempt
budget, the record falls back to CROSS-ATTEMPT PER-QUERY MINIMA (the
documented adjudication bound: minima bracket the true engine cost)
and says so in "window_clean"/"adjudication" — the JSON itself always
carries the evidence a reader needs, never prose elsewhere.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
import polars_iptools_spark as ip  # noqa: E402
from polars_iptools_spark.operators import dedup, similarity  # noqa: E402
from polars_iptools_spark.plans.pipeline import run_pipeline  # noqa: E402
from polars_iptools_spark.plans.scoring import jaro_winkler_udf  # noqa: E402
from polars_iptools_spark.session import get_spark  # noqa: E402
from polars_iptools_spark.sources.corpus import synth_corpus  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
ATTEMPTS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_ATTEMPTS", "4")))
GATE = float(os.environ.get("SPARK_GRAFT_BENCH_LOADGATE", "3.0"))
# acceptance gate on average EXTERNAL cores busy during the attempt
# (total /proc/stat busy minus our own process tree — loadavg-at-end is
# contaminated by the bench's own burst, this is not).  1.5 of 32 cores
# ≈ a 5% worst-case tax on a fully-parallel stage.
EXT_GATE = float(os.environ.get("SPARK_GRAFT_BENCH_EXTGATE", "1.5"))
# total wall budget for gate-waits + retries; one attempt always runs
DEADLINE = float(os.environ.get("SPARK_GRAFT_BENCH_DEADLINE", "1800"))
# minimum parallel sha256 throughput (MB/s, all cores) to START an
# attempt: host epochs exist where parallel capacity halves (measured
# 6,988 vs 16,250 MB/s an hour apart) while external CPU reads clean —
# walls recorded in a degraded epoch say nothing about the engine.
# Bounded by the same per-attempt maxwait, so a persistently degraded
# host still produces a (calibration-stamped) record.  0 disables.
CALIB_GATE = float(os.environ.get("SPARK_GRAFT_BENCH_CALIBGATE", "9000"))
MAXMIND = entrymod._geolite_fixture_dir()


def force(df) -> int:
    """Execute the whole plan, returning a row count."""
    return df.agg(F.count(F.lit(1))).collect()[0][0]


from BENCH.sysload import (  # noqa: E402
    cpu_calibration,
    proc_tree_jiffies as _proc_tree_jiffies,
    total_busy_jiffies as _total_busy_jiffies,
)


def wait_for_quiet_window(deadline_ts: float) -> float:
    """Bounded wait for BOTH a low 1-min load and a healthy host epoch
    (parallel sha256 calibration above CALIB_GATE) before timing
    anything; capped per-attempt at
    $SPARK_GRAFT_BENCH_LOADGATE_MAXWAIT seconds (default 240) and by
    the overall deadline.  Returns seconds actually waited."""
    max_wait = float(os.environ.get("SPARK_GRAFT_BENCH_LOADGATE_MAXWAIT", "240"))
    if GATE <= 0:
        return 0.0
    t0 = time.monotonic()
    while time.monotonic() - t0 < max_wait and time.monotonic() < deadline_ts:
        if os.getloadavg()[0] > GATE:
            time.sleep(5)
            continue
        if CALIB_GATE > 0:
            key = f"sha256_{int(CPUS)}t_mb_s"
            if cpu_calibration(int(CPUS)).get(key, 0) < CALIB_GATE:
                time.sleep(20)
                continue
        break
    return round(time.monotonic() - t0, 1)


def setup_inputs(spark) -> dict:
    """Cache the bench inputs once; reused verbatim by every attempt."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").cache()
    li.count()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()
    n_docs = docs.count()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    n_emb = emb.count()
    ips = entrymod._derived_ips(spark, SF_DIR).cache()
    n_ips = ips.count()
    texts = entrymod._derived_texts(spark, SF_DIR).cache()
    texts.count()
    n_files = int(os.environ.get("SPARK_GRAFT_PIPELINE_FILES", "60000"))
    corpus, _ = synth_corpus(
        spark,
        n_entities=n_files // 3,
        records_per_entity=3,
        n_blocks=max(n_files // 600, 10),
    )
    corpus = corpus.cache()
    corpus.count()
    return {
        "docs": docs, "emb": emb, "ips": ips, "texts": texts,
        "corpus": corpus, "n_docs": n_docs, "n_emb": n_emb,
        "n_ips": n_ips, "n_files": n_files,
    }


def run_attempt(spark, inp: dict) -> tuple[dict, dict, dict]:
    """One full pass over the headline queries; returns
    (timings, reps, extras)."""
    docs, emb, ips, texts = inp["docs"], inp["emb"], inp["ips"], inp["texts"]
    n_docs, n_emb, n_ips = inp["n_docs"], inp["n_emb"], inp["n_ips"]

    timings: dict[str, float] = {}
    reps: dict[str, list[float]] = {}
    extras: dict[str, float] = {}

    def bench(name, fn):
        runs = []
        for _ in range(REPS):
            t0 = time.monotonic()
            fn()
            runs.append(round(time.monotonic() - t0, 3))
        reps[name] = runs
        timings[name] = round(statistics.median(runs), 3)

    # scalar ops, pure JVM (rows: lineitem-derived)
    bench(
        "scalar_native",
        lambda: force(
            ips.select(
                ip.is_valid("ip").alias("v"),
                ip.is_private("ip").alias("p"),
                ip.ipv4_to_numeric("ip").alias("n"),
            ).where("v or p or n > 0")
        ),
    )
    extras["scalar_native_rows_per_sec"] = round(n_ips / timings["scalar_native"])

    # Arrow-UDF typed round-trip
    bench(
        "typed_roundtrip_udf",
        lambda: force(
            ips.select(ip.to_string(ip.to_address("ip")).alias("c")).where(
                "c is not null"
            )
        ),
    )

    # CIDR membership (mixed family -> broadcast searchsorted UDF)
    nets = ["8.8.8.0/24", "10.0.0.0/8", "100.64.0.0/10", "2606:4700::/32"] + [
        f"{o}.0.0.0/8" for o in range(20, 60)
    ]
    bench("is_in_udf", lambda: force(ips.where(ip.is_in("ip", nets))))
    extras["is_in_rows_per_sec"] = round(n_ips / timings["is_in_udf"])

    # extraction, JVM-side v4 path over indicator-salted documents
    bench(
        "extract_ips_native",
        lambda: force(
            texts.select(F.explode(ip.extract_public_ips("itext")).alias("x"))
        ),
    )
    extras["extract_docs_per_sec"] = round(n_docs / timings["extract_ips_native"])

    # extraction, Arrow-UDF v6 path
    bench(
        "extract_ips_v6_udf",
        lambda: force(
            texts.select(F.explode(ip.extract_ips("itext", ipv6=True)).alias("x"))
        ),
    )

    # geo enrichment (broadcast interval table)
    bench(
        "geoip_full",
        lambda: force(
            ips.select(ip.geoip.full("ip", db_dir=MAXMIND).alias("g")).where(
                "g.asnnum is not null"
            )
        ),
    )
    extras["geoip_rows_per_sec"] = round(n_ips / timings["geoip_full"])

    # dedup family over documents
    bench(
        "minhash_lsh",
        lambda: force(
            dedup.minhash_lsh_pairs(
                docs, "doc_id", "text", k=3, num_hashes=32, bands=8, threshold=0.5
            )
        ),
    )
    bench(
        "simhash_pairs",
        lambda: force(dedup.simhash_pairs(docs, "doc_id", "text", 3, 4)),
    )

    # ANN top-k over embeddings
    q = emb.where("vec_id < 8").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bench("ann_topk", lambda: force(similarity.brute_force_topk(emb, q, k=10)))

    # banded multi-table embedding LSH (bucket UDF + guarded pair join).
    # n_planes scales with the corpus so expected bucket occupancy stays
    # ~32 vectors (standard LSH sizing): a FIXED plane count at 10x the
    # vectors means 100x the candidate pairs per bucket, and the bench
    # measures the mis-parameterization, not the operator.  At the
    # sf0.1 reference scale (2,000 vectors) this resolves to the
    # historical n_planes=6, keeping round-over-round comparability.
    n_planes = max(6, math.ceil(math.log2(max(inp["n_emb"], 64) / 32)))
    dim = len(emb.select("embedding").first()[0])
    bench(
        "ann_lsh_banded",
        lambda: force(
            similarity.lsh_near_duplicates(
                emb, dim=dim, threshold=0.3, n_tables=16, n_planes=n_planes
            )
        ),
    )
    extras["ann_lsh_n_planes"] = n_planes

    # vectorized Jaro-Winkler kernel: 600k path-shaped pairs (~350k
    # unique after the batch factorize)
    r = F.col("rid")
    jw_pairs = ips.select(
        F.concat(
            F.lit("src/module"), (r % 37).cast("string"),
            F.lit("/handler"), (r % 97).cast("string"), F.lit(".py"),
        ).alias("s_a"),
        F.concat(
            F.lit("src/module"), (r % 37).cast("string"),
            F.lit("/handler"), ((r + 13) % 97).cast("string"), F.lit("_v2.py"),
        ).alias("s_b"),
    )
    bench(
        "scoring_jw_udf",
        lambda: force(
            jw_pairs.select(jaro_winkler_udf("s_a", "s_b").alias("jw")).where(
                "jw >= 0"
            )
        ),
    )
    extras["jw_pairs_per_sec"] = round(n_ips / timings["scoring_jw_udf"])

    # end-to-end record-linkage pipeline on the synthetic corpus;
    # each rep gets a FRESH checkpoint dir (a reused one would resume
    # instantly and time nothing)
    def _pipeline_rep():
        res = run_pipeline(spark, inp["corpus"], tempfile.mkdtemp(prefix="bench_plc_"))
        res["clusters"].agg(F.count(F.lit(1))).collect()

    bench("pipeline_e2e", _pipeline_rep)
    extras["pipeline_files_per_sec"] = round(
        inp["n_files"] / timings["pipeline_e2e"], 1
    )

    # Full-parallelism engine numbers (extras only — the 12 headline
    # walls above stay round-over-round comparable).  The driver's
    # sf0.1 parquet is a single row-group, so the cached inputs above
    # have ~3 partitions and every per-row wall is a 3-core number; the
    # sf1.0 ladder (BENCH/BASELINE.md §3b) showed the same operators
    # running 10x the rows in the same wall once partitioned.  These
    # reps measure the operators on the SAME data spread across all
    # cores.
    def _med(fn):
        runs = []
        for _ in range(REPS):
            t0 = time.monotonic()
            fn()
            runs.append(time.monotonic() - t0)
        return statistics.median(runs)

    ips_par = ips.repartition(int(CPUS)).cache()
    ips_par.count()
    w = _med(
        lambda: force(
            ips_par.select(
                ip.is_valid("ip").alias("v"),
                ip.is_private("ip").alias("p"),
                ip.ipv4_to_numeric("ip").alias("n"),
            ).where("v or p or n > 0")
        )
    )
    extras["scalar_par_rows_per_sec"] = round(n_ips / w)
    w = _med(
        lambda: force(
            ips_par.select(ip.geoip.full("ip", db_dir=MAXMIND).alias("g")).where(
                "g.asnnum is not null"
            )
        )
    )
    extras["geoip_par_rows_per_sec"] = round(n_ips / w)
    ips_par.unpersist()

    texts_par = texts.repartition(int(CPUS)).cache()
    texts_par.count()
    w = _med(
        lambda: force(
            texts_par.select(F.explode(ip.extract_ips("itext", ipv6=True)).alias("x"))
        )
    )
    extras["extract_v6_par_docs_per_sec"] = round(n_docs / w)
    texts_par.unpersist()

    return timings, reps, extras


def main() -> None:
    deadline_ts = time.monotonic() + DEADLINE
    spark = get_spark(
        app_name="bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    # executors must import the package regardless of the launch cwd
    entrymod._ensure_importable(spark)
    inp = setup_inputs(spark)

    attempts: list[dict] = []
    accepted: dict | None = None
    hz = os.sysconf("SC_CLK_TCK")
    for i in range(ATTEMPTS):
        gate_waited = wait_for_quiet_window(deadline_ts)
        load_at_start = round(os.getloadavg()[0], 2)
        # fixed pure-CPU probe: host epochs exist where every wall
        # inflates uniformly ~1.35x while external CPU reads clean
        # (memory-bandwidth / SMT contention the guest cannot see) —
        # the parallel calibration number lets a reader normalize this
        # record against another epoch's (BENCH/sysload.py)
        calib = cpu_calibration(int(CPUS))
        busy0, tree0 = _total_busy_jiffies(), _proc_tree_jiffies()
        t_run0 = time.monotonic()
        timings, reps, extras = run_attempt(spark, inp)
        elapsed = time.monotonic() - t_run0
        busy1, tree1 = _total_busy_jiffies(), _proc_tree_jiffies()
        load_at_end = [round(x, 2) for x in os.getloadavg()[:2]]
        # average EXTERNAL cores busy during the attempt: total machine
        # busy minus our own process tree (python + Spark JVM + Arrow
        # workers).  Unlike loadavg-at-end this is not contaminated by
        # the bench's own burst and has no decay lag — it is the direct
        # measurement of the neighbor interference the gate exists for.
        ext_cores = max(0.0, (busy1 - busy0) - (tree1 - tree0)) / (elapsed * hz)
        att = {
            "attempt": i + 1,
            "total": round(sum(timings.values()), 3),
            "load_at_start": load_at_start,
            "load_at_end": load_at_end,
            "external_cores_avg": round(ext_cores, 2),
            "cpu_calibration": calib,
            "loadgate_waited_s": gate_waited,
            "timings": timings,
            "reps": reps,
            "extras": extras,
        }
        attempts.append(att)
        if load_at_start <= GATE and ext_cores <= EXT_GATE:
            accepted = att
            break
        if time.monotonic() >= deadline_ts:
            break

    window_clean = accepted is not None
    if accepted is None:
        # No clean window: cross-attempt per-query minima bracket the
        # true engine cost (documented adjudication protocol,
        # BENCH/BASELINE.md §3); extras come from the least-loaded
        # attempt so derived throughputs stay self-consistent.
        minima = {
            q: min(min(a["reps"][q]) for a in attempts)
            for q in attempts[0]["timings"]
        }
        least_loaded = min(attempts, key=lambda a: a["external_cores_avg"])
        accepted = {
            "total": round(sum(minima.values()), 3),
            "load_at_start": least_loaded["load_at_start"],
            "load_at_end": least_loaded["load_at_end"],
            "external_cores_avg": least_loaded["external_cores_avg"],
            "cpu_calibration": least_loaded["cpu_calibration"],
            "loadgate_waited_s": least_loaded["loadgate_waited_s"],
            "timings": minima,
            "reps": {q: [v for a in attempts for v in a["reps"][q]] for q in minima},
            "extras": least_loaded["extras"],
        }

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": accepted["total"],
                "unit": "sec",
                "queries": accepted["timings"],
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "cpus": int(CPUS),
                "docs": inp["n_docs"],
                "derived_ip_rows": inp["n_ips"],
                "rep_protocol": (
                    f"median of {REPS}"
                    if window_clean
                    else f"cross-attempt minima over {len(attempts)} attempts x {REPS} reps"
                ),
                # a clean start does not imply a clean run in this
                # shared sandbox (neighbor bursts arrive mid-flight) —
                # the record is only accepted when the start load AND
                # the directly-measured external CPU during the run
                # clear the gates, else the whole body retries
                "window_clean": window_clean,
                "adjudication": (
                    "accepted attempt: start load and measured external "
                    "CPU during the run both under gate"
                    if window_clean
                    else "NO clean window in the attempt budget; per-query "
                    "cross-attempt minima (lower-bound bracket of engine cost)"
                ),
                "load_at_start": accepted["load_at_start"],
                "load_at_end": accepted["load_at_end"],
                "external_cores_avg": accepted["external_cores_avg"],
                "cpu_calibration": accepted["cpu_calibration"],
                "loadgate_waited_s": accepted["loadgate_waited_s"],
                "attempts": len(attempts),
                "attempt_history": [
                    {k: a[k] for k in (
                        "attempt", "total", "load_at_start",
                        "load_at_end", "external_cores_avg",
                        "loadgate_waited_s",
                    )}
                    for a in attempts
                ],
                "gates": {"start_load": GATE, "external_cores": EXT_GATE},
                "reps": accepted["reps"],
                "min": {k: min(v) for k, v in accepted["reps"].items()},
                "extras": accepted["extras"],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
