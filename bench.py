"""Headline benchmark: one JSON line on stdout.

    python bench.py [--queries a,b,...] [--plans DIR]

Runs the engine's representative queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default all
cores).  Each query is forced with a cheap aggregate so timing measures
the full plan, not collect serialization.  ``--queries`` runs a subset,
and only the inputs that subset reads are built; ``--plans DIR`` writes
each query's formatted physical plan to ``DIR/<query>.txt``.

Every query runs $SPARK_GRAFT_BENCH_REPS times (default 3).  Before
each rep, untimed, every cached frame is released and the query's
inputs are cached and counted again, so no rep reads what an earlier
rep persisted.  The record holds the median per query, every rep and
the minimum, plus the host
(load at start and end, and external cores busy during the run, see
BENCH/sysload.py).  The host fields are recorded for the reader and
never gate or repeat a run.
"""

from __future__ import annotations

import argparse
import atexit
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
from typing import Callable, NamedTuple

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
import polars_iptools_spark as ip  # noqa: E402
from BENCH.sysload import ExternalCpuMeter  # noqa: E402
from polars_iptools_spark.operators import dedup, similarity  # noqa: E402
from polars_iptools_spark.plans.pipeline import run_pipeline  # noqa: E402
from polars_iptools_spark.plans.scoring import jaro_winkler_udf  # noqa: E402
from polars_iptools_spark.session import get_spark  # noqa: E402
from polars_iptools_spark.sources.corpus import synth_corpus  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))
REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
PIPELINE_FILES = int(os.environ.get("SPARK_GRAFT_PIPELINE_FILES", "60000"))


def force(df: DataFrame) -> int:
    """Execute the whole plan, returning a row count."""
    return df.agg(F.count(F.lit(1))).collect()[0][0]


def _corpus(spark) -> DataFrame:
    corpus, _ = synth_corpus(
        spark,
        n_entities=PIPELINE_FILES // 3,
        records_per_entity=3,
        n_blocks=max(PIPELINE_FILES // 600, 10),
    )
    return corpus


# Each input is read, cached and counted once, before any query is timed.
INPUTS: dict[str, Callable] = {
    "ips": lambda spark: entrymod._derived_ips(spark, SF_DIR),
    "texts": lambda spark: entrymod._derived_texts(spark, SF_DIR),
    "docs": lambda spark: spark.read.parquet(f"{SF_DIR}/documents.parquet"),
    "emb": lambda spark: spark.read.parquet(f"{SF_DIR}/embeddings.parquet"),
    "corpus": _corpus,
}


class Query(NamedTuple):
    """A bench query.  ``prepare(inp, rows, extras)`` runs once, untimed,
    and returns the callable each rep times: it builds the DataFrame
    that ``force`` executes.  ``rate`` names the extras key that gets the
    first input's rows per second of the median."""

    inputs: tuple[str, ...]
    prepare: Callable
    rate: str | None


QUERIES: dict[str, Query] = {}


def query(*inputs: str, rate: str | None = None):
    def register(prepare):
        QUERIES[prepare.__name__] = Query(inputs, prepare, rate)
        return prepare

    return register


# scalar ops, pure JVM (rows: lineitem-derived)
@query("ips", rate="scalar_native_rows_per_sec")
def scalar_native(inp, rows, extras):
    return lambda: inp["ips"].select(
        ip.is_valid("ip").alias("v"),
        ip.is_private("ip").alias("p"),
        ip.ipv4_to_numeric("ip").alias("n"),
    ).where("v or p or n > 0")


# Arrow-UDF typed round-trip
@query("ips")
def typed_roundtrip_udf(inp, rows, extras):
    return lambda: inp["ips"].select(
        ip.to_string(ip.to_address("ip")).alias("c")
    ).where("c is not null")


# CIDR membership (mixed family -> searchsorted UDF)
@query("ips", rate="is_in_rows_per_sec")
def is_in_udf(inp, rows, extras):
    nets = ["8.8.8.0/24", "10.0.0.0/8", "100.64.0.0/10", "2606:4700::/32"] + [
        f"{o}.0.0.0/8" for o in range(20, 60)
    ]
    return lambda: inp["ips"].where(ip.is_in("ip", nets))


# extraction, JVM-side v4 path over indicator-salted documents
@query("texts", rate="extract_docs_per_sec")
def extract_ips_native(inp, rows, extras):
    return lambda: inp["texts"].select(
        F.explode(ip.extract_public_ips("itext")).alias("x")
    )


# extraction, Arrow-UDF v6 path
@query("texts")
def extract_ips_v6_udf(inp, rows, extras):
    return lambda: inp["texts"].select(
        F.explode(ip.extract_ips("itext", ipv6=True)).alias("x")
    )


# geo enrichment (broadcast interval table) over the in-repo GeoLite2
# test pair
@query("ips", rate="geoip_rows_per_sec")
def geoip_full(inp, rows, extras):
    db_dir = entrymod._geolite_fixture_dir()
    return lambda: inp["ips"].select(
        ip.geoip.full("ip", db_dir=db_dir).alias("g")
    ).where("g.asnnum is not null")


# dedup family over documents
@query("docs")
def minhash_lsh(inp, rows, extras):
    return lambda: dedup.minhash_lsh_pairs(
        inp["docs"], "doc_id", "text", k=3, num_hashes=32, bands=8, threshold=0.5
    )


@query("docs")
def simhash_pairs(inp, rows, extras):
    return lambda: dedup.simhash_pairs(inp["docs"], "doc_id", "text", 3, 4)


# ANN top-k over embeddings
@query("emb")
def ann_topk(inp, rows, extras):
    emb = inp["emb"]
    q = emb.where("vec_id < 8").select(F.col("vec_id").alias("query_id"), "embedding")
    return lambda: similarity.brute_force_topk(emb, q, k=10)


# banded multi-table embedding LSH (bucket UDF + guarded pair join).
# n_planes scales with the corpus so expected bucket occupancy stays
# ~32 vectors (standard LSH sizing): a FIXED plane count at 10x the
# vectors means 100x the candidate pairs per bucket, and the bench
# measures the mis-parameterization, not the operator.  At the sf0.1
# reference scale (2,000 vectors) this resolves to n_planes=6.
@query("emb")
def ann_lsh_banded(inp, rows, extras):
    emb = inp["emb"]
    n_planes = max(6, math.ceil(math.log2(max(rows["emb"], 64) / 32)))
    dim = len(emb.select("embedding").first()[0])
    extras["ann_lsh_n_planes"] = n_planes
    return lambda: similarity.lsh_near_duplicates(
        emb, dim=dim, threshold=0.3, n_tables=16, n_planes=n_planes
    )


# vectorized Jaro-Winkler kernel: one path-shaped pair per derived IP row
@query("ips", rate="jw_pairs_per_sec")
def scoring_jw_udf(inp, rows, extras):
    r = F.col("rid")
    jw_pairs = inp["ips"].select(
        F.concat(
            F.lit("src/module"), (r % 37).cast("string"),
            F.lit("/handler"), (r % 97).cast("string"), F.lit(".py"),
        ).alias("s_a"),
        F.concat(
            F.lit("src/module"), (r % 37).cast("string"),
            F.lit("/handler"), ((r + 13) % 97).cast("string"), F.lit("_v2.py"),
        ).alias("s_b"),
    )
    return lambda: jw_pairs.select(jaro_winkler_udf("s_a", "s_b").alias("jw")).where(
        "jw >= 0"
    )


# end-to-end record-linkage pipeline on the synthetic corpus; each rep
# gets a FRESH checkpoint dir (a reused one would resume instantly and
# time nothing) and records its StageRunner stage walls.  The dirs are
# removed at exit, not after each rep: force() reads the clusters from
# them after rep() returns, inside the timed span.
@query("corpus", rate="pipeline_files_per_sec")
def pipeline_e2e(inp, rows, extras):
    walls = extras.setdefault("pipeline_stage_walls", [])
    root = tempfile.mkdtemp(prefix="bench_plc_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)

    def rep():
        res = run_pipeline(
            inp["corpus"].sparkSession, inp["corpus"], tempfile.mkdtemp(dir=root)
        )
        walls.append({k: v.get("wall_sec") for k, v in res["metrics"].items()})
        return res["clusters"]

    return rep


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "--queries", default=",".join(QUERIES),
        help="comma-separated subset of: " + ", ".join(QUERIES),
    )
    ap.add_argument("--plans", metavar="DIR", help="write each query's formatted plan here")
    args = ap.parse_args(argv)
    args.queries = [q for q in args.queries.split(",") if q]
    unknown = [q for q in args.queries if q not in QUERIES]
    if unknown:
        ap.error(f"unknown queries {unknown}; valid: {', '.join(QUERIES)}")
    return args


def setup_inputs(spark, names: set[str]) -> tuple[dict, dict]:
    """Read, cache and count the named inputs, in ``INPUTS`` order."""
    inp, rows = {}, {}
    for name in INPUTS:
        if name in names:
            inp[name] = INPUTS[name](spark).cache()
            rows[name] = inp[name].count()
    return inp, rows


def fresh_cache(spark, inp: dict, names: tuple[str, ...]) -> None:
    """Release every cached frame, then cache and count ``names`` again:
    what a rep persisted must not make the next rep a cache hit."""
    spark.catalog.clearCache()
    for name in names:
        inp[name].cache().count()


def main(argv=None) -> None:
    args = parse_args(argv)
    selected = {name: QUERIES[name] for name in QUERIES if name in args.queries}
    spark = get_spark(
        app_name="bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    # executors must import the package regardless of the launch cwd
    entrymod._ensure_importable(spark)
    inp, rows = setup_inputs(spark, {i for q in selected.values() for i in q.inputs})
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    timings: dict[str, float] = {}
    reps: dict[str, list[float]] = {}
    extras: dict = {}

    def bench(name: str, q: Query) -> None:
        build = q.prepare(inp, rows, extras)
        runs = []
        for _ in range(REPS):
            fresh_cache(spark, inp, q.inputs)
            t0 = time.monotonic()
            df = build()
            force(df)
            runs.append(round(time.monotonic() - t0, 3))
        reps[name] = runs
        timings[name] = round(statistics.median(runs), 3)
        if q.rate:
            extras[q.rate] = round(rows[q.inputs[0]] / timings[name], 1)
        if args.plans:
            plan = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.plans, f"{name}.txt"), "w") as fh:
                fh.write(plan)

    load_at_start = round(os.getloadavg()[0], 2)
    with ExternalCpuMeter() as meter:
        for name, q in selected.items():
            bench(name, q)
    load_at_end = [round(x, 2) for x in os.getloadavg()[:2]]

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "cpus": CPUS,
                "input_rows": rows,
                "rep_protocol": f"median of {REPS}",
                "load_at_start": load_at_start,
                "load_at_end": load_at_end,
                "external_cores_avg": meter.external_cores_avg,
                "reps": reps,
                "min": {k: min(v) for k, v in reps.items()},
                "extras": extras,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
