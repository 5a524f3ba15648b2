"""Round-7 optimization harness (guide §1): per-query plan capture +
noop-sink isolated timings + pipeline per-stage walls.

Separate from the FROZEN bench.py.  Usage:

    python bench_extra.py before   # plans -> plans/r07/<q>_before.txt
    python bench_extra.py after    # plans -> plans/r07/<q>_after.txt

Prints one JSON line with per-query noop-sink medians and the
run_pipeline per-stage wall seconds.
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
MAXMIND = entrymod._geolite_fixture_dir()
PHASE = sys.argv[1] if len(sys.argv) > 1 else "before"
PLAN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r07")


def noop(df) -> None:
    """Guide §1.4: eagerly compute every column, discard the result."""
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    os.makedirs(PLAN_DIR, exist_ok=True)
    spark = get_spark(
        app_name="bench_extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    entrymod._ensure_importable(spark)

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").cache()
    li.count()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()
    n_docs = docs.count()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    n_emb = emb.count()
    ips = entrymod._derived_ips(spark, SF_DIR).cache()
    ips.count()
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

    timings: dict[str, float] = {}
    reps: dict[str, list[float]] = {}

    def bench(name, make_df):
        df = make_df()
        with open(os.path.join(PLAN_DIR, f"{name}_{PHASE}.txt"), "w") as fh:
            fh.write(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            ))
        runs = []
        for _ in range(REPS):
            spark.sparkContext.setJobDescription(f"r07:{name}")
            t0 = time.monotonic()
            noop(make_df())
            runs.append(round(time.monotonic() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        reps[name] = runs
        timings[name] = round(statistics.median(runs), 3)

    bench(
        "scalar_native",
        lambda: ips.select(
            ip.is_valid("ip").alias("v"),
            ip.is_private("ip").alias("p"),
            ip.ipv4_to_numeric("ip").alias("n"),
        ).where("v or p or n > 0"),
    )
    bench(
        "typed_roundtrip_udf",
        lambda: ips.select(ip.to_string(ip.to_address("ip")).alias("c")).where(
            "c is not null"
        ),
    )
    nets = ["8.8.8.0/24", "10.0.0.0/8", "100.64.0.0/10", "2606:4700::/32"] + [
        f"{o}.0.0.0/8" for o in range(20, 60)
    ]
    bench("is_in_udf", lambda: ips.where(ip.is_in("ip", nets)))
    bench(
        "extract_ips_native",
        lambda: texts.select(F.explode(ip.extract_public_ips("itext")).alias("x")),
    )
    bench(
        "extract_ips_v6_udf",
        lambda: texts.select(F.explode(ip.extract_ips("itext", ipv6=True)).alias("x")),
    )
    bench(
        "geoip_full",
        lambda: ips.select(ip.geoip.full("ip", db_dir=MAXMIND).alias("g")).where(
            "g.asnnum is not null"
        ),
    )
    bench(
        "minhash_lsh",
        lambda: dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", k=3, num_hashes=32, bands=8, threshold=0.5
        ),
    )
    bench("simhash_pairs", lambda: dedup.simhash_pairs(docs, "doc_id", "text", 3, 4))
    q = emb.where("vec_id < 8").select(F.col("vec_id").alias("query_id"), "embedding")
    bench("ann_topk", lambda: similarity.brute_force_topk(emb, q, k=10))
    n_planes = max(6, math.ceil(math.log2(max(n_emb, 64) / 32)))
    dim = len(emb.select("embedding").first()[0])
    bench(
        "ann_lsh_banded",
        lambda: similarity.lsh_near_duplicates(
            emb, dim=dim, threshold=0.3, n_tables=16, n_planes=n_planes
        ),
    )
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
        lambda: jw_pairs.select(jaro_winkler_udf("s_a", "s_b").alias("jw")).where(
            "jw >= 0"
        ),
    )

    # pipeline: per-stage walls from StageRunner.metrics; plans per stage
    stage_walls: list[dict] = []
    pipe_runs = []
    for rep in range(REPS):
        spark.sparkContext.setJobDescription("r07:pipeline_e2e")
        t0 = time.monotonic()
        res = run_pipeline(spark, corpus, tempfile.mkdtemp(prefix="bx_plc_"))
        res["clusters"].agg(F.count(F.lit(1))).collect()
        pipe_runs.append(round(time.monotonic() - t0, 3))
        stage_walls.append(
            {k: v.get("wall_sec") for k, v in res["metrics"].items()}
        )
        spark.sparkContext.setJobDescription(None)
    reps["pipeline_e2e"] = pipe_runs
    timings["pipeline_e2e"] = round(statistics.median(pipe_runs), 3)

    print(
        json.dumps(
            {
                "phase": PHASE,
                "metric": "noop_isolated",
                "value": round(sum(timings.values()), 3),
                "queries": timings,
                "reps": reps,
                "pipeline_stage_walls": stage_walls,
                "cpus": int(CPUS),
                "sf_dir": SF_DIR,
                "docs": n_docs,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
