"""Synthesize an sf1.0-scale bench input from the driver's sf0.1 data:
10 key-offset copies of the three tables bench.py reads (lineitem,
documents, embeddings), written to --out (default /tmp/sf1.0).

Scale-up semantics (documented for the bench record):
- lineitem: l_orderkey offset by copy * (max_orderkey+1) — derived IP
  rows grow 10x with the same value mix and unique rids;
- documents: doc_id offset; a per-copy salt token is appended to the
  text so the 10 copies are NEAR-dups of each other, not exact dups
  (keeps the dedup-query pair structure comparable to sf0.1 instead of
  planting 10-member exact-dup cliques);
- embeddings: vec_id offset; copies >0 get a small deterministic
  per-element perturbation (+-2.5% hash noise) — exact twins would
  hand every vector a 10-member duplicate clique and the ann queries
  would measure the artifact, not the engine (first run measured
  exactly that: ann_lsh_banded 22.1 s on exact twins).
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/sf1.0")
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument(
        "--tables", default="lineitem,documents,embeddings",
        help="comma list; document/embedding-only runs can skip lineitem",
    )
    args = ap.parse_args()
    tables = set(args.tables.split(","))

    from polars_iptools_spark.session import get_spark
    from pyspark.sql import functions as F

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_spark(
        app_name="make_sf1", master=f"local[{cpus}]",
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = Path(args.out)

    counts = {}
    if "lineitem" in tables:
        li = spark.read.parquet(f"{args.src}/lineitem.parquet")
        okey_span = li.agg(F.max("l_orderkey")).collect()[0][0] + 1
        parts = []
        for c in range(args.copies):
            parts.append(li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(c * okey_span)))
        big_li = parts[0]
        for p in parts[1:]:
            big_li = big_li.unionByName(p)
        big_li.repartition(cpus).write.mode("overwrite").parquet(str(out / "lineitem.parquet"))
        counts["lineitem"] = spark.read.parquet(str(out / "lineitem.parquet")).count()

    if "documents" in tables:
        docs = spark.read.parquet(f"{args.src}/documents.parquet")
        dkey_span = docs.agg(F.max("doc_id")).collect()[0][0] + 1
        parts = []
        for c in range(args.copies):
            parts.append(
                docs.withColumn("doc_id", F.col("doc_id") + F.lit(c * dkey_span))
                .withColumn("text", F.concat("text", F.lit(f" copysalt{c} v{c}")))
            )
        big_d = parts[0]
        for p in parts[1:]:
            big_d = big_d.unionByName(p)
        big_d.repartition(cpus).write.mode("overwrite").parquet(str(out / "documents.parquet"))
        counts["documents"] = spark.read.parquet(str(out / "documents.parquet")).count()

    if "embeddings" in tables:
        emb = spark.read.parquet(f"{args.src}/embeddings.parquet")
        vkey_span = emb.agg(F.max("vec_id")).collect()[0][0] + 1
        parts = []
        for c in range(args.copies):
            e = emb.withColumn("vec_id", F.col("vec_id") + F.lit(c * vkey_span))
            if c:
                e = e.withColumn(
                    "embedding",
                    F.transform(
                        "embedding",
                        lambda x, i: (
                            x
                            * (
                                F.lit(1.0)
                                + (
                                    F.pmod(
                                        F.xxhash64(F.col("vec_id"), i, F.lit(c)),
                                        F.lit(1000),
                                    )
                                    - 500
                                )
                                / 20000.0
                            )
                        ).cast("float"),
                    ),
                )
            parts.append(e)
        big_e = parts[0]
        for p in parts[1:]:
            big_e = big_e.unionByName(p)
        big_e.repartition(cpus).write.mode("overwrite").parquet(str(out / "embeddings.parquet"))
        counts["embeddings"] = spark.read.parquet(str(out / "embeddings.parquet")).count()

    print(counts)
    spark.stop()


if __name__ == "__main__":
    main()
