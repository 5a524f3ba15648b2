"""SparkSession factory tuned for this engine.

Arrow is always on (every scalar Python-side kernel in this package is
a vectorized Arrow UDF that takes and returns ``pa.Array`` — there are
no row-at-a-time Python UDFs anywhere), batch size is raised for the
small-row workloads typical of IP columns, and AQE is enabled so skewed
shuffles re-plan at runtime.

At 100 TB these settings are inherited by ``spark-submit --conf``; the
factory only fills in defaults that are safe at any scale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Rows per Arrow batch sent to a Python worker; IP rows are tiny, so a
# bigger batch amortizes the per-batch cost the way the reference does one
# FFI call per Polars chunk (not the per-task worker setup: see _pyworker).
_ARROW_BATCH = "65536"


def get_spark(
    app_name: str = "polars-iptools-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally but is
    left unset when running under spark-submit against a real cluster.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)

    cores = os.cpu_count() or 8
    defaults = {
        "spark.sql.session.timeZone": "UTC",
        # Pinned, not inherited: the exact-F1 counting path
        # (plans/pipeline.py) relies on a genuine long overflow of
        # n*(n-1) raising instead of wrapping — true by default on
        # Spark 4.x but NOT on 3.x; pinning makes the exactness claim
        # environment-independent.
        "spark.sql.ansi.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": _ARROW_BATCH,
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions if shuffle_partitions is not None else max(cores, 8)
        ),
        # deterministic results: no partial-aggregation pushdown surprises
        "spark.sql.parquet.compression.codec": "snappy",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
    }
    if extra_conf:
        defaults.update(extra_conf)
    for k, v in defaults.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
