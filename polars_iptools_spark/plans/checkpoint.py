"""Resumable stage runner: every pipeline stage writes a parquet
checkpoint plus a ``_metrics.json`` sidecar (rows, per-partition
lineage, wall time).  On restart, a stage whose ``_SUCCESS`` marker
exists is loaded instead of recomputed — a killed job resumes from the
last committed checkpoint (north_rule requirement).

Metrics include a per-partition row histogram so skew is visible in
the lineage without re-running anything.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# above this many part files the per-file lineage map is dropped from
# the sidecar (summary stats only) — the map is O(files) JSON, not data
_LINEAGE_DETAIL_CAP = 2048


def _summarize(partition_rows: dict[str, int]) -> dict | None:
    if not partition_rows:
        return None
    vals = sorted(partition_rows.values())
    n = len(vals)
    return {
        "files": n,
        "min": vals[0],
        "max": vals[-1],
        "p50": vals[n // 2],
        "total": sum(vals),
    }


class StageRunner:
    def __init__(self, spark: SparkSession, ckpt_dir: str | Path):
        self.spark = spark
        self.dir = Path(ckpt_dir)
        self.dir.mkdir(parents=True, exist_ok=True)
        self.metrics: dict[str, dict] = {}

    @staticmethod
    def _footer_lineage(data_path: Path) -> tuple[dict[str, int], int | None, bool]:
        """Per-partition row counts from the committed parquet FOOTERS —
        driver-side metadata reads, zero executor jobs (a
        groupBy(spark_partition_id) histogram would re-scan the full
        stage output).  Footers are read on a thread pool: at 100x the
        per-stage file count a sequential loop here re-enters the fixed
        serial wall the lineage was meant to avoid.

        Returns (per-file map, total rows or None if unreadable,
        detail-truncated flag)."""
        try:
            import pyarrow.parquet as pq
            from concurrent.futures import ThreadPoolExecutor

            parts = sorted(data_path.glob("part-*.parquet"))
            if not parts:
                return {}, None, False

            def _rows(p: Path) -> tuple[str, int]:
                return p.name, pq.ParquetFile(p).metadata.num_rows

            with ThreadPoolExecutor(max_workers=min(16, len(parts))) as ex:
                partition_rows = dict(ex.map(_rows, parts))
            return (
                partition_rows,
                sum(partition_rows.values()),
                len(partition_rows) > _LINEAGE_DETAIL_CAP,
            )
        except Exception:  # footer read is best-effort lineage
            return {}, None, False

    def _paths(self, name: str) -> tuple[Path, Path]:
        return self.dir / name, self.dir / f"{name}._metrics.json"

    def is_committed(self, name: str) -> bool:
        data_path, _ = self._paths(name)
        return (data_path / "_SUCCESS").exists()

    def stage(self, name: str, fn) -> DataFrame:
        """Run ``fn() -> DataFrame`` (or load its committed checkpoint)."""
        data_path, meta_path = self._paths(name)
        if self.is_committed(name):
            if meta_path.exists():
                m = json.loads(meta_path.read_text())
                m["resumed"] = True
                self.metrics[name] = m
            return self.spark.read.parquet(str(data_path))
        t0 = time.monotonic()
        df = fn()
        df.write.mode("overwrite").parquet(str(data_path))
        # the schema is known: passing it skips the one-task schema
        # inference job a plain read.parquet launches per commit
        out = self.spark.read.schema(df.schema).parquet(str(data_path))
        partition_rows, rows, truncated = self._footer_lineage(data_path)
        if rows is None:
            # no readable footers (pyarrow missing / non-local checkpoint
            # dir): fall back to a real count so rows is never silently 0
            rows = out.count()
        m = {
            "stage": name,
            "rows": rows,
            "partitions": len(partition_rows) or None,
            # the per-file map is capped (lineage detail, not the count);
            # above the cap only summary stats are kept
            "partition_rows": partition_rows if not truncated else None,
            "partition_rows_summary": _summarize(partition_rows),
            "wall_sec": round(time.monotonic() - t0, 3),
            "resumed": False,
        }
        meta_path.write_text(json.dumps(m, indent=1))
        self.metrics[name] = m
        return out
