"""Per-stage checkpointing with partition lineage + metrics (north rule:
"resumable from checkpoint with per-partition lineage + metrics").

Model: a pipeline is a sequence of named stages over a partitioned key
domain (default: zoom). Each stage run:

  1. plans the set of work units (key values) it must produce
  2. anti-joins the units already recorded COMPLETE in the stage's
     `_lineage` table (resume = skip them)
  3. computes + writes each pending unit's output atomically
     (write to `_tmp-<unit>` then rename into place)
  4. appends a lineage row: stage, unit, row_count, input_fingerprint,
     wall seconds, task-partition breakdown

The lineage table is plain parquet next to the stage output, so any Spark
session (or DuckDB) can audit it. Fingerprints are order-insensitive
xxhash64 XOR-folds, cheap enough to compute inline with the write.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "stage STRING, unit STRING, status STRING, row_count BIGINT, "
    "fingerprint BIGINT, n_partitions INT, wall_sec DOUBLE, ts DOUBLE"
)


def dataset_fingerprint(df: DataFrame) -> tuple[int, int, int]:
    """(row_count, xor-fold fingerprint, n_partitions) in one pass.

    XOR of per-row xxhash64 over all columns is order- and
    partitioning-insensitive — the property that makes the resume check
    valid under AQE re-planning and different parallelism.
    """
    h = df.select(
        F.xxhash64(*[F.col(c) for c in df.columns]).alias("h"),
        F.spark_partition_id().alias("p"),
    )
    row = h.agg(
        F.count("*").alias("n"),
        F.expr("bit_xor(h)").alias("fp"),
        F.countDistinct("p").alias("nparts"),
    ).collect()[0]
    return int(row.n), int(row.fp if row.fp is not None else 0), int(row.nparts)


class LineageLog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.path = os.path.join(root, "_lineage")

    def completed_units(self, stage: str) -> set[str]:
        if not os.path.exists(self.path):
            return set()
        df = self.spark.read.parquet(self.path)
        rows = (
            df.filter((F.col("stage") == stage) & (F.col("status") == "complete"))
            .select("unit")
            .distinct()
            .collect()
        )
        return {r.unit for r in rows}

    def record(self, stage: str, unit: str, row_count: int, fingerprint: int,
               n_partitions: int, wall_sec: float) -> None:
        row = [(stage, unit, "complete", row_count, fingerprint, n_partitions,
                wall_sec, time.time())]
        self.spark.createDataFrame(row, LINEAGE_SCHEMA).write.mode("append").parquet(self.path)

    def summary(self) -> DataFrame:
        return self.spark.read.parquet(self.path)


@dataclass
class StageResult:
    stage: str
    ran_units: list[str]
    skipped_units: list[str]
    rows: int


def run_stage(
    spark: SparkSession,
    log: LineageLog,
    stage: str,
    units: list[str],
    build_unit,  # Callable[[str], DataFrame]
    out_root: str | None = None,
) -> StageResult:
    """Execute a stage resumably: skip COMPLETE units, write pending units
    atomically, log lineage per unit."""
    out_root = out_root or os.path.join(log.root, stage)
    os.makedirs(out_root, exist_ok=True)
    done = log.completed_units(stage)
    ran, skipped, total_rows = [], [], 0
    for unit in units:
        final_path = os.path.join(out_root, f"unit={unit}")
        if unit in done and os.path.exists(final_path):
            skipped.append(unit)
            continue
        t0 = time.time()
        df = build_unit(unit)
        tmp = os.path.join(out_root, f"_tmp-{unit}")
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        df.write.mode("overwrite").parquet(tmp)
        written = spark.read.parquet(tmp)
        n, fp, nparts = dataset_fingerprint(written)
        if os.path.exists(final_path):
            shutil.rmtree(final_path)
        os.replace(tmp, final_path)
        log.record(stage, unit, n, fp, nparts, time.time() - t0)
        ran.append(unit)
        total_rows += n
    return StageResult(stage, ran, skipped, total_rows)
