"""Per-stage checkpointing with partition lineage + metrics (north rule:
"resumable from checkpoint with per-partition lineage + metrics").

Model: a pipeline is a sequence of named stages over a partitioned key
domain (default: zoom). Each stage run:

  1. plans the set of work units (key values) it must produce
  2. reads the stage's `_lineage` log on the driver (pyarrow, no Spark
     job) and skips the units already recorded COMPLETE (resume)
  3. writes each pending unit atomically (write to `_tmp-<unit>`, then
     rename into place); the write is the unit's only Spark action: its
     row count and fingerprint are observed (`DataFrame.observe`) on the
     rows as they are written, so nothing is read back
  4. appends one lineage row -- stage, unit, row_count, fingerprint,
     n_partitions (the number of `part-*` files the write produced),
     wall seconds, end time -- as one single-row parquet file, written
     by pyarrow under a `.`-prefixed name and renamed into place, so a
     reader never sees a half-written row

The lineage log is plain parquet next to the stage output, so any Spark
session (or DuckDB) can audit it; Spark and pyarrow both skip `_`/`.`
entries, such as the `_SUCCESS` and `.crc` sidecars of a log that Spark
appended to. Fingerprints are order-insensitive xxhash64 XOR-folds;
`dataset_fingerprint` computes the same pair from a read-back.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "stage STRING, unit STRING, status STRING, row_count BIGINT, "
    "fingerprint BIGINT, n_partitions INT, wall_sec DOUBLE, ts DOUBLE"
)
# LINEAGE_SCHEMA as pyarrow writes it: a file with another physical type
# (INT64 n_partitions, say) would break Spark's read of the whole log
_ARROW_SCHEMA = pa.schema(
    [
        ("stage", pa.string()), ("unit", pa.string()), ("status", pa.string()),
        ("row_count", pa.int64()), ("fingerprint", pa.int64()),
        ("n_partitions", pa.int32()), ("wall_sec", pa.float64()), ("ts", pa.float64()),
    ]
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
        """Units of `stage` logged COMPLETE, read on the driver; a log with
        no visible part file (absent, or only a crashed append's
        `_temporary/`) has none."""
        if not os.path.isdir(self.path):
            return set()
        done = set()
        for name in os.listdir(self.path):
            if name.startswith((".", "_")):
                continue
            t = pq.read_table(os.path.join(self.path, name), columns=["stage", "unit", "status"])
            for row in t.to_pylist():
                if row["stage"] == stage and row["status"] == "complete":
                    done.add(row["unit"])
        return done

    def record(self, stage: str, unit: str, row_count: int, fingerprint: int,
               n_partitions: int, wall_sec: float) -> None:
        row = [stage, unit, "complete", row_count, fingerprint, n_partitions,
               wall_sec, time.time()]
        table = pa.Table.from_pylist([dict(zip(_ARROW_SCHEMA.names, row))], schema=_ARROW_SCHEMA)
        os.makedirs(self.path, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.path, "." + name)
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(self.path, name))

    def summary(self) -> DataFrame:
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.path)


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
    atomically, log lineage per unit.

    The write is each unit's only Spark action: its row count and
    fingerprint (equal to `dataset_fingerprint` of the written output)
    are observed during the write, and the logged `n_partitions` is the
    number of `part-*` files it produced."""
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
        obs = Observation()
        df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("fp"),
        ).write.mode("overwrite").parquet(tmp)
        seen = obs.get
        n, fp = int(seen["n"]), int(seen["fp"] or 0)
        nparts = sum(f.startswith("part-") for f in os.listdir(tmp))
        if os.path.exists(final_path):
            shutil.rmtree(final_path)
        os.replace(tmp, final_path)
        log.record(stage, unit, n, fp, nparts, time.time() - t0)
        ran.append(unit)
        total_rows += n
    return StageResult(stage, ran, skipped, total_rows)
