"""Lineage log on the driver: job budget, crash leftovers, older logs."""

import os

from pyspark.sql import functions as F

from tile_grid_spark.plans.lineage import LINEAGE_SCHEMA, LineageLog, run_stage


def _unit(spark):
    return spark.range(1000).groupBy((F.col("id") % 7).alias("k")).agg(F.count("*").alias("n"))


def test_fresh_unit_costs_only_its_write(spark, tmp_path, count_jobs):
    # the unit's row count and fingerprint are observed during the write:
    # no read-back, no fingerprint pass, no Spark job for the lineage log
    _, write_jobs = count_jobs(lambda: _unit(spark).write.parquet(str(tmp_path / "plain")))
    log = LineageLog(spark, str(tmp_path / "pipe"))
    r, stage_jobs = count_jobs(lambda: run_stage(spark, log, "s", ["a"], lambda u: _unit(spark)))
    assert r.ran_units == ["a"] and r.rows == 7
    assert stage_jobs == write_jobs
    _, resume_jobs = count_jobs(lambda: run_stage(spark, log, "s", ["a"], lambda u: _unit(spark)))
    assert resume_jobs == 0


def test_crashed_first_append_leaves_log_resumable(spark, tmp_path):
    # a kill during Spark's append commit leaves only _temporary/ behind;
    # that log has no part file, so nothing is complete yet
    root = str(tmp_path / "pipe")
    log = LineageLog(spark, root)
    os.makedirs(os.path.join(log.path, "_temporary", "0"))
    assert log.completed_units("s") == set()
    r1 = run_stage(spark, log, "s", ["a"], lambda u: spark.range(5))
    assert r1.ran_units == ["a"]
    r2 = run_stage(spark, log, "s", ["a"], lambda u: spark.range(5))
    assert r2.skipped_units == ["a"]
    assert [(r.unit, r.row_count) for r in log.summary().collect()] == [("a", 5)]


def test_reads_log_appended_by_spark(spark, tmp_path):
    # a log written with Spark's append (with _SUCCESS and .crc sidecars)
    # resumes, and rows appended next to it read back with one schema
    root = str(tmp_path / "pipe")
    log = LineageLog(spark, root)
    spark.range(3).write.parquet(os.path.join(root, "s", "unit=old"))
    old = [("s", "old", "complete", 3, 11, 2, 0.5, 1.0)]
    spark.createDataFrame(old, LINEAGE_SCHEMA).write.mode("append").parquet(log.path)
    assert any(f.endswith(".crc") for f in os.listdir(log.path))
    assert "_SUCCESS" in os.listdir(log.path)

    def build(unit):
        assert unit == "new", unit
        return spark.range(4)

    r = run_stage(spark, log, "s", ["old", "new"], build)
    assert r.skipped_units == ["old"] and r.ran_units == ["new"]
    want = spark.createDataFrame([], LINEAGE_SCHEMA).schema
    for name in os.listdir(log.path):  # each file's own types, as Spark infers them
        if not name.startswith((".", "_")):
            inferred = spark.read.parquet(os.path.join(log.path, name)).schema
            assert [f.dataType for f in inferred] == [f.dataType for f in want], name
    rows = {r.unit: r for r in log.summary().collect()}
    assert tuple(rows["old"]) == old[0]
    assert rows["new"].row_count == 4 and rows["new"].status == "complete"
