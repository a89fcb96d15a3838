"""Crash-resume proof for the e2e pipeline's shuffle-bearing stages.

r2 VERDICT item 5: lineage resume was only exercised on narrow map-side
stages (assign/stats/raster); the shapes that matter at 100 TB are the
multi-input SHUFFLE stages. run_pipeline(stop_after='pip') simulates a
crash right after the PIP join; the second run must skip everything
already complete — including the pip stage, byte-identical output — and
run only the stages after the crash point.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))

from run_pipeline import run_pipeline  # noqa: E402


@pytest.fixture(scope="module")
def crash_then_resume(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe"))
    first = run_pipeline(
        spark, out, rows=1500, zooms=list(range(0, 5)), stop_after="pip",
        verbose=False,
    )
    # snapshot the pip output files as written by run 1
    pip_dir = os.path.join(out, "pip", "unit=z4")
    snapshot = {
        f: os.path.getmtime(os.path.join(pip_dir, f))
        for f in os.listdir(pip_dir)
        if f.endswith(".parquet")
    }
    second = run_pipeline(
        spark, out, rows=1500, zooms=list(range(0, 5)), verbose=False
    )
    return out, first, second, pip_dir, snapshot


class TestPipelineResume:
    def test_crash_run_stops_after_pip(self, crash_then_resume):
        _, first, _, _, _ = crash_then_resume
        assert set(first) == {
            "ingest", "assign", "stats", "hotspot", "pyramid", "sketches",
            "polys", "pip",
        }
        assert first["pip"].ran_units == ["z4"]
        assert first["pip"].rows > 0  # the join genuinely produced matches

    def test_resume_skips_completed_shuffle_stages(self, crash_then_resume):
        _, _, second, _, _ = crash_then_resume
        # everything up to and including the crash point resumes as skip
        for stage in ("ingest", "stats", "hotspot", "pyramid", "sketches", "polys", "pip"):
            assert second[stage].ran_units == [], stage
            assert second[stage].skipped_units, stage
        assert second["assign"].ran_units == []
        # the stages after the crash point actually run
        assert second["dedup"].ran_units == ["captions"]
        assert second["cluster"].ran_units == ["components"]
        assert second["export"].ran_units == ["shards"]
        assert set(second["raster"].ran_units) == {"z4", "fp-z4"}
        assert second["dedup"].rows > 0  # caption near-dups exist by design
        # every image got a component verdict (iterative CC through lineage)
        assert second["cluster"].rows == 1500
        # the serving leg (images -> served MVT tiles) ran to completion
        assert second["mvt"].ran_units == ["z4"]
        assert set(second["mvt_pyramid"].ran_units) == {"z1", "z2", "z3"}
        assert second["mvt"].rows > 0 and second["mvt_pyramid"].rows > 0

    def test_third_run_skips_serving_leg(self, crash_then_resume, spark, count_jobs):
        # the flagship story is ONE resumable job through to served
        # tiles: a rerun after full completion must skip the MVT encode
        # and pyramid rollup byte-identically, like every other stage
        out, _, _, _, _ = crash_then_resume
        mvt_dir = os.path.join(out, "mvt", "unit=z4")
        snapshot = {
            f: os.path.getmtime(os.path.join(mvt_dir, f))
            for f in os.listdir(mvt_dir)
            if f.endswith(".parquet")
        }
        third, jobs = count_jobs(
            lambda: run_pipeline(
                spark, out, rows=1500, zooms=list(range(0, 5)), verbose=False
            )
        )
        # the lineage log is read on the driver: the only jobs left are
        # the eager schema reads of the ingest and assign outputs
        assert jobs <= 2, jobs
        assert third["mvt"].ran_units == []
        assert third["mvt"].skipped_units == ["z4"]
        assert third["mvt_pyramid"].ran_units == []
        assert set(third["mvt_pyramid"].skipped_units) == {"z1", "z2", "z3"}
        now = {
            f: os.path.getmtime(os.path.join(mvt_dir, f))
            for f in os.listdir(mvt_dir)
            if f.endswith(".parquet")
        }
        assert now == snapshot
        # and the served artifact is real MVT: decode the stored binaries
        from tile_grid_spark.operators.vector_tiles import decode_tile_stats

        tiles = spark.read.parquet(mvt_dir)
        stats = decode_tile_stats(tiles)
        assert stats.count() == tiles.count()

    def test_pip_output_not_recomputed(self, crash_then_resume):
        _, _, _, pip_dir, snapshot = crash_then_resume
        now = {
            f: os.path.getmtime(os.path.join(pip_dir, f))
            for f in os.listdir(pip_dir)
            if f.endswith(".parquet")
        }
        assert now == snapshot  # byte-level untouched, not rewritten-equal

    def test_lineage_has_single_complete_row_per_unit(self, crash_then_resume):
        out, _, second, _, _ = crash_then_resume
        lg = second["_log"].summary()
        from pyspark.sql import functions as F

        dup = (
            lg.filter(F.col("status") == "complete")
            .groupBy("stage", "unit")
            .count()
            .filter(F.col("count") > 1)
            .collect()
        )
        assert dup == [], dup

    def test_lineage_fingerprints_match_read_back(self, crash_then_resume, spark):
        # the (row_count, fingerprint) observed during each unit's write is
        # the one an independent pass over the written output computes
        out, _, second, _, _ = crash_then_resume
        from tile_grid_spark.plans.lineage import dataset_fingerprint

        rows = second["_log"].summary().collect()
        assert len(rows) == 21
        for r in rows:
            back = spark.read.parquet(os.path.join(out, r.stage, f"unit={r.unit}"))
            assert (r.row_count, r.fingerprint) == dataset_fingerprint(back)[:2], (r.stage, r.unit)
