import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from tile_grid_spark.plans.session import build_session

    s = build_session(
        app_name="tgs-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "4g"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("TGS_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def count_jobs(spark):
    """count_jobs(fn) -> (fn(), the number of Spark jobs fn launched),
    counted under a job group fn runs in."""
    sc = spark.sparkContext
    ids = itertools.count()

    def run(fn):
        group = f"count-jobs-{next(ids)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status store fills from the listener bus, after the action
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
