from __future__ import annotations

import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from homelogging_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("homelogging-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def jobs_started(spark):
    """``jobs_started(fn) -> (fn(), n)``: n is the number of Spark jobs
    ``fn`` started, counted under a job group of its own."""
    sc = spark.sparkContext
    ids = itertools.count()

    def run(fn):
        group = f"jobs-started-{next(ids)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status tracker is fed by the asynchronous listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def own_sf_dir(tmp_path):
    """A private copy of the test tables that a test may rewrite. The
    fixtures built for it under spark-warehouse are removed afterwards."""
    import glob
    import shutil

    from homelogging_spark.tables import _fixture_path

    out = tmp_path / "sf"
    shutil.copytree(SF_DIR, out)
    yield str(out)
    pattern = _fixture_path(str(out), "*")
    for path in glob.glob(pattern) + glob.glob(pattern + ".*"):
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        else:
            os.remove(path)


@pytest.fixture
def shrink_events():
    """``shrink_events(sf_dir)`` replaces the events table of a private
    sf dir by a new file holding its first half of rows."""

    def run(sf_dir):
        import pyarrow.parquet as pq

        path = os.path.join(sf_dir, "events.parquet")
        table = pq.read_table(path)
        pq.write_table(table.slice(0, table.num_rows // 2), path + ".new")
        os.replace(path + ".new", path)

    return run
