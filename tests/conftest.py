import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jena_fuseki_kafka_spark.session import build_session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="jfk-spark-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture()
def count_jobs(spark):
    """count_jobs(fn) -> (number of Spark jobs fn launched, fn's result).
    The jobs are tagged with a fresh job group and counted by job id once
    the listener bus has caught up, so none is missed."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = "count-jobs-" + uuid.uuid4().hex
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    return run
