import os
import sys
import time

import pytest

# the checkout under test, so __spark_entry__, bench and tools.* import
# from this tree whatever the working directory
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

import vastdb_sdk_spark as vastdb  # noqa: E402
from vastdb_sdk_spark.config import EngineConfig  # noqa: E402
from vastdb_sdk_spark.session import build_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    return build_spark(EngineConfig(shuffle_partitions=8), app_name="vastdb_tests")


@pytest.fixture()
def spark_jobs(spark):
    """``spark_jobs(action)``: the number of Spark jobs ``action()`` runs,
    and what it returns."""
    sc = spark.sparkContext

    def count(action):
        group = f"jobs-{time.time_ns()}"
        sc.setJobGroup(group, group)
        try:
            out = action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    return count


@pytest.fixture()
def session(spark, tmp_path):
    s = vastdb.connect(str(tmp_path / "warehouse"), spark=spark)
    s.create_bucket("bkt")
    return s


@pytest.fixture()
def clean_schema(session):
    """A fresh schema in a fresh warehouse per test (reference tests start
    from a wiped bucket, vastdb/conftest.py:107-123)."""
    with session.transaction() as tx:
        tx.bucket("bkt").create_schema("s")
    return session
