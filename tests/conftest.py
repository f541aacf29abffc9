import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from imcs_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark("imcs-spark-tests", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def assert_seq(df, expected, col="val", rel=1e-6):
    """Collect a (pos, col) series frame ordered by pos and compare."""
    rows = [r[col] for r in df.orderBy("pos").select(col).collect()]
    assert len(rows) == len(expected), f"{rows} vs {expected}"
    for got, want in zip(rows, expected):
        if isinstance(want, float):
            assert got == pytest.approx(want, rel=rel), f"{rows} vs {expected}"
        else:
            assert got == want, f"{rows} vs {expected}"


def completed_tasks(spark, action, group="completed-tasks"):
    """Run ``action()`` under a fresh job group and return the number of
    tasks that ran to completion in its jobs (a stage that Spark skips
    because its shuffle output already exists contributes none)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setJobGroup("", "")
    st = sc.statusTracker()
    n = 0
    for j in st.getJobIdsForGroup(group):
        info = st.getJobInfo(j)
        for s in info.stageIds if info is not None else ():
            sinfo = st.getStageInfo(s)
            n += sinfo.numCompletedTasks if sinfo is not None else 0
    return n


def persisted_rdd_ids(spark):
    """Ids of the RDDs persisted right now. Compare id sets, not counts:
    the context cleaner may unpersist other tests' collected frames
    while a test runs, which shifts a count either way."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())
