import uuid

import pytest

from datatools_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("datatools-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def count_jobs(spark, fn):
    """Run ``fn()`` in a fresh job group and return ``(value, n_jobs)``,
    the number of Spark jobs it launched. The group is cleared even
    when ``fn`` raises."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        value = fn()
    finally:
        sc.setJobGroup(None, None)
    return value, len(sc.statusTracker().getJobIdsForGroup(group))
