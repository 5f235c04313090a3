import os
import uuid

import pytest

from datatools_spark.session import get_spark


def pytest_sessionstart(session):
    # feed the box's bandwidth time series (bench/history/membw.jsonl)
    # from every harness run, so "quiet" is established from a series
    # spanning hours rather than one window (r10 VERDICT #1a). ~1.5 s;
    # opt out for tight inner loops via SPARK_GRAFT_NO_MEMBW_LOG=1.
    if os.environ.get("SPARK_GRAFT_NO_MEMBW_LOG") == "1":
        return
    try:
        import importlib.util
        path = os.path.join(os.path.dirname(__file__), "..", "bench.py")
        spec = importlib.util.spec_from_file_location("bench_membw", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        mod.membw_sample("pytest-start")
    except Exception:  # noqa: BLE001 — telemetry only, never fail tests
        pass


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
