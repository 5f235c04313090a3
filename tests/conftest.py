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


def count_commands(spark, fn):
    """Run ``fn()`` and return ``(value, commands)``: the py4j command
    texts it sent, without py4j's deletes of collected proxies (``m``,
    sent at GC time). A call command's third line is the method name
    (see :func:`method_calls`). The client is restored even when ``fn``
    raises."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting(cmd, *args, **kwargs):
        sent.append(cmd)
        return send(cmd, *args, **kwargs)
    client.send_command = counting
    try:
        value = fn()
    finally:
        client.send_command = send
    return value, [c for c in sent if c.split("\n", 1)[0] != "m"]


def method_calls(commands, name: str) -> int:
    """How many of ``commands`` call a JVM method named ``name``."""
    return sum(c.split("\n")[2:3] == [name] for c in commands
               if c.startswith("c\n"))
