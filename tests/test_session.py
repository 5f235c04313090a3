"""The session defaults of ``session.get_spark`` that shape fixed
per-call cost: the codegen class cache and PySpark's call-site
capture."""

import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F

from .conftest import count_commands


def _compiles(spark) -> int:
    """Generated classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_session_keeps_compiled_classes(spark):
    """A second round of the same plans compiles nothing. The round
    compiles more classes than Spark's default cache keeps (100), so
    with that default every class of the first round is evicted before
    the second one reuses it."""
    plans = [spark.range(3).select((F.col("id") * i + 7).alias("y"))
             for i in range(110)]
    rounds = []
    for _ in range(2):
        before = _compiles(spark)
        for df in plans:
            df.collect()
        rounds.append(_compiles(spark) - before)
    assert rounds[0] > 100
    assert rounds[1] == 0


def test_column_building_skips_call_site_capture(spark):
    """Composing a one-expression select is a handful of py4j commands;
    PySpark's call-site capture (on by default) sends 44."""
    def build():
        spark.range(1).select((F.col("id") + 1).alias("y"))
    build()   # the first build also loads JVM classes
    assert len(count_commands(spark, build)[1]) <= 16


def test_runtime_error_keeps_class_and_sqlstate(spark):
    """Without call-site capture an ANSI error keeps its error class and
    SQLSTATE and a DataFrame query context; the context names a JVM
    frame, not this file."""
    key = "spark.sql.ansi.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        with pytest.raises(ArithmeticException) as err:
            spark.range(1).select((F.lit(1) / F.col("id")).alias("q")) \
                .collect()
    finally:
        spark.conf.set(key, prev)
    e = err.value
    assert e.getCondition() == "DIVIDE_BY_ZERO"
    assert e.getSqlState() == "22012"
    (ctx,) = e.getQueryContext()
    assert ctx.fragment() == "divide"
    assert "test_session.py" not in ctx.callSite()
