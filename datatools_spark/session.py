"""SparkSession factory for datatools_spark.

Centralizes the engine's session configuration so every entry point —
tests, bench, the driver's ``__spark_entry__`` — runs with the same
scale-oriented defaults:

- AQE on (runtime re-planning: coalesced shuffles, skew-join splitting,
  broadcast demotion/promotion) — required at 100 TB where static stats lie.
- ``spark.sql.session.timeZone=UTC`` — the reference strips/normalizes tz
  (gpstools.py:698, diurnal.py:233-234); we pin UTC so timestamp semantics
  are deterministic across engines (DuckDB oracle reads naive timestamps).
- Arrow enabled for the few pandas-interop boundaries (multimodal UDFs,
  ``toPandas`` at viz sinks) — never on the parity hot path. Driver-side
  rows become frames through :func:`local_frame`, an Arrow-built
  ``LocalRelation``.
- ``shuffle.partitions`` defaults sized for local test runs; on a real
  cluster AQE coalescing makes the static number mostly irrelevant.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

__all__ = ["get_spark", "ship_package_to_workers", "local_frame",
           "DEFAULT_SHUFFLE_PARTITIONS"]

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def ship_package_to_workers(spark: SparkSession) -> None:
    """Make ``datatools_spark`` importable on Python WORKERS.

    mapInPandas/pandas-UDF closures defined inside this package reference
    module-level helpers; cloudpickle serializes those by module
    reference, so the worker process must be able to import
    ``datatools_spark`` itself. When the driver script happens to run
    from the repo root, the workers inherit cwd on sys.path and it works
    by accident; from any other cwd (the grading driver, a spark-submit
    on a cluster) every UDF task dies with ModuleNotFoundError. Shipping
    the package via ``addPyFile`` (a zip built once per process into the
    session's temp space) makes worker imports cwd-independent —
    idempotent and cheap, so every query entry point calls it.
    """
    sc = spark.sparkContext
    if getattr(sc, "_datatools_shipped", False):
        return
    import tempfile
    import zipfile
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(tempfile.mkdtemp(prefix="datatools_pyfiles_"),
                         "datatools_spark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                arc = os.path.join("datatools_spark",
                                   os.path.relpath(full, pkg_dir))
                z.write(full, arc)
    sc.addPyFile(zpath)
    sc._datatools_shipped = True


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A frame of driver-side ``rows`` (tuples in ``schema``'s field
    order; ``schema`` a DDL string or StructType), built through an
    Arrow table so its plan is a ``LocalRelation``. A Python list given
    to ``createDataFrame`` becomes an RDD of pickled rows instead, and
    every action on it starts Python-worker tasks. Naive datetimes are
    read as local time, as ``createDataFrame`` reads them (and passed to
    Arrow in UTC, the one zone it converts from correctly)."""
    from datetime import timezone

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import TimestampType, _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    arrays = []
    for col, field in zip(cols, schema.fields):
        if isinstance(field.dataType, TimestampType):
            col = [None if v is None else v.astimezone(timezone.utc)
                   for v in col]
        arrays.append(pa.array(col, type=to_arrow_type(field.dataType)))
    return spark.createDataFrame(pa.table(arrays, names=schema.names),
                                 schema)


def get_spark(app_name: str = "datatools-spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    Parameters
    ----------
    master:
        Defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) when no
        active session/master is configured. On a cluster, leave ``None``
        and let spark-submit supply the master.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        # Parquet scans: vectorized reader + pushdown are on by default;
        # keep file split size at default 128m — right for the 100 TB target.
        .config("spark.sql.parquet.filterPushdown", "true")
        # driver testdata writes TIMESTAMP(NANOS) parquet, which Spark's
        # reader rejects; read as long and convert (see queries._t)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
    )
    if master is not None:
        builder = builder.master(master)
    elif os.environ.get("SPARK_MASTER"):
        # honor the env URL (the old code read it only as a boolean:
        # set → NO master at all, getOrCreate failed with 'A master URL
        # must be set')
        builder = builder.master(os.environ["SPARK_MASTER"])
    elif "PYSPARK_GATEWAY_PORT" not in os.environ:
        # local default ONLY when no pre-started JVM gateway exists:
        # under spark-submit the Python process attaches to a gateway
        # that already carries the submitted master (the env var is how
        # PySpark finds it), and forcing local[N] there would pull a
        # cluster job onto the driver
        builder = builder.master(f"local[{cpus}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package_to_workers(spark)
    return spark
