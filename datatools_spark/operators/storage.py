"""Generation commit protocol shared by every at-rest store.

A store keeps its state in numbered generation directories under one
prefix (``gen-000003``, ``kmv-b7``, ``rollup-g12`` …). A generation is
visible to readers only once its MARKER file exists, and the marker is
written last — after every table of the generation has landed — so a
crash at any earlier step leaves a markerless orphan that no reader
resolves. The newest committed generation is the live one. After a
commit, :func:`retire` deletes everything older than the two newest
committed generations: a reader that resolved the previous one just
before the commit (the streaming loops resolve per micro-batch) still
finds it on disk, and the next commit retires it.

This module is the only place that talks to the Hadoop FileSystem API
for the stores. Each store declares its :class:`Layout` (prefix,
marker, zero-pad width) and owns its numbering rule; the on-disk names
are the stores' own and unchanged. :func:`write_generation` is the
write-commit-retire sequence of a one-table generation, and
:func:`fold_keyed` the null-safe keyed merge the stores fold a batch
into their live table with.
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import NamedTuple

from py4j.protocol import Py4JError
from pyspark.errors import AnalysisException, PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["Layout", "GEN", "RETAIN", "fs", "exists", "numbers",
           "listing", "is_committed", "committed", "latest",
           "next_number", "live_dir", "commit", "retire",
           "write_unmarked", "write_generation", "fold_keyed",
           "read_parquet", "is_path_missing"]

RETAIN = 2   # committed generations kept by retire: live + previous

# Spark's job-level _SUCCESS file. write_unmarked suppresses it for
# stores whose marker is a file of that name, so the marker is written
# by commit() — after the store's own checks — and never by Spark.
_MARK_SUCCESS = "mapreduce.fileoutputcommitter.marksuccessfuljobs"


class Layout(NamedTuple):
    prefix: str       # generation dir name = prefix + number
    marker: str       # commit marker file inside a generation dir
    width: int = 0    # zero-pad width of the number (0 = none)

    def dir(self, path: str, n: int) -> str:
        return f"{path}/{self.prefix}{n:0{self.width}d}"


# the signature stores and the IVF index: gen-%06d committed by _COMMIT
GEN = Layout("gen-", "_COMMIT", 6)


def fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path``."""
    jp = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jp.getFileSystem(spark._jsc.hadoopConfiguration()), jp


def exists(spark: SparkSession, path: str) -> bool:
    f, jp = fs(spark, path)
    return f.exists(jp)


def numbers(spark: SparkSession, path: str, layout: Layout) -> list[int]:
    """Sorted numbers of every generation dir under ``path``, committed
    or orphaned. Names whose suffix is not an integer (``kmv-b0.bak``,
    ``gen-tmp`` — operator copies, tooling) are not generations and are
    skipped: a foreign dir must never brick the store."""
    f, jp = fs(spark, path)
    if not f.exists(jp):
        return []
    out = []
    for st in f.listStatus(jp):
        name = st.getPath().getName()
        suffix = name[len(layout.prefix):]
        if (st.isDirectory() and name.startswith(layout.prefix)
                and suffix.isdecimal()):
            out.append(int(suffix))
    return sorted(out)


def listing(spark: SparkSession, *dirs: str) -> tuple:
    """``(path, length, mtime)`` of every file under each of ``dirs``,
    recursively and sorted; a missing dir contributes nothing. A write
    into any of them adds or changes a file, so the listing names the
    state a reader would see (the session memo keys on it)."""
    out = []
    for d in dirs:
        f, jp = fs(spark, d)
        if not f.exists(jp):
            continue
        it = f.listFiles(jp, True)
        while it.hasNext():
            st = it.next()
            out.append((str(st.getPath()), st.getLen(),
                        st.getModificationTime()))
    return tuple(sorted(out))


def is_committed(spark: SparkSession, gen_dir: str, marker: str) -> bool:
    return exists(spark, f"{gen_dir}/{marker}")


def committed(spark: SparkSession, path: str, layout: Layout) -> list[int]:
    """Sorted numbers of the generations readers may resolve."""
    return [n for n in numbers(spark, path, layout)
            if is_committed(spark, layout.dir(path, n), layout.marker)]


def latest(spark: SparkSession, path: str, layout: Layout) -> int | None:
    gens = committed(spark, path, layout)
    return gens[-1] if gens else None


def next_number(spark: SparkSession, path: str, layout: Layout) -> int:
    """One past EVERY generation dir, committed or orphaned — a writer
    using it never writes into a crashed attempt's leftovers."""
    gens = numbers(spark, path, layout)
    return gens[-1] + 1 if gens else 0


def live_dir(spark: SparkSession, path: str, layout: Layout) -> str:
    """The newest committed generation dir. A store with none resolves
    to the dir its first write will create — absent, so reading it
    fails with PATH_NOT_FOUND exactly like reading a missing store."""
    n = latest(spark, path, layout)
    return layout.dir(path, n if n is not None
                      else next_number(spark, path, layout))


def commit(spark: SparkSession, gen_dir: str, marker: str) -> None:
    """The commit point: write the marker that makes ``gen_dir``
    visible. Call it only after every table of the generation landed
    and passed the store's checks."""
    f, jp = fs(spark, f"{gen_dir}/{marker}")
    f.create(jp).close()


def retire(spark: SparkSession, path: str, layout: Layout) -> None:
    """Delete every generation dir older than the ``RETAIN`` newest
    committed ones — superseded generations and orphans of crashed
    attempts below them. A crash mid-retire leaves only garbage the
    next retire removes."""
    gens = numbers(spark, path, layout)
    keep = [n for n in gens if is_committed(
        spark, layout.dir(path, n), layout.marker)][-RETAIN:]
    if len(keep) < RETAIN:
        return
    f, _ = fs(spark, path)
    for n in gens:
        if n < keep[0]:
            f.delete(spark._jvm.org.apache.hadoop.fs.Path(
                layout.dir(path, n)), True)


def write_unmarked(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write ``df`` as parquet at ``path`` without Spark's ``_SUCCESS``
    file (for stores whose :func:`commit` marker carries that name)."""
    df.write.mode(mode).option(_MARK_SUCCESS, "false").parquet(path)


def write_generation(spark: SparkSession, df: DataFrame, path: str,
                     layout: Layout, n: int) -> None:
    """Write ``df`` as generation ``n`` of the store at ``path`` — the
    table unmarked, then its commit marker — and retire the generations
    it supersedes."""
    gen = layout.dir(path, n)
    write_unmarked(df, gen)
    commit(spark, gen, layout.marker)
    retire(spark, path, layout)


def fold_keyed(cur: DataFrame, delta: DataFrame, keys: list[str],
               combine: dict) -> DataFrame:
    """Fold ``delta`` into a keyed store table ``cur``: a full outer
    join on ``keys``, then ``combine[col](old, new)`` for every value
    column (either side is NULL where its table lacks the key). The join
    is null-safe — a NULL key is one group, where plain equality
    (NULL != NULL) would fork it into a new row on every fold. Output:
    ``<keys>, <combine's columns>``."""
    c, d = cur.alias("_cur"), delta.alias("_new")
    on = reduce(operator.and_, [
        F.col(f"_cur.{k}").eqNullSafe(F.col(f"_new.{k}")) for k in keys])
    return c.join(d, on, "full").select(
        *[F.coalesce(F.col(f"_cur.{k}"), F.col(f"_new.{k}")).alias(k)
          for k in keys],
        *[fn(F.col(f"_cur.{v}"), F.col(f"_new.{v}")).alias(v)
          for v, fn in combine.items()])


def _footer_schema(spark: SparkSession, paths: tuple, options: dict):
    """The schema Spark's parquet inference would give ``paths`` under
    the reader ``options``, read on the driver from one footer, or None
    where inference could differ or fail. The files are listed by
    Spark's own ``InMemoryFileIndex`` (its hidden-file and partition
    rules, given the same options), and the file inference would
    read is chosen by Spark's own ``ParquetUtils.splitFiles`` (private,
    so called by reflection) in ``inferSchema``'s order: a
    ``_common_metadata``, a ``_metadata``, else the first data file by
    path. Its footer is converted by Spark's ``readSchema`` under the
    session's type settings. Every step is one call into the JVM, so
    the cost does not grow with the file count. None for:
    ``mergeSchema`` on, a glob, more paths than
    ``spark.sql.sources.parallelPartitionDiscovery.threshold``, partition
    columns, no file (a missing path), or any call that fails. Above that
    threshold Spark lists the paths in a job of one task per path, and
    the reader lists them again, so a second listing would cost more
    than the one-task inference job it replaces."""
    threshold = int(spark.conf.get(
        "spark.sql.sources.parallelPartitionDiscovery.threshold", "32"))
    if (spark.conf.get("spark.sql.parquet.mergeSchema", "false").lower()
            == "true" or len(paths) > threshold
            or any(c in p for p in paths for c in "*?[{")):
        return None
    jvm, jss = spark._jvm, spark._jsparkSession
    gw = spark.sparkContext._gateway
    ds = jvm.org.apache.spark.sql.execution.datasources
    try:
        none = jvm.scala.Option.empty()
        index = ds.InMemoryFileIndex(
            jss, jvm.PythonUtils.toSeq(
                [jvm.org.apache.hadoop.fs.Path(p) for p in paths]),
            jvm.PythonUtils.toScalaMap(options), none,
            getattr(getattr(ds, "NoopCache$"), "MODULE$"), none, none)
        if not index.partitionSchema().isEmpty():
            return None
        utils = getattr(getattr(ds.parquet, "ParquetUtils$"), "MODULE$")
        arg_types = gw.new_array(jvm.java.lang.Class, 1)
        arg_types[0] = jvm.java.lang.Class.forName(
            "scala.collection.immutable.Seq")
        split = utils.getClass().getDeclaredMethod("splitFiles", arg_types)
        split.setAccessible(True)
        args = gw.new_array(jvm.java.lang.Object, 1)
        args[0] = index.allFiles()
        kinds = split.invoke(utils, args)
        first = next((k.head() for k in (kinds.commonMetadata(),
                                          kinds.metadata(), kinds.data())
                      if k.nonEmpty()), None)
        if first is None:
            return None
        pff = getattr(getattr(ds.parquet, "ParquetFileFormat$"), "MODULE$")
        ignore = spark.conf.get("spark.sql.files.ignoreCorruptFiles",
                                "false").lower() == "true"
        footers = pff.readParquetFootersInParallel(
            jss.sessionState().newHadoopConf(),
            jvm.PythonUtils.toSeq([first]), ignore)
        schema = pff.readSchema(footers, jss)
    except (Py4JError, PySparkException):   # Spark's own read raises it
        return None
    if schema.isEmpty():
        return None
    from pyspark.sql.types import _parse_datatype_json_string
    return _parse_datatype_json_string(schema.get().json())


def read_parquet(spark: SparkSession, *paths: str,
                 base_path: str | None = None) -> DataFrame:
    """``spark.read.parquet(*paths)`` without the schema-inference job:
    the schema comes from one footer read on the driver (see
    :func:`_footer_schema`) and is handed to the reader. Where it cannot
    be, this is the plain inferring read, so every error is Spark's.
    ``base_path`` is the reader's ``basePath`` option (the table root of
    leaf-file paths, so that hive partition columns are kept): a flat
    table still takes the footer path, a partitioned one Spark's read."""
    options = {"basePath": base_path} if base_path else {}
    schema = _footer_schema(spark, paths, options)
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*paths)


def is_path_missing(exc: AnalysisException) -> bool:
    """True only for the path-does-not-exist flavor of AnalysisException.
    Everything else it can carry — an empty or partially written
    generation ('Unable to infer schema'), a table missing the id
    column, permission failures — must PROPAGATE: silently treating
    those as a first write would skip the anti-join and append
    duplicate or foreign rows."""
    try:
        if exc.getCondition() == "PATH_NOT_FOUND":
            return True
    except Exception:  # noqa: BLE001 — condition absent on older forms
        pass
    msg = str(exc)
    return "PATH_NOT_FOUND" in msg or "Path does not exist" in msg
