"""Layout-aware parquet sinks (SURVEY §4: 'sort-aware file layout:
partition by station, sort by ts within files; min/max pruning via
parquet row-group stats').

The reference relies on a sorted DatetimeIndex for O(log n) slicing
(gpstools.py:583-584 etc.); the lakehouse equivalent is layout at rest:

- hive-partition by the series key (station/event_type/date) → partition
  pruning turns key predicates into directory pruning;
- sort by ts within files → parquet row-group min/max stats prune time
  predicates inside each file;
- ``target_file_rows`` bounds file sizes so a 1000-executor scan gets
  even splits.

``name_file`` (S13 gpstools.py:617-637 naming convention) lives in
sources/neu.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

__all__ = ["write_bucketed_table",
           "write_corpus", "read_corpus"]


def write_bucketed_table(df: DataFrame, table: str,
                         bucket_by: str, num_buckets: int = 32,
                         sort_by: Sequence[str] = ("ts",),
                         mode: str = "overwrite") -> None:
    """Bucketed managed table: co-locates both sides of repeated equi-joins
    on ``bucket_by`` so the join runs shuffle-free (the 100 TB path for
    fact-fact joins the star-schema broadcast can't cover).
    """
    writer = df.write.mode(mode).bucketBy(num_buckets, bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)


_FORMATS = {"parquet", "orc", "json", "csv"}


def write_corpus(df: DataFrame, path: str, fmt: str = "parquet",
                 partition_by: Sequence[str] = (),
                 compression: str | None = None) -> None:
    """Format-matrix corpus sink: parquet (columnar + stats, the
    default), ORC (columnar alternative, same pruning story), JSON
    lines / CSV (interchange; splittable when uncompressed). One writer
    per export contract so downstream consumers pick their format
    without bespoke code paths.

    Columnar formats keep row-group stats pruning; JSON/CSV lose types
    and stats — the docstring-level warning IS the guidance: use them
    for interchange exports, never as the analytical store.
    """
    if fmt not in _FORMATS:
        raise ValueError(f"fmt must be one of {sorted(_FORMATS)}, got {fmt}")
    w = df.write.mode("overwrite").format(fmt)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if compression is not None:
        w = w.option("compression", compression)
    if fmt == "csv":
        # header keeps the file self-describing; timestamps serialized
        # ISO so a re-read with an explicit schema round-trips
        w = w.option("header", "true")
    w.save(path)


def read_corpus(spark, path: str, fmt: str = "parquet", schema=None):
    """Counterpart reader. For JSON/CSV an EXPLICIT schema is required
    (schema inference is a full extra pass over the data at 100 TB and
    silently widens types); columnar formats carry their own."""
    r = spark.read.format(fmt)
    if schema is not None:
        # honored for EVERY format: the old code applied it only on the
        # json/csv branch, silently discarding an explicit schema for
        # parquet/orc (where a caller passes one precisely to pin types
        # against evolved/widened files)
        r = r.schema(schema)
    if fmt in ("json", "csv"):
        if schema is None:
            raise ValueError(f"{fmt} read requires an explicit schema "
                             "(inference is a full extra scan)")
        if fmt == "csv":
            r = r.option("header", "true")
    return r.load(path)
