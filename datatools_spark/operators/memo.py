"""Session memo: one materialized read shared between calls.

Several operators start from the same expensive read: the image
signature store's projection, the component store's members and
merge-log closure, the shingle posting index of a corpus. Each builds
that read once and keeps it here, keyed on WHAT WAS READ — a store's
live generation dir plus its file listing, a corpus plan's semantic
hash plus its input files. A write changes the listing, an overwritten
corpus changes its input files, so a key can never name a stale read;
the caller holds no handle and applies no invalidation rule.

Every key is qualified by the Spark application id: values are
localCheckpointed frames whose blocks die with the session, so nothing
is ever served across sessions. Entries past ``CAP`` are dropped least
recently used first; the dropped checkpoint blocks free on GC. A lock
guards the entries (streaming foreachBatch calls arrive on their own
thread); a build runs outside it.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from typing import Any, Callable, Hashable

from pyspark.sql import SparkSession

__all__ = ["get", "put", "clear", "CAP"]

CAP = 8

_ENTRIES: OrderedDict = OrderedDict()
_LOCK = threading.Lock()


def _qualify(spark: SparkSession, key: Hashable) -> tuple:
    return (spark.sparkContext.applicationId, key)


def get(spark: SparkSession, key: Hashable, build: Callable[[], Any]) -> Any:
    """The value memoized under ``key`` in this session, or ``build()``
    memoized and returned."""
    k = _qualify(spark, key)
    with _LOCK:
        if k in _ENTRIES:
            _ENTRIES.move_to_end(k)
            return _ENTRIES[k]
    return put(spark, key, build())


def put(spark: SparkSession, key: Hashable, value: Any) -> Any:
    """Memoize ``value`` under ``key`` (replacing any entry) and return
    it — for a caller that must take a fresh read whatever is held."""
    k = _qualify(spark, key)
    with _LOCK:
        _ENTRIES[k] = value
        _ENTRIES.move_to_end(k)
        while len(_ENTRIES) > CAP:
            _ENTRIES.popitem(last=False)
    return value


def clear() -> None:
    """Drop every entry."""
    with _LOCK:
        _ENTRIES.clear()
