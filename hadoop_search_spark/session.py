"""SparkSession factory tuned for the local[N] test harness, and the
session state that outlives one query (:func:`memo`, :func:`forget`).

The configuration is chosen for correctness-at-scale first:

* AQE on (runtime coalescing, skew-join splitting) — on a real
  1000-executor cluster the same plans re-partition themselves at
  runtime instead of relying on a static ``shuffle.partitions``.
* ``spark.sql.session.timeZone=UTC`` so timestamp semantics match the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
* Arrow enabled — every Pandas UDF / ``applyInPandas`` path transfers
  columnar batches, not pickled rows.
"""

from __future__ import annotations

import os
import shutil
import threading
from concurrent.futures import Future
from typing import Any, Callable, Hashable

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "hadoop_search_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession.

    ``shuffle.partitions`` defaults to the core count: at local scale a
    200-way shuffle is pure overhead, and on a real cluster AQE
    coalesces to the right width anyway.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# ---- session state ----------------------------------------------------
#
# Every value that outlives one query -- table handles, built engines,
# frozen ANN models, expression trees, split estimates -- lives in this
# one memo: {(applicationId, kind): {key: (fingerprint, Future)}}, each
# shelf in least-recently-used order. applicationId is unique per
# SparkContext lifetime, and two live contexts cannot coexist in one
# process, so a shelf whose applicationId is not the live one belongs
# to a stopped context: it is dropped (and its temp directories
# removed) at the next access of any kind.

# Entries kept per kind. The largest shelves one default test run (one
# session) fills are 35 ``model``, 14 ``table``, 9 ``split``, 5
# ``engine`` and 3 ``exprs`` entries, so no reuse in use becomes a miss.
_MEMO_BOUND = 256

_MEMO: dict[tuple[str | None, str], dict] = {}
_MEMO_LOCK = threading.Lock()


class TempDir(str):
    """A directory path whose memo entry owns the directory: releasing
    the entry removes it."""


def _release(entries) -> None:
    """Free what built entries hold, items of a tuple included: a
    :class:`TempDir` is removed, and a persisted DataFrame of a live
    context is unpersisted (a stopped context's cache went with it)."""
    for _, f in entries:
        value = f.result() if f.done() and not f.exception() else None
        for v in value if type(value) is tuple else (value,):
            if isinstance(v, TempDir):
                shutil.rmtree(v, ignore_errors=True)
            elif isinstance(v, DataFrame) and v.is_cached:
                if v.sparkSession.sparkContext._jsc is not None:
                    v.unpersist()


def _shelf(spark: SparkSession | None, kind: str, gone: list) -> dict:
    """The ``kind`` shelf of the live application (``spark`` None: the
    active context's), after unlinking every shelf of another
    application into ``gone``; caller holds the lock."""
    sc = spark.sparkContext if spark is not None else SparkContext._active_spark_context
    app = sc and sc.applicationId
    for k in [k for k in _MEMO if k[0] != app]:
        gone.extend(_MEMO.pop(k).values())
    return _MEMO.setdefault((app, kind), {})


def memo(spark, kind: str, key: Hashable, build: Callable[[], Any], fingerprint=None):
    """The session's value for ``(kind, key)`` (``spark`` None: the
    active context's), built by ``build()`` at most once per live
    application, even when cold callers arrive together; builds of
    different keys run concurrently. An entry whose ``fingerprint``
    differs from the caller's is stale: it is released and rebuilt.
    Beyond ``_MEMO_BOUND`` entries of a kind the least recently used
    built one is released. A failed build caches nothing and raises in
    every caller waiting on it."""
    gone: list = []
    with _MEMO_LOCK:
        shelf = _shelf(spark, kind, gone)
        entry = shelf.pop(key, None)
        owner = entry is None or entry[0] != fingerprint
        if owner:
            gone += [entry] if entry else []
            entry = (fingerprint, Future())
        shelf[key] = entry
        if len(shelf) > _MEMO_BOUND:
            built = [k for k, e in shelf.items() if e[1].done()]
            gone += [shelf.pop(k) for k in built[: len(shelf) - _MEMO_BOUND]]
    _release(gone)
    if owner:
        try:
            entry[1].set_result(build())
        except BaseException as exc:
            with _MEMO_LOCK:
                if shelf.get(key) is entry:
                    del shelf[key]
            entry[1].set_exception(exc)
            raise
    return entry[1].result()


def forget(kind: str, match: Callable[[Hashable], bool]) -> None:
    """Drop and release every ``kind`` entry whose key ``match``es (the
    invalidation a caller owes the memo after rewriting what an entry
    was built from)."""
    gone: list = []
    with _MEMO_LOCK:
        shelf = _shelf(None, kind, gone)
        gone += [shelf.pop(k) for k in [k for k in shelf if match(k)]]
    _release(gone)
