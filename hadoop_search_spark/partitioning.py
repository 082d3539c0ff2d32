"""Partitioning utilities.

``spread`` fixes the small-file/CPU-bound mismatch: a 2 MB parquet
file plans as ONE input partition, so an explode/hash-heavy pipeline
(tokenization, shingling, stemming) runs single-threaded no matter
how many cores exist. Repartitioning the *row* stream (cheap — rows
are small) before the CPU-heavy expressions restores full
parallelism.

At 100 TB the input already has more splits than cores, so ``spread``
is a no-op — it only forces a shuffle when the scan is narrower than
the cluster, which is exactly when that shuffle is nearly free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from hadoop_search_spark.session import memo

_SIZE_SUFFIXES = {
    "k": 10, "kb": 10,
    "m": 20, "mb": 20,
    "g": 30, "gb": 30,
    "t": 40, "tb": 40,
    "b": 0, "": 0,
}


def _parse_bytes(raw: str) -> int:
    """Spark byte-string (``134217728``, ``128m``, ``1g``, ``512kb``…)
    → bytes; falls back to the 128 MB default on anything unparseable."""
    s = raw.strip().lower()
    num = s.rstrip("kmgtb")
    shift = _SIZE_SUFFIXES.get(s[len(num):])
    try:
        if shift is None:
            raise ValueError(s)
        return int(num) << shift
    except ValueError:
        return 128 << 20


def _estimated_scan_partitions(df: DataFrame) -> int:
    """Estimate how many input partitions the scan under ``df`` plans,
    WITHOUT forcing a physical plan (``df.rdd`` costs a full plan
    translation per call — measurable on hot construction paths).

    ``inputFiles()`` reads the already-cached file index off the
    analyzed plan. Split count is at least the file count; for local
    files (the test/bench fixtures) large files are credited with
    ``size / maxPartitionBytes`` splits, matching Spark's file
    partitioning. Non-file frames return -1 ("no scan under this
    plan") — callers fall back to the physical partition count.
    """
    try:
        files = df.inputFiles()
    except Exception:
        return -1
    if not files:
        return -1
    max_bytes = _parse_bytes(
        df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    # memoized per session (kind "split"): the same fixture tables are
    # scanned by many operators, and the estimate is a pure function of
    # the file set and the split conf. (A file overwritten in place with
    # a different size would go stale — fixture files are immutable
    # within a session, and a wrong estimate only mis-sizes one
    # repartition decision.)
    return memo(
        df.sparkSession,
        "split",
        (frozenset(files), max_bytes),
        lambda: sum(_file_splits(f, max_bytes) for f in files),
    )


def _file_splits(f: str, max_bytes: int) -> int:
    if f.startswith("file:"):
        try:
            return max(1, -(-os.path.getsize(f.removeprefix("file:")) // max_bytes))
        except OSError:
            pass
    return 1


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition up to ``defaultParallelism`` iff the frame plans
    fewer partitions than cores; otherwise return unchanged."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    est = _estimated_scan_partitions(df)
    if est < 0:
        # in-memory / non-file frame: no file index to estimate from —
        # pay the one-off physical translation rather than forcing an
        # unconditional shuffle on an already-wide frame
        est = df.rdd.getNumPartitions()
    if est >= target:
        return df
    return df.repartition(target, *cols) if cols else df.repartition(target)
