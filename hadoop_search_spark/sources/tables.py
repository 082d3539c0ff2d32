"""Parquet table loaders for the driver-generated fixtures.

Reference parity: the reference reads its corpus from Hadoop
MapFiles/SequenceFiles (`hadoop_wiki_search/code/corpus/
CorpusSplitMapred.java:99-103`); here every dataset is a Parquet
table read with `spark.read.parquet`, which gives vectorized scans,
predicate pushdown and column pruning for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from hadoop_search_spark.session import forget, memo

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Session-memoized table handle. ``spark.read.parquet`` costs
    ~0.1 s per call even warm (JVM file listing + footer schema read),
    so a 6-table join paid ~0.6 s of plan-BUILD latency per cold
    query — measured as the dominant slice of the r3 cold-sequential
    drift. Handles live in the session memo (``session.memo``, kind
    ``"table"``): least recently used evicted beyond the memo's bound,
    and dropped with every other entry once their session stops. A
    handle is shared: if a caller ``.cache()``s it, the eviction or
    :func:`invalidate` that drops the handle also unpersists it.

    PRECONDITION: the table path must be immutable for the life of the
    session. The memoized handle pins the parquet file listing taken
    at first read; a caller that overwrites a table directory
    mid-session must call :func:`invalidate` on that dir first, or
    later reads serve stale data / fail on deleted files. The fixture
    dirs under /root/testdata are immutable, so catalog queries are
    always safe."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    return memo(spark, "table", (sf_dir, name), lambda: spark.read.parquet(path))


def invalidate(sf_dir: str, name: str | None = None) -> None:
    """Drop memoized handles for ``sf_dir`` (all tables, or just
    ``name``) so the next load_table re-reads the directory. Required
    before re-reading any table whose path was overwritten within the
    current session (see load_table's precondition). A dropped handle
    that a caller cached is unpersisted."""
    forget("table", lambda k: k[0] == sf_dir and (name is None or k[1] == name))


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the events fixture's TIMESTAMP(NANOS) ``ts`` to a
    session-zoned TIMESTAMP, across PySpark versions:

    * ≤4.0 with ``spark.sql.legacy.parquet.nanosAsLong=true``: nanos
      surface as BIGINT → exact integer ``div 1000`` to micros
      (truncation direction matches DuckDB's nanos→micros read);
    * ≥4.1: nanos read natively as TIMESTAMP_NTZ (already truncated to
      micros) → cast through the UTC session zone, which is epoch-
      preserving and bit-equal to DuckDB's zone-naive arithmetic.
    """
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        return df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    if dtype == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def read_events(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """events with ``ts`` as a proper session-zoned timestamp (the
    session must be UTC for oracle parity — see catalog._ensure_utc)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_event_ts(load_table(spark, "events", sf_dir))


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for name in TABLES:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)
