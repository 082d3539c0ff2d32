"""Kafka source/sink builders — the production wiring for the
streaming operators in `streaming/events.py`.

No broker (or kafka connector jar) ships in this test container, so
these are configuration builders + patterns, exercised only for plan
construction; the fixture-driven tests use the file source instead
(`read_events_stream`). At deploy time the only change is swapping
the source/sink — every transformation in `streaming/events.py` is
source-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_search_spark.streaming import store

EVENTS_JSON_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)


def kafka_events_source(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """events as a Kafka stream: JSON payloads → typed columns.

    Requires the ``spark-sql-kafka-0-10`` package on the classpath.
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return raw.select(
        F.from_json(F.col("value").cast("string"), EVENTS_JSON_SCHEMA).alias("e")
    ).select("e.*")


def exactly_once_parquet_sink(stream_df: DataFrame, path: str, checkpoint: str):
    """foreachBatch sink: idempotent per-epoch parquet writes.

    Each micro-batch lands in ``{path}/epoch={id}`` through the
    ``_SUCCESS``-gated epoch sink of `streaming/store.py`: a replayed
    committed epoch is a no-op and a partial one is swept and
    rewritten, so replays after failure are idempotent — the standard
    exactly-once pattern (MERGE into a transactional table when
    Delta/Iceberg jars are present). Returns the unstarted writer.
    """

    def write_epoch(batch: DataFrame, epoch_id: int) -> None:
        out = store.open_epoch(path, epoch_id)
        if out is not None:
            batch.write.parquet(out)

    return store.foreach_batch(stream_df, write_epoch, checkpoint)
