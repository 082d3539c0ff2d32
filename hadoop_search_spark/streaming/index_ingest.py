"""Streaming index maintenance — continuous corpus ingestion feeding
the incremental index path (`operators/index.py:merge_index`).

The reference's index is a batch artifact rebuilt from scratch
(SURVEY.md §3.2); here a document stream keeps the published index
current: each micro-batch tokenizes only its own documents, merges
their (term, doc_id, tf, positions) rows with the published index,
rescores df/idf over the union, and atomically republishes.

Each epoch publishes ``v{epoch_id}`` through the versioned-store
protocol of `streaming/store.py`; readers follow the pointer.

At scale the same loop runs against Kafka (`streaming/kafka.py`) with
the publish step writing to a transactional table format instead of
a pointer file.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from hadoop_search_spark.operators.index import (
    NUM_INDEX_PARTITIONS,
    merge_index,
    rescore,
    term_doc_stats,
    vocab_stats,
    write_index,
)
from hadoop_search_spark.streaming import store

DOCS_SCHEMA = "doc_id BIGINT, text STRING"


def read_docs_stream(spark: SparkSession, path: str) -> DataFrame:
    """Documents arriving as parquet files in a directory."""
    return spark.readStream.schema(DOCS_SCHEMA).parquet(path)


class StreamingIndexer(store.VersionedStore):
    """Maintains a published index under ``index_root`` from a
    document stream.

    Layout: ``{index_root}/v{epoch}/`` per published version plus a
    ``_CURRENT`` pointer file; ``current_postings()`` reads the live
    version. State (doc count) persists in the published index itself
    (doc ids are distinct across batches by contract)."""

    def __init__(
        self,
        spark: SparkSession,
        index_root: str,
        num_partitions: int = NUM_INDEX_PARTITIONS,
        stem: bool = True,
    ) -> None:
        super().__init__(spark, index_root)
        self.num_partitions = num_partitions
        self.stem = stem

    # -- published-state accessors ------------------------------------

    def current_postings(self) -> DataFrame | None:
        return self._read("postings")

    def current_num_docs(self) -> int:
        path = self._current_path()
        if path is None:
            return 0
        with open(os.path.join(path, "NUM_DOCS")) as f:
            return int(f.read().strip())

    # -- the merge step -----------------------------------------------

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        """foreachBatch body: merge the micro-batch into the index and
        republish.

        Replay-idempotent across both crash windows: if the pointer
        already names this epoch's version, the publish completed
        before the crash and the replay is a no-op (re-merging would
        double the batch AND overwrite the parquet path being read);
        if the version directory exists unpublished, it is a partial
        write from a crash before the pointer flip and is rebuilt."""
        if store.current_version(self.root) == epoch_id:
            return  # epoch already merged and published; replay no-op
        out = store.version_dir(self.root, epoch_id)
        existing = self.current_postings()
        if existing is None:
            n = batch.count()
            if n == 0:
                return
            postings = rescore(term_doc_stats(batch, stem=self.stem), n)
        else:
            postings, n = merge_index(
                existing, self.current_num_docs(), batch, stem=self.stem
            )
            if n == self.current_num_docs():
                return  # empty batch
        write_index(postings, os.path.join(out, "postings"), self.num_partitions)
        # vocabulary stats ride every publish, aggregated from the
        # just-written parquet (a column-pruned (term, df) scan —
        # strictly cheaper than the full-index rewrite write_index just
        # performed, so it does not change publish asymptotics; an
        # incremental-format publish would derive vocab incrementally)
        (
            vocab_stats(self.spark.read.parquet(os.path.join(out, "postings")))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(out, "vocab"))
        )
        with open(os.path.join(out, "NUM_DOCS"), "w") as f:
            f.write(str(n))
        store.flip(self.root, epoch_id)  # the atomic publish


def vacuum(index_root: str, keep: int = 2) -> list[str]:
    """Delete all but the newest ``keep`` published versions (never the
    one ``_CURRENT`` points at). Returns the removed version names."""
    cur = store.current_version(index_root)
    current = None if cur is None else f"v{cur}"
    versions = sorted(
        (d for d in os.listdir(index_root) if d.startswith("v")),
        key=lambda d: int(d[1:]),
    )
    removable = [v for v in versions[:-keep] if v != current] if keep else [
        v for v in versions if v != current
    ]
    for v in removable:
        store.sweep(os.path.join(index_root, v))
    return removable
