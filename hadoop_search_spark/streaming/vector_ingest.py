"""Streaming embedding near-duplicate ingestion — online vector-space
dedup of an arriving embedding stream against the accepted store: the
vector twin of `streaming/dedup_ingest.py` (text MinHash) with
sign-projection LSH buckets playing the band-key role and exact
cosine playing Jaccard's.

Semantics are GREEDY-ONLINE over LSH CANDIDATES, identical in shape
to the text deduper's contract: an arriving vector is rejected iff an
ACCEPTED vector shares its sign-projection bucket AND verifies at
cosine >= threshold, processing in (batch, vec_id) order; candidate
generation is part of the contract (recall follows the plane-count
collision curve, exactly as in the batch `embedding_dedup_pairs`).
The differential test pins the pipeline against an independent
sequential evaluator that re-derives buckets and cosines with plain
sequential Python arithmetic (the same left-to-right fold the Spark
expressions use, so the 9dp-rounded values agree bit-for-bit).

Store protocol: ``{root}/v{epoch}/vectors`` (vec_id, embedding,
bucket) published through `streaming/store.py`, with the same two
crash windows as `dedup_ingest`/`index_ingest`.

Scale shape: the store probe is an equi-join on ``bucket`` — never
all-pairs; only candidate store vectors join the exact-cosine verify.
The republish write is O(store) (same tradeoff as the text twin,
swapped for a transactional-table append at real scale); the greedy
recurrence resolves driver-side over the tiny verified pair graph of
one micro-batch, everything corpus-sized stays distributed.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_search_spark.operators.similarity import _cosine_names, lsh_bucket
from hadoop_search_spark.streaming import store

VECS_SCHEMA = "vec_id BIGINT, embedding ARRAY<DOUBLE>"


class StreamingVectorDeduper(store.VersionedStore):
    """Maintains the accepted-vector store under ``root`` from an
    embedding stream. Vec ids must be distinct across batches and
    increase with arrival order (the greedy contract)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        threshold: float = 0.95,
        num_planes: int = 8,
        dim: int = 64,
    ) -> None:
        super().__init__(spark, root)
        self.threshold = threshold
        self.num_planes = num_planes
        self.dim = dim

    # -- published-state accessors ------------------------------------

    def current_vectors(self) -> DataFrame | None:
        return self._read("vectors")

    # -- the dedup step ------------------------------------------------

    def _bucketed(self, vecs: DataFrame) -> DataFrame:
        return vecs.withColumn(
            "bucket",
            lsh_bucket(F.col("embedding"), self.num_planes, self.dim),
        )

    def _accepted_ids(self, batch: DataFrame) -> DataFrame:
        bnew = self._bucketed(batch).localCheckpoint(eager=False)
        store = self.current_vectors()

        def verify(pairs: DataFrame) -> DataFrame:
            return pairs.filter(
                _cosine_names("emb_a", "emb_b") >= self.threshold
            ).select("vec_a", "vec_b")

        if store is not None:
            cand_old = (
                bnew.select(
                    F.col("vec_id").alias("vec_b"),
                    F.col("embedding").alias("emb_b"),
                    "bucket",
                )
                .join(
                    store.select(
                        F.col("vec_id").alias("vec_a"),
                        F.col("embedding").alias("emb_a"),
                        "bucket",
                    ),
                    "bucket",
                )
            )
            dup_vs_store = (
                verify(cand_old).select(F.col("vec_b").alias("vec_id")).distinct()
            )
            rejected_store = {r.vec_id for r in dup_vs_store.collect()}
        else:
            rejected_store = set()

        cand_in = (
            bnew.select(
                F.col("vec_id").alias("vec_a"),
                F.col("embedding").alias("emb_a"),
                "bucket",
            )
            .join(
                bnew.select(
                    F.col("vec_id").alias("vec_b"),
                    F.col("embedding").alias("emb_b"),
                    "bucket",
                ),
                "bucket",
            )
            .filter(F.col("vec_a") < F.col("vec_b"))
        )
        adj: dict[int, list[int]] = {}
        for r in verify(cand_in).collect():
            adj.setdefault(int(r.vec_b), []).append(int(r.vec_a))
        batch_ids = sorted(
            r.vec_id for r in batch.select("vec_id").distinct().collect()
        )
        alive: set[int] = set()
        for v in batch_ids:
            if v in rejected_store:
                continue
            if any(a in alive for a in adj.get(v, ())):
                continue
            alive.add(v)
        # an Arrow table, even an empty one, becomes a local relation
        return self.spark.createDataFrame(
            pa.table({"vec_id": pa.array(sorted(alive), pa.int64())}), "vec_id BIGINT"
        )

    def process_batch(
        self, batch: DataFrame, epoch_id: int
    ) -> DataFrame | None:
        """Dedups and publishes one micro-batch; returns the epoch's
        ACCEPTED vec ids (None for an empty epoch). Each published
        version records its accepted ids under ``{version}/accepted``
        so a replay of a published epoch still returns them (re-read,
        not recomputed) — a composed pipeline's downstream stages (e.g.
        the live IVF index appender) then run under their OWN
        idempotence gates instead of being skipped by this store's
        pointer (the dedup_ingest crash-window contract)."""
        if store.current_version(self.root) == epoch_id:
            acc = os.path.join(self.root, f"v{epoch_id}", "accepted")
            if os.path.exists(acc):
                return self.spark.read.parquet(acc)
            return None  # pre-record store version: degrade to no-op
        out = store.version_dir(self.root, epoch_id)
        batch = batch.persist()
        try:
            if batch.isEmpty():
                return None
            keep = self._accepted_ids(batch)
            survivors = self._bucketed(batch.join(keep, "vec_id"))
            prev = self.current_vectors()
            vecs = survivors if prev is None else prev.unionByName(survivors)
            vecs.write.parquet(os.path.join(out, "vectors"))
            keep.write.parquet(os.path.join(out, "accepted"))
        finally:
            batch.unpersist()
        store.flip(self.root, epoch_id)
        return keep
