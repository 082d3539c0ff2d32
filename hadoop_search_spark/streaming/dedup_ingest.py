"""Streaming near-duplicate ingestion — online MinHash-LSH dedup of a
document stream against the accumulated accepted corpus.

The batch near-dup operators (`operators/dedup.py`) answer "which
pairs in this corpus are near-dups"; an ingest pipeline needs the
ONLINE question: "is this arriving doc a near-dup of anything already
accepted?" Each micro-batch:

1. computes the batch docs' LSH band keys (the one-shuffle wide form);
2. joins them against the published band store → candidate
   (new, accepted) pairs, plus batch-internal candidates;
3. exact-Jaccard-verifies candidates against the accepted docs (and
   earlier-id batch peers), rejects matches >= threshold;
4. appends survivors (docs + their bands) to the store and atomically
   republishes ``v{epoch_id}`` through `streaming/store.py`, so
   replays are idempotent across both crash windows.

Semantics are GREEDY-ONLINE over LSH CANDIDATES: a doc is rejected
iff an ACCEPTED doc (not a rejected one) shares a band key with it
AND verifies at >= threshold, processing in (batch, doc_id) order.
Candidate generation is part of the contract, exactly as in the batch
LSH entries — recall at mid-range similarity is governed by the
(num_hashes, band_rows) curve, e.g. ~0.30 at J=0.54 with 16/4, ~1.0
above J≈0.85; the differential test emulates the same band keys. That differs from offline cluster-dedup (connected components
keep one doc per transitive cluster; greedy keeps any doc whose
accepted predecessors don't match it directly) — the differential
test pins the streaming pipeline against an independent sequential
greedy evaluator, which IS the contract.

Scale shape: the store join is an equi-join on (band, band_key) —
bucket-keyed like every batch LSH join, never all-pairs; per batch
the compute is O(|batch shingles| + candidate-doc shingles) — only
store docs the band join surfaces as candidates are re-shingled for
verification — plus one columnar scan of the published band table
(at real scale, a bands table bucketed by band_key turns that into
a pruned probe as well). The band store grows
with the accepted corpus; at 100 TB it lives in a transactional
table partitioned by band, and the pointer flip becomes a table
commit (same substitution as index_ingest).
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_search_spark.operators.dedup import (
    jaccard_verify,
    minhash_bands_wide,
    word_shingles,
)
from hadoop_search_spark.streaming import store

DOCS_SCHEMA = "doc_id BIGINT, text STRING"


class StreamingDeduper(store.VersionedStore):
    """Maintains the accepted-corpus store under ``root`` from a
    document stream: ``{root}/v{epoch}/docs`` + ``/bands`` per
    version, ``_CURRENT`` pointer. Doc ids must be distinct across
    batches and increase with arrival order (the greedy contract)."""

    def __init__(
        self, spark: SparkSession, root: str, threshold: float = 0.5
    ) -> None:
        super().__init__(spark, root)
        self.threshold = threshold

    # -- published-state accessors ------------------------------------

    def current_docs(self) -> DataFrame | None:
        return self._read("docs")

    def current_bands(self) -> DataFrame | None:
        return self._read("bands")

    # -- the dedup step ------------------------------------------------

    def _accepted_ids(self, batch: DataFrame) -> DataFrame:
        """(doc_id) of batch docs that survive greedy dedup against
        the store and their earlier-id batch peers."""
        sh_new = word_shingles(batch)
        bands_new = minhash_bands_wide(sh_new)
        accepted = self.current_docs()

        # candidates against the accepted store (store side is already
        # deduped, so a match there is final)
        if accepted is not None:
            store_bands = self.current_bands()
            cand_old = (
                bands_new.withColumnRenamed("doc_id", "doc_b")
                .join(
                    store_bands.withColumnRenamed("doc_id", "doc_a"),
                    ["band", "band_key"],
                )
                .select("doc_a", "doc_b")
                .distinct()
            )
            # only the CANDIDATE store docs get re-shingled — the band
            # join already narrowed the store side, so verification
            # work is O(candidate docs), not O(accepted corpus)
            cand_store_docs = accepted.join(
                cand_old.select(F.col("doc_a").alias("doc_id")).distinct(),
                "doc_id",
                "left_semi",
            )
            # verify needs both sides' shingles in ONE frame
            sh_all = word_shingles(cand_store_docs).unionByName(sh_new)
            dup_vs_store = (
                jaccard_verify(cand_old, sh_all, self.threshold)
                .select(F.col("doc_b").alias("doc_id"))
                .distinct()
            )
        else:
            dup_vs_store = None

        # batch-internal candidates: doc_a < doc_b (arrival order)
        cand_in = (
            bands_new.withColumnRenamed("doc_id", "doc_a")
            .join(
                bands_new.withColumnRenamed("doc_id", "doc_b"),
                ["band", "band_key"],
            )
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
        pairs_in = jaccard_verify(cand_in, sh_new, self.threshold)

        # Greedy within the batch: b is rejected iff some matching a<b
        # SURVIVES. The match graph here is tiny (verified near-dup
        # pairs of one micro-batch), and the greedy recurrence is
        # inherently sequential, so it resolves driver-side — the same
        # "model lives on the driver" call made for k-means centroids;
        # everything corpus-sized stayed distributed above.
        rejected_store = (
            {r.doc_id for r in dup_vs_store.collect()}
            if dup_vs_store is not None
            else set()
        )
        adj: dict[int, list[int]] = {}
        for r in pairs_in.collect():
            adj.setdefault(int(r.doc_b), []).append(int(r.doc_a))
        batch_ids = sorted(
            r.doc_id for r in batch.select("doc_id").distinct().collect()
        )
        alive: set[int] = set()
        for d in batch_ids:
            if d in rejected_store:
                continue
            if any(a in alive for a in adj.get(d, ())):
                continue
            alive.add(d)
        # an Arrow table, even an empty one, becomes a local relation
        return self.spark.createDataFrame(
            pa.table({"doc_id": pa.array(sorted(alive), pa.int64())}), "doc_id BIGINT"
        )

    def process_batch(
        self, batch: DataFrame, epoch_id: int
    ) -> DataFrame | None:
        """Dedups and publishes one micro-batch; returns the epoch's
        ACCEPTED doc ids (None for an empty epoch) so a composing
        pipeline (streaming/curate_ingest.py) can continue with the
        survivors without re-deriving them from store diffs.

        Each published version records its own epoch's accepted ids
        under ``{version}/accepted``, so a REPLAY of a published epoch
        still returns them (re-read, not recomputed): if the process
        died after this store's pointer flip but before a downstream
        stage (e.g. the DSIR scorer) committed its epoch, the replay
        must reach that stage — its own idempotence gate, not this
        pointer, decides whether it already ran."""
        if store.current_version(self.root) == epoch_id:
            # replay of a published epoch: the store write is a no-op,
            # but downstream stages still need this epoch's accepted ids
            acc = os.path.join(self.root, f"v{epoch_id}", "accepted")
            if os.path.exists(acc):
                return self.spark.read.parquet(acc)
            return None  # pre-record store version: degrade to no-op
        out = store.version_dir(self.root, epoch_id)
        # the batch frame is traversed several times (bands, greedy ids,
        # survivors join, bands again) and a non-replayable source would
        # re-read the micro-batch input on each — pin it
        batch = batch.persist()
        try:
            if batch.isEmpty():
                return None
            keep = self._accepted_ids(batch)
            survivors = batch.join(keep, "doc_id").persist()
            try:
                prev = self.current_docs()
                docs = (
                    survivors if prev is None else prev.unionByName(survivors)
                )
                docs.write.parquet(os.path.join(out, "docs"))
                # bands are derived incrementally — only the survivors'
                # shingles hash this epoch; the store's existing bands
                # carry over (the republish WRITE is still O(corpus),
                # same tradeoff as index_ingest's full rewrite, swapped
                # for a transactional table append at real scale)
                prev_bands = self.current_bands()
                new_bands = minhash_bands_wide(word_shingles(survivors))
                bands = (
                    new_bands
                    if prev_bands is None
                    else prev_bands.unionByName(new_bands)
                )
                bands.write.parquet(os.path.join(out, "bands"))
                # the epoch's own accepted ids — the replay record that
                # lets a composed pipeline's later stages run on replay
                keep.write.parquet(os.path.join(out, "accepted"))
            finally:
                survivors.unpersist()
        finally:
            batch.unpersist()
        store.flip(self.root, epoch_id)
        return keep
