"""Streaming IVF index maintenance — the full online ANN loop:
arriving embeddings are greedy-deduped against the accepted store
(`StreamingVectorDeduper`), the epoch's ADMITTED vectors append into
a published IVF index under its FROZEN quantizer (`ivf_index_add`),
and the quantizer drift report (`ivf_index_drift`) runs as the epoch
postcondition — ingest → dedup → append → drift flag → documented
offline-rebuild trigger.

This is the composition the batch operators were shaped for: the
index append is O(|admitted|) (only touched cell partitions gain
files), the drift report is a pure aggregation with bit-exact integer
flags, and dedup is the bucket-keyed store join. Nothing here adds a
new shuffle.

Idempotence / crash windows (three stages, three gates):

1. the deduper publishes via the versioned-store pointer flip and
   RETURNS the epoch's accepted ids on replay (recorded per version —
   the dedup_ingest contract), so a replayed epoch still reaches the
   later stages;
2. the index append keys idempotence on an epoch LEDGER marker
   (``{index}/_EPOCHS/epoch-N``) written after the append commits. A
   crash between the append and the marker self-heals on replay: if
   the epoch's accepted ids are ALL already in the index the append
   committed (Spark's file-commit protocol exposes either the whole
   job or none of it) and only the marker is rewritten; a torn state
   (some but not all ids present) cannot arise from that protocol and
   fails fast rather than appending duplicates;
3. the drift report writes per-epoch under ``{root}/drift/epoch=N``
   through the epoch sink of `streaming/store.py`.

Rebuild trigger (documented contract, not automated): when an epoch's
report flags any cell, the operator rebuilds offline with
``write_ivf_index`` (fresh quantizer over store + index corpus) and
points a new indexer at it — the same offline/online split as the
text index. The per-epoch report is O(index) aggregation here; at
real scale the (cell, gen) partial sums it aggregates are maintained
incrementally in a stats table, same math.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_search_spark.operators.similarity import LAYOUTS, layout_of
from hadoop_search_spark.streaming import store
from hadoop_search_spark.streaming.vector_ingest import (
    VECS_SCHEMA,  # noqa: F401  (re-export: the composed schema is the same)
    StreamingVectorDeduper,
)


def _ivfpq_cell_drift(rep: DataFrame) -> DataFrame:
    """:func:`ivfpq_index_drift`'s per-(cell, s) report rolled up to
    the per-CELL shape the loop's drift ledger uses for every layout —
    (cell, n_orig, n_new, drifted) with ``drifted`` = any subspace's
    code_drift. The per-(cell, s) counts are identical across s
    (every vector contributes one row per subspace), so max()
    recovers the cell population exactly; the full per-subspace
    report stays available directly from ivfpq_index_drift when the
    trigger fires."""
    return rep.groupBy("cell").agg(
        F.max("n_orig").alias("n_orig"),
        F.max("n_new").alias("n_new"),
        (
            F.sum(F.when(F.col("code_drift"), 1).otherwise(0)) > 0
        ).alias("drifted"),
    )


class StreamingIvfIndexer(store.BatchSink):
    """Maintains ``{root}/store`` (accepted-vector store) and a
    PUBLISHED ANN index at ``index_path`` (pre-built offline with
    ``write_ivf_index`` or ``write_int8_index`` per ``layout`` — the
    frozen quantizer is the composition's premise) from an embedding
    stream; per-epoch drift reports land under ``{root}/drift``.
    ``layout='ivf'`` appends raw vectors; ``layout='int8'`` appends
    the 64 B/vec scalar-quantized rows (per-vector quantization, so
    no codebook exists to go stale — the drift report watches the
    shared coarse-quantizer contract via share skew + dequantized
    cosine distance); ``layout='ivfpq'`` (r10) appends packed PQ
    codes under the index's FROZEN models — including the persisted
    encoding (raw / residual / residual_opq), which
    ``ivfpq_index_add`` reads from the artifact itself, so the same
    maintainer serves all three code meanings — with the per-cell
    rollup of the code-histogram drift report as the epoch
    postcondition."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        index_path: str,
        threshold: float = 0.95,
        num_planes: int = 8,
        dim: int = 64,
        layout: str = "ivf",
        exact_rotation: bool = True,
    ) -> None:
        self.spark = spark
        self.root = root
        self.index_path = index_path
        if layout not in LAYOUTS:
            raise ValueError(
                f"unknown index layout {layout!r}; one of {sorted(LAYOUTS)}"
            )
        self._layout = LAYOUTS[layout]
        # exact_rotation=False is the production-build knob for
        # residual_opq indexes (numpy matmul instead of the decimal
        # fold); keep the exact default wherever a golden replays the
        # appended codes
        self._exact_rotation = exact_rotation
        found = layout_of(spark, index_path)
        if found is None:
            raise ValueError(
                f"no published index at {index_path}; build one with "
                f"{self._layout.builder} first (the frozen-quantizer contract)"
            )
        if found is not self._layout:
            raise ValueError(
                f"the index at {index_path} has layout {found.name!r}, "
                f"not {layout!r}"
            )
        self.deduper = StreamingVectorDeduper(
            spark, os.path.join(root, "store"), threshold, num_planes, dim
        )
        os.makedirs(os.path.join(index_path, "_EPOCHS"), exist_ok=True)
        os.makedirs(os.path.join(root, "drift"), exist_ok=True)

    # -- stage 2: ledgered frozen-quantizer append ---------------------

    def _append_epoch(self, admitted: DataFrame, epoch_id: int) -> int:
        # The presence probe below is a pruned single-column scan of
        # the index's vec_ids per epoch — the price of marker-after-
        # commit idempotence on a plain filesystem. At real scale the
        # ledger lives in the transactional table's commit log (the
        # same substitution documented for every versioned store) and
        # the probe disappears.
        marker = os.path.join(
            self.index_path, "_EPOCHS", f"epoch-{int(epoch_id)}"
        )
        if os.path.exists(marker):
            return 0  # replay of a ledgered epoch
        ids = admitted.select("vec_id")
        n_kept = ids.count()
        if n_kept:
            index_ids = self.spark.read.parquet(
                f"{self.index_path}/{self._layout.rows}"
            ).select("vec_id")
            n_present = ids.join(index_ids, "vec_id").count()
            if n_present == n_kept:
                pass  # append committed, marker write crashed: self-heal
            elif n_present == 0:
                # ids proven fresh above — skip the O(index) re-check
                self._layout.append(
                    self.spark,
                    self.index_path,
                    admitted.select("vec_id", "embedding"),
                    check_ids=False,
                    exact_rotation=self._exact_rotation,
                )
            else:
                raise RuntimeError(
                    f"torn epoch {epoch_id}: {n_present}/{n_kept} admitted "
                    f"ids already in {self.index_path} — the commit protocol "
                    "should expose all or none; rebuild the index"
                )
        store.mark(marker, str(int(epoch_id)))
        return n_kept

    # -- stage 3: drift postcondition ----------------------------------

    def _drift_epoch(self, epoch_id: int) -> None:
        out = store.open_epoch(os.path.join(self.root, "drift"), epoch_id)
        if out is not None:
            rep = self._layout.drift(self.spark, self.index_path)
            if self._layout.name == "ivfpq":
                rep = _ivfpq_cell_drift(rep)
            rep.write.parquet(out)

    # -- the composed batch body ---------------------------------------

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        kept = self.deduper.process_batch(batch, epoch_id)
        if kept is not None:
            admitted = batch.join(kept, "vec_id")
            self._append_epoch(admitted, epoch_id)
        self._drift_epoch(epoch_id)

    # -- published-state accessors -------------------------------------

    def current_vectors(self) -> DataFrame | None:
        return self.deduper.current_vectors()

    def drift_reports(self) -> DataFrame | None:
        """All COMMITTED per-epoch drift reports (epoch is a partition
        column)."""
        return store.read_epochs(self.spark, os.path.join(self.root, "drift"))

    def persistent_drift(self, k: int = 2) -> DataFrame | None:
        """Cells flagged in EACH of the last ``k`` committed epochs →
        (cell) — the trend form of the rebuild trigger: one odd batch
        trips a single epoch's flag, a genuinely shifted distribution
        keeps tripping it (every epoch's report compares the FULL
        appended lineage against the build, so persistence means the
        drift isn't washing out as data accumulates). Returns None
        with fewer than k committed epochs (no evidence either way) —
        never an empty frame masquerading as 'no drift'."""
        rep = self.drift_reports()
        if rep is None:
            return None
        last = [
            r.epoch
            for r in rep.select("epoch")
            .distinct()
            .orderBy(F.desc("epoch"))
            .limit(k)
            .collect()
        ]
        if len(last) < k:
            return None
        return (
            rep.filter(F.col("epoch").isin(last))
            .groupBy("cell")
            .agg(
                F.sum(F.when(F.col("drifted"), 1).otherwise(0)).alias(
                    "n_drifted"
                )
            )
            .filter(F.col("n_drifted") >= k)
            .select("cell")
        )
