"""Streaming DSIR-scored ingestion — score an arriving document
stream against a published DSIR importance-weight model.

The batch operator (`operators/mixing.py:dsir_select`) builds the
weight model and scores a static corpus in one pass; an ingest
pipeline needs the ONLINE split: the model is trained OFFLINE on a
reference corpus and PUBLISHED, and each arriving micro-batch is
scored against the frozen model — the same offline-build / online-
serve split as the inverted index (`streaming/index_ingest.py`) and
the IVF index (`operators/similarity.py:ivf_index_add`).

Model publication uses the versioned-store protocol of
`streaming/store.py`: ``{root}/v{n}/weights``
(the vocab-sized ``(tok, w6)`` table) + ``/meta`` (one row with the
corpus totals and the unseen-token ``default_w6``), with the pointer
flipped atomically after both land.

**Weights refresh WITHOUT a stream restart**: the scorer re-resolves
``_CURRENT`` at the top of every micro-batch (a pointer read + two
memoization-free parquet opens — cheap next to the batch work), so
publishing ``v{n+1}`` takes effect on the next batch while the query
keeps running. Scores carry the model version they were computed
with (``model_v``), so a downstream consumer can re-score the
boundary batches after a model flip if it needs one-model
consistency.

Unseen tokens: a frozen model will meet stream tokens that were not
in the training vocabulary; they score ``default_w6`` — the SAME
Laplace-smoothed formula evaluated at cnt_s = cnt_t = 0, so serving
a frozen model is exactly what a rebuilt model with those zero
counts would produce (pinned by test).

Output is the store's append-only epoch sink (``{out}/epoch=N/``):
committed epochs replay as no-ops, partial ones are swept and
rewritten.

Scale shape: the scoring join is stream-batch × vocab on ``tok``.
The weight table is vocab-sized (zipf-bounded, typically ≪ corpus);
AQE broadcasts it when small, and at web-scale vocabularies the join
degrades gracefully to a shuffled hash join on tok — never all-pairs,
no driver-side state beyond the 1-row meta. Per-doc aggregation is
the only shuffle of the batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_search_spark.operators.mixing import (
    _dsir_toks,
    dsir_score,
    dsir_weights,
)
from hadoop_search_spark.streaming import store

DOCS_SCHEMA = "doc_id BIGINT, source STRING, text STRING"


def publish_dsir_weights(
    docs: DataFrame,
    root: str,
    target_source: str = "src0",
    text_col: str = "text",
    source_col: str = "source",
) -> int:
    """Train the DSIR weight model on ``docs`` and publish it under
    ``root`` as the next version; returns the published version
    number. Safe to call while a scorer stream is running — the
    pointer flips only after both tables land, and the scorer picks
    the new version up on its next micro-batch."""
    os.makedirs(root, exist_ok=True)
    cur = store.current_version(root)
    version = 0 if cur is None else cur + 1
    out = store.version_dir(root, version)
    weights, meta = dsir_weights(docs, target_source, text_col, source_col)
    weights.write.parquet(os.path.join(out, "weights"))
    meta.coalesce(1).write.parquet(os.path.join(out, "meta"))
    store.flip(root, version)
    return version


class StreamingDsirScorer(store.BatchSink):
    """Scores a document stream against the published model at
    ``weights_root``, appending ``(doc_id, n_tokens, score, keep,
    model_v, epoch)`` under ``out_root``. Wire into a stream with
    :meth:`start` (or call :meth:`process_batch` directly from an
    existing foreachBatch body)."""

    def __init__(
        self,
        spark: SparkSession,
        weights_root: str,
        out_root: str,
        text_col: str = "text",
        source_col: str = "source",
    ) -> None:
        self.spark = spark
        self.weights_root = weights_root
        self.out_root = out_root
        self.text_col = text_col
        self.source_col = source_col
        os.makedirs(out_root, exist_ok=True)

    # -- model resolution (per batch — this is the no-restart refresh)

    def _model(self) -> tuple[DataFrame, object, int]:
        v = store.current_version(self.weights_root)
        if v is None:
            raise RuntimeError(
                f"no published DSIR model under {self.weights_root}; "
                "run publish_dsir_weights first"
            )
        base = os.path.join(self.weights_root, f"v{v}")
        weights = self.spark.read.parquet(os.path.join(base, "weights"))
        meta = self.spark.read.parquet(os.path.join(base, "meta")).collect()[0]
        return weights, meta.default_w6, v

    # -- the scoring step ---------------------------------------------

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        out = store.open_epoch(self.out_root, epoch_id)
        if out is None or batch.isEmpty():
            return  # replay of a committed epoch, or nothing to score
        weights, default_w6, v = self._model()
        toks = _dsir_toks(batch, self.text_col, self.source_col)
        scored = dsir_score(toks, weights, default_w6=default_w6).withColumn(
            "model_v", F.lit(int(v))
        )
        scored.write.parquet(out)

    def scores(self) -> DataFrame | None:
        """All COMMITTED epoch scores (epoch surfaces as a partition
        column); a partial dir left by a crash is excluded."""
        return store.read_epochs(self.spark, self.out_root)
