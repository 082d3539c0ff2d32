"""Streaming corpus curation — the ONLINE composition of the batch
curation pipeline: each arriving micro-batch runs

1. **Gopher hard rules + quality floor + language allowlist** — all
   per-doc, map-only filters (the same `gopher_exprs` /
   `quality_exprs` / `lang_exprs` expression families the batch
   pipeline uses; a per-doc filter's verdict does not depend on
   arrival order, so online == batch for this stage by construction);
2. **greedy-online near-dup dedup** against the accepted store
   (`StreamingDeduper` — the band-keyed store join, arrival-order
   greedy contract);
3. **DSIR importance scoring** of the accepted survivors against a
   published frozen weight model (`StreamingDsirScorer` — scores
   refresh with the model's ``_CURRENT`` pointer, no restart).

This is the ingest-time twin of `operators/curation.py:curate_v2` +
`mix_dsir_select`: instead of curating a static corpus after the
fact, documents are admitted/rejected/scored AS THEY ARRIVE, and the
accepted store is always a curated corpus. Semantics differ from the
batch pipeline exactly where online must differ: dedup is
greedy-in-arrival-order over LSH candidates (an accepted doc is never
retroactively evicted by a better-id duplicate) rather than
min-id-per-cluster — the same contract, and the same differential
test strategy, as `dedup_ingest` itself.

Crash story: stage 2 publishes through the versioned-store pointer
flip and stage 3 through _SUCCESS-gated epoch dirs — both idempotent
under replay, AND the composition is: a replayed epoch whose store
version is already published re-reads that version's recorded
``accepted`` ids (it does not no-op to None), so stage 3 still runs
and its own _SUCCESS gate decides whether scoring already happened.
This closes the crash window between the deduper's pointer flip and
the scorer's epoch commit — the one composition-level window the
per-stage gates alone don't cover.

Scale shape: stage 1 is a narrow filter fused into the batch scan;
stages 2-3 inherit their components' documented shapes (bucket-keyed
store join, vocab-sized weight join). Nothing new shuffles.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from hadoop_search_spark.streaming import store
from hadoop_search_spark.streaming.dedup_ingest import StreamingDeduper
from hadoop_search_spark.streaming.dsir_ingest import StreamingDsirScorer

DOCS_SCHEMA = "doc_id BIGINT, source STRING, text STRING"


class StreamingCurator(store.BatchSink):
    """Admits a document stream into a curated store under ``root``:
    ``{root}/store`` is the StreamingDeduper's versioned accepted
    corpus, ``{root}/scores`` the DSIR score sink. Pass
    ``dsir_weights_root`` (a published model dir from
    ``publish_dsir_weights``) to enable scoring; omit it for a
    filter+dedup-only pipeline."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        threshold: float = 0.5,
        min_quality: float = 0.0,
        langs: tuple[str, ...] | None = None,
        gopher: bool = True,
        dsir_weights_root: str | None = None,
        text_col: str = "text",
    ) -> None:
        self.spark = spark
        self.min_quality = min_quality
        self.langs = langs
        self.gopher = gopher
        self.text_col = text_col
        os.makedirs(root, exist_ok=True)
        self.deduper = StreamingDeduper(
            spark, os.path.join(root, "store"), threshold
        )
        self.scorer = (
            StreamingDsirScorer(
                spark,
                dsir_weights_root,
                os.path.join(root, "scores"),
                text_col=text_col,
            )
            if dsir_weights_root
            else None
        )

    # -- the per-doc admission filter (stage 1) -----------------------

    def _passed(self, batch: DataFrame) -> DataFrame:
        from hadoop_search_spark.operators.textstats import (
            gopher_exprs,
            lang_exprs,
            quality_exprs,
        )

        out = batch
        if self.gopher:
            out = out.filter(gopher_exprs(self.text_col)["pass"])
        if self.min_quality > 0:
            out = out.filter(quality_exprs(self.text_col)["quality"] >= self.min_quality)
        if self.langs:
            out = out.filter(lang_exprs(self.text_col)["lang_pred"].isin(*self.langs))
        return out

    # -- the composed batch body --------------------------------------

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        passed = self._passed(batch)
        kept = self.deduper.process_batch(
            passed.select("doc_id", self.text_col), epoch_id
        )
        if self.scorer is not None and kept is not None:
            survivors = batch.join(kept, "doc_id")
            self.scorer.process_batch(survivors, epoch_id)

    # -- published-state accessors ------------------------------------

    def current_docs(self) -> DataFrame | None:
        return self.deduper.current_docs()

    def scores(self) -> DataFrame | None:
        return self.scorer.scores() if self.scorer else None
