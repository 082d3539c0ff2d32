"""Streaming sketch stores — constant-size summaries of a stream,
merged per micro-batch into a versioned store.

Each micro-batch is sketched on its own rows (one narrow map + one
aggregation to the sketch's fixed row bound — never the corpus) and
merged into the published table; state stays the same size forever,
the property that lets "distinct URLs seen, ever", "how often has this
value appeared, ever" and "where does the rank-q value sit, ever" run
as a stream at 100 TB where exact state would grow with the data.
Stream == batch: after any sequence of epochs the store equals the
one-shot batch sketch of everything ingested (pinned by test).

* :class:`StreamingHllCounter` — HyperLogLog registers, register-wise
  max merge (≤ 2^p rows);
* :class:`StreamingCmsCounter` — Count-Min cells, cell-wise SUM merge
  (≤ d·w rows);
* :class:`StreamingHistogram` — equi-width buckets under bounds FROZEN
  at store creation, bucket-wise SUM merge (≤ B rows). Later batches
  outside the bounds clamp into the edge buckets: the rank math stays
  exact, and a drifted distribution shows as edge-bucket mass — the
  rebuild signal, same story as `ivfpq_drift_stats`.

Exactly-once and the crash windows come from
`streaming/store.py:VersionedMergeStore` (ledger before pointer flip,
torn-state re-flip). HLL's max merge would survive a double merge by
algebra; the SUM merges rely on the ledger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hadoop_search_spark.operators.sketch import (
    CMS_D,
    CMS_W,
    HIST_BUCKETS,
    HLL_P,
    cms_merge,
    cms_query,
    cms_sketch,
    hist_merge,
    hist_quantile_bounds,
    hist_sketch,
    hll_estimate,
    hll_merge,
    hll_registers,
)
from hadoop_search_spark.streaming.store import VersionedMergeStore


class StreamingHllCounter(VersionedMergeStore):
    """Maintains a distinct-count register store for one column of a
    document/event stream."""

    table = "registers"

    def __init__(
        self,
        spark: SparkSession,
        store_root: str,
        col: str,
        p: int = HLL_P,
    ) -> None:
        super().__init__(spark, store_root, col)
        self.p = p

    def _sketch(self, batch: DataFrame) -> DataFrame:
        return hll_registers(batch, self.col, self.p)

    _merge = staticmethod(hll_merge)

    def registers(self) -> DataFrame | None:
        """The current published register table (None before the
        first commit)."""
        return self._read(self.table)

    def estimate(self) -> DataFrame | None:
        """One-row ``(m, n_zero, z_scaled, est_distinct)`` summary of
        the store (None before the first commit)."""
        regs = self.registers()
        return None if regs is None else hll_estimate(regs, self.p)


class StreamingCmsCounter(VersionedMergeStore):
    """Maintains a Count-Min cell store for one column of a stream."""

    table = "cells"

    def __init__(
        self,
        spark: SparkSession,
        store_root: str,
        col: str,
        d: int = CMS_D,
        w: int = CMS_W,
    ) -> None:
        super().__init__(spark, store_root, col)
        self.d = d
        self.w = w

    def _sketch(self, batch: DataFrame) -> DataFrame:
        return cms_sketch(batch, self.col, self.d, self.w)

    _merge = staticmethod(cms_merge)

    def cells(self) -> DataFrame | None:
        return self._read(self.table)

    def counts(self, values: DataFrame, col: str | None = None) -> DataFrame | None:
        """Point-query the store → (value, est); None before the
        first commit."""
        sk = self.cells()
        if sk is None:
            return None
        return cms_query(sk, values, col or self.col, self.d, self.w)


class StreamingHistogram(VersionedMergeStore):
    """Maintains an equi-width histogram store for one numeric column
    of a stream, under bounds FROZEN at construction."""

    table = "buckets"

    def __init__(
        self,
        spark: SparkSession,
        store_root: str,
        col: str,
        lo: float,
        hi: float,
        buckets: int = HIST_BUCKETS,
    ) -> None:
        if hi < lo:
            raise ValueError(f"need hi >= lo, got [{lo}, {hi}]")
        super().__init__(spark, store_root, col)
        self.lo = float(lo)
        self.hi = float(hi)
        self.buckets = buckets

    def _sketch(self, batch: DataFrame) -> DataFrame:
        return hist_sketch(batch, self.col, self.lo, self.hi, self.buckets)

    _merge = staticmethod(hist_merge)

    def sketch(self) -> DataFrame | None:
        """The current published (bucket, cnt) table (None before the
        first commit)."""
        return self._read(self.table)

    def quantiles(self, qs: list[float]) -> DataFrame | None:
        """Quantile brackets over everything ingested so far (None
        before the first commit)."""
        sk = self.sketch()
        if sk is None:
            return None
        return hist_quantile_bounds(sk, qs, self.lo, self.hi, self.buckets)
