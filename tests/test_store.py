"""The shared versioned-store protocol (`streaming/store.py`): pointer
flip, orphan sweep, ledger replay, torn-state re-flip and the
_SUCCESS-gated epoch sink — each crash window set up by hand on tiny
frames. The merge under test is a SUM, so any re-merge shows as a
doubled count."""

import collections
import os

import pandas as pd

from hadoop_search_spark.streaming import store
from hadoop_search_spark.streaming.kafka import exactly_once_parquet_sink

SCHEMA = "k STRING"


class _SumStore(store.VersionedMergeStore):
    """Per-key row counts, merged by SUM (not replay-idempotent). The
    table keeps one row per ingested row, so no step shuffles."""

    table = "rows"

    def _sketch(self, batch):
        return batch.select(self.col)

    @staticmethod
    def _merge(prev, sketch):
        return prev.unionByName(sketch)

    def counts(self):
        return dict(collections.Counter(r.k for r in self._read(self.table).collect()))


def _batch(spark, keys):
    # from pandas the frame is a local relation: no Python-worker
    # round trip per job, which a list of tuples would cost
    return spark.createDataFrame(pd.DataFrame({"k": list(keys)}, dtype=object), SCHEMA)


def _versions(root):
    return sorted(d for d in os.listdir(root) if d.startswith("v"))


def test_flip_leaves_no_tmp_file(tmp_path):
    root = str(tmp_path)
    assert store.current_version(root) is None
    assert store.current_path(root) is None
    store.flip(root, 0)
    store.flip(root, 3)
    assert store.current_version(root) == 3
    assert store.current_path(root) == os.path.join(root, "v3")
    assert os.listdir(root) == ["_CURRENT"]


def test_preflip_orphan_is_swept_and_rewritten(spark, tmp_path):
    root = str(tmp_path / "s")
    s = _SumStore(spark, root, "k")
    s.process_batch(_batch(spark, "ab"), 0)
    orphan = os.path.join(root, "v1", "rows")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "junk"), "w") as f:
        f.write("partial")
    s.process_batch(_batch(spark, "bc"), 1)
    assert store.current_version(root) == 1
    assert not os.path.exists(os.path.join(orphan, "junk"))
    assert s.counts() == {"a": 1, "b": 2, "c": 1}


def test_ledger_ahead_of_pointer_reflips_without_remerge(spark, tmp_path):
    root = str(tmp_path / "s")
    s = _SumStore(spark, root, "k")
    s.process_batch(_batch(spark, "ab"), 0)
    s.process_batch(_batch(spark, "bc"), 1)
    # crash after the ledger marker, before the flip: pointer behind
    store.flip(root, 0)
    assert s.counts() == {"a": 1, "b": 1}
    s.process_batch(_batch(spark, "bc"), 1)  # replay heals by re-flip
    assert store.current_version(root) == 1
    assert s.counts() == {"a": 1, "b": 2, "c": 1}  # merged once, not twice
    assert _versions(root) == ["v0", "v1"]


def test_replayed_ledgered_epoch_is_noop(spark, tmp_path):
    root = str(tmp_path / "s")
    s = _SumStore(spark, root, "k")
    s.process_batch(_batch(spark, "ab"), 0)
    s.process_batch(_batch(spark, ""), 1)  # empty epoch: ledgered, no version
    s.process_batch(_batch(spark, "ab"), 0)
    s.process_batch(_batch(spark, "zz"), 1)
    assert s.counts() == {"a": 1, "b": 1}
    assert store.current_version(root) == 0
    assert _versions(root) == ["v0"]


def test_partial_epoch_dir_is_excluded_and_rewritten(spark, tmp_path):
    root = str(tmp_path / "sink")
    os.makedirs(root)
    for epoch in (0, 1):
        _batch(spark, "ab"[epoch]).write.parquet(store.open_epoch(root, epoch))
    # crash mid-write of epoch 1: the dir exists, the commit marker not
    os.remove(os.path.join(root, "epoch=1", "_SUCCESS"))
    got = store.read_epochs(spark, root)
    assert {(r.k, r.epoch) for r in got.collect()} == {("a", 0)}
    assert store.open_epoch(root, 0) is None  # committed: replay no-op
    out = store.open_epoch(root, 1)
    assert not os.path.exists(out)  # partial dir swept
    _batch(spark, "c").write.parquet(out)
    got = store.read_epochs(spark, root)
    assert {(r.k, r.epoch) for r in got.collect()} == {("a", 0), ("c", 1)}


def test_kafka_sink_writes_gated_epochs(spark, tmp_path):
    """The Kafka sink's per-epoch write goes through the same gated
    epoch sink (driven here by a file source)."""
    ingest = str(tmp_path / "in")
    _batch(spark, "ab").coalesce(1).write.parquet(ingest)
    stream = spark.readStream.schema(SCHEMA).parquet(ingest)
    out = str(tmp_path / "out")
    q = exactly_once_parquet_sink(stream, out, str(tmp_path / "ckpt")).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = store.read_epochs(spark, out)
    assert sorted((r.k, r.epoch) for r in got.collect()) == [("a", 0), ("b", 0)]
