"""Streaming HLL register-store maintenance: stream-vs-batch EXACT
equivalence (mergeability), replay idempotence through both crash
windows (including the double-merge window that max-merge makes
harmless by algebra), and a real readStream end-to-end run."""

import os
import shutil

import pyspark.sql.functions as F

from hadoop_search_spark.operators.sketch import hll_registers
from hadoop_search_spark.streaming.sketch_ingest import StreamingHllCounter
from hadoop_search_spark.streaming.store import current_version as _current_version

SF_DIR = "/root/testdata/sf0.001"


def _regs(df):
    return {(r.register, r.max_rho) for r in df.collect()}


def _epochs(spark, n=4):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    return li, [li.filter(F.col("l_orderkey") % n == i) for i in range(n)]


def test_stream_equals_batch_sketch(spark, tmp_path):
    """After N epochs the store's registers equal the one-shot batch
    sketch of all the data — EXACT equality, the mergeability
    guarantee made operational; an interleaved empty epoch commits
    without churning a version."""
    li, parts = _epochs(spark)
    c = StreamingHllCounter(spark, str(tmp_path / "store"), "l_partkey")
    c.process_batch(parts[0], 0)
    c.process_batch(parts[1], 1)
    c.process_batch(li.filter(F.lit(False)), 2)  # empty epoch
    v_after_empty = _current_version(str(tmp_path / "store"))
    c.process_batch(parts[2], 3)
    c.process_batch(parts[3], 4)
    assert _regs(c.registers()) == _regs(hll_registers(li, "l_partkey"))
    assert v_after_empty == 1  # empty epoch did not publish a version
    est = c.estimate().collect()[0]
    assert est.m == 4096 and est.z_scaled > 0


def test_replay_of_committed_epoch_is_noop(spark, tmp_path):
    """A committed epoch replayed (the ledger window) neither merges
    again nor publishes a new version."""
    _, parts = _epochs(spark)
    root = str(tmp_path / "store")
    c = StreamingHllCounter(spark, root, "l_partkey")
    c.process_batch(parts[0], 0)
    c.process_batch(parts[1], 1)
    before = _regs(c.registers())
    v = _current_version(root)
    c.process_batch(parts[1], 1)  # replay
    assert _regs(c.registers()) == before
    assert _current_version(root) == v


def test_crash_windows_cannot_corrupt_the_store(spark, tmp_path):
    """Both crash windows: (a) version dir written but pointer not
    flipped → orphan swept on replay; (b) pointer flipped but ledger
    marker lost → the replay DOUBLE-MERGES the batch and the register
    values are still identical (max-merge idempotence — the algebraic
    exactly-once)."""
    li, parts = _epochs(spark)
    root = str(tmp_path / "store")
    c = StreamingHllCounter(spark, root, "l_partkey")
    c.process_batch(parts[0], 0)

    # (a) pre-flip crash: orphan v1 with garbage, no pointer flip
    orphan = os.path.join(root, "v1", "registers")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "junk"), "w") as f:
        f.write("partial")
    c.process_batch(parts[1], 1)
    assert _current_version(root) == 1
    want_01 = _regs(hll_registers(li.filter(F.col("l_orderkey") % 4 <= 1), "l_partkey"))
    assert _regs(c.registers()) == want_01

    # (b) post-flip crash: drop epoch 1's ledger marker and replay —
    # the batch merges a second time, value unchanged
    os.remove(os.path.join(root, "epochs", "1"))
    c.process_batch(parts[1], 1)
    assert _current_version(root) == 2  # a new version was published
    assert _regs(c.registers()) == want_01  # ... with identical registers


def test_stream_api_end_to_end(spark, tmp_path):
    """Wire the counter into a real file-source readStream and drain
    it; the store must equal the batch sketch of everything ingested."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    ingest = str(tmp_path / "ingest")
    li.filter(F.col("l_orderkey") % 2 == 0).write.parquet(ingest)
    li.filter(F.col("l_orderkey") % 2 == 1).write.mode("append").parquet(ingest)
    stream = spark.readStream.schema("l_orderkey BIGINT, l_partkey BIGINT").parquet(
        ingest
    )
    c = StreamingHllCounter(spark, str(tmp_path / "store"), "l_partkey")
    q = c.start(stream, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    assert _regs(c.registers()) == _regs(hll_registers(li, "l_partkey"))
    shutil.rmtree(str(tmp_path / "ckpt"), ignore_errors=True)
