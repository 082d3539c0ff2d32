"""Streaming Count-Min store: stream==batch exact cell equality,
replay fencing (sum-merge would double-count — the ledger must stop
it), both torn-state windows, and a real readStream run."""

import os
import shutil

import pyspark.sql.functions as F

from hadoop_search_spark.operators.sketch import cms_sketch
from hadoop_search_spark.streaming.sketch_ingest import StreamingCmsCounter
from hadoop_search_spark.streaming.store import current_version as _current_version

SF_DIR = "/root/testdata/sf0.001"


def _cells(df):
    return {(r.row, r.col): r.cnt for r in df.collect()}


def _epochs(spark, n=3):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    return li, [li.filter(F.col("l_orderkey") % n == i) for i in range(n)]


def test_stream_equals_batch_sketch(spark, tmp_path):
    li, parts = _epochs(spark)
    c = StreamingCmsCounter(spark, str(tmp_path / "store"), "l_partkey")
    for e, p in enumerate(parts):
        c.process_batch(p, e)
    assert _cells(c.cells()) == _cells(cms_sketch(li, "l_partkey"))
    # conservation: every input row lands in exactly d cells
    total = sum(_cells(c.cells()).values())
    assert total == 5 * li.count()
    est = {r.value: r.est for r in c.counts(li.select("l_partkey")).collect()}
    true = {
        r.l_partkey: r.n
        for r in li.groupBy("l_partkey").agg(F.count("*").alias("n")).collect()
    }
    assert all(est[v] >= t for v, t in true.items())


def test_replay_is_fenced_not_double_counted(spark, tmp_path):
    """Sum-merge is NOT idempotent — a replayed committed epoch must
    be stopped by the ledger, or every count doubles."""
    li, parts = _epochs(spark)
    root = str(tmp_path / "store")
    c = StreamingCmsCounter(spark, root, "l_partkey")
    c.process_batch(parts[0], 0)
    c.process_batch(parts[1], 1)
    before = _cells(c.cells())
    v = _current_version(root)
    c.process_batch(parts[1], 1)  # replay of a committed epoch
    assert _cells(c.cells()) == before
    assert _current_version(root) == v


def test_torn_states_heal(spark, tmp_path):
    """(a) cells written but ledger lost → orphan swept, rebuild from
    the still-current previous version (no double count); (b) ledger
    written but pointer not flipped → replay re-flips to the ledger's
    version without re-merging."""
    li, parts = _epochs(spark)
    root = str(tmp_path / "store")
    c = StreamingCmsCounter(spark, root, "l_partkey")
    c.process_batch(parts[0], 0)

    # (a) orphan v1 (pre-ledger crash), pointer still v0
    orphan = os.path.join(root, "v1", "cells")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "junk"), "w") as f:
        f.write("partial")
    c.process_batch(parts[1], 1)
    want01 = _cells(
        cms_sketch(li.filter(F.col("l_orderkey") % 3 <= 1), "l_partkey")
    )
    assert _cells(c.cells()) == want01

    # (b) roll the pointer back to simulate ledger-written/not-flipped
    with open(os.path.join(root, "_CURRENT.tmp"), "w") as f:
        f.write("v0")
    os.replace(os.path.join(root, "_CURRENT.tmp"), os.path.join(root, "_CURRENT"))
    c.process_batch(parts[1], 1)  # replay heals the pointer
    assert _current_version(root) == 1
    assert _cells(c.cells()) == want01


def test_stream_api_end_to_end(spark, tmp_path):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    ingest = str(tmp_path / "ingest")
    li.write.parquet(ingest)
    stream = spark.readStream.schema(
        "l_orderkey BIGINT, l_partkey BIGINT"
    ).parquet(ingest)
    c = StreamingCmsCounter(spark, str(tmp_path / "store"), "l_partkey")
    q = c.start(stream, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    assert _cells(c.cells()) == _cells(cms_sketch(li, "l_partkey"))
    shutil.rmtree(str(tmp_path / "ckpt"), ignore_errors=True)
