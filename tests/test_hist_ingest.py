"""Streaming histogram store: stream==batch exact bucket equality
under frozen bounds, replay fencing (sum-merge), both torn-state
windows, quantile brackets over the streamed store, and out-of-bounds
late data clamping into the edge buckets (rank math intact)."""

import math
import os

import pyspark.sql.functions as F

from hadoop_search_spark.operators.sketch import hist_bounds, hist_sketch
from hadoop_search_spark.streaming.sketch_ingest import StreamingHistogram
from hadoop_search_spark.streaming.store import current_version as _current_version

SF_DIR = "/root/testdata/sf0.001"


def _buckets(df):
    return {r.bucket: r.cnt for r in df.collect()}


def _setup(spark, n=3):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    lo, hi = hist_bounds(li, "l_extendedprice")
    hi += 1e-9
    parts = [li.filter(F.col("l_orderkey") % n == i) for i in range(n)]
    return li, lo, hi, parts


def test_stream_equals_batch_and_quantiles(spark, tmp_path):
    li, lo, hi, parts = _setup(spark)
    h = StreamingHistogram(spark, str(tmp_path / "store"),
                           "l_extendedprice", lo, hi)
    for e, p in enumerate(parts):
        h.process_batch(p, e)
    assert _buckets(h.sketch()) == _buckets(
        hist_sketch(li, "l_extendedprice", lo, hi)
    )
    # quantile brackets over the streamed store contain the exact
    # rank-q values of EVERYTHING ingested
    vals = sorted(r.l_extendedprice for r in
                  li.select("l_extendedprice").collect())
    out = {r.q: r for r in h.quantiles([0.25, 0.5, 0.95]).collect()}
    for q in (0.25, 0.5, 0.95):
        exact = vals[math.ceil(q * len(vals)) - 1]
        assert out[q].value_lo <= exact <= out[q].value_hi


def test_replay_is_fenced_and_torn_states_heal(spark, tmp_path):
    li, lo, hi, parts = _setup(spark)
    root = str(tmp_path / "store")
    h = StreamingHistogram(spark, root, "l_extendedprice", lo, hi)
    h.process_batch(parts[0], 0)
    h.process_batch(parts[1], 1)
    before = _buckets(h.sketch())
    v = _current_version(root)
    h.process_batch(parts[1], 1)  # replay of a committed epoch
    assert _buckets(h.sketch()) == before and _current_version(root) == v

    # ledger-written/pointer-not-flipped: roll the pointer back, the
    # replay re-flips without re-merging
    with open(os.path.join(root, "_CURRENT.tmp"), "w") as f:
        f.write("v0")
    os.replace(os.path.join(root, "_CURRENT.tmp"),
               os.path.join(root, "_CURRENT"))
    h.process_batch(parts[1], 1)
    assert _current_version(root) == v
    assert _buckets(h.sketch()) == before

    # pre-ledger orphan: junk v2 dir is swept by the next real epoch
    orphan = os.path.join(root, "v2", "buckets")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "junk"), "w") as f:
        f.write("partial")
    h.process_batch(parts[2], 2)
    assert _buckets(h.sketch()) == _buckets(
        hist_sketch(li, "l_extendedprice", lo, hi)
    )


def test_out_of_bounds_late_data_clamps(spark, tmp_path):
    """Bounds are frozen at store creation: a later batch exceeding
    them lands in the edge buckets — total counts conserved (rank math
    intact), drift visible as edge mass."""
    li, lo, hi, parts = _setup(spark)
    h = StreamingHistogram(spark, str(tmp_path / "store"),
                           "l_extendedprice", lo, hi)
    h.process_batch(parts[0], 0)
    wild = spark.range(100).select(
        (F.lit(hi) * 1000 + F.col("id")).alias("l_extendedprice")
    )
    h.process_batch(wild, 1)
    b = _buckets(h.sketch())
    assert b[255] >= 100  # clamped into the top edge bucket
    assert sum(b.values()) == parts[0].count() + 100
