"""Streaming vector-space near-dup ingestion: greedy-online dedup of
an arriving embedding stream, differentially tested against an
independent sequential evaluator that re-derives sign-projection
buckets and 9dp cosines with plain sequential Python arithmetic."""

import hashlib
import os
import random
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import functions as F

from hadoop_search_spark.streaming.vector_ingest import (
    VECS_SCHEMA,
    StreamingVectorDeduper,
)

THRESHOLD = 0.95
PLANES = 8
DIM = 16


def _q9(x: float) -> Decimal:
    """Spark's round(double, 9): BigDecimal of the shortest decimal
    repr, HALF_UP — Decimal(str(x)) is the Python twin (cookbook)."""
    return Decimal(str(x)).quantize(Decimal("1e-9"), ROUND_HALF_UP)


def _sign(p: int, i: int) -> float:
    h = int(hashlib.md5(f"{p}:{i}".encode()).hexdigest()[:10], 16)
    return float(h % 2 * 2 - 1)


def _bucket(v):
    b = 0
    for p in range(PLANES):
        s = 0.0
        for i in range(DIM):
            s += v[i] * _sign(p, i)  # left-to-right, like F.aggregate
        b = b * 2 + (1 if _q9(s) > 0 else 0)
    return b


def _cos9(a, b):
    dot = 0.0
    na = 0.0
    nb = 0.0
    for x, y in zip(a, b):
        dot += x * y
    for x in a:
        na += x * x
    for y in b:
        nb += y * y
    return _q9(dot / (na**0.5 * nb**0.5))


def _greedy_accept(rows):
    accepted = []
    thr = Decimal(str(THRESHOLD))
    for vid, v in rows:
        bk = _bucket(v)
        dup = False
        for _vid2, v2, bk2 in accepted:
            if bk == bk2 and _cos9(v, v2) >= thr:
                dup = True
                break
        if not dup:
            accepted.append((vid, v, bk))
    return {vid for vid, _, _ in accepted}


def _mk_vectors(rng, n):
    """Planted near-dup families: unit-ish base directions plus tiny
    perturbations (cosine ~1 within a family) and occasional fresh
    directions; chains exist, so greedy-online and offline clustering
    genuinely differ."""
    rows = []
    base = None
    for i in range(n):
        if base is None or rng.random() < 0.35:
            base = [rng.uniform(-1, 1) for _ in range(DIM)]
        v = [x + rng.uniform(-0.02, 0.02) for x in base]
        rows.append((i, v))
    return rows


def test_streaming_vector_dedup_matches_sequential_greedy(spark, tmp_path):
    rng = random.Random(11)
    rows = _mk_vectors(rng, 45)
    want = _greedy_accept(rows)
    assert 3 < len(want) < len(rows)  # fixture plants dups AND survivors

    dd = StreamingVectorDeduper(
        spark, str(tmp_path / "store"), THRESHOLD, PLANES, DIM
    )
    for epoch, lo, hi in ((0, 0, 15), (1, 15, 30), (2, 30, 45)):
        batch = spark.createDataFrame(
            [r for r in rows if lo <= r[0] < hi], VECS_SCHEMA
        )
        dd.process_batch(batch, epoch)

    got = {r.vec_id for r in dd.current_vectors().collect()}
    assert got == want

    # replaying a published epoch is a no-op (idempotent publish)
    dd.process_batch(spark.createDataFrame(rows[:5], VECS_SCHEMA), 2)
    assert {r.vec_id for r in dd.current_vectors().collect()} == want


def test_streaming_ivf_indexer_full_online_loop(spark, tmp_path):
    """The composed online index-maintenance loop: stream epochs
    through dedup → frozen-quantizer append → drift postcondition.
    Asserts (a) the index equals offline build + appends of exactly
    the ADMITTED vectors (rejected near-dups never reach it),
    (b) ledgered epochs replay as no-ops and the append-committed/
    marker-lost crash window self-heals without duplicate rows,
    (c) the drift flag fires on a shifted epoch and names the right
    cell, with earlier epochs' reports staying quiet."""
    import os

    from hadoop_search_spark.operators.similarity import (
        ivf_assign,
        write_ivf_index,
    )
    from hadoop_search_spark.streaming.ivf_ingest import StreamingIvfIndexer

    def vec(axis, tilt_dim, w):
        v = [0.0] * DIM
        v[axis] = 1.0
        v[tilt_dim] = w
        return v

    # offline corpus: 4 axis clusters, members tilted w=0.3 on varying
    # high dims (pairwise cosine ~0.69–0.92 < dedup threshold; cosine
    # to centroid ~0.96)
    base_rows = [
        (i, vec(i % 4, 8 + (i // 4) % 8, 0.3)) for i in range(40)
    ]
    base = spark.createDataFrame(base_rows, VECS_SCHEMA)
    index_path = str(tmp_path / "ivf")
    cents = write_ivf_index(base, index_path, num_centroids=4)

    ix = StreamingIvfIndexer(
        spark, str(tmp_path / "online"), index_path,
        threshold=THRESHOLD, num_planes=PLANES, dim=DIM,
    )

    # epoch 0: 8 in-distribution vectors, plus 101 = exact dup of 100
    e0_rows = [(100 + i, vec(i % 4, 8 + i % 8, 0.3)) for i in range(8)]
    e0_rows.append((108, list(e0_rows[0][1])))  # near-dup: rejected
    ix.process_batch(spark.createDataFrame(e0_rows, VECS_SCHEMA), 0)
    # epoch 1: 8 more, distinct tilt dims
    e1_rows = [(200 + i, vec((i + 1) % 4, 8 + (i + 3) % 8, 0.3))
               for i in range(8)]
    ix.process_batch(spark.createDataFrame(e1_rows, VECS_SCHEMA), 1)

    admitted = {r.vec_id for r in ix.current_vectors().collect()}
    assert 108 not in admitted and {100, 200} <= admitted

    def index_pairs():
        return {
            (r.vec_id, r.cell)
            for r in spark.read.parquet(f"{index_path}/vectors")
            .select("vec_id", "cell")
            .collect()
        }

    all_rows = base_rows + [r for r in e0_rows + e1_rows
                            if r[0] in admitted or r[0] < 100]
    expect = {
        (r.vec_id, r.cell)
        for r in ivf_assign(
            spark.createDataFrame(all_rows, VECS_SCHEMA), cents
        ).collect()
    }
    assert index_pairs() == expect

    # ledgered replay: no-op
    ix.process_batch(spark.createDataFrame(e1_rows, VECS_SCHEMA), 1)
    assert index_pairs() == expect
    # crash window: append committed, marker lost — replay self-heals
    os.remove(os.path.join(index_path, "_EPOCHS", "epoch-1"))
    ix.process_batch(spark.createDataFrame(e1_rows, VECS_SCHEMA), 1)
    assert index_pairs() == expect
    assert os.path.exists(os.path.join(index_path, "_EPOCHS", "epoch-1"))
    rows = spark.read.parquet(f"{index_path}/vectors").count()
    assert rows == len(expect)  # no duplicate appends

    # quiet epochs: no drift flags yet
    rep = ix.drift_reports()
    assert rep is not None
    assert rep.filter("drifted").count() == 0

    # epoch 2: shifted — all into cell 2's neighborhood, far off its
    # centroid (w=2 tilt), mutually non-duplicate (distinct tilt dims)
    e2_rows = [(300 + i, vec(2, 4 + i, 2.0)) for i in range(10)]
    ix.process_batch(spark.createDataFrame(e2_rows, VECS_SCHEMA), 2)
    last = ix.drift_reports().filter("epoch = 2")
    flagged = {r.cell for r in last.filter("drifted").collect()}
    assert 2 in flagged
    # earlier epochs' committed reports unchanged (still quiet)
    assert ix.drift_reports().filter(
        "epoch < 2 AND drifted"
    ).count() == 0

    # trend trigger: one flagged epoch is not yet persistent at k=2
    # (epoch 1 was quiet); a second shifted epoch makes it so
    assert {r.cell for r in ix.persistent_drift(k=1).collect()} == {2}
    assert ix.persistent_drift(k=2).count() == 0
    e3_rows = [(400 + i, vec(2, 4 + i, 2.2)) for i in range(10)]
    ix.process_batch(spark.createDataFrame(e3_rows, VECS_SCHEMA), 3)
    assert {r.cell for r in ix.persistent_drift(k=2).collect()} == {2}


def test_streaming_int8_indexer_layout(spark, tmp_path):
    """The online loop over the IVF-SQ8 layout (r9: layout='int8'):
    dedup → frozen-coarse-quantizer int8 append → int8 drift
    postcondition. Asserts the published int8 store equals offline
    build + appends of exactly the ADMITTED vectors (same (vec_id,
    cell) pairs AND same quantized content checksum), ledgered
    replay + the marker-lost crash window stay duplicate-free, and
    the shifted epoch flags its cell in the store-only drift report."""
    import os

    from hadoop_search_spark.operators.similarity import (
        embedding_quantize_int8,
        ivf_assign,
        write_int8_index,
    )
    from hadoop_search_spark.streaming.ivf_ingest import StreamingIvfIndexer

    import pytest

    def vec(axis, tilt_dim, w):
        v = [0.0] * DIM
        v[axis] = 1.0
        v[tilt_dim] = w
        return v

    base_rows = [
        (i, vec(i % 4, 8 + (i // 4) % 8, 0.3)) for i in range(40)
    ]
    base = spark.createDataFrame(base_rows, VECS_SCHEMA)
    index_path = str(tmp_path / "int8idx")
    cents = write_int8_index(base, index_path, num_centroids=4)

    with pytest.raises(ValueError, match="unknown index layout"):
        StreamingIvfIndexer(
            spark, str(tmp_path / "bad"), index_path, layout="pq"
        )
    # the published layout is read from the index itself
    with pytest.raises(ValueError, match="has layout 'int8', not 'ivf'"):
        StreamingIvfIndexer(spark, str(tmp_path / "bad"), index_path)
    with pytest.raises(ValueError, match="no published index"):
        StreamingIvfIndexer(
            spark, str(tmp_path / "bad"), str(tmp_path / "none"),
            layout="int8",
        )

    ix = StreamingIvfIndexer(
        spark, str(tmp_path / "online8"), index_path,
        threshold=THRESHOLD, num_planes=PLANES, dim=DIM, layout="int8",
    )

    e0_rows = [(100 + i, vec(i % 4, 8 + i % 8, 0.3)) for i in range(8)]
    e0_rows.append((108, list(e0_rows[0][1])))  # near-dup: rejected
    ix.process_batch(spark.createDataFrame(e0_rows, VECS_SCHEMA), 0)
    e1_rows = [(200 + i, vec((i + 1) % 4, 8 + (i + 3) % 8, 0.3))
               for i in range(8)]
    ix.process_batch(spark.createDataFrame(e1_rows, VECS_SCHEMA), 1)

    admitted = {r.vec_id for r in ix.current_vectors().collect()}
    assert 108 not in admitted and {100, 200} <= admitted

    def store_rows():
        return {
            (r.vec_id, r.cell, r.qsum)
            for r in spark.read.parquet(f"{index_path}/vectors")
            .select(
                "vec_id", "cell",
                F.aggregate(
                    "qvec", F.lit(0).cast("bigint"),
                    lambda a, q: a + F.abs(q).cast("bigint"),
                ).alias("qsum"),
            )
            .collect()
        }

    all_rows = base_rows + [r for r in e0_rows + e1_rows
                            if r[0] in admitted]
    full = spark.createDataFrame(all_rows, VECS_SCHEMA)
    expect = {
        (r.vec_id, r.cell, r.qsum)
        for r in ivf_assign(full, cents)
        .select("vec_id", "cell")
        .join(
            embedding_quantize_int8(full).select(
                "vec_id", F.col("sum_qabs").alias("qsum")
            ),
            "vec_id",
        )
        .collect()
    }
    assert store_rows() == expect

    # ledgered replay + marker-lost crash window: duplicate-free
    ix.process_batch(spark.createDataFrame(e1_rows, VECS_SCHEMA), 1)
    assert store_rows() == expect
    os.remove(os.path.join(index_path, "_EPOCHS", "epoch-1"))
    ix.process_batch(spark.createDataFrame(e1_rows, VECS_SCHEMA), 1)
    assert store_rows() == expect
    assert spark.read.parquet(f"{index_path}/vectors").count() == len(expect)

    rep = ix.drift_reports()
    assert rep is not None and rep.filter("drifted").count() == 0

    # shifted epoch: cell 2's neighborhood, far off its centroid
    e2_rows = [(300 + i, vec(2, 4 + i, 2.0)) for i in range(10)]
    ix.process_batch(spark.createDataFrame(e2_rows, VECS_SCHEMA), 2)
    flagged = {
        r.cell
        for r in ix.drift_reports().filter("epoch = 2 AND drifted").collect()
    }
    assert 2 in flagged
    assert ix.drift_reports().filter("epoch < 2 AND drifted").count() == 0


def test_streaming_vector_dedup_stream_api(spark, tmp_path):
    rng = random.Random(5)
    rows = _mk_vectors(rng, 24)
    want = _greedy_accept(rows)

    ingest = str(tmp_path / "incoming")
    os.makedirs(ingest)
    dd = StreamingVectorDeduper(
        spark, str(tmp_path / "store"), THRESHOLD, PLANES, DIM
    )
    stream = spark.readStream.schema(VECS_SCHEMA).parquet(ingest)
    q = dd.start(stream, str(tmp_path / "ckpt"))
    try:
        df = spark.createDataFrame(rows, VECS_SCHEMA)
        df.filter(F.col("vec_id") < 12).coalesce(1).write.mode("append").parquet(
            ingest
        )
        q.processAllAvailable()
        assert 0 < dd.current_vectors().count() <= 12
        df.filter(F.col("vec_id") >= 12).coalesce(1).write.mode("append").parquet(
            ingest
        )
        q.processAllAvailable()
    finally:
        q.stop()
    assert {r.vec_id for r in dd.current_vectors().collect()} == want


def test_streaming_ivfpq_indexer_layout(spark, tmp_path):
    """The online loop over the IVF-PQ codes layout (r10:
    layout='ivfpq'): dedup → frozen-models packed-code append →
    per-cell code-drift rollup postcondition. Asserts the published
    codes table equals offline build + appends of exactly the
    ADMITTED vectors (same (vec_id, cell, code) triples — the code
    IS the content checksum), ledgered replay stays duplicate-free,
    and appends land under the persisted residual_opq ENCODING (the
    maintainer never re-derives what codes mean — ivfpq_index_add
    reads /encoding)."""
    from hadoop_search_spark.operators.similarity import (
        _ivfpq_encode_frame,
        load_ivfpq_encoding,
        load_ivfpq_models,
        write_ivfpq_index,
    )
    from hadoop_search_spark.streaming.ivf_ingest import StreamingIvfIndexer

    def vec(axis, tilt_dim, w):
        v = [0.0] * DIM
        v[axis] = 1.0
        v[tilt_dim] = w
        return v

    base_rows = [
        (i, vec(i % 4, 8 + (i // 4) % 8, 0.3)) for i in range(40)
    ]
    base = spark.createDataFrame(base_rows, VECS_SCHEMA)
    index_path = str(tmp_path / "pqidx")
    # residual encoding exercises the encode-frame round-trip through
    # the maintainer hardest (codes depend on the frozen cells)
    write_ivfpq_index(
        base, index_path, num_centroids=4, dim=DIM, encoding="residual"
    )
    assert load_ivfpq_encoding(spark, index_path)[0] == "residual"

    ix = StreamingIvfIndexer(
        spark, str(tmp_path / "onlinepq"), index_path,
        threshold=THRESHOLD, num_planes=PLANES, dim=DIM, layout="ivfpq",
    )

    e0_rows = [(100 + i, vec(i % 4, 8 + i % 8, 0.3)) for i in range(8)]
    e0_rows.append((108, list(e0_rows[0][1])))  # near-dup: rejected
    ix.process_batch(spark.createDataFrame(e0_rows, VECS_SCHEMA), 0)
    e1_rows = [(200 + i, vec((i + 1) % 4, 8 + (i + 3) % 8, 0.3))
               for i in range(8)]
    ix.process_batch(spark.createDataFrame(e1_rows, VECS_SCHEMA), 1)

    admitted = {r.vec_id for r in ix.current_vectors().collect()}
    assert 108 not in admitted and {100, 200} <= admitted

    def codes_rows():
        return {
            (r.vec_id, r.cell, r.code)
            for r in spark.read.parquet(f"{index_path}/codes")
            .select("vec_id", "cell", "code")
            .collect()
        }

    cents, books = load_ivfpq_models(spark, index_path)
    all_rows = base_rows + [r for r in e0_rows + e1_rows
                            if r[0] in admitted]
    full = spark.createDataFrame(all_rows, VECS_SCHEMA)
    expect = {
        (r.vec_id, r.cell, r.code)
        for r in _ivfpq_encode_frame(
            full, cents, books, DIM, "residual"
        ).collect()
    }
    assert codes_rows() == expect

    # ledgered replay: duplicate-free
    ix.process_batch(spark.createDataFrame(e1_rows, VECS_SCHEMA), 1)
    assert codes_rows() == expect

    # drift postcondition committed per epoch with the per-cell shape
    rep = ix.drift_reports()
    assert rep is not None
    cols = set(rep.columns)
    assert {"cell", "n_orig", "n_new", "drifted"} <= cols
    assert rep.filter(F.col("epoch") == 1).count() > 0
