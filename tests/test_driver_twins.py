"""Randomized engine↔driver-twin equivalence (r11 ADVICE).

The r11 serving fix moved the request-sized query math (cell
ranking, OPQ rotation, ADC LUT) onto the driver as exact Python
twins of the Catalyst expressions. The fixture goldens pin the
equivalence only on fixture bytes; the rotation twin additionally
leans on ``Decimal(str(x))`` matching Spark's double→decimal cast
(``BigDecimal.valueOf`` → ``Double.toString``), which on this
JDK 17 runtime is the LEGACY repr (not always shortest until
JDK 19). These tests pin the equivalence on randomized inputs —
mixed magnitudes plus doubles engineered onto the 0.5e-9 HALF_UP
knife edge where a repr difference would first show — so a silent
driver-LUT/index desync cannot hide behind the fixtures.

All randomness is seeded (deterministic across runs and hosts);
comparisons are BIT-exact via struct packing, not approx.
"""

from __future__ import annotations

import math
import random
import struct
from decimal import Decimal

from pyspark.sql import functions as F

from hadoop_search_spark.operators.similarity import (
    _cell_ranking,
    _opq_rotate_expr,
    _pq_lut,
    _py_cell_ranking,
    _py_opq_rotate,
    _py_pq_lut,
)

DIM = 16


def _bits(vec):
    return struct.pack(f"<{len(vec)}d", *vec)


def _knife_edge_values(rng: random.Random, n: int) -> list[float]:
    """Doubles straddling (k + 0.5)·1e-9 HALF_UP boundaries: the
    nearest double to the boundary plus its two neighbours — exactly
    where a legacy-vs-shortest ``Double.toString`` digit difference
    would flip the quantized term."""
    vals: list[float] = []
    for _ in range(n):
        k = rng.randrange(-(10**9), 10**9)
        half = Decimal("0.5") if k >= 0 else Decimal("-0.5")
        d = float((Decimal(k) + half) * Decimal("1e-9"))
        vals.extend(
            [d, math.nextafter(d, math.inf), math.nextafter(d, -math.inf)]
        )
    return vals


def _mixed_magnitudes(rng: random.Random, n: int) -> list[float]:
    return [
        rng.choice([-1.0, 1.0]) * (10.0 ** rng.uniform(-12.0, 9.0)) * rng.random()
        for _ in range(n)
    ]


def _rows_of(vals: list[float], dim: int = DIM):
    vals = list(vals)
    while len(vals) % dim:
        vals.append(0.0)
    return [(i, vals[i * dim : (i + 1) * dim]) for i in range(len(vals) // dim)]


def test_opq_rotate_twin_knife_edge_identity(spark):
    """Identity rotation isolates the per-term double→decimal(·,9)
    quantization: out[i] = q9(x[i]·1.0) (+ zero terms), so every input
    value probes the cast repr directly. ~6k boundary-straddling +
    ~6k mixed-magnitude values, bit-exact."""
    rng = random.Random(0xC0FFEE)
    vals = _knife_edge_values(rng, 2000) + _mixed_magnitudes(rng, 6000)
    rows = _rows_of(vals)
    mean = [0.0] * DIM
    comps = [[1.0 if j == i else 0.0 for j in range(DIM)] for i in range(DIM)]
    perm = list(range(DIM))
    df = spark.createDataFrame(rows, "id INT, embedding ARRAY<DOUBLE>")
    got = {
        r.id: list(r.out)
        for r in df.select(
            "id",
            _opq_rotate_expr(F.col("embedding"), mean, comps, perm).alias(
                "out"
            ),
        ).collect()
    }
    for i, vec in rows:
        assert _bits(got[i]) == _bits(_py_opq_rotate(vec, (mean, comps, perm)))


def test_opq_rotate_twin_random_rotation(spark):
    """Full random (mean, components, permutation) over random
    vectors — the composed fold (centering, per-term products,
    decimal sum, permuted allocation) bit-exact, not just the
    quantization primitive."""
    rng = random.Random(0x5EED)
    mean = [rng.uniform(-2.0, 2.0) for _ in range(DIM)]
    comps = [
        [rng.uniform(-1.0, 1.0) for _ in range(DIM)] for _ in range(DIM)
    ]
    perm = list(range(DIM))
    rng.shuffle(perm)
    rows = _rows_of(_mixed_magnitudes(rng, 200 * DIM))
    df = spark.createDataFrame(rows, "id INT, embedding ARRAY<DOUBLE>")
    got = {
        r.id: list(r.out)
        for r in df.select(
            "id",
            _opq_rotate_expr(F.col("embedding"), mean, comps, perm).alias(
                "out"
            ),
        ).collect()
    }
    for i, vec in rows:
        assert _bits(got[i]) == _bits(_py_opq_rotate(vec, (mean, comps, perm)))


def test_cell_ranking_twin_random(spark):
    """Driver cell ranking == engine ``_cell_ranking`` struct order on
    random centroids/queries, including exact-tie cells (duplicated
    centroid → cell-asc tiebreak) and scaled-copy queries (cosine 1
    against their source centroid)."""
    rng = random.Random(0xCE11)
    cents = [
        (c, [rng.uniform(-1.0, 1.0) for _ in range(DIM)]) for c in range(7)
    ]
    cents.append((7, list(cents[2][1])))  # exact duplicate → tie
    queries = [[rng.uniform(-1.0, 1.0) for _ in range(DIM)] for _ in range(40)]
    queries.append([x * 3.0 for x in cents[4][1]])  # scaled copy
    queries.append([-x for x in cents[0][1]])  # antipodal
    rows = [(i, q) for i, q in enumerate(queries)]
    df = spark.createDataFrame(rows, "id INT, embedding ARRAY<DOUBLE>")
    ranked = F.transform(
        _cell_ranking(F.col("embedding"), cents), lambda s: s.cell
    )
    got = {
        r.id: list(r.cells)
        for r in df.select("id", ranked.alias("cells")).collect()
    }
    for i, q in rows:
        assert got[i] == _py_cell_ranking(q, cents)


def test_pq_lut_twin_random(spark):
    """Driver ADC LUT == engine ``_pq_lut`` — exact BIGINT entries on
    random codebooks and mixed-magnitude vectors (m=4 subspaces,
    k=8 centroids, sub=4). Magnitudes capped at ~10³: the quantized
    distance Σ floor((x−c)²·1e12) is BIGINT by the embedding-scale
    contract (sub·(2e3)²·1e12 ≈ 1.6e19 is already the edge) — both
    engine and twin would overflow identically beyond it."""
    rng = random.Random(0x1D7)
    m, kc, sub = 4, 8, DIM // 4
    books = [
        [[rng.uniform(-1.0, 1.0) for _ in range(sub)] for _ in range(kc)]
        for _ in range(m)
    ]
    rows = _rows_of(
        [
            rng.choice([-1.0, 1.0])
            * (10.0 ** rng.uniform(-12.0, 2.7))
            * rng.random()
            for _ in range(60 * DIM)
        ]
    )
    df = spark.createDataFrame(rows, "id INT, embedding ARRAY<DOUBLE>")
    got = {
        r.id: [int(x) for x in r.lut]
        for r in df.select(
            "id", _pq_lut(F.col("embedding"), books, sub).alias("lut")
        ).collect()
    }
    for i, vec in rows:
        assert got[i] == _py_pq_lut(vec, books, sub)


def test_cell_ranking_zero_norm_centroid_raises():
    """A degenerate (all-zero) quantizer centroid raises a contract
    error naming the cell — not a bare ZeroDivisionError (r11
    ADVICE)."""
    import pytest

    cents = [(0, [1.0, 0.0]), (1, [0.0, 0.0])]
    with pytest.raises(ValueError, match="cell 1"):
        _py_cell_ranking([1.0, 2.0], cents)
    with pytest.raises(ValueError, match="zero-norm query"):
        _py_cell_ranking([0.0, 0.0], [(0, [1.0, 0.0])])


def test_model_cache_cross_process_rebuild(spark, tmp_path):
    """The model cache detects an in-place rebuild performed by a
    DIFFERENT process (r11 ADVICE): the in-process writer drop can't
    fire there, so the cache validates a persisted fingerprint
    (file listing of /centroids) on every read. Simulated by
    re-entering the stale pre-rebuild model under the OLD
    fingerprint after the rebuild — exactly the state a long-lived
    serving session is in after a CLI rebuild."""
    from hadoop_search_spark import session as S
    from hadoop_search_spark.operators.similarity import (
        LAYOUTS,
        _model_fingerprint,
        _models,
        write_ivf_index,
    )

    ivf = LAYOUTS["ivf"]
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path, num_centroids=4)
    old_model = _models(spark, path, ivf)
    models = S._MEMO[(spark.sparkContext.applicationId, "model")]
    old_fp = models[path][0]
    assert old_fp == ("ivf", _model_fingerprint(spark, path))

    # in-place rebuild with a different quantizer (8 cells)
    new_cents = write_ivf_index(emb, path, num_centroids=8)
    assert path not in models  # the publish dropped its key
    # simulate "other process rebuilt": re-enter the stale model the
    # publish just dropped, under the old fingerprint
    assert S.memo(spark, "model", path, lambda: old_model, old_fp) is old_model

    served = _models(spark, path, ivf)
    assert served.cents == new_cents and len(served.cents) == 8

    # unchanged artifact → stable fingerprint → true cache hit
    fp2 = _model_fingerprint(spark, path)
    assert fp2 == _model_fingerprint(spark, path)
    assert _models(spark, path, ivf) is served


def test_model_cache_bounded(spark):
    """Eviction keeps each memo kind at _MEMO_BOUND entries, least
    recently used first, and releases what an evicted entry holds: a
    persisted frame is unpersisted and a memo-owned ``TempDir`` removed
    (a plain path string is left alone) — per-mkdtemp test indexes
    must not accumulate forever."""
    import os
    import tempfile

    from hadoop_search_spark import session as S

    kind = "bound-test"
    df = spark.range(3).persist()
    df.count()
    tmp = S.TempDir(tempfile.mkdtemp(prefix="memo_bound_"))
    kept = tempfile.mkdtemp(prefix="memo_bound_kept_")  # not memo-owned
    try:
        assert S.memo(spark, kind, "df", lambda: df) is df  # true hit
        assert S.memo(spark, kind, "df", lambda: None) is df
        S.memo(spark, kind, "dir", lambda: tmp)
        S.memo(spark, kind, "kept", lambda: kept)
        for i in range(S._MEMO_BOUND + 8):
            S.memo(spark, kind, f"k{i}", lambda i=i: i, ("fp",))
        shelf = S._MEMO[(spark.sparkContext.applicationId, kind)]
        assert len(shelf) == S._MEMO_BOUND
        assert not {"df", "dir", "kept"} & set(shelf)
        assert "k7" not in shelf and f"k{S._MEMO_BOUND + 7}" in shelf
        assert not df.is_cached and not df.storageLevel.useDisk
        assert not df.storageLevel.useMemory
        assert not os.path.exists(tmp) and os.path.isdir(kept)
        assert S.memo(spark, kind, "k8", lambda: "reloaded", ("fp",)) == 8
        assert S.memo(spark, kind, "k8", lambda: "new", ("fp2",)) == "new"
    finally:
        S.forget(kind, lambda k: True)
        df.unpersist()
        os.rmdir(kept)
