"""Similarity search over embedding columns (SURVEY.md §7 phase 5).

Two paths over ``embeddings(vec_id, embedding ARRAY<FLOAT>, label)``:

* **brute-force cosine top-k** — the correctness baseline: exact
  cosine against every corpus vector, per-query top-k. Expressed with
  higher-order array functions (``zip_with`` + ``aggregate``), fully
  codegen'd, one broadcast of the query vectors — no shuffle of the
  corpus side at all.
* **LSH-bucketed top-k** — the scale path: sign-random-projection
  buckets from md5-derived deterministic hyperplanes; the corpus is
  scanned once, bucketed, and only the query's bucket is searched.
  Deterministic hashes keep it SQL-oracle-checkable; recall < 1 by
  design (documented) but identical across engines.

Cosines are rounded to 9dp and ordered (cosine desc, vec_id) so
near-tie ordering is identical in Spark and the DuckDB oracle
(partial-sum ordering of a 64-term float dot product can differ in
the last ulp).

At 100 TB: the corpus side never materializes per-pair rows in the
brute-force path (queries broadcast, per-row loop is an array
expression); top-k per query is a window over query-partitioned data.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hadoop_search_spark.session import forget, memo

NUM_HYPERPLANES = 8
_HP_HEX = 10  # 40-bit hyperplane component hashes


def _dot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: F.Column) -> F.Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _cosine(a: F.Column, b: F.Column) -> F.Column:
    """Cosine rounded to 9dp — the rounding is load-bearing for oracle
    bit-parity (partial-sum order of the dot product differs across
    engines); every similarity path must use this one definition.

    Zero-vector caveat: an all-zero side yields 0/0 = NaN, which BOTH
    Spark and DuckDB order greatest — cross-engine consistent, but it
    would top a descending ranking. The int8 paths exclude qn=0 rows
    instead (r8); the float paths keep the shared NaN behavior since
    a cosine store has no business holding zero vectors — normalize
    or drop them upstream."""
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), 9)


def _cosine_names(a: str, b: str) -> F.Column:
    """:func:`_cosine` over two NAMED array columns, built as ONE
    parsed SQL string (r12): the Column/lambda form issues ~50 py4j
    round trips (6 higher-order functions) per fresh plan — a
    measured ~0.1 s construct constant on the exact-cosine headline.
    Resolves to the SAME optimized plan; pinned canonically-equal and
    value-equal to :func:`_cosine` by ``tests/test_expr_twins.py``.
    Same 9dp rounding, same NaN contract."""

    def dot(u: str, v: str) -> str:
        return (
            f"aggregate(zip_with({u}, {v}, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "0.0D, (acc, v) -> acc + v)"
        )

    def norm(u: str) -> str:
        return (
            f"sqrt(aggregate(transform({u}, "
            "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
            "0.0D, (acc, v) -> acc + v))"
        )

    return F.expr(f"round({dot(a, b)} / ({norm(a)} * {norm(b)}), 9)")


# Integer quantization scale for ORDER-EXACT decision arithmetic (cell
# argmin, PQ code argmin, ADC distances): each per-element double term
# floors at 1e-12 resolution to a BIGINT, so the sum is exact integer
# arithmetic — identical under ANY partitioning, thread order, or
# engine. 1e12 is exactly representable as a double; |term|·1e12 ≤
# ~1e16 per element and dims ≤ 64 keep every sum far inside int64.
# This replaced the r6 recipe (float sum → round(·,9) → argmin): a
# DuckDB parallel float sum is thread-order-dependent, and one vector
# whose rounded value straddled a 9dp boundary flipped cells between
# oracle runs (the sim_ivfpq_drift r6 driver flake — r6 VERDICT #1).
# floor() of an identical double is deterministic cross-engine where
# round() of one is not (the established r4 rule).
_QS = 1_000_000_000_000.0  # 1e12


def _sql_double_array(vec) -> str:
    """``array(<x>D, ...)`` SQL text for a model vector. ``repr`` of a
    CPython float is the shortest round-trip decimal, and
    ``Double.parseDouble`` of that string returns the identical bits,
    so the parsed literal equals ``F.lit(float(x))`` exactly —
    pinned canonically plan-equal by ``tests/test_expr_twins.py``.
    Non-finite values are refused: no trained model contains them,
    and ``repr(inf/nan)`` is not SQL."""
    parts = []
    for x in vec:
        fx = float(x)
        if not math.isfinite(fx):
            raise ValueError(f"non-finite model value {fx!r} in literal array")
        parts.append(repr(fx) + "D")
    return "array(" + ", ".join(parts) + ")"


def _lit_double_array(vec) -> F.Column:
    """Literal DOUBLE array as ONE parsed expression (r12): the
    ``F.array(*[F.lit(x) ...])`` form issues dim py4j round trips per
    vector — k·dim per centroid/codebook model, the measured dominant
    plan-construction cost of every model-inlined sim_* entry."""
    return F.expr(_sql_double_array(vec))


def _lit_double_matrix(rows) -> F.Column:
    """Literal ARRAY<ARRAY<DOUBLE>> as ONE parsed expression — the
    nested form of :func:`_lit_double_array` for codebooks/centroid
    tables."""
    return F.expr(
        "array(" + ", ".join(_sql_double_array(r) for r in rows) + ")"
    )


def _qdot(a: F.Column, b: F.Column) -> F.Column:
    """Order-exact integer-quantized dot product: Σ floor((aᵢ·bᵢ)·1e12)
    as one BIGINT — the decision-grade twin of :func:`_dot` (see _QS).
    The oracle twin is ``CAST(sum(CAST(floor((a.x * c.x) *
    1000000000000) AS BIGINT)) AS BIGINT)``."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: F.floor(
                (x.cast("double") * y.cast("double")) * F.lit(_QS)
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def _py_qdot(u, v) -> int:
    """Python twin of :func:`_qdot` — CPython floats are IEEE doubles,
    so floor((x·y)·1e12) matches the engine bit-for-bit; the int sum
    is exact. Used for centroid-norm literals and golden replays."""
    return sum(math.floor((float(x) * float(y)) * _QS) for x, y in zip(u, v))


def _py_cell_ranking(emb: list, centroids) -> list:
    """Python twin of :func:`_cell_ranking` for a single
    (request-sized) query vector: integer :func:`_py_qdot` sums feed
    the one IEEE division/sqrt per (vector, cell), sorted
    (neg_cos asc, cell asc) — the same (−cos, cell) lexicographic
    order ``array_sort`` applies. Bit-identical by the shared-twin
    argument the goldens already prove.

    A zero-norm query raises instead of serving NaN-ordered garbage
    (the expression form silently yielded NaN cosines): a cosine
    index has no ordering for a zero vector — normalize or drop it
    upstream, the :func:`_cosine` contract. A zero-norm CENTROID is
    the same disease on the model side (a degenerate quantizer cell
    — e.g. k-means fed all-zero vectors) and raises a contract error
    naming the cell, instead of the bare ZeroDivisionError the
    unguarded division produced."""
    e = [float(x) for x in emb]
    qn = _py_qdot(e, e)
    if qn == 0:
        raise ValueError(
            "zero-norm query embedding: cosine cell ranking is "
            "undefined — normalize or drop zero vectors upstream"
        )
    scored = []
    for cell, vec in centroids:
        cn = _py_qdot(vec, vec)
        if cn == 0:
            raise ValueError(
                f"zero-norm centroid in quantizer cell {int(cell)}: "
                "cosine cell ranking is undefined for a degenerate "
                "cell — retrain the coarse quantizer on normalized, "
                "non-zero vectors"
            )
        scored.append(
            (
                -(float(_py_qdot(e, vec)) / math.sqrt(float(qn) * float(cn))),
                int(cell),
            )
        )
    scored.sort()
    return [c for _, c in scored]


def _py_opq_rotate(vec: list, rotation) -> list:
    """Python twin of :func:`_opq_rotate_expr`: center by the mean
    (IEEE float64 subtraction), then per permuted component the
    HALF_UP DECIMAL(·,9)-quantized term sum, surfaced as float64 —
    Spark's double→decimal cast goes through the shortest decimal
    repr (BigDecimal.valueOf == Python ``Decimal(str(x))``), so the
    fold matches term for term (the make_goldens replay pins this
    equivalence against every rotated golden)."""
    from decimal import ROUND_HALF_UP, Decimal

    q9 = Decimal("1e-9")
    mean, comps, perm = rotation
    centered = [float(x) - float(mn) for x, mn in zip(vec, mean)]
    out = []
    for comp_idx in perm:
        w = comps[comp_idx]
        total = Decimal(0)
        for xi, wi in zip(centered, w):
            total += Decimal(str(xi * float(wi))).quantize(
                q9, rounding=ROUND_HALF_UP
            )
        out.append(float(total))
    return out


def _py_pq_lut(vec: list, books, sub: int) -> list:
    """Python twin of :func:`_pq_lut` — the flattened ``[s*k + j]``
    table of integer-quantized squared distances
    Σ floor((x−c)²·1e12), exact ints end to end."""
    out = []
    for s, book_s in enumerate(books):
        sl = [float(x) for x in vec[s * sub : (s + 1) * sub]]
        for cent in book_s:
            out.append(
                sum(
                    math.floor(((x - float(c)) * (x - float(c))) * _QS)
                    for x, c in zip(sl, cent)
                )
            )
    return out


def _topk_window(scored: DataFrame, k: int, order: F.Column) -> DataFrame:
    """The per-query top-k every ranked path ends in: ``rn`` =
    row_number over (``order``, vec_id asc) within each query_id, as
    a BIGINT, kept while ``rn ≤ k`` — one definition of the window and
    its vec_id tie-break."""
    w = Window.partitionBy("query_id").orderBy(order, F.asc("vec_id"))
    return scored.withColumn(
        "rn", F.row_number().over(w).cast("bigint")
    ).filter(F.col("rn") <= k)


def _topk_per_query(pairs: DataFrame, k: int) -> DataFrame:
    """Shared (query_id, vec_id, cosine, rn) top-k tail for the exact,
    LSH, and IVF paths — one definition of the scoring projection and
    tie-breaking (cosine desc, vec_id asc) so the three paths cannot
    drift from the shared oracle contract."""
    scored = pairs.select(
        "query_id",
        "vec_id",
        _cosine_names("embedding", "q_emb").alias("cosine"),
    )
    return _topk_window(scored, k, F.desc("cosine"))


def _pick(frame: DataFrame, query_ids: list[int], *cols) -> DataFrame:
    """The query pick-list: ``frame``'s rows whose vec_id is in
    ``query_ids``, as (query_id, *cols). The ``limit`` is a no-op
    bound (vec_id is unique) that pins maxRows in the logical plan,
    so the plan-audit gate can PROVE a broadcast build side of a
    non-equi join is bounded instead of trusting an IN-filter
    heuristic."""
    return (
        frame.filter(F.col("vec_id").isin(*[int(i) for i in query_ids]))
        .limit(len(query_ids))
        .select(F.col("vec_id").alias("query_id"), *cols)
    )


def _q_emb(embeddings: DataFrame, query_ids: list[int]) -> DataFrame:
    """(query_id, q_emb) — the pick-list every exact-cosine rerank
    joins."""
    return _pick(embeddings, query_ids, F.col("embedding").alias("q_emb"))


def _exact_rerank(
    corpus: DataFrame,
    cand: DataFrame,
    q: DataFrame,
    k: int,
    exclude_self: bool = False,
) -> DataFrame:
    """Exact-cosine rerank of a request-sized (query_id, vec_id)
    candidate set → (query_id, vec_id, cosine, rn): the candidate ids
    broadcast against ``corpus`` (a point-lookup join on the primary
    key), the (query_id, q_emb) frame ``q`` broadcast onto them, then
    the shared top-k tail. The last stage of every cascade, of the
    graph-refined serves and of the CLI's ``ann search --rerank``."""
    pairs = corpus.join(F.broadcast(cand), "vec_id").join(
        F.broadcast(q), "query_id"
    )
    if exclude_self:
        pairs = pairs.filter(F.col("vec_id") != F.col("query_id"))
    return _topk_per_query(pairs, k)


def recall_at_k(
    embeddings: DataFrame, query_ids: list[int], k: int, approx: DataFrame
) -> float:
    """Measured recall@k of an approximate top-k frame ``approx``
    (query_id, vec_id, ...) against the exact :func:`cosine_topk` —
    the one way every approximate path's "recall < 1" becomes a
    number. 1.0 when the exact set is empty."""
    exact = {
        (r.query_id, r.vec_id) for r in cosine_topk(embeddings, query_ids, k).collect()
    }
    got = {(r.query_id, r.vec_id) for r in approx.collect()}
    return len(exact & got) / len(exact) if exact else 1.0


def cosine_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, vec_id, cosine, rn), self-matches excluded.
    The query set joins in as a broadcast — the big side streams."""
    from hadoop_search_spark.partitioning import spread

    q = _q_emb(embeddings, query_ids)
    corpus = spread(embeddings, "vec_id")
    pairs = corpus.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    return _topk_per_query(pairs, k)


def hyperplane_proj(emb: F.Column, plane: int, dim: int) -> F.Column:
    """Rounded projection <v, h_plane> where h_plane's components are
    ±1 derived from md5(plane:i) parity — deterministic in any
    engine. Rounded to 9 places before ANY consumer because the sum's
    accumulation order differs across engines; both the sign test
    (bucketing) and the |margin| ordering (multi-probe) must see the
    stabilized value."""
    comps = F.expr("array(" + ", ".join(str(i) for i in range(dim)) + ")")
    signed = F.zip_with(
        emb,
        comps,
        lambda x, i: x.cast("double")
        * (
            F.conv(
                F.substring(F.md5(F.concat_ws(":", F.lit(plane), i)), 1, _HP_HEX),
                16,
                10,
            ).cast("bigint")
            % 2
            * 2
            - 1
        ).cast("double"),
    )
    s = F.aggregate(signed, F.lit(0.0), lambda acc, v: acc + v)
    return F.round(s, 9)


def hyperplane_sign(emb: F.Column, plane: int, dim: int) -> F.Column:
    """Sign bit of the (rounded) hyperplane projection — an unguarded
    `> 0` on a near-zero float sum would flip the bucket bit between
    this and the SQL oracle, hence the shared rounding in
    :func:`hyperplane_proj`."""
    return F.when(hyperplane_proj(emb, plane, dim) > 0, 1).otherwise(0)


def lsh_bucket(emb: F.Column, num_planes: int, dim: int) -> F.Column:
    """Bucket id = concatenated sign bits of ``num_planes`` random
    projections."""
    bucket = F.lit(0).cast("bigint")
    for p in range(num_planes):
        bucket = bucket * 2 + hyperplane_sign(emb, p, dim)
    return bucket


def ann_lsh_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    num_planes: int = NUM_HYPERPLANES,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: search only the query's sign-projection
    bucket. Same output shape as :func:`cosine_topk`; recall < 1."""
    from hadoop_search_spark.partitioning import spread

    bucketed = spread(embeddings, "vec_id").withColumn(
        "bucket", lsh_bucket(F.col("embedding"), num_planes, dim)
    )
    q = _pick(
        bucketed,
        query_ids,
        F.col("embedding").alias("q_emb"),
        F.col("bucket").alias("q_bucket"),
    )
    pairs = bucketed.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != F.col("query_id")),
    )
    return _topk_per_query(pairs, k)


def _probe_buckets(
    emb: F.Column, num_planes: int, dim: int, flips: int
) -> F.Column:
    """Multi-probe bucket sequence for a query vector → an array of
    2^flips bucket ids: the query's own bucket plus every bucket
    reachable by flipping subsets of the ``flips`` planes with the
    SMALLEST |projection| (Lv et al. 2007 — the planes the query sits
    closest to are the ones most likely to have cut it off from its
    true neighbors). Pure Catalyst: the plane order comes from one
    array_sort over (|proj|, plane) structs (rounded projections, so
    the order is engine-stable; ties break on plane index), and each
    probe bucket is the base bucket XOR a mask assembled from the
    flip planes' bit weights. Buckets are disjoint, so the probes
    produce each candidate at most once — no dedup stage."""
    if not 0 <= flips <= num_planes:
        raise ValueError(f"flips={flips} out of 0..{num_planes}")
    proj = F.array(
        *[hyperplane_proj(emb, p, dim) for p in range(num_planes)]
    )
    # plane p contributes bit weight 2^(P-1-p) to the bucket id
    weights = F.array(
        *[
            F.lit(1 << (num_planes - 1 - p)).cast("bigint")
            for p in range(num_planes)
        ]
    )
    bucket = F.aggregate(
        proj,
        F.lit(0).cast("bigint"),
        lambda acc, s: acc + acc + F.when(s > 0, 1).otherwise(0).cast("bigint"),
    )
    order = F.transform(
        F.array_sort(
            F.transform(
                F.sequence(F.lit(0), F.lit(num_planes - 1)),
                lambda i: F.struct(
                    F.abs(F.element_at(proj, i + 1)).alias("a"),
                    i.alias("idx"),
                ),
            )
        ),
        lambda s: s["idx"],
    )
    flip_weights = F.transform(
        F.slice(order, 1, flips) if flips > 0 else F.array().cast("array<int>"),
        lambda i: F.element_at(weights, i + 1),
    )

    def mask_for(m: F.Column) -> F.Column:
        acc = F.lit(0).cast("bigint")
        for j in range(flips):
            acc = acc + F.when(
                m.bitwiseAND(F.lit(1 << j)) != 0,
                F.element_at(flip_weights, j + 1),
            ).otherwise(F.lit(0).cast("bigint"))
        return acc

    return F.transform(
        F.sequence(F.lit(0), F.lit((1 << flips) - 1)),
        lambda m: bucket.bitwiseXOR(mask_for(m)),
    )


def ann_lsh_multiprobe_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    num_planes: int = NUM_HYPERPLANES,
    flips: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Multi-probe LSH top-k: search the query's bucket AND the
    2^flips − 1 neighboring buckets reached by flipping the
    lowest-|margin| planes, exact-cosine-verifying every candidate —
    same output shape as :func:`cosine_topk`. Fixes single-probe
    LSH's recall cliff (one bucket holds ~|corpus|/2^P vectors — at
    the default 8 planes that's 0.4 % of the corpus, and measured
    recall@10 sits at 0.01–0.02 on the fixture; docs/ANN_QUALITY.md)
    without the L-index storage cost of classic multi-TABLE LSH: one
    stored bucket id per vector, probing is query-side only.

    ``flips`` dials candidates from one bucket (flips=0 — exactly
    :func:`ann_lsh_topk`) to the whole corpus (flips=num_planes —
    exactly :func:`cosine_topk`, pinned by test).

    Scale shape: probes explode to 2^flips request-sized rows and
    broadcast; the corpus side equi-joins on its ONE stored bucket id
    (hash join, no nested loop), so the scan touches only the probed
    buckets — at 100 TB with a bucket-partitioned vector store the
    probe list prunes files the same way the IVF cell filter does."""
    from hadoop_search_spark.partitioning import spread

    bucketed = spread(embeddings, "vec_id").withColumn(
        "bucket", lsh_bucket(F.col("embedding"), num_planes, dim)
    )
    q = _pick(
        bucketed,
        query_ids,
        F.col("embedding").alias("q_emb"),
        _probe_buckets(F.col("embedding"), num_planes, dim, flips).alias(
            "probes"
        ),
    )
    probes = q.select(
        "query_id", "q_emb", F.explode("probes").alias("q_bucket")
    )
    pairs = bucketed.join(
        F.broadcast(probes),
        (F.col("bucket") == F.col("q_bucket"))
        & (F.col("vec_id") != F.col("query_id")),
    )
    return _topk_per_query(pairs, k)


NUM_CENTROIDS = 8
NPROBE = 2


def ivf_centroids(embeddings: DataFrame, num_centroids: int = NUM_CENTROIDS):
    """Coarse-quantizer centroids for the IVF index: the vectors with
    the ``num_centroids`` smallest vec_ids — deterministic, so the
    DuckDB oracle can reproduce the cell structure exactly. At scale
    the selection is pluggable (train k-means offline, store the
    centroid table); everything downstream only sees (cell, vector)
    pairs. Returns a driver-side list — centroids are a *model
    parameter* (a few KB for any realistic C), not data, so collecting
    them is the scale-correct move: assignment becomes a map-only
    expression instead of an explode + window shuffle."""
    rows = (
        embeddings.select("vec_id", "embedding")
        # first k by vec_id (not `vec_id < k`): identical on the full
        # corpus, but also yields exactly k seeds on a sampled frame
        # where small ids may be absent; ordered collect — plain
        # collect() order is partition-dependent
        .orderBy("vec_id")
        .limit(num_centroids)
        .collect()
    )
    return [
        (cell, [float(x) for x in r.embedding]) for cell, r in enumerate(rows)
    ]


def _cell_ranking(
    emb: F.Column, centroids, row_qnorm: F.Column | None = None
) -> F.Column:
    """ARRAY<STRUCT<neg_cos, cell>> sorted best-first: cosine against
    each centroid, ties to the lowest cell id. ``array_sort`` on
    structs orders by fields lexicographically, so (-cos, cell)
    ascending = (cos desc, cell asc). Pure expression — whole-stage
    codegen, no shuffle.

    ORDER-EXACT (r6 VERDICT #1): the dot product and both squared
    norms are :func:`_qdot` integer sums, so every input to the one
    IEEE division/sqrt is bit-identical across engines, partitionings,
    and runs — no float sum ever feeds the argmin, and no round() is
    needed (or wanted: round-of-double is itself engine-dependent at
    digit boundaries). The 1e12 scales cancel in the ratio, so neg_cos
    is still ≈ −cosine.

    Per-row work is kept to the C dot products: centroid squared-norm
    constants come from the Python twin :func:`_py_qdot`, and the
    row's own squared norm is computed once outside the per-centroid
    structs (pass ``row_qnorm`` as a materialized column; defaults to
    the inline expression)."""
    if row_qnorm is None:
        row_qnorm = _qdot(emb, emb)
    scored = [
        F.struct(
            (
                -(
                    _qdot(emb, _lit_double_array(vec)).cast("double")
                    / F.sqrt(
                        row_qnorm.cast("double")
                        * F.lit(float(_py_qdot(vec, vec)))
                    )
                )
            ).alias("neg_cos"),
            F.lit(cell).cast("bigint").alias("cell"),
        )
        for cell, vec in centroids
    ]
    return F.array_sort(F.array(*scored))


def _cell_ranking_l2(emb: F.Column, centroids) -> F.Column:
    """ARRAY<STRUCT<d, cell>> sorted best-first by integer-quantized
    SQUARED L2 distance (Σ floor((xᵢ−cᵢ)²·1e12) — see _QS; pure BIGINT
    ordering, ties to the lowest cell id) — the L2 twin of
    :func:`_cell_ranking`, built as one ``transform`` over a nested
    literal centroid array (the :func:`_pq_sub_dists` tree shape:
    O(1) expression nodes per ranking, the C-loop in the HOF runtime).

    L2 needs no norm division, so an ALL-ZERO vector (common for a
    subvector SLICE of a sparse embedding, the ADVICE-flagged 0/0 NaN
    hazard in the cosine ranking) ranks finitely and deterministically
    here — which is why PQ subspace training must assign by L2, not
    cosine (besides matching the metric the quantizer actually
    serves)."""
    cells = [c for c, _ in centroids]
    if cells != list(range(len(cells))):
        raise ValueError(
            f"L2 ranking requires dense 0..C-1 cell ids, got {cells}"
        )
    cents_lit = _lit_double_matrix([vec for _, vec in centroids])
    return F.array_sort(
        F.transform(
            cents_lit,
            lambda c, i: F.struct(
                F.aggregate(
                    F.zip_with(
                        emb,
                        c,
                        lambda x, cc: F.floor(
                            (
                                (x.cast("double") - cc)
                                * (x.cast("double") - cc)
                            )
                            * F.lit(_QS)
                        ),
                    ),
                    F.lit(0).cast("bigint"),
                    lambda acc, v: acc + v,
                ).alias("d"),
                i.cast("bigint").alias("cell"),
            ),
        )
    )


def _cell_argmax_exact(emb: F.Column, centroids) -> F.Column:
    """Cell id of the max-cosine centroid with NO IEEE operation in
    the decision — the fully engine-independent twin of
    :func:`_cell_ranking` (r7 VERDICT #3: the drift entry's driver
    hash diverged for two rounds while every local gate was green,
    and the ranking's one division/sqrt was the last non-integer op
    in the argmax).

    cos_a > cos_b over shared row norm ⟺ dotq_a/√qc_a > dotq_b/√qc_b,
    decided sign-aware by cross-multiplication in exact arithmetic:
    same sign ⟹ compare dotq_a²·qc_b vs dotq_b²·qc_a (inverted when
    both negative); mixed sign ⟹ the non-negative side wins. With
    unit-ish embeddings |dotq|,qc ≤ ~1e12+ε so dotq²·qc ≤ ~1e36 —
    inside DECIMAL(38,0) here and HUGEINT in the DuckDB twin.

    MAGNITUDE CONTRACT (overflow would silently corrupt the argmax —
    Spark's non-ANSI decimal multiply NULLs, ANSI throws): by
    Cauchy-Schwarz dotq² ≤ q_row·qc, so the product is ≤
    q_row·qc² < 10³⁸ whenever every squared norm is ≤ 4.6e12, i.e.
    vector norms ≤ ~2.1 — always true for the normalized embeddings a
    cosine quantizer serves (cosine is norm-invariant; stores
    normalize). Centroid norms are Python ints at plan time and are
    CHECKED here; rows are the same corpus in every caller. Ties
    take the LOWER cell id (the comparator's final key). The sort
    is a COMPARATOR-form ``array_sort`` — the lambda is one small
    runtime expression evaluated per comparison, NOT unrolled per
    fold step (an ``F.aggregate`` merge that references the
    accumulator k times duplicates the accumulated subtree k-fold
    per step — exponential tree growth, ~100 s of plan compilation
    at C=8). Map-only, no shuffle, no model join."""
    cs = sorted(centroids, key=lambda cv: cv[0])
    _QN_MAX = 4_600_000_000_000  # norm ≲ 2.1, see MAGNITUDE CONTRACT
    bad = [c for c, vec in cs if _py_qdot(vec, vec) > _QN_MAX]
    if bad:
        raise ValueError(
            f"_cell_argmax_exact: centroid(s) {bad} exceed the "
            "norm≲2.1 magnitude contract (dotq²·qc would overflow "
            "DECIMAL(38,0)); normalize the embedding space or use "
            "the IEEE _cell_ranking"
        )
    zero = [c for c, vec in cs if _py_qdot(vec, vec) == 0]
    if zero:
        # qc=0 ⟹ dq=0 ⟹ every cross-product is 0: the zero centroid
        # exactly TIES all non-negative-score centroids and, holding a
        # lower cell id, would win argmaxes it has no claim to (its
        # cosine is undefined) — same behavior in the HUGEINT SQL
        # twin, cross-engine consistent but semantically wrong.
        raise ValueError(
            f"_cell_argmax_exact: centroid(s) {zero} have zero norm — "
            "cosine against them is undefined; drop or re-train them"
        )

    def d38(c):
        return c.cast("decimal(38,0)")

    scored = [
        F.struct(
            _qdot(emb, _lit_double_array(vec)).alias("dq"),
            F.lit(int(_py_qdot(vec, vec))).cast("bigint").alias("qc"),
            F.lit(int(cell)).cast("bigint").alias("cell"),
        )
        for cell, vec in cs
    ]
    arr = F.array(*scored)
    # The centroid half of the contract is checked at plan time above;
    # the ROW half must be checked at runtime — an out-of-contract row
    # (norm > ~2.1) overflows dotq²·qc, which Spark's non-ANSI decimal
    # multiply NULLs, making a_better/b_better BOTH null so the
    # comparator falls through to the cell-id tiebreak and silently
    # assigns a wrong cell. Fail the row out loudly instead.
    qrow = _qdot(emb, emb)

    def cmp(a, b):
        ab = d38(a["dq"]) * d38(a["dq"]) * d38(b["qc"])
        ba = d38(b["dq"]) * d38(b["dq"]) * d38(a["qc"])
        a_better = (
            ((a["dq"] >= 0) & (b["dq"] < 0))
            | ((a["dq"] >= 0) & (b["dq"] >= 0) & (ab > ba))
            | ((a["dq"] < 0) & (b["dq"] < 0) & (ab < ba))
        )
        b_better = (
            ((b["dq"] >= 0) & (a["dq"] < 0))
            | ((b["dq"] >= 0) & (a["dq"] >= 0) & (ba > ab))
            | ((b["dq"] < 0) & (a["dq"] < 0) & (ba < ab))
        )
        return (
            F.when(a_better, F.lit(-1))
            .when(b_better, F.lit(1))
            .otherwise(
                F.when(a["cell"] < b["cell"], F.lit(-1))
                .when(a["cell"] > b["cell"], F.lit(1))
                .otherwise(F.lit(0))
            )
        )

    return F.when(
        qrow > F.lit(_QN_MAX),
        F.raise_error(
            F.concat(
                F.lit(
                    "_cell_argmax_exact: row embedding exceeds the "
                    "norm<=~2.1 magnitude contract (qnorm="
                ),
                qrow.cast("string"),
                F.lit(
                    "); normalize the embeddings or use the IEEE "
                    "_cell_ranking (metric='cosine')"
                ),
            )
        ).cast("bigint"),
    ).otherwise(F.array_sort(arr, cmp).getItem(0)["cell"])


def ivf_assign(
    embeddings: DataFrame,
    centroids,
    out_col: str = "cell",
    metric: str = "cosine",
) -> DataFrame:
    """Adds the IVF cell id (nearest centroid by ``metric``: cosine
    for the IVF serving paths, squared L2 for PQ subspace training)
    as a map-only projection — the 100 TB path: one narrow scan, no
    join, no shuffle; cells then act like partitions for probing. The
    row's squared norm is materialized once per row, not once per
    centroid."""
    if metric == "l2":
        ranking = _cell_ranking_l2(F.col("embedding"), centroids)
        return embeddings.withColumn(
            out_col, ranking.getItem(0).getField("cell")
        )
    if metric == "cosine_exact":
        return embeddings.withColumn(
            out_col, _cell_argmax_exact(F.col("embedding"), centroids)
        )
    with_qn = embeddings.withColumn(
        "_qn", _qdot(F.col("embedding"), F.col("embedding"))
    )
    ranking = _cell_ranking(F.col("embedding"), centroids, F.col("_qn"))
    return with_qn.withColumn(
        out_col, ranking.getItem(0).getField("cell")
    ).drop("_qn")


def ivf_train_kmeans(
    embeddings: DataFrame,
    k: int = NUM_CENTROIDS,
    iterations: int = 3,
    sample_fraction: float | None = None,
    seed: int = 7,
    metric: str = "cosine",
):
    """Lloyd's k-means for the IVF coarse quantizer, as DataFrame ops.

    Init = the deterministic seed centroids (:func:`ivf_centroids`);
    each iteration assigns every vector to its nearest centroid
    (map-only, see :func:`ivf_assign`) and recomputes per-cell means.
    The per-dimension mean uses posexplode → groupBy(cell, dim) —
    k·dim result rows (a few KB) come back to the driver, which is
    where the model lives between iterations; the corpus itself never
    leaves the cluster. An emptied cell keeps its previous centroid.

    The mean update is ORDER-INDEPENDENT: per-row contributions
    quantize to DECIMAL(28,12) before the sum (exact decimal
    addition under any partitioning — the classifier-GD recipe), and
    the division happens driver-side in one IEEE float64 op. So the
    trained model is bit-identical across partitionings AND
    reproducible by an independent sequential evaluator (the golden
    generator's twin) — a float ``avg`` would drift with the partial-
    aggregation tree.

    ``metric`` selects the assignment distance: ``"cosine"`` (the IVF
    serving metric) or ``"l2"`` (squared L2 — REQUIRED for PQ
    subspace training, where the quantizer serves L2 and an all-zero
    subvector slice would hit 0/0 in a cosine ranking). The mean
    update is the optimal centroid under L2 assignment; under cosine
    it is the standard spherical-ish approximation the IVF coarse
    quantizer tolerates.

    ``sample_fraction`` is the production path at 100 TB: a coarse
    quantizer needs only a representative sample (k-means converges on
    the cluster *shape*, not the row count), so training scans
    ``corpus × fraction`` per iteration while assignment/probing still
    cover the full corpus. Deterministic under a fixed ``seed``.

    Returns the same ``[(cell_id, vector)]`` shape as
    :func:`ivf_centroids`, so trained centroids drop into
    :func:`ann_ivf_topk` / :func:`ivf_assign` unchanged."""
    train = embeddings
    if sample_fraction is not None:
        train = embeddings.sample(fraction=sample_fraction, seed=seed)
    cents = ivf_centroids(train, k)
    # r13 measured-and-rejected: spreading ``train`` here (the
    # small-file single-partition fix that wins on the OPQ fold
    # paths) made the chain SLOWER (6.6 → 10.6 s on the aniso
    # profile): the C·dim ranking is cheap per row, so the added
    # per-iteration exchange + 32-task scheduling cost more than the
    # single-core map saved. Parallelism stays where the per-row
    # work is extreme (the dim² rotation folds / encode exprs).
    if len(cents) < k:
        # the sample came back with < k rows — a silent smaller
        # quantizer would change the index geometry; top the seeds up
        # from the full frame (deterministic: next-smallest vec_ids
        # not already sampled)
        have = {tuple(v) for _, v in cents}
        # pool of DISTINCT embeddings (min-vec_id representative each,
        # so the choice is deterministic): k + |cents| distinct rows
        # suffice — at most |cents| of them overlap the sampled seeds
        pool = (
            embeddings.groupBy("embedding")
            .agg(F.min("vec_id").alias("vec_id"))
            .orderBy("vec_id")
            .limit(k + len(cents))
            .collect()
        )
        for r in pool:
            if len(cents) >= k:
                break
            vec = tuple(float(x) for x in r.embedding)
            if vec in have:
                continue
            have.add(vec)  # guard against appending the same vector twice
            cents.append((len(cents), list(vec)))
        if len(cents) < k:
            raise ValueError(
                f"cannot seed {k} centroids: corpus has only {len(cents)} "
                "distinct seed vectors (reduce k or raise sample_fraction)"
            )
    for _ in range(iterations):
        assigned = ivf_assign(train, cents, metric=metric)
        sums = (
            assigned.select("cell", F.posexplode("embedding").alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(
                F.sum(
                    F.col("x").cast("double").cast("decimal(28,12)")
                ).alias("s"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in sums:
            # float(Decimal) is correctly rounded; one float64 divide —
            # the deterministic driver-side mean
            by_cell.setdefault(int(r.cell), {})[int(r.dim)] = float(
                r.s
            ) / int(r.n)
        dim = len(cents[0][1])
        cents = [
            (
                cell,
                [by_cell[cell][d] for d in range(dim)]
                if cell in by_cell
                else old_vec,
            )
            for cell, old_vec in cents
        ]
    return cents


def ivf_cell_sizes(embeddings: DataFrame, centroids) -> DataFrame:
    """(cell, n) occupancy histogram — the balance diagnostic for a
    trained quantizer (a skewed cell is a hot partition at probe
    time)."""
    return ivf_assign(embeddings, centroids).groupBy("cell").agg(
        F.count("*").alias("n")
    )


def ann_ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    num_centroids: int = NUM_CENTROIDS,
    nprobe: int = NPROBE,
    centroids=None,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are inverted into
    ``num_centroids`` cells; each query searches only its ``nprobe``
    nearest cells. Same output shape as :func:`cosine_topk`
    (query_id, vec_id, cosine, rn); recall < 1 by design.

    Pass ``centroids`` (e.g. from :func:`ivf_train_kmeans`) to use a
    trained quantizer; defaults to the deterministic seed centroids.

    Scale shape: assignment is map-only (see :func:`ivf_assign`), the
    probe list is queries × nprobe (tiny, broadcast), and the only
    wide ops are the candidate broadcast-join and the per-query top-k
    window — candidate count ~ corpus × nprobe/num_centroids."""
    from hadoop_search_spark.partitioning import spread

    cents = centroids if centroids is not None else ivf_centroids(
        embeddings, num_centroids
    )
    corpus = ivf_assign(spread(embeddings, "vec_id"), cents)
    q = _q_emb(embeddings, query_ids)
    ranking = _cell_ranking(F.col("q_emb"), cents)
    probes = q.select(
        "query_id",
        "q_emb",
        F.explode(F.slice(ranking, 1, nprobe)).alias("probe"),
    ).select("query_id", "q_emb", F.col("probe.cell").alias("cell"))
    pairs = corpus.join(F.broadcast(probes), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    return _topk_per_query(pairs, k)


def embedding_dedup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    num_planes: int = NUM_HYPERPLANES,
    dim: int = 64,
    bucket_cap: int | None = None,
    on_hot_bucket: str = "star",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the vector-space dedup
    mode: bucket by sign-random-projection (near-identical vectors
    share all sign bits with high probability), verify candidates with
    the exact cosine, keep pairs ≥ ``threshold``.

    Returns (vec_a, vec_b, cosine). The self-join is per-bucket, never
    all-pairs; recall follows the LSH collision bound (documented
    approximation, same as :func:`ann_lsh_topk`).

    Hot-bucket cap (the text-dedup contract applied in vector space —
    operators/dedup.py:DEFAULT_BUCKET_CAP): an EMBEDDING mega-cluster
    (one template re-encoded millions of times) lands in one sign
    bucket and makes the self-join quadratic; above the cap a bucket
    emits representative edges (bucket-min vec, other) with the true
    cosine — O(m) output, same pair-graph connected components
    (:func:`semantic_dedup`'s consumer shape). ``bucket_cap=None``
    (default) resolves to the shared DEFAULT_BUCKET_CAP."""
    from hadoop_search_spark.operators.dedup import (
        DEFAULT_BUCKET_CAP,
        _with_bucket_stats,
    )
    from hadoop_search_spark.partitioning import spread

    cap = DEFAULT_BUCKET_CAP if bucket_cap is None else bucket_cap
    bucketed = spread(embeddings, "vec_id").withColumn(
        "bucket", lsh_bucket(F.col("embedding"), num_planes, dim)
    )
    # the stats helper lazily localCheckpoints: the bucket table (with
    # its num_planes x dim hash expressions) materializes once for the
    # two self-join sides and the star arm
    sized = _with_bucket_stats(
        bucketed,
        ["bucket"],
        cap,
        on_hot_bucket,
        payload="embedding",
        id_col="vec_id",
    )
    small = sized.filter(F.col("_bsz") <= cap)
    a = small.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"), "bucket"
    )
    b = small.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"), "bucket"
    )
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "emb_a", "vec_b", "emb_b")
    )
    stars = sized.filter(
        (F.col("_bsz") > cap) & (F.col("vec_id") != F.col("_rep"))
    ).select(
        F.col("_rep").alias("vec_a"),
        F.col("_rep_payload").alias("emb_a"),
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
    )
    return (
        pairs.unionByName(stars)
        .select(
            "vec_a", "vec_b", _cosine_names("emb_a", "emb_b").alias("cosine")
        )
        .filter(F.col("cosine") >= threshold)
    )


def knn_graph(
    embeddings: DataFrame,
    g: int = 8,
    centroids=None,
    num_centroids: int = NUM_CENTROIDS,
    nprobe: int = 1,
) -> DataFrame:
    """Offline top-g cosine neighbor graph → (vec_id, nbr_id, cosine,
    rn) — the adjacency structure :func:`graph_refine_topk` expands
    serving candidates through.

    Build shape: every vector "queries" its own ``nprobe`` nearest
    cells (same :func:`_cell_ranking` integer recipe as serving) and
    ranks the vectors there — a cell EQUI-join, never an all-pairs
    cross join. The per-cell cost is quadratic in cell size, which is
    the honest price of a KNN-graph build everywhere (hence an
    OFFLINE batch job): at scale you build with more cells than you
    serve with (cells sized to the pair budget) and union a second
    ``nprobe=2`` pass for boundary edges. Deterministic: trained or
    seed centroids, quantized-integer cell argmin, 9dp cosine with
    vec_id tie-break — same conventions as every serving path, so
    the graph is SQL-oracle-expressible. Publish alongside an index
    with :func:`publish_knn_graph`, which adds the serving-quantizer
    partition column the pruned serving hop needs."""
    from hadoop_search_spark.partitioning import spread

    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(embeddings, num_centroids)
    )
    corpus = ivf_assign(spread(embeddings, "vec_id"), cents)
    nodes = embeddings.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.explode(
            F.slice(_cell_ranking(F.col("embedding"), cents), 1, nprobe)
        ).alias("probe"),
    ).select("query_id", "q_emb", F.col("probe.cell").alias("cell"))
    pairs = corpus.join(nodes, "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    return _topk_per_query(pairs, g).select(
        F.col("query_id").alias("vec_id"),
        F.col("vec_id").alias("nbr_id"),
        "cosine",
        "rn",
    )


def publish_knn_graph(
    spark: SparkSession,
    index_path: str,
    embeddings: DataFrame,
    g: int = 8,
    build_centroids=None,
    build_num_centroids: int | None = None,
    build_nprobe: int = 2,
) -> None:
    """Build and publish the KNN adjacency to ``{index_path}/graph``,
    PARTITIONED by each source node's cell under the INDEX'S serving
    quantizer — the layout that lets the serving hop partition-prune.

    Stage-1 seeds always sit in the query's probed cells, so the
    FIRST expansion hop only ever looks up adjacency rows whose
    source node lives in a probed cell: with ``cell=N`` directories,
    that hop reads nprobe directories instead of the corpus-sized
    edge table (:func:`ivfpq_index_refine_topk` prunes exactly this
    way; hops past the first reach nodes in unknown cells and read
    unpruned). The partition column is ALWAYS derived under the
    index's frozen centroids, independent of the quantizer used for
    candidate generation — at scale the build uses more cells than
    the serve (``build_centroids`` / ``build_num_centroids``: the
    pair-budget recipe), and partitioning by those build cells would
    silently break the prune's exactness."""
    # every layout publishes its coarse quantizer as /centroids; the
    # IVF record loads exactly that model
    cents = _models(spark, index_path, LAYOUTS["ivf"]).cents
    bc = build_centroids
    if bc is None:
        bc = (
            ivf_centroids(embeddings, build_num_centroids)
            if build_num_centroids is not None
            else cents
        )
    edges = knn_graph(embeddings, g, centroids=bc, nprobe=build_nprobe)
    own = ivf_assign(embeddings, cents).select("vec_id", "cell")
    edges.join(own, "vec_id").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(f"{index_path}/graph")


def graph_expand(
    graph: DataFrame,
    cand: DataFrame,
    rounds: int = 1,
) -> DataFrame:
    """Expand a request-sized (query_id, vec_id) candidate frontier
    ``rounds`` hops through a KNN-graph adjacency — the one shared
    definition of the hop step (library serving, published-index
    serving, and the CLI all call this, so the expansion semantics
    cannot drift between them). Each hop is one broadcast semi-join
    of the frontier against the adjacency: the graph side streams,
    the frontier stays ≤ w·(1+g)^rounds ids per query — request-sized
    at any corpus scale, never a wide shuffle. ``rounds`` must be
    ≥ 1 — loud by doctrine: silently clamping 0 to 1 would hand back
    a strict superset of the requested frontier."""
    if int(rounds) < 1:
        raise ValueError(
            "graph_expand needs rounds >= 1 (rounds=0 is the "
            "rerank-over-seeds baseline — run the stage-1 serve "
            "without --refine instead)"
        )
    adj = graph.select("vec_id", "nbr_id")
    for _hop in range(int(rounds)):
        nbrs = adj.join(F.broadcast(cand), "vec_id").select(
            "query_id", F.col("nbr_id").alias("vec_id")
        )
        cand = cand.unionByName(nbrs).distinct()
    return cand


def graph_refine_topk(
    embeddings: DataFrame,
    graph: DataFrame,
    query_ids: list[int],
    k: int = 10,
    num_centroids: int = NUM_CENTROIDS,
    nprobe: int = 1,
    seed_w: int | None = None,
    centroids=None,
    rounds: int = 1,
) -> DataFrame:
    """IVF stage-1 seeds + ``rounds`` hops of KNN-graph adjacency
    expansion + exact cosine rerank → (query_id, vec_id, cosine, rn).

    The refinement answers the cell-boundary failure of narrow
    probing: a true neighbor sitting just across the probed cell's
    boundary is unreachable by nprobe=1, but an in-cell seed near
    that boundary carries a graph edge to it — the candidate set
    becomes seeds ∪ their ≤``rounds``-hop graph neighborhood
    (≤ seed_w·(1+g)^rounds ids per query — REQUEST-sized at any
    corpus scale), then exact rerank. Serving scan shape: the
    probed-cell scan (as plain IVF) + one broadcast semi-join of the
    request-sized frontier against the graph per hop + an id-pruned
    rerank fetch — no new wide shuffle; the graph adjacency costs
    g·~10 bytes/vector of storage.

    Measured (docs/ANN_QUALITY.md; sf0.01 trained cells, 10-query
    set): one hop 0.67→0.75 at nprobe=1 scan bytes; TWO hops 0.89,
    past nprobe=2's 0.79 (the greedy-graph-walk effect the HNSW/NSG
    family exploits: iterated expansion converges on the true
    neighborhood — on the pytest recipe, 2-iteration k-means cells,
    two hops measure 0.92 vs nprobe=4's 0.89 and three hops 0.98 ≈
    exact). Each hop costs one more request-sized graph probe, never
    a wider corpus scan."""
    from hadoop_search_spark.partitioning import spread

    w = seed_w if seed_w is not None else k
    seeds = ann_ivf_topk(
        embeddings, query_ids, w, num_centroids, nprobe, centroids=centroids
    ).select("query_id", "vec_id")
    cand = graph_expand(graph, seeds, rounds)
    return _exact_rerank(
        spread(embeddings, "vec_id"),
        cand,
        _q_emb(embeddings, query_ids),
        k,
        exclude_self=True,
    )


def ivfpq_index_refine_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    w: int | None = None,
    nprobe: int = 1,
    rounds: int = 1,
    embeddings: DataFrame | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Graph-refined serving from a PUBLISHED IVF-PQ index — the full
    production read path the CLI ``ann search --refine`` drives,
    as one library call: stage-1 ADC seeds from the partition-pruned
    ``{path}/codes`` scan (:func:`ivfpq_index_topk` — all query math
    driver-side), ``rounds`` hops of expansion through the PUBLISHED
    ``{path}/graph`` adjacency (``ann graph``), then an exact-cosine
    rerank of the request-sized candidate set over ``embeddings``
    (the rerank tier's raw-vector store — the index itself holds no
    floats, exactly the cascade split).

    Append-staleness contract (pytest-pinned on the CLI): ``ann add``
    leaves the graph stale BY DESIGN — the adjacency is an offline
    artifact rebuilt like drift-triggered rebuilds; appended vectors
    still serve through the stage-1 cell scan, only the expansion
    hop doesn't know them yet.

    ``queries`` is a (query_id, embedding) frame as everywhere on the
    published-serving surface; ``exclude_self=False`` for external id
    spaces (same collision rule as :func:`ivfpq_index_topk`).

    When the graph was published by :func:`publish_knn_graph` (a
    ``cell`` partition column under the index's serving quantizer),
    the FIRST hop partition-prunes its adjacency scan to the probed
    cells: every stage-1 seed is a row of a probed cell by
    construction, so the prune is exact — at corpus scale the hop
    reads nprobe directories, not the corpus-sized edge table.
    Deeper hops reach nodes in unknown cells and read unpruned
    (still one broadcast semi-join each). A graph without the
    partition column (written raw from :func:`knn_graph`) serves
    identically, just unpruned."""
    from hadoop_search_spark.partitioning import spread

    if embeddings is None:
        raise ValueError(
            "ivfpq_index_refine_topk needs the rerank tier's raw-vector "
            "frame: the published index stores codes only"
        )
    if int(rounds) < 1:
        raise ValueError(
            "ivfpq_index_refine_topk needs rounds >= 1 (rounds=0 is "
            "the rerank-over-seeds baseline — use ivfpq_index_topk + "
            "an exact rerank instead)"
        )
    seed_w = w if w is not None else k
    # queries are request-sized by definition: collect ONCE, serve
    # the stage-1 pass and the rerank from a literal frame (a second
    # evaluation of a query FILE would re-read it per request), and
    # run the driver-side cell ranking on the collected rows — the
    # same math the stage-1 serve runs, and the literal IN list is
    # what reaches the adjacency scan as a PartitionFilter
    qrows = queries.select("query_id", "embedding").collect()
    queries_lit = spark.createDataFrame(
        [(int(r.query_id), [float(x) for x in r.embedding])
         for r in qrows],
        "query_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    seeds = ivfpq_index_topk(
        spark, path, queries_lit, seed_w, nprobe=nprobe,
        exclude_self=exclude_self,
    ).select("query_id", "vec_id")
    graph = spark.read.parquet(f"{path}/graph")
    if "cell" in graph.columns:
        cents = _models(spark, path, LAYOUTS["ivfpq"]).cents
        probed = sorted({
            int(c)
            for r in qrows
            for c in _py_cell_ranking(
                [float(x) for x in r.embedding], cents
            )[:nprobe]
        })
        hop1 = graph.filter(F.col("cell").isin(probed))
    else:
        hop1 = graph
    cand = graph_expand(hop1, seeds, 1)
    if int(rounds) > 1:
        cand = graph_expand(graph, cand, int(rounds) - 1)
    q = queries_lit.select(
        "query_id", F.col("embedding").alias("q_emb")
    )
    return _exact_rerank(
        spread(embeddings, "vec_id"), cand, q, k, exclude_self
    )


def graph_stale_report(spark: SparkSession, path: str) -> DataFrame:
    """Staleness of the published KNN-graph adjacency against the
    published codes table — the operational observable for the append
    lifecycle contract: ``ann add`` leaves ``{path}/graph`` stale BY
    DESIGN (the adjacency is an offline artifact), so this report is
    the graph's rebuild trigger, exactly the role
    :func:`ivfpq_index_drift` plays for the frozen quantizer models.
    Per cell: how many indexed vectors the expansion hop cannot
    reach because they entered after the last ``ann graph``.

    Pure metadata-scale aggregation — the codes table (one row per
    vector) LEFT ANTI the adjacency's node set, no raw vectors and no
    model math; at any corpus size this is one shuffle over ids.
    Returns (cell, n_codes, n_graph, n_stale, stale_frac), one row
    per cell directory, stale_frac 9dp-rounded. A vector counts as
    IN the graph iff it appears as a source node (a zero-edge node
    never enters the adjacency, so it is unreachable and correctly
    reports stale). Layout-generic: reads the row table of the
    layout :func:`layout_of` finds at ``path`` (``/codes`` for
    IVF-PQ, ``/vectors`` for plain-IVF / int8) through the lineage
    read."""
    layout = layout_of(spark, path)
    if layout is None:
        raise ValueError(f"no published index at {path}")
    codes = _lineage(spark, path, layout.rows).select("vec_id", "cell")
    nodes = spark.read.parquet(f"{path}/graph").select("vec_id").distinct()
    stale = F.coalesce(F.col("n_stale"), F.lit(0).cast("bigint"))
    return (
        codes.groupBy("cell")
        .agg(F.count("*").cast("bigint").alias("n_codes"))
        .join(
            codes.join(nodes, "vec_id", "left_anti")
            .groupBy("cell")
            .agg(F.count("*").cast("bigint").alias("n_stale")),
            "cell",
            "left",
        )
        .select(
            F.col("cell").cast("bigint").alias("cell"),
            "n_codes",
            (F.col("n_codes") - stale).cast("bigint").alias("n_graph"),
            stale.cast("bigint").alias("n_stale"),
            F.round(
                stale.cast("double") / F.col("n_codes").cast("double"), 9
            ).alias("stale_frac"),
        )
    )


# ------------------------------------------------ product quantization

PQ_M = 8  # subspaces
PQ_K = 16  # centroids per subspace (4-bit codes)


def pq_codebooks(
    embeddings: DataFrame, m: int = PQ_M, k: int = PQ_K, dim: int = 64
):
    """Product-quantization codebooks: the vector is split into ``m``
    contiguous subspaces of dim/m dims, each with its own ``k``-entry
    codebook. Centroids are the subvectors of the ``k`` smallest
    vec_ids — the same deterministic-seed policy as
    :func:`ivf_centroids` (and like there, the selection is pluggable:
    per-subspace k-means offline at scale; everything downstream only
    sees the codebook lists). Returns ``books[s][j]`` = centroid ``j``
    of subspace ``s`` — a driver-side model of m·k·(dim/m) floats,
    KBs for any realistic setting."""
    sub = dim // m
    rows = (
        embeddings.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(k)
        .collect()
    )
    books = []
    for s in range(m):
        books.append(
            [
                [float(x) for x in r.embedding[s * sub : (s + 1) * sub]]
                for r in rows
            ]
        )
    return books


def _pq_sub_dists(emb: F.Column, s: int, book_s: list, sub: int) -> F.Column:
    """ARRAY<BIGINT> of the k integer-quantized squared L2 distances
    (Σ floor((xᵢ−cᵢ)²·1e12) — see _QS) from subvector ``s`` to EVERY
    centroid of its codebook — one ``transform`` over a nested literal
    codebook array, so the k-loop lives in the HOF runtime and the
    expression tree is O(1) per subspace instead of O(k) independent
    fold trees. That tree-size difference is the whole point: the
    unrolled m·k form cost ~17 s of per-shape plan compilation for the
    full encode (halved once to ~7 s by zip_with+aggregate, r5); this
    form compiles the same plan in under a second. Integer entries are
    order-independent under addition BY CONSTRUCTION, so the same
    array serves both the code argmin and the ADC LUT (the r6
    DECIMAL(18,9)-of-round(·,9) form left a thread-order-dependent
    DuckDB float sum in front of the quantization — r6 VERDICT #1)."""
    sv = F.slice(emb, s * sub + 1, sub)
    books_lit = _lit_double_matrix(book_s)

    def one(carr):
        return F.aggregate(
            F.zip_with(
                sv,
                carr,
                lambda x, c: F.floor(
                    (
                        (x.cast("double") - c) * (x.cast("double") - c)
                    )
                    * F.lit(_QS)
                ),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )

    return F.transform(books_lit, one)


def _pq_lut(emb: F.Column, books, sub: int) -> F.Column:
    """Per-query ADC lookup table — m·k BIGINT quantized distances
    flattened ``[s*k + j]``: flatten of m per-subspace
    :func:`_pq_sub_dists` arrays (O(m) expression nodes)."""
    return F.flatten(
        F.array(
            *[
                _pq_sub_dists(emb, s, books[s], sub)
                for s in range(len(books))
            ]
        )
    )


def _adc_score(m: int, kc: int) -> F.Column:
    """The shared ADC distance: m LUT lookups indexed by the unpacked
    code nibbles (integral div/% — no float in the decode), summed as
    exact BIGINTs, surfaced as ``adist9`` = sum/1e12 in float64 (one
    IEEE division of an exactly-representable integer — identical
    cross-engine; the name keeps the historical column label, the
    quantum is 1e-12). Expects ``code`` and ``lut`` columns in scope.

    Built as ONE parsed SQL string (r12): the incremental Column form
    issued ~m·8 py4j round trips per fresh serving plan (~0.15 s of
    driver latency on the published-index headline); the string
    resolves to the SAME optimized plan — pinned canonically-equal
    and value-equal to the retained Column form by
    ``tests/test_expr_twins.py``."""
    terms = " + ".join(
        f"element_at(lut, {s * kc} + CAST((code div {int(kc ** s)}) % {kc} AS INT) + 1)"
        for s in range(m)
    )
    return F.expr(
        f"CAST(CAST(0 AS BIGINT) + {terms} AS DOUBLE) / {_QS!r}D"
    ).alias("adist9")


def _adc_score_column_form(m: int, kc: int) -> F.Column:
    """The original Column construction of :func:`_adc_score`,
    retained as the equivalence REFERENCE for the twin test."""
    adist = F.lit(0).cast("bigint")
    for s in range(m):
        code_s = F.expr(f"CAST((code div {int(kc ** s)}) % {kc} AS INT)")
        adist = adist + F.element_at(
            F.col("lut"), F.lit(s * kc) + code_s + F.lit(1)
        )
    return (adist.cast("double") / F.lit(_QS)).alias("adist9")


def pq_encode(
    embeddings: DataFrame, books, dim: int = 64
) -> DataFrame:
    """PQ encoding → ``(vec_id, code)`` with ``code`` packing the m
    per-subspace centroid ids little-endian in base k (m=8, k=16 →
    one BIGINT per 64-dim vector: 32 bytes → 8 nibbles, a 64×
    compression of float32). Per subspace the code is the argmin of
    the k squared distances, ties to the LOWEST centroid id (struct
    array_min ordering, the _cell_ranking convention). Map-only: a
    single projection of m·k fixed-length folds — no shuffle, no UDF,
    no join against the model."""
    return embeddings.select(
        "vec_id", _pq_code_expr(books, dim).alias("code")
    )


def pq_train_codebooks(
    embeddings: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    dim: int = 64,
    iterations: int = 2,
    sample_fraction: float | None = None,
):
    """TRAINED product-quantization codebooks: per subspace, Lloyd's
    k-means over the corpus's subvectors — literally
    :func:`ivf_train_kmeans` applied to each dim/m-dim slice (same
    determinism story: seed init, per-cell means recomputed from
    k·(dim/m) driver-side scalars per round; ``sample_fraction`` is
    the 100 TB path, a codebook needs a representative sample, not
    the corpus). Assignment runs under ``metric="l2"`` — the SAME
    squared-L2 objective :func:`pq_encode`/:func:`pq_topk` quantize
    by (a cosine-assigned codebook would train against a metric the
    quantizer never serves, and an all-zero subvector slice would
    NaN the cosine ranking). Returns the same ``books[s][j]`` shape
    as :func:`pq_codebooks`, so encode/search/persist take either
    interchangeably — the seed-vs-trained choice is a quality knob,
    not an API fork.

    r13 FUSED execution (guide §2 — job rounds, the r12 VERDICT's
    "single biggest measured cost" item): the m per-subspace
    trainings run as ONE Spark job per phase instead of m sequential
    :func:`ivf_train_kmeans` chains — 1 seed collect (the first k
    rows by vec_id, sliced driver-side: slicing is per-row, so every
    subspace's seed rows are the SAME k rows) + ``iterations`` fused
    assignment/mean-update jobs (per row, all m slices assign to
    their own subspace's centroids and explode to (s, cell, dim, x);
    the DECIMAL(28,12) per-(s,cell,dim) sums are exact under ANY
    grouping, so the fused sums equal the per-subspace sums bit for
    bit, and the driver-side float64 divides are unchanged). The
    books are therefore BIT-IDENTICAL to the sequential form —
    pinned by ``tests/test_ops.py::test_pq_train_codebooks_fused_
    matches_sequential`` against the retained
    :func:`_pq_train_codebooks_sequential` reference — and every
    golden stays valid. Measured on the aniso chain: 3 jobs instead
    of 24 (m=8, 2 iterations). Falls back to the sequential form
    when ``sample_fraction`` is set (per-slice Bernoulli sampling
    parity is partitioning-dependent) or the corpus has fewer than
    ``k`` rows (the per-slice DISTINCT seed top-up)."""
    from hadoop_search_spark.partitioning import spread

    if sample_fraction is not None:
        return _pq_train_codebooks_sequential(
            embeddings, m, k, dim, iterations, sample_fraction
        )
    sub = dim // m
    seed_rows = (
        embeddings.select("vec_id", "embedding").orderBy("vec_id").limit(k).collect()
    )
    if len(seed_rows) < k:
        return _pq_train_codebooks_sequential(
            embeddings, m, k, dim, iterations, sample_fraction
        )
    # scale-adaptive parallelism for the iteration jobs' map side (the
    # m fused rankings) — a no-op on an already-wide frame; the
    # DECIMAL sums are partitioning-invariant, so values don't move
    embeddings = spread(embeddings, "vec_id")
    # per-subspace centroid state [(cell, vec)], sliced from the shared
    # seed rows — identical to ivf_centroids over each sliced frame
    cents: list[list[tuple[int, list[float]]]] = [
        [
            (cell, [float(x) for x in r.embedding[s * sub : (s + 1) * sub]])
            for cell, r in enumerate(seed_rows)
        ]
        for s in range(m)
    ]
    for _ in range(iterations):
        structs = []
        for s in range(m):
            sl = F.slice(F.col("embedding"), s * sub + 1, sub)
            cell = _cell_ranking_l2(sl, cents[s]).getItem(0).getField("cell")
            structs.append(
                F.struct(
                    F.lit(s).alias("s"), cell.alias("cell"), sl.alias("v")
                )
            )
        sums = (
            embeddings.select(F.explode(F.array(*structs)).alias("e"))
            .select(
                F.col("e.s").alias("s"),
                F.col("e.cell").alias("cell"),
                F.posexplode(F.col("e.v")).alias("dim", "x"),
            )
            .groupBy("s", "cell", "dim")
            .agg(
                F.sum(
                    F.col("x").cast("double").cast("decimal(28,12)")
                ).alias("sm"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        by_s: dict[int, dict[int, dict[int, float]]] = {}
        for r in sums:
            by_s.setdefault(int(r.s), {}).setdefault(int(r.cell), {})[
                int(r.dim)
            ] = float(r.sm) / int(r.n)
        for s in range(m):
            bc = by_s.get(s, {})
            cents[s] = [
                (
                    cell,
                    [bc[cell][d] for d in range(sub)]
                    if cell in bc
                    else old_vec,
                )
                for cell, old_vec in cents[s]
            ]
    return [[list(map(float, vec)) for _, vec in cents[s]] for s in range(m)]


def _pq_train_codebooks_sequential(
    embeddings: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    dim: int = 64,
    iterations: int = 2,
    sample_fraction: float | None = None,
):
    """The original per-subspace-loop execution of
    :func:`pq_train_codebooks` — m sequential
    :func:`ivf_train_kmeans` chains. Retained as (a) the pinned
    bit-equality reference for the fused form and (b) the execution
    path for ``sample_fraction`` / tiny-corpus inputs, where the
    fused rewrite's preconditions don't hold."""
    sub = dim // m
    books = []
    for s in range(m):
        sliced = embeddings.select(
            "vec_id", F.slice(F.col("embedding"), s * sub + 1, sub).alias("embedding")
        )
        cents = ivf_train_kmeans(
            sliced,
            k=k,
            iterations=iterations,
            sample_fraction=sample_fraction,
            metric="l2",
        )
        books.append([list(map(float, vec)) for _, vec in cents])
    return books


def _pq_code_expr(books, dim: int = 64, col: F.Column | None = None) -> F.Column:
    """The packed-code COLUMN over an ``embedding`` column (or any
    array column passed as ``col`` — the residual path encodes
    ``embedding − centroid[cell]``) — exposed
    separately so composing operators (ivf_pq_topk) can project cell
    and code in one scan instead of joining two derivations.

    Argmin per subspace is ``array_position(d, array_min(d))`` over
    the :func:`_pq_sub_dists` array — array_position returns the
    FIRST index holding the minimum, i.e. ties break to the lowest
    centroid id, the same ordering the previous struct-array_min
    form (d asc, j asc) produced (pinned by the numpy differential
    and unchanged driver hashes)."""
    m, k = len(books), len(books[0])
    sub = dim // m
    vec = F.col("embedding") if col is None else col
    code = F.lit(0).cast("bigint")
    for s in range(m):
        d = _pq_sub_dists(vec, s, books[s], sub)
        best = F.array_position(d, F.array_min(d)) - F.lit(1).cast("bigint")
        code = code + best * F.lit(int(k**s))
    return code


def pq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k_results: int = 10,
    books=None,
    dim: int = 64,
) -> DataFrame:
    """Asymmetric-distance (ADC) PQ search → ``(query_id, vec_id,
    adist9, rn)``: corpus vectors are compared through their CODES
    only — the approximate distance is the sum of m table lookups,
    where the per-query lookup table holds the integer-quantized squared distance
    from the query's true subvector to every codebook centroid.

    Scale shape: the encoded corpus (one BIGINT per vector) is the
    only big operand; the m·k LUT per query is literal-inlined via a
    broadcast join, distance evaluation is m element_at lookups + a
    fixed sum (whole-stage codegen), and the only wide op is the
    per-query top-k window — the IVF probe pattern with codes instead
    of floats, i.e. the memory layout that makes billion-scale ANN
    serveable. Recall < 1 by design (quantization error), measured by
    :func:`recall_at_k`."""
    if books is None:
        books = pq_codebooks(embeddings, dim=dim)
    m, kc = len(books), len(books[0])
    sub = dim // m
    codes = pq_encode(embeddings, books, dim)
    q = _pick(embeddings, query_ids, "embedding")
    # per-query LUT: m*kc integer-quantized distances, flattened
    # [s*kc + j] — exact and order-independent under addition, so the
    # oracle may add the same 8 values in any join order and still
    # match (see _QS)
    qlut = q.select(
        "query_id", _pq_lut(F.col("embedding"), books, sub).alias("lut")
    )
    pairs = codes.join(
        F.broadcast(qlut), F.col("vec_id") != F.col("query_id")
    )
    scored = pairs.select("query_id", "vec_id", _adc_score(m, kc))
    return _topk_window(scored, k_results, F.asc("adist9"))


def ivf_pq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k_results: int = 10,
    num_centroids: int = NUM_CENTROIDS,
    nprobe: int = NPROBE,
    centroids=None,
    books=None,
    dim: int = 64,
) -> DataFrame:
    """IVF + PQ — the composed billion-scale ANN architecture: the
    coarse quantizer prunes the search to ``nprobe`` cells (IVF), and
    within them candidates are compared through their packed PQ codes
    only (ADC). Returns (query_id, vec_id, adist9, rn).

    At 100 TB this is the plan shape that serves: the index holds one
    BIGINT code + one cell id per vector (cell-partitioned on disk,
    as :func:`write_ivf_index` lays out), a query touches
    nprobe/num_centroids of the corpus and never reads a raw vector —
    the only float work is the per-query LUT (m·k distances against
    the query's true subvectors, broadcast). Both reductions are
    approximate (cell recall × code quantization), measured by
    :func:`recall_at_k`."""
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(embeddings, num_centroids)
    )
    if books is None:
        books = pq_codebooks(embeddings, dim=dim)
    m, kc = len(books), len(books[0])
    sub = dim // m
    # index side: cell + code in ONE map-only projection over one scan
    # (no self-join — the code expression composes into the assigned
    # projection)
    indexed = ivf_assign(embeddings, cents).select(
        "vec_id", "cell", _pq_code_expr(books, dim).alias("code")
    )
    # query side: probe cells (the ann_ivf_topk expression) + LUT
    q = _pick(embeddings, query_ids, "embedding")
    ranking = _cell_ranking(F.col("embedding"), cents)
    lut = _pq_lut(F.col("embedding"), books, sub)
    probes = q.select(
        "query_id",
        lut.alias("lut"),
        F.explode(F.slice(ranking, 1, nprobe)).alias("probe"),
    ).select("query_id", "lut", F.col("probe.cell").alias("cell"))
    pairs = indexed.join(F.broadcast(probes), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = pairs.select("query_id", "vec_id", _adc_score(m, kc))
    return _topk_window(scored, k_results, F.asc("adist9"))


def _residual_expr(emb: F.Column, centroids) -> F.Column:
    """``embedding − centroid[cell]`` as a pointwise array expression
    (requires a ``cell`` column in scope). Pure IEEE subtraction —
    bit-identical cross-engine, no rounding needed."""
    cvecs = _lit_double_matrix([vec for _, vec in centroids])
    return F.zip_with(
        emb,
        F.element_at(cvecs, (F.col("cell") + 1).cast("int")),
        lambda x, c: x.cast("double") - c,
    )


def pq_residual_codebooks(
    embeddings: DataFrame,
    centroids,
    m: int = PQ_M,
    k: int = PQ_K,
    dim: int = 64,
):
    """Seed PQ codebooks over RESIDUALS: the subvectors of the ``k``
    smallest vec_ids' ``x − centroid[cell]`` vectors — the
    :func:`pq_codebooks` policy applied in residual space (note the
    first ``num_centroids`` seeds ARE the coarse centroids, so their
    residuals are zero vectors; deterministic, and the quality path is
    the trained variant — :func:`pq_train_codebooks` over a residual
    frame). Residual arithmetic here is the same pointwise float64
    subtraction the Spark expression performs."""
    sub = dim // m
    cmap = {c: vec for c, vec in centroids}
    rows = (
        ivf_assign(embeddings, centroids)
        .select("vec_id", "cell", "embedding")
        .orderBy("vec_id")
        .limit(k)
        .collect()
    )
    books = []
    for s in range(m):
        books.append(
            [
                [
                    float(r.embedding[s * sub + i])
                    - float(cmap[int(r.cell)][s * sub + i])
                    for i in range(sub)
                ]
                for r in rows
            ]
        )
    return books


def ivf_pq_residual_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k_results: int = 10,
    num_centroids: int = NUM_CENTROIDS,
    nprobe: int = NPROBE,
    centroids=None,
    books=None,
    dim: int = 64,
    rotation=None,
) -> DataFrame:
    """IVF + RESIDUAL product quantization — the standard IVFADC
    layout: each vector's code quantizes ``x − centroid[cell]``, not
    ``x``. Residuals concentrate near the origin (the coarse
    quantizer has already explained the cell's mean), so the same
    m·k code budget spends its resolution on the part of the vector
    the cell DIDN'T capture — tighter codes at identical bits, which
    is why FAISS's IVFADC defaults to residual encoding.

    The ADC table becomes per (query, PROBED CELL): the query's
    residual is relative to the candidate's cell, so each probe row
    carries its own LUT (nprobe × m·k decimals per query — still
    request-sized, still broadcast). Everything else is
    :func:`ivf_pq_topk`'s shape: one map-only index projection of
    (vec_id, cell, code), candidates only from probed cells, exact
    exact integer ADC sums, (adist asc, vec_id) ranking.

    ``rotation=(mean, components, perm)`` composes OPQ over the
    residual space (train with
    :func:`pq_residual_opq_model`): both the index-side residual and
    the per-(query, probed-cell) residual pass through the SAME
    :func:`_opq_rotate_expr` before encode/LUT. Centering + an
    orthogonal rotation preserve L2, so rotated-space ADC distances
    rank the same metric — but the subspaces now carry balanced
    RESIDUAL variance, which is where the code budget actually
    spends (measured on the anisotropic fixture: stage-1 recall@10
    0.34 → 0.49 at identical bits, docs/ANN_QUALITY.md)."""
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(embeddings, num_centroids)
    )
    if books is None:
        # default books must live in the space the codes live in:
        # rotated residuals when a rotation is supplied (r10 ADVICE —
        # unrotated seed books under a rotation forfeit its recall)
        books = (
            pq_residual_opq_books(embeddings, cents, rotation, dim=dim)
            if rotation is not None
            else pq_residual_codebooks(embeddings, cents, dim=dim)
        )
    m, kc = len(books), len(books[0])
    sub = dim // m

    def enc(res_col: F.Column) -> F.Column:
        if rotation is None:
            return res_col
        mean, comps, perm = rotation
        return _opq_rotate_expr(res_col, mean, comps, perm)

    indexed = _ivfpq_encode_frame(
        embeddings,
        cents,
        books,
        dim,
        "residual_opq" if rotation is not None else "residual",
        rotation,
    )
    q = _pick(embeddings, query_ids, "embedding")
    ranking = _cell_ranking(F.col("embedding"), cents)
    probes = q.select(
        "query_id",
        "embedding",
        F.explode(F.slice(ranking, 1, nprobe)).alias("probe"),
    ).select("query_id", "embedding", F.col("probe.cell").alias("cell"))
    probes = probes.select(
        "query_id",
        "cell",
        enc(_residual_expr(F.col("embedding"), cents)).alias("qres"),
    )
    if rotation is not None:
        # same tree-duplication story on the query side: _pq_lut
        # references the rotated query residual m·k times; the frame
        # is request-sized (nprobe × |queries| rows), so the cut is
        # free
        probes = probes.localCheckpoint(eager=False)
    probes_lut = probes.select(
        "query_id", "cell", _pq_lut(F.col("qres"), books, sub).alias("lut")
    )
    pairs = indexed.join(F.broadcast(probes_lut), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = pairs.select("query_id", "vec_id", _adc_score(m, kc))
    return _topk_window(scored, k_results, F.asc("adist9"))


def _ivfpq_encode_frame(
    embeddings: DataFrame,
    cents,
    books,
    dim: int,
    encoding: str,
    rotation=None,
    exact_rotation: bool = True,
) -> DataFrame:
    """The (vec_id, cell, code) index projection for an IVF-PQ layout
    under the given ``encoding`` — SINGLE-SOURCED for the in-memory
    searches, the index build, and the append path, so no two sites
    can disagree about what a stored code MEANS:

    * ``"raw"`` — codes quantize x itself (:func:`ivf_pq_topk`);
    * ``"residual"`` — codes quantize x − centroid[cell] (IVFADC);
    * ``"residual_opq"`` — codes quantize R·(residual − mean), the
      OPQ rotation learned on the residual population
      (``rotation=(mean, components, perm)`` from
      :func:`pq_residual_opq_model`).

    The rotated form stages the rotated residual through a
    ``localCheckpoint``: the rotation is a ~dim² decimal-fold
    expression and ``_pq_code_expr`` references its input m·k times,
    so inlining would duplicate the subtree ~128-fold — an expression
    tree big enough to OOM plan compilation. A PUBLISHED index pays
    the materialization exactly once at build/append time.
    ``exact_rotation=False`` swaps the rotated form's decimal fold
    for the vectorized numpy matmul (see :func:`opq_rotate` — last-
    ulp different, ~50× faster, NOT golden-replayable; the production
    build knob for billion-row corpora).

    r13: the corpus is ``spread`` first (guide §2.6/§6) — the encode
    expressions (cell ranking + m·k sub-distances, plus the dim²
    decimal fold under ``residual_opq``) are the most expensive
    per-row work in the system, and a small-file corpus plans ONE
    scan partition, serializing all of it on one core. spread is a
    no-op once the scan is at least cluster-wide; the projection is
    map-only and every consumer ranks/aggregates with deterministic
    total orders, so values are unchanged (oracle-gated)."""
    from hadoop_search_spark.partitioning import spread

    embeddings = spread(embeddings, "vec_id")
    if encoding == "raw":
        return ivf_assign(embeddings, cents).select(
            "vec_id", "cell", _pq_code_expr(books, dim).alias("code")
        )
    res = _residual_expr(F.col("embedding"), cents)
    if encoding == "residual":
        return ivf_assign(embeddings, cents).select(
            "vec_id",
            "cell",
            _pq_code_expr(books, dim, col=res).alias("code"),
        )
    if encoding == "residual_opq":
        if rotation is None:
            raise ValueError(
                "encoding='residual_opq' requires rotation=(mean, "
                "components, perm) — train with pq_residual_opq_model"
            )
        mean, comps, perm = rotation
        if exact_rotation:
            assigned = ivf_assign(embeddings, cents).select(
                "vec_id",
                "cell",
                _opq_rotate_expr(res, mean, comps, perm).alias("remb"),
            ).localCheckpoint(eager=False)
        else:
            assigned = _opq_rotate_fast(
                ivf_assign(embeddings, cents).select(
                    "vec_id", "cell", res.alias("embedding")
                ),
                mean, comps, perm, extra_cols=("cell",),
            ).withColumnRenamed("embedding", "remb")
        return assigned.select(
            "vec_id",
            "cell",
            _pq_code_expr(books, dim, col=F.col("remb")).alias("code"),
        )
    raise ValueError(
        f"unknown IVF-PQ encoding {encoding!r}; one of "
        "['raw', 'residual', 'residual_opq']"
    )


def pq_residual_opq_model(
    embeddings: DataFrame,
    centroids,
    m: int = PQ_M,
    k: int = PQ_K,
    dim: int = 64,
    iterations: int = 2,
    exact_rotation: bool = True,
):
    """Train the OPQ-over-residuals model — the last uncomposed
    pairing in the quantization ladder: learn the parametric OPQ
    rotation (Ge et al. 2013) on the RESIDUAL population, then train
    the PQ codebooks in that rotated residual space. Returns
    ``(books, (mean, components, perm))`` — feed both to
    :func:`ivf_pq_residual_topk` / :func:`cascade_ivfpq_residual_topk`
    via ``books=``/``rotation=``.

    Why residual-space OPQ beats full-space OPQ here: the coarse
    quantizer has already explained each cell's mean, so the residual
    cloud's covariance — not the corpus's — is what the codebooks
    must cover; balancing THAT spectrum puts the bits where the
    remaining error lives (measured on the anisotropic fixture:
    +0.15 stage-1 recall over plain residual PQ vs +0.11 for
    full-space OPQ over plain PQ). Centering by the residual mean is
    L2-safe (translation preserves distances).

    Scale shape: residual moments via :func:`pca_moments` (one
    mapInPandas pass, dim² partial sums per batch), eigh + allocation
    driver-side on the model, per-subspace k-means via
    :func:`pq_train_codebooks` over the rotated frame —
    every trained parameter collects KBs by construction.
    ``exact_rotation=False`` trains over the vectorized numpy
    rotation instead of the decimal fold (~50× faster at build
    scale; the books differ only through last-ulp training inputs —
    use for production builds, keep the exact default wherever a
    golden replays the chain)."""
    from hadoop_search_spark.partitioning import spread

    # r13: spread before the residual projection — the assignment
    # ranking + pca_moments mapInPandas otherwise run on the one scan
    # partition a small-file corpus plans (moments are exact integer
    # sums, partitioning-invariant by construction — pca_train output
    # is bit-identical; see pca_moments)
    res = ivf_assign(spread(embeddings, "vec_id"), centroids).select(
        "vec_id", _residual_expr(F.col("embedding"), centroids).alias("embedding")
    )
    mean, comps, vals = pca_train(res, k=dim)
    perm = opq_allocate(vals, m)
    books = pq_residual_opq_books(
        embeddings, centroids, (mean, comps, perm), m, k, dim,
        iterations, exact_rotation,
    )
    return books, (mean, comps, perm)


def pq_residual_opq_books(
    embeddings: DataFrame,
    centroids,
    rotation,
    m: int = PQ_M,
    k: int = PQ_K,
    dim: int = 64,
    iterations: int = 2,
    exact_rotation: bool = True,
):
    """Train PQ codebooks in a GIVEN rotation's rotated residual space
    — :func:`pq_residual_opq_model`'s training tail, exposed for
    callers that already hold a rotation (a persisted ``/rotation``
    model, or a rotation trained on a different corpus slice). This
    is also the default-books path when a rotated search gets
    ``rotation=`` without ``books=``: codes and LUTs are computed
    over ROTATED residuals, so the codebooks must be trained there
    too. (r10 ADVICE: the old default fell through to
    :func:`pq_residual_codebooks` — seed books in the UNROTATED
    residual space. Self-consistent ranking, but it silently forfeits
    the recall the rotation exists to buy.)"""
    from hadoop_search_spark.partitioning import spread

    # r13: spread before the rotation — the exact decimal fold is the
    # most expensive per-row expression in the system (~ms/row) and a
    # small-file corpus otherwise evaluates it single-threaded on the
    # one planned scan partition (guide §2.6/§6). Map-only projection
    # + partitioning-invariant downstream sums → values unchanged.
    res = ivf_assign(spread(embeddings, "vec_id"), centroids).select(
        "vec_id", _residual_expr(F.col("embedding"), centroids).alias("embedding")
    )
    mean, comps, perm = rotation
    rot = opq_rotate(res, mean, comps, perm, exact=exact_rotation)
    # the rotation is a ~dim² expression recomputed by every k-means
    # pass over the lazy plan — cut the lineage once (the opq_pq_topk
    # pattern; bytes = |corpus| × dim doubles, same as the input)
    rot = rot.localCheckpoint(eager=False)
    return pq_train_codebooks(rot, m, k, dim, iterations)


def cascade_ivfpq_residual_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    w: int = 50,
    num_centroids: int = NUM_CENTROIDS,
    nprobe: int = NPROBE,
    centroids=None,
    books=None,
    dim: int = 64,
    rotation=None,
) -> DataFrame:
    """Residual IVFADC (optionally OPQ-rotated) as the CHEAP tier of
    a retrieval cascade: stage 1 is :func:`ivf_pq_residual_topk` top
    ``w`` per query (codes only — never reads a raw corpus vector),
    stage 2 reranks those ``w`` by exact cosine over the raw floats.
    Output is :func:`cosine_topk`'s (query_id, vec_id, cosine, rn) —
    EXACT scores over the residual-ADC candidate set, the
    :func:`cascade_ivfpq_topk` funnel with the tighter stage-1
    ordering residual (+OPQ) encoding buys: better candidates in the
    SAME w, so the rerank recovers more (anisotropic fixture:
    cascade recall@10 0.90 plain → 0.96 OPQ-rotated at w=50,
    docs/ANN_QUALITY.md). Same deterministic tie-breaks as every
    cascade stage, so the funnel is golden-replayable."""
    cand = ivf_pq_residual_topk(
        embeddings, query_ids, w, num_centroids, nprobe, centroids,
        books, dim, rotation,
    ).select("query_id", "vec_id")
    return _exact_rerank(embeddings, cand, _q_emb(embeddings, query_ids), k)


def binary_sketch_exprs(vec_col: str = "embedding", dim: int = 64):
    """Binary (sign) quantization of an embedding into two BIGINT
    halves — ``(sketch_hi, sketch_lo)``, 32 sign bits each: bit j of a
    half is 1 iff the corresponding component is > 0. One float32
    component becomes ONE bit (32× beyond int8, 128× vs float32), and
    every downstream comparison is pure integer — the aggressive end
    of the quantization ladder (float → int8 → PQ nibbles → sign
    bits), used as a Hamming pre-filter in front of exact/ADC
    reranking at billion scale.

    Two halves, not one 64-bit word: packing bit 63 would overflow
    signed BIGINT arithmetic (Java long wraps silently where DuckDB
    raises — a cross-engine trap), while 32-bit halves stay exact in
    both engines and generalize to any dim as ceil(dim/32) words.
    The pack is an ascending-index integer fold (acc·2 + sign), so
    element j of a half carries weight 2^(31−j)."""

    def half(h: int) -> F.Column:
        return F.aggregate(
            F.transform(
                F.slice(F.col(vec_col), h * 32 + 1, 32),
                lambda x: F.when(x.cast("double") > 0, 1)
                .otherwise(0)
                .cast("bigint"),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + acc + v,
        )

    if dim != 64:
        raise ValueError("binary_sketch_exprs packs dim=64 as 2x32 bits")
    return half(0).alias("sketch_hi"), half(1).alias("sketch_lo")


def hamming_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    dim: int = 64,
) -> DataFrame:
    """Top-k by Hamming distance between binary sign sketches →
    ``(query_id, vec_id, hamming, rn)`` — the integer-only ANN path:
    the corpus side is a map-only projection to two BIGINTs per
    vector, distance is ``bit_count(xor)`` on each half (whole-stage
    codegen, no floats anywhere, so the SQL oracle is exact by
    construction, not by rounding discipline), ranking ties to the
    lowest vec_id. Same broadcast-queries / corpus-streams /
    per-query-window shape as :func:`cosine_topk`.

    At 100 TB this is the first-stage filter: 16 bytes/vector scans
    at memory bandwidth, survivors rerank through PQ codes or raw
    vectors (compose with :func:`pq_topk` / :func:`cosine_topk`).
    Recall vs exact cosine is the documented approximation —
    sign-bit agreement is a monotone proxy for angular similarity
    (the 1-bit LSH bound)."""
    from hadoop_search_spark.partitioning import spread

    hi, lo = binary_sketch_exprs(dim=dim)
    sk = spread(embeddings, "vec_id").select("vec_id", hi, lo)
    q = _pick(
        sk,
        query_ids,
        F.col("sketch_hi").alias("q_hi"),
        F.col("sketch_lo").alias("q_lo"),
    )
    pairs = sk.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    ham = (
        F.bit_count(F.col("sketch_hi").bitwiseXOR(F.col("q_hi")))
        + F.bit_count(F.col("sketch_lo").bitwiseXOR(F.col("q_lo")))
    ).cast("bigint")
    scored = pairs.select("query_id", "vec_id", ham.alias("hamming"))
    return _topk_window(scored, k, F.asc("hamming"))


def cascade_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    prefilter: int = 100,
    dim: int = 64,
) -> DataFrame:
    """Staged retrieval cascade — the serving composition of the
    quantization ladder: stage 1 ranks the WHOLE corpus by sign-sketch
    Hamming distance (16 bytes/vector, all-integer, memory-bandwidth
    scan) and keeps the top ``prefilter`` per query; stage 2 reranks
    ONLY those candidates by exact cosine over the raw vectors.
    Output is :func:`cosine_topk`'s shape (query_id, vec_id, cosine,
    rn) — exact scores, approximate candidate set.

    Scale shape: stage 1 never touches a float; stage 2 touches
    ``prefilter × |queries|`` raw vectors, fetched by broadcasting the
    REQUEST-SIZED candidate id list against the corpus (a point-lookup
    join on the primary key — at 100 TB, an id-sorted/bucketed vector
    store serves it with file pruning). Recall vs the exact top-k is
    the prefilter-width knob (measured by :func:`recall_at_k`) — wider floor,
    same exact rerank; at prefilter = corpus size the cascade IS
    cosine_topk. Deterministic end to end: the Hamming cutoff ties
    break on vec_id, the rerank ties on (cosine desc, vec_id)."""
    cand = hamming_topk(embeddings, query_ids, prefilter, dim).select(
        "query_id", "vec_id"
    )
    return _exact_rerank(embeddings, cand, _q_emb(embeddings, query_ids), k)


def cascade3_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    w1: int = 200,
    w2: int = 40,
    books=None,
    dim: int = 64,
) -> DataFrame:
    """The FULL three-stage retrieval cascade — every tier of the
    quantization ladder in one serving plan:

    1. **sign bits** (2 BIGINTs/vector): Hamming scan of the whole
       corpus, keep top ``w1`` per query;
    2. **PQ codes** (1 BIGINT/vector): ADC rerank of the w1
       candidates through the broadcast per-query LUT, keep top
       ``w2`` (ties on adist break by vec_id);
    3. **raw floats**: exact cosine over the surviving w2.

    Each stage touches ~width × |queries| rows of the NEXT tier's
    representation — the corpus is only ever scanned at 16
    bytes/vector; codes and floats are point-fetched for candidates
    (broadcast id joins; pruned lookups against the stored index at
    scale). Output is :func:`cosine_topk`'s shape with exact final
    scores. Every cutoff is deterministic (rank + id tie-breaks), so
    the whole funnel is SQL-oracle-exact; the width pair (w1, w2) is
    the recall/byte-traffic dial."""
    if books is None:
        books = pq_codebooks(embeddings, dim=dim)
    m, kc = len(books), len(books[0])
    sub = dim // m
    c1 = hamming_topk(embeddings, query_ids, w1, dim).select(
        "query_id", "vec_id"
    )
    q = _pick(embeddings, query_ids, "embedding")
    qlut = q.select(
        "query_id", _pq_lut(F.col("embedding"), books, sub).alias("lut")
    )
    cand_codes = (
        embeddings.join(F.broadcast(c1), "vec_id")
        .select("query_id", "vec_id", _pq_code_expr(books, dim).alias("code"))
        .join(F.broadcast(qlut), "query_id")
    )
    c2 = _topk_window(
        cand_codes.select("query_id", "vec_id", _adc_score(m, kc)),
        w2,
        F.asc("adist9"),
    ).select("query_id", "vec_id")
    return _exact_rerank(
        embeddings, c2, q.withColumnRenamed("embedding", "q_emb"), k
    )


def cascade_ivfpq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    w: int = 50,
    num_centroids: int = NUM_CENTROIDS,
    nprobe: int = NPROBE,
    centroids=None,
    books=None,
    dim: int = 64,
) -> DataFrame:
    """IVF-PQ as the CHEAP tier of a retrieval cascade — the
    production serving shape: stage 1 is :func:`ivf_pq_topk` (probe
    nprobe cells, rank candidates by ADC over packed codes — never
    reads a raw corpus vector) keeping the top ``w`` per query;
    stage 2 reranks only those ``w`` by exact cosine over the raw
    floats. Output is :func:`cosine_topk`'s shape (query_id, vec_id,
    cosine, rn) — EXACT scores over an IVF-PQ candidate set.

    Why this tier pairing: IVF+PQ standalone carries both cell-miss
    AND quantization error in its final ORDER (recall@10 ≈ 0.19 at
    sf0.1, docs/ANN_QUALITY.md); the exact rerank cancels the
    quantization half at ``w × |queries|`` raw-vector point-lookup
    cost, leaving only cell recall — the knob ``w`` buys back ADC
    ordering mistakes, ``nprobe`` buys back cell misses. Same
    deterministic tie-breaks as every cascade stage (adist/vec_id at
    the cutoff, cosine/vec_id in the rerank), so the funnel is
    SQL-oracle-exact."""
    cand = ivf_pq_topk(
        embeddings, query_ids, w, num_centroids, nprobe, centroids,
        books, dim,
    ).select("query_id", "vec_id")
    return _exact_rerank(embeddings, cand, _q_emb(embeddings, query_ids), k)


# int8 stage-1 quantization scale: Σ floor((xᵢ·qᵢ)·1e9) per pair —
# |x|≤~1 (unit-ish query), |q|≤127, so each term ≤ ~1.3e11 and a
# 64-dim sum ≤ ~8.3e12, far inside int64; 1e-9 absolute per-element
# resolution is below any cosine gap the rerank can't fix.
_QS8 = 1_000_000_000.0  # 1e9


def _qdot8(a: F.Column, qvec: F.Column) -> F.Column:
    """Σ floor((aᵢ·qvecᵢ)·1e9) as one exact BIGINT — the int8 paths'
    float-against-code dot product (see _QS8): query against code on
    the serve side, centroid against code in the drift report."""
    return F.aggregate(
        F.zip_with(
            a,
            qvec,
            lambda x, qi: F.floor(
                (x.cast("double") * qi.cast("double")) * F.lit(_QS8)
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def _qn_expr(qvec: F.Column) -> F.Column:
    """Σ codeᵢ² as exact BIGINT — the int8 store's per-vector squared
    norm (the only per-vector statistic the scale-free ranking
    needs; amax cancels, see :func:`int8_topk`)."""
    return F.aggregate(
        qvec,
        F.lit(0).cast("bigint"),
        lambda acc, qi: acc + (qi * qi).cast("bigint"),
    )


def _s8(qn: F.Column) -> F.Column:
    """The scale-free int8 score sdot/√qn of a ``q_emb`` query against
    a stored ``qvec`` with squared norm ``qn`` — one IEEE division and
    sqrt of exact integers per row (see :func:`int8_topk`)."""
    return _qdot8(F.col("q_emb"), F.col("qvec")).cast("double") / F.sqrt(
        qn.cast("double")
    )


def int8_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    quantized: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k over the INT8 store — the serving use of
    :func:`embedding_quantize_int8` (which is otherwise only a
    storage/compression path): rank every vector by the cosine of the
    float query against the DEQUANTIZED candidate, computed so every
    cross-component sum is exact integer arithmetic.

    The per-vector scale cancels out of the ranking:
    cos(q, v̂) = (amax/127)·Σqᵢ·codeᵢ / (|q|·(amax/127)·√Σcodeᵢ²)
    ∝ sdot/√qn with sdot = Σ floor((qᵢ·codeᵢ)·1e9) (exact BIGINT, see
    _QS8) and qn = Σ codeᵢ² (exact BIGINT) — so amax is never even
    read at scan time, and the one IEEE division/sqrt per row sees
    bit-identical integers in every engine (the _cell_ranking
    contract). An all-zero vector (qn = 0) has NO cosine (0/0) and is
    EXCLUDED from the ranking — a score pin would be wrong in both
    directions (s8 is dot-scaled, so no finite constant sits below
    every negative-dot candidate). Returns (query_id, vec_id, s8, rn)
    with s8 the raw ratio — stage-1 material; the exact-score path is
    :func:`cascade_int8_topk`.

    Scale shape: map-only scan of 64 bytes/vector (4× less than
    float32, 16× less float math — the memory-bandwidth tier between
    sign bits and raw floats), queries broadcast as a bounded
    pick-list, one top-k window."""
    from hadoop_search_spark.partitioning import spread

    qz = quantized
    if qz is None:
        qz = embedding_quantize_int8(embeddings).select("vec_id", "qvec")
    qz = spread(qz, "vec_id").withColumn("_qn", _qn_expr(F.col("qvec")))
    pairs = (
        qz.filter(F.col("_qn") > 0)  # zero vectors have no cosine
        .join(
            F.broadcast(_q_emb(embeddings, query_ids)),
            F.col("vec_id") != F.col("query_id"),
        )
        .select("query_id", "vec_id", _s8(F.col("_qn")).alias("s8"))
    )
    return _topk_window(pairs, k, F.desc("s8"))


def cascade_int8_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    w: int = 50,
) -> DataFrame:
    """INT8 scan → exact rerank — the scalar-quantization tier of the
    cascade family (between sign-bit Hamming at 16 B/vec and raw
    floats at 256 B/vec): stage 1 is :func:`int8_topk` over the 64
    B/vec integer store keeping top ``w`` per query; stage 2 reranks
    only those by exact cosine. Output is :func:`cosine_topk`'s shape
    — exact scores, int8-approximate candidate set. int8's ~1e-3
    worst-case per-component reconstruction error barely perturbs
    cosine ORDER, so recall at small w runs far above the PQ tiers
    (measured in docs/ANN_QUALITY.md) at 8× their storage."""
    cand = int8_topk(embeddings, query_ids, w).select("query_id", "vec_id")
    return _exact_rerank(embeddings, cand, _q_emb(embeddings, query_ids), k)


def ivf_int8_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    num_centroids: int = NUM_CENTROIDS,
    nprobe: int = NPROBE,
    centroids=None,
) -> DataFrame:
    """IVF × scalar quantization — the IVF-SQ8 index shape: the
    coarse quantizer prunes to ``nprobe`` cells (like
    :func:`ann_ivf_topk`) but the in-cell scan reads the INT8 store
    (64 B/vec, the :func:`int8_topk` scale-free integer ranking)
    instead of raw floats — the standard middle ground when PQ's
    4-bit codes lose too much order and raw floats cost 4× the
    bandwidth. Returns (query_id, vec_id, s8, rn); s8 is the
    scale-free int8 score (one IEEE division/sqrt of exact integers
    per row — cross-engine deterministic).

    Index side is ONE map-only projection (cell + qvec + qn compose
    into a single scan); at scale it persists cell-partitioned like
    :func:`write_ivfpq_index`, so probing prunes files. Both
    approximations (cell miss × int8 ordering) are measured by
    :func:`recall_at_k` over the :func:`cascade_ivf_int8_topk`
    exact-rerank composition."""
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(embeddings, num_centroids)
    )
    qz = embedding_quantize_int8(embeddings).select("vec_id", "qvec")
    indexed = (
        ivf_assign(embeddings, cents)
        .select("vec_id", "cell")
        .join(qz, "vec_id")
        .withColumn("_qn", _qn_expr(F.col("qvec")))
    )
    q = _pick(embeddings, query_ids, "embedding")
    ranking = _cell_ranking(F.col("embedding"), cents)
    probes = q.select(
        F.col("query_id"),
        F.col("embedding").alias("q_emb"),
        F.explode(F.slice(ranking, 1, nprobe)).alias("probe"),
    ).select("query_id", "q_emb", F.col("probe.cell").alias("cell"))
    pairs = indexed.join(F.broadcast(probes), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = pairs.filter(F.col("_qn") > 0).select(
        "query_id", "vec_id", _s8(F.col("_qn")).alias("s8")
    )
    return _topk_window(scored, k, F.desc("s8"))


def cascade_ivf_int8_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    w: int = 50,
    num_centroids: int = NUM_CENTROIDS,
    nprobe: int = NPROBE,
) -> DataFrame:
    """IVF-SQ8 → exact rerank: :func:`ivf_int8_topk` candidates
    (cell-pruned int8 scan) reranked by exact cosine — the full
    production serving stack: cells bound the scan, int8 bounds the
    bandwidth, the rerank restores exact SCORES, and the only
    remaining approximation is cell recall (nprobe's dial)."""
    cand = ivf_int8_topk(
        embeddings, query_ids, w, num_centroids, nprobe
    ).select("query_id", "vec_id")
    return _exact_rerank(embeddings, cand, _q_emb(embeddings, query_ids), k)


def embedding_quantize_int8(
    embeddings: DataFrame, vec_col: str = "embedding",
    extra_cols: tuple = (),
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization — the storage
    path for a web-scale embedding store (4 bytes/dim → 1, before
    columnar compression) → ``(vec_id, amax9, qvec, n_sat, sum_qabs,
    max_abs_err9)``:

    * ``qvec[i] = clamp(floor(x_i * 127 / amax), -127, 127)`` with
      ``amax = max_i |x_i|`` — every step (multiply, divide, floor,
      clamp) is pointwise IEEE double arithmetic, bit-identical
      across engines (the cookbook rule: pointwise ops are safe,
      cross-row float SUMS are not — so the only aggregates here are
      max/count/integer sums);
    * ``amax9`` is the 9dp-rounded scale a dequantizer needs
      (``x ≈ q * amax / 127``);
    * ``n_sat`` counts saturated components and ``max_abs_err9`` is
      the per-vector worst reconstruction error — the two numbers
      that tell an index operator whether int8 is safe for this
      corpus or whether a cell needs float retention;
    * ``sum_qabs`` is an exact integer checksum of the quantized
      vector (engine-portable content fingerprint of the qvec).

    Map-only: one narrow projection, no shuffle, no UDF. All-zero
    vectors quantize to all-zero with amax9 = 0 (guarded division).
    """
    x = F.col(vec_col)
    amax = F.array_max(F.transform(x, lambda v: F.abs(v.cast("double"))))
    q = F.transform(
        x,
        lambda v: F.greatest(
            F.lit(-127),
            F.least(
                F.lit(127),
                F.when(amax > 0, F.floor(v.cast("double") * 127 / amax))
                .otherwise(0)
                .cast("int"),
            ),
        ).cast("int"),
    )
    err = F.zip_with(
        x,
        q,
        lambda v, qi: F.abs(
            v.cast("double")
            - qi.cast("double") * F.when(amax > 0, amax).otherwise(F.lit(1.0)) / 127
        ),
    )
    return embeddings.select(
        "vec_id",
        *extra_cols,
        F.round(amax, 9).alias("amax9"),
        q.alias("qvec"),
        F.size(F.filter(q, lambda qi: F.abs(qi) == 127))
        .cast("bigint")
        .alias("n_sat"),
        F.aggregate(
            q, F.lit(0).cast("bigint"), lambda acc, qi: acc + F.abs(qi)
        ).alias("sum_qabs"),
        F.round(F.array_max(err), 9).alias("max_abs_err9"),
    )


PCA_SCALE = 10**9  # per-row integer quantization for exact moment sums


def pca_moments(embeddings: DataFrame, vec_col: str = "embedding"):
    """Distributed first/second moments of the embedding cloud,
    EXACTLY: per row, each x_i·10^9 and each product x_i·x_j·10^9 is
    rounded to an integer (numpy rint, vectorized); the integer
    contributions sum in DECIMAL(38,0) — order-independent, so the
    moments (and everything derived from them) are bit-identical
    under any partitioning. Returns (n, s1[dim], s2[dim][dim]) as
    Python ints at the 10^9 scale.

    Scale shape: one ``mapInPandas`` pass emits per-BATCH partial
    sums (dim + dim² + 1 rows per batch, not per input row) and one
    tiny shuffle aggregates them — the classic partial-aggregate
    moment computation; nothing corpus-sized leaves the executors.
    Rounding error is bounded by 5·10⁻¹⁰ per covariance entry.
    Within a batch the quantized chunk sums accumulate in PYTHON ints
    (arbitrary precision) — a float64 accumulator would lose integer
    exactness past 2^53 and silently break the partition-invariance
    guarantee on large-magnitude embeddings.
    """
    import numpy as np
    import pandas as _pd

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            n_rows, d = x.shape
            s1 = [0] * d
            s2 = [0] * (d * d)
            # per-row quantization, chunked so both the (rows, dim,
            # dim) intermediate and the int64 chunk sums stay within
            # range (512 rows × |x|²·10⁹ is far below 2^63)
            for lo in range(0, n_rows, 512):
                c = x[lo : lo + 512]
                c1 = np.rint(c * PCA_SCALE).astype(np.int64).sum(axis=0)
                c2 = (
                    np.rint(c[:, :, None] * c[:, None, :] * PCA_SCALE)
                    .astype(np.int64)
                    .sum(axis=0)
                    .ravel()
                )
                for i, v in enumerate(c1):
                    s1[i] += int(v)
                for i, v in enumerate(c2):
                    s2[i] += int(v)
            # kind 0 = count, 1 = s1, 2 = s2 — separate key spaces, so
            # no index arithmetic can collide at any dimension
            kind = [0] + [1] * d + [2] * (d * d)
            idx = [0] + list(range(d)) + list(range(d * d))
            val = [str(n_rows)] + [str(v) for v in s1] + [str(v) for v in s2]
            yield _pd.DataFrame({"kind": kind, "idx": idx, "v": val})

    sums = (
        embeddings.select(vec_col)
        .mapInPandas(partials, "kind INT, idx LONG, v STRING")
        .groupBy("kind", "idx")
        .agg(F.sum(F.col("v").cast("decimal(38,0)")).alias("s"))
        .collect()
    )
    by_key = {(r.kind, r.idx): int(r.s) for r in sums}
    n = by_key[(0, 0)]
    dim = max(i for k, i in by_key if k == 1) + 1
    s1 = [by_key[(1, i)] for i in range(dim)]
    s2 = [[by_key[(2, i * dim + j)] for j in range(dim)] for i in range(dim)]
    return n, s1, s2


def _eigh_det(cov):
    """Deterministic symmetric eigendecomposition — cyclic-by-rows
    Jacobi with a fixed sweep schedule, replacing ``np.linalg.eigh``
    in every golden-checked path. LAPACK's eigh is NOT a stable
    contract: its blocked kernels are chosen by runtime CPU dispatch,
    and this repo OBSERVED the same input matrix producing
    last-few-ulp-different eigenvectors across sessions on this VM
    (host migration changes the dispatched kernel), which flipped 23
    of 150 golden adist9 values at sf0.1 — a latent flake in every
    PCA/OPQ golden. Jacobi uses only scalar IEEE arithmetic and
    ELEMENTWISE numpy vector ops (no reductions, no blocking, no
    dispatch), so the result is a pure function of the input bits on
    any IEEE-754 machine — the same determinism class as the rest of
    the golden contracts. The independent replay
    (make_goldens._jacobi_eigh) implements the identical documented
    schedule.

    Contract (the replay mirrors it exactly): A starts as a float64
    copy of ``cov``; sweeps run p = 0..d-2, q = p+1..d-1 in order; a
    rotation is skipped iff A[p,q] == 0.0; theta = (A[q,q] − A[p,p])
    / (2·A[p,q]), t = sign(theta)/(|theta| + sqrt(theta² + 1))
    (t = 1 when theta == 0), c = 1/sqrt(t² + 1), s = t·c; rows p,q
    then columns p,q of A and columns p,q of V update elementwise;
    sweeps stop after 50 or when max |off-diagonal| == 0.0. Accuracy
    is Jacobi's classic strength (componentwise-relative — better
    than QR-based eigh); 64×64 converges in ~8 sweeps. Returns
    (eigenvalues, eigenvectors-as-columns) in eigh's shape,
    unordered — callers sort."""
    import numpy as np

    a = np.array(cov, dtype=np.float64, copy=True)
    d = a.shape[0]
    v = np.eye(d, dtype=np.float64)
    iu = np.triu_indices(d, k=1)
    for _sweep in range(50):
        # exact max of |off-diagonal|: max is order-independent (no
        # rounding), so this early-exit test is deterministic
        if float(np.max(np.abs(a[iu]))) == 0.0:
            break
        for p in range(d - 1):
            for q in range(p + 1, d):
                apq = float(a[p, q])
                if apq == 0.0:
                    continue
                theta = (float(a[q, q]) - float(a[p, p])) / (2.0 * apq)
                if theta == 0.0:
                    t = 1.0
                else:
                    t = math.copysign(1.0, theta) / (
                        abs(theta) + math.sqrt(theta * theta + 1.0)
                    )
                c = 1.0 / math.sqrt(t * t + 1.0)
                s = t * c
                ap = a[p, :].copy()
                aq = a[q, :].copy()
                a[p, :] = c * ap - s * aq
                a[q, :] = s * ap + c * aq
                ap = a[:, p].copy()
                aq = a[:, q].copy()
                a[:, p] = c * ap - s * aq
                a[:, q] = s * ap + c * aq
                vp = v[:, p].copy()
                vq = v[:, q].copy()
                v[:, p] = c * vp - s * vq
                v[:, q] = s * vp + c * vq
    return np.diag(a).copy(), v


def pca_train(
    embeddings: DataFrame, k: int = 4, vec_col: str = "embedding"
) -> tuple[list[float], list[list[float]], list[float]]:
    """PCA of the embedding cloud → (mean[dim], components[k][dim],
    eigenvalues[k]) — the whitening/compaction model ANN pipelines
    apply before indexing (IVF-PQ style). The moments come from
    :func:`pca_moments` (exact, partitioning-invariant); the dim×dim
    eigendecomposition runs driver-side on numpy (the model, like
    k-means centroids — dim is 10²-10³, never data-sized). Component
    signs are pinned (largest-|component| entry positive) so the
    model is fully deterministic."""
    import numpy as np

    n, s1, s2 = pca_moments(embeddings, vec_col)
    mean = np.array(s1, dtype=np.float64) / PCA_SCALE / n
    e_xy = np.array(s2, dtype=np.float64) / PCA_SCALE / n
    cov = e_xy - np.outer(mean, mean)
    # deterministic Jacobi, NOT np.linalg.eigh: LAPACK's runtime
    # kernel dispatch made eigh output drift across VM sessions,
    # silently invalidating every PCA/OPQ golden (see _eigh_det)
    vals, vecs = _eigh_det(cov)
    order = np.argsort(vals)[::-1][:k]
    comps = []
    for i in order:
        v = vecs[:, i]
        pivot = int(np.argmax(np.abs(v)))
        if v[pivot] < 0:
            v = -v
        comps.append([float(c) for c in v])
    return (
        [float(m) for m in mean],
        comps,
        [float(vals[i]) for i in order],
    )


def pca_project(
    embeddings: DataFrame,
    mean: list[float],
    components: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Project each embedding onto the PCA components →
    ``(vec_id, p0..p{k-1})``, map-only with the model inlined as
    literal arrays (broadcast-by-literal — k·dim doubles).

    Each coordinate is Σ_i Q9((x_i − mean_i)·w_i) with each term cast
    straight to DECIMAL(28,9) BEFORE the sum — the established
    cross-engine/cross-impl determinism rule: the 64-term float dot
    product is order-sensitive in the last ulp, the decimal sum is
    not. The double→decimal cast (shortest repr, HALF_UP) is exactly
    ``Decimal(str(x)).quantize(1e-9, HALF_UP)`` — the golden twin
    reproduces it term-for-term in Python."""
    mean_arr = _lit_double_array(mean)
    centered = F.zip_with(
        F.col(vec_col), mean_arr, lambda x, m: x.cast("double") - m
    )
    cols = [F.col(id_col)]
    for j, comp in enumerate(components):
        w = _lit_double_array(comp)
        terms = F.zip_with(
            centered, w, lambda x, c: (x * c).cast("decimal(28,9)")
        )
        acc = F.aggregate(
            terms,
            F.lit(0).cast("decimal(28,9)"),
            # accumulator precision is load-bearing: at (38,9) the
            # addition's result type overflows precision 38 and Spark
            # RESCALES to (38,8) — silently rounding the 9th decimal at
            # every fold step. (28,9)+(28,9) → (29,9) is lossless; the
            # cast back merely restores the accumulator type (same
            # scale, no rounding; |sum| << 10^19)
            lambda a, t: (a + t).cast("decimal(28,9)"),
        )
        cols.append(acc.cast("double").alias(f"p{j}"))
    return embeddings.select(*cols)


def opq_allocate(eigenvalues: list[float], m: int = PQ_M) -> list[int]:
    """Parametric OPQ dimension allocation (Ge et al. 2013, the
    closed-form solution for Gaussian data): PCA components, sorted
    by eigenvalue DESC (the order :func:`pca_train` returns), are
    bucketed into ``m`` subspaces so the PRODUCT of eigenvalues per
    subspace is as balanced as possible — balancing the variance each
    codebook must spend its k centroids on. Greedy: assign each
    component, in desc-eigenvalue order, to the subspace with free
    capacity and the smallest log-product; ties take the lowest
    subspace index. Deterministic driver-side arithmetic on the model
    — the golden replay reproduces it exactly. Returns ``perm`` with
    ``perm[s·sub + t]`` = the component index at slot t of subspace
    s."""
    if len(eigenvalues) % m:
        raise ValueError(f"{len(eigenvalues)} components not divisible by m={m}")
    sub = len(eigenvalues) // m
    # shift-normalize the log spectrum to be >= 0: every bucket ends
    # with exactly `sub` items, so a per-item constant shifts every
    # bucket sum equally and the balance objective is unchanged —
    # while restoring the classic greedy's precondition. Without it,
    # an all-below-1 spectrum (negative logs) makes "smallest sum"
    # point at the MOST-loaded bucket and the greedy inverts (caught
    # by the skewed-spectrum invariant test).
    lams = [max(float(v), 1e-12) for v in eigenvalues]
    base = math.log(min(lams))
    items = [math.log(v) - base for v in lams]
    logs = [0.0] * m
    slots: list[list[int]] = [[] for _ in range(m)]
    for j in range(len(items)):  # eigenvalues arrive DESC = items DESC
        best = min(
            (s for s in range(m) if len(slots[s]) < sub),
            key=lambda s: (logs[s], s),
        )
        slots[best].append(j)
        logs[best] += items[j]
    return [j for s in range(m) for j in slots[s]]


def opq_rotate(
    embeddings: DataFrame,
    mean: list[float],
    components: list[list[float]],
    perm: list[int],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exact: bool = True,
) -> DataFrame:
    """Project each embedding into the OPQ space → ``(vec_id,
    embedding)`` with position ``pos`` holding PCA component
    ``perm[pos]`` — i.e. the rotation R·(x − mean) followed by the
    allocation permutation. Orthogonal rotation + permutation
    preserve L2 exactly, so PQ distances trained/served in this space
    ARE (quantized) distances in the original space — the whole OPQ
    trick is that the subspaces now carry balanced variance. Each
    coordinate is the :func:`pca_project` decimal-fold (exact,
    order-independent, golden-replayable term for term); map-only,
    model inlined as literals.

    ``exact=False`` is the 100 TB BUILD path: one Arrow-batched
    ``mapInPandas`` pass computing ``(X − mean)·Rᵀ`` as a numpy
    float64 matmul — measured ~50× the decimal fold's throughput
    (Spark evaluates higher-order-function folds interpreted per
    array element, so the exact form costs ~3.7 ms/row at dim=64;
    fine for the request-sized query side and the committed
    fixtures, a real cost at billions of build rows). The fast form
    differs from the exact one only in the last float ulp (no 1e-9
    quantization, BLAS summation order), which changes NOTHING a
    persisted index serves — codes are stored, and ADC comparisons
    shift by at most an ulp — but it is NOT golden-replayable, so
    every golden-checked entry keeps ``exact=True``."""
    if exact:
        return embeddings.select(
            F.col(id_col).alias("vec_id"),
            _opq_rotate_expr(F.col(vec_col), mean, components, perm).alias(
                "embedding"
            ),
        )
    return _opq_rotate_fast(
        embeddings, mean, components, perm, vec_col, id_col
    )


def _opq_rotate_fast(
    embeddings: DataFrame,
    mean: list[float],
    components: list[list[float]],
    perm: list[int],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    extra_cols: tuple = (),
) -> DataFrame:
    """The vectorized build-path rotation (see :func:`opq_rotate`
    ``exact=False``): (X − mean)·Rᵀ as one numpy matmul per Arrow
    batch, optionally carrying ``extra_cols`` through (the encode
    path keeps ``cell`` alongside the rotated residual)."""
    import numpy as np
    import pandas as _pd

    mu = np.array([float(m) for m in mean], dtype=np.float64)
    rt = np.array(
        [[float(x) for x in components[ci]] for ci in perm],
        dtype=np.float64,
    ).T  # dim_in × dim_out, so rotated = (X − mu) @ rt
    extras = list(extra_cols)

    def rotate(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            y = (x - mu) @ rt
            out = {"vec_id": pdf[id_col].to_numpy()}
            for c in extras:
                out[c] = pdf[c].to_numpy()
            out["embedding"] = list(y)
            yield _pd.DataFrame(out)

    schema = "vec_id BIGINT, " + "".join(
        f"{c} BIGINT, " for c in extras
    ) + "embedding ARRAY<DOUBLE>"
    return embeddings.select(id_col, *extras, vec_col).mapInPandas(
        rotate, schema
    )


def _opq_rotate_expr(
    vec: F.Column,
    mean: list[float],
    components: list[list[float]],
    perm: list[int],
) -> F.Column:
    """The OPQ rotation R·(x − mean) + allocation permutation as a
    pure array EXPRESSION over any vector column — the composable form
    :func:`opq_rotate` projects with, exposed separately so operators
    that rotate a DERIVED vector (the residual paths rotate
    ``x − centroid[cell]`` on the index side and the per-(query,
    probed-cell) residual on the query side) can inline it without a
    self-join. Each output coordinate is the exact decimal-fold dot
    product (order-independent, golden-replayable term for term).

    r12 form: ONE ``transform`` over the permuted literal component
    matrix instead of dim unrolled fold trees (the
    :func:`_pq_sub_dists` shape — the k-loop lives in the HOF
    runtime). The unrolled form issued ~dim·20 py4j round trips and
    compiled a ~dim× larger codegen body per fresh plan; per-element
    arithmetic is unchanged (same zip_with/aggregate, same
    DECIMAL(28,9) casts over the same literal doubles), pinned
    value-identical to the retained unrolled form by
    ``tests/test_expr_twins.py`` on randomized vectors and by the
    golden-replay oracles of every OPQ entry."""
    mean_arr = _lit_double_array(mean)
    centered = F.zip_with(vec, mean_arr, lambda x, mn: x.cast("double") - mn)
    w_matrix = _lit_double_matrix([components[i] for i in perm])
    return F.transform(
        w_matrix,
        lambda w: F.aggregate(
            F.zip_with(centered, w, lambda x, c: (x * c).cast("decimal(28,9)")),
            F.lit(0).cast("decimal(28,9)"),
            lambda a, t: (a + t).cast("decimal(28,9)"),
        ).cast("double"),
    )


def _opq_rotate_expr_unrolled(
    vec: F.Column,
    mean: list[float],
    components: list[list[float]],
    perm: list[int],
) -> F.Column:
    """The original per-coordinate unrolled construction of
    :func:`_opq_rotate_expr`, retained as the value-equivalence
    REFERENCE for the twin test."""
    mean_arr = _lit_double_array(mean)
    centered = F.zip_with(vec, mean_arr, lambda x, mn: x.cast("double") - mn)
    elems = []
    for comp_idx in perm:
        w = _lit_double_array(components[comp_idx])
        terms = F.zip_with(
            centered, w, lambda x, c: (x * c).cast("decimal(28,9)")
        )
        elems.append(
            F.aggregate(
                terms,
                F.lit(0).cast("decimal(28,9)"),
                lambda a, t: (a + t).cast("decimal(28,9)"),
            ).cast("double")
        )
    return F.array(*elems)


def opq_pq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k_results: int = 10,
    m: int = PQ_M,
    kc: int = PQ_K,
    dim: int = 64,
    iterations: int = 2,
) -> DataFrame:
    """OPQ (parametric) + trained PQ ADC search: rotate into the
    eigenvalue-balanced PCA space, train per-subspace codebooks
    there, serve ADC top-k there. Returns (query_id, vec_id, adist9,
    rn) — distances are OPQ-space quantized L2, comparable to
    :func:`pq_topk`'s because the rotation preserves L2. On isotropic
    (near-random) fixtures the allocation is a statistical no-op and
    recall matches plain trained PQ — the machinery is what the entry
    validates; the win needs anisotropic real embeddings (Ge et al.
    report it amplifying with eigenvalue spread)."""
    mean, comps, vals = pca_train(embeddings, k=dim)
    perm = opq_allocate(vals, m)
    rot = opq_rotate(embeddings, mean, comps, perm)
    # the rotation is a ~dim² expression recomputed by every k-means
    # pass over the lazy plan — cut the lineage once (model-sized
    # blowup only: |corpus| × dim doubles, same bytes as the input)
    rot = rot.localCheckpoint(eager=False)
    books = pq_train_codebooks(rot, m, kc, dim, iterations)
    return pq_topk(rot, query_ids, k_results, books=books, dim=dim)




# ------------------------------------ published ANN indexes: one core
#
# The three persisted layouts — plain IVF (float vectors), IVF-SQ8
# (int8 codes) and IVF-PQ (packed PQ codes) — share one lifecycle, the
# one the text index has: an offline build PUBLISHES cell-partitioned
# rows plus frozen models, appends add rows under those frozen models
# with gen lineage, and a serve ranks the probe cells on the driver
# and scans only those partition directories. The core below is that
# lifecycle written once; an IndexLayout record supplies only what
# differs between the layouts.


class _Models(NamedTuple):
    """The frozen models of a published index: the coarse quantizer
    (every layout) and, for IVF-PQ, the codebooks, the encoding kind
    and the OPQ rotation."""

    cents: list
    books: list | None = None
    encoding: str = "raw"
    rotation: tuple | None = None


@dataclass(frozen=True)
class IndexLayout:
    """What one published ANN layout supplies to the shared core:

    * ``rows`` — the row table under the index root (``vectors`` or
      ``codes``); ``marker`` — a column only this layout's rows carry
      (how :func:`layout_of` tells layouts apart); ``label``/
      ``builder`` — how errors name the layout and its build;
    * ``load``/``tables`` — the model load, and the model tables a
      publish writes besides ``/centroids``;
    * ``prepare``/``encode`` — the append's cast to the stored types,
      and the (vec_id, cell, ...) row projection build and append
      share;
    * ``probe_col``/``probe`` — the per-(query, probed cell) payload
      the serve broadcasts; ``score``/``score_col``/``descending`` —
      the score over the joined pairs and its ordering;
    * ``report`` — the drift report over the lineage-read rows."""

    name: str
    rows: str
    marker: str
    label: str
    builder: str
    load: Callable
    tables: Callable
    prepare: Callable
    encode: Callable
    probe_col: str
    probe: Callable
    score: Callable
    score_col: str
    descending: bool
    report: Callable

    def append(
        self,
        spark: SparkSession,
        path: str,
        new_embeddings: DataFrame,
        check_ids: bool = True,
        exact_rotation: bool = True,
    ) -> int:
        """Incremental index maintenance — the ANN analogue of the text
        index's ``merge_index``: encode NEW vectors under the published
        index's FROZEN models and append them into their cell partitions.
        Only the touched ``cell=N`` directories gain files (one per cell,
        rebalanced like the build); existing files are never rewritten,
        so the operation is O(|new|) regardless of index size, and a
        serve sees exactly what a full rebuild with the same models would.
        Returns the number of rows added.

        The batch is pinned ONCE (``localCheckpoint``): it is evaluated
        by the id checks, the append write and the returned count — a
        non-deterministic source (sampling, a mutating stream batch)
        could pass the checks yet append different rows if each consumer
        re-executed the plan. ``check_ids`` fails fast on vec_ids repeated
        within the batch (an ingest retry concatenated into one frame) or
        colliding with the index — an append cannot replace a vector, and
        a silent duplicate would serve as two rows for one id; the index
        check scans only the vec_id column.

        The generation is claimed in ``_GEN`` BEFORE the data lands: a
        crash between the two leaves a HOLE in the gen sequence (harmless
        — gens are lineage labels, not offsets), whereas the reverse
        order would leave a stale _GEN and MERGE the next append into
        this one's generation in the drift lineage."""
        models = _models(spark, path, self)
        batch = self.prepare(spark, path, new_embeddings).localCheckpoint()
        if check_ids:
            n_intra = (
                batch.groupBy("vec_id").count().filter(F.col("count") > 1).count()
            )
            if n_intra:
                raise ValueError(
                    f"{n_intra} vec_ids appear more than once in the new batch; "
                    f"{self.label} append cannot deduplicate — distinct the "
                    "batch first"
                )
            existing = spark.read.parquet(f"{path}/{self.rows}").select("vec_id")
            n_dup = batch.join(existing, "vec_id").count()
            if n_dup:
                raise ValueError(
                    f"{n_dup} vec_ids already exist in the index at {path}; "
                    f"{self.label} append cannot replace vectors — rebuild, "
                    "or use fresh ids"
                )
        gen = _read_gen(spark, path, self.rows) + 1
        rows = self.encode(batch, models, exact_rotation).withColumn(
            "gen", F.lit(gen).cast("bigint")
        )
        _write_gen(path, gen)
        _write_rows(rows, path, self.rows, "append")
        # count the WRITTEN frame (recomputed over the checkpointed batch,
        # so it equals what the write saw), not the raw input
        return rows.count()

    def drift(self, spark: SparkSession, path: str) -> DataFrame:
        """This layout's drift report over the index at ``path``:
        build generation (gen=0) against every append since — a pure
        aggregation over the published rows, no re-assignment."""
        rows = _lineage(spark, path, self.rows)
        return self.report(rows, _models(spark, path, self))


def _model_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A tiny driver-side MODEL table (centroids/codebooks/rotation/
    encoding) as a ONE-slice DataFrame. ``createDataFrame(list)``
    parallelizes the rows into ``defaultParallelism`` pickled slices,
    and the publish pattern's ``coalesce(1)`` then pulls every slice
    through a SEQUENTIAL Python-worker roundtrip inside one task —
    measured 4-6 s per KB-sized model write at local[32] (r13; guide
    §4: the Python boundary). One explicit slice = one roundtrip
    (~0.3 s), the SAME row-conversion path, bit-identical values
    (pinned by ``tests/test_ops.py::test_model_frame_one_slice_
    bit_identical``), and already a single output file — no coalesce
    needed."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def _write_gen(path: str, gen: int) -> None:
    """Claim generation ``gen`` in the ``_GEN`` sidecar (tmp file +
    atomic rename; single-writer, like ``_CURRENT``)."""
    import os

    tmp = os.path.join(path, "_GEN.tmp")
    with open(tmp, "w") as f:
        f.write(str(int(gen)))
    os.replace(tmp, os.path.join(path, "_GEN"))


def _lineage(spark: SparkSession, path: str, table: str) -> DataFrame:
    """The index's row table with its gen lineage. An index built
    BEFORE gen lineage existed and appended to afterwards holds a mix
    of gen-less and gen-bearing files: the read merges schemas (a
    plain read can sample a legacy footer and lose the column) and
    legacy rows' NULL gen coalesces to 0 — they ARE the build
    generation, so a drift baseline keeps its original vectors
    instead of silently dropping them."""
    rows = spark.read.option("mergeSchema", "true").parquet(f"{path}/{table}")
    zero = F.lit(0).cast("bigint")
    gen = F.coalesce(F.col("gen"), zero) if "gen" in rows.columns else zero
    return rows.withColumn("gen", gen)


def _read_gen(spark: SparkSession, path: str, table: str) -> int:
    """Current index generation in O(1) from the _GEN sidecar;
    pre-sidecar indexes (or ones written before gen lineage existed)
    fall back to one pruned scan of the lineage read — max(gen), 0
    for a gen-less index (all build generation by definition, so
    appends/drift keep working instead of failing on the missing
    column)."""
    import os

    marker = os.path.join(path, "_GEN")
    if os.path.exists(marker):
        with open(marker) as f:
            return int(f.read().strip())
    return int(
        _lineage(spark, path, table)
        .agg(F.coalesce(F.max("gen"), F.lit(0)).alias("g"))
        .collect()[0]
        .g
    )


def _write_rows(rows: DataFrame, path: str, table: str, mode: str) -> None:
    """Write index rows partitioned by cell, REBALANCED by cell first
    (guide §6): the encode frame may be spread across the cluster for
    its expressions, and writing it directly would emit one file per
    (task × cell). The AQE rebalance shuffles only the encoded rows
    (the encode projection stays below the exchange), coalescing to
    advisory-sized files per cell directory and splitting a hot cell
    rather than funnelling it through one writer."""
    rows.hint("rebalance", "cell").write.mode(mode).partitionBy("cell").parquet(
        f"{path}/{table}"
    )


def _model_fingerprint(spark: SparkSession, path: str, table: str = "centroids"):
    """Cross-process staleness signal for a published model table:
    the sorted (file name, length, mtime) tuple of ``{path}/{table}``
    via the Hadoop FileSystem client — a driver-side metadata call
    (no Spark job) that works on any filesystem the session reaches.
    An in-place rebuild rewrites the part-files (new UUID names), so
    the tuple changes even though the path does not. This is the
    signal the in-process writer invalidation cannot give when the
    rebuild happens in a DIFFERENT process (a CLI ``ann build`` next
    to a long-lived serving session): the frozen models are re-read
    the first serve after the fingerprint moves, never silently
    served stale."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(f"{path}/{table}")
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return tuple(
        sorted(
            (
                st.getPath().getName(),
                int(st.getLen()),
                int(st.getModificationTime()),
            )
            for st in fs.listStatus(hpath)
        )
    )


def _models(spark: SparkSession, path: str, layout: IndexLayout) -> _Models:
    """The frozen models of the index at ``path``, loaded at most once
    per (session, path) — CORRECT by the frozen-models contract:
    appends never change centroids, codebooks, encoding or rotation
    (re-defining them would re-define every stored row), so the only
    mutation that could stale the cache is a rebuild. :func:`_publish`
    drops the key it writes in-process, and a CROSS-process rebuild
    is caught by the :func:`_model_fingerprint` check on every read
    (the layout name is part of the validated fingerprint, since a
    layout loads only the models it serves with). At real scale the
    artifact is immutable-versioned and a serving process pins the
    models once — this cache is that behavior, and it removes the
    model-load jobs from every cold serve/append/drift (measured r11:
    1.4 s → ~0.4 s fresh-plan IVF-PQ serve at nprobe=2; the
    fingerprint is one driver-side listStatus, not a job)."""
    fp = (layout.name, _model_fingerprint(spark, path))
    return memo(spark, "model", path, lambda: layout.load(spark, path), fp)


def _publish(
    layout: IndexLayout,
    path: str,
    embeddings: DataFrame,
    models: _Models,
    exact_rotation: bool = True,
) -> None:
    """Build and persist an index: the encoded rows PARTITIONED BY
    cell under ``{path}/{layout.rows}`` stamped ``gen=0`` (the build
    generation; appends stamp 1, 2, ... — the lineage the drift
    reports compare against), the ``_GEN`` sidecar, the coarse
    quantizer under ``/centroids`` and the layout's other model
    tables. Probing a published index then touches only the probed
    cell directories — partition pruning does the cell selection at
    the FILE level, the on-disk analogue of an in-memory inverted
    list. An in-place rebuild re-defines the frozen models, so any
    session-pinned copy is dropped."""
    spark = embeddings.sparkSession
    rows = layout.encode(embeddings, models, exact_rotation)
    _write_rows(
        rows.withColumn("gen", F.lit(0).cast("bigint")), path, layout.rows, "overwrite"
    )
    _write_gen(path, 0)
    centroids = (
        "centroids",
        [(int(c), [float(x) for x in v]) for c, v in models.cents],
        "cell INT, centroid ARRAY<DOUBLE>",
    )
    for table, model_rows, schema in [centroids, *layout.tables(models)]:
        _model_frame(spark, model_rows, schema).write.mode("overwrite").parquet(
            f"{path}/{table}"
        )
    forget("model", lambda k: k == path)


def _serve(
    spark: SparkSession,
    path: str,
    layout: IndexLayout,
    qrows: list,
    k: int,
    nprobe: int,
    exclude_self: bool = True,
) -> DataFrame:
    """Serve top-k from a published index for request-sized query rows
    (query_id, embedding). The whole query side runs ON THE DRIVER:
    probe cells rank with :func:`_py_cell_ranking` — the exact Python
    twin of the Catalyst ranking expression (integer :func:`_py_qdot`
    sums feeding one IEEE division; bit-identical, the equivalence
    every golden replay pins) — and the layout builds each (query,
    probed cell) payload with its own exact twins. That removes the
    per-plan compilation of the query-side expressions (the serving
    constant, measured r11); the distributed part is only what scales:
    the row scan filtered on the LITERAL probed-cell set (so only
    those partition directories are read — PartitionFilters in the
    scan, asserted in tests), a broadcast join of the payload frame,
    and the per-query top-k window.

    ``exclude_self`` drops candidates whose vec_id equals the
    query_id — right when queries come FROM the indexed corpus. An
    EXTERNAL id space (an encoder's request ids) is unrelated to
    corpus vec_ids, and a numeric collision must not silently drop a
    true neighbor."""
    models = _models(spark, path, layout)
    lit_rows = []
    for r in qrows:
        emb = [float(x) for x in r.embedding]
        for cell in _py_cell_ranking(emb, models.cents)[:nprobe]:
            lit_rows.append(
                (int(r.query_id), layout.probe(models, emb, cell), int(cell))
            )
    # verifySchema=False: the rows are built just above from int()/
    # float() and the twins (typed by construction), and the
    # per-element verifier walk costs ~0.1 s per serve on an m·k LUT
    # × nprobe × queries (measured r12 — pure driver latency)
    probes_lit = spark.createDataFrame(
        lit_rows,
        f"query_id BIGINT, {layout.probe_col}, cell BIGINT",
        verifySchema=False,
    )
    probed_cells = sorted({c for _q, _p, c in lit_rows})
    rows = spark.read.parquet(f"{path}/{layout.rows}").filter(
        F.col("cell").isin(probed_cells)
    )
    pairs = rows.join(F.broadcast(probes_lit), "cell")
    if exclude_self:
        pairs = pairs.filter(F.col("vec_id") != F.col("query_id"))
    order = F.desc if layout.descending else F.asc
    return _topk_window(layout.score(pairs, models), k, order(layout.score_col))


def layout_of(spark: SparkSession, path: str) -> IndexLayout | None:
    """The layout of the index published at ``path`` — ``None`` when
    there is none: the first layout whose row table carries its
    marker column. Detection reads THROUGH Spark, so an index on any
    filesystem the session reaches resolves; only a genuine
    path-not-found from the read counts as absent (the r10 rule:
    ``os.path`` cannot see a remote index)."""
    from pyspark.errors import AnalysisException

    columns: dict[str, list] = {}
    for layout in LAYOUTS.values():
        if layout.rows not in columns:
            try:
                columns[layout.rows] = spark.read.parquet(
                    f"{path}/{layout.rows}"
                ).columns
            except AnalysisException as exc:
                if "PATH_NOT_FOUND" not in str(exc):
                    raise
                columns[layout.rows] = []
        if layout.marker in columns[layout.rows]:
            return layout
    return None


def _dec(c: F.Column) -> F.Column:
    return c.cast("decimal(38,0)")


def _cell_drift(
    tagged: DataFrame,
    v9: str,
    sums: str,
    share_factor: int,
    dist_margin9: int,
) -> DataFrame:
    """The per-cell tail both quantizer drift reports share, over a
    (cell, is_orig, ``v9``) frame whose ``v9`` is a row's floored
    cosine-to-centroid ×1e9 → ``(cell, n_orig, n_new, {sums}_orig,
    {sums}_new, share_drift, dist_drift, drifted)``:

    * ``share_drift``: the cell's share of APPENDED vectors exceeds
      ``share_factor`` × its share of ORIGINAL vectors (new data is
      piling into cells the quantizer sized small — hot partitions at
      probe time). A cell with appends but zero original vectors
      always flags.
    * ``dist_drift``: appended vectors sit materially farther from
      their centroid than the originals — the mean ``v9`` of the new
      slice is more than ``dist_margin9``/1e9 below the original
      slice's (the quantizer no longer fits the data near this cell).

    Both tests are integer/DECIMAL(38) cross-multiplications of exact
    BIGINT sums — no float sum, no division anywhere, so a DuckDB
    oracle reproduces every flag bit-for-bit. Scale shape: one
    per-cell aggregation (partial aggs apply) + a 1-row broadcast of
    the global totals."""
    col = F.col(v9)

    def sum9(cond):
        return F.sum(F.when(cond, col).otherwise(F.lit(0))).cast("bigint")

    agg = tagged.groupBy("cell").agg(
        F.sum(F.when(F.col("is_orig"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_orig"),
        F.sum(F.when(~F.col("is_orig"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_new"),
        sum9(F.col("is_orig")).alias(f"{sums}_orig"),
        sum9(~F.col("is_orig")).alias(f"{sums}_new"),
    )
    tots = agg.agg(
        F.sum("n_orig").cast("bigint").alias("tot_orig"),
        F.sum("n_new").cast("bigint").alias("tot_new"),
    )
    share_drift = _dec(F.col("n_new")) * _dec(F.col("tot_orig")) > F.lit(
        share_factor
    ) * _dec(F.col("n_orig")) * _dec(F.col("tot_new"))
    dist_drift = (
        (F.col("n_orig") > 0)
        & (F.col("n_new") > 0)
        & (
            _dec(F.col(f"{sums}_new")) * _dec(F.col("n_orig"))
            < _dec(F.col(f"{sums}_orig")) * _dec(F.col("n_new"))
            - F.lit(dist_margin9) * _dec(F.col("n_orig")) * _dec(F.col("n_new"))
        )
    )
    return (
        agg.crossJoin(F.broadcast(tots))
        .withColumn("share_drift", share_drift)
        .withColumn("dist_drift", dist_drift)
        .withColumn("drifted", F.col("share_drift") | F.col("dist_drift"))
        .drop("tot_orig", "tot_new")
    )


# ---------------------------------------------- layout: plain IVF


def load_ivf_centroids(spark: SparkSession, path: str):
    """Centroid model back from a published index (driver-side list,
    same shape ivf_centroids/ivf_train_kmeans produce)."""
    rows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    return [(int(r.cell), [float(x) for x in r.centroid]) for r in rows]


def _load_centroids(spark: SparkSession, path: str) -> _Models:
    return _Models(load_ivf_centroids(spark, path))


def _no_tables(models: _Models) -> list:
    return []


def _ivf_prepare(spark: SparkSession, path: str, frame: DataFrame) -> DataFrame:
    # normalize to the INDEX's stored embedding type BEFORE assigning:
    # appending ARRAY<DOUBLE> rows into an ARRAY<FLOAT> store makes
    # the vectors dir unreadable under schema merge (float/double
    # arrays don't reconcile), and assignment must run on the values
    # AS STORED for append == rebuild to hold exactly
    stored = spark.read.parquet(f"{path}/vectors").schema["embedding"].dataType
    return frame.withColumn("embedding", F.col("embedding").cast(stored))


def _ivf_encode(frame: DataFrame, models: _Models, exact_rotation=True) -> DataFrame:
    return ivf_assign(frame, models.cents)


def _query_probe(models: _Models, emb: list, cell: int) -> list:
    return emb


def _ivf_score(pairs: DataFrame, models: _Models) -> DataFrame:
    return pairs.select(
        "query_id", "vec_id", _cosine_names("embedding", "q_emb").alias("cosine")
    )


def _ivf_report(rows: DataFrame, models: _Models) -> DataFrame:
    return ivf_drift_stats(
        rows.filter(F.col("gen") == 0), rows.filter(F.col("gen") > 0), models.cents
    )


def write_ivf_index(
    embeddings: DataFrame,
    path: str,
    centroids=None,
    num_centroids: int = NUM_CENTROIDS,
):
    """Build and persist the IVF index: vectors land in parquet
    PARTITIONED BY their cell (``{path}/vectors/cell=N/``) with the
    quantizer centroids alongside (``{path}/centroids``) — the
    :func:`_publish` lifecycle. This is the offline-build / serve
    split the text index uses (SURVEY.md §3.2), applied to ANN.
    Returns the centroid model."""
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(embeddings, num_centroids)
    )
    _publish(LAYOUTS["ivf"], path, embeddings, _Models(cents))
    return cents


def ivf_index_add(
    spark: SparkSession,
    path: str,
    new_embeddings: DataFrame,
    check_ids: bool = True,
) -> int:
    """Append NEW vectors to a published IVF index under its FROZEN
    quantizer (:meth:`IndexLayout.append`; returns the number of vectors added).
    The quantizer is intentionally NOT retrained here — cell
    assignments of existing vectors must stay valid for the appended
    files to compose with them. Quantizer drift under a shifting
    embedding distribution is watched by :func:`ivf_index_drift` and
    handled by an offline rebuild (:func:`write_ivf_index`). Pass
    ``check_ids=False`` when the caller guarantees fresh ids (e.g.
    monotone ingest offsets) and the id scan is not worth it."""
    return LAYOUTS["ivf"].append(spark, path, new_embeddings, check_ids)


def ivf_index_topk(
    spark: SparkSession,
    path: str,
    query_ids: list[int],
    k: int = 10,
    nprobe: int = NPROBE,
) -> DataFrame:
    """Serve approximate top-k from a PUBLISHED IVF index
    (:func:`_serve`) — the read-side twin of :func:`ann_ivf_topk`,
    identical output for the same quantizer and nprobe (pinned by
    test). The query-vector lookup itself is an id filter over the
    index — ONE job; a serving deployment would keep vectors also
    keyed by id (the corpus sink pattern) for point fetch."""
    qrows = _pick(
        spark.read.parquet(f"{path}/vectors"), query_ids, "embedding"
    ).collect()
    return _serve(spark, path, LAYOUTS["ivf"], qrows, k, nprobe)


def ivf_drift_stats(
    orig: DataFrame,
    new: DataFrame,
    centroids,
    share_factor: int = 2,
    dist_margin9: int = 50_000_000,
) -> DataFrame:
    """Quantizer drift report — the observability half of the
    frozen-quantizer contract (:func:`ivf_index_add` appends with the
    BUILD-time centroids; this answers "has the appended distribution
    drifted far enough that the documented offline rebuild should
    run?"). Per cell → ``(cell, n_orig, n_new, sum_cos9_orig,
    sum_cos9_new, share_drift, dist_drift, drifted)`` with the
    :func:`_cell_drift` flags over each vector's cosine to its
    assigned centroid.

    Exactness: per-vector cosine-to-assigned-centroid derives from
    :func:`_qdot` integer sums (dot and both squared norms — see _QS),
    so the one IEEE division/sqrt sees bit-identical inputs in every
    engine and run; the per-row value then quantizes via
    ``floor(cos·1e9)`` (floor of an identical double is deterministic
    cross-engine where round() is not) into an exact BIGINT sum. Mean
    distances are derivable by the consumer as sum_cos9 / n / 1e9.
    The centroid lookup is ``element_at`` on a C-sized literal array
    — map-only, no join against the model."""
    cvecs = _lit_double_matrix([vec for _, vec in centroids])
    cqnorms = F.array(
        *[F.lit(float(_py_qdot(vec, vec))) for _, vec in centroids]
    )
    idx = (F.col("cell") + 1).cast("int")
    cosd = _qdot(F.col("embedding"), F.element_at(cvecs, idx)).cast(
        "double"
    ) / F.sqrt(
        _qdot(F.col("embedding"), F.col("embedding")).cast("double")
        * F.element_at(cqnorms, idx)
    )
    tagged = (
        orig.select("embedding", "cell", F.lit(True).alias("is_orig"))
        .unionByName(
            new.select("embedding", "cell", F.lit(False).alias("is_orig"))
        )
        .withColumn("row9", F.floor(cosd * F.lit(1000000000.0)))
    )
    return _cell_drift(tagged, "row9", "sum_cos9", share_factor, dist_margin9)


def ivf_index_drift(spark: SparkSession, path: str) -> DataFrame:
    """Drift report over a PUBLISHED IVF index: original = the
    ``gen=0`` build generation, appended = every :func:`ivf_index_add`
    generation since (:meth:`IndexLayout.drift`). Vectors already
    carry their cell, so this is a pure aggregation over the index —
    no re-assignment."""
    return LAYOUTS["ivf"].drift(spark, path)


# ------------------------------------------- layout: IVF-SQ8 (int8)


def _int8_prepare(spark: SparkSession, path: str, frame: DataFrame) -> DataFrame:
    return frame.withColumn("embedding", F.col("embedding").cast("array<double>"))


def _int8_encode(frame: DataFrame, models: _Models, exact_rotation=True) -> DataFrame:
    # r13: assign + quantize are both MAP-ONLY projections of the
    # same row (a self-join on vec_id would shuffle both subtrees,
    # guide §2.4); spread parallelizes the quantize folds on a
    # small-file scan (a no-op at cluster-wide scans)
    from hadoop_search_spark.partitioning import spread

    return (
        embedding_quantize_int8(
            ivf_assign(spread(frame, "vec_id"), models.cents),
            extra_cols=("cell",),
        )
        .select("vec_id", "cell", "amax9", "qvec")
        .withColumn("qn", _qn_expr(F.col("qvec")))
    )


def _int8_score(pairs: DataFrame, models: _Models) -> DataFrame:
    # zero vectors (qn = 0) have no cosine and are excluded
    return pairs.filter(F.col("qn") > 0).select(
        "query_id", "vec_id", _s8(F.col("qn")).alias("s8")
    )


def _int8_report(rows: DataFrame, models: _Models) -> DataFrame:
    store = rows.select(
        # partition-column cell reads back as INT — widen to BIGINT so
        # the published schema matches every other index report
        F.col("cell").cast("bigint").alias("cell"),
        "qvec",
        "qn",
        (F.col("gen") == 0).alias("is_orig"),
    )
    return int8_drift_stats(store, models.cents)


def write_int8_index(
    embeddings: DataFrame,
    path: str,
    centroids=None,
    num_centroids: int = NUM_CENTROIDS,
):
    """Build and persist the IVF-SQ8 index — the 64 B/vec serving
    tier as a durable artifact (the int8 twin of
    :func:`write_ivfpq_index`): one row per vector ``(vec_id, amax9,
    qvec, qn, gen)`` under ``{path}/vectors/cell=N/`` plus the coarse
    centroid model (``/centroids``, the :func:`write_ivf_index`
    layout, so :func:`load_ivf_centroids` reads it unchanged). No raw
    floats are stored: the scan side of :func:`int8_index_topk` reads
    codes + the precomputed BIGINT norm (``qn``, materialized at
    build so serving never re-folds it), and ``amax9`` rides along
    for consumers that need approximate dequantization
    (``x ≈ q·amax/127``). Returns the centroid model."""
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(embeddings, num_centroids)
    )
    _publish(LAYOUTS["int8"], path, embeddings, _Models(cents))
    return cents


def int8_index_add(
    spark: SparkSession,
    path: str,
    new_embeddings: DataFrame,
    check_ids: bool = True,
) -> int:
    """Incremental IVF-SQ8 maintenance (:meth:`IndexLayout.append`): quantize NEW
    vectors, assign them with the published index's FROZEN coarse
    centroids, and append ``(vec_id, amax9, qvec, qn, gen)`` rows into
    their cell partitions. int8 quantization is PER-VECTOR (each
    row's own amax), so unlike PQ there is no trained codebook to
    freeze — the only frozen model is the coarse quantizer, and the
    drift story is :func:`int8_index_drift`'s cell-distribution
    watch. Returns rows added."""
    return LAYOUTS["int8"].append(spark, path, new_embeddings, check_ids)


def int8_index_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k_results: int = 10,
    nprobe: int = NPROBE,
    exclude_self: bool = True,
) -> DataFrame:
    """Serve stage-1 top-k from a PUBLISHED IVF-SQ8 index
    (:func:`_serve`). ``queries`` is a (query_id, embedding) frame
    (the index stores no raw floats — query embeddings arrive from
    the caller). Scoring is the scale-free integer ranking: sdot
    (exact BIGINT fold of floor(qᵢ·codeᵢ·1e9)) / √qn (the precomputed
    BIGINT norm) — one IEEE div/sqrt of identical integers per row.
    Zero vectors (qn = 0) have no cosine and are excluded. Returns
    (query_id, vec_id, s8, rn) — :func:`ivf_int8_topk`'s shape,
    pinned equal to it for the same centroids; compose with an exact
    rerank against the raw corpus for the
    :func:`cascade_ivf_int8_topk` serving stack."""
    qrows = queries.select("query_id", "embedding").collect()
    return _serve(
        spark, path, LAYOUTS["int8"], qrows, k_results, nprobe, exclude_self
    )


def int8_drift_stats(
    store: DataFrame,
    centroids,
    share_factor: int = 2,
    dist_margin9: int = 50_000_000,
) -> DataFrame:
    """Quantizer drift report for an IVF-SQ8 store — the
    observability half of the frozen-coarse-quantizer contract for
    the int8 layout, computed from the STORE ALONE (no raw floats
    anywhere in the index): the per-vector scale cancels out of
    cosine, so cos(x̂, c) of the DEQUANTIZED vector equals
    cos(qvec, c) exactly — amax is never read. ``store`` is the
    published (cell, qvec, qn, is_orig) frame; per cell →
    ``(cell, n_orig, n_new, sum_dq9_orig, sum_dq9_new, share_drift,
    dist_drift, drifted)`` with the :func:`_cell_drift` flags over the
    dequantized cosine-to-centroid.

    Exactness: the numerator is Σ floor(cᵢ·qvecᵢ·1e9) (exact BIGINT —
    the _QS8 recipe over int codes), the denominator
    √qn·√(qc/1e12) with qn the store's precomputed BIGINT norm and
    qc the centroid's _py_qdot integer literal — every IEEE op sees
    bit-identical integers, and the per-row value floors to ``dq9``
    (an exact BIGINT sum). Every published column is BIGINT/BOOLEAN
    (the r9 l1x lesson).

    Zero-norm convention: a stored row with ``qn = 0`` (the all-zero
    vector) contributes ``dq9 = 0`` and IS counted in
    ``n_orig``/``n_new`` — unlike the SERVE path, which excludes
    zero-norm rows from ranking (cosine undefined). The report is a
    census of the store, so every stored row counts; an appended
    batch dominated by zero vectors therefore drags the appended
    slice's mean cosine toward 0, which is the correct alarm — those
    rows ARE unservable quantization junk. The SQL oracle mirrors the
    cos:=0 convention deliberately.

    The centroid model must be dense 0..C-1 (checked at plan time —
    ``element_at`` keys by LIST POSITION) and every store cell must
    be in range (checked per row via ``raise_error`` — a non-ANSI
    out-of-range ``element_at`` returns NULL, which would silently
    drop those rows from the drift sums)."""
    cells = [c for c, _ in centroids]
    if cells != list(range(len(cells))):
        raise ValueError(
            "int8_drift_stats: centroid cells must be dense 0..C-1 "
            f"(element_at keys by list position), got {cells}"
        )
    n_cells = len(centroids)
    cvecs = _lit_double_matrix([vec for _, vec in centroids])
    cqn = F.array(
        *[F.lit(float(_py_qdot(vec, vec))) for _, vec in centroids]
    )
    idx = (F.col("cell") + 1).cast("int")
    dq = _qdot8(F.element_at(cvecs, idx), F.col("qvec")).cast("double") / (
        F.sqrt(F.col("qn").cast("double"))
        * F.sqrt(F.element_at(cqn, idx) / F.lit(float(_QS)))
    )
    tagged = store.withColumn(
        "dq9",
        F.when(
            (F.col("cell") < 0) | (F.col("cell") >= n_cells),
            F.raise_error(
                F.concat(
                    F.lit("int8_drift_stats: store cell "),
                    F.col("cell").cast("string"),
                    F.lit(
                        f" outside the centroid model's 0..{n_cells - 1}"
                        " — store and model are from different builds"
                    ),
                )
            ).cast("bigint"),
        )
        .when(F.col("qn") > 0, F.floor(dq))
        .otherwise(F.lit(0)),
    )
    return _cell_drift(tagged, "dq9", "sum_dq9", share_factor, dist_margin9)


def int8_index_drift(spark: SparkSession, path: str) -> DataFrame:
    """Drift report over a PUBLISHED IVF-SQ8 index: build generation
    (gen=0) vs every :func:`int8_index_add` since
    (:meth:`IndexLayout.drift`) — a pure aggregation over the store
    (rows already carry cell, qvec, and the precomputed qn; no raw
    vectors exist to scan)."""
    return LAYOUTS["int8"].drift(spark, path)


# ------------------------------------------------- layout: IVF-PQ


def load_ivfpq_models(spark: SparkSession, path: str):
    """(centroids, books) back from a published IVF-PQ index."""
    cents = load_ivf_centroids(spark, path)
    rows = spark.read.parquet(f"{path}/codebooks").orderBy("s", "j").collect()
    m = max(r.s for r in rows) + 1
    books = [[None] * (len(rows) // m) for _ in range(m)]
    for r in rows:
        books[r.s][r.j] = [float(x) for x in r.centroid]
    return cents, books


def load_ivfpq_encoding(spark: SparkSession, path: str):
    """(encoding_kind, rotation_or_None) from a published IVF-PQ
    index. Pre-r10 indexes have no ``/encoding`` table and load as
    ``("raw", None)`` — the only layout that existed then. A
    persisted rotation comes back with the permutation pre-applied
    (identity perm), so callers feed it straight to
    :func:`_opq_rotate_expr`.

    Detection reads THROUGH Spark, so an index on any filesystem the
    session can reach (HDFS/S3 URIs included) resolves its real
    encoding — only a genuine path-not-found from the read maps to
    the pre-r10 raw layout. (r10 ADVICE: the old ``os.path.exists``
    probe made a reachable-but-remote residual index silently load
    as raw — exactly the silent-fallback class the drift guards
    exist to kill: raw LUTs against residual codes rank wrong, and
    an append would corrupt the stored code meaning.)"""
    from pyspark.errors import AnalysisException

    try:
        kind = spark.read.parquet(f"{path}/encoding").collect()[0].kind
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e):
            return "raw", None
        raise
    if kind != "residual_opq":
        return kind, None
    rows = spark.read.parquet(f"{path}/rotation").orderBy("pos").collect()
    mean = [float(r.mean) for r in rows]
    comps = [[float(x) for x in r.comp] for r in rows]
    return kind, (mean, comps, list(range(len(rows))))


def _load_ivfpq(spark: SparkSession, path: str) -> _Models:
    return _Models(
        *load_ivfpq_models(spark, path), *load_ivfpq_encoding(spark, path)
    )


def _ivfpq_tables(models: _Models) -> list:
    """The codebooks and the encoding kind, plus the rotation (with
    the allocation permutation PRE-APPLIED, so serve/append
    reconstruct the exact expression) for a residual_opq index."""
    books = models.books
    tables = [
        (
            "codebooks",
            [
                (s, j, [float(x) for x in books[s][j]])
                for s in range(len(books))
                for j in range(len(books[0]))
            ],
            "s INT, j INT, centroid ARRAY<DOUBLE>",
        ),
        ("encoding", [(models.encoding,)], "kind STRING"),
    ]
    if models.encoding == "residual_opq":
        mean, comps, perm = models.rotation
        tables.append(
            (
                "rotation",
                [
                    (pos, float(mean[pos]), [float(x) for x in comps[ci]])
                    for pos, ci in enumerate(perm)
                ],
                "pos INT, mean DOUBLE, comp ARRAY<DOUBLE>",
            )
        )
    return tables


def _keep_frame(spark: SparkSession, path: str, frame: DataFrame) -> DataFrame:
    return frame


def _ivfpq_encode(frame: DataFrame, models: _Models, exact_rotation=True) -> DataFrame:
    # the corpus dim is the codebooks' m × subvector length
    books = models.books
    return _ivfpq_encode_frame(
        frame,
        models.cents,
        books,
        len(books) * len(books[0][0]),
        models.encoding,
        models.rotation,
        exact_rotation=exact_rotation,
    )


def _ivfpq_probe(models: _Models, emb: list, cell: int) -> list:
    """The (query, probed cell) ADC lookup table, built on the driver
    with the exact twins: for ``residual``/``residual_opq`` codes the
    query's residual is taken against the probed cell's centroid
    (rotated for OPQ) before the table builds — exactly the
    :func:`ivf_pq_residual_topk` contract."""
    qvec = emb
    if models.encoding != "raw":
        qvec = [x - c for x, c in zip(emb, dict(models.cents)[cell])]
        if models.encoding == "residual_opq":
            qvec = _py_opq_rotate(qvec, models.rotation)
    return _py_pq_lut(qvec, models.books, len(models.books[0][0]))


def _ivfpq_score(pairs: DataFrame, models: _Models) -> DataFrame:
    return pairs.select(
        "query_id", "vec_id", _adc_score(len(models.books), len(models.books[0]))
    )


def _ivfpq_report(rows: DataFrame, models: _Models) -> DataFrame:
    return ivfpq_drift_stats(
        rows.filter(F.col("gen") == 0),
        rows.filter(F.col("gen") > 0),
        m=len(models.books),
        k=len(models.books[0]),
    )


def write_ivfpq_index(
    embeddings: DataFrame,
    path: str,
    centroids=None,
    books=None,
    num_centroids: int = NUM_CENTROIDS,
    dim: int = 64,
    encoding: str = "raw",
    rotation=None,
    exact_rotation: bool = True,
):
    """Persist the IVF-PQ index: ONE row per vector — (vec_id, code)
    under ``{path}/codes/cell=N/`` — plus the models (``/centroids``,
    ``/codebooks``, ``/encoding``). No raw vectors are stored at all:
    the serve path never needs them (ADC compares through codes), so
    a 64-dim float32 corpus persists at ~1/32 the bytes before
    columnar compression even starts. Same :func:`_publish`
    lifecycle as :func:`write_ivf_index`.

    ``encoding`` picks what the codes quantize (see
    :func:`_ivfpq_encode_frame`): ``"raw"`` (the r8 layout, default),
    ``"residual"`` (IVFADC), or ``"residual_opq"`` (rotation learned
    on the residual population — the best stage-1 ordering per byte
    in docs/ANN_QUALITY.md), persisted under ``/encoding`` with the
    rotation model under ``/rotation``; indexes written before the
    encoding table existed load as ``"raw"``. Default books: seed
    codebooks in the encoding's own space for raw/residual, the
    trained :func:`pq_residual_opq_model` for residual_opq (which
    also supplies the rotation). Returns (centroids, books)."""
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(embeddings, num_centroids)
    )
    if encoding == "residual_opq" and books is None and rotation is None:
        books, rotation = pq_residual_opq_model(
            embeddings, cents, dim=dim, exact_rotation=exact_rotation
        )
    if books is None:
        if encoding == "raw":
            books = pq_codebooks(embeddings, dim=dim)
        elif encoding == "residual_opq":
            # rotation is non-None here (the both-None case trained the
            # full model above); books must train in the ROTATED
            # residual space the codes occupy (r10 ADVICE)
            books = pq_residual_opq_books(
                embeddings, cents, rotation, dim=dim,
                exact_rotation=exact_rotation,
            )
        else:
            books = pq_residual_codebooks(embeddings, cents, dim=dim)
    _publish(
        LAYOUTS["ivfpq"],
        path,
        embeddings,
        _Models(cents, books, encoding, rotation),
        exact_rotation,
    )
    return cents, books


def ivfpq_index_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k_results: int = 10,
    nprobe: int = NPROBE,
    exclude_self: bool = True,
) -> DataFrame:
    """Serve ADC top-k from a PUBLISHED IVF-PQ index (:func:`_serve`).
    ``queries`` is a (query_id, embedding) frame — the index stores no
    raw vectors, so the query embedding arrives from the caller (an
    encoder service, in production). Each (query, probed cell) LUT is
    built on the driver (:func:`_ivfpq_probe` — residual and rotation
    included for those encodings), and scoring is the broadcast-LUT
    ADC sum over the partition-pruned code scan. Pinned equal to the
    in-memory :func:`ivf_pq_topk` for the same models. The corpus dim
    comes from the stored codebooks."""
    qrows = queries.select("query_id", "embedding").collect()
    return _serve(
        spark, path, LAYOUTS["ivfpq"], qrows, k_results, nprobe, exclude_self
    )


def ivfpq_index_add(
    spark: SparkSession,
    path: str,
    new_embeddings: DataFrame,
    check_ids: bool = True,
    exact_rotation: bool = True,
) -> int:
    """Incremental IVF-PQ index maintenance (:meth:`IndexLayout.append`): assign
    NEW vectors with the published index's FROZEN coarse centroids
    AND frozen codebooks, encode under its persisted ENCODING (raw /
    residual / residual_opq — for the rotated layout the frozen set
    includes the rotation), and append (vec_id, code, gen) rows into
    their cell partitions. Re-trained models would silently
    re-define every stored nibble; model drift is observability
    (:func:`ivfpq_index_drift` watches the CODE distribution per
    cell) + offline rebuild. ``exact_rotation=False`` is the
    production-build knob :func:`write_ivfpq_index` carries: the
    numpy matmul per Arrow batch, last-ulp different — keep the exact
    default wherever a golden replays the appended codes. Returns
    rows added."""
    return LAYOUTS["ivfpq"].append(
        spark, path, new_embeddings, check_ids, exact_rotation
    )


def ivfpq_drift_stats(
    orig_codes: DataFrame,
    new_codes: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    l1_permille: int = 1000,
    min_new: int = 50,
) -> DataFrame:
    """Code-space drift report for an IVF-PQ index — the
    observability half of the frozen-codebook contract: per
    (cell, subspace), how far has the APPENDED rows' code histogram
    moved from the BUILD generation's? Inputs are two (cell, code)
    frames; output one row per (cell, s) →
    ``(cell, s, n_orig, n_new, l1x, code_drift)``:

    * the per-subspace code ``j`` unpacks from the packed BIGINT by
      integer div/mod (explode of the m subspace indexes + scalar
      arithmetic — no float anywhere);
    * ``l1x = Σ_j |n_new_j·T_orig − n_orig_j·T_new|`` over the k code
      bins, with ``T_*`` the (cell, s) totals — the cross-multiplied
      numerator of the L1 histogram distance (÷ T_orig·T_new would
      give the usual [0,2] value; no division keeps it bit-exact).
      The SUM runs in DECIMAL(38,0) but the published column is
      BIGINT: each |·| term is ≤ T_o·T_n and the triangle inequality
      bounds the sum, ``l1x ≤ 2·T_o·T_n``, which fits int64 whenever
      T_o·T_n < 2^62 — i.e. up to ~2·10^9 build AND append rows per
      (cell, subspace), far past any per-cell population this index
      layout would tolerate before a rebuild. (A uniform BIGINT
      output schema also avoids decimal-vs-int64 value-rendering
      skew across Arrow consumers — the column was DECIMAL(38,0)
      through r8 and that rendering difference was the localized
      cause of a persistent driver-side hash divergence.) The
      ``code_drift`` predicate reads the PRE-CAST decimal sum and the
      publish cast is guarded by ``raise_error``: under non-ANSI
      Spark an out-of-bound BIGINT cast silently NULLs — which would
      suppress the very alert the report exists to raise — while the
      DuckDB twin's CAST errors loudly; the guard makes both engines
      fail the same way past the documented bound;
    * ``code_drift`` flags when the normalized L1 exceeds
      ``l1_permille``/1000 — i.e. ``1000·l1x > l1_permille·T_o·T_n``
      — or when a (cell, s) has appends but no build rows at all.
      Both require ``n_new ≥ min_new``: the empirical L1 of an
      n-sample histogram against its own source distribution is
      ~√(2k/πn) (≈1.0 at n=11, k=16 — pure sampling noise), so small
      appends carry no evidence either way; the default pair
      (1000‰, 50) sits well above the noise floor at the minimum
      sample and tightens as appends accumulate.

    A flagged subspace means appended vectors exercise codebook
    entries the build distribution didn't — quantization error is no
    longer what the build measured, and the documented offline
    rebuild (with retrained codebooks) should run.

    Scale shape: one union + one m-way explode (constant fan-out) +
    two aggregations over (cell, s[, j]) — bins are C·m·k regardless
    of corpus size; the totals join-back is against that tiny frame.
    Pure aggregation, no division, SQL-oracle-exact."""
    powk = [int(k**s) for s in range(m)]
    tagged = orig_codes.select(
        "cell", "code", F.lit(True).alias("is_orig")
    ).unionByName(
        new_codes.select("cell", "code", F.lit(False).alias("is_orig"))
    )
    # posexplode the subspace power array: s = position, p = k^s;
    # IntegralDivide (`div`) keeps the unpack in exact long arithmetic
    # for ANY k — float `/` would only be exact for power-of-two k
    subs = tagged.select(
        "cell",
        "is_orig",
        F.posexplode(F.array(*[F.lit(p) for p in powk])).alias("s", "p"),
        "code",
    ).withColumn("j", F.expr(f"(code div p) % {int(k)}"))
    counts = subs.groupBy("cell", "s", "j").agg(
        F.sum(F.when(F.col("is_orig"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_orig_j"),
        F.sum(F.when(~F.col("is_orig"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_new_j"),
    )
    tots = counts.groupBy("cell", "s").agg(
        F.sum("n_orig_j").cast("bigint").alias("t_orig"),
        F.sum("n_new_j").cast("bigint").alias("t_new"),
    )
    joined = counts.join(F.broadcast(tots), ["cell", "s"])
    agg = joined.groupBy("cell", "s").agg(
        F.max("t_orig").alias("n_orig"),
        F.max("t_new").alias("n_new"),
        F.sum(
            F.abs(
                _dec(F.col("n_new_j")) * _dec(F.col("t_orig"))
                - _dec(F.col("n_orig_j")) * _dec(F.col("t_new"))
            )
        ).alias("l1x_dec"),
    )
    # the drift decision reads the PRE-CAST decimal sum (1000·l1x ≤
    # 2000·T_o·T_n ≪ 10^38, never overflows where the predicate is
    # defined); the BIGINT publish is guarded — a silent non-ANSI
    # NULL here would erase both the value AND the flag
    drift = (F.col("n_new") >= min_new) & (
        ((F.col("n_orig") == 0) & (F.col("n_new") > 0))
        | (
            F.lit(1000).cast("decimal(38,0)") * F.col("l1x_dec")
            > F.lit(l1_permille).cast("decimal(38,0)")
            * _dec(F.col("n_orig"))
            * _dec(F.col("n_new"))
        )
    )
    l1x_pub = F.when(
        F.col("l1x_dec") > F.lit((1 << 63) - 1).cast("decimal(38,0)"),
        F.raise_error(
            F.concat(
                F.lit(
                    "ivfpq_drift_stats: l1x exceeds int64 (l1x="
                ),
                F.col("l1x_dec").cast("string"),
                F.lit(
                    "); per-(cell,s) populations passed the ~2e9-row "
                    "documented bound — rebuild the index before "
                    "re-running drift"
                ),
            )
        ).cast("bigint"),
    ).otherwise(F.col("l1x_dec").cast("bigint"))
    return agg.select(
        "cell",
        "s",
        "n_orig",
        "n_new",
        l1x_pub.alias("l1x"),
        drift.alias("code_drift"),
    )


def ivfpq_index_drift(spark: SparkSession, path: str) -> DataFrame:
    """Code-space drift over a PUBLISHED IVF-PQ index: build
    generation (gen=0) vs every append since
    (:meth:`IndexLayout.drift`) — a pure aggregation over the codes
    table, no raw vectors anywhere (the index stores none)."""
    return LAYOUTS["ivfpq"].drift(spark, path)


# Every published layout, in the order layout_of tries them.
LAYOUTS = {
    layout.name: layout
    for layout in (
        IndexLayout(
            name="ivf",
            rows="vectors",
            marker="embedding",
            label="IVF",
            builder="write_ivf_index",
            load=_load_centroids,
            tables=_no_tables,
            prepare=_ivf_prepare,
            encode=_ivf_encode,
            probe_col="q_emb ARRAY<FLOAT>",
            probe=_query_probe,
            score=_ivf_score,
            score_col="cosine",
            descending=True,
            report=_ivf_report,
        ),
        IndexLayout(
            name="int8",
            rows="vectors",
            marker="qvec",
            label="int8",
            builder="write_int8_index",
            load=_load_centroids,
            tables=_no_tables,
            prepare=_int8_prepare,
            encode=_int8_encode,
            probe_col="q_emb ARRAY<DOUBLE>",
            probe=_query_probe,
            score=_int8_score,
            score_col="s8",
            descending=True,
            report=_int8_report,
        ),
        IndexLayout(
            name="ivfpq",
            rows="codes",
            marker="code",
            label="IVF-PQ",
            builder="write_ivfpq_index",
            load=_load_ivfpq,
            tables=_ivfpq_tables,
            prepare=_keep_frame,
            encode=_ivfpq_encode,
            probe_col="lut ARRAY<BIGINT>",
            probe=_ivfpq_probe,
            score=_ivfpq_score,
            score_col="adist9",
            descending=False,
            report=_ivfpq_report,
        ),
    )
}
