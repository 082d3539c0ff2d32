"""r12 optimization guards: hot construct-path expressions were
rewritten from Column/lambda builders (tens of py4j round trips per
fresh plan — the measured dominant cost of the cold concurrent
headline) to single parsed SQL strings. These tests pin each SQL form
CANONICALLY PLAN-EQUAL and value-equal to the retained Column form,
so the rewrite can never drift semantically — and a Spark upgrade
that changes the parser or Column semantics fails loudly here."""

from __future__ import annotations

from pyspark.sql import functions as F


def _canon(df):
    return df._jdf.queryExecution().optimizedPlan().canonicalized().toString()


PHRASE_ROWS = [
    (1, 0.5, 2.0, [1, 5, 9], [2, 9, 14]),   # normal overlap
    (2, 1.5, 0.25, [], [3]),                 # empty side (tf-only index)
    (3, 0.1, 0.2, [7], [7]),                 # equal positions only (zero gap)
    (4, 2.0, 3.0, [1, 2, 3, 4], [2, 4, 6, 8]),
    (5, 0.9, 1.1, [10], []),                 # empty other side
    (6, 1.0, 1.0, [1, 1000000], [500000]),   # wide gaps
    (7, 0.3, 0.7, [2, 3], [1, 4]),           # adjacent both directions
]


def test_phrase_score_sql_form_plan_and_values(spark):  # noqa: F811
    from hadoop_search_spark.plans.planner import (
        _phrase_score_expr,
        _phrase_score_expr_column_form,
    )

    df = spark.createDataFrame(
        PHRASE_ROWS,
        "doc_id INT, _sa DOUBLE, _sb DOUBLE, _pa ARRAY<INT>, _pb ARRAY<INT>",
    )
    new = df.select(_phrase_score_expr().alias("s"))
    old = df.select(_phrase_score_expr_column_form().alias("s"))
    assert _canon(new) == _canon(old)
    assert new.dtypes == old.dtypes
    vn = [r.s for r in new.orderBy("s").collect()]
    vo = [r.s for r in old.orderBy("s").collect()]
    assert vn == vo  # bit-exact doubles


def test_apply_phrase_score_staged_matches_single_expr(spark):  # noqa: F811
    # the engine's staged phrase projections (_tg merged sort, _md
    # min gap, then the boosted score) must compute bit-identical
    # scores to the single-expression reference — the staging exists
    # purely so the merged sort evaluates once per row instead of ~10x.
    # Each row becomes two postings, and the two-word phrase query
    # runs through the engine's own statement.
    import struct

    from hadoop_search_spark.plans.planner import SearchEngine, _phrase_score_expr

    df = spark.createDataFrame(
        PHRASE_ROWS,
        "doc_id INT, _sa DOUBLE, _sb DOUBLE, _pa ARRAY<INT>, _pb ARRAY<INT>",
    )
    postings = spark.createDataFrame(
        [
            row
            for d, sa, sb, pa, pb in PHRASE_ROWS
            for row in (("alpha", d, 1, pa, sa), ("beta", d, 1, pb, sb))
        ],
        "term STRING, doc_id BIGINT, tf INT, positions ARRAY<INT>, score DOUBLE",
    )
    engine = SearchEngine(spark, postings, stem=None)
    staged = {r.doc_id: r.score for r in engine.plan("alpha beta").collect()}
    single = {
        r.doc_id: r.score
        for r in df.select("doc_id", _phrase_score_expr().alias("score")).collect()
    }
    assert staged.keys() == single.keys()
    for k in single:
        assert struct.pack(">d", staged[k]) == struct.pack(">d", single[k])


def test_adc_score_sql_form_plan_and_values(spark):  # noqa: F811
    from hadoop_search_spark.operators.similarity import (
        _adc_score,
        _adc_score_column_form,
    )

    m, kc = 8, 16
    rows = [
        (q, code, [((q * 131 + j * 17 + code) % 5003) for j in range(m * kc)])
        for q, code in [(0, 0), (1, 7), (2, kc**m - 1), (3, 123456789), (4, kc**4)]
    ]
    df = spark.createDataFrame(rows, "query_id INT, code BIGINT, lut ARRAY<BIGINT>")
    new = df.select("query_id", _adc_score(m, kc))
    old = df.select("query_id", _adc_score_column_form(m, kc))
    assert _canon(new) == _canon(old)
    assert new.dtypes == old.dtypes
    assert new.orderBy("query_id").collect() == old.orderBy("query_id").collect()


def test_cosine_names_sql_form_plan_and_values(spark):  # noqa: F811
    from hadoop_search_spark.operators.similarity import _cosine, _cosine_names

    # no zero vector: under Spark 4 ANSI both forms raise
    # DIVIDE_BY_ZERO identically, and a cosine store holds none
    rows = [
        (1, [1.0, 0.0, 2.5], [1.0, 0.0, 2.5]),
        (2, [0.1, -0.2, 0.3], [-0.3, 0.2, -0.1]),
        (3, [0.25, 0.5, -0.125], [0.125, -0.25, 0.5]),
        (4, [1e-9, 1e9, -1e-9], [1e9, 1e-9, 1e-9]),
    ]
    df = spark.createDataFrame(rows, "i INT, a ARRAY<DOUBLE>, b ARRAY<DOUBLE>")
    new = df.select(_cosine_names("a", "b").alias("c"))
    old = df.select(_cosine(F.col("a"), F.col("b")).alias("c"))
    assert _canon(new) == _canon(old)
    assert new.dtypes == old.dtypes
    vn = [r.c for r in new.collect()]
    vo = [r.c for r in old.collect()]
    assert len(vn) == len(vo) and all(
        (x != x and y != y) or x == y for x, y in zip(vn, vo)
    )


ADVERSARIAL_DOUBLES = [
    0.1, -0.1, 2.0, -0.0, 0.0, 1e-300, 5e-324, 1e308, -1.7976931348623157e308,
    4.6e12, 0.30000000000000004, 1.0000000000000002, -2.2250738585072014e-308,
    123456789.123456789, 1e-9, 0.5e-9, 1.5000000000000002e-9,
]


def test_lit_double_array_matches_lit_loop(spark):  # noqa: F811
    from hadoop_search_spark.operators.similarity import (
        _lit_double_array,
        _lit_double_matrix,
    )

    df = spark.range(1)
    vecs = [ADVERSARIAL_DOUBLES, list(reversed(ADVERSARIAL_DOUBLES))]
    for v in vecs:
        new = df.select(_lit_double_array(v).alias("a"))
        old = df.select(F.array(*[F.lit(float(x)) for x in v]).alias("a"))
        assert _canon(new) == _canon(old)
        import struct

        bn = [struct.pack(">d", x) for x in new.collect()[0].a]
        bo = [struct.pack(">d", x) for x in old.collect()[0].a]
        assert bn == bo  # bit-exact incl. -0.0
    newm = df.select(_lit_double_matrix(vecs).alias("m"))
    oldm = df.select(
        F.array(*[F.array(*[F.lit(float(x)) for x in v]) for v in vecs]).alias("m")
    )
    assert _canon(newm) == _canon(oldm)
    import math

    with pytest_raises_valueerror():
        _lit_double_array([1.0, math.inf])


class pytest_raises_valueerror:
    def __enter__(self):
        return self

    def __exit__(self, et, ev, tb):
        assert et is ValueError, f"expected ValueError, got {et}"
        return True


def test_opq_rotate_transform_form_matches_unrolled(spark):  # noqa: F811
    import random

    from hadoop_search_spark.operators.similarity import (
        _opq_rotate_expr,
        _opq_rotate_expr_unrolled,
    )

    rng = random.Random(7)
    dim = 8
    mean = [rng.uniform(-1, 1) for _ in range(dim)]
    comps = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(dim)]
    perm = list(range(dim))
    rng.shuffle(perm)
    rows = [
        (i, [rng.uniform(-2, 2) for _ in range(dim)]) for i in range(200)
    ]
    # sprinkle knife-edge values (0.5e-9 HALF_UP boundary class)
    rows.append((200, [0.5e-9] * dim))
    rows.append((201, [1.5000000000000002e-9] * dim))
    df = spark.createDataFrame(rows, "vec_id INT, v ARRAY<DOUBLE>")
    new = df.select(
        "vec_id", _opq_rotate_expr(F.col("v"), mean, comps, perm).alias("r")
    )
    old = df.select(
        "vec_id",
        _opq_rotate_expr_unrolled(F.col("v"), mean, comps, perm).alias("r"),
    )
    assert new.dtypes == old.dtypes
    got = {r.vec_id: r.r for r in new.collect()}
    want = {r.vec_id: r.r for r in old.collect()}
    import struct

    for k in want:
        assert [struct.pack(">d", x) for x in got[k]] == [
            struct.pack(">d", x) for x in want[k]
        ]  # bit-exact per coordinate


def test_minhash_wide_form_still_matches_narrow(spark):  # noqa: F811
    # the r12 project-hash-first + SQL-string aggregates must keep the
    # wide/narrow band-key equivalence byte-identical (the r5 pin);
    # test_ops.py covers the fixture corpus — this one hits the
    # degenerate shapes (single shingle, duplicate-heavy doc)
    from hadoop_search_spark.operators.dedup import (
        lsh_bands,
        minhash_bands_wide,
        minhash_signatures,
        word_shingles,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c"),
            (2, "a b c d e f g"),
            (3, "x x x x x x"),
            (4, "one two"),  # < shingle size -> no rows
        ],
        "doc_id BIGINT, text STRING",
    )
    sh = word_shingles(docs)
    narrow = {
        (r.doc_id, r.band, r.band_key)
        for r in lsh_bands(minhash_signatures(sh)).collect()
    }
    wide = {
        (r.doc_id, r.band, r.band_key)
        for r in minhash_bands_wide(sh).collect()
    }
    assert narrow == wide and wide  # non-empty and identical
