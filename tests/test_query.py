"""End-to-end CNF query engine tests.

Golden cases ported from the reference's inline harness
(`hadoop_wiki_search/util/QueryParser.java:375-388`) plus the query
corpus of FIXTURES.md §C, cross-checked against the independent
brute-force evaluator in tests/brute_force.py.
"""

import math
import random
import re
import threading
from contextlib import contextmanager

import pyarrow as pa
import pytest

from hadoop_search_spark.operators.index import build_postings, stop_words
from hadoop_search_spark.plans import parser as P
from hadoop_search_spark.plans.parser import (
    And,
    ExceptWord,
    Or,
    StopWord,
    Word,
    parse_query,
)
from hadoop_search_spark.plans.planner import SearchEngine

from tests import brute_force as bf


# ---------- parser ----------------------------------------------------


def test_parse_shapes():
    t = parse_query("(vanilla or not chocolate cake) and (strawberry)")
    assert isinstance(t, And) and len(t.children) == 2
    c1, c2 = t.children
    assert isinstance(c1, Or) and not c1.negated
    assert isinstance(c1.children[0], And)  # phrase wrapper
    assert c1.children[0].children == (Word("vanilla"),)
    assert isinstance(c1.children[1], ExceptWord)  # 'not chocolate cake'
    assert c2.children[0].children == (Word("strawberri"),)


def test_parse_not_clause_and_word_boundary():
    t = parse_query("not (table or scan) and normal")
    c1, c2 = t.children
    assert isinstance(c1, Or) and c1.negated
    assert len(c1.children) == 2
    # 'normal' must not split on its inner 'or'
    assert c2.children[0].children == (Word("normal"),)


def test_parse_stopword_leaf():
    t = parse_query("the and table", stopwords=["the"])
    assert t.children[0].children[0].children == (StopWord(),)


# ---------- golden harness (QueryParser.java:375-388) ------------------


HARNESS_POSTINGS = [
    # term, doc_id, score, positions — from the literal posting strings
    ("vanilla", 1, 2.0, [1, 5]),
    ("vanilla", 2, 2.0, [4, 10]),
    ("chocolate", 1, 2.0, [2, 6]),
    ("chocolate", 2, 2.0, [6, 12]),
    ("chocolate", 4, 4.0, [1, 2]),
    ("strawberri", 1, 1.4, [3, 4]),
    ("strawberri", 2, 1.4, [8, 14]),
    ("strawberri", 4, 2.0, [1, 2]),
    ("cake", 1, 1.4, [3, 4]),
    ("cake", 2, 1.4, [8, 14]),
    ("cake", 4, 2.0, [1, 2]),
]


@pytest.fixture(scope="module")
def harness_engine(spark):
    postings = spark.createDataFrame(
        [(t, d, 1, p, s) for t, d, s, p in HARNESS_POSTINGS],
        "term STRING, doc_id BIGINT, tf INT, positions ARRAY<INT>, score DOUBLE",
    )
    docs = spark.createDataFrame([(i,) for i in [1, 2, 4]], "doc_id BIGINT")
    return SearchEngine(spark, postings, documents=docs)


def test_golden_harness_query(harness_engine):
    # reference main(): "(vanilla or not chocolate cake) and (strawberry)"
    # 'not chocolate cake' is an unmatchable except-term -> empty type-1;
    # clause1 = vanilla OR ¬∅ = ¬(∅ - vanilla) = type-1 empty;
    # root AND = strawberri - ∅ = strawberri with original scores.
    rows = harness_engine.search("(vanilla or not chocolate cake) and (strawberry)").collect()
    assert [(r.doc_id, pytest.approx(r.score)) for r in rows] == [
        (4, 2.0),
        (1, 1.4),
        (2, 1.4),
    ]


def test_phrase_proximity_boost(harness_engine):
    # "vanilla cake": doc1 minDist=|5-4|=1 -> (2.0*1.4)^2 = 7.84
    #                 doc2 minDist=|10-8|=2 -> 2.8^1.5
    rows = {r.doc_id: r.score for r in harness_engine.search("vanilla cake").collect()}
    assert rows.keys() == {1, 2}
    assert rows[1] == pytest.approx(2.8**2)
    assert rows[2] == pytest.approx(2.8**1.5)


def test_and_product_no_positions_across_clauses(harness_engine):
    # "(vanilla) and (cake)": clause results are position-stripped ->
    # plain product, no proximity boost
    rows = {r.doc_id: r.score for r in harness_engine.search("(vanilla) and (cake)").collect()}
    assert rows[1] == pytest.approx(2.0 * 1.4)
    assert rows[2] == pytest.approx(2.0 * 1.4)


def test_or_adds_scores(harness_engine):
    rows = {r.doc_id: r.score for r in harness_engine.search("vanilla or cake").collect()}
    assert rows == {
        1: pytest.approx(3.4),
        2: pytest.approx(3.4),
        4: pytest.approx(2.0),
    }


def test_not_word(harness_engine):
    # "cake and not vanilla" -> cake - vanilla = {4}
    rows = harness_engine.search("cake and not vanilla").collect()
    assert [(r.doc_id, pytest.approx(r.score)) for r in rows] == [(4, 2.0)]


def test_root_negation_materializes_complement(harness_engine):
    # "not cake" -> universe - {1,2,4} = {} ; "not vanilla" -> {4}
    assert harness_engine.search("not cake").collect() == []
    rows = harness_engine.search("not vanilla").collect()
    assert [(r.doc_id, r.score) for r in rows] == [(4, 0.0)]


def test_min_distance_duplicate_interposition(spark):
    """The merged-sort min-distance must survive equal positions from
    both sides sitting *between* the optimal cross pair (the offset-2
    cases), and adjacent cross pairs in either side order."""
    cases = [
        # (pos_a, pos_b, expected nonzero min distance)
        ([5], [5, 7], 2),          # b duplicates a's position
        ([5, 7], [5], 2),          # a duplicates b's position
        ([5, 7], [5, 7], 2),       # both duplicated -> inner pair wins
        ([6], [5], 1),             # b just below a (encoded gap tests)
        ([5], [6], 1),             # a just below b
        ([1, 100], [50], 49),      # interior optimum
    ]
    postings = spark.createDataFrame(
        [
            row
            for i, (pa, pb, _) in enumerate(cases)
            for row in [
                ("alpha", i, 1, pa, 2.0),
                ("beta", i, 1, pb, 2.0),
            ]
        ],
        "term STRING, doc_id BIGINT, tf INT, positions ARRAY<INT>, score DOUBLE",
    )
    docs = spark.createDataFrame([(i,) for i in range(len(cases))], "doc_id BIGINT")
    eng = SearchEngine(spark, postings, documents=docs)
    rows = {r.doc_id: r.score for r in eng.search("alpha beta").collect()}
    for i, (_, _, dist) in enumerate(cases):
        assert rows[i] == pytest.approx(4.0 ** (1 + 1 / dist)), (i, dist)


def test_phrase_with_empty_positions_side_falls_back_to_product(spark):
    """A tf-only posting side (empty positions array — e.g. an
    externally built index without position data) must degrade to the
    plain score product, not crash the slice-based merge."""
    postings = spark.createDataFrame(
        [
            ("alpha", 1, 1, [], 2.0),
            ("beta", 1, 1, [3, 7], 2.0),
            ("gamma", 1, 1, [], 3.0),
        ],
        "term STRING, doc_id BIGINT, tf INT, positions ARRAY<INT>, score DOUBLE",
    )
    docs = spark.createDataFrame([(1,)], "doc_id BIGINT")
    eng = SearchEngine(spark, postings, documents=docs)
    rows = {r.doc_id: r.score for r in eng.search("alpha beta").collect()}
    assert rows == {1: pytest.approx(4.0)}
    rows = {r.doc_id: r.score for r in eng.search("alpha gamma").collect()}
    assert rows == {1: pytest.approx(6.0)}


def test_repeated_word_phrase_no_div_by_zero(harness_engine):
    # "vanilla vanilla": identical position arrays -> zero distances
    # skipped; min nonzero dist is |1-5|=4 (doc1), |4-10|=6 (doc2)
    rows = {r.doc_id: r.score for r in harness_engine.search("vanilla vanilla").collect()}
    assert rows[1] == pytest.approx((2.0 * 2.0) ** (1 + 1 / 4))
    assert rows[2] == pytest.approx((2.0 * 2.0) ** (1 + 1 / 6))


def test_unknown_term_empty(harness_engine):
    assert harness_engine.search("zzzqqq").collect() == []


# ---------- corpus differential vs brute force -------------------------


CORPUS_QUERIES = [
    "table",
    "table and scan",
    "table or scan",
    "table and not scan",
    "not (table or scan)",
    "table scan",
    "(spark or not batch merge) and (filter)",
    "the and table",
    "zzzqqq",
    "normal",
    "not table",
    "table and scan or merge",
    "table or not scan",
    "not table or not scan",
    "not (not table or not scan)",
    "window window",
    "fast and the",
]


@pytest.fixture(scope="module")
def corpus_setup(spark, documents):
    sw_df = stop_words(documents, k=2)
    stopword_list = [r.word for r in sw_df.collect()]
    postings = build_postings(documents, stopwords=sw_df, num_docs=500, stem=True)
    engine = SearchEngine(spark, postings, documents=documents, stopwords=stopword_list)
    terms: dict[str, bf.PL] = {}
    for r in postings.collect():
        terms.setdefault(r.term, {})[r.doc_id] = (r.score, list(r.positions))
    universe = {r.doc_id for r in documents.select("doc_id").collect()}
    return engine, terms, universe, stopword_list


@pytest.mark.parametrize("query", CORPUS_QUERIES)
def test_corpus_query_matches_brute_force(corpus_setup, query):
    engine, terms, universe, stopword_list = corpus_setup
    want = bf.search(query, terms, universe, stopwords=stopword_list)
    got = {r.doc_id: r.score for r in engine.search(query).collect()}
    assert got.keys() == want.keys(), f"membership mismatch for {query!r}"
    for d, s in want.items():
        assert math.isclose(got[d], s, rel_tol=1e-9, abs_tol=1e-12), (
            f"score mismatch for {query!r} doc {d}: {got[d]} vs {s}"
        )


def _assert_matches_brute_force(engine, query, terms, universe, stopword_list):
    want = bf.search(query, terms, universe, stopwords=stopword_list)
    got = {r.doc_id: r.score for r in engine.search(query).collect()}
    assert got.keys() == want.keys(), f"membership mismatch for {query!r}"
    for d, s in want.items():
        assert math.isclose(got[d], s, rel_tol=1e-9, abs_tol=1e-12), (
            f"score mismatch for {query!r} doc {d}: {got[d]} vs {s}"
        )


@pytest.fixture(scope="module")
def published_setup(spark, corpus_setup, documents, tmp_path_factory):
    """The corpus engine's postings published as parquet, the way the
    CLI ``index`` command leaves them, under a second engine: a query
    then reads a pruned file scan instead of re-running the stemmed
    build. Also returns the corpus's raw words."""
    engine, terms, universe, stopword_list = corpus_setup
    path = str(tmp_path_factory.mktemp("published") / "postings")
    engine.postings.write.parquet(path)
    published = SearchEngine(
        spark, spark.read.parquet(path), documents=documents, stopwords=stopword_list
    )
    words = {
        w
        for r in documents.select("text").collect()
        for w in re.findall(r"[a-z]+", r.text.lower())
    }
    return published, terms, universe, stopword_list, sorted(words - {"and", "or", "not"})


UNKNOWN_WORDS = ["zzzqqq", "qqqzzz"]


def _random_query(rng: random.Random, words: list[str], stop: list[str]) -> str:
    """One seeded CNF query: 1-3 clauses of 1-3 operands, each a soft
    phrase of 1-3 words (stop words, unknown words and repeats mixed
    in) or a ``not w`` operand; clauses may be ``not (…)``."""

    def word() -> str:
        r = rng.random()
        if r < 0.12:
            return rng.choice(stop)
        if r < 0.18:
            return rng.choice(UNKNOWN_WORDS)
        return rng.choice(words)

    def operand() -> str:
        if rng.random() < 0.2:
            return "not " + word()
        ws = [word() for _ in range(rng.choice((1, 1, 2, 2, 3)))]
        if len(ws) > 1 and rng.random() < 0.25:
            ws[-1] = ws[0]  # repeated word
        return " ".join(ws)

    def clause() -> str:
        ops = " or ".join(operand() for _ in range(rng.choice((1, 1, 2, 3))))
        r = rng.random()
        if r < 0.2:
            return f"not ({ops})"
        return f"({ops})" if r < 0.4 else ops

    return " and ".join(clause() for _ in range(rng.choice((1, 1, 2, 3))))


def test_random_cnf_queries_match_brute_force(published_setup):
    """Seeded differential test of the whole algebra (J1-J7, root
    negation, stop words) against the brute-force evaluator."""
    engine, terms, universe, stopword_list, words = published_setup
    rng = random.Random(20261020)
    queries = [_random_query(rng, words, stopword_list) for _ in range(50)]
    stems = [P.porter_stem(w) for w in stopword_list]
    trees = [P.parse_query(q, stems) for q in queries]
    phrases = [
        op
        for t in trees
        for clause in t.children
        for op in clause.children
        if isinstance(op, And)
    ]
    # the stream covers what it is meant to
    assert any(sum(isinstance(w, Word) for w in op.children) == 3 for op in phrases)
    assert any(
        len({w.term for w in op.children if isinstance(w, Word)})
        < sum(isinstance(w, Word) for w in op.children)
        for op in phrases
    )
    assert any(
        any(isinstance(w, StopWord) for w in op.children) and len(op.children) > 1
        for op in phrases
    )
    assert any(all(isinstance(w, StopWord) for w in op.children) for op in phrases)
    assert any(isinstance(op, ExceptWord) for t in trees for c in t.children for op in c.children)
    assert any(c.negated for t in trees for c in t.children)
    assert any(any(u in q for u in UNKNOWN_WORDS) for q in queries)
    assert {bf.evaluate(t, terms)[0] for t in trees} == {0, 1, 2}  # root types
    for q in queries:
        _assert_matches_brute_force(engine, q, terms, universe, stopword_list)


SPECIAL_WORDS = ["o'brien", "back\\slash", "tick`word", "--", ";", ":t0", "semi;colon", "it's"]


def test_terms_cannot_change_the_statement(spark):
    """Query words are bound parameters, never statement text: words
    holding quotes, backslashes, backticks, comment and statement
    markers, or a parameter marker match exactly their own postings."""
    rows = [
        (P.porter_stem(w), d, 1, [i + 1, i + 3], 1.0 + 0.1 * i + d)
        for i, w in enumerate(SPECIAL_WORDS + ["x"])
        for d in range(1, 6)
        if (i + d) % 3
    ]
    postings = spark.createDataFrame(
        pa.table(
            {
                "term": [r[0] for r in rows],
                "doc_id": pa.array([r[1] for r in rows], pa.int64()),
                "tf": pa.array([r[2] for r in rows], pa.int32()),
                "positions": pa.array([r[3] for r in rows], pa.list_(pa.int32())),
                "score": [r[4] for r in rows],
            }
        )
    )
    docs = spark.createDataFrame(pa.table({"doc_id": pa.array(range(1, 7), pa.int64())}))
    engine = SearchEngine(spark, postings, documents=docs)
    terms: dict[str, bf.PL] = {}
    for t, d, _tf, pos, s in rows:
        terms.setdefault(t, {})[d] = (s, pos)
    for q in [
        "o'brien and x",
        "o'brien it's",
        "back\\slash or tick`word",
        "-- and ;",
        ":t0 or x",
        "not :t0",
        "semi;colon and not --",
        "x and not (o'brien or ;)",
        "o'brien'); drop view x; --",
    ]:
        _assert_matches_brute_force(engine, q, terms, set(range(1, 7)), [])


def test_term_predicate_reaches_the_parquet_scan(published_setup):
    engine = published_setup[0]
    for q in ["table", "table and scan", "table or scan or merge"]:
        plan = engine.search(q)._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"PushedFilters: \[[^\]]*\b(EqualTo|In)\(term,", plan), (q, plan)


@contextmanager
def _py4j_commands(spark):
    """Count the py4j commands this thread sends (other threads' traffic
    is not counted)."""
    client = spark.sparkContext._gateway._gateway_client
    send, me, n = client.send_command, threading.get_ident(), [0]

    def counted(command, retry=True, binary=False):
        if threading.get_ident() == me:
            n[0] += 1
        return send(command, retry, binary)

    client.send_command = counted
    try:
        yield n
    finally:
        client.send_command = send


# one query of each perfbench shape (perfbench/inputs.py:make_query)
PERFBENCH_SHAPES = [
    "table",
    "table and scan",
    "table or scan or merge",
    "table scan",
    "table and not scan",
    "(scan or merge) and not table",
]


def test_plan_construction_py4j_budget(spark, published_setup):
    engine = published_setup[0]
    engine.plan("table")  # the one-time vocabulary collect
    for q in PERFBENCH_SHAPES:
        with _py4j_commands(spark) as n:
            engine.plan(q)
        assert n[0] <= 16, f"{q!r} sent {n[0]} py4j commands"


def test_stop_word_query_plans_no_rdd_scan(published_setup):
    engine, _, _, stopword_list, _ = published_setup
    sw = stopword_list[0]
    for q in [sw, f"{sw} and {sw} {sw}", f"not ({sw})"]:
        df = engine.search(q)
        qe = df._jdf.queryExecution()
        plan = qe.optimizedPlan().toString() + qe.executedPlan().toString()
        assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, plan
        assert df.collect() == []


def test_exact_phrase_docs(spark):
    from hadoop_search_spark.plans.planner import exact_phrase_docs

    docs = spark.createDataFrame(
        [
            (1, "big table scan now"),          # one occurrence
            (2, "table scan and table scan"),   # two occurrences
            (3, "table big scan"),              # not adjacent
            (4, "scan table"),                  # wrong order
            (5, "full table scan table scan table"),  # two occurrences
        ],
        "doc_id LONG, text STRING",
    )
    postings = build_postings(docs, num_docs=1, stem=False)
    got = {
        r.doc_id: r.n_phrase
        for r in exact_phrase_docs(postings, ["table", "scan"]).collect()
    }
    assert got == {1: 1, 2: 2, 5: 2}
    # three-word phrase, and single-word degenerates to tf
    got3 = {
        r.doc_id: r.n_phrase
        for r in exact_phrase_docs(postings, ["full", "table", "scan"]).collect()
    }
    assert got3 == {5: 1}
    got1 = {
        r.doc_id: r.n_phrase
        for r in exact_phrase_docs(postings, ["table"]).collect()
    }
    assert got1 == {1: 1, 2: 2, 3: 1, 4: 1, 5: 3}
