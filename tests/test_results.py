"""Results layer tests: pagination, SearchResult wire format, snippet,
NOT-aware highlighting, doc fetch, query cache."""

import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
import pytest

from pyspark.sql import functions as F

from hadoop_search_spark.plans.cache import _SCHEMA, QueryCache
from hadoop_search_spark.plans.results import (
    SearchResult,
    _ordinal_index_of,
    fetch_docs,
    highlight,
    highlight_words,
    make_snippet,
    page_slice,
    rank,
    render_page,
    unescape_html,
)


def _ranked(spark, n=25):
    rows = [(i, float(n - i)) for i in range(1, n + 1)]  # doc i score n-i
    return rank(spark.createDataFrame(rows, "doc_id BIGINT, score DOUBLE"))


def test_page_slice(spark):
    r = _ranked(spark)
    p1 = [x.doc_id for x in page_slice(r, 1).collect()]
    p3 = [x.doc_id for x in page_slice(r, 3).collect()]
    assert p1 == list(range(1, 11))
    assert p3 == list(range(21, 26))  # short last page


def test_search_result_roundtrip():
    # reference round-trip string (SearchResult.java:123-127)
    s = "12;1,2,3,4,5,6,7;4,23,34,23,1"
    sr = SearchResult.deserialize(s)
    assert sr.count == 12
    assert sr.pages == [[1, 2, 3, 4, 5, 6, 7], [4, 23, 34, 23, 1]]
    assert sr.serialize() == s


def test_search_result_page_clamp(spark):
    sr = SearchResult.from_ranked(_ranked(spark))
    assert sr.count == 25 and len(sr.pages) == 3
    assert sr.page(99) == sr.page(3)  # clamp to last (CorpusFetcher.java:88)
    assert sr.page(0) == sr.page(1)
    assert SearchResult(0, []).page(1) == []


def test_ordinal_index_of():
    s = "ab ab ab ab"
    assert _ordinal_index_of(s, "ab", 3) == 6  # 3rd occurrence
    assert _ordinal_index_of("ab ab", "ab", 3) == 3  # last if fewer
    assert _ordinal_index_of("xyz", "ab", 3) == -1


def test_highlight_words_not_aware():
    # positive words highlight; 'not x' skipped unless in a not-clause
    assert highlight_words("cake and not vanilla") == ["cake"]
    assert highlight_words("not (cake or vanilla)") == []
    # double negation: not-literal inside not-clause highlights
    assert highlight_words("not (not cake or vanilla)") == ["cake"]
    assert highlight_words("(a or b) and c d") == ["a", "b", "c", "d"]
    # word-boundary: 'normal'/'android' survive intact
    assert highlight_words("normal and android") == ["normal", "android"]


def test_highlight_markup_words_not_corrupted():
    # query words matching the injected markup must not rewrite it
    got = highlight("the span has color here", ["span", "color", "has"])
    assert got.count("<span style=") == 3
    assert "<<" not in got and got.count("</span>") == 3


def test_highlight_words_no_space_negation():
    # 'not(...)' (no space) must follow parser semantics: double
    # negation highlights the inner not-word
    assert highlight_words("x and not(not y or z)") == ["x", "y"]


def test_highlight_wraps_word_and_capitalized():
    got = highlight("Cake and cake and cupcake", ["cake"])
    assert got.count('<span style="background-color: #FFFF00">') == 2
    assert "cupcake" in got  # word boundary respected


def test_snippet_fallback_first_300():
    content = "x" * 400
    got = make_snippet(content, ["missing"])
    assert got == "x" * 300 + "..."
    assert make_snippet("short text", []) == "short text"


def test_snippet_window_and_merge():
    content = ("alpha " * 30) + "cake vanilla " + ("beta " * 30)
    got = make_snippet(content, ["cake", "vanilla"])
    assert "cake" in got and "vanilla" in got
    assert got.startswith("...") and got.endswith("...")
    assert '<span style="background-color: #FFFF00">cake</span>' in got


def test_fetch_docs_and_unescape(spark):
    df = spark.createDataFrame(
        [(1, "&#60;b&#62;hi&#60;/b&#62;"), (2, "x")], "doc_id BIGINT, html STRING"
    )
    got = fetch_docs(df, [1]).select(unescape_html(F.col("html")).alias("html")).collect()
    assert got[0].html == "<b>hi</b>"
    assert fetch_docs(df, []).count() == 0


def test_render_page_end_to_end(spark, documents):
    from hadoop_search_spark.operators.index import build_postings
    from hadoop_search_spark.plans.planner import SearchEngine

    engine = SearchEngine(
        spark, build_postings(documents, num_docs=500), documents=documents
    )
    total, rows = render_page(engine, documents, "spark and stream", page=1)
    assert total > 10 and len(rows) == 10
    assert rows[0]["score"] >= rows[-1]["score"]
    assert any("FFFF00" in r["snippet"] for r in rows)


def test_query_cache_roundtrip(spark, tmp_path):
    cache = QueryCache(spark, str(tmp_path / "qc"))
    assert cache.get("q1") is None
    cache.put("q1", "12;1,2;3")
    cache.put("q2", "1;9")
    assert cache.get("q1") == "12;1,2;3"
    cache.put("q1", "13;1,2,4;5")  # newest wins
    assert cache.get("q1") == "13;1,2,4;5"


def test_query_cache_concurrent_puts(spark, tmp_path):
    """Writers sharing one cache path never collide: each put is its
    own file, renamed into place."""
    path = str(tmp_path / "qc")
    cache = QueryCache(spark, path)

    def writer(t):
        for i in range(25):
            cache.put(f"q{t}-{i}", f"{t};{i}")
            cache.get(f"q{t}-0")  # refreshes race the other writers

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            list(pool.map(writer, range(8), timeout=60))  # re-raises any put's error
    finally:
        sys.setswitchinterval(interval)

    want = {f"q{t}-{i}": f"{t};{i}" for t in range(8) for i in range(25)}
    assert all(cache.get(q) == r for q, r in want.items())
    fresh = QueryCache(spark, path)
    assert all(fresh.get(q) == r for q, r in want.items())
    assert spark.read.schema(_SCHEMA).parquet(path).count() == len(want)


def test_query_cache_reads_spark_part_files(spark, tmp_path):
    """A directory written by Spark's append path (multi-row part
    files) still answers, newest ts first, and a newer put wins."""
    path = str(tmp_path / "qc")
    old = pd.DataFrame(
        {"query": ["q1", "q1", "q2"], "result": ["2;5,6", "1;5", "1;9"], "ts": [2.0, 1.0, 1.0]}
    )
    spark.createDataFrame(old, _SCHEMA).coalesce(1).write.parquet(path)
    assert len([f for f in os.listdir(path) if f.startswith("part-")]) == 1
    cache = QueryCache(spark, path)
    assert cache.get("q1") == "2;5,6" and cache.get("q2") == "1;9"
    cache.put("q1", "3;5,6,7")
    assert cache.get("q1") == "3;5,6,7"
    assert QueryCache(spark, path).get("q1") == "3;5,6,7"


def test_catalog_render_page_no_nested_spans(spark):
    """search_render_page must highlight once — make_snippet() already
    applies highlight() internally, so the catalog entry must not wrap
    it again (ADVICE r1: nested '<span ...><span ...>' markup)."""
    import re

    from hadoop_search_spark.catalog import CATALOG

    rows = CATALOG["search_render_page"].fn(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 10
    assert any("FFFF00" in r.snippet for r in rows)
    for r in rows:
        assert re.search(r"<span[^>]*>\s*<span", r.snippet) is None
