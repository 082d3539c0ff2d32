"""SearchSession lifecycle tests: cache probe/write, page rendering."""

from hadoop_search_spark.operators.index import build_postings
from hadoop_search_spark.plans.cache import QueryCache
from hadoop_search_spark.plans.planner import SearchEngine
from hadoop_search_spark.plans.session_api import SearchSession


def test_search_session_cache_roundtrip(spark, documents, tmp_path):
    engine = SearchEngine(
        spark, build_postings(documents, num_docs=500, stem=True), documents=documents
    )
    cache = QueryCache(spark, str(tmp_path / "qc"))
    sess = SearchSession(engine, documents, cache=cache)

    sr1 = sess.search_result("spark and stream")
    assert sr1.count > 0
    assert cache.get("spark and stream") == sr1.serialize()

    # second call is a cache hit: same result even if the engine broke
    sess.engine = None
    sr2 = sess.search_result("SPARK and stream")  # lowercased key
    assert sr2.serialize() == sr1.serialize()


def test_search_session_cache_hit_runs_one_job(spark, documents, tmp_path):
    """A hit reads the cache on the driver: the doc fetch is the only
    Spark job."""
    engine = SearchEngine(
        spark, build_postings(documents, num_docs=500, stem=False), documents=documents, stem=None
    )
    sess = SearchSession(engine, documents, cache=QueryCache(spark, str(tmp_path / "qc")))
    miss = sess.page("spark or stream", 1)
    assert miss[0] > 0

    sc = spark.sparkContext
    group = f"cache-hit-{tmp_path.name}"
    sc.setJobGroup(group, "cache hit page")
    try:
        hit = sess.page("spark or stream", 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert hit == miss

    # the status store is filled from the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_search_session_page(spark, documents, tmp_path):
    engine = SearchEngine(
        spark, build_postings(documents, num_docs=500, stem=True), documents=documents
    )
    sess = SearchSession(engine, documents)
    total, rows = sess.page("spark and stream", 1)
    assert total > 10 and len(rows) == 10
    assert all("doc_id" in r and r["snippet"] for r in rows)
    # clamped page returns the tail page
    _, last = sess.page("spark and stream", 10**6)
    assert 0 < len(last) <= 10


def test_search_session_miss_job_budget(spark, documents, tmp_path):
    """A miss ranks with one statement over the published index: one
    Spark job for a single term (no shuffle), two for any other shape
    (the doc_id aggregate's map stage, then the ranked collect), plus
    the doc fetch."""
    path = str(tmp_path / "postings")
    build_postings(documents, num_docs=500, stem=False).write.parquet(path)
    engine = SearchEngine(spark, spark.read.parquet(path), documents=documents, stem=None)
    engine.plan("table")  # the one-time vocabulary collect
    sess = SearchSession(engine, documents)
    sc = spark.sparkContext
    shapes = [  # one query of each perfbench shape
        "table",
        "table and scan",
        "table or scan or merge",
        "table scan",
        "table and not scan",
        "(scan or merge) and not table",
    ]
    groups = []
    for i, q in enumerate(shapes):
        groups.append(f"miss-{tmp_path.name}-{i}")
        sc.setJobGroup(groups[-1], q)
        try:
            total, rows = sess.page(q, 1)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert total > 0 and rows

    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = [len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups]
    assert jobs[0] <= 2 and max(jobs) <= 3, dict(zip(shapes, jobs))
