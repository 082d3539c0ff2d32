"""The session memo (``session.memo`` / ``session.forget``): every value
that outlives one query is keyed by the live application, so a stopped
session's entries are dropped (and their temp directories removed) at
the next access, and a restarted session rebuilds the same values."""

from __future__ import annotations

import os
import re
import subprocess
import sys

SF = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_textstats_exprs_are_copies(spark):
    """The memoized expression families hand each caller its own dict:
    a caller that edits the returned dict cannot change what the next
    call gets."""
    from hadoop_search_spark.operators.textstats import (
        gopher_exprs,
        lang_exprs,
        quality_exprs,
    )

    for family in (lang_exprs, quality_exprs, gopher_exprs):
        first = family("text")
        keys = set(first)
        tree = {k: str(v) for k, v in first.items()}
        first.clear()
        first["injected"] = first
        again = family("text")
        assert set(again) == keys and "injected" not in again
        assert {k: str(v) for k, v in again.items()} == tree


def test_memo_builds_each_key_once_under_threads(spark):
    """Cold callers of one key share one build, and a build of one key
    does not wait on a build of another: key ``a``'s build finishes only
    after key ``b``'s has started, so a lock held across builds would
    time out, and a lost update would build a key twice."""
    import sys
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from hadoop_search_spark import session as S

    kind, builds, b_started = "thread-test", [], threading.Event()

    def build(key):
        builds.append(key)
        if key == "b":
            b_started.set()
        elif not b_started.wait(10):
            raise TimeoutError("key a's build blocked key b's")
        return object()

    def call(i):
        key = "ab"[i % 2]
        return key, S.memo(spark, kind, key, lambda: build(key))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            got = list(pool.map(call, range(64), timeout=60))
    finally:
        sys.setswitchinterval(old)
        S.forget(kind, lambda k: True)
    assert sorted(builds) == ["a", "b"]
    assert len({id(v) for k, v in got if k == "a"}) == 1
    assert len({id(v) for k, v in got if k == "b"}) == 1


def _session_calls(spark, work: str) -> tuple[dict, str]:
    """One memoized entry of each kind, plus one ``SearchSession.page``;
    returns comparable results and a temp directory held by the memo."""
    import tempfile

    from hadoop_search_spark import catalog
    from hadoop_search_spark.operators.similarity import (
        ivf_index_topk,
        write_ivf_index,
    )
    from hadoop_search_spark.partitioning import _estimated_scan_partitions
    from hadoop_search_spark.plans.session_api import SearchSession
    from hadoop_search_spark.session import TempDir, memo
    from hadoop_search_spark.sources.tables import load_table

    q = catalog.queries()
    out = {"table": load_table(spark, "region", SF).count()}  # table
    out["search"] = sorted(q["search_and"](spark, SF).collect())  # engine
    path = tempfile.mkdtemp(dir=work)
    write_ivf_index(load_table(spark, "embeddings", SF), path, num_centroids=4)
    out["ivf"] = sorted(ivf_index_topk(spark, path, [1, 2], k=5, nprobe=2).collect())
    out["lang"] = sorted(q["text_lang_id"](spark, SF).collect())  # exprs
    out["split"] = _estimated_scan_partitions(load_table(spark, "documents", SF))
    engine = catalog._engine(spark, SF)
    docs = load_table(spark, "documents", SF)
    out["page"] = SearchSession(engine, docs).page("spark and not dup", 1)
    held = memo(spark, "engine", "restart-test", lambda: TempDir(tempfile.mkdtemp()))
    return out, held


def _restart_main(work: str) -> None:
    """Run in a fresh interpreter: two sessions in a row over the same
    calls, then the CLI's index and search (each stops its session)."""
    import contextlib
    import io

    from hadoop_search_spark import session as S
    from hadoop_search_spark.__main__ import main
    from hadoop_search_spark.sources.tables import load_table

    spark = S.get_spark(app_name="memo_restart")
    first_app = spark.sparkContext.applicationId
    first, held = _session_calls(spark, work)
    kinds = {k[1] for k in S._MEMO if k[0] == first_app}
    assert kinds == {"table", "engine", "model", "exprs", "split"}, kinds
    assert os.path.isdir(held)
    spark.stop()

    spark = S.get_spark(app_name="memo_restart")
    app = spark.sparkContext.applicationId
    assert app != first_app
    load_table(spark, "region", SF)  # first access of the new session
    assert all(k[0] == app for k in S._MEMO), list(S._MEMO)
    assert not os.path.exists(held)
    second, _ = _session_calls(spark, work)
    assert second == first

    idx = os.path.join(work, "idx")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "4")
    corpus = f"{SF}/documents.parquet"
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = main(["--cpus", cpus, "index", "--corpus", corpus, "--out", idx,
                   "--stopwords", "2"])
    assert rc == 0 and re.search(r"indexed: \d+ postings", out.getvalue())
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = main(["--cpus", cpus, "search", "spark and not dup", "--page", "1",
                   "--index", idx, "--corpus", corpus])
    text = out.getvalue()
    assert rc == 0
    assert re.match(r"^\d+/\d+$", text.strip().splitlines()[0])  # count/pages
    assert "$RST$" in text
    assert "FFFF00" in text  # highlights present
    print("restart: ok")


def test_restart_drops_session_state_and_cli_runs(tmp_path):
    """A restart in one process: no entry of the stopped application
    survives the new session's first access, its temp directories are
    gone, and every memoized kind rebuilds the same values. The
    subprocess keeps this test's restarts away from the suite's shared
    session; the CLI's own ``spark.stop()`` adds one more restart."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g")
    r = subprocess.run(
        [sys.executable, "-c",
         f"from tests.test_session_memo import _restart_main; _restart_main({str(tmp_path)!r})"],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=ROOT,
        env=env,
    )
    assert r.returncode == 0 and "restart: ok" in r.stdout, (
        r.stdout[-2000:] + r.stderr[-4000:]
    )
