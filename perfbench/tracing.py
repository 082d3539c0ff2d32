"""Spans and counters recorded from outside the engine.

Nothing in ``hadoop_search_spark`` is edited: the traced run rebinds the
public functions the search lifecycle calls (``SearchSession.page``,
``QueryCache.get``/``put``, ``SearchEngine.search``, ``parse_query``,
``SearchResult.from_ranked``, ``fetch_docs``, ``highlight_words``,
``make_snippet``) to wrappers that open a span around the original call.
Spans live in memory and are written once, when the run ends.

Layer of a span = its name. A layer's self time is the span's duration
minus the part its child spans cover.
"""

from __future__ import annotations

import itertools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hadoop_search_spark.functions.porter import porter_stem

PAGE = "session_api.page"
# layers a search request is split into; the page span's own self time
# is what none of them covers
REQUEST_LAYERS = (
    "cache.get",
    "cache.put",
    "parser.parse",
    "planner.plan",
    "results.rank",
    "results.fetch",
    "results.snippet",
)
_CATALYST_PHASES = ("analysis", "optimization", "planning")


class Py4jCounter:
    """Counts commands sent over the py4j gateway by wrapping the
    client's ``send_command``."""

    def __init__(self, gateway_client) -> None:
        self.n = 0
        send = gateway_client.send_command

        def counted(command, retry=True, binary=False):
            self.n += 1
            return send(command, retry, binary)

        gateway_client.send_command = counted


class Tracer:
    """In-memory spans: name, start, end, parent, request id, plus the
    py4j commands sent while the span was open."""

    def __init__(self, py4j: Py4jCounter) -> None:
        self.spans: list[dict] = []
        self.on = False
        self.req: int | None = None
        self.rank_calls = 0  # SearchResult.from_ranked calls, traced or not
        self.py4j = py4j
        self._ids = itertools.count()
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> dict | None:
        stack = self._stack()
        return stack[-1] if self.on and stack else None

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield None
            return
        stack = self._stack()
        sp = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "req": self.req,
            "py4j": self.py4j.n,
            "start": time.perf_counter(),
        }
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            sp["py4j"] = self.py4j.n - sp["py4j"]
            self.spans.append(sp)


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the children's durations, minus time the
    tracer itself spent inside the span (``overhead_s``)."""
    child = defaultdict(float)
    for sp in spans:
        if sp["parent"] is not None:
            child[sp["parent"]] += sp["end"] - sp["start"]
    return {
        sp["id"]: sp["end"] - sp["start"] - child[sp["id"]] - sp.get("overhead_s", 0.0)
        for sp in spans
    }


def _wrap_function(tracer: Tracer, owner, attr: str, name: str) -> None:
    orig = getattr(owner, attr)

    def traced(*args, **kwargs):
        with tracer.span(name):
            return orig(*args, **kwargs)

    setattr(owner, attr, traced)


def instrument_search(tracer: Tracer, dataframe_cls) -> None:
    """Rebind the search lifecycle's public functions to span wrappers.
    With ``tracer.on`` false every wrapper passes straight through."""
    from hadoop_search_spark.plans import parser, session_api
    from hadoop_search_spark.plans.cache import QueryCache
    from hadoop_search_spark.plans.planner import SearchEngine
    from hadoop_search_spark.plans.results import SearchResult

    _wrap_function(tracer, session_api.SearchSession, "page", PAGE)
    _wrap_function(tracer, QueryCache, "get", "cache.get")
    _wrap_function(tracer, QueryCache, "put", "cache.put")
    _wrap_function(tracer, SearchEngine, "search", "planner.plan")
    _wrap_function(tracer, parser, "parse_query", "parser.parse")
    _wrap_function(tracer, session_api, "fetch_docs", "results.fetch")
    _wrap_function(tracer, session_api, "highlight_words", "results.snippet")
    _wrap_function(tracer, session_api, "make_snippet", "results.snippet")

    from_ranked = SearchResult.from_ranked

    def traced_from_ranked(cls, *args, **kwargs):
        tracer.rank_calls += 1
        with tracer.span("results.rank") as sp:
            sr = from_ranked(*args, **kwargs)
            if sp is not None:
                sp["ids"] = sum(len(p) for p in sr.pages)
            return sr

    SearchResult.from_ranked = classmethod(traced_from_ranked)

    # The only Spark calls page() makes itself are the document fetch's
    # select and collect on the frame fetch_docs returned.
    select, collect = dataframe_cls.select, dataframe_cls.collect

    def traced_select(df, *cols):
        sp = tracer.current()
        if sp is not None and sp["name"] == PAGE:
            with tracer.span("results.fetch"):
                return select(df, *cols)
        return select(df, *cols)

    def traced_collect(df):
        sp = tracer.current()
        if sp is not None and sp["name"] == PAGE:
            with tracer.span("results.fetch"):
                return collect(df)
        rows = collect(df)
        if sp is not None and sp["name"] == "results.rank":
            t = time.perf_counter()
            phases = df._jdf.queryExecution().tracker().phases()
            ms = 0
            for name in _CATALYST_PHASES:
                if phases.contains(name):
                    ms += phases.get(name).get().durationMs()
            sp["catalyst_s"] = sp.get("catalyst_s", 0.0) + ms / 1000.0
            sp["overhead_s"] = sp.get("overhead_s", 0.0) + time.perf_counter() - t
        return rows

    dataframe_cls.select = traced_select
    dataframe_cls.collect = traced_collect


def instrument_stemmer(spark):
    """Swap the index's Porter UDF for one that times each batch and
    counts the words it stems, into Spark accumulators. Returns
    (seconds accumulator, words accumulator)."""
    from hadoop_search_spark.operators import index

    sc = spark.sparkContext
    stem_s = sc.accumulator(0.0)
    stem_n = sc.accumulator(0)

    @F.pandas_udf(T.StringType())
    def timed_porter_stem(words: pd.Series) -> pd.Series:
        t = time.perf_counter()
        out = words.map(porter_stem)
        stem_s.add(time.perf_counter() - t)
        stem_n.add(len(words))
        return out

    index.porter_stem_udf = timed_porter_stem
    return stem_s, stem_n


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages run, tasks completed) tagged with ``group``, read back
    from the status tracker."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            if si and si.numCompletedTasks:
                stages += 1
                tasks += si.numCompletedTasks
    return len(jobs), stages, tasks
