"""Meta-tests pinning the driver contract: every catalog entry must be
runnable and value-checkable, and the gate-ordering invariants that
decide which entries receive the per-round hard signal must hold."""

import re

from pyspark.sql import functions as F


def test_every_entry_has_an_oracle():
    from hadoop_search_spark import catalog

    qs = catalog.queries()
    oracles = catalog.oracle_sql()
    assert set(qs) == set(oracles), "queries() and oracle_sql() keys differ"
    missing = [n for n, sql in oracles.items() if not sql or not sql.strip()]
    assert not missing, f"entries without oracle SQL: {missing}"


def test_driver_front_fits_recording_cap():
    from hadoop_search_spark import catalog

    # the driver records only the FIRST 50 queries() rows
    assert len(catalog._DRIVER_FRONT) <= 50
    assert len(catalog._DRIVER_FRONT) == len(set(catalog._DRIVER_FRONT))
    unknown = set(catalog._DRIVER_FRONT) - set(catalog.CATALOG)
    assert not unknown, f"front list references unregistered entries: {unknown}"
    names = list(catalog.queries())
    assert names[: len(catalog._DRIVER_FRONT)] == catalog._DRIVER_FRONT
    assert len(names) == len(catalog.CATALOG)


def test_oracle_sql_is_duckdb_parsable():
    import duckdb

    from hadoop_search_spark import catalog
    from hadoop_search_spark.sources.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf0.001/{t}.parquet')"
        )
    for name, sql in catalog.oracle_sql().items():
        # PREPARE parses + binds without executing the query
        stmt = re.sub(r"\s+", " ", sql).strip().rstrip(";")
        con.execute(f"PREPARE _q AS {stmt}")
        con.execute("DEALLOCATE _q")
    con.close()


def test_no_oracle_result_column_is_hugeint():
    """The driver's value hash is TYPE-sensitive: a DuckDB HUGEINT
    (int128 — what an uncast ``sum()`` over integers returns) hashes
    differently from Spark's int64 even when every value is equal.
    This was the sole root cause of all four r3 driver hash-fails
    (``postings_bm25``/``curation_summary``/``mix_sequence_pack``/
    ``q12_ship_lag_priority``) and was invisible to the local gate,
    which compared pandas-converted VALUES. Every aggregate an oracle
    emits must be ``CAST(... AS BIGINT)``; binding each oracle resolves
    its result types without executing it, so this meta-test pins the
    whole class closed for every current and future entry."""
    import duckdb

    from hadoop_search_spark import catalog
    from hadoop_search_spark.sources.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf0.001/{t}.parquet')"
        )
    bad = {}
    for name, sql in catalog.oracle_sql().items():
        rel = con.sql(sql)
        hits = [
            (c, str(ty))
            for c, ty in zip(rel.columns, rel.types)
            if "HUGEINT" in str(ty).upper()
        ]
        if hits:
            bad[name] = hits
    con.close()
    assert not bad, (
        f"oracle result columns typed HUGEINT/UHUGEINT (uncast integer "
        f"sum()?) — the driver hash can never match these: {bad}"
    )


def test_local_gate_flags_type_mismatches():
    """Pins the dtype-awareness of scripts/check_oracles.py: a
    deliberately uncast integer ``sum()`` (HUGEINT) must go RED even
    when every value is equal — for three rounds the value-only gate
    reported clean while the driver hashed such entries red. Also
    pins: cross-class (decimal vs double) is red, int-width-only
    (INTEGER vs BIGINT — which the driver has never distinguished)
    is a warning, not a failure."""
    import importlib.util
    import os

    import duckdb

    path = os.path.join(os.path.dirname(__file__), "..", "scripts", "check_oracles.py")
    spec = importlib.util.spec_from_file_location("_check_oracles", path)
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)

    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT 1 AS x")

    rel = con.sql("SELECT sum(x) AS s FROM t")  # HUGEINT result
    hard, _ = co.type_mismatches([("s", "bigint")], rel.columns, rel.types)
    assert hard and "HUGEINT" in hard[0]

    rel = con.sql("SELECT CAST(sum(x) AS BIGINT) AS s FROM t")
    assert co.type_mismatches([("s", "bigint")], rel.columns, rel.types) == ([], [])

    rel = con.sql("SELECT 1.5::DOUBLE AS s")
    hard, _ = co.type_mismatches([("s", "decimal(18,2)")], rel.columns, rel.types)
    assert hard, "decimal-vs-double disagreement must be a hard failure"

    rel = con.sql("SELECT 1::INTEGER AS s")
    hard, warn = co.type_mismatches([("s", "bigint")], rel.columns, rel.types)
    assert not hard and warn, "int-width-only difference is warn-only"
    con.close()


def test_q12_null_priority_counts_in_neither_bucket(spark, tmp_path):
    """The fixtures carry no NULL o_orderpriority, which hid an
    asymmetry for three rounds: Spark's original
    ``when(hi, 0).otherwise(1)`` counted a NULL priority as a LOW
    line while the oracle's ``NOT IN`` CASE counted it in neither
    bucket. This runs the real catalog entry AND its real oracle over
    a tiny synthetic lineitem/orders pair containing a NULL priority
    and asserts they agree — and that the NULL row lands in neither
    count."""
    import datetime as dt

    import duckdb

    from hadoop_search_spark import catalog

    orders = spark.createDataFrame(
        [
            (1, dt.date(2024, 1, 1), "1-URGENT"),
            (2, dt.date(2024, 1, 1), "5-LOW"),
            (3, dt.date(2024, 1, 1), None),
        ],
        "o_orderkey LONG, o_orderdate DATE, o_orderpriority STRING",
    )
    # all three ship 10 days after order → one 'fast' bucket row
    lineitem = spark.createDataFrame(
        [(1, dt.date(2024, 1, 11)), (2, dt.date(2024, 1, 11)), (3, dt.date(2024, 1, 11))],
        "l_orderkey LONG, l_shipdate DATE",
    )
    sf_dir = str(tmp_path)
    orders.coalesce(1).write.parquet(f"{sf_dir}/orders.parquet")
    lineitem.coalesce(1).write.parquet(f"{sf_dir}/lineitem.parquet")

    rows = (
        catalog.CATALOG["q12_ship_lag_priority"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert len(rows) == 1 and rows[0].lag_bucket == "fast"
    assert rows[0].high_line_count == 1
    assert rows[0].low_line_count == 1  # NULL priority is in NEITHER

    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet/*.parquet')"
        )
    oracle = con.sql(catalog.CATALOG["q12_ship_lag_priority"].oracle).fetchall()
    assert oracle == [("fast", 1, 1)]
    con.close()


# BroadcastNestedLoopJoin boundedness proof (the gate below): a BNLJ
# is only acceptable when its BUILD side is provably small — otherwise
# it is a cartesian blowup wearing a different name. The proof walks
# the build subtree top-down through row-NON-INCREASING operators
# only; it succeeds on the first node whose logical link pins
# maxRows ≤ _BNLJ_MAX_BUILD_ROWS (1-row ungrouped aggregates, limits,
# local relations). Any expanding or opaque operator (Generate/
# explode, joins, raw scans) ends the walk unbounded. An earlier
# draft also accepted a Filter over a literal IN-list, but that
# heuristic was unsound twice over — the regex matched the IN inside
# a NOT(...), and an IN-list bounds rows only if the column is unique
# — so operators that want a BNLJ broadcast must pin the bound
# structurally instead (a .limit() on the already-bounded side, as
# cosine_topk does).
_BNLJ_MAX_BUILD_ROWS = 10_000
_ROW_NON_INCREASING = {
    "BroadcastExchangeExec",
    "ShuffleExchangeExec",
    "AQEShuffleReadExec",
    "ProjectExec",
    "FilterExec",
    "SortExec",
    "CoalesceExec",
    "ColumnarToRowExec",
    "InputAdapter",
    "WholeStageCodegenExec",
    "HashAggregateExec",
    "ObjectHashAggregateExec",
    "SortAggregateExec",
    "WindowExec",
    "WindowGroupLimitExec",
    "TakeOrderedAndProjectExec",
    "LocalLimitExec",
    "GlobalLimitExec",
}
def _walk(n, depth=0):
    yield n
    ch = n.children()
    for i in range(ch.size()):
        yield from _walk(ch.apply(i), depth + 1)


def _provably_bounded(node) -> bool:
    ll = node.logicalLink()
    if ll.isDefined():
        mr = ll.get().maxRows()
        if mr.isDefined() and mr.get() <= _BNLJ_MAX_BUILD_ROWS:
            return True
    cls = node.getClass().getSimpleName()
    if cls not in _ROW_NON_INCREASING:
        return False
    ch = node.children()
    return any(_provably_bounded(ch.apply(i)) for i in range(ch.size()))


def test_no_scale_killers_in_any_catalog_plan(spark):
    """Every catalog entry's optimized physical plan must be free of
    the universal scale-killers: CartesianProduct (unbounded pair
    blowup), BatchEvalPython (row-at-a-time Python; vectorized Arrow
    UDFs show as ArrowEvalPython/MapInPandas and are allowed), and —
    since r3 — any BroadcastNestedLoopJoin whose build side is NOT
    provably bounded (see :func:`_provably_bounded`): the intended
    non-equi broadcasts (1-row avgdl/total aggregates, literal query
    pick-lists) pass the proof, an unbounded non-equi join fails."""
    from concurrent.futures import ThreadPoolExecutor

    from hadoop_search_spark import catalog

    sf_dir = "/root/testdata/sf0.001"
    bad: dict[str, list[str]] = {}

    def audit(item):
        name, fn = item
        df = fn(spark, sf_dir)
        root = df._jdf.queryExecution().executedPlan()
        plan = root.toString()
        hits = [k for k in ("CartesianProduct", "BatchEvalPython") if k in plan]
        if "BroadcastNestedLoopJoin" in plan:
            if root.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
                root = root.initialPlan()
            for n in _walk(root):
                if n.getClass().getSimpleName() != "BroadcastNestedLoopJoinExec":
                    continue
                idx = 1 if n.buildSide().toString() == "BuildRight" else 0
                if not _provably_bounded(n.children().apply(idx)):
                    hits.append("BroadcastNestedLoopJoin[unbounded build]")
        return name, hits

    # 4 worker threads (r13): the audit's 175 plan constructions are
    # py4j/JVM-planning-bound and serialize on round-trip latency;
    # overlapping them cut the suite's single biggest test ~3x.
    # Construction is read-only per entry (the session memo builds
    # each engine once), so concurrency cannot change what any plan
    # contains.
    with ThreadPoolExecutor(4) as pool:
        for name, hits in pool.map(audit, list(catalog.queries().items())):
            if hits:
                bad[name] = hits
    assert not bad, f"scale-killer operators in plans: {bad}"


def test_phrase_score_stays_staged(spark):
    """Plan-shape canary (r12 VERDICT #5 fragility note): the phrase
    score relies on CollapseProject NOT re-merging the three staged
    projections of ``_apply_phrase_score`` — a Spark upgrade that
    collapsed them would silently restore the ~10×-per-row re-sort of
    the merged position array with every value-level test still green
    (the stages are value-pinned equal to the single-expression
    reference). This pins the SHAPE: the executed plan must evaluate
    ``array_sort`` ONCE in the per-request stage (the ``_tg`` stage)
    and keep the staged ``_md`` attribute, instead of inlining the
    sort at each of its ~10 references."""
    from hadoop_search_spark import catalog

    df = catalog.queries()["search_phrase"](spark, "/root/testdata/sf0.001")
    root = df._jdf.queryExecution().executedPlan()
    plan = root.toString()
    if root.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        root = root.initialPlan()

    def defines_tg(node):
        if node.getClass().getSimpleName() != "ProjectExec":
            return False
        exprs = node.projectList()
        return any(
            exprs.apply(i).getClass().getSimpleName() == "Alias"
            and exprs.apply(i).name() == "_tg"
            for i in range(exprs.size())
        )

    # scoped to the stage that owns the sort: other array_sorts the
    # entry may gain elsewhere in its plan do not trip the canary
    stages = [n for n in _walk(root) if defines_tg(n)]
    assert len(stages) == 1, (
        f"{len(stages)} projections define _tg — the staged projections "
        "collapsed (CollapseProject behavior change?); see "
        "plans/planner.py:_apply_phrase_score"
    )
    n_sorts = stages[0].toString().count("array_sort(")
    assert n_sorts == 1, (
        f"the _tg stage evaluates array_sort {n_sorts}× — the staged "
        "projections collapsed (CollapseProject behavior change?); "
        "see plans/planner.py:_apply_phrase_score"
    )
    assert "_md" in plan and "_tg" in plan, (
        "staged phrase attributes (_tg/_md) missing from the executed "
        "plan — the stages were re-inlined"
    )


def test_bnlj_gate_rejects_unbounded_build(spark):
    """Negative control for the boundedness proof: a genuine non-equi
    join between two unbounded frames must be flagged. The frames are
    file scans — a local range() would (correctly) pass the proof via
    its defined maxRows."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df_a = docs.select(F.col("doc_id").alias("a"))
    df_b = docs.select(F.col("doc_id").alias("b"))
    joined = df_a.join(F.broadcast(df_b), F.col("a") < F.col("b"))
    root = joined._jdf.queryExecution().executedPlan()
    if root.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        root = root.initialPlan()
    flagged = [
        n
        for n in _walk(root)
        if n.getClass().getSimpleName() == "BroadcastNestedLoopJoinExec"
        and not _provably_bounded(
            n.children().apply(1 if n.buildSide().toString() == "BuildRight" else 0)
        )
    ]
    assert flagged, "unbounded BNLJ build side was not flagged"

    def bnlj_builds_bounded(df):
        root = df._jdf.queryExecution().executedPlan()
        if root.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            root = root.initialPlan()
        ok = True
        for n in _walk(root):
            if n.getClass().getSimpleName() == "BroadcastNestedLoopJoinExec":
                idx = 1 if n.buildSide().toString() == "BuildRight" else 0
                ok = ok and _provably_bounded(n.children().apply(idx))
        return ok

    # a structurally pinned bound (limit) IS accepted — the sanctioned
    # way to broadcast a picked subset into a non-equi join
    picked = df_a.join(
        F.broadcast(df_b.filter(F.col("b").isin(1, 2, 3)).limit(3)),
        F.col("a") < F.col("b"),
    )
    assert bnlj_builds_bounded(picked)
    # a bare IN-literal filter is NOT accepted: the earlier heuristic
    # passed it, but an IN-list bounds rows only if the column is
    # unique, and the regex also matched NOT(... IN ...) — both are
    # unbounded in general (this pins the removal)
    bare_in = df_a.join(
        F.broadcast(df_b.filter(F.col("b").isin(1, 2, 3))),
        F.col("a") < F.col("b"),
    )
    assert not bnlj_builds_bounded(bare_in)
    negated = df_a.join(
        F.broadcast(df_b.filter(~F.col("b").isin(1, 2, 3))),
        F.col("a") < F.col("b"),
    )
    assert not bnlj_builds_bounded(negated)
