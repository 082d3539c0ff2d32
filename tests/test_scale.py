"""Scale-design assertions: physical plans must show partition
pruning, predicate pushdown, broadcast joins, and whole-stage codegen
— the properties that make the engine viable at 100 TB
(ARCHITECTURE.md "Scale design")."""

import re

import pytest

from pyspark.sql import functions as F

from hadoop_search_spark.operators.index import build_postings, write_index


@pytest.fixture(scope="module")
def index_path(spark, documents, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("index") / "postings")
    postings = build_postings(documents, num_docs=500, stem=False)
    write_index(postings, path, num_partitions=10)
    return path


def test_index_written_range_partitioned(spark, index_path):
    import glob

    files = glob.glob(f"{index_path}/part-*")
    assert len(files) == 10  # reference: 10 term-range partitions

    # each term lives in exactly one file (global range partitioning)
    reloaded = spark.read.parquet(index_path)
    spread = (
        reloaded.select("term", F.input_file_name().alias("f"))
        .groupBy("term")
        .agg(F.countDistinct("f").alias("nf"))
        .agg(F.max("nf").alias("m"))
        .collect()[0]
        .m
    )
    assert spread == 1


def test_term_filter_prunes_to_one_file(spark, index_path):
    reloaded = spark.read.parquet(index_path)
    hit = reloaded.filter(F.col("term") == "table")
    files_read = hit.select(F.input_file_name().alias("f")).distinct().count()
    assert files_read == 1  # min/max footer stats prune the other 9

    plan = hit._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "EqualTo(term,table)" in plan


def test_point_lookup_pushdown(spark, documents):
    plan = (
        documents.filter(F.col("doc_id") == 42)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "EqualTo(doc_id,42)" in plan


def test_star_join_broadcasts_dims(spark):
    from hadoop_search_spark.catalog import q5_local_supplier_volume

    df = q5_local_supplier_volume(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_tokenize_stays_in_codegen(spark, documents):
    from hadoop_search_spark.functions.tokenize import tokenize_with_positions

    df = tokenize_with_positions(documents)
    jvm = spark.sparkContext._jvm
    codegen = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "codegen")
    assert "WholeStageCodegen" in codegen
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan  # no Python in the tokenize path


def test_no_cartesian_in_dedup(spark, documents):
    from hadoop_search_spark.operators.dedup import minhash_lsh_dedup

    plan = (
        minhash_lsh_dedup(documents.limit(50))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan


def test_search_plan_is_one_doc_id_aggregate_not_collect(spark, documents, index_path):
    from hadoop_search_spark.plans.planner import SearchEngine

    postings = spark.read.parquet(index_path)
    engine = SearchEngine(spark, postings, documents=documents, stem=None)
    df = engine.plan("(table) and (scan or merge)")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # evaluation is distributed (the reference funnels all posting
    # lists to a single reducer): one term-pruned scan of the index, a
    # partial aggregate on the map side, one doc_id shuffle, no join
    assert plan.count("FileScan parquet") == 1
    assert re.search(r"PushedFilters: \[[^\]]*\bIn\(term, ", plan)
    assert "partial_max(" in plan
    assert len(re.findall(r"Exchange hashpartitioning\(doc_id#", plan)) == 1
    assert "Join" not in plan


def test_ivf_assignment_is_map_only(spark):
    from hadoop_search_spark.operators.similarity import ivf_assign, ivf_centroids

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = ivf_centroids(emb, 4)
    plan = ivf_assign(emb, cents)._jdf.queryExecution().executedPlan().toString()
    # cell assignment must be a narrow projection: no shuffle, no
    # join, no Python — the property that makes IVF viable at 100 TB
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_ivf_probe_broadcasts_queries(spark):
    from hadoop_search_spark.operators.similarity import ann_ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = (
        ann_ivf_topk(emb, [0, 1], k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the probe side joins in as a broadcast; the corpus never
    # shuffles for the candidate join
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_curation_single_feature_scan(spark, documents):
    from hadoop_search_spark.operators.curation import curate

    df = curate(documents)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # feature stages are fused: the quality/lang/token expressions sit
    # in one projection, so no Python eval and no cartesian anywhere
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # the documents relation feeds dedup (2 sides), LSH verify (2) and
    # the feature projection — bounded number of scans, not one per
    # feature family (3 families share a single scan)
    assert plan.count("Scan parquet") <= 8


def test_bucketed_index_aggregates_without_shuffle(spark, documents, tmp_path):
    from hadoop_search_spark.operators.index import write_index_bucketed

    postings = build_postings(documents, num_docs=500, stem=False)
    write_index_bucketed(postings, "postings_bucketed", str(tmp_path / "bidx"))
    try:
        tbl = spark.table("postings_bucketed")
        assert tbl.count() == postings.count()
        # term-keyed aggregation over the bucketed table needs no shuffle
        agg = tbl.groupBy("term").agg(F.sum("tf").alias("s"))
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        # and results match the unbucketed aggregation
        want = {r.term: r.s for r in postings.groupBy("term").agg(F.sum("tf").alias("s")).collect()}
        got = {r.term: r.s for r in agg.collect()}
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS postings_bucketed")


def test_pii_scrub_and_sample_are_map_only(spark, documents):
    from hadoop_search_spark.operators.mixing import pii_scrub, stratified_sample

    for df in (
        pii_scrub(documents),
        stratified_sample(documents, {"src0": 0.5, "src1": 1.0}),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        # redaction and hash sampling are narrow projections/filters:
        # no shuffle, no join, no Python — they pipeline into any
        # consumer unchanged at 100 TB
        assert "Exchange" not in plan
        assert "Join" not in plan
        assert "BatchEvalPython" not in plan


def test_token_budget_mix_single_shuffle(spark, documents):
    from hadoop_search_spark.operators.mixing import token_budget_mix

    plan = (
        token_budget_mix(documents, {"src0": 1000})
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # exactly one shuffle — the window's partition on the stratum key;
    # quality/token features fuse into the scan-side projection
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan


def test_viral_term_and_spreads_by_doc_id(spark):
    """Skewed-corpus stress for the search path: one viral term with
    df ≈ corpus ANDed with a rare term. The AND is one scan and one
    doc_id aggregate: the shuffle is hash-partitioned on doc_id, so the
    viral term's postings spread over every partition instead of
    becoming the straggler partition a term-keyed exchange would make
    at 100 TB, and no join is planned."""
    from hadoop_search_spark.operators.index import build_postings
    from hadoop_search_spark.plans.planner import SearchEngine

    rows = [
        (i, "viral " + ("rare " if i % 400 == 0 else "") + f"w{i % 7}")
        for i in range(2000)
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    postings = build_postings(docs, num_docs=2000, stem=False).persist()
    try:
        engine = SearchEngine(spark, postings, documents=docs, stem=None)
        res = engine.search("viral and rare")
        assert {r.doc_id for r in res.collect()} == {0, 400, 800, 1200, 1600}
        # executed (post-AQE) plan above the cached postings
        plan = res._jdf.queryExecution().executedPlan().toString()
        query_part = plan.split("InMemoryTableScan")[0]
        assert re.search(r"Exchange hashpartitioning\(doc_id#\d+L?, \d+\)", query_part)
        assert "hashpartitioning(term" not in query_part
        assert "Join" not in query_part
    finally:
        postings.unpersist()


def test_ivf_trained_recall_sf01(spark):
    """Sample-trained IVF quantizer on the sf0.1 embeddings: recall is
    monotone in nprobe and full probing equals exact search. The
    synthetic embeddings are near-random (no cluster structure), which
    bounds low-nprobe recall well under what real embedding corpora
    give — the floor asserts the trained quantizer still beats the
    probed-mass baseline (~nprobe/C = 0.25), measured 0.46 here."""
    from hadoop_search_spark.operators.similarity import (
        ann_ivf_topk,
        ivf_train_kmeans,
        recall_at_k,
    )

    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    cents = ivf_train_kmeans(emb, k=8, iterations=3, sample_fraction=0.25)
    qids = [3, 17, 42, 99, 123]

    def ivf_recall(nprobe):
        approx = ann_ivf_topk(
            emb, qids, k=10, num_centroids=8, nprobe=nprobe, centroids=cents
        )
        return recall_at_k(emb, qids, 10, approx)

    r2, r4, r8 = ivf_recall(2), ivf_recall(4), ivf_recall(8)
    assert r2 >= 0.35
    assert r2 <= r4 <= r8
    assert r8 == 1.0  # probing every cell covers the whole corpus


def test_split_map_only_and_shard_single_shuffle(spark, documents):
    from hadoop_search_spark.operators.mixing import (
        shuffle_shard,
        train_val_test_split,
    )

    # the split is a pure withColumn: no shuffle, no join, no Python
    plan = (
        train_val_test_split(documents)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan and "Join" not in plan
    assert "BatchEvalPython" not in plan

    # shuffle-shard: ONE exchange (the shard partition), and the rank
    # + running-token windows share it — a single Window stage
    plan = (
        shuffle_shard(documents, n_shards=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan


def test_span_rewrite_no_cartesian_no_python(spark, documents):
    from hadoop_search_spark.operators.dedup import span_rewrite

    plan = (
        span_rewrite(documents)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # covered-position removal is equi-joins on well-spread composite
    # keys — never a cartesian product, never row-at-a-time Python
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
