"""Index-build pipeline — the Spark shape of the reference's 4-job
offline pipeline (SURVEY.md §3.2).

Reference jobs → one lazy DataFrame pipeline:

* WordCount (stop-word discovery): `hadoop_wiki_search/code/wordcount/
  WordCountMapred.java` — word counts with map-side combine, then
  top-K=100 by (count, word). Here: ``groupBy.count`` (Catalyst does
  partial aggregation automatically) + ``orderBy.limit`` (physical
  plan is TakeOrderedAndProject = per-partition heap + driver merge,
  exactly the reference's bounded-TreeSet trick, but distributed).
* DocCount: `code/doccount/DocCountMapred.java` — ``df.count()``.
* InvertedIndex job 1+2: `code/inverted/InvertedIndexMapred.java`
  — tokenize → filter → stem → per-(term,doc) tf + sorted positions →
  per-term df → tf-idf.  Score formula (`:220`):
  ``(1 + log10(tf)) * ln(docNum / df)`` — note the mixed bases.

Scale design:

* The only Python in the pipeline is the Porter pandas UDF, applied
  to the *distinct* token stream per batch with an LRU cache.
* df (document frequency) is computed with a window-free
  ``groupBy("term")`` + broadcast-eligible join back; at 100 TB both
  sides of that join are term-keyed and AQE picks broadcast vs
  sort-merge from runtime stats.
* The published index is written
  ``repartitionByRange(n, "term").sortWithinPartitions("term")`` —
  the Spark equivalent of the reference's sampled
  TotalOrderPartitioner (`:288,296-306`): parquet footer min/max on
  ``term`` then gives query-time partition pruning, the same effect
  as the reference's `_index_partition` boundary file
  (`code/query/QueryMapred.java:126-162`) with zero custom code.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_search_spark.functions.porter import porter_stem_udf
from hadoop_search_spark.functions.tokenize import tokenize_with_positions

# Reference constants
NUM_STOP_WORDS = 100  # WordCountMapred.java:32
NUM_INDEX_PARTITIONS = 10  # InvertedIndexMapred.java:288


def word_counts(documents: DataFrame) -> DataFrame:
    """(word, cnt) corpus-wide counts — reference A1.

    Wordcount path drops numeric tokens only (P4), no alnum filter.
    """
    toks = tokenize_with_positions(documents, drop_numeric=True, require_alnum=False)
    return toks.groupBy(F.col("token").alias("word")).agg(F.count("*").alias("cnt"))


def stop_words(documents: DataFrame, k: int = NUM_STOP_WORDS) -> DataFrame:
    """Top-K most frequent words — reference A6.

    The reference's bounded TreeSet orders by (count, word), so ties at
    the boundary resolve by word descending; we reproduce that order.
    """
    return (
        word_counts(documents)
        .orderBy(F.desc("cnt"), F.desc("word"))
        .limit(k)
        .select("word")
    )


def doc_count(documents: DataFrame) -> int:
    """Total corpus size — reference A2 (DocCountMapred.java:25-62)."""
    return documents.count()


def build_postings(
    documents: DataFrame,
    stopwords: DataFrame | None = None,
    num_docs: int | None = None,
    stem: bool = True,
) -> DataFrame:
    """Build the inverted index: (term, doc_id, tf, positions, score).

    Pipeline parity with `code/inverted/InvertedIndexMapred.java`:
    positions are 1-based counted before filtering (P8); filters are
    alnum (P5), numeric (P4) and *unstemmed* stop-word (P6, `:76`);
    stemming (P7) happens after the filters (`:78-80`). Positions are
    stored absolute + ascending — the reference's delta-encoding
    (`:134-140`) is a storage codec that Parquet's integer encodings
    already provide.

    ``stopwords`` joins as a broadcast anti-join: a ≤100-row dim table
    against the token stream — never a shuffle.

    ``num_docs=None`` (r12): the corpus count stays IN the plan as a
    broadcast 1-row aggregate (the bm25 ``avgdl`` pattern) instead of
    a blocking ``documents.count()`` action at plan-construction time
    — a fresh postings plan then costs zero Spark jobs to build
    (measured: the count action was ~0.1 s of every cold
    postings_tfidf pass), and at 100 TB the count rides the same job
    instead of serializing a full pass before it. Score values are
    bit-identical: ``count(*)`` is exact in BIGINT, the cast to
    DOUBLE is exact below 2^53, and the idf division/log see the
    same float64 either way (oracle-gated at 3 SFs).
    """
    # A3 (tf + positions) then A4/A5 (df + score): one definition of
    # the pipeline, shared with the incremental-merge path so full
    # build and merge can never drift apart.
    stats = term_doc_stats(documents, stopwords=stopwords, stem=stem)
    if num_docs is None:
        return rescore_lazy(stats, documents)
    return rescore(stats, num_docs)


def write_index(
    postings: DataFrame,
    path: str,
    num_partitions: int = NUM_INDEX_PARTITIONS,
) -> None:
    """Publish the index globally range-partitioned + sorted by term —
    reference O4 (sampled TotalOrderPartitioner, 10 partitions).

    Query-time term predicates then prune at three levels: file
    (range partition), row group (parquet min/max), page (column
    index) — the distributed generalization of the reference's
    `_index_partition` boundary-file pruning.
    """
    (
        postings.repartitionByRange(num_partitions, "term")
        .sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite")
        .parquet(path)
    )


def vocab_stats(postings: DataFrame) -> DataFrame:
    """The ``(term, df)`` vocabulary-stats table derived from a
    postings frame — THE single definition of that contract (used by
    the offline build, the CLI, the streaming republisher, the query
    planner's join-ordering cache, and term suggestion). Falls back to
    counting rows per term when the frame carries no ``df`` column."""
    if "df" in postings.columns:
        return postings.groupBy("term").agg(F.max("df").alias("df"))
    return postings.groupBy("term").agg(F.count("*").alias("df"))


def build_index_tables(
    spark: SparkSession,
    documents: DataFrame,
    num_stop_words: int = NUM_STOP_WORDS,
    stem: bool = True,
) -> dict[str, DataFrame]:
    """Run the full offline pipeline; returns the published tables.

    Equivalent of running the reference's CorpusSplit → WordCount →
    DocCount → InvertedIndex chain, as one lazy plan.
    """
    sw = stop_words(documents, num_stop_words)
    n = doc_count(documents)
    postings = build_postings(documents, stopwords=sw, num_docs=n, stem=stem)
    # an Arrow table becomes a local relation: no job over it runs
    # through the Python workers
    corpus_stats = spark.createDataFrame(
        pa.table({"doc_num": pa.array([n], pa.int64())}), "doc_num BIGINT"
    )
    # vocabulary stats: the (term, df) table the query planner's J6
    # join ordering reads — publishing it here means a serving engine
    # seeds its driver cache from a tiny table scan instead of
    # aggregating the postings on first query
    vocab = vocab_stats(postings)
    return {
        "postings": postings,
        "stopwords": sw,
        "corpus_stats": corpus_stats,
        "vocab": vocab,
    }


def term_doc_stats(
    documents: DataFrame,
    stopwords: DataFrame | None = None,
    stem: bool = True,
) -> DataFrame:
    """The corpus-size-independent core of the index:
    (term, doc_id, tf, positions). tf and positions depend only on the
    document itself, never on the rest of the corpus — which is what
    makes the index incrementally maintainable."""
    toks = tokenize_with_positions(documents, drop_numeric=True, require_alnum=True)
    if stopwords is not None:
        toks = toks.join(
            F.broadcast(stopwords.withColumnRenamed("word", "token")),
            on="token",
            how="left_anti",
        )
    term = porter_stem_udf(F.col("token")) if stem else F.col("token")
    return (
        toks.select(term.alias("term"), "doc_id", "pos")
        .groupBy("term", "doc_id")
        .agg(
            F.count("*").alias("tf"),
            F.sort_array(F.collect_list("pos")).alias("positions"),
        )
    )


def rescore(tf_stats: DataFrame, num_docs: int) -> DataFrame:
    """df + tf-idf over per-(term,doc) stats — the only corpus-global
    step of index construction, and therefore the only work an
    incremental merge repeats."""
    return _rescore_with(tf_stats, F.lit(float(num_docs)))


def rescore_lazy(tf_stats: DataFrame, documents: DataFrame) -> DataFrame:
    """:func:`rescore` with the corpus count kept IN the plan as a
    broadcast 1-row aggregate instead of a driver-side action — see
    :func:`build_postings`. ``count(*)`` → DOUBLE is exact below
    2^53, so the idf arithmetic is bit-identical to the literal
    form."""
    ndocs = documents.agg(
        F.count("*").cast("double").alias("_num_docs")
    )
    scored = tf_stats.crossJoin(F.broadcast(ndocs))
    return _rescore_with(scored, F.col("_num_docs"))


def _rescore_with(tf_stats: DataFrame, num_docs_col: F.Column) -> DataFrame:
    from pyspark.sql import Window

    scored = tf_stats.withColumn("df", F.count("*").over(Window.partitionBy("term")))
    score = (F.lit(1.0) + F.log10(F.col("tf"))) * F.log(
        num_docs_col / F.col("df")
    )
    return scored.select("term", "doc_id", "tf", "df", "positions", score.alias("score"))


def bm25_idf_lookup(spark, num_docs: int) -> DataFrame:
    """``(df, idf)`` lookup with idf precomputed in Python for every
    possible document frequency ``1..num_docs``.

    Exists so the SAME IEEE-754 constants can be embedded in a Spark
    plan and in an oracle SQL string — ``ln`` is the one transcendental
    in BM25, and JVM/DuckDB libm may differ by 1 ulp, which lands on a
    round(…, 9) boundary often enough to flake an exact-hash gate.
    At fixture scale the table is ≤ corpus size; at production scale
    prefer the closed-form default in :func:`bm25_scores` (a lookup
    over millions of distinct df values stops being "tiny")."""
    import math

    rows = [
        (df, math.log(1.0 + (num_docs - df + 0.5) / (df + 0.5)))
        for df in range(1, num_docs + 1)
    ]
    return spark.createDataFrame(rows, "df long, idf double")


def bm25_scores(
    postings: DataFrame,
    num_docs: int,
    k1: float = 1.2,
    b: float = 0.75,
    idf_lookup: DataFrame | None = None,
) -> DataFrame:
    """Okapi BM25 over per-(term, doc) stats → adds ``dl`` (document
    length) and ``bm25`` columns. A beyond-reference extension: the
    modern default ranking function next to the reference's mixed-base
    tf-idf (`code/inverted/InvertedIndexMapred.java:220`), computable
    from the SAME published index (tf and df are already stored; no
    re-tokenization).

    Uses the Lucene/ATIRE idf form ``ln(1 + (N - df + .5)/(df + .5))``
    (never negative) and length normalization
    ``tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))``.

    Scale shape: ``dl`` is one doc-keyed window (the only extra
    shuffle — df is reused if present, else one term-keyed window);
    ``avgdl`` is a 1-row broadcast cross join, so the plan stays lazy
    and fully distributed — no driver-side scalar collection."""
    from pyspark.sql import Window

    p = postings
    if "df" not in p.columns:
        p = p.withColumn("df", F.count("*").over(Window.partitionBy("term")))
    p = p.withColumn("dl", F.sum("tf").over(Window.partitionBy("doc_id")))
    avgdl = p.agg(
        (F.sum("tf") * F.lit(1.0) / F.countDistinct("doc_id")).alias("avgdl")
    )
    p = p.crossJoin(F.broadcast(avgdl))
    if idf_lookup is not None:
        # Parity mode: idf comes from a broadcast (df, idf) table of
        # Python-precomputed constants (see bm25_idf_lookup) so no ln
        # is evaluated engine-side at all.
        p = p.join(F.broadcast(idf_lookup), "df")
        idf = F.col("idf")
    else:
        idf = F.log(
            F.lit(1.0)
            + (F.lit(float(num_docs)) - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        )
    tfn = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    out = p.withColumn("bm25", idf * tfn).drop("avgdl")
    return out.drop("idf") if idf_lookup is not None else out


def merge_index(
    existing_postings: DataFrame,
    existing_num_docs: int,
    new_documents: DataFrame,
    stopwords: DataFrame | None = None,
    stem: bool = True,
) -> tuple[DataFrame, int]:
    """Incrementally extend a published index with new documents —
    beyond the reference, which rebuilds from scratch
    (SURVEY.md §3.2; the MapReduce chain has no incremental path).

    Only the new documents are tokenized/stemmed; the existing index
    contributes its stored (term, doc_id, tf, positions) rows
    unchanged, and the corpus-global df/score columns are recomputed
    over the union (idf shifts for every term when the corpus grows —
    there is no way around rescoring, but rescoring is one window over
    the union, no re-tokenization).

    New doc_ids must not collide with existing ones (caller enforces —
    e.g. monotone ingest ids). Returns (postings, num_docs).
    """
    new_stats = term_doc_stats(new_documents, stopwords=stopwords, stem=stem)
    old_stats = existing_postings.select("term", "doc_id", "tf", "positions")
    num_docs = existing_num_docs + new_documents.count()
    return rescore(old_stats.unionByName(new_stats), num_docs), num_docs


def write_index_bucketed(
    postings: DataFrame,
    table_name: str,
    path: str,
    num_buckets: int = NUM_INDEX_PARTITIONS,
) -> None:
    """Publish the index hash-bucketed + sorted by term via the table
    catalog — the co-location alternative to range partitioning:
    downstream term-keyed aggregations and self-joins (df maintenance,
    index stats, term-term co-occurrence) read pre-hashed buckets and
    skip their shuffle entirely (no Exchange in the plan).

    Range partitioning (``write_index``) remains the default publish
    format — it gives min/max file pruning for point term lookups;
    bucketing serves the maintenance/analytics side. Registered as an
    external table at ``path``.
    """
    (
        postings.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(num_buckets, "term")
        .sortBy("term", "doc_id")
        .saveAsTable(table_name)
    )
