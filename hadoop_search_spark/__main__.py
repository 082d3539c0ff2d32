"""Command-line interface — usage parity with the reference's drivers
(SURVEY.md §3):

* ``index``  — the offline pipeline (CorpusSplit→WordCount→DocCount→
  InvertedIndex chain): corpus parquet → published index + stopwords.
* ``search`` — `code/query/QueryMapred.main`: CNF query + page number
  → ranked, snippeted, highlighted results. Output format mirrors the
  reference (`util/CorpusFetcher.java:91,108`): a ``count/pages``
  header, then ``doc_id``/score/snippet records separated by
  ``$RST$``.
* ``fetch``  — `code/query/DocGetter.main`: print one document by id.
* ``curate`` — beyond the reference: the training-data export path
  (curate → train/val/test split → deterministic shuffle-shard →
  partitioned parquet + manifest).
* ``stats``  — one-shot corpus profile (size/token/quality/language/
  dup-rate report).

Examples::

    python -m hadoop_search_spark index --corpus /root/testdata/sf0.001/documents.parquet --out /tmp/idx
    python -m hadoop_search_spark search "spark and not dup" --page 1 --index /tmp/idx --corpus /root/testdata/sf0.001/documents.parquet
    python -m hadoop_search_spark search "table scan" --corpus /root/testdata/sf0.001/documents.parquet
    python -m hadoop_search_spark fetch 42 --corpus /root/testdata/sf0.001/documents.parquet
    python -m hadoop_search_spark curate --corpus /root/testdata/sf0.001/documents.parquet --out /tmp/dataset --shards 8
"""

from __future__ import annotations

import argparse
import sys


def _spark(cpus: int):
    from hadoop_search_spark.session import get_spark

    return get_spark(app_name="hadoop_search_spark_cli", cpus=cpus)


def cmd_index(args) -> int:
    from hadoop_search_spark.operators.index import build_index_tables, write_index

    spark = _spark(args.cpus)
    docs = spark.read.parquet(args.corpus)
    tabs = build_index_tables(spark, docs, num_stop_words=args.stopwords)
    write_index(tabs["postings"], f"{args.out}/postings", num_partitions=args.partitions)
    tabs["stopwords"].coalesce(1).write.mode("overwrite").parquet(f"{args.out}/stopwords")
    tabs["corpus_stats"].coalesce(1).write.mode("overwrite").parquet(
        f"{args.out}/corpus_stats"
    )
    # aggregate the just-published parquet, not the lazy build plan —
    # the plan would re-run the whole tokenize/stem pipeline
    from hadoop_search_spark.operators.index import vocab_stats

    (
        vocab_stats(spark.read.parquet(f"{args.out}/postings"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{args.out}/vocab")
    )
    n = spark.read.parquet(f"{args.out}/postings").count()
    print(f"indexed: {n} postings -> {args.out}")
    spark.stop()
    return 0


def _engine(spark, args):
    import os

    from hadoop_search_spark.operators.index import build_postings
    from hadoop_search_spark.plans.planner import SearchEngine

    docs = spark.read.parquet(args.corpus)
    vocab = None
    if args.index:
        postings = spark.read.parquet(f"{args.index}/postings")
        stopwords = [
            r.word for r in spark.read.parquet(f"{args.index}/stopwords").collect()
        ]
        if os.path.isdir(f"{args.index}/vocab"):
            vocab = spark.read.parquet(f"{args.index}/vocab")
    else:
        postings = build_postings(docs, num_docs=None, stem=True)
        stopwords = []
    return (
        SearchEngine(
            spark, postings, documents=docs, stopwords=stopwords, vocab=vocab
        ),
        docs,
    )


def cmd_search(args) -> int:
    from hadoop_search_spark.plans.results import PAGE_SIZE, render_page

    spark = _spark(args.cpus)
    engine, docs = _engine(spark, args)
    total, rows = render_page(engine, docs, args.query, args.page)
    pages = max(1, -(-total // PAGE_SIZE))
    print(f"{total}/{pages}")  # reference header: resultNum/pageNum
    for r in rows:
        print(f"{r['doc_id']}\n{r['score']:.3f}\n{r['snippet']}$RST$")
    spark.stop()
    return 0


def cmd_fetch(args) -> int:
    from pyspark.sql import functions as F

    from hadoop_search_spark.plans.results import fetch_docs, unescape_html

    spark = _spark(args.cpus)
    docs = spark.read.parquet(args.corpus)
    text_col = "text" if "text" in docs.columns else docs.columns[-1]
    rows = (
        fetch_docs(docs, [args.doc_id])
        .select(unescape_html(F.col(text_col)).alias("content"))
        .collect()
    )
    if not rows:
        print(f"doc {args.doc_id} not found", file=sys.stderr)
        spark.stop()
        return 1
    print(rows[0].content)
    spark.stop()
    return 0


def cmd_curate(args) -> int:
    """Training-data export: curate -> split -> shuffle-shard -> write
    partitioned by (split, shard), with a manifest printed per shard.
    The pipeline face of the engine (the reference's surface stops at
    search; SURVEY.md §7 phase 5 is this path)."""
    from pyspark.sql import functions as F

    from hadoop_search_spark.operators.curation import curate, curate_v2
    from hadoop_search_spark.operators.mixing import (
        leakage_safe_split,
        shuffle_shard,
        train_val_test_split,
    )

    spark = _spark(args.cpus)
    docs = spark.read.parquet(args.corpus)
    if args.benchmark:
        # v2 pipeline: Gopher hard rules first, benchmark
        # decontamination last (see operators/curation.py:curate_v2)
        kept = curate_v2(
            docs,
            spark.read.parquet(args.benchmark),
            jaccard_threshold=args.jaccard,
            min_quality=args.min_quality,
            langs=tuple(args.langs.split(",")),
        ).select("doc_id")
    else:
        kept = curate(
            docs,
            jaccard_threshold=args.jaccard,
            min_quality=args.min_quality,
            langs=tuple(args.langs.split(",")),
        ).select("doc_id")
    surviving = docs.join(kept, "doc_id").persist()
    sharded = shuffle_shard(surviving, n_shards=args.shards)
    joined = surviving.join(sharded.select("doc_id", "shard", "pos"), "doc_id")
    if args.leakage_safe:
        # cluster-atomic split. The pair graph must be detected at a
        # LOWER threshold than the dedup stage's: survivors by
        # definition have no pairs at >= args.jaccard (dedup dropped
        # them), so re-detecting at the same threshold would yield an
        # empty graph and a silent no-op — the families that actually
        # leak across train/val are the ones at J just BELOW the drop
        # threshold (caught in review; --split-jaccard defaults 0.5)
        from hadoop_search_spark.operators.dedup import minhash_lsh_dedup

        if args.split_jaccard >= args.jaccard:
            sys.exit(
                f"--split-jaccard ({args.split_jaccard}) must be below "
                f"--jaccard ({args.jaccard}): survivors have no pairs at "
                "the dedup threshold, so the flag would be a no-op"
            )
        pairs = minhash_lsh_dedup(
            surviving, threshold=args.split_jaccard
        ).select("doc_a", "doc_b")
        assign = leakage_safe_split(
            surviving, pairs, args.val_frac, args.test_frac
        )
        out = joined.join(assign.select("doc_id", "split"), "doc_id")
    else:
        # split is a map-only withColumn — apply it to the joined
        # frame instead of joining a third branch of the curate
        # lineage back
        out = train_val_test_split(joined, args.val_frac, args.test_frac)
    # sort by the partition columns FIRST, then pos: the parquet
    # writer requires its input ordered on the partition columns and
    # would otherwise insert its own Sort(split, shard) above ours —
    # per-file pos order would then rest on that sort happening to be
    # stable, which Spark does not guarantee. With the partition
    # columns leading, our sort already satisfies the writer's
    # requirement and no extra sort is inserted.
    (
        out.repartition("split", "shard")
        .sortWithinPartitions("split", "shard", "pos")
        .write.mode("overwrite")
        .partitionBy("split", "shard")
        .parquet(args.out)
    )
    surviving.unpersist()
    manifest = (
        spark.read.parquet(args.out)
        .groupBy("split", "shard")
        .agg(F.count("*").alias("docs"))
        .orderBy("split", "shard")
        .collect()
    )
    n_total = docs.count()
    n_kept = sum(r.docs for r in manifest)
    print(f"curated: kept {n_kept}/{n_total} docs -> {args.out}")
    for r in manifest:
        print(f"  {r.split}/shard={r.shard}: {r.docs} docs")
    spark.stop()
    return 0


def cmd_stats(args) -> int:
    """One-shot corpus profile: size, token, quality, language, and
    exact-duplicate statistics in a single session — the look-before-
    you-curate report."""
    from pyspark.sql import functions as F

    from hadoop_search_spark.operators.textstats import lang_exprs, quality_exprs

    spark = _spark(args.cpus)
    docs = spark.read.parquet(args.corpus)
    qe = quality_exprs("text")
    le = lang_exprs("text")
    profile = docs.select(
        qe["n_tokens"].alias("n_tokens"),
        qe["quality"].alias("quality"),
        le["lang_pred"].alias("lang"),
    ).persist()
    agg = profile.agg(
        F.count("*").alias("docs"),
        F.sum("n_tokens").alias("tokens"),
        F.round(F.avg("n_tokens"), 1).alias("mean_tokens"),
        F.round(F.avg("quality"), 3).alias("mean_quality"),
        F.round(F.expr("percentile(n_tokens, 0.5)"), 1).alias("median_tokens"),
    ).collect()[0]
    langs = (
        profile.groupBy("lang").count().orderBy(F.desc("count")).limit(5).collect()
    )
    profile.unpersist()
    # duplicates = docs minus distinct content hashes: one scan, one
    # aggregate — no annotate-and-join-back for a scalar
    dups = agg.docs - docs.select(F.md5("text")).distinct().count()
    print(f"docs: {agg.docs}")
    print(f"tokens: {agg.tokens} (mean {agg.mean_tokens}, median {agg.median_tokens})")
    print(f"mean quality: {agg.mean_quality}")
    print("languages: " + ", ".join(f"{r.lang}={r['count']}" for r in langs))
    print(f"exact duplicates: {dups} ({100.0 * dups / max(agg.docs, 1):.1f}%)")
    spark.stop()
    return 0


def cmd_datacard(args) -> int:
    """Per-source data card: the corpus_datacard table printed as
    aligned rows, sources by descending token share — the one-screen
    view a mixture design starts from."""
    from pyspark.sql import functions as F

    from hadoop_search_spark.operators.curation import corpus_datacard

    spark = _spark(args.cpus)
    rows = (
        corpus_datacard(spark.read.parquet(args.corpus))
        .orderBy(F.desc("token_share"), "source")
        .collect()
    )
    print(
        f"{'source':<10}{'docs':>8}{'dups':>7}{'tokens':>12}"
        f"{'mean_tok':>10}{'quality':>9}{'en':>7}{'share':>8}"
    )
    for r in rows:
        print(
            f"{r.source:<10}{r.n_docs:>8}{r.n_exact_dup:>7}"
            f"{r.total_tokens:>12}{r.mean_tokens:>10.1f}"
            f"{r.mean_quality:>9.3f}{r.n_en:>7}{r.token_share:>8.4f}"
        )
    spark.stop()
    return 0


def cmd_drift(args) -> int:
    """Quantizer-drift report over a published ANN index — vector
    space for a plain-IVF index, code space for an IVF-PQ one,
    dequantized-cosine space for an IVF-SQ8 one (all auto-detected
    by layout). Exit code 1 when any cell flags, so the command
    slots into a cron/orchestrator as the documented offline-rebuild
    trigger."""
    import sys

    from hadoop_search_spark.operators.similarity import layout_of

    spark = _spark(args.cpus)
    layout = layout_of(spark, args.index)
    if layout is None:
        print(
            f"no published index at {args.index} "
            "(neither codes/ nor vectors/)",
            file=sys.stderr,
        )
        spark.stop()
        return 2
    if getattr(args, "graph", False):
        # graph-staleness mode: the adjacency is an offline artifact
        # (`ann add` leaves it stale by design), so this is its
        # rebuild trigger — the graph counterpart of the model-drift
        # reports below
        from pyspark.errors import AnalysisException

        from hadoop_search_spark.operators.similarity import (
            graph_stale_report,
        )

        try:
            rows = (
                graph_stale_report(spark, args.index)
                .orderBy("cell")
                .collect()
            )
        except AnalysisException as exc:
            # missing-graph detection via the read itself — an
            # os.path probe only sees the local filesystem and would
            # silently disable the monitor for a remote index
            if ("PATH_NOT_FOUND" not in str(exc)
                    or "/graph" not in str(exc)):
                raise
            print(
                f"no published graph at {args.index}/graph "
                "(build it with `ann graph`)",
                file=sys.stderr,
            )
            spark.stop()
            return 2
        print(f"{'cell':>5}{'n_codes':>9}{'n_graph':>9}{'n_stale':>9}"
              f"{'frac':>8}")
        for r in rows:
            print(f"{r.cell:>5}{r.n_codes:>9}{r.n_graph:>9}"
                  f"{r.n_stale:>9}{r.stale_frac:>8.3f}")
        total = sum(r.n_codes for r in rows)
        stale = sum(r.n_stale for r in rows)
        frac = stale / total if total else 0.0
        if frac > args.max_stale_frac:
            print(f"STALE: {stale}/{total} indexed vectors are invisible "
                  "to the expansion hop — re-run `ann graph`")
            spark.stop()
            return 1
        spark.stop()
        return 0
    report = layout.drift(spark, args.index)
    if layout.name == "ivfpq":
        rows = report.orderBy("cell", "s").collect()
        print(f"{'cell':>5}{'s':>3}{'n_orig':>8}{'n_new':>8}{'l1x':>12}{'drift':>7}")
        flagged = False
        for r in rows:
            flagged |= bool(r.code_drift)
            print(
                f"{r.cell:>5}{r.s:>3}{r.n_orig:>8}{r.n_new:>8}"
                f"{str(r.l1x):>12}{'YES' if r.code_drift else '-':>7}"
            )
    else:
        # the int8 report's shape matches ivf's, so one printer serves
        # both
        rows = report.orderBy("cell").collect()
        print(
            f"{'cell':>5}{'n_orig':>8}{'n_new':>8}{'share':>7}{'dist':>6}{'drift':>7}"
        )
        flagged = False
        for r in rows:
            flagged |= bool(r.drifted)
            print(
                f"{r.cell:>5}{r.n_orig:>8}{r.n_new:>8}"
                f"{'Y' if r.share_drift else '-':>7}"
                f"{'Y' if r.dist_drift else '-':>6}"
                f"{'YES' if r.drifted else '-':>7}"
            )
    if flagged:
        print("DRIFTED: schedule an offline rebuild (write_ivf_index / "
              "write_ivfpq_index with retrained models)")
    return 1 if flagged else 0


def cmd_decontaminate(args) -> int:
    """Flag (and optionally drop) training docs that share n-gram
    shingles with an evaluation benchmark — the eval-hygiene pass a
    training run performs before export. With ``--bloom`` the
    two-tier Bloom prefilter runs first (constant-size broadcast
    bitmap probe, exact verify only on flagged docs — the 100 TB
    path); without it, the direct broadcast-benchmark join."""
    from pyspark.sql import functions as F

    from hadoop_search_spark.operators.dedup import (
        bloom_decontaminate,
        decontaminate,
        word_shingles,
    )

    spark = _spark(args.cpus)
    docs = spark.read.parquet(args.corpus)
    bench = spark.read.parquet(args.benchmark)
    if args.bloom:
        sh = word_shingles(docs).localCheckpoint(eager=False)
        flags = bloom_decontaminate(
            sh, word_shingles(bench), min_shared=args.min_shared
        ).filter(F.col("contaminated"))
        flagged = flags.select("doc_id", F.col("n_shared"))
    else:
        flagged = decontaminate(docs, bench, min_shared=args.min_shared)
    # consumed by up to three actions (anti-join write, top-20, count)
    # — persist so the shingle/probe pipeline runs once
    flagged = flagged.persist()
    if args.out:
        kept = docs.join(flagged.select("doc_id"), "doc_id", "left_anti")
        kept.write.mode("overwrite").parquet(args.out)
        n_kept = spark.read.parquet(args.out).count()
        print(f"decontaminated: kept {n_kept}/{docs.count()} docs -> {args.out}")
    rows = flagged.orderBy(F.desc("n_shared"), "doc_id").limit(20).collect()
    n_flagged = flagged.count()
    print(
        f"flagged: {n_flagged} docs share >= {args.min_shared} shingles "
        f"with the benchmark"
    )
    for r in rows:
        print(f"  doc {r.doc_id}: {r.n_shared} shared shingles")
    flagged.unpersist()
    spark.stop()
    return 0


def cmd_ann(args) -> int:
    """ANN index lifecycle over a published index, two layouts:
    ``--layout ivfpq`` (default) is the codes-only IVF-PQ index —
    centroids+codebooks+cell-partitioned codes, no raw vectors,
    ~1/32 of float32 bytes; ``--layout int8`` is the IVF-SQ8 index —
    per-vector scalar quantization at 64 B/vec (no trained codebook,
    higher stage-1 fidelity at 8x the bytes). ``build`` persists,
    ``search`` serves top-k with partition-pruned cell scans
    (optionally exact-reranked against the embeddings parquet —
    approximate candidates, exact scores; ``--refine`` additionally
    expands the seeds one hop through the published KNN graph first),
    ``add`` appends new vectors under the FROZEN build models (run
    ``drift`` to know when an ivfpq index needs a rebuild; int8 has
    no codebook to go stale — only the shared coarse-quantizer
    contract), ``graph`` publishes the offline KNN adjacency
    (``{index}/graph``) the refinement serves from."""
    import pyspark.sql.functions as F

    from hadoop_search_spark.operators.similarity import (
        int8_index_add,
        int8_index_topk,
        ivfpq_index_add,
        ivfpq_index_topk,
        write_int8_index,
        write_ivfpq_index,
    )

    int8 = getattr(args, "layout", "ivfpq") == "int8"
    rows_dir = "vectors" if int8 else "codes"
    spark = _spark(args.cpus)
    if args.action == "build":
        emb = spark.read.parquet(args.embeddings)
        if int8:
            cents = write_int8_index(
                emb, args.index, num_centroids=args.centroids
            )
            n = spark.read.parquet(f"{args.index}/vectors").count()
            print(f"built: {n} int8 vectors, {len(cents)} cells "
                  f"-> {args.index}")
        else:
            encoding = getattr(args, "encoding", "raw").replace("-", "_")
            cents = None
            if encoding == "residual_opq":
                # the rotated layout earns its recall with TRAINED
                # coarse cells (docs/ANN_QUALITY.md — seed cells
                # dilute the residual structure the rotation feeds on)
                from hadoop_search_spark.operators.similarity import (
                    ivf_train_kmeans,
                )

                cents = ivf_train_kmeans(
                    emb, k=args.centroids, iterations=2
                )
            cents, books = write_ivfpq_index(
                emb, args.index, centroids=cents,
                num_centroids=args.centroids, encoding=encoding,
            )
            n = spark.read.parquet(f"{args.index}/codes").count()
            print(f"built: {n} codes ({encoding}), {len(cents)} cells, "
                  f"{len(books)}x{len(books[0])} codebooks -> {args.index}")
        spark.stop()
        return 0
    if args.action == "add":
        emb = spark.read.parquet(args.embeddings)
        (int8_index_add if int8 else ivfpq_index_add)(
            spark, args.index, emb
        )
        n = spark.read.parquet(f"{args.index}/{rows_dir}").count()
        print(f"appended -> {args.index} ({n} rows total)")
        spark.stop()
        return 0
    if args.action == "graph":
        # offline KNN adjacency alongside the index (r12 refinement
        # rung): built under the index's FROZEN coarse quantizer with
        # boundary edges (--build-nprobe 2 — a cell-restricted graph
        # buys nothing, docs/ANN_QUALITY.md), consumed by
        # `search --refine`
        from hadoop_search_spark.operators.similarity import (
            publish_knn_graph,
        )

        emb = spark.read.parquet(args.embeddings)
        publish_knn_graph(
            spark, args.index, emb, g=args.g,
            build_nprobe=args.build_nprobe,
        )
        n = spark.read.parquet(f"{args.index}/graph").count()
        print(
            f"graph: {n} edges (g={args.g}, build "
            f"nprobe={args.build_nprobe}) -> {args.index}/graph"
        )
        spark.stop()
        return 0
    # search
    emb = spark.read.parquet(args.embeddings)
    external = bool(getattr(args, "queries", None))
    if external:
        # external query vectors (a query FILE): the batched serve —
        # one LUT frame for every query, one code scan pruned to the
        # union of probed cells. External request ids are unrelated
        # to corpus vec_ids, so the corpus-query self-exclusion is
        # OFF (a numeric collision must not drop a true neighbor)
        queries = spark.read.parquet(args.queries).select(
            "query_id", "embedding"
        )
    else:
        qids = [int(x) for x in args.query_ids.split(",")]
        queries = emb.filter(F.col("vec_id").isin(qids)).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
    wide = args.rerank or args.refine
    if args.refine and not int8:
        # the full refined lifecycle is one library call (stage-1 ADC
        # seeds -> published-graph hops, the FIRST one partition-
        # pruned to the probed cells -> exact rerank); int8 indexes
        # fall through to the manual expansion below
        from hadoop_search_spark.operators.similarity import (
            ivfpq_index_refine_topk,
        )

        out = ivfpq_index_refine_topk(
            spark, args.index, queries, k=args.k, w=args.w,
            nprobe=args.nprobe, rounds=args.rounds, embeddings=emb,
            exclude_self=not external,
        )
        score_col = "cosine"
    elif wide:
        from hadoop_search_spark.operators.similarity import _exact_rerank

        out = (int8_index_topk if int8 else ivfpq_index_topk)(
            spark, args.index, queries, args.w,
            nprobe=args.nprobe, exclude_self=not external,
        )
        cand = out.select("query_id", "vec_id")
        if args.refine:
            # KNN-graph expansion of the stage-1 seeds (r12): the
            # published adjacency streams against the broadcast
            # request-sized seed set, reaching neighbors across the
            # probed-cell boundary before the exact rerank — the one
            # shared hop definition (similarity.graph_expand)
            from hadoop_search_spark.operators.similarity import (
                graph_expand,
            )

            graph = spark.read.parquet(f"{args.index}/graph")
            cand = graph_expand(graph, cand, args.rounds)
        out = _exact_rerank(
            emb,
            cand,
            queries.withColumnRenamed("embedding", "q_emb"),
            args.k,
            exclude_self=not external,
        )
        score_col = "cosine"
    else:
        out = (int8_index_topk if int8 else ivfpq_index_topk)(
            spark, args.index, queries, args.k,
            nprobe=args.nprobe, exclude_self=not external,
        )
        score_col = "s8" if int8 else "adist9"
    for r in out.orderBy("query_id", "rn").collect():
        print(f"q={r.query_id}  #{r.rn}  vec={r.vec_id}  "
              f"{score_col}={getattr(r, score_col)}")
    spark.stop()
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="hadoop_search_spark")
    p.add_argument("--cpus", type=int, default=8)
    sub = p.add_subparsers(dest="cmd", required=True)

    pi = sub.add_parser("index", help="build + publish the inverted index")
    pi.add_argument("--corpus", required=True, help="corpus parquet path")
    pi.add_argument("--out", required=True, help="output index dir")
    pi.add_argument("--stopwords", type=int, default=100)
    pi.add_argument("--partitions", type=int, default=10)
    pi.set_defaults(fn=cmd_index)

    ps = sub.add_parser("search", help="run a CNF boolean query")
    ps.add_argument("query")
    ps.add_argument("--page", type=int, default=1)
    ps.add_argument("--corpus", required=True)
    ps.add_argument("--index", help="published index dir (else build in-session)")
    ps.set_defaults(fn=cmd_search)

    pf = sub.add_parser("fetch", help="print one document by id")
    pf.add_argument("doc_id", type=int)
    pf.add_argument("--corpus", required=True)
    pf.set_defaults(fn=cmd_fetch)

    pc = sub.add_parser(
        "curate", help="curate + split + shuffle-shard a corpus for training"
    )
    pc.add_argument("--corpus", required=True, help="corpus parquet path")
    pc.add_argument("--out", required=True, help="output dataset dir")
    pc.add_argument("--shards", type=int, default=8)
    pc.add_argument("--jaccard", type=float, default=0.8)
    pc.add_argument("--min-quality", type=float, default=0.5, dest="min_quality")
    pc.add_argument("--langs", default="en", help="comma-separated lang_pred keep-list")
    pc.add_argument("--val-frac", type=float, default=0.01, dest="val_frac")
    pc.add_argument("--test-frac", type=float, default=0.01, dest="test_frac")
    pc.add_argument(
        "--benchmark",
        help="eval benchmark parquet: enables the v2 pipeline "
        "(Gopher hard rules + decontamination)",
    )
    pc.add_argument(
        "--leakage-safe",
        action="store_true",
        dest="leakage_safe",
        help="assign train/val/test by near-dup CLUSTER (members of a "
        "near-dup family never straddle the train/val boundary)",
    )
    pc.add_argument(
        "--split-jaccard",
        type=float,
        default=0.5,
        dest="split_jaccard",
        help="near-dup threshold for --leakage-safe cluster detection; "
        "must be BELOW --jaccard (survivors have no pairs at the dedup "
        "threshold, so equal thresholds would make the flag a no-op)",
    )
    pc.set_defaults(fn=cmd_curate)

    pst = sub.add_parser("stats", help="one-shot corpus profile report")
    pst.add_argument("--corpus", required=True, help="corpus parquet path")
    pst.set_defaults(fn=cmd_stats)

    pdc = sub.add_parser(
        "datacard",
        help="per-source data card (docs/tokens/dup/quality/lang/share)",
    )
    pdc.add_argument("--corpus", required=True, help="corpus parquet path")
    pdc.set_defaults(fn=cmd_datacard)

    pdr = sub.add_parser(
        "drift",
        help="quantizer-drift report over a published IVF/IVF-PQ index "
        "(exit 1 when any cell flags — the rebuild trigger)",
    )
    pdr.add_argument("--index", required=True, help="published index dir")
    pdr.add_argument(
        "--graph", action="store_true",
        help="report KNN-graph staleness instead of model drift: "
        "per-cell count of indexed vectors the `ann search --refine` "
        "expansion hop cannot reach because they were appended after "
        "the last `ann graph` (exit 1 above --max-stale-frac)",
    )
    pdr.add_argument(
        "--max-stale-frac", type=float, default=0.0,
        help="(drift --graph) tolerated stale fraction before the "
        "exit-1 rebuild flag (default 0: any staleness flags)",
    )
    pdr.set_defaults(fn=cmd_drift)

    pd = sub.add_parser(
        "decontaminate", help="flag/drop docs overlapping an eval benchmark"
    )
    pd.add_argument("--corpus", required=True, help="corpus parquet path")
    pd.add_argument("--benchmark", required=True, help="benchmark parquet path")
    pd.add_argument("--out", help="write the kept (non-flagged) docs here")
    pd.add_argument("--min-shared", type=int, default=3, dest="min_shared")
    pd.add_argument(
        "--bloom", action="store_true",
        help="two-tier Bloom prefilter (constant-size broadcast probe)",
    )
    pd.set_defaults(fn=cmd_decontaminate)

    pann = sub.add_parser(
        "ann",
        help="ANN index: build / search (cell-pruned; --rerank for "
        "exact scores) / add. --layout ivfpq (codes-only, 8 B/vec) "
        "or int8 (IVF-SQ8, 64 B/vec)",
    )
    pann.add_argument("action", choices=["build", "search", "add", "graph"])
    pann.add_argument(
        "--encoding", choices=["raw", "residual", "residual-opq"],
        default="raw",
        help="(ivfpq build only) what the codes quantize: raw = x "
        "itself; residual = x - centroid[cell] (IVFADC); "
        "residual-opq = OPQ rotation learned on the residuals + "
        "trained books over k-means cells (best stage-1 ordering "
        "per byte). search/add auto-detect from the published "
        "/encoding table",
    )
    pann.add_argument(
        "--layout", choices=["ivfpq", "int8"], default="ivfpq",
        help="index layout: ivfpq = PQ codes under frozen codebooks; "
        "int8 = per-vector scalar quantization (no trained codebook, "
        "higher stage-1 fidelity at 8x the bytes)",
    )
    pann.add_argument("--index", required=True, help="index dir")
    pann.add_argument(
        "--embeddings", required=True,
        help="embeddings parquet (vec_id, embedding)",
    )
    pann.add_argument("--centroids", type=int, default=8)
    pann.add_argument("--nprobe", type=int, default=2)
    pann.add_argument("--k", type=int, default=10)
    pann.add_argument(
        "--w", type=int, default=50,
        help="stage-1 candidate width when --rerank is set",
    )
    pann.add_argument(
        "--queries", default=None,
        help="(search) parquet of (query_id, embedding) EXTERNAL "
        "query vectors — the production shape: the index stores no "
        "raw vectors, so request embeddings arrive from an encoder; "
        "one call serves the whole file (probe LUTs batch across "
        "queries, the code scan prunes to the union of probed "
        "cells). Overrides --query-ids",
    )
    pann.add_argument(
        "--query-ids", default="0", dest="query_ids",
        help="comma-separated vec_ids to use as queries",
    )
    pann.add_argument(
        "--rerank", action="store_true",
        help="exact-cosine rerank of the ADC top-w (cascade shape)",
    )
    pann.add_argument(
        "--refine", action="store_true",
        help="(search) expand the stage-1 top-w seeds one hop through "
        "the published KNN graph ({index}/graph — build it with "
        "`ann graph`) before the exact rerank: recovers wider-probe "
        "recall at the narrow probe's scan cost (implies --rerank)",
    )
    pann.add_argument(
        "--rounds", type=int, default=1,
        help="(search --refine) graph-expansion hops; each hop is one "
        "request-sized adjacency probe (measured: 2 hops beat "
        "nprobe=4 recall at nprobe=1 scan bytes)",
    )
    pann.add_argument(
        "--g", type=int, default=8,
        help="(graph) neighbors per vector in the published adjacency",
    )
    pann.add_argument(
        "--build-nprobe", type=int, default=2, dest="build_nprobe",
        help="(graph) cells each vector ranks candidates from at "
        "build time; >=2 adds the boundary edges refinement needs",
    )
    pann.set_defaults(fn=cmd_ann)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
