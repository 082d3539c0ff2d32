#!/usr/bin/env python3
"""Scale smoke: replicate the sf0.1 documents fixture N× (shifted
doc_ids, mutated text prefixes so replicas aren't byte-identical) and
drive the heaviest pipelines at ~100k docs on local[32]:

* offline index build + range-partitioned publish + point search
* incremental merge of a 5% tail (only the tail tokenizes)
* MinHash-LSH near-dup pairs
* edit-distance similarity join on the 40-char prefix key
* two-pass heavy hitters

Prints one JSON line with per-stage wall seconds. This is a
does-it-still-scale check (plan shape + absence of blowups), not a
micro-benchmark; see bench.py for the recorded profile.

Usage: python scripts/scale_smoke.py [replicas=20]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark import StorageLevel
from pyspark.sql import functions as F


def main() -> int:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    from hadoop_search_spark.session import get_spark

    spark = get_spark(app_name="scale_smoke")
    base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    n_base = base.count()
    reps = spark.range(replicas).select(F.col("id").alias("rep"))
    docs = (
        base.crossJoin(reps)
        .select(
            (F.col("doc_id") + F.col("rep") * n_base).alias("doc_id"),
            # shift a replica-dependent token into the text so replicas
            # are near-dups, not exact dups (exercises verify paths)
            F.concat(F.format_string("rep%d ", "rep"), F.col("text")).alias("text"),
        )
        .persist(StorageLevel.DISK_ONLY)
    )
    n = docs.count()
    timings: dict[str, float] = {"n_docs": n}

    def stage(name, fn):
        t0 = time.time()
        out = fn()
        timings[name] = round(time.time() - t0, 1)
        print(f"# {name}: {timings[name]}s -> {out}", file=sys.stderr)

    from hadoop_search_spark.operators.index import (
        build_postings,
        merge_index,
        write_index,
    )

    workdir = tempfile.mkdtemp(prefix="scale_smoke_")
    postings = build_postings(docs, num_docs=n, stem=True)

    def build_and_publish():
        write_index(postings, f"{workdir}/index", num_partitions=32)
        return "published"

    stage("index_build_publish", build_and_publish)

    published = spark.read.parquet(f"{workdir}/index")

    def point_search():
        from hadoop_search_spark.plans.planner import SearchEngine

        eng = SearchEngine(spark, published, documents=docs)
        return eng.search("(table or scan) and not stream").count()

    stage("search_cnf", point_search)

    def incremental():
        head = docs.filter(F.col("doc_id") < int(n * 0.95))
        tail = docs.filter(F.col("doc_id") >= int(n * 0.95))
        n_head = head.count()
        base_p = build_postings(head, num_docs=n_head, stem=True)
        merged, total = merge_index(base_p, n_head, tail, stem=True)
        return merged.count()

    stage("incremental_merge", incremental)

    def minhash():
        from hadoop_search_spark.operators.dedup import minhash_lsh_dedup, word_shingles

        sh = word_shingles(docs).persist(StorageLevel.DISK_ONLY)
        try:
            return minhash_lsh_dedup(docs, shingles=sh).count()
        finally:
            sh.unpersist()

    stage("minhash_lsh_pairs", minhash)

    def mega_cluster_dedup():
        # adversarial near-dup MEGA-CLUSTER (r11 VERDICT #1): m near-
        # identical docs (never byte-identical) share every band key,
        # so the uncapped within-bucket join would emit O(m²) pairs
        # from ONE bucket (~1.6e9 at 20 replicas) — the blowup AQE
        # cannot split because it is join OUTPUT. The capped path must
        # stay O(m), and m scales with `replicas` so repeated runs
        # (20x/50x) record the linearity as a curve.
        from hadoop_search_spark.operators.dedup import minhash_lsh_dedup

        m = replicas * 2000
        base_text = " ".join(f"w{i % 17}x{i % 7}" for i in range(60))
        mega = spark.range(m).select(
            (F.lit(10_000_000) + F.col("id")).alias("doc_id"),
            F.concat(
                F.lit(base_text + " megacluster variant "),
                F.col("id").cast("string"),
            ).alias("text"),
        )
        cnt = minhash_lsh_dedup(mega, threshold=0.5, bucket_cap=64).count()
        assert cnt <= 3 * m, f"capped candidates not linear: {cnt} for m={m}"
        timings["mega_cluster_m"] = m
        return cnt

    stage("mega_cluster_dedup_capped", mega_cluster_dedup)

    def edit_distance():
        # capped to ~20k docs: the fixture's ~31-word vocabulary makes
        # every q-gram common, so ANY content-based blocking yields
        # near-quadratic candidates on it (a data property — real
        # title/URL keys are diverse and block near-linearly); the cap
        # keeps the stage a completes-at-scale check, not a grind
        from hadoop_search_spark.operators.dedup import edit_distance_pairs

        subset = docs.filter(F.col("doc_id") < n_base * 4)
        key = F.regexp_replace(F.lower(F.substring("text", 1, 40)), "[^ -~]", "")
        return edit_distance_pairs(subset, key, max_distance=2).count()

    stage("edit_distance_pairs_20k", edit_distance)

    def heavy_hitters():
        from hadoop_search_spark.functions.tokenize import tokenize_with_positions
        from hadoop_search_spark.operators.textstats import heavy_hitters as hh

        toks = tokenize_with_positions(
            docs, drop_numeric=True, require_alnum=False
        ).select(F.col("token").alias("word"))
        return hh(toks, "word", support=0.02).count()

    stage("heavy_hitters", heavy_hitters)

    def span_overlap_stage():
        from hadoop_search_spark.operators.dedup import span_overlap

        return span_overlap(docs).count()

    stage("span_overlap", span_overlap_stage)

    def sequence_pack_stage():
        from hadoop_search_spark.operators.mixing import sequence_pack

        out = sequence_pack(docs)
        return out.agg(F.max("seq_id")).collect()[0][0]

    stage("sequence_pack", sequence_pack_stage)

    def surprisal_stage():
        from hadoop_search_spark.operators.textstats import unigram_surprisal

        return unigram_surprisal(docs).count()

    stage("unigram_surprisal", surprisal_stage)

    def chunking_stage():
        from hadoop_search_spark.operators.mixing import chunk_documents

        return chunk_documents(docs).count()

    stage("doc_chunks", chunking_stage)

    def shuffle_shard_stage():
        from hadoop_search_spark.operators.mixing import shuffle_shard

        return shuffle_shard(docs, n_shards=64).count()

    stage("shuffle_shard", shuffle_shard_stage)

    def bigram_stage():
        from hadoop_search_spark.operators.textstats import bigram_surprisal

        return bigram_surprisal(docs).count()

    stage("bigram_surprisal", bigram_stage)

    def bpe_encode_stage():
        from hadoop_search_spark.operators.textstats import bpe_encode, bpe_train

        merges, _ = bpe_train(docs, n_merges=16)
        return bpe_encode(docs, merges).count()

    stage("bpe_encode_16_merges", bpe_encode_stage)

    def perplexity_buckets_stage():
        from hadoop_search_spark.operators.textstats import perplexity_buckets

        # two-phase distributed rank: the single-partition window sees
        # only per-block counts, never the docs
        return perplexity_buckets(docs).count()

    stage("perplexity_buckets", perplexity_buckets_stage)

    def dsir_stage():
        from hadoop_search_spark.operators.mixing import dsir_select

        d = docs.withColumn(
            "source", F.concat(F.lit("src"), (F.col("doc_id") % 20).cast("string"))
        )
        return dsir_select(d).filter(F.col("keep")).count()

    stage("dsir_select", dsir_stage)

    def bloom_stage():
        from hadoop_search_spark.operators.dedup import (
            bloom_decontaminate,
            word_shingles,
        )

        sh = word_shingles(docs).persist(StorageLevel.DISK_ONLY)
        try:
            return bloom_decontaminate(
                sh.filter(F.col("doc_id") % 50 != 0),
                sh.filter(F.col("doc_id") % 50 == 0),
                min_shared=3,
            ).count()
        finally:
            sh.unpersist()

    stage("bloom_decontaminate", bloom_stage)

    def temperature_stage():
        from hadoop_search_spark.operators.mixing import temperature_sample

        d = docs.withColumn(
            "source", F.concat(F.lit("src"), (F.col("doc_id") % 20).cast("string"))
        )
        return temperature_sample(d, target_docs=10_000).count()

    stage("temperature_sample", temperature_stage)

    def leakage_split_stage():
        # cluster-atomic split over the replica near-dup graph: every
        # replica family (N-replica clusters by construction) must
        # resolve through connected components before the split hash;
        # capped to 4x base (same rationale as edit_distance: the
        # degenerate vocab makes the PAIR GRAPH itself quadratic-ish,
        # a fixture property, while CC rounds stay O(log diameter))
        from hadoop_search_spark.operators.dedup import minhash_lsh_dedup
        from hadoop_search_spark.operators.mixing import leakage_safe_split

        subset = docs.filter(F.col("doc_id") % replicas < 4)
        pairs = minhash_lsh_dedup(subset, threshold=0.5).select(
            "doc_a", "doc_b"
        )
        out = leakage_safe_split(subset, pairs, 0.1, 0.1)
        # atomicity assert at scale, not just row count
        viol = (
            out.groupBy("component")
            .agg(F.count_distinct("split").alias("k"))
            .filter(F.col("k") > 1)
            .count()
        )
        assert viol == 0, f"{viol} clusters straddle splits"
        return out.count()

    stage("leakage_safe_split_20k", leakage_split_stage)

    def curate_v3_stage():
        # the full 4-stage pipeline: Gopher -> curate -> decontaminate
        # -> semantic dedup over derived embeddings; the replicated
        # corpus makes stages 2-4 do real work (replicas are near-dups)
        from hadoop_search_spark.operators.curation import curate_v3

        return curate_v3(
            docs.filter(F.col("doc_id") % 50 != 0),
            docs.filter(F.col("doc_id") % 50 == 0),
            jaccard_threshold=0.8,
            min_quality=0.46,
            langs=("en",),
        ).count()

    stage("curate_v3_pipeline", curate_v3_stage)

    def quantize_stage():
        from hadoop_search_spark.operators.similarity import (
            embedding_quantize_int8,
        )

        emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        big = emb.crossJoin(reps).select(
            (F.col("vec_id") + F.col("rep") * 2000).alias("vec_id"),
            "embedding",
        )
        return embedding_quantize_int8(big).agg(
            F.sum("sum_qabs"), F.max("max_abs_err9")
        ).collect()[0][0]

    stage("quantize_int8_embeddings", quantize_stage)

    def drift_stage():
        from hadoop_search_spark.operators.similarity import (
            ivf_assign,
            ivf_centroids,
            ivf_drift_stats,
        )

        emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        big = emb.crossJoin(reps).select(
            (F.col("vec_id") + F.col("rep") * 2000).alias("vec_id"),
            "embedding",
        )
        orig = big.filter(F.col("vec_id") % 4 != 0)
        new = big.filter(F.col("vec_id") % 4 == 0)
        cents = ivf_centroids(orig, 8)
        return ivf_drift_stats(
            ivf_assign(orig, cents), ivf_assign(new, cents), cents
        ).count()

    stage("ivf_drift_stats", drift_stage)

    def hamming_stage():
        from hadoop_search_spark.operators.similarity import hamming_topk

        emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        big = emb.crossJoin(reps).select(
            (F.col("vec_id") + F.col("rep") * 2000).alias("vec_id"),
            "embedding",
        )
        return hamming_topk(big, [0, 1, 2, 3, 4], 10).count()

    stage("hamming_topk", hamming_stage)

    def cross_corpus_stage():
        from hadoop_search_spark.operators.dedup import cross_corpus_dedup

        # last replica = the arriving snapshot, the rest = reference;
        # replicas ARE near-dups of each other, so the boundary join
        # carries a realistic dup-heavy load
        ref = docs.filter(F.col("doc_id") < (replicas - 1) * n_base)
        new = docs.filter(F.col("doc_id") >= (replicas - 1) * n_base)
        out = cross_corpus_dedup(new, ref, threshold=0.5)
        return out.filter("NOT keep").count()

    stage("cross_corpus_dedup_tail", cross_corpus_stage)

    def ivfpq_drift_stage():
        from hadoop_search_spark.operators.similarity import (
            _pq_code_expr,
            ivf_assign,
            ivf_centroids,
            ivfpq_drift_stats,
            pq_codebooks,
        )

        emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        big = emb.crossJoin(reps).select(
            (F.col("vec_id") + F.col("rep") * 2000).alias("vec_id"),
            "embedding",
        )
        orig = big.filter(F.col("vec_id") % 4 != 0)
        new = big.filter(F.col("vec_id") % 4 == 0)
        cents = ivf_centroids(orig, 8)
        books = pq_codebooks(orig)

        def codes(df):
            return ivf_assign(df, cents).select(
                "cell", _pq_code_expr(books).alias("code")
            )

        return ivfpq_drift_stats(codes(orig), codes(new)).count()

    stage("ivfpq_code_drift", ivfpq_drift_stage)

    def bpe_boundary_stage():
        from hadoop_search_spark.operators.textstats import (
            bpe_decode,
            bpe_encode,
            bpe_train,
        )

        merges, _ = bpe_train(docs, n_merges=16, boundary=True)
        enc = bpe_encode(docs, merges, boundary=True)
        dec = bpe_decode(enc, boundary=True)
        bad = (
            dec.join(docs.select("doc_id", "text"), "doc_id")
            .filter(F.col("decoded") != F.col("text"))
            .count()
        )
        assert bad == 0, f"{bad} docs failed the lossless round trip"
        return f"lossless at n={n}"

    stage("bpe_boundary_roundtrip", bpe_boundary_stage)

    def exact_span_pairs_stage():
        from hadoop_search_spark.operators.dedup import exact_span_pairs

        # three replicas of each base doc: every replica pair shares
        # the full doc body minus the distinct prefixes — the
        # boilerplate-heavy regime the docstring's skew note is about
        three = docs.filter(F.col("doc_id") < 3 * n_base)
        return exact_span_pairs(three, min_len=20).count()

    stage("exact_span_pairs_3rep", exact_span_pairs_stage)

    def hll_stage():
        from hadoop_search_spark.operators.sketch import (
            hll_distinct,
            hll_merge,
            hll_registers,
        )

        row = hll_distinct(docs, "text").collect()[0]
        # registers of two disjoint halves merge to the full sketch —
        # the snapshot-composability property at scale
        a = hll_registers(docs.filter(F.col("doc_id") % 2 == 0), "text")
        b = hll_registers(docs.filter(F.col("doc_id") % 2 == 1), "text")
        merged = hll_merge(a, b).count()
        true = docs.select("text").distinct().count()
        rel = abs(row.est_distinct - true) / true
        assert rel < 0.05, f"HLL error {rel:.3f} out of bound"
        return f"est={row.est_distinct:.0f} (true {true}), {merged} registers"

    stage("hll_distinct_sketch", hll_stage)

    def cms_stage():
        from hadoop_search_spark.operators.sketch import cms_query, cms_sketch

        # sketch the replicated doc texts (the CMS state stays d*w
        # cells regardless of corpus size), then point-query 1000
        # values against the broadcast cell table
        sk = cms_sketch(docs, "text")
        probes = docs.limit(1000)
        return cms_query(sk, probes, "text").count()

    stage("cms_sketch_pointq", cms_stage)

    def hist_stage():
        from hadoop_search_spark.operators.sketch import (
            hist_bounds,
            hist_quantile_bounds,
            hist_sketch,
        )

        lens = docs.select(F.length("text").alias("v"))
        lo, hi = hist_bounds(lens, "v")
        hi += 1e-9
        sk = hist_sketch(lens, "v", lo, hi)
        return hist_quantile_bounds(sk, [0.5, 0.9, 0.99], lo, hi).count()

    stage("hist_quantiles", hist_stage)

    def multiprobe_stage():
        from hadoop_search_spark.operators.similarity import (
            ann_lsh_multiprobe_topk,
        )

        emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        big = emb.crossJoin(reps).select(
            (F.col("vec_id") + F.col("rep") * 2000).alias("vec_id"),
            "embedding",
        )
        return ann_lsh_multiprobe_topk(big, [0, 1, 2], 10, flips=4).count()

    stage("ann_lsh_multiprobe", multiprobe_stage)

    def cascade_ivfpq_stage():
        from hadoop_search_spark.operators.similarity import (
            cascade_ivfpq_topk,
        )

        emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        big = emb.crossJoin(reps).select(
            (F.col("vec_id") + F.col("rep") * 2000).alias("vec_id"),
            "embedding",
        )
        return cascade_ivfpq_topk(big, [0, 1, 2], 10, w=50).count()

    stage("cascade_ivfpq_topk", cascade_ivfpq_stage)

    def int8_index_stage():
        # r9: the PUBLISHED IVF-SQ8 index at scale — build over the
        # replicated corpus, append a 5% tail under the frozen coarse
        # quantizer, serve partition-pruned stage-1 top-10
        from hadoop_search_spark.operators.similarity import (
            int8_index_add,
            int8_index_topk,
            write_int8_index,
        )

        emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        big = emb.crossJoin(reps).select(
            (F.col("vec_id") + F.col("rep") * 2000).alias("vec_id"),
            "embedding",
        )
        n_total = replicas * 2000
        build = big.filter(F.col("vec_id") < int(n_total * 0.95))
        tail = big.filter(F.col("vec_id") >= int(n_total * 0.95))
        path = tempfile.mkdtemp(prefix="smoke_int8_idx_")
        write_int8_index(build, path)
        # check_ids=False: ids are disjoint by construction, and the
        # collision scan would dominate the timing we want (append)
        int8_index_add(spark, path, tail, check_ids=False)
        queries = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return int8_index_topk(spark, path, queries, 10, nprobe=2).count()

    stage("int8_index_build_append_serve", int8_index_stage)

    def residual_opq_index_stage():
        # r10: the residual-OPQ IVF-PQ index at scale — train the
        # rotation on the replicated corpus's residual population
        # (moments are one mapInPandas pass; the model is KBs), build
        # the encoded artifact, append a 5% tail under the FROZEN
        # rotation, serve rotated per-(query,cell) LUTs
        from hadoop_search_spark.operators.similarity import (
            ivf_train_kmeans,
            ivfpq_index_add,
            ivfpq_index_topk,
            pq_residual_opq_model,
            write_ivfpq_index,
        )

        emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        big = emb.crossJoin(reps).select(
            (F.col("vec_id") + F.col("rep") * 2000).alias("vec_id"),
            "embedding",
        )
        n_total = replicas * 2000
        build = big.filter(F.col("vec_id") < int(n_total * 0.95))
        tail = big.filter(F.col("vec_id") >= int(n_total * 0.95))
        cents = ivf_train_kmeans(build, k=8, iterations=2)
        # exact_rotation=False: the production build path (vectorized
        # numpy rotation; the decimal fold is the golden-replay path
        # and costs ~3.7 ms/row — measured 401 s vs 106 s for this
        # whole stage at 20×, the residue being k-means + moments +
        # PQ training, which are rotation-independent)
        books, rot = pq_residual_opq_model(
            build, cents, iterations=2, exact_rotation=False
        )
        path = tempfile.mkdtemp(prefix="smoke_ropq_idx_")
        write_ivfpq_index(
            build, path, centroids=cents, books=books,
            encoding="residual_opq", rotation=rot, exact_rotation=False,
        )
        ivfpq_index_add(spark, path, tail, check_ids=False)
        queries = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return ivfpq_index_topk(spark, path, queries, 10, nprobe=2).count()

    stage("residual_opq_index_build_append_serve", residual_opq_index_stage)

    def graph_refine_stage():
        # r12 continuation: the published-graph serving lifecycle at
        # scale — offline adjacency built with MORE cells than the
        # serve uses (the documented pair-budget recipe: 64 build
        # cells bound the per-cell quadratic term to ~(n/64)^2 while
        # the serving index keeps its 8), append a 5% tail (graph
        # left stale BY CONTRACT), measure the stale fraction, then
        # serve graph-refined top-10 from the published artifacts
        from hadoop_search_spark.operators.similarity import (
            graph_stale_report,
            ivfpq_index_add,
            ivfpq_index_refine_topk,
            publish_knn_graph,
            write_ivfpq_index,
        )

        emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        big = emb.crossJoin(reps).select(
            (F.col("vec_id") + F.col("rep") * 2000).alias("vec_id"),
            "embedding",
        )
        n_total = replicas * 2000
        build = big.filter(F.col("vec_id") < int(n_total * 0.95))
        tail = big.filter(F.col("vec_id") >= int(n_total * 0.95))
        path = tempfile.mkdtemp(prefix="smoke_graph_idx_")
        write_ivfpq_index(build, path)
        publish_knn_graph(
            spark, path, build, g=8, build_num_centroids=64,
            build_nprobe=2,
        )
        ivfpq_index_add(spark, path, tail, check_ids=False)
        tot = graph_stale_report(spark, path).agg(
            F.sum("n_stale").alias("s"), F.sum("n_codes").alias("c")
        ).collect()[0]
        queries = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        served = ivfpq_index_refine_topk(
            spark, path, queries, k=10, w=10, nprobe=1, embeddings=big
        ).count()
        return (
            f"{served} rows served, stale {tot.s}/{tot.c} "
            f"({tot.s / tot.c:.3f})"
        )

    stage("graph_publish_append_refine", graph_refine_stage)

    def stream_quantiles_stage():
        # r9: the streaming histogram store's query surface over the
        # replicated corpus's length distribution, 4-epoch ingest
        from hadoop_search_spark.operators.sketch import hist_bounds
        from hadoop_search_spark.streaming.sketch_ingest import (
            StreamingHistogram,
        )

        lens = docs.select("doc_id", F.length("text").alias("v"))
        lo, hi = hist_bounds(lens, "v")
        store = tempfile.mkdtemp(prefix="smoke_hist_store_")
        h = StreamingHistogram(spark, store, "v", lo, hi + 1e-9)
        for epoch in range(4):
            h.process_batch(
                lens.filter(F.col("doc_id") % 4 == epoch), epoch
            )
        return h.quantiles([0.05, 0.5, 0.95]).count()

    stage("stream_quantiles_4epoch", stream_quantiles_stage)

    print(json.dumps(timings))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
