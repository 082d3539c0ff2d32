#!/usr/bin/env python3
"""Regenerate PLANS.md: formatted physical plans of representative
catalog queries with plan-quality commentary. Run after changing any
headline operator: ``python scripts/dump_plans.py``."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"

COMMENTARY = {
    "q6_forecast_revenue": (
        "Selective filter + single aggregate. All five predicates reach "
        "the parquet scan (`PushedFilters`), only the four needed "
        "columns are read (`ReadSchema`), and the whole pipeline is one "
        "WholeStageCodegen span over a partial+final hash aggregate."
    ),
    "q5_local_supplier_volume": (
        "Six-way star join. The fact-side joins (lineitem⋈orders⋈customer) "
        "stay shuffle joins on keys; supplier/nation/region broadcast "
        "(`BroadcastHashJoin`), so no shuffle of the fact table per dim. "
        "AQE re-plans from runtime sizes."
    ),
    "search_phrase": (
        "Phrase query through the CNF planner: ONE statement with the "
        "terms as bound parameters. One term-IN-pruned index scan (on "
        "the published range-partitioned index this prunes to the two "
        "terms' files), one doc_id aggregation pivoting each term's "
        "(score, positions), the both-terms membership filter, and the "
        "min-distance boost in staged _tg/_md projections. The agg is a "
        "SortAggregate (array-typed pivot values aren't "
        "hash-aggregatable) over the two terms' postings only. No "
        "Python, no driver materialization."
    ),
    "dedup_minhash_lsh": (
        "MinHash+LSH: one shuffle computes all 16 min-hashes as "
        "aggregates (no k-fold explosion), bands self-join on "
        "(band, band_key) — a hash join on bucket keys, never a "
        "cartesian product — and candidates verify by exact Jaccard "
        "over the cached shingle set. r12: the band table carries "
        "hot-bucket stats as WINDOW aggregates over the same bucket "
        "key and lazily localCheckpoints (one materialization for the "
        "two self-join sides and the star arm — the groupBy+join-back "
        "form recomputed the signature agg 2-3x, measured 2x on this "
        "headline); buckets over the cap emit representative edges "
        "instead of all pairs, so one mega-cluster bucket can no "
        "longer produce O(m²) join output."
    ),
    "sim_cosine_topk": (
        "Brute-force cosine top-k: query vectors broadcast "
        "(`BroadcastNestedLoopJoin` over 5 query rows), dot products as "
        "higher-order array expressions inside codegen, per-query "
        "ranking by a window partitioned on query_id."
    ),
    "events_sessionize": (
        "Native session_window aggregation (r6): map-side PARTIAL "
        "session aggregates before the one user_id exchange, "
        "MergingSessions fuses overlapping windows, and the ordinal "
        "session_id row_number runs over the SESSION-sized output "
        "reusing the agg's partitioning — a Sort but no second "
        "Exchange. No lag/cumsum window over the raw event stream."
    ),
    "sim_hamming_topk": (
        "Binary sign-sketch ANN: the corpus side is a map-only "
        "projection to two BIGINTs of sign bits (one transform fold "
        "per half), the distance is bit_count(xor) — all-integer, "
        "whole-stage codegen end to end — and the only wide ops are "
        "the bounded broadcast of the query sketches and the "
        "per-query top-k window. 16 bytes/vector scan: the "
        "billion-scale first-stage filter."
    ),
    "search_hybrid_rrf": (
        "Hybrid retrieval: the BM25 branch (stored index stats, "
        "TakeOrdered-style rank window) and the exact-cosine branch "
        "(broadcast query vector, corpus streams) each produce a "
        "top-50, then ONE full-outer join of two 50-row frames and a "
        "single-partition rank window fuse them — everything after "
        "the per-ranker top-Ks is request-sized."
    ),
    "dedup_cross_corpus": (
        "Snapshot-incremental dedup: new-side bands equi-join "
        "ref-side bands on (band, band_key) — the candidate set is "
        "cross-boundary only, ref-ref/new-new pairs never exist in "
        "the plan — then the exact-Jaccard verify joins only "
        "candidate docs' shingles. Verify cost ~ |new| x dup-rate. "
        "r12: the REFERENCE side is hot-bucket capped (window stats "
        "+ representative refs), so a mega-cluster already settled in "
        "the reference cannot go quadratic against its arriving "
        "members."
    ),
    "dedup_hot_bucket_star": (
        "The adversarial mega-cluster entry (r12): 10k near-identical "
        "docs synthesized from the corpus' first document share every "
        "band key, and the capped candidate join emits the ~10⁴ "
        "representative star edges where the uncapped all-pairs form "
        "would emit ~1.6e8 — the plan shows the small-bucket self-join "
        "arm UNIONed with the star-edge projection over the same "
        "window-stats checkpoint, then the usual exact-Jaccard verify. "
        "Join OUTPUT is the thing being bounded; AQE cannot do this."
    ),
    "sim_graph_refine_topk": (
        "KNN-graph-refined IVF serve (r12): stage-1 probes ONE cell "
        "(broadcast of the request-sized probe list, cell equi-join), "
        "the top-10 seeds expand one hop through the prebuilt "
        "adjacency (broadcast semi-join of seed ids against the graph "
        "— the graph streams, the request side builds), and the "
        "seed∪neighbor id set broadcast-joins back to the corpus for "
        "the exact rerank. Every wide side is request-sized; the "
        "corpus is touched only via the probed cell and the id-pruned "
        "rerank fetch."
    ),
    "sim_graph_refine_index": (
        "The PUBLISHED refine lifecycle (r12 continuation): stage-1 "
        "ADC reads only the probed `cell=N` code directories "
        "(`PartitionFilters: cell IN (...)` — the query math is "
        "driver-side, the LUT a broadcast literal), and the hop-1 "
        "adjacency lookup reads only the SAME probed directories of "
        "the cell-partitioned {index}/graph (publish_knn_graph "
        "derives the partition column under the serving quantizer, "
        "so every stage-1 seed's adjacency rows live there — exact "
        "by construction). TWO partition-pruned scans, zero "
        "corpus-shaped reads: the only other corpus touch is the "
        "id-pruned exact-rerank fetch of the request-sized "
        "seed∪neighbor set."
    ),
    "sim_cascade_topk": (
        "Staged retrieval: stage 1 is the all-integer Hamming scan "
        "with its partial+final WindowGroupLimit (top-100 per query); "
        "stage 2 broadcasts that REQUEST-SIZED candidate list back "
        "against the corpus (equi-join on the primary key — a point "
        "lookup at scale) and reranks by exact cosine, so only "
        "prefilter x |queries| raw vectors are ever touched with "
        "floats."
    ),
    "sim_cascade3_topk": (
        "The full quantization funnel: the Hamming stage's "
        "partial+final WindowGroupLimit bounds the corpus scan's "
        "output to w1 rows/query; the ADC stage joins that broadcast "
        "candidate list back to the corpus ONLY to project codes "
        "(map-only encode on request-sized rows) and windows to w2; "
        "the exact stage point-fetches w2 raw vectors. Three tiers, "
        "one plan, floats touched only at the end."
    ),
    "sim_ivfpq_residual_topk": (
        "Residual IVFADC: the index side is ONE map-only projection — "
        "cell assignment, residual subtraction, and the HOF code "
        "expression compose into a single scan — and the query side "
        "broadcasts per-(query, probed-cell) residual LUTs. Candidate "
        "generation and scoring identical in shape to the plain "
        "IVF-PQ plan; only the encoded quantity changed."
    ),
    "sim_ivfpq_drift": (
        "Code-space drift: one union of the two code frames, a "
        "constant m-way posexplode (subspace powers), exact "
        "IntegralDivide nibble unpack, then two aggregations over "
        "(cell, s[, j]) — bins are C*m*k regardless of corpus size, "
        "and the totals join-back broadcasts that tiny frame. No "
        "division, no float: every flag is a DECIMAL(38,0) "
        "cross-multiplication."
    ),
    "events_asof_attribution": (
        "As-of join as union+window: both event scans union (no join "
        "operator in the plan at all), one shuffle on user_id, and "
        "last(payload, ignorenulls) over the (ts, side)-ordered window "
        "picks each purchase's latest prior click. O(L+R) rows where a "
        "range-join formulation would be per-key quadratic."
    ),
    "events_interval_join": (
        "Range join by time binning: intervals explode into overlapped "
        "bins, the join is a hash EQUI-join on (user_id, bin) — no "
        "BroadcastNestedLoopJoin anywhere — and the exact BETWEEN "
        "filter runs post-join. Shuffle key (user, bin) is finer than "
        "user alone, so time-skew spreads."
    ),
    "dedup_edit_distance": (
        "Sound banded Levenshtein join: per-key rarest-(d·q+1) q-gram "
        "prefixes (global gram frequencies + one per-key window) "
        "equi-join against the full gram stream with positional and "
        "length residuals; the exact levenshtein verify runs AFTER a "
        "localCheckpoint lineage cut on the distinct candidates — "
        "without it Catalyst pushes the O(L²) distance into the join "
        "condition."
    ),
    "events_funnel": (
        "Ordered funnel staging: three filtered min-aggregates chained "
        "by user-keyed joins (each step's candidate set shrinks), then "
        "one count/sum aggregate over stages — no window over the full "
        "event stream and no per-event state."
    ),
    "text_heavy_hitters": (
        "Second pass of the two-pass heavy hitters: candidate IN-filter "
        "reaches the token projection, one hash aggregate over the "
        "(tiny) candidate set, the total-count broadcast cross-joins "
        "one row; the freqItems sketch pass ran driver-side at plan "
        "construction."
    ),
    "q21_sole_late_shipper": (
        "TPC-H Q21 decorrelated: instead of the reference's two "
        "lineitem self-joins (EXISTS + NOT EXISTS), one shuffle chain "
        "over (orderkey, suppkey) computes distinct-supplier and "
        "late-supplier counts per order, the sole-late filter is a "
        "scalar predicate, and the supplier name joins broadcast. The "
        "oracle keeps the EXISTS formulation, so the gate proves the "
        "decorrelation equivalent on data."
    ),
    "dedup_span_overlap": (
        "Cross-document duplicated-span mass: the n-gram stream comes "
        "from an index-explode + scalar concat (a transform() lambda "
        "here costs ~10 s of codegen compilation per fresh plan — see "
        "NOTES.md), then one (doc,span) aggregate, one span-partition "
        "count window for document frequency, one per-doc rollup — the "
        "same two-exchange shape as df-based tf-idf, never all-pairs."
    ),
    "mix_sequence_pack": (
        "Two-phase distributed cumsum: in-block running sums are "
        "partition-parallel windows keyed by doc_id div 4096; ONLY the "
        "per-block totals (rows = docs/4096) pass through the "
        "single-partition prefix window before broadcasting back. The "
        "naive formulation — one global ORDER BY window — would put "
        "every doc through one partition."
    ),
    "events_rate_anomaly": (
        "Float-free anomaly detection: hourly counts aggregate once, "
        "one value-RANGE window per event type computes trailing "
        "count/sum/sum-of-squares in DECIMAL, and the 3-sigma test is "
        "the cross-multiplied predicate (n*x-s)^2 > 9(n*ss-s^2) — no "
        "mean, variance, sqrt, or division in the plan at all."
    ),
    "text_surprisal": (
        "Corpus-trained unigram LM scoring: vocabulary counts are one "
        "token-keyed shuffle, the 1-row corpus total broadcast "
        "cross-joins the vocabulary, and the token stream equi-joins "
        "the per-token surprisal table before the per-doc aggregate. "
        "Surprisal is quantized to DECIMAL(18,6) pre-sum, so the "
        "aggregate is order-independent."
    ),
    "mix_shuffle_shard": (
        "Deterministic shuffle+shard export: shard and within-shard "
        "order are both md5(doc_id) functions, so the plan is a "
        "map-only projection plus ONE exchange on shard — the rank and "
        "running-token windows share the same partition and sort, one "
        "window stage serves both."
    ),
    "text_bigram_surprisal": (
        "Bigram-LM scoring: the bigram stream is a map-only zip_with "
        "explode (no positional self-join), bigram counts are one "
        "shuffle, the context sum reuses that aggregate (no second "
        "stream pass), and the stream equi-joins the probability table "
        "on the bigram key — the tf-idf df-join shape one conditioning "
        "level up."
    ),
    "text_bpe_encode": (
        "BPE model application: the trained merge list applies to the "
        "DISTINCT word table through one ArrowEvalPython (the only "
        "Python — vocabulary-sized, not corpus-sized), the encoded "
        "words shuffle-join back to the positional word stream, and "
        "per-doc reassembly is a single groupBy with an order-restoring "
        "array_sort. The 16 training rounds ran as driver-side "
        "fold-loop jobs before this plan was built (the model, like "
        "k-means centroids)."
    ),
    "text_bpe_boundary": (
        "Lossless (boundary-preserving) BPE round trip: the same "
        "distinct-word-table shape as text_bpe_encode — marked words "
        "(posexplode keeps EMPTY pieces so space runs survive) encode "
        "through one vocabulary-sized ArrowEvalPython, join back, "
        "reassemble per doc — then the decode branch is a map-only "
        "split+concat+translate and the roundtrip_ok flag is one "
        "equi-join against the original text. Everything after the "
        "encode is narrow; no second Python stage."
    ),
    "corpus_apply_changes": (
        "Lakehouse MERGE without a table format: ONE left-anti join "
        "drops deleted and to-be-replaced keys in the same pass (the "
        "corpus never shuffles twice), upsert payloads union in; AQE "
        "broadcasts the change-key side when it fits, making the "
        "corpus scan map-only. The op-validation guard rides the "
        "anti-join key expression, so it cannot be pruned away and "
        "costs no extra pass."
    ),
    "text_classifier_score": (
        "fastText-style scoring: the hashed feature stream joins a "
        "BROADCAST weight table (model-sized) and aggregates per doc — "
        "map-side join, one shuffle for the per-doc margin. Integer "
        "weights keep the margins engine-exact; the GD trainer behind "
        "the model runs the same feature stream with quantized-decimal "
        "gradient sums."
    ),
    "dedup_span_rewrite": (
        "Substring-dedup removal: duplicated spans come from the "
        "span_overlap exchanges, covered positions explode from "
        "flagged span starts and DISTINCT per (doc,pos), and the token "
        "stream drops them with a LEFT-ANTI equi-join on the "
        "well-spread (doc_id, pos) key — never an all-pairs or "
        "per-doc Python pass. Reassembly is one groupBy with an "
        "order-restoring array_sort."
    ),
    "sim_pca_project": (
        "PCA projection: map-only — the model (mean + components) is "
        "inlined as literal arrays, each coordinate a zip_with + "
        "decimal-fold over the embedding. The moment computation that "
        "trained the model ran before this plan as one mapInPandas "
        "partial-aggregate pass; nothing here shuffles at all."
    ),
    "sample_split": (
        "Deterministic train/val/test split: a salted md5 bucket "
        "carved into three ranges — map-only, no shuffle, no UDF; the "
        "narrow projection pipelines straight into a writer."
    ),
    "graph_authority": (
        "PageRank over the near-dup graph: five pregel-without-pregel "
        "rounds ran as separate jobs before this final plan (edge join "
        "+ dst aggregate each, dangling mass one scalar, "
        "localCheckpoint cuts between rounds), so the displayed plan "
        "is the final rank table scan — the iteration never builds one "
        "monolithic 5-round plan (the classic iterative-Spark driver "
        "killer)."
    ),
    "text_perplexity_buckets": (
        "CCNet bucketing via two-phase distributed rank: in-block "
        "row_number windows are partition-parallel on the block key "
        "(leading digits of the integer ranking key), and the ONLY "
        "single-partition window runs over per-block COUNTS (thousands "
        "of rows at any corpus size) before a broadcast join-back — "
        "the naive formulation would sort every doc on one partition."
    ),
    "dedup_bloom_decontaminate": (
        "Two-tier Bloom decontamination: the benchmark folds to a "
        "constant 1024-row bitmap (bit_or aggregate), which broadcasts "
        "into a map-side probe of the corpus shingles; only "
        "filter-flagged docs reach the exact verify join. At 100 TB "
        "the corpus side never shuffles against the benchmark and the "
        "broadcast stays ~8 KB regardless of scale."
    ),
    "mix_dsir_select": (
        "DSIR importance weighting: two token-keyed count aggregations "
        "(target slice + corpus), a vocab-sized weight table joined "
        "back to the token stream (the tf-idf df-join shape), scalar "
        "totals as 1-row broadcast aggregates, decimal-quantized "
        "pre-sum per-doc aggregation. No all-pairs, no driver state."
    ),
    "sim_semantic_dedup": (
        "SemDeDup: the displayed plan is the final component-label "
        "join (CC rounds ran as separate checkpointed jobs, like "
        "graph_authority); candidates came from sign-projection LSH "
        "buckets — the self-join is bucket-keyed, never all-pairs, the "
        "role SemDeDup's k-means cells play at scale."
    ),
    "mix_temperature_sample": (
        "Temperature mixing: per-source counts are one tiny "
        "aggregation, thresholds a broadcast join, and the keep/drop "
        "decision a map-only salted key hash — the fact stream is "
        "never shuffled. All arithmetic after one IEEE sqrt is BIGINT."
    ),
    "text_gopher_rules": (
        "Gopher hard rules: a single map-only projection — every rule "
        "is integer/boolean arithmetic over the token array (mean-word-"
        "length bounds cross-multiplied, so no float exists), one "
        "WholeStageCodegen span, no shuffle at all."
    ),
    "sim_ivf_drift_report": (
        "IVF quantizer drift: cell assignment is a map-only "
        "element_at lookup over literal centroid arrays (no join "
        "against the model), one per-cell aggregation with partial "
        "aggs, and a 1-row broadcast of the global totals; both drift "
        "flags are integer/DECIMAL(38) cross-multiplications — no "
        "division, so the report is bit-exact cross-engine."
    ),
    "sample_split_leakage_safe": (
        "Leakage-safe split: the displayed plan is the final "
        "split-hash projection over component labels (connected-"
        "components rounds ran as separate checkpointed jobs over the "
        "LSH pair subgraph only — isolated docs bypass the loop); the "
        "split itself is map-only, so cluster-atomicity costs exactly "
        "the CC rounds and nothing more."
    ),
    "sim_quantize_int8": (
        "int8 embedding quantization: one narrow map-only projection — "
        "scale, clamp, floor, error and saturation stats are all "
        "pointwise IEEE expressions inside a single WholeStageCodegen "
        "span; no shuffle, no UDF, pipelines straight into a writer at "
        "4x storage compression."
    ),
    "curation_datacard": (
        "Per-source data card: quality + language features compose "
        "into ONE scan projection (pure expressions, no joins), one "
        "per-source hash aggregation with map-side partials, and a "
        "1-row broadcast of the corpus token total for token_share — "
        "the minimum possible shape for a grouped corpus summary."
    ),
    "media_decode_png": (
        "REAL image decode (pure-stdlib PNG codec): two chained "
        "Arrow-batched mapInPandas stages — synthesize (encode) and "
        "decode — partition-parallel with constant memory per batch; "
        "the per-item Python work is the codec itself, which is the "
        "irreducible part of media decode on any engine."
    ),
    "sim_cascade_int8_topk": (
        "int8 serving tier (r8): stage 1 scans the 64 B/vec quantized "
        "store — the quantize, the exact-integer dot fold, and the "
        "scale-free score compose into ONE map-side projection over "
        "the bounded query broadcast, then a partial+final "
        "WindowGroupLimit keeps w rows/query; stage 2 point-fetches "
        "those candidates (broadcast id equi-join) for the exact "
        "rerank. Floats touched: w x |queries| vectors."
    ),
    "sketch_hist_quantiles": (
        "Histogram quantile brackets (r8): ONE count aggregation over "
        "a 256-value bucket expression (map-side partials, pruned "
        "single-column scan), then every downstream op — cumulative "
        "window, rank targets, bracket endpoints — runs on the "
        "<= 256-row sketch: the single-partition WindowExec the plan "
        "shows is over CONSTANT-size data by construction, and the "
        "quantile pick-list is a maxRows-provable range() broadcast."
    ),
    "sim_int8_index_topk": (
        "Serving from the PUBLISHED IVF-SQ8 index (r9): the scan "
        "reads only the probed cell=N directories (PartitionFilters "
        "on the literal probe set — at scale, file pruning IS the "
        "inverted list), each surviving row costs one exact-integer "
        "dot fold against the broadcast query LUT frame plus one "
        "IEEE div/sqrt of the PRECOMPUTED qn column (no norm re-fold "
        "at serve time), and a partial+final WindowGroupLimit keeps "
        "k rows/query. No raw floats anywhere in the serve path; the "
        "index build that precedes it in this entry is one map-only "
        "projection write."
    ),
}


def main() -> int:
    from pyspark.sql import DataFrame

    from hadoop_search_spark.session import get_spark
    import __spark_entry__ as entry

    spark = get_spark(app_name="dump_plans", cpus=8, shuffle_partitions=8)
    qs = entry.queries()

    out = [
        "# PLANS — physical plans of representative queries\n",
        "Generated by `python scripts/dump_plans.py` (sf0.01, AQE on;",
        "`AdaptiveSparkPlan isFinalPlan=false` is pre-execution — AQE",
        "re-plans stages from runtime statistics).\n",
    ]
    for name, comment in COMMENTARY.items():
        df: DataFrame = qs[name](spark, SF_DIR)
        formatted = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out.append(f"\n## {name}\n")
        out.append(comment + "\n")
        out.append("```\n" + formatted.strip() + "\n```\n")

    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
