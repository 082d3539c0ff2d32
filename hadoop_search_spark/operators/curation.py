"""End-to-end corpus curation — the composed training-data pipeline
(SURVEY.md §7 phase 5): exact dedup → near-dup removal → quality
filter → language filter → token accounting.

This is the operator a 100 TB pretraining-data run actually executes:
each stage is one of the already-tested primitives from
``operators/dedup.py`` / ``operators/textstats.py``, composed as a
single lazy DataFrame plan. Nothing materializes driver-side; the
stages that shuffle do so on content-hash / LSH-band keys exactly as
their standalone forms do, so the composition inherits their scale
behavior.

Stage semantics (deterministic, so the whole pipeline has an exact
DuckDB oracle in the catalog):

1. **exact dedup** — keep the min doc_id of each md5(text) group;
2. **near-dup removal** — MinHash-LSH pairs at the given Jaccard
   threshold; for each pair the higher doc_id is dropped (union-free
   approximation of clustering: a doc is dropped if it is the greater
   id of ANY surviving pair, which is order-independent);
3. **quality floor** — blended quality score ≥ ``min_quality``;
4. **language allowlist** — n-gram language ID in ``langs``;
5. **token accounting** — per-doc token counts and a corpus total,
   the number a data-mixing plan actually needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_search_spark.operators.dedup import minhash_lsh_dedup
from hadoop_search_spark.operators.textstats import lang_exprs, quality_exprs


def _quant(c):
    """The determinism-critical scale-6 quantization shared by every
    mean in this module: round(·,6) → DECIMAL(18,6) → DOUBLE. A bare
    double→DECIMAL cast rounds at digit 9 where the engines can
    disagree; round-then-decimal-cast is double-rounding-safe (see
    curation_summary's docstring for the full r2 post-mortem). One
    definition so a future precision fix cannot be applied to one
    table and silently miss the other."""
    return F.round(c, 6).cast("decimal(18,6)").cast("double")


def curate(
    docs: DataFrame,
    text_col: str = "text",
    jaccard_threshold: float = 0.8,
    min_quality: float = 0.5,
    langs: tuple[str, ...] = ("en",),
) -> DataFrame:
    """Returns the curated corpus: (doc_id, n_tokens, lang_pred,
    quality) for every surviving document.

    The dedup stages are semi/anti joins on doc_id; the feature
    stages (quality, language, tokens) are one combined projection
    over a single scan of the survivor set — no joins, no extra
    scans."""
    # 1. exact dedup: one aggregate yields each md5(text) group's
    # keeper row directly — min(struct(doc_id, text)) orders by
    # doc_id (unique, so text never breaks a tie) and carries the
    # keeper's text out of the aggregate, replacing the earlier
    # annotate-then-join-back shape (one shuffle, no join)
    survivors = (
        docs.select(
            F.md5(F.col(text_col)).alias("h"),
            F.struct("doc_id", text_col).alias("s"),
        )
        .groupBy("h")
        .agg(F.min("s").alias("s"))
        .select("s.doc_id", f"s.{text_col}")
    )

    # 2. near-dup removal among exact survivors: drop the greater id
    # of every near-dup pair (pairs among dropped exact dups are
    # irrelevant — they are already gone). The shingle set is
    # referenced four times inside the LSH pipeline (signatures,
    # sizes, both verify sides); a lazy local checkpoint materializes
    # it once instead of re-tokenizing per reference (blocks are
    # released when the plan is garbage-collected — same pattern as
    # similarity.embedding_dedup_pairs)
    from hadoop_search_spark.operators.dedup import word_shingles

    sh = word_shingles(survivors, text_col).localCheckpoint(eager=False)
    near_pairs = minhash_lsh_dedup(
        survivors, text_col, threshold=jaccard_threshold, shingles=sh
    )
    drop_near = near_pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    after_near = survivors.join(drop_near, "doc_id", "left_anti")

    # 3-5. quality floor, language allowlist, and token accounting as
    # ONE projection over one scan of the survivor set — the feature
    # families are pure expressions (quality_exprs / lang_exprs), so
    # composing them costs no extra scans and no joins
    qe = quality_exprs(text_col)  # str -> session-memoized tree
    le = lang_exprs(text_col)
    feats = after_near.select(
        "doc_id",
        qe["quality"].alias("quality"),
        le["lang_pred"].alias("lang_pred"),
        qe["n_tokens"].alias("n_tokens"),
    )
    return feats.filter(
        (F.col("quality") >= min_quality) & F.col("lang_pred").isin(*langs)
    )


def curation_summary(curated: DataFrame) -> DataFrame:
    """One-row corpus accounting: surviving docs, total/mean tokens —
    the budget numbers a data-mixing plan consumes.

    Cross-engine determinism (the r2 driver hash-flake fix): every
    float is quantized ``round(·, 6) → DECIMAL → DOUBLE``. A bare
    ``CAST(double AS DECIMAL(12,9))`` rounds a raw double at digit 9,
    where Spark (exact BigDecimal HALF_UP) and DuckDB (float-arithmetic
    rounding) can disagree; round-then-decimal-cast is
    double-rounding-safe because the rounded value is never near a
    scale-6 midpoint, and decimal→double is correctly rounded in both
    engines. The quality sum is an exact decimal sum of the per-row
    quantized values, so partial-agg order cannot perturb it."""
    q6 = F.round("quality", 6).cast("decimal(12,6)")
    mean_tokens = F.sum("n_tokens").cast("double") / F.count("*")
    mean_quality = F.sum(q6).cast("double") / F.count("*")
    return curated.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        _quant(mean_tokens).alias("mean_tokens"),
        _quant(mean_quality).alias("mean_quality"),
    )


def curate_v2(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    jaccard_threshold: float = 0.8,
    min_quality: float = 0.5,
    langs: tuple[str, ...] = ("en",),
    min_shared: int = 3,
) -> DataFrame:
    """The round-4 extended pipeline: Gopher hard rules →
    :func:`curate` (exact dedup → near-dup removal → quality floor →
    language allowlist) → benchmark decontamination. Same output
    shape as :func:`curate`.

    Stage order is the production order: the hard rules are a
    map-only filter, so they run FIRST and every later (shuffling)
    stage sees fewer docs; decontamination runs LAST because its
    verdict is per-doc (a doc's own shingles vs the benchmark — the
    verdict doesn't depend on which other docs survived, so running
    it last is equivalent and cheapest). Decontamination flags come
    from the broadcast-benchmark join of :func:`decontaminate` —
    the corpus never shuffles on shingle."""
    from hadoop_search_spark.operators.dedup import decontaminate
    from hadoop_search_spark.operators.textstats import gopher_exprs

    passed = docs.filter(gopher_exprs(text_col)["pass"])
    kept = curate(
        passed,
        text_col=text_col,
        jaccard_threshold=jaccard_threshold,
        min_quality=min_quality,
        langs=langs,
    ).localCheckpoint(eager=False)  # referenced twice below
    # decontaminate ONLY the survivor set (its verdict is per-doc, so
    # restricting the input changes nothing for the anti-join below;
    # shingling every Gopher-passed doc would pay the full pre-dedup
    # corpus for flags that are never consumed)
    surv_txt = passed.join(kept.select("doc_id"), "doc_id")
    flagged = decontaminate(
        surv_txt, benchmark, text_col=text_col, min_shared=min_shared
    ).select("doc_id")
    return kept.join(flagged, "doc_id", "left_anti")


def corpus_datacard(
    docs: DataFrame, text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """Per-source data card — the accounting table a mixture design
    starts from → ``(source, n_docs, n_exact_dup, total_tokens,
    mean_tokens, mean_quality, n_en, token_share)``:

    * ``n_exact_dup`` = docs minus distinct md5(text) — the
      within-source exact-duplication burden;
    * ``mean_quality`` / ``mean_tokens`` use the curation_summary
      determinism recipe (per-row round(·,6) → DECIMAL exact sum →
      one IEEE division → round-then-decimal-cast), so the card is
      bit-stable cross-engine;
    * ``token_share`` is each source's fraction of corpus tokens —
      the number temperature/token-budget mixing rescales.

    One scan: quality/lang features are pure expressions composed
    into a single projection (the curate pattern), one per-source
    aggregation, and a 1-row broadcast of the corpus total. No UDFs,
    no joins against data-sized tables.

    r13: the input is ``spread`` first (guide §2.6/§6) — the feature
    projection runs ~30 regex/replace/HOF passes per row, and a
    small-file corpus plans ONE scan partition, serializing all of it
    on one core (measured 2.4 s of the entry's 3.0 s cold at sf0.1).
    spread is a no-op at cluster-wide scans; the per-source sums are
    exact (decimal-quantized) and counts are counts — partitioning
    cannot move any published value (oracle-gated)."""
    from hadoop_search_spark.partitioning import spread

    t = F.col(text_col)
    qe = quality_exprs(text_col)  # str -> session-memoized tree
    le = lang_exprs(text_col)
    feats = spread(docs, "doc_id").select(
        source_col,
        "doc_id",
        F.md5(t).alias("h"),
        qe["n_tokens"].alias("n_tokens"),
        F.round(qe["quality"], 6).cast("decimal(12,6)").alias("q6"),
        le["lang_pred"].alias("lang_pred"),
    )
    per = feats.groupBy(source_col).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        (F.count("*") - F.count_distinct("h")).cast("bigint").alias("n_exact_dup"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum("q6").alias("_qsum"),
        F.sum((F.col("lang_pred") == "en").cast("bigint"))
        .cast("bigint")
        .alias("n_en"),
    )
    tot = per.agg(F.sum("total_tokens").cast("bigint").alias("_corpus_tokens"))
    return per.crossJoin(F.broadcast(tot)).select(
        source_col,
        "n_docs",
        "n_exact_dup",
        "total_tokens",
        _quant(F.col("total_tokens").cast("double") / F.col("n_docs")).alias(
            "mean_tokens"
        ),
        _quant(F.col("_qsum").cast("double") / F.col("n_docs")).alias(
            "mean_quality"
        ),
        "n_en",
        _quant(
            F.col("total_tokens").cast("double") / F.col("_corpus_tokens")
        ).alias("token_share"),
    )


def curate_v3(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    jaccard_threshold: float = 0.8,
    min_quality: float = 0.5,
    langs: tuple[str, ...] = ("en",),
    min_shared: int = 3,
    sem_threshold: float = 0.96,
    sem_dim: int = 16,
    sem_planes: int = 8,
) -> DataFrame:
    """:func:`curate_v2` plus a SemDeDup-style SEMANTIC dedup stage:
    survivors are embedded with the deterministic hashing-trick
    vectors (:func:`~hadoop_search_spark.operators.textstats.
    doc_hash_vectors` — the doc_id↔vector bridge the fixtures lack),
    near-duplicate pairs come from sign-projection LSH buckets +
    exact-cosine verify ≥ ``sem_threshold``, and connected components
    keep one doc (the smallest id) per semantic cluster. Same output
    shape as :func:`curate`.

    The semantic stage runs LAST, over the (already decontaminated)
    survivor set only — it is the most expensive stage per doc
    (vectorize + bucket self-join + iterated components), so it sees
    the smallest corpus; and unlike decontamination its verdict DOES
    depend on which other docs survive, so it must run after every
    per-doc filter for the keeper choice to be well-defined.

    Scale shape: vectorization is one explode + one per-doc agg; the
    pair join is bucket-local (never all-pairs — though note the
    fixture's ~31-word vocabulary concentrates vectors in few
    buckets, the degenerate regime documented for every near-dup
    entry; production dim/planes spread it); components is O(log
    diameter) rounds over the pair graph only."""
    from hadoop_search_spark.operators.graph import connected_components
    from hadoop_search_spark.operators.similarity import embedding_dedup_pairs
    from hadoop_search_spark.operators.textstats import doc_hash_vectors

    kept = curate_v2(
        docs,
        benchmark,
        text_col=text_col,
        jaccard_threshold=jaccard_threshold,
        min_quality=min_quality,
        langs=langs,
        min_shared=min_shared,
    ).localCheckpoint(eager=False)  # survivor set feeds three subtrees
    surv_txt = docs.join(kept.select("doc_id"), "doc_id")
    vecs = doc_hash_vectors(surv_txt, text_col, sem_dim).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    pairs = embedding_dedup_pairs(
        vecs, threshold=sem_threshold, num_planes=sem_planes, dim=sem_dim
    ).select("vec_a", "vec_b")
    comp = connected_components(
        pairs,
        nodes=kept.select(F.col("doc_id").alias("node")).select("node"),
        src="vec_a",
        dst="vec_b",
    )
    keepers = comp.filter(F.col("component") == F.col("node")).select(
        F.col("node").alias("doc_id")
    )
    return kept.join(keepers, "doc_id")


def tokenizer_report(
    docs: DataFrame, text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """Per-source tokenizer accounting — the fertility/compression
    companion to :func:`corpus_datacard` → ``(source, n_docs,
    n_chars, n_bytes, n_words, n_subword, max_word_len)``:

    * ``n_chars`` vs ``n_bytes`` (characters vs UTF-8 octets) is the
      multilinguality signal a byte-level tokenizer budget needs;
    * ``n_subword`` is the BPE-ish subword estimate
      (:func:`textstats.token_counts`'s ceil(len/4) units) — its
      ratio to ``n_words`` is tokenizer FERTILITY, to ``n_bytes``
      the compression ratio; the report ships the raw integer sums
      and leaves division to the consumer, so every column is an
      exact cross-engine integer;
    * ``max_word_len`` bounds the pathological-token tail (URLs,
      DNA strings) that breaks fixed-width tokenizer buffers.

    One scan, one per-source aggregation, all expressions — the
    datacard scale shape."""
    t = F.col(text_col)
    toks = F.filter(F.split(F.lower(t), " "), lambda x: x != "")
    subword = F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + F.ceil(F.length(x) / F.lit(4.0)).cast("bigint"),
    )
    maxw = F.coalesce(
        F.array_max(F.transform(toks, lambda x: F.length(x))), F.lit(0)
    )
    rows = docs.select(
        source_col,
        F.length(t).cast("bigint").alias("_chars"),
        F.octet_length(t).cast("bigint").alias("_bytes"),
        F.size(toks).cast("bigint").alias("_words"),
        subword.alias("_subword"),
        maxw.cast("bigint").alias("_maxw"),
    )
    return rows.groupBy(source_col).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("_chars").cast("bigint").alias("n_chars"),
        F.sum("_bytes").cast("bigint").alias("n_bytes"),
        F.sum("_words").cast("bigint").alias("n_words"),
        F.sum("_subword").cast("bigint").alias("n_subword"),
        F.max("_maxw").cast("bigint").alias("max_word_len"),
    )
