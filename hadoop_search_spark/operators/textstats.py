"""Text analysis operators for training-data pipelines
(SURVEY.md §7 phase 5): script/language heuristics, quality scoring,
token counting, order-sensitive document fingerprinting.

All pure Catalyst expressions (regex + arithmetic) with exact DuckDB
oracles; hash widths sized so sums never overflow a BIGINT (Spark
wraps silently, DuckDB promotes — overflow would diverge)."""

from __future__ import annotations

import pandas as pd  # noqa: F401 — pandas_udf resolves 'pd.Series' hints
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hadoop_search_spark.session import memo

# tiny embedded stopword list for ratio features (order irrelevant)
STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

FP_HEX = 10  # 40-bit token hashes for the fingerprint
FP_MOD = (1 << 61) - 1  # Mersenne prime modulus


def script_profile(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Charset-heuristic script ID (n-gram-free language ID baseline):
    cjk / cyrillic / latin / other, by first matching character class."""
    t = F.col(text_col)
    # python-level \u escapes → literal chars in the pattern, so the
    # same bytes work in Java regex (Spark) and RE2 (DuckDB oracle)
    script = (
        F.when(t.rlike("[一-鿿]"), "cjk")
        .when(t.rlike("[Ѐ-ӿ]"), "cyrillic")
        .when(t.rlike("(?i)[a-z]"), "latin")
        .otherwise("other")
    )
    return docs.select("doc_id", script.alias("script"))


def script_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return (
        script_profile(docs, text_col)
        .groupBy("script")
        .agg(F.count("*").alias("n"))
    )


# Characteristic character n-grams per language with integer weights —
# the classic n-gram-profile language-ID heuristic (Cavnar & Trenkle
# style, reduced to a fixed discriminative profile so scoring is a
# pure expression). Weights are integers and counts are exact, so the
# winning language is engine-independent (no float comparisons).
LANG_NGRAM_PROFILES: dict[str, dict[str, int]] = {
    "en": {" the ": 3, " and ": 3, " of ": 2, " is ": 2, "ing ": 1, "th": 1},
    "de": {" der ": 3, " und ": 3, " die ": 3, " ist ": 2, "sch": 1, "ich": 1},
    "es": {" el ": 3, " que ": 3, " los ": 2, " es ": 2, "ción": 3, " una ": 1},
    "fr": {" le ": 3, " les ": 3, " des ": 3, " est ": 2, " une ": 1, "eau": 1},
}


def _ngram_count(padded: F.Column, gram: str) -> F.Column:
    """Occurrences of ``gram`` via the length-difference trick —
    stays inside whole-stage codegen; identical semantics in DuckDB."""
    return (
        F.length(padded) - F.length(F.replace(padded, F.lit(gram), F.lit("")))
    ) / F.lit(len(gram))


def lang_exprs(t: "F.Column | str") -> dict[str, F.Column]:
    """lang_pred / lang_score as pure expressions over a text column —
    composable into a wider single-scan projection (see
    ``operators/curation.py``).

    r13: pass the column NAME (a str) to get the session-memoized
    expression tree (``session.memo``, kind ``"exprs"``) — building
    this family costs ~300 py4j round trips (~0.2-0.3 s of every fresh
    curation/text plan), and Column objects are immutable unresolved
    expression descriptors that are safe to reuse across DataFrames
    within one session (the analyzer resolves per plan). Values are
    identical by construction: the memo holds the same expression
    tree the Column path builds; each call gets its own shallow copy
    of the dict, so a caller's edit cannot leak into the next call."""
    if isinstance(t, str):
        return _exprs("lang", t, lambda: _lang_exprs_build(F.col(t)))
    return _lang_exprs_build(t)


def _exprs(family: str, col_name: str, build) -> dict[str, F.Column]:
    return dict(memo(None, "exprs", (family, col_name), build))


def _lang_exprs_build(t: F.Column) -> dict[str, F.Column]:
    padded = F.concat(F.lit(" "), F.lower(t), F.lit(" "))
    scored = [
        F.struct(
            (-sum(
                (_ngram_count(padded, g) * F.lit(w)).cast("bigint")
                for g, w in profile.items()
            )).alias("neg_score"),
            F.lit(lang).alias("lang"),
        )
        for lang, profile in sorted(LANG_NGRAM_PROFILES.items())
    ]
    best = F.array_sort(F.array(*scored)).getItem(0)
    latin_pred = F.when(best.getField("neg_score") < 0, best.getField("lang")).otherwise(
        "und"
    )
    lang_pred = (
        F.when(t.rlike("[一-鿿]"), "zh")
        .when(t.rlike("[Ѐ-ӿ]"), "ru")
        .otherwise(latin_pred)
    )
    lang_score = F.when(
        t.rlike("[一-鿿]") | t.rlike("[Ѐ-ӿ]"), F.lit(0).cast("bigint")
    ).otherwise((-best.getField("neg_score")).cast("bigint"))
    return {"lang_pred": lang_pred, "lang_score": lang_score}


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """N-gram-heuristic language ID → (doc_id, lang_pred, lang_score).

    CJK and Cyrillic are decided by charset (no useful char n-grams at
    this profile size); Latin-script text is scored against each
    language's weighted n-gram profile and the argmax wins (ties to
    the alphabetically first language; all-zero → 'und'). Scoring is
    map-only — no shuffle, no UDF; at 100 TB this is a narrow
    projection pipelined into whatever consumes it."""
    e = lang_exprs(text_col)
    return docs.select(
        "doc_id", e["lang_pred"].alias("lang_pred"), e["lang_score"].alias("lang_score")
    )


def quality_exprs(t: "F.Column | str") -> dict[str, F.Column]:
    """Quality features as pure expressions over a text column.
    Pass the column NAME for the session-memoized tree (see
    :func:`lang_exprs` — same rationale and safety argument)."""
    if isinstance(t, str):
        return _exprs("quality", t, lambda: _quality_exprs_build(F.col(t)))
    return _quality_exprs_build(t)


def _quality_exprs_build(t: F.Column) -> dict[str, F.Column]:
    toks = F.filter(F.split(F.lower(t), " "), lambda x: x != "")
    n_tokens = F.size(toks)
    mean_len = (
        F.aggregate(toks, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x))
        .cast("double")
        / n_tokens
    )
    sw = F.array(*[F.lit(w) for w in STOPWORDS_EN])
    stop_ratio = (
        F.size(F.filter(toks, lambda x: F.array_contains(sw, x))).cast("double")
        / n_tokens
    )
    n_chars = F.length(t)
    digit_ratio = (
        (n_chars - F.length(F.regexp_replace(t, "[0-9]", ""))).cast("double") / n_chars
    )
    quality = (
        stop_ratio * 0.4
        + F.least(mean_len / 10.0, F.lit(1.0)) * 0.3
        + (1.0 - digit_ratio) * 0.3
    )
    return {
        "n_tokens": n_tokens.cast("bigint"),
        "mean_token_len": F.round(mean_len, 9),
        "stop_ratio": F.round(stop_ratio, 9),
        "digit_ratio": F.round(digit_ratio, 9),
        "quality": F.round(quality, 9),
    }


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc quality features + a single blended score:
    token count, mean token length, stop-word ratio, digit ratio.
    quality = stop_ratio·0.4 + clamp(mean_len/10)·0.3 + (1-digit_ratio)·0.3
    (an interpretable heuristic in [0,1], monotone in 'looks like prose')."""
    e = quality_exprs(text_col)
    return docs.select(
        "doc_id", *[e[k].alias(k) for k in
                    ("n_tokens", "mean_token_len", "stop_ratio", "digit_ratio", "quality")]
    )


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + a BPE-ish subword estimate
    (words + extra units for long words: ceil(len/4) per token)."""
    toks = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda x: x != "")
    n_tokens = F.size(toks).cast("bigint")
    n_subword = F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + F.ceil(F.length(x) / F.lit(4.0)).cast("bigint"),
    )
    return docs.select(
        "doc_id", n_tokens.alias("n_tokens"), n_subword.alias("n_subword_est")
    )


def doc_fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Order-sensitive 61-bit fingerprint:
    ``sum(pos * md5int40(token)) mod (2^61-1)``.

    Each product ``pos * h`` stays below 2^61 for documents up to ~2M
    tokens, but the *sum* over a long document would overflow int64
    (worst case 2^40·n²/2 exceeds 2^63 around 4k tokens), and Spark
    wraps silently where DuckDB promotes to HUGEINT. The sum therefore
    accumulates in DECIMAL(38,0) — exact to 38 digits, matching
    DuckDB's HUGEINT arithmetic — with the modulus applied to the
    exact total. Swapping two tokens changes the fingerprint (unlike
    a bag-of-words hash)."""
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split(F.lower(F.col(text_col)), " "), lambda x: x != "")
        ).alias("pos0", "tok"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.conv(F.substring(F.md5(F.col("tok")), 1, FP_HEX), 16, 10)
        .cast("bigint")
        .alias("h"),
    )
    return toks.groupBy("doc_id").agg(
        (
            F.sum((F.col("pos") * F.col("h")).cast("decimal(38,0)"))
            % F.lit(FP_MOD).cast("decimal(38,0)")
        )
        .cast("bigint")
        .alias("fingerprint")
    )


def doc_hash_vectors(
    docs: DataFrame, text_col: str = "text", dim: int = 16
) -> DataFrame:
    """Deterministic per-doc embedding via the hashing trick →
    ``(doc_id, embedding ARRAY<DOUBLE>)``: every token hashes into one
    of ``dim`` buckets (the shared :func:`~hadoop_search_spark.
    operators.dedup.md5_int` recipe, salted ``feat:``) and the vector
    is the raw bucket-count histogram. Counts are integers, so dot
    products, norms and sign projections over these vectors are exact
    in ANY summation order — the whole downstream similarity stack
    (cosine, LSH buckets, SemDeDup) becomes bit-deterministic
    cross-engine with no float hazards.

    This is the doc_id↔vector bridge the fixtures lack: it lets the
    embedding-space operators (embedding_dedup_pairs, semantic dedup)
    run over the DOCUMENTS table, e.g. as a curation stage. One
    explode + one per-doc aggregation (dim conditional sums,
    partial-agg friendly); map-only otherwise."""
    from hadoop_search_spark.operators.dedup import md5_int

    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), " "), lambda x: x != "")
        ).alias("tok"),
    ).select(
        "doc_id",
        (md5_int(F.concat(F.lit("feat:"), F.col("tok")), 12) % dim).alias("b"),
    )
    sums = toks.groupBy("doc_id").agg(
        *[
            F.sum((F.col("b") == i).cast("bigint"))
            .cast("double")
            .alias(f"_x{i}")
            for i in range(dim)
        ]
    )
    return sums.select(
        "doc_id", F.array(*[f"_x{i}" for i in range(dim)]).alias("embedding")
    )


GOPHER_STOPWORDS = ("the", "a", "of", "to", "and")
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3
GOPHER_MAX_MEAN_LEN = 10
GOPHER_MIN_STOPWORDS = 2


def gopher_rules(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The Gopher (Rae et al. 2021) document-quality rule bundle —
    the hard-filter stage that runs BEFORE model-based scoring in a
    curation pipeline → per doc: the raw metrics, each rule's
    verdict, and the overall ``pass``.

    Rules (the fixture-relevant subset of Table A1): word count in
    [50, 100000]; mean word length in [3, 10]; at least 2 distinct
    stop words present (the "contains common English glue words"
    heuristic).

    Exactness: every output is an integer or boolean — the mean-word-
    length bounds are cross-multiplied (``3*n_words <= n_chars <=
    10*n_words``) instead of dividing, so no float exists anywhere in
    the plan (the TPC-H threshold trick applied to curation). Map-only
    over the token array; no shuffle, no UDF."""
    e = gopher_exprs(text_col)
    return docs.select(
        "doc_id",
        e["n_words"].alias("n_words"),
        e["n_chars"].alias("n_chars"),
        e["stop_hits"].alias("stop_hits"),
        e["rule_word_count"].alias("rule_word_count"),
        e["rule_word_len"].alias("rule_word_len"),
        e["rule_stopwords"].alias("rule_stopwords"),
        e["pass"].alias("pass"),
    )


def gopher_exprs(text_col: str = "text") -> dict[str, F.Column]:
    """The rule expressions behind :func:`gopher_rules`, exposed so a
    pipeline (curation v2) can inline the ``pass`` predicate as a
    map-only filter instead of joining the rules frame back.
    Session-memoized by column name (see :func:`lang_exprs`)."""
    return _exprs("gopher", text_col, lambda: _gopher_exprs_build(text_col))


def _gopher_exprs_build(text_col: str) -> dict[str, F.Column]:
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), " "), lambda x: x != ""
    )
    n_words = F.size(toks).cast("bigint")
    n_chars = F.length(F.regexp_replace(F.col(text_col), " ", "")).cast("bigint")
    stop_hits = sum(
        (F.array_contains(toks, w).cast("int") for w in GOPHER_STOPWORDS),
        F.lit(0),
    ).cast("bigint")
    rule_wc = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    rule_len = (n_chars >= GOPHER_MIN_MEAN_LEN * n_words) & (
        n_chars <= GOPHER_MAX_MEAN_LEN * n_words
    )
    rule_stop = stop_hits >= GOPHER_MIN_STOPWORDS
    return {
        "n_words": n_words,
        "n_chars": n_chars,
        "stop_hits": stop_hits,
        "rule_word_count": rule_wc,
        "rule_word_len": rule_len,
        "rule_stopwords": rule_stop,
        "pass": rule_wc & rule_len & rule_stop,
    }


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style intra-document repetition signals (Rae et al.,
    "Scaling Language Models: ... Gopher", §A1.1 repetition filters):
    per doc, the share of the most frequent token and the fraction of
    word bigrams that are repeats of an earlier bigram — the two
    cheapest detectors of looped/boilerplate generations in a training
    corpus.

    Returns (doc_id, n_tokens, n_distinct_tokens, top_token_n,
    n_bigrams, n_dup_bigrams, top_token_share, dup_bigram_ratio).
    ``dup_bigram_ratio`` is NULL for one-token docs (no bigrams);
    zero-token docs yield no row. Ratios are single double divisions
    of exact integers, so the SQL oracle matches bit-for-bit.

    Scale shape: tokens and bigrams explode into ONE stream tagged by
    kind, so the per-(doc,kind,gram) count and the per-doc rollup are
    one aggregation chain shuffling on doc-derived keys — map-side
    partial aggregation applies, and no list is ever materialized
    per-row (a collect_list-based formulation would hold whole docs in
    one aggregation buffer).
    """
    toks = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda x: x != "")
    base = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") > 0)
    words = base.select(
        "doc_id", F.lit("w").alias("kind"), F.explode("toks").alias("gram")
    )
    head = F.slice(F.col("toks"), 1, F.size("toks") - 1)
    tail = F.slice(F.col("toks"), 2, F.size("toks") - 1)
    bigram_arr = F.when(
        F.size("toks") >= 2,
        F.zip_with(head, tail, lambda a, b: F.concat_ws(" ", a, b)),
    ).otherwise(F.array().cast("array<string>"))
    bigrams = base.select(
        "doc_id", F.lit("b").alias("kind"), F.explode(bigram_arr).alias("gram")
    )
    counts = (
        words.unionByName(bigrams)
        .groupBy("doc_id", "kind", "gram")
        .agg(F.count("*").alias("n"))
    )
    is_w = F.col("kind") == "w"
    is_b = F.col("kind") == "b"
    per_doc = counts.groupBy("doc_id").agg(
        F.sum(F.when(is_w, F.col("n"))).cast("bigint").alias("n_tokens"),
        F.sum(F.when(is_w, F.lit(1))).cast("bigint").alias("n_distinct_tokens"),
        F.max(F.when(is_w, F.col("n"))).cast("bigint").alias("top_token_n"),
        F.coalesce(F.sum(F.when(is_b, F.col("n"))), F.lit(0))
        .cast("bigint")
        .alias("n_bigrams"),
        F.coalesce(F.sum(F.when(is_b, F.col("n") - 1)), F.lit(0))
        .cast("bigint")
        .alias("n_dup_bigrams"),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        "top_token_n",
        "n_bigrams",
        "n_dup_bigrams",
        (F.col("top_token_n").cast("double") / F.col("n_tokens").cast("double"))
        .alias("top_token_share"),
        F.when(
            F.col("n_bigrams") > 0,
            F.col("n_dup_bigrams").cast("double") / F.col("n_bigrams").cast("double"),
        ).alias("dup_bigram_ratio"),
    )


def heavy_hitters(tokens, col: str = "word", support: float = 0.02):
    """Two-pass exact heavy hitters over a token stream: pass 1
    collects candidates via the ``freqItems`` sketch, pass 2 exact-
    counts ONLY the candidates and applies the support threshold — the
    output equals the plain exact computation while the stream is
    never fully aggregated (the candidate list is model-sized, ≤1/s).

    The sketch runs at 0.9×``support``: freqItems' no-false-negative
    guarantee covers items with frequency STRICTLY ABOVE the sketch
    support, so the candidate pass must run below the filter threshold
    or an item sitting exactly on support·N could be missed.

    NOTE the candidate pass (``freqItems(...).collect()``) runs EAGERLY
    at call time — merely building the returned frame triggers one
    Spark job, and the embedded candidate list snapshots the token
    source as of that moment (a mutated source would need a fresh
    call). Deliberate: the list is bounded by 1/support and embedding
    it keeps the exact pass a single broadcast-filter job; folding it
    into execution would add a join against a sketch-side frame for no
    gain on an immutable corpus.
    """
    from pyspark.sql import functions as F

    cands = tokens.freqItems([col], support * 0.9).collect()[0][0]
    total = tokens.agg(F.count("*").alias("tot"))
    if not cands:  # no token reaches the sketch threshold
        return tokens.limit(0).withColumn("n", F.lit(0).cast("bigint"))
    return (
        tokens.filter(F.col(col).isin(*cands))
        .groupBy(col)
        .agg(F.count("*").alias("n"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n") >= F.lit(support) * F.col("tot"))
        .select(col, "n")
    )


def unigram_surprisal(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """CCNet-style language-model quality signal with the LM trained
    on the corpus itself: each token's surprisal is -log10 of its
    corpus unigram probability, and a doc's score is the mean over
    its token stream → ``(doc_id, n_tokens, total_surprisal,
    mean_surprisal)``. Low mean = common boilerplate vocabulary;
    high mean = rare/garbled tokens — the two tails a curation pass
    trims.

    Cross-engine exactness: log10 is bit-identical between the JVM
    and DuckDB (unlike ln — see the catalog module docstring), and
    each token's surprisal is quantized to DECIMAL(18,6) BEFORE the
    per-doc sum, so the aggregation is exact decimal arithmetic and
    independent of partial-agg order; the mean is one double
    division at the end.

    Scale shape: vocabulary counts are one shuffle on token; the
    token stream then equi-joins the per-token surprisal table (the
    same join the tf-idf df computation makes) and aggregates per
    doc — no all-pairs, no driver-side vocabulary, the corpus total
    is a broadcast 1-row aggregate.
    """
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), " "), lambda x: x != "")
        ).alias("tok"),
    )
    vc = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    tot = vc.agg(F.sum("cnt").alias("total"))
    s6 = (
        F.round(
            -F.log10(F.col("cnt").cast("double") / F.col("total").cast("double")),
            6,
        )
        .cast("decimal(18,6)")
        .alias("s6")
    )
    surprisal = vc.crossJoin(F.broadcast(tot)).select("tok", s6)
    return (
        toks.join(surprisal, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("s6").cast("double").alias("total_surprisal"),
            (F.sum("s6").cast("double") / F.count("*")).alias("mean_surprisal"),
        )
    )


def perplexity_buckets(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """CCNet-style head/middle/tail perplexity bucketing: docs ranked
    by mean unigram surprisal (ascending — head = most-fluent third,
    the slice CCNet keeps) and split into three equal-size buckets by
    GLOBAL rank → ``(doc_id, mean_surprisal9, rk, bucket)``.

    Exactness: the ranking key is ``floor(mean surprisal * 1e9)``
    computed in pure integer/decimal arithmetic — the per-token
    surprisal is already an exact DECIMAL(18,6), so ``sum*1e6`` is an
    exact integer, and ``(sum*1e6*1000) div n_tokens`` is an exact
    integral division on both engines. No double is ever rounded
    (``round()`` of a double at a digit boundary is engine-dependent
    — Spark rounds the exact BigDecimal, DuckDB rounds in float
    arithmetic; this entry hit that boundary at sf0.001 on its first
    draft). Ties broken by doc_id — a total order, so rank and
    buckets are engine-independent. Bucket = ((rk-1)*3) div N rather
    than ntile(): same thirds, pure integer arithmetic.

    Scale shape: a naive rank is one row_number window over EVERYTHING
    on a single partition. This is the two-phase distributed rank
    (the ``sequence_pack`` cumsum pattern applied to ordering): docs
    are bucketed by the leading digits of the ranking key — monotone
    in the sort order, so blocks tile the global order — in-block
    ranks are partition-parallel windows, and only the per-block
    COUNTS (thousands of rows, not billions) cross the one-partition
    prefix window before a broadcast join-back. N is a 1-row
    broadcast aggregate."""
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), " "), lambda x: x != "")
        ).alias("tok"),
    )
    vc = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    tot = vc.agg(F.sum("cnt").alias("total"))
    s6 = (
        F.round(
            -F.log10(F.col("cnt").cast("double") / F.col("total").cast("double")),
            6,
        )
        .cast("decimal(18,6)")
        .alias("s6")
    )
    surprisal = vc.crossJoin(F.broadcast(tot)).select("tok", s6)
    per_doc = (
        toks.join(surprisal, "tok")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("s6").alias("sum6"))
    )
    # sum6 has scale 6, so sum6*1e6 is integer-valued; *1000 more and
    # an integral div by n gives floor(mean * 1e9) exactly. DECIMAL(38)
    # holds the intermediate far beyond any corpus size (1e13 tokens *
    # 10 max-surprisal * 1e9 = 1e23 << 1e38).
    m9 = F.expr(
        "CAST(CAST(sum6 * 1000000 AS DECIMAL(38,0)) * 1000 AS DECIMAL(38,0)) "
        "div n_tokens"
    ).alias("m9")
    d = per_doc.select("doc_id", m9)
    # m9 >= 0 (surprisal is -log10 of a probability), monotone block key
    d = d.withColumn("blk", F.expr("m9 div 10000000"))
    in_blk = Window.partitionBy("blk").orderBy("m9", "doc_id")
    d = d.withColumn("rn", F.row_number().over(in_blk).cast("bigint"))
    blk_cnt = d.groupBy("blk").agg(F.count("*").alias("blk_n"))
    prefix = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    blk_off = blk_cnt.select(
        "blk",
        F.coalesce(F.sum("blk_n").over(prefix), F.lit(0)).alias("blk_offset"),
    )
    n_tot = d.agg(F.count("*").alias("n"))
    rk = (F.col("blk_offset") + F.col("rn")).alias("rk")
    bkt = F.expr("((blk_offset + rn - 1) * 3) div n")
    label = (
        F.when(bkt == 0, "head").when(bkt == 1, "middle").otherwise("tail")
    )
    return (
        d.join(F.broadcast(blk_off), "blk")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "doc_id",
            F.col("m9").alias("mean_surprisal9"),
            rk,
            label.alias("bucket"),
        )
    )


def _word_counts(docs: DataFrame, text_col: str) -> DataFrame:
    toks = docs.select(
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), " "), lambda x: x != "")
        ).alias("w")
    )
    return toks.groupBy("w").agg(F.count("*").alias("c"))


def bpe_pair_counts(docs: DataFrame, text_col: str = "text", top: int = 32) -> DataFrame:
    """Step 1 of BPE tokenizer training: corpus-weighted counts of
    adjacent character pairs over the word-frequency table → the
    merge candidates, ranked (count desc, pair asc — deterministic
    ties). The word table, not the token stream, is what trains BPE —
    it is orders smaller than the corpus at any scale.

    Scale shape: one shuffle builds word counts (map-side combined),
    the pair explode is index-explode + scalar substring (the
    codegen-cheap form), and the final top-k is a bounded
    TakeOrderedAndProject."""
    wc = _word_counts(docs, text_col)
    pairs = wc.filter(F.length("w") >= 2).select(
        "c",
        F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"),
        "w",
    ).select(
        F.expr("substring(w, i, 1) || substring(w, i + 1, 1)").alias("pair"), "c"
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(top)
    )


BOUNDARY_MARK = "Ġ"  # 'Ġ' — GPT-2's word-start marker

def _boundary_words(docs: DataFrame, text_col: str) -> DataFrame:
    """Positional marked-word stream for the boundary-preserving BPE
    variant → ``(doc_id, pos, w)``. The RAW text (no lowercasing —
    case is information) splits on single spaces with empties KEPT:
    an empty piece at pos > 0 carries one space of a run, and each
    piece after the first is prefixed with ``BOUNDARY_MARK`` standing
    for the space that preceded it (GPT-2's Ġ convention). Every
    character of the original text therefore lives in exactly one
    marked word — the encode of this stream is invertible. Tabs and
    newlines are ordinary in-word characters (only the ASCII space is
    a word boundary, exactly the corpus separator)."""
    pieces = F.split(F.col(text_col), " ", -1)
    raw = docs.select("doc_id", F.posexplode(pieces).alias("pos", "piece"))
    marked = F.when(
        F.col("pos") > 0, F.concat(F.lit(BOUNDARY_MARK), F.col("piece"))
    ).otherwise(F.col("piece"))
    return raw.select("doc_id", "pos", marked.alias("w"))


def _boundary_word_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """Marked-word frequency table for boundary-mode training. Empty
    pieces (a doc's pos-0 piece when the text starts with a space)
    have no symbols and are excluded — they could contribute no pairs
    and the char-split expression assumes length >= 1."""
    return (
        _boundary_words(docs, text_col)
        .filter(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )


def bpe_train(
    docs: DataFrame, n_merges: int = 10, text_col: str = "text",
    boundary: bool = False,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Iterative BPE training as DataFrame ops: learn ``n_merges``
    merges from the corpus, greedily taking the most frequent
    adjacent symbol pair each round (count desc, ties by pair string)
    and merging it left-to-right in every word. Returns the ordered
    merge list (the MODEL — driver-held, like k-means centroids) and
    the final (w, c, syms) symbol table.

    With ``boundary=True`` the word table is the boundary-preserving
    marked stream (:func:`_boundary_words`): raw-case words carrying
    GPT-2's Ġ word-start marker, so the learned merges can absorb the
    marker into frequent word-initial sequences ("Ġt" + "he") exactly
    as GPT-2's tokenizer does, and :func:`bpe_decode` can restore the
    original spaces losslessly.

    The merge application is a Catalyst ``aggregate`` fold over the
    symbol array (append, or fuse with the accumulator's last element
    when it completes the pair) — standard BPE left-to-right greedy,
    no Python in the loop. Each round localCheckpoints the symbol
    table so the plan does not grow with iterations (the CC-loop
    pattern); only the single winning pair crosses to the driver per
    round."""
    chars = F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
    wc = (
        _boundary_word_counts(docs, text_col)
        if boundary
        else _word_counts(docs, text_col)
    )
    syms = (
        wc
        .select("w", "c", chars.alias("syms"))
        .localCheckpoint(eager=False)
    )
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        head = F.slice(F.col("syms"), 1, F.size("syms") - 1)
        tail = F.slice(F.col("syms"), 2, F.size("syms") - 1)
        pair_rows = (
            syms.filter(F.size("syms") >= 2)
            .select(
                "c",
                F.explode(
                    F.zip_with(head, tail, lambda a, b: F.struct(a.alias("x"), b.alias("y")))
                ).alias("p"),
            )
            .groupBy("p.x", "p.y")
            .agg(F.sum("c").alias("n"))
            .orderBy(F.desc("n"), F.asc("x"), F.asc("y"))
            .limit(1)
            .collect()
        )
        if not pair_rows:
            break
        x, y = pair_rows[0].x, pair_rows[0].y
        merges.append((x, y))
        merged = F.lit(x + y)
        fuse = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, s: F.when(
                (F.try_element_at(acc, F.lit(-1)) == F.lit(x)) & (s == F.lit(y)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(merged)
                ),
            ).otherwise(F.concat(acc, F.array(s))),
        )
        syms = syms.withColumn("syms", fuse).localCheckpoint(eager=False)
    return merges, syms


def bpe_encode(
    docs: DataFrame, merges: list[tuple[str, str]], text_col: str = "text",
    boundary: bool = False,
) -> DataFrame:
    """Apply a trained BPE merge list (the model from
    :func:`bpe_train`) to the corpus → ``(doc_id, n_words, n_tokens,
    encoded)`` with ``encoded`` the space-joined symbol stream and
    ``n_tokens`` its length. Completes the tokenizer lifecycle:
    ``bpe_pair_counts`` (candidates) → ``bpe_train`` (model) →
    ``bpe_encode`` (application).

    With ``boundary=True`` the stream is the boundary-preserving
    marked form (:func:`_boundary_words`): raw case, every original
    space absorbed into the following word as the Ġ marker, empty
    pieces kept (they carry runs of spaces). The encode is then
    INVERTIBLE — ``bpe_decode(..., boundary=True)`` restores the
    exact original text for any input that does not itself contain
    the marker character — and ``n_words`` counts split pieces
    (spaces + 1), not non-empty tokens.

    Merges are applied in rank order, each greedily left-to-right
    with the fused symbol blocking overlap ("aaa" + (a,a) → [aa, a])
    — exactly the fold :func:`bpe_train` uses, so encoding the
    training corpus reproduces the final training symbol table.
    Applying ranks sequentially equals the classic lowest-rank-first
    iteration: merging rank r never creates an adjacency of two
    pre-r symbols (merges only grow symbols), so earlier ranks never
    become applicable again.

    Scale shape: the model applies to the DISTINCT word table, not
    the token stream — Zipf makes the vocabulary orders smaller than
    the corpus, so the one Arrow-batched pandas UDF touches millions
    of rows where the corpus has trillions of tokens (no memo inside
    the UDF: its input is already distinct, every lookup would miss).
    The encoded words then equi-join back to the positional word
    stream (plain shuffle join on the word — at 100 TB both sides
    are huge but the join is 1:N on a well-spread key) and per-doc
    reassembly is one groupBy with an order-restoring array_sort,
    all JVM-side. Zero-token docs keep a row (0, 0, '') — the same
    all-docs contract as the independent golden generator.
    """
    from pyspark.sql.functions import pandas_udf

    merge_list = [(str(x), str(y)) for x, y in merges]

    @pandas_udf("array<string>")
    def enc(ws: pd.Series) -> pd.Series:
        def one(word: str) -> list[str]:
            syms = list(word)
            for x, y in merge_list:
                out: list[str] = []
                for s in syms:
                    if out and out[-1] == x and s == y:
                        out[-1] = x + y
                    else:
                        out.append(s)
                syms = out
            return syms

        return ws.map(one)

    if boundary:
        words = _boundary_words(docs, text_col)
    else:
        toks = F.filter(
            F.split(F.lower(F.col(text_col)), " "), lambda x: x != ""
        )
        words = docs.select("doc_id", F.posexplode(toks).alias("pos", "w"))
    table = words.select("w").distinct().select("w", enc("w").alias("syms"))
    ordered = F.array_sort(F.collect_list(F.struct("pos", "syms")))
    flat = F.flatten(F.transform(ordered, lambda s: s["syms"]))
    enc_agg = (
        words.join(table, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.size(flat).cast("bigint").alias("n_tokens"),
            F.concat_ws(" ", flat).alias("encoded"),
        )
    )
    return (
        docs.select("doc_id")
        .join(enc_agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce("encoded", F.lit("")).alias("encoded"),
        )
    )


def bpe_decode(
    encoded: DataFrame, encoded_col: str = "encoded",
    boundary: bool = False,
) -> DataFrame:
    """Invert :func:`bpe_encode` → ``(doc_id, decoded)``. BPE merges
    only CONCATENATE characters, so decoding a symbol stream is
    splitting on the token separator and re-concatenating — no model
    needed, map-only, one narrow projection. The inverse is exact up
    to the ONE documented loss: word boundaries. ``bpe_encode`` joins
    every word's symbols into a single space-separated stream, so the
    original inter-word spaces are indistinguishable from
    inter-symbol separators and cannot be restored —
    ``decode(encode(x))`` equals ``x`` lowercased with all whitespace
    removed (the normalization the round-trip property test pins).

    With ``boundary=True`` (inverting ``bpe_encode(...,
    boundary=True)``) the loss is ZERO: symbols re-concatenate and
    every Ġ marker translates back to the space it absorbed, so
    ``decode(encode(x)) == x`` exactly — raw case, leading/trailing/
    consecutive spaces, tabs and newlines included — for any ``x``
    that does not itself contain the marker character U+0120 (an
    input Ġ is indistinguishable from an absorbed space; the catalog
    entry surfaces this as a per-doc ``roundtrip_ok`` flag rather
    than guessing).

    Malformed input degrades predictably: symbols are validated only
    structurally (the split), not against a vocabulary — decoding a
    stream an arbitrary model produced still concatenates its
    symbols, which is the correct BPE semantics (detokenization never
    consults the merge table)."""
    joined = F.array_join(
        F.filter(F.split(F.col(encoded_col), " "), lambda s: s != ""),
        "",
    )
    if boundary:
        joined = F.translate(joined, BOUNDARY_MARK, " ")
    return encoded.select("doc_id", joined.alias("decoded"))


def bigram_surprisal(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-trained bigram-LM scoring (the CCNet-style perplexity
    quality filter, one conditioning level up from
    :func:`unigram_surprisal`): every doc scored by the surprisal of
    its token stream under P(tok | prev) estimated from the corpus
    itself → ``(doc_id, n_bigrams, total_surprisal,
    mean_surprisal)``. Docs with fewer than two tokens drop out (no
    bigram to score). Per-bigram surprisal is quantized to
    DECIMAL(18,6) BEFORE the per-doc sum (the cross-engine rule:
    decimal aggregation is exact and order-independent); log10 is
    the engine-safe log.

    Scoring the training corpus with its own MLE counts means every
    bigram has count >= 1 — no smoothing needed, probabilities never
    zero. Context counts c(prev) are derived from the bigram table
    itself (sum over continuations), not a second stream pass.

    Scale shape: one map-only explode builds the bigram stream
    (zip_with over the token array — no positional self-join), one
    shuffle counts bigrams, the context sum reuses that aggregate,
    and the stream then equi-joins the probability table on the
    bigram key — the tf-idf df-join shape, linear at any corpus
    size, no all-pairs anywhere.
    """
    toks = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda x: x != "")
    base = docs.select("doc_id", toks.alias("_t")).filter(F.size("_t") >= 2)
    head = F.slice(F.col("_t"), 1, F.size("_t") - 1)
    tail = F.slice(F.col("_t"), 2, F.size("_t") - 1)
    bigrams = base.select(
        "doc_id",
        F.explode(
            F.zip_with(
                head, tail, lambda a, b: F.struct(a.alias("prev"), b.alias("tok"))
            )
        ).alias("bg"),
    ).select("doc_id", "bg.prev", "bg.tok")
    c2 = bigrams.groupBy("prev", "tok").agg(F.count("*").alias("n2"))
    c1 = c2.groupBy("prev").agg(F.sum("n2").alias("n1"))
    s6 = (
        F.round(
            -F.log10(F.col("n2").cast("double") / F.col("n1").cast("double")), 6
        )
        .cast("decimal(18,6)")
        .alias("s6")
    )
    prob = c2.join(c1, "prev").select("prev", "tok", s6)
    return (
        bigrams.join(prob, ["prev", "tok"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("s6").cast("double").alias("total_surprisal"),
            (F.sum("s6").cast("double") / F.count("*")).alias("mean_surprisal"),
        )
    )
