"""CNF query planner — lowers the parse tree to a DataFrame join DAG.

This is the Spark shape of the reference's posting-list algebra
(`hadoop_wiki_search/util/QueryParser.java:96-325`, SURVEY.md §2.4):
a sort-merge join engine over docId-sorted posting lists becomes a
DAG of equi-joins on ``doc_id`` that Catalyst/AQE lowers to
broadcast/sort-merge joins from runtime statistics.

Algebra (wrapper types 0=normal, 1=negated, 2=ignored stop word):

* J1 intersect (AND)  → inner join; ``score = sA*sB``; when both
  operands still carry positions (only phrase members do), the boost
  ``score = (sA*sB)^(1 + 1/minDist)`` applies
  (`QueryParser.java:250-253`, phraseFactor=1.0).
* J2 merge (OR)       → full-outer join; ``score = coalesce(sA,0)+coalesce(sB,0)``.
* J3 difference       → left-anti join.
* J4/J5 negation algebra → case analysis in Python, lowering to the
  three joins above (De Morgan rewrites, `QueryParser.java:122-139,281-298`).
* J6 smallest-first AND → operands ordered by *estimated* cardinality
  from the index's df statistics instead of the reference's
  materialized ``list.size()`` (`QueryParser.java:159-164`) — the
  plan stays lazy; no action per operand.
* J7 n-ary OR → when every operand is positive, collapses to
  ``unionByName + groupBy(doc_id).sum(score)`` — one shuffle instead
  of a join per operand (strictly better than the reference's
  divide-and-conquer merge); mixed signs fold pairwise.

Deviations (SURVEY.md §2.4 "semantic caveats", risk register §7):

* Phrase min-distance is the exact min pairwise distance over
  absolute positions via nested higher-order array functions —
  the reference's skip-walk over delta-encoded positions
  (`QueryParser.java:207-249`) approximates the same quantity.
* A root-level negated result is materialized by anti-joining the
  document universe (score 0); the reference returns the negated
  list unmaterialized.
* docIds compare as BIGINT, not string — membership identical, only
  internal merge order differs.

Scale: every leaf is a parquet scan with ``term = 'w'`` pushed down;
the index layout (range-partitioned + sorted by term) prunes to one
partition per term — the distributed form of the reference's
boundary-file pruning (`code/query/QueryMapred.java:126-162`). Joins
key on ``doc_id``; posting lists for single terms are small relative
to the cluster, so AQE broadcasts the small side. Nothing is
collected on the driver.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_search_spark.plans import parser as P

PHRASE_FACTOR = 1.0  # QueryParser.java:45

_RESULT_SCHEMA = "doc_id BIGINT, score DOUBLE, positions ARRAY<INT>"


def _phrase_score_expr() -> F.Column:
    """Phrase-proximity score over the four staged columns
    ``_sa, _sb, _pa, _pb`` — shared verbatim by the pairwise join form
    (:meth:`SearchEngine._intersect_lists`) and the fused single-scan
    form (:meth:`SearchEngine._phrase_pair_fused`), so the two plans
    cannot drift in arithmetic.

    Exact min pairwise nonzero |pa - pb| in O((tf_a+tf_b)·log)
    instead of materializing the O(tf_a·tf_b) cross product
    (a per-row memory blowup for high-tf terms in long docs):
    tag each position with its side, merge-sort, and take the
    min over cross-side gaps at offsets 1 and 2. Offset 2 is
    required — positions are distinct within one side, so a
    value can appear at most twice (once per side), and the
    optimal cross pair is separated by at most two equal-value
    duplicates; the both-duplicates case is already covered at
    offset 1 by the inner duplicate pair.
    Zero distances are excluded: the reference's walk skips
    equal positions (QueryParser.java:244-247), which also
    guards the 1/minDist boost against division by zero when
    a phrase repeats a word.
    Side is encoded in the low bit (pos*2 + side) so the merge
    sorts primitive longs, not structs — ~30x cheaper sort in
    practice (measured 1-3s vs 40s struct-sort vs 104-117s
    cross-product on 2000 rows of tf=1500).

    Built as ONE ``F.expr`` SQL string (r12 optimization): the
    Column/lambda form issued ~60 py4j round trips (~0.13 s of
    driver latency per fresh plan — the dominant construct cost of
    every phrase query); the parsed string resolves to the SAME
    optimized plan, pinned canonically-equal and value-equal to the
    retained Column form by ``tests/test_expr_twins.py``.

    NOTE: production paths apply the score through
    :func:`_apply_phrase_score` (staged projections) — this single
    expression inlines the merged-sort ``tagged`` array ~10× and the
    engine re-SORTS it per reference per row (measured: 0.38 s/pass
    over 3,159 docs at sf0.1, the whole prepared-serving cost of the
    phrase headline; Catalyst does not CSE across the duplicates
    here, and CollapseProject would re-inline a simple alias). This
    form remains the semantic reference the staged pipeline is
    value-pinned against."""
    return F.expr(_PHRASE_SCORE_SQL)


def _apply_phrase_score(df: DataFrame) -> DataFrame:
    """(doc_id, _sa, _sb, _pa, _pb) → (doc_id, score) with each
    expensive intermediate evaluated ONCE per row via staged
    projections: P1 materializes the merged-sorted side-tagged
    position array (``_tg`` — the one array_sort), P2 the min
    cross-side gap (``_md``), P3 the boosted score. CollapseProject
    keeps the stages separate (the staged attributes are non-cheap
    and multiply referenced), so the single-expression form's ~10
    re-sorts of ``tagged`` per row collapse to one — measured
    0.38 → ~0.05 s per prepared pass on the sf0.1 phrase headline.
    Value-pinned equal to :func:`_phrase_score_expr` by
    ``tests/test_expr_twins.py`` and the search oracle gates."""
    staged = df.select(
        "doc_id", "_sa", "_sb", F.expr(_PHRASE_TAGGED_SQL).alias("_tg")
    )
    gapped = staged.select(
        "doc_id", "_sa", "_sb", F.expr(_PHRASE_MIN_DIST_SQL).alias("_md")
    )
    return gapped.select(
        "doc_id",
        F.expr(
            "CASE WHEN _md IS NOT NULL "
            f"THEN power(_sa * _sb, {PHRASE_FACTOR!r}D + 1.0D / _md) "
            "ELSE _sa * _sb END"
        ).alias("score"),
    )


# The merged side-tagged position array (one array_sort). Literal-
# type notes mirroring the Column form: ``1.0D`` keeps the exponent
# arithmetic in DOUBLE (a bare ``1.0`` parses as DECIMAL(2,1) in
# Spark SQL); the side tag ``* 2 (+ 1)`` stays an INT literal exactly
# like ``F.lit(2)`` so analyzer type promotion is identical.
_PHRASE_TAGGED_SQL = (
    "array_sort(concat("
    "transform(_pa, x -> CAST(x AS BIGINT) * 2), "
    "transform(_pb, y -> CAST(y AS BIGINT) * 2 + 1)))"
)


def _phrase_gaps_sql(src: str, off: int) -> str:
    # greatest(..., 0): a tf-only side (empty positions array,
    # e.g. an externally built index) makes the merged array
    # shorter than the offset — slice must see length 0, not a
    # negative length (error)
    length = f"greatest(size({src}) - {off}, 0)"
    return (
        f"zip_with(slice({src}, 1, {length}), "
        f"slice({src}, {off + 1}, {length}), "
        "(u, v) -> CASE WHEN (u + v) % 2 = 1 "  # low bits differ -> cross-side
        "AND shiftright(v, 1) != shiftright(u, 1) "
        "THEN shiftright(v, 1) - shiftright(u, 1) END)"
    )


def _phrase_min_dist_sql(src: str) -> str:
    # array_min skips nulls (same-side or zero-distance gaps)
    return f"array_min(concat({_phrase_gaps_sql(src, 1)}, {_phrase_gaps_sql(src, 2)}))"


# staged form: min gap over a materialized ``_tg`` column
_PHRASE_MIN_DIST_SQL = _phrase_min_dist_sql("_tg")


def _phrase_score_sql() -> str:
    """The :func:`_phrase_score_expr` expression as Spark SQL text —
    the single-expression reference form (``tagged`` inlined at every
    reference)."""
    min_dist = _phrase_min_dist_sql(_PHRASE_TAGGED_SQL)
    return (
        f"CASE WHEN {min_dist} IS NOT NULL "
        f"THEN power(_sa * _sb, {PHRASE_FACTOR!r}D + 1.0D / {min_dist}) "
        "ELSE _sa * _sb END"
    )


_PHRASE_SCORE_SQL = _phrase_score_sql()


def _phrase_score_expr_column_form() -> F.Column:
    """The original Column/lambda construction of
    :func:`_phrase_score_expr`, retained as the equivalence REFERENCE:
    ``tests/test_expr_twins.py`` pins the production SQL-string form
    canonically plan-equal and value-equal to this tree on every run,
    so the two can never drift (and a Spark upgrade that changes
    either parser or Column semantics fails loudly)."""
    tagged = F.array_sort(
        F.concat(
            F.transform("_pa", lambda x: x.cast("bigint") * 2),
            F.transform("_pb", lambda y: y.cast("bigint") * 2 + 1),
        )
    )
    n = F.size(tagged)

    def _cross_gaps(off: int) -> F.Column:
        length = F.greatest(n - off, F.lit(0))
        return F.zip_with(
            F.slice(tagged, 1, length),
            F.slice(tagged, off + 1, length),
            lambda u, v: F.when(
                ((u + v) % 2 == 1)  # low bits differ -> cross-side
                & (F.shiftright(v, 1) != F.shiftright(u, 1)),
                F.shiftright(v, 1) - F.shiftright(u, 1),
            ),
        )

    min_dist = F.array_min(F.concat(_cross_gaps(1), _cross_gaps(2)))
    prod = F.col("_sa") * F.col("_sb")
    return F.when(
        min_dist.isNotNull(),
        F.pow(prod, F.lit(PHRASE_FACTOR) + 1.0 / min_dist),
    ).otherwise(prod)


@dataclass
class _Wrapped:
    """PostingListWrapper (`QueryParser.java:63-70`): a posting
    relation + its wrapper type + a lazy cardinality estimate."""

    type: int  # 0 normal / 1 negated / 2 ignored
    df: DataFrame  # (doc_id, score, positions)
    has_positions: bool
    est: float  # estimated row count, for J6 join ordering


class SearchEngine:
    """Evaluate CNF boolean queries against a postings index.

    Parameters
    ----------
    postings : (term, doc_id, tf, positions, score) index DataFrame
        (see `operators/index.py:build_postings`).
    documents : corpus DataFrame with ``doc_id`` — the universe used
        to materialize root-level negations.
    stopwords : iterable of *raw* stop words; stemmed internally for
        leaf typing, like the reference query side
        (`code/query/QueryMapred.java:103-122`).
    """

    # Bound on the driver-cached vocabulary. Heaps' law keeps real
    # vocabularies far below this at fixture scale; at 100 TB the cap
    # keeps only the most frequent terms — exactly the ones whose df
    # matters for J6 ordering. A term absent from the cache estimates
    # df=0, i.e. "rare, evaluate first", which is the right bias.
    _VOCAB_CACHE_MAX = 1_000_000

    def __init__(
        self,
        spark: SparkSession,
        postings: DataFrame,
        documents: DataFrame | None = None,
        stopwords=(),
        stem=P.porter_stem,
        vocab: DataFrame | dict | None = None,
    ) -> None:
        import threading

        self.spark = spark
        self.postings = postings
        self.documents = documents
        self.stem = stem or (lambda w: w)
        self.stopwords = frozenset(self.stem(w) for w in stopwords)
        # ``vocab``: a published (term, df) stats table (see
        # build_index_tables) or a prebuilt dict — seeds the J6 join-
        # ordering cache so the engine's first query pays no collect;
        # omitted → collected lazily from the postings on first use.
        if vocab is None:
            self._vocab: dict[str, int] | None = None
        elif isinstance(vocab, dict):
            self._vocab = {str(t): int(d) for t, d in vocab.items()}
        else:
            self._vocab = self._collect_vocab(vocab, *vocab.columns[:2])
        self._vocab_lock = threading.Lock()

    # ---- statistics (J6 ordering) ------------------------------------

    def _df_stats(self, terms: set[str]) -> dict[str, int]:
        """Document frequency per query term from a driver-cached
        vocabulary — the Spark form of the reference's materialized
        ``list.size()`` sort (`QueryParser.java:159-164`), but with
        ZERO Spark actions at query time: the (term, df) vocabulary is
        collected once per engine lifetime (one tiny term-keyed
        aggregate — vocabulary stats, the table an index build
        publishes anyway) and every subsequent ``plan()`` orders its
        joins from the in-memory dict. Estimation error only ever
        affects join order, never results."""
        if not terms:
            return {}
        if self._vocab is None:
            with self._vocab_lock:
                if self._vocab is None:
                    from hadoop_search_spark.operators.index import vocab_stats

                    self._vocab = self._collect_vocab(
                        vocab_stats(self.postings), "term", "df"
                    )
        v = self._vocab
        return {t: v.get(t, 0) for t in terms}

    def _collect_vocab(self, vocab: DataFrame, term: str, df: str) -> dict[str, int]:
        """The one (term → df) collect behind both vocab paths: a
        published stats table (eager, in ``__init__``) and
        ``vocab_stats(postings)`` (lazy, on first use). At the cap it
        keeps the HIGHEST-df terms (they're the ones whose ordering
        matters for J6), term-ascending within equal df — without the
        tie-break, the subset kept at the cap boundary would be
        nondeterministic and could differ between a seeded and a
        lazily-seeded engine."""
        rows = (
            vocab.orderBy(F.desc(df), F.asc(term)).limit(self._VOCAB_CACHE_MAX).collect()
        )
        return {r[0]: int(r[1]) for r in rows}

    # ---- leaves ------------------------------------------------------

    def _empty(self) -> DataFrame:
        return self.spark.createDataFrame([], _RESULT_SCHEMA)

    def _leaf_df(self, postings: DataFrame, term: str) -> DataFrame:
        return postings.filter(F.col("term") == term).select(
            "doc_id", "score", "positions"
        )

    # ---- algebra -----------------------------------------------------

    @staticmethod
    def _strip_positions(df: DataFrame) -> DataFrame:
        return df.select("doc_id", "score")

    def _intersect_lists(self, a: _Wrapped, b: _Wrapped) -> _Wrapped:
        """J1: inner join with phrase-proximity scoring."""
        if a.has_positions and b.has_positions:
            left = a.df.select("doc_id", F.col("score").alias("_sa"), F.col("positions").alias("_pa"))
            right = b.df.select("doc_id", F.col("score").alias("_sb"), F.col("positions").alias("_pb"))
            joined = left.join(right, "doc_id")
            out = _apply_phrase_score(joined)
        else:
            left = a.df.select("doc_id", F.col("score").alias("_sa"))
            right = b.df.select("doc_id", F.col("score").alias("_sb"))
            out = left.join(right, "doc_id").select(
                "doc_id", (F.col("_sa") * F.col("_sb")).alias("score")
            )
        return _Wrapped(P.NORMAL, out, False, min(a.est, b.est))

    def _phrase_pair_fused(
        self, postings: DataFrame, t1: str, t2: str, stats: dict[str, int]
    ) -> _Wrapped:
        """The two-word phrase AND as ONE pass over the postings
        relation: ``term IN (t1, t2)`` then a doc_id aggregation that
        pivots each side's (score, positions) and keeps docs holding
        BOTH terms — same rows and bit-identical scores as
        :meth:`_intersect_lists` over two leaves (shared
        :func:`_phrase_score_expr`), but the index is scanned once
        instead of once per side, and the doc_id equi-join becomes a
        partial-aggregated shuffle of just the two terms' postings.
        Measured at sf0.1 (local[32], min/median of 7 hot runs,
        values pinned equal): join form 205/274 ms → fused 193/211 ms
        — a real but modest win; the residual constant is per-job
        scheduling + result collect, shared by both forms. At scale
        the shape argument dominates: one pruned scan of two term
        partitions + one width-2 shuffle, vs two scans + a broadcast
        build whose cost grows with the posting list.

        Guarded to distinct terms: a repeated-word phrase must
        self-join (each (term, doc) row exists once, so the pivot
        would see one side)."""
        hits = postings.filter(F.col("term").isin(t1, t2)).select(
            "doc_id", "term", "score", "positions"
        )
        # max() pivots: exactly one row per (term, doc) exists by
        # index construction, so max IS the value (and stays
        # deterministic even if an external index violated that).
        # The both-terms gate counts DISTINCT terms, not rows — a
        # duplicated (term, doc) row in an external index must not
        # let a one-term doc through (row-count 2) or drop a genuine
        # two-term doc (row-count 3)
        agg = (
            hits.groupBy("doc_id")
            .agg(
                F.count_distinct(F.col("term")).alias("_n"),
                F.max(F.when(F.col("term") == t1, F.col("score"))).alias("_sa"),
                F.max(F.when(F.col("term") == t2, F.col("score"))).alias("_sb"),
                F.max(F.when(F.col("term") == t1, F.col("positions"))).alias("_pa"),
                F.max(F.when(F.col("term") == t2, F.col("positions"))).alias("_pb"),
            )
            .filter(F.col("_n") == 2)
        )
        out = _apply_phrase_score(agg)
        est = min(float(stats.get(t1, 0)), float(stats.get(t2, 0)))
        return _Wrapped(P.NORMAL, out, False, est)

    def _merge_lists(self, a: _Wrapped, b: _Wrapped) -> _Wrapped:
        """J2: full-outer union-merge, scores add on overlap."""
        left = self._strip_positions(a.df).withColumnRenamed("score", "_sa")
        right = self._strip_positions(b.df).withColumnRenamed("score", "_sb")
        out = left.join(right, "doc_id", "full_outer").select(
            "doc_id",
            (F.coalesce("_sa", F.lit(0.0)) + F.coalesce("_sb", F.lit(0.0))).alias("score"),
        )
        return _Wrapped(P.NORMAL, out, False, a.est + b.est)

    def _difference_lists(self, a: _Wrapped, b: _Wrapped) -> _Wrapped:
        """J3: docs in A not in B, keeping A's scores."""
        out = self._strip_positions(a.df).join(
            self._strip_positions(b.df).select("doc_id"), "doc_id", "left_anti"
        )
        return _Wrapped(P.NORMAL, out, False, a.est)

    def _and_pair(self, a: _Wrapped, b: _Wrapped) -> _Wrapped:
        """J4: AND with negation algebra (`QueryParser.java:122-139`)."""
        if a.type == P.IGNORED and b.type == P.IGNORED:
            return _Wrapped(P.IGNORED, self._empty(), False, 0.0)
        if a.type == P.IGNORED:
            return b
        if b.type == P.IGNORED:
            return a
        if a.type == P.NEGATED and b.type == P.NEGATED:
            m = self._merge_lists(a, b)  # -A and -B -> -(A ∪ B)
            return _Wrapped(P.NEGATED, m.df, False, m.est)
        if a.type == P.NORMAL and b.type == P.NORMAL:
            return self._intersect_lists(a, b)
        if a.type == P.NEGATED:
            return self._difference_lists(b, a)  # -A and B -> B - A
        return self._difference_lists(a, b)  # A and -B -> A - B

    def _or_pair(self, a: _Wrapped, b: _Wrapped) -> _Wrapped:
        """J5: OR with De Morgan rewrites (`QueryParser.java:281-298`)."""
        if a.type == P.IGNORED and b.type == P.IGNORED:
            return _Wrapped(P.IGNORED, self._empty(), False, 0.0)
        if a.type == P.IGNORED:
            return b
        if b.type == P.IGNORED:
            return a
        if a.type == P.NEGATED and b.type == P.NEGATED:
            i = self._intersect_lists(a, b)  # -A or -B -> -(A ∩ B)
            return _Wrapped(P.NEGATED, i.df, False, i.est)
        if a.type == P.NORMAL and b.type == P.NORMAL:
            return self._merge_lists(a, b)
        if a.type == P.NEGATED:
            d = self._difference_lists(a, b)  # -A or B -> -(A - B)
            return _Wrapped(P.NEGATED, d.df, False, d.est)
        d = self._difference_lists(b, a)  # A or -B -> -(B - A)
        return _Wrapped(P.NEGATED, d.df, False, d.est)

    # ---- tree evaluation --------------------------------------------

    def _evaluate(
        self, node: P.Node, postings: DataFrame, stats: dict[str, int]
    ) -> _Wrapped:
        if isinstance(node, P.Word):
            return _Wrapped(
                P.NORMAL,
                self._leaf_df(postings, node.term),
                True,
                float(stats.get(node.term, 0)),
            )
        if isinstance(node, P.ExceptWord):
            return _Wrapped(
                P.NEGATED,
                self._leaf_df(postings, node.term),
                True,
                float(stats.get(node.term, 0)),
            )
        if isinstance(node, P.StopWord):
            return _Wrapped(P.IGNORED, self._empty(), False, 0.0)
        if isinstance(node, P.And):
            if (
                len(node.children) == 2
                and all(isinstance(c, P.Word) for c in node.children)
                and node.children[0].term != node.children[1].term
            ):
                # the common two-word phrase: fuse both leaves into one
                # scan + one aggregation (see _phrase_pair_fused);
                # J6 ordering is moot for a symmetric pair
                return self._phrase_pair_fused(
                    postings,
                    node.children[0].term,
                    node.children[1].term,
                    stats,
                )
            children = [self._evaluate(c, postings, stats) for c in node.children]
            if len(children) == 1:
                c = children[0]
                # single-operand AND copies without positions
                # (doAnd low==high, QueryParser.java:150-157)
                return _Wrapped(c.type, self._strip_positions(c.df), False, c.est)
            # J6: smallest estimated list first
            children.sort(key=lambda w: w.est)
            acc = children[0]
            for nxt in children[1:]:
                acc = self._and_pair(acc, nxt)
            return acc
        if isinstance(node, P.Or):
            # doOr's recursion base copies every operand without
            # positions (QueryParser.java:267-275) — phrase proximity
            # never applies across OR operands, only inside a phrase AND.
            children = [
                _Wrapped(c.type, self._strip_positions(c.df), False, c.est)
                for c in (self._evaluate(ch, postings, stats) for ch in node.children)
            ]
            if len(children) == 1:
                acc = children[0]
            elif all(c.type == P.NORMAL for c in children):
                # J7 fast path: one union + one aggregation shuffle
                unioned = self._strip_positions(children[0].df)
                for c in children[1:]:
                    unioned = unioned.unionByName(self._strip_positions(c.df))
                acc = _Wrapped(
                    P.NORMAL,
                    unioned.groupBy("doc_id").agg(F.sum("score").alias("score")),
                    False,
                    sum(c.est for c in children),
                )
            else:
                acc = children[0]
                for nxt in children[1:]:
                    acc = self._or_pair(acc, nxt)
            if node.negated:
                acc = _Wrapped(1 - acc.type if acc.type != P.IGNORED else P.IGNORED,
                               acc.df, acc.has_positions, acc.est)
            return acc
        raise TypeError(f"unknown node {node!r}")

    # ---- public API --------------------------------------------------

    def plan(self, query: str) -> DataFrame:
        """Lower ``query`` to a (doc_id, score) DataFrame, unranked —
        with ZERO blocking Spark actions on the query path (after the
        engine's one-time vocabulary collect): parse, order, and wire
        the join DAG entirely on the driver, lazily.

        Each leaf filters the shared postings frame on its own term —
        the Spark form of the reference's map-side semi-join (J8,
        `code/query/QueryMapred.java:56-61`): a published index scan
        sees ``term = 'w'`` pushed to parquet (file-level range
        pruning + row-group min/max), and a caller-persisted postings
        frame serves the filter from its local cache. Nothing is
        persisted or collected per query — per-query state lives only
        in the returned plan.

        Thread-safe: one engine instance serves concurrent queries
        (the bench drives exactly that); the only shared mutable state
        is the once-initialized vocabulary dict."""
        tree = P.parse_query(query, self.stopwords, stem=self.stem)
        terms = P.query_terms(tree)
        postings = self.postings
        stats = self._df_stats(terms)
        result = self._evaluate(tree, postings, stats)
        if result.type == P.IGNORED:
            return self._empty().select("doc_id", "score")
        if result.type == P.NEGATED:
            # root negation: complement against the document universe
            # (documented deviation — the reference returns the negated
            # list unmaterialized, `QueryParser.java` root handling)
            if self.documents is None:
                return self._empty().select("doc_id", "score")
            return (
                self.documents.select("doc_id")
                .join(result.df.select("doc_id"), "doc_id", "left_anti")
                .select("doc_id", F.lit(0.0).alias("score"))
            )
        return self._strip_positions(result.df)

    def search(self, query: str) -> DataFrame:
        """Ranked results: (doc_id, score), score desc / doc_id asc
        (reference O2, ties broken deterministically)."""
        return self.plan(query).orderBy(F.desc("score"), F.asc("doc_id"))


def exact_phrase_docs(postings: DataFrame, terms: list[str]) -> DataFrame:
    """Exact-adjacency phrase match → ``(doc_id, n_phrase)`` for docs
    where ``terms`` occur at consecutive positions, with the
    occurrence count. Beyond the reference, whose phrases are *soft*
    proximity-weighted ANDs (`util/QueryParser.java:357-368`,
    SURVEY.md §2.4) — this is the strict complement users of a search
    engine also expect ("quoted" phrase semantics).

    Plan shape: one doc_id equi-join per phrase word over the
    term-pruned index scan (term predicates reach parquet min/max
    pruning), then a pure higher-order-function count — for each
    start position p of the first term, every later term i must hold
    p+i. No UDF, no explode: position arrays never leave the JVM and
    the join fan-in per doc is exactly ``len(terms)`` rows. At scale
    this is the same distributed join shape as the engine's AND path;
    rare-term-first join ordering falls out of AQE runtime stats."""
    from functools import reduce

    if not terms:
        raise ValueError("empty phrase")
    base = postings.filter(F.col("term") == terms[0]).select(
        "doc_id", F.col("positions").alias("p0")
    )
    for i, t in enumerate(terms[1:], start=1):
        base = base.join(
            postings.filter(F.col("term") == t).select(
                "doc_id", F.col("positions").alias(f"p{i}")
            ),
            "doc_id",
        )
    starts = F.filter(
        F.col("p0"),
        lambda p: reduce(
            lambda acc, i: acc & F.exists(F.col(f"p{i}"), lambda q: q == p + i),
            range(1, len(terms)),
            F.lit(True),
        ),
    )
    return base.select("doc_id", F.size(starts).alias("n_phrase")).filter(
        F.col("n_phrase") > 0
    )
