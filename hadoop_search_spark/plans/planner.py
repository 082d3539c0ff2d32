"""CNF query planner — lowers the parse tree to ONE SQL statement.

This is the Spark shape of the reference's posting-list algebra
(`hadoop_wiki_search/util/QueryParser.java:96-325`, SURVEY.md §2.4).
The reference evaluates a whole CNF query as one merge over
docId-sorted posting lists; here a query is one
``spark.sql(text, args=…)`` statement. The query terms are bound
parameters (``:t0``, ``:t1``, …), never text spliced into the
statement, so every CNF shape has one stable text. The statement:

1. scans the postings once, ``WHERE term IN (:t0, :t1, …)`` pushed to
   parquet — the map-side semi-join on the query terms (J8,
   `code/query/QueryMapred.java:56-61`);
2. runs one ``GROUP BY doc_id`` that pivots each term's score
   (``_s{i}``), and the positions of phrase-boosted terms only
   (``_p{i}``), with ``max(CASE WHEN term = :t{i} …)``. Exactly one row
   per (term, doc) exists by index construction, so max IS the value.
   A single-term query reads its rows directly, with no aggregate;
3. evaluates the CNF algebra as per-document expressions over those
   pivots: a membership predicate (the WHERE clause) and a score.

Algebra (wrapper types 0=normal, 1=negated, 2=ignored stop word;
``m`` membership, ``s`` score):

* J1 intersect (AND)  → ``mA AND mB``, ``score = sA*sB``; when both
  operands are leaves still carrying positions (only phrase members
  do), the boost ``score = (sA*sB)^(1 + 1/minDist)`` applies
  (`QueryParser.java:250-253`, phraseFactor=1.0), computed in staged
  projections (``_tg``, ``_md``; see :func:`_phrase_stages`).
* J2 merge (OR)       → ``mA OR mB``,
  ``score = CASE WHEN mA THEN sA ELSE 0 END + CASE WHEN mB THEN sB ELSE 0 END``.
* J3 difference       → ``mA AND NOT mB``, score ``sA``.
* J4/J5 negation algebra → case analysis in Python over J1-J3 (De
  Morgan rewrites, `QueryParser.java:122-139,281-298`).
* J6 smallest-first AND → operands ordered by df from the driver-side
  vocabulary instead of the reference's materialized ``list.size()``
  (`QueryParser.java:159-164`); the order also picks which pair of a
  phrase gets the proximity boost, as in the reference.
* J7 n-ary OR → when every operand is positive, one sum of guarded
  scores; mixed signs fold pairwise.

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

Scale: the index layout (range-partitioned + sorted by term) prunes
the one scan to the query terms' partitions — the distributed form of
the reference's boundary-file pruning
(`code/query/QueryMapred.java:126-162`). The aggregate shuffles only
those terms' postings, partially aggregated per doc_id on the map
side. Nothing is collected on the driver.
"""

from __future__ import annotations

import threading
import uuid
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_search_spark.plans import parser as P

PHRASE_FACTOR = 1.0  # QueryParser.java:45

# every operand a stop word: an empty local relation, no scan
_EMPTY_SQL = (
    "SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS DOUBLE) AS score "
    "WHERE false"
)


def _phrase_score_expr() -> F.Column:
    """Phrase-proximity score over the four columns
    ``_sa, _sb, _pa, _pb`` as one expression — the semantic reference
    the engine's staged form (:func:`_phrase_stages`) is value-pinned
    against (``tests/test_expr_twins.py``).

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

    Built as ONE ``F.expr`` SQL string: the Column/lambda form
    (:func:`_phrase_score_expr_column_form`) issued ~60 py4j round
    trips per fresh plan; the parsed string resolves to the SAME
    optimized plan, pinned canonically-equal by
    ``tests/test_expr_twins.py``. This single expression inlines the
    merged-sort ``tagged`` array ~10× and Catalyst does not CSE the
    duplicates, so the engine evaluates it in stages instead."""
    return F.expr(_PHRASE_SCORE_SQL)


# The merged side-tagged position array (one array_sort). Literal-
# type notes mirroring the Column form: ``1.0D`` keeps the exponent
# arithmetic in DOUBLE (a bare ``1.0`` parses as DECIMAL(2,1) in
# Spark SQL); the side tag ``* 2 (+ 1)`` stays an INT literal exactly
# like ``F.lit(2)`` so analyzer type promotion is identical.
def _phrase_tagged_sql(pa: str, pb: str) -> str:
    return (
        "array_sort(concat("
        f"transform({pa}, x -> CAST(x AS BIGINT) * 2), "
        f"transform({pb}, y -> CAST(y AS BIGINT) * 2 + 1)))"
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


def _phrase_boost_sql(sa: str, sb: str, md: str) -> str:
    return (
        f"CASE WHEN {md} IS NOT NULL "
        f"THEN power({sa} * {sb}, {PHRASE_FACTOR!r}D + 1.0D / {md}) "
        f"ELSE {sa} * {sb} END"
    )


_PHRASE_SCORE_SQL = _phrase_boost_sql(
    "_sa", "_sb", _phrase_min_dist_sql(_phrase_tagged_sql("_pa", "_pb"))
)


def _phrase_stages(pairs: list[tuple[int, int]]) -> list[str]:
    """The staged phrase projections for boosted pivot-slot pairs:
    first the merged-sorted side-tagged position array (``_tg`` — the
    one array_sort per row), then its min cross-side gap (``_md``);
    the score reads ``_md`` (:func:`_phrase_boost_sql`). CollapseProject
    keeps the stages apart (each staged attribute is non-cheap and
    referenced more than once), so the single expression's ~10
    re-sorts per row collapse to one — measured 0.38 → ~0.05 s per
    prepared pass on the sf0.1 phrase headline. A second pair in one
    query gets the suffix 1 (``_tg1``, ``_md1``), and so on."""
    if not pairs:
        return []
    sfx = [str(k or "") for k in range(len(pairs))]
    return [
        ", ".join(
            f"{_phrase_tagged_sql(f'_p{a}', f'_p{b}')} AS _tg{x}"
            for (a, b), x in zip(pairs, sfx)
        ),
        ", ".join(f"{_phrase_min_dist_sql(f'_tg{x}')} AS _md{x}" for x in sfx),
    ]


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


@dataclass(frozen=True)
class _Wrapped:
    """PostingListWrapper (`QueryParser.java:63-70`) as per-document
    SQL over the pivot row: membership ``m``, score ``s`` (meaningful
    where ``m`` holds), the pivot slot of a leaf that still carries
    positions, and a cardinality estimate for J6 ordering."""

    type: int  # 0 normal / 1 negated / 2 ignored
    m: str = "false"
    s: str = "0.0D"
    slot: int | None = None
    est: float = 0.0


_IGNORED = _Wrapped(P.IGNORED)


class _Lowering:
    """One query's lowering: term slots (bound as ``:t{i}``), the
    slots whose positions are pivoted, and the boosted phrase pairs."""

    def __init__(self, stats: dict[str, int]) -> None:
        self.stats = stats
        self.slots: dict[str, int] = {}
        self.positions: set[int] = set()
        self.pairs: list[tuple[int, int]] = []

    # ---- algebra -----------------------------------------------------

    def _leaf(self, type: int, term: str) -> _Wrapped:
        i = self.slots.setdefault(term, len(self.slots))
        est = float(self.stats.get(term, 0))
        return _Wrapped(type, f"_s{i} IS NOT NULL", f"_s{i}", i, est)

    def _intersect(self, a: _Wrapped, b: _Wrapped) -> _Wrapped:
        """J1, with the phrase boost when both sides carry positions."""
        if a.slot is not None and b.slot is not None:
            md = f"_md{len(self.pairs) or ''}"
            self.pairs.append((a.slot, b.slot))
            self.positions |= {a.slot, b.slot}
            s = f"({_phrase_boost_sql(a.s, b.s, md)})"
        else:
            s = f"({a.s} * {b.s})"
        return _Wrapped(P.NORMAL, f"({a.m} AND {b.m})", s, None, min(a.est, b.est))

    @staticmethod
    def _merge(*ws: _Wrapped) -> _Wrapped:
        """J2 (and J7 over n positive operands): scores add on overlap."""
        m = " OR ".join(w.m for w in ws)
        s = " + ".join(f"CASE WHEN {w.m} THEN {w.s} ELSE 0.0D END" for w in ws)
        return _Wrapped(P.NORMAL, f"({m})", f"({s})", None, sum(w.est for w in ws))

    @staticmethod
    def _difference(a: _Wrapped, b: _Wrapped) -> _Wrapped:
        """J3: docs in A not in B, keeping A's scores."""
        return _Wrapped(P.NORMAL, f"({a.m} AND NOT {b.m})", a.s, None, a.est)

    def _and_pair(self, a: _Wrapped, b: _Wrapped) -> _Wrapped:
        """J4: AND with negation algebra (`QueryParser.java:122-139`)."""
        if b.type == P.IGNORED:
            return a
        if a.type == P.IGNORED:
            return b
        if a.type == P.NEGATED and b.type == P.NEGATED:
            return replace(self._merge(a, b), type=P.NEGATED)  # -A and -B -> -(A ∪ B)
        if a.type == P.NORMAL and b.type == P.NORMAL:
            return self._intersect(a, b)
        if a.type == P.NEGATED:
            return self._difference(b, a)  # -A and B -> B - A
        return self._difference(a, b)  # A and -B -> A - B

    def _or_pair(self, a: _Wrapped, b: _Wrapped) -> _Wrapped:
        """J5: OR with De Morgan rewrites (`QueryParser.java:281-298`)."""
        if b.type == P.IGNORED:
            return a
        if a.type == P.IGNORED:
            return b
        if a.type == P.NEGATED and b.type == P.NEGATED:
            return replace(self._intersect(a, b), type=P.NEGATED)  # -A or -B -> -(A ∩ B)
        if a.type == P.NORMAL and b.type == P.NORMAL:
            return self._merge(a, b)
        if a.type == P.NEGATED:
            return replace(self._difference(a, b), type=P.NEGATED)  # -A or B -> -(A - B)
        return replace(self._difference(b, a), type=P.NEGATED)  # A or -B -> -(B - A)

    # ---- tree evaluation --------------------------------------------

    def evaluate(self, node: P.Node) -> _Wrapped:
        if isinstance(node, P.Word):
            return self._leaf(P.NORMAL, node.term)
        if isinstance(node, P.ExceptWord):
            return self._leaf(P.NEGATED, node.term)
        if isinstance(node, P.StopWord):
            return _IGNORED
        if isinstance(node, P.And):
            children = [self.evaluate(c) for c in node.children]
            if len(children) == 1:
                # single-operand AND copies without positions
                # (doAnd low==high, QueryParser.java:150-157)
                return replace(children[0], slot=None)
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
            children = [replace(self.evaluate(c), slot=None) for c in node.children]
            if len(children) > 1 and all(c.type == P.NORMAL for c in children):
                acc = self._merge(*children)  # J7
            else:
                acc = children[0]
                for nxt in children[1:]:
                    acc = self._or_pair(acc, nxt)
            if node.negated and acc.type != P.IGNORED:
                acc = replace(acc, type=1 - acc.type)
            return acc
        raise TypeError(f"unknown node {node!r}")

    # ---- statement ---------------------------------------------------

    def statement(self, root: _Wrapped, postings: str, documents: str | None) -> str:
        """The one SQL text for ``root`` over the named views."""
        if root.type == P.IGNORED or (root.type == P.NEGATED and documents is None):
            return _EMPTY_SQL
        n = len(self.slots)
        if n == 1:
            # one term: (term, doc) rows are the pivot rows already
            cols = ["score AS _s0"] + ["positions AS _p0"] * bool(self.positions)
            src = f"SELECT doc_id, {', '.join(cols)} FROM {postings} WHERE term = :t0"
        else:
            cols = [f"max(CASE WHEN term = :t{i} THEN score END) AS _s{i}" for i in range(n)]
            cols += [
                f"max(CASE WHEN term = :t{i} THEN positions END) AS _p{i}"
                for i in sorted(self.positions)
            ]
            marks = ", ".join(f":t{i}" for i in range(n))
            src = (
                f"SELECT doc_id, {', '.join(cols)} FROM {postings} "
                f"WHERE term IN ({marks}) GROUP BY doc_id"
            )
        rows = f"SELECT * FROM ({src}) WHERE {root.m}"
        if root.type == P.NEGATED:
            # root negation: complement against the document universe
            # (documented deviation — the reference returns the negated
            # list unmaterialized, `QueryParser.java` root handling)
            return (
                f"SELECT d.doc_id, 0.0D AS score FROM {documents} d "
                f"LEFT ANTI JOIN ({rows}) l ON d.doc_id = l.doc_id"
            )
        for stage in _phrase_stages(self.pairs):
            rows = f"SELECT *, {stage} FROM ({rows})"
        return f"SELECT doc_id, {root.s} AS score FROM ({rows})"


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
        self.spark = spark
        self.postings = postings
        self.documents = documents
        self.stem = stem or (lambda w: w)
        self.stopwords = frozenset(self.stem(w) for w in stopwords)
        # registered once per engine: every query's statement names
        # these views instead of re-wiring the frames
        tag = uuid.uuid4().hex
        self._views = [f"`_postings_{tag}`", None]
        postings.createOrReplaceTempView(f"_postings_{tag}")
        if documents is not None:
            self._views[1] = f"`_documents_{tag}`"
            documents.createOrReplaceTempView(f"_documents_{tag}")
        # ``vocab``: a published (term, df) stats table (see
        # build_index_tables) or a prebuilt dict — seeds the J6
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
        operands from the in-memory dict. Estimation error only ever
        affects evaluation order, never membership."""
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

    # ---- public API --------------------------------------------------

    def _sql(self, query: str, order: str = "") -> DataFrame:
        tree = P.parse_query(query, self.stopwords, stem=self.stem)
        low = _Lowering(self._df_stats(P.query_terms(tree)))
        text = low.statement(low.evaluate(tree), *self._views)
        args = {f"t{i}": t for t, i in low.slots.items()}
        return self.spark.sql(f"SELECT doc_id, score FROM ({text}){order}", args or None)

    def plan(self, query: str) -> DataFrame:
        """Lower ``query`` to a (doc_id, score) DataFrame, unranked —
        one parameterized SQL statement, with ZERO blocking Spark
        actions on the query path (after the engine's one-time
        vocabulary collect).

        A published index scan sees the ``term`` predicate pushed to
        parquet (file-level range pruning + row-group min/max), and a
        caller-persisted postings frame serves the scan from its cache.
        Nothing is persisted or collected per query.

        Thread-safe: one engine instance serves concurrent queries
        (the bench drives exactly that); the only shared mutable state
        is the once-initialized vocabulary dict."""
        return self._sql(query)

    def search(self, query: str) -> DataFrame:
        """Ranked results: (doc_id, score), score desc / doc_id asc
        (reference O2, ties broken deterministically)."""
        return self._sql(query, " ORDER BY score DESC, doc_id ASC")


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
