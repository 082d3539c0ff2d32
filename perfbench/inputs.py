"""Seeded inputs: a Wikipedia-style XML dump and the query streams.

Everything here is pure Python and a function of the seed alone, so one
seed gives a byte-identical dump and identical streams. The program under
test only ever sees the dump file and the query strings.

The dump's clean text is known exactly: every markup construct the
generator emits (links, bold, headings, templates, refs) either keeps a
known token or is dropped whole by the wiki-markup stripper. That lets the
benchmark count the index's rows and ``sum(tf)`` in pure Python.
"""

from __future__ import annotations

import itertools
import random
import re
from collections import Counter
from dataclasses import dataclass
from typing import Callable
from xml.sax.saxutils import escape

VOCAB_SIZE = 20_000
MEAN_LEN = 240  # mean tokens per page
PAGE_SIZE = 10  # results per page, as SearchResult pages them
ZIPF_S = 1.0
NUM_STOP_WORDS = 100  # the reference's stop-word count (index.NUM_STOP_WORDS)

# Query terms come from rank bands below the stop words, so every band
# has a different posting-list length (selectivity).
BANDS = {"head": (150, 600), "torso": (600, 4000), "tail": (4000, 15000)}

_ONSETS = "b c d f g h j k l m n p r s t v w z br cl dr fl gr pl st tr sh ch th".split()
_VOWELS = "a e i o u ai ea io ou".split()
_CODAS = ["", "", "", "n", "r", "s", "l", "m", "x", "k"]
_KEYWORDS = {"and", "or", "not"}  # query-grammar words can't be terms
# the reference tokenizer's delimiters, as a regex (tokenize.DELIM_REGEX)
_DELIM = re.compile(r"""[\s,.:;'"()\[\]{}/<>!?\\|\-—–#$&=_*+]+""")


def make_vocab(rng: random.Random) -> list[str]:
    """``VOCAB_SIZE`` pronounceable words in rank order, shortest first,
    as frequent words are in natural text."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < VOCAB_SIZE:
        n = rng.choice((1, 1, 2, 2, 2, 3))
        w = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(n))
        w += rng.choice(_CODAS)
        if len(w) < 3 or w in seen or w in _KEYWORDS:
            continue
        seen.add(w)
        words.append(w)
    return sorted(words, key=len)


@dataclass
class Corpus:
    """The generated dump plus the facts the checks need."""

    xml: bytes
    vocab: list[str]
    doc_tokens: dict[int, list[str]]  # doc_id -> clean lowercase tokens
    text_bytes: int  # bytes of wiki text across all pages

    def stop_words(self) -> list[str]:
        """Top ``NUM_STOP_WORDS`` non-numeric tokens by (count desc, word desc) — the
        index's stop-word rule, counted independently."""
        counts = Counter(
            t for toks in self.doc_tokens.values() for t in toks if not t.isdigit()
        )
        ranked = sorted(counts.items(), key=lambda kv: (kv[1], kv[0]), reverse=True)
        return [w for w, _ in ranked[:NUM_STOP_WORDS]]

    def expected_index(self, stop: list[str], stem: Callable[[str], str]) -> tuple[int, int]:
        """(postings rows, sum(tf)) of the published index: non-numeric,
        alphanumeric tokens minus the (unstemmed) stop words, one row per
        distinct ``stem`` of them in each doc."""
        stopset = set(stop)
        rows = tf = 0
        for toks in self.doc_tokens.values():
            kept = [t for t in toks if t.isalnum() and not t.isdigit() and t not in stopset]
            rows += len({stem(t) for t in kept})
            tf += len(kept)
        return rows, tf


def _wiki_text(rng: random.Random, tokens: list[str]) -> tuple[str, list[str]]:
    """Dress ``tokens`` in wiki markup. Returns (wiki text, the clean
    tokens the markup stripper leaves, in order). One uniform draw per
    token picks at most one markup event for it."""
    out: list[str] = []
    clean: list[str] = []
    line: list[str] = []
    last = len(tokens) - 1
    for i, (tok, r) in enumerate(zip(tokens, [rng.random() for _ in tokens])):
        clean.append(tok)
        if r >= 0.16:
            line.append(tok)
        elif r < 0.03:  # piped link keeps its label
            line.append(f"[[{tok.capitalize()} {tokens[i - 1]}|{tok}]]")
        elif r < 0.05:
            line.append(f"'''{tok}'''")
        elif r < 0.06:
            line.append(f"[[{tok}]]")
        elif r < 0.09:
            line.append(tok.capitalize())
        elif r < 0.10:  # templates and refs are dropped with their words
            line.append(f"{tok} {{{{cite web|title={tokens[i - 1]}|year=2001}}}}")
        elif r < 0.11:
            line.append(f"{tok}<ref>{tokens[i - 1]} p. 12</ref>")
        elif r < 0.12:  # numbers are tokens the index drops
            year = str(1500 + int(r * 40000) % 500)
            line.append(f"{tok} {year}")
            clean.append(year)
        else:
            line.append(tok)
            if i == last:
                break
            out.append(" ".join(line) + ".")
            line = []
            if r < 0.124:
                out.append(f"\n== {tokens[i - 1].capitalize()} ==\n")
                clean.append(tokens[i - 1])
    if line:
        out.append(" ".join(line) + ".")
    return "\n".join(out), clean


def make_corpus(seed: int, num_pages: int) -> Corpus:
    """A ``<mediawiki>`` dump of ``num_pages`` pages whose words follow a
    Zipf law over a ``VOCAB_SIZE``-word vocabulary."""
    rng = random.Random(seed)
    vocab = make_vocab(rng)
    cum = list(itertools.accumulate(1.0 / (r ** ZIPF_S) for r in range(1, len(vocab) + 1)))
    parts = ["<mediawiki>\n"]
    doc_tokens: dict[int, list[str]] = {}
    text_bytes = 0
    for i in range(num_pages):
        doc_id = 1000 + 7 * i  # sparse, ascending ids
        n = max(20, int(rng.expovariate(1.0 / MEAN_LEN)) + 20)
        toks = rng.choices(vocab, cum_weights=cum, k=n)
        text, clean = _wiki_text(rng, toks)
        title = " ".join(rng.choices(vocab, k=2)).title()
        doc_tokens[doc_id] = [t for t in _DELIM.split(" ".join(clean).lower()) if t]
        body = escape(text)
        text_bytes += len(text.encode())
        parts.append(
            f"<page>\n<title>{escape(title)}</title>\n<ns>0</ns>\n<id>{doc_id}</id>\n"
            f"<revision>\n<id>{doc_id + 1}</id>\n<text>{body}</text>\n</revision>\n</page>\n"
        )
    parts.append("</mediawiki>\n")
    return Corpus("".join(parts).encode(), vocab, doc_tokens, text_bytes)


# ---------- query streams ----------------------------------------------


def _pick(rng: random.Random, vocab: list[str], band: str | None = None) -> str:
    lo, hi = BANDS[band or rng.choice(tuple(BANDS))]
    return vocab[rng.randrange(lo, hi)]


SHAPES = 6


def make_query(rng: random.Random, vocab: list[str], shape: int) -> str:
    """One CNF query of the given shape (0 to ``SHAPES - 1``), terms from
    the rank bands."""
    w = lambda band=None: _pick(rng, vocab, band)  # noqa: E731
    if shape == 0:
        return w()
    if shape == 1:
        return f"{w('head')} and {w()}"
    if shape == 2:
        return f"{w()} or {w()} or {w()}"
    if shape == 3:
        return f"{w('head')} {w('head')}"  # soft phrase
    if shape == 4:
        return f"{w('head')} and not {w()}"
    return f"({w()} or {w()}) and not {w('head')}"


def page_num(i: int) -> int:
    """Request ``i`` asks for page 1, except one in ten for page 2 and
    one in ten for page 3."""
    return {4: 2, 9: 3}.get(i % 10, 1)


def distinct_stream(seed: int, vocab: list[str], n: int) -> list[tuple[str, int]]:
    """``n`` (query, page) requests, every query string new. Request
    ``i`` has shape ``i % SHAPES``, so every run asks the same mix."""
    rng = random.Random(seed * 7919 * 104729 + 1)
    seen: set[str] = set()
    out: list[tuple[str, int]] = []
    while len(out) < n:
        q = make_query(rng, vocab, len(out) % SHAPES)
        if q not in seen:
            seen.add(q)
            out.append((q, page_num(len(out))))
    return out


def cached_stream(
    seed: int, vocab: list[str], n: int, shapes: tuple[int, ...], salt: int
) -> list[tuple[str, int]]:
    """``n`` requests over a pool of one query per shape in ``shapes``.
    Pool query ``j`` is first asked at request ``j * n // len(shapes)``;
    every other request repeats an already asked query, chosen by a Zipf
    law. A cache that starts empty therefore misses at the same positions
    and hits exactly ``n - len(shapes)`` times for every seed."""
    rng = random.Random((seed * 7919 + salt) * 104729 + 2)
    pool: list[str] = []
    for shape in shapes:
        q = make_query(rng, vocab, shape)
        while q in pool:
            q = make_query(rng, vocab, shape)
        pool.append(q)
    firsts = {j * n // len(pool): q for j, q in enumerate(pool)}
    cum = list(itertools.accumulate(1.0 / r for r in range(1, len(pool) + 1)))
    picks: list[str] = []
    for i in range(n):
        if i in firsts:
            picks.append(firsts[i])
        else:
            asked = sum(1 for k in firsts if k < i)
            picks.append(rng.choices(pool[:asked], cum_weights=cum[:asked])[0])
    # pages vary per request, so a hit may ask for another page than
    # the miss that filled the cache
    return [(q, page_num(i)) for i, q in enumerate(picks)]


def clean_page_ids(ranked: list[int], page: int) -> list[int]:
    """The ids ``SearchSession.page`` should show: page clamped to the
    last one, like the reference."""
    if not ranked:
        return []
    last = -(-len(ranked) // PAGE_SIZE)
    p = min(max(page, 1), last)
    return ranked[(p - 1) * PAGE_SIZE : p * PAGE_SIZE]
