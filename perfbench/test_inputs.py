"""The benchmark's inputs are a function of the seed alone.

    python -m pytest perfbench/test_inputs.py -q
"""

import os
import random
import subprocess
import sys

import inputs

HERE = os.path.dirname(os.path.abspath(__file__))


def test_one_seed_gives_identical_dump_and_streams():
    a = inputs.make_corpus(7, num_pages=60)
    b = inputs.make_corpus(7, num_pages=60)
    assert a.xml == b.xml
    assert a.doc_tokens == b.doc_tokens
    shapes = (0, 2, 3, 5)
    assert inputs.distinct_stream(7, a.vocab, 50) == inputs.distinct_stream(7, b.vocab, 50)
    assert inputs.cached_stream(7, a.vocab, 12, shapes, 0) == inputs.cached_stream(7, b.vocab, 12, shapes, 0)


def test_another_seed_gives_other_inputs():
    a = inputs.make_corpus(7, num_pages=60)
    b = inputs.make_corpus(8, num_pages=60)
    assert a.xml != b.xml
    assert inputs.distinct_stream(7, a.vocab, 20) != inputs.distinct_stream(8, b.vocab, 20)


def test_streams_have_the_promised_shape():
    vocab = inputs.make_vocab(random.Random(1))
    distinct = inputs.distinct_stream(3, vocab, 60)
    assert len({q for q, _ in distinct}) == 60
    stream = inputs.cached_stream(3, vocab, 12, (0, 2, 3, 5), 0)
    # a cache that starts empty hits every repeat
    assert len(stream) - len({q for q, _ in stream}) == 8
    assert {p for _, p in distinct} == {1, 2, 3}


def test_inputs_do_not_depend_on_the_engine():
    # a change to the engine (its stemmer, say) must not change the inputs
    code = (
        "import sys, inputs; inputs.make_corpus(1, 5); "
        "print(any(m.startswith('hadoop_search_spark') for m in sys.modules))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=HERE, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "False"
