"""Percentile math, the answer comparator and the seeded generators.

Run: ``python3 -m pytest perfbench/tests -q``
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import gen  # noqa: E402
from stats import median, percentile, supported_percentile  # noqa: E402
from workloads import corrupted_answer_is_caught, same_hits  # noqa: E402


@pytest.mark.parametrize("q", [0, 10, 25, 50, 90, 95, 100])
def test_percentile_matches_numpy(q):
    rng = np.random.default_rng(q)
    xs = list(rng.exponential(10.0, 37))
    assert percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))


def test_median_and_empty():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([1.0, 2.0, 3.0, 4.0]) == 2.5
    with pytest.raises(ValueError):
        percentile([], 50)


def test_supported_percentile_needs_ten_samples_beyond():
    assert supported_percentile(20) == 50.0
    assert supported_percentile(40) == 75.0
    assert supported_percentile(100) == 90.0
    assert supported_percentile(200) == 95.0
    assert supported_percentile(1000) == 99.0


def test_same_hits_is_bit_exact():
    hits = [(3, 1.5), (7, 1.25), (1, 1.25)]
    assert same_hits(hits, list(hits))
    assert not same_hits(hits, [(3, 1.5), (1, 1.25), (7, 1.25)])
    assert not same_hits(hits, hits[:2])
    ulp = float(np.nextafter(np.float32(1.5), np.float32(2.0)))
    assert not same_hits(hits, [(3, ulp)] + hits[1:])


def test_corrupted_answer_self_check():
    assert corrupted_answer_is_caught([(3, 1.5), (7, 1.25)])
    assert not corrupted_answer_is_caught([])


def test_generator_is_seeded():
    a, b, c = gen.code_corpus(5, 200), gen.code_corpus(5, 200), gen.code_corpus(6, 200)
    assert a.texts == b.texts and a.texts != c.texts
    assert gen.query_mix(5, a, 2) == gen.query_mix(5, b, 2)


def test_doc_freqs_match_the_analyzer():
    """The benchmark's own df count equals what StandardAnalyzer emits."""
    from lucene_spark.analysis.tokenizer import StandardAnalyzer

    c = gen.code_corpus(9, 300)
    an = StandardAnalyzer()
    counted: dict[str, int] = {}
    for t in c.texts:
        for term in set(an.term_position_arrays(t)[0]):
            counted[term] = counted.get(term, 0) + 1
    df = c.doc_freqs()
    assert counted == {c.vocab[i]: int(n) for i, n in enumerate(df) if n}


def test_query_mix_families_and_bands():
    c = gen.code_corpus(4, 2000)
    mix = gen.query_mix(4, c, 3)
    assert all([q[1] for q in p] == list(gen.FAMILIES) for p in mix)
    df = dict(zip(c.vocab, c.doc_freqs()))
    for p in mix:
        for _, fam, kind, args in p:
            if fam == "term_rare":
                assert 2 <= df[args[0]] <= 8
            if fam == "term_hot":
                assert df[args[0]] >= 0.10 * len(c)


def test_duplicates_and_hash_count():
    base = gen.code_corpus(2, 300)
    texts = gen.with_duplicates(2, base.texts, base.vocab)
    distinct, shared = gen.exact_group_count(texts)
    assert distinct < len(texts) and shared > 0
    assert distinct == len(set(texts))
