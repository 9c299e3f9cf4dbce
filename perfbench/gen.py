"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy/Python and imports nothing from the
package under test, so a change to the program cannot change what the
benchmark feeds it. The same seed always gives the same inputs.

The corpus imitates source code: a Zipf-skewed identifier vocabulary
(a few hot keywords, a long tail of rare names), separated by spaces and
by punctuation that the StandardAnalyzer splits on. Only lowercase
letters and ``_`` appear inside a word, so the analyzer's tokens are
exactly the generator's words and the benchmark can count document
frequencies itself.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

#: symbols that the standard tokenizer splits on and never emits
PUNCT = ("(", ")", "{", "}", ";", "=", "+", "->", "==", ",", "[", "]")
_ONSETS = ("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z",
           "st", "tr", "pl", "gr", "sh", "ch", "qu")
_VOWELS = ("a", "e", "i", "o", "u", "ai", "ou", "y")
#: hot head of the vocabulary: words every code corpus repeats
KEYWORDS = ("the", "if", "return", "import", "for", "while", "else", "def",
            "class", "self", "new", "null", "true", "false", "int", "void",
            "static", "public", "try", "catch")


def vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct words, index = Zipf rank (0 is the hottest)."""
    words = list(KEYWORDS)
    seen = set(words)
    while len(words) < size:
        n = int(rng.integers(2, 5))
        parts = [_ONSETS[rng.integers(len(_ONSETS))] + _VOWELS[rng.integers(len(_VOWELS))]
                 for _ in range(n)]
        if rng.random() < 0.3:
            cut = int(rng.integers(1, n))
            w = "".join(parts[:cut]) + "_" + "".join(parts[cut:])
        else:
            w = "".join(parts)
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


@dataclass
class Corpus:
    """Generated documents: ``texts[i]`` has key ``i`` and its word ids
    (vocabulary ranks) in ``tokens[offsets[i]:offsets[i + 1]]``."""

    vocab: list[str]
    texts: list[str]
    tokens: np.ndarray
    offsets: np.ndarray

    def __len__(self) -> int:
        return len(self.texts)

    def doc_tokens(self, i: int) -> np.ndarray:
        return self.tokens[self.offsets[i]:self.offsets[i + 1]]

    def doc_freqs(self) -> np.ndarray:
        """Document frequency per vocabulary id, counted here."""
        n = len(self.texts)
        doc_of = np.repeat(np.arange(n, dtype=np.int64), np.diff(self.offsets))
        pairs = np.unique(doc_of * len(self.vocab) + self.tokens)
        return np.bincount(pairs % len(self.vocab), minlength=len(self.vocab))

    def text_bytes(self) -> int:
        return sum(len(t.encode()) for t in self.texts)


def _render(rng: np.random.Generator, words: list[str]) -> str:
    """Join words with spaces, with a punctuation symbol after ~1 in 6."""
    marks = rng.random(len(words)) < 0.17
    picks = rng.integers(len(PUNCT), size=len(words))
    out = []
    for w, m, p in zip(words, marks, picks):
        out.append(w)
        if m:
            out.append(PUNCT[p])
    return " ".join(out)


#: vocabulary size, Zipf exponent of word ranks and mean words per document
VOCAB_SIZE = 30_000
ZIPF_S = 1.1
MEAN_LEN = 60
#: shares of documents replaced by exact and by near copies (pipeline probe)
EXACT_FRAC = 0.08
NEAR_FRAC = 0.08


def code_corpus(seed: int, n_docs: int, extra_words: list[list[str]] | None = None) -> Corpus:
    """``n_docs`` Zipf-skewed source-code-like documents.

    ``extra_words[i]``, when given, is appended to document ``i`` (tag
    words the nrt workload deletes by)."""
    rng = np.random.default_rng(seed)
    vocab = vocabulary(rng, VOCAB_SIZE)
    p = 1.0 / np.power(np.arange(1, VOCAB_SIZE + 1, dtype=np.float64), ZIPF_S)
    p /= p.sum()
    lengths = np.clip(rng.lognormal(np.log(MEAN_LEN), 0.6, n_docs), 4, 8 * MEAN_LEN)
    lengths = lengths.astype(np.int64)
    offsets = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    tokens = rng.choice(VOCAB_SIZE, size=int(offsets[-1]), p=p).astype(np.int64)
    texts = []
    for i in range(n_docs):
        words = [vocab[t] for t in tokens[offsets[i]:offsets[i + 1]]]
        if extra_words is not None:
            words.extend(extra_words[i])
        texts.append(_render(rng, words))
    if extra_words is not None:
        # fold the extra words into the token stream so doc_freqs stays exact
        ext = {w for ws in extra_words for w in ws}
        vocab = vocab + sorted(ext - set(vocab))
        wid = {w: i for i, w in enumerate(vocab)}
        per_doc = [np.concatenate([tokens[offsets[i]:offsets[i + 1]],
                                   np.array([wid[w] for w in extra_words[i]], dtype=np.int64)])
                   for i in range(n_docs)]
        tokens = np.concatenate(per_doc)
        offsets = np.zeros(n_docs + 1, dtype=np.int64)
        np.cumsum([len(t) for t in per_doc], out=offsets[1:])
    return Corpus(vocab, texts, tokens, offsets)


def with_duplicates(seed: int, texts: list[str], vocab: list[str]) -> list[str]:
    """A copy of ``texts`` where some documents are replaced by exact copies
    of earlier ones and some by near copies (one word swapped for a
    ``vocab`` word), the shapes the curation pipeline removes."""
    rng = np.random.default_rng(seed + 7_919)
    texts = list(texts)
    n = len(texts)
    roles = rng.random(n)
    src = rng.integers(0, n, size=n)
    for i in range(n):
        j = int(src[i])
        if j >= i:
            continue
        if roles[i] < EXACT_FRAC:
            texts[i] = texts[j]
        elif roles[i] < EXACT_FRAC + NEAR_FRAC:
            words = texts[j].split(" ")
            k = int(rng.integers(len(words)))
            words[k] = vocab[int(rng.integers(len(vocab)))]
            texts[i] = " ".join(words)
    return texts


def exact_group_count(texts: list[str]) -> tuple[int, int]:
    """(distinct contents, contents shared by more than one document),
    counted with hashlib."""
    counts: dict[bytes, int] = {}
    for t in texts:
        h = hashlib.sha256(t.encode()).digest()
        counts[h] = counts.get(h, 0) + 1
    return len(counts), sum(1 for c in counts.values() if c > 1)


def df_bands(df: np.ndarray, n_docs: int) -> dict[str, np.ndarray]:
    """Vocabulary ids by document-frequency band: ``rare`` (df 2..8),
    ``mid`` (0.3%..3% of docs) and ``hot`` (at least 10% of docs)."""
    ids = np.arange(len(df))
    return {
        "rare": ids[(df >= 2) & (df <= 8)],
        "mid": ids[(df >= 0.003 * n_docs) & (df <= 0.03 * n_docs)],
        "hot": ids[df >= 0.10 * n_docs],
    }


#: query families of the serve mix, one query of each per pass, in an
#: interleaved fixed order so that every prefix of a pass mixes cheap and
#: costly families the same way whatever the seed
FAMILIES = (
    "term_mid", "phrase", "or", "prefix", "term_rare", "sloppy",
    "and", "fuzzy", "term_hot", "dismax", "wildcard",
)
#: families ``search_many`` batches (term, boolean, dismax, exact phrase)
BATCHABLE = ("term_rare", "term_mid", "term_hot", "and", "or", "dismax", "phrase")


def query_mix(seed: int, corpus: Corpus, passes: int) -> list[list[tuple]]:
    """``passes`` passes, each holding one query per family in ``FAMILIES`` order.

    A query is a plain tuple ``(qid, family, kind, args)``; the benchmark
    turns it into a library query object. Terms are picked by document
    frequency band from the benchmark's own count; phrase terms are
    adjacent (or two apart, for the sloppy family) in a generated doc, so
    phrases match."""
    rng = np.random.default_rng(seed + 104_729)
    df = corpus.doc_freqs()
    bands = df_bands(df, len(corpus))
    v = corpus.vocab

    def pick(band: str) -> str:
        ids = bands[band]
        return v[int(ids[rng.integers(len(ids))])]

    def window(gap: int) -> tuple[str, str]:
        while True:
            d = int(rng.integers(len(corpus)))
            toks = corpus.doc_tokens(d)
            if len(toks) > gap:
                i = int(rng.integers(len(toks) - gap))
                return v[toks[i]], v[toks[i + gap]]

    out = []
    for p in range(passes):
        qs = []
        for fam in FAMILIES:
            qid = f"p{p}.{fam}"
            if fam.startswith("term_"):
                qs.append((qid, fam, "term", (pick(fam[5:]),)))
            elif fam == "and":
                qs.append((qid, fam, "and", (pick("mid"), pick("hot"))))
            elif fam in ("or", "dismax"):
                qs.append((qid, fam, fam, (pick("mid"), pick("mid"))))
            elif fam == "phrase":
                qs.append((qid, fam, "phrase", window(1) + (0,)))
            elif fam == "sloppy":
                qs.append((qid, fam, "phrase", window(2) + (2,)))
            elif fam == "prefix":
                qs.append((qid, fam, "prefix", (pick("mid")[:4],)))
            elif fam == "wildcard":
                w = pick("mid")
                qs.append((qid, fam, "wildcard", (w[:3] + "?" + w[4:],)))
            else:
                qs.append((qid, fam, "fuzzy", (pick("mid"), 1)))
        out.append(qs)
    return out
