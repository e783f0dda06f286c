"""Seeded document corpus for the curation workload.

About 70% of the documents are originals, about 20% exact copies of an
original and about 10% near-copies (one or two words replaced, so their
5-gram shingle Jaccard against the source stays well above the curation
default of 0.6). One original in twenty is short and digit-heavy, so the
quality gate has work to do.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass

STOP = ("the", "a", "of", "and", "to", "in", "is", "it")


def _vocabulary(rng: random.Random, n: int) -> list[str]:
    syll = ("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "qui", "dor")
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choices(syll, k=rng.randrange(2, 5))))
    return sorted(words)


@dataclass
class Corpus:
    docs: list[tuple[int, str]]

    def fingerprint(self) -> str:
        return hashlib.sha256(json.dumps(self.docs).encode()).hexdigest()


def make_corpus(seed: int, n_docs: int) -> Corpus:
    rng = random.Random(seed)
    vocab = _vocabulary(rng, 4000)
    n_orig = int(n_docs * 0.7)
    originals: list[list[str]] = []
    for i in range(n_orig):
        if i % 20 == 0:  # short, digit-heavy, no stopwords: the quality gate drops it
            words = [str(rng.randrange(10**6)) if rng.random() < 0.7 else rng.choice(vocab)
                     for _ in range(rng.randrange(8, 16))]
        else:
            words = [rng.choice(STOP) if rng.random() < 0.25 else rng.choice(vocab)
                     for _ in range(rng.randrange(30, 180))]
        originals.append(words)
    texts = [" ".join(w) for w in originals]
    n_exact = int(n_docs * 0.2)
    texts += [texts[rng.randrange(n_orig)] for _ in range(n_exact)]
    for _ in range(n_docs - len(texts)):
        words = list(originals[rng.randrange(n_orig)])
        for _ in range(rng.choice((1, 2))):
            words[rng.randrange(len(words))] = rng.choice(vocab)
        texts.append(" ".join(words))
    ids = rng.sample(range(1, 40 * n_docs), n_docs)
    # ids are drawn at random, so any prefix of the sorted docs is a sample
    return Corpus(docs=sorted(zip(ids, texts)))
