"""Seeded document corpus and embedding set with planted structure.

Documents: ``n_base`` distinct texts drawn from a pseudo-word vocabulary
(plus English marker words, so every document reads as ``en`` and passes
``clean_corpus``'s token and quality floors). Two kinds of families are
planted on top:

* exact-duplicate families — copies that differ from their original only
  in whitespace and letter case, so they share one normalized text;
* near-duplicate families — copies with a few tokens replaced, so their
  word-3-gram Jaccard with the original stays high but below 1.

Embeddings: ``n_vectors`` float32 vectors around ``n_clusters`` random
centres; every ``query_every``-th vector id is a query, the rest are the
corpus.

:func:`generate_docs` and :func:`generate_vectors` return the inputs plus
the generator's record of what it planted.
"""

from __future__ import annotations

import random

import numpy as np

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"]
# words that would make the language heuristic vote for another language
_FOREIGN = {"nicht"}
_LETTERS = "bcdfghjklmnprstvwz"
_VOWELS = "aeiou"


def _vocab(rng: random.Random, n: int) -> list[str]:
    words = set()
    while len(words) < n:
        w = "".join(rng.choice(_LETTERS) + rng.choice(_VOWELS)
                    for _ in range(rng.randrange(2, 5)))
        if w not in _FOREIGN:
            words.add(w)
    return sorted(words)


def _text(rng: random.Random, vocab: list[str], n_tok: int) -> list[str]:
    return [rng.choice(STOPWORDS) if rng.random() < 0.3 else rng.choice(vocab)
            for _ in range(n_tok)]


def _respace(rng: random.Random, toks: list[str]) -> str:
    """Same tokens, different whitespace and case: same normalized text."""
    toks = list(toks)
    toks[0] = toks[0].upper()
    seps = [rng.choice((" ", "  ", "\t", " \n ")) for _ in toks[1:]]
    return "  " + toks[0] + "".join(s + t for s, t in zip(seps, toks[1:])) + " "


def generate_docs(seed: int, n_base: int, n_exact: int, n_near: int) -> dict:
    """Returns ``{"docs": [(doc_id, text)], "exact_families": [[ids]],
    "near_families": [[ids]], "queries": {query_id: text}}``. Doc ids are
    shuffled so family members are not adjacent."""
    rng = random.Random(seed * 7919 + 1)
    vocab = _vocab(rng, 4000)
    base = [_text(rng, vocab, rng.randrange(30, 90)) for _ in range(n_base)]
    texts = [" ".join(t) for t in base]
    exact, near = [], []
    picks = rng.sample(range(n_base), n_exact + n_near)
    for i in picks[:n_exact]:
        fam = [i]
        for _ in range(rng.randrange(1, 4)):
            fam.append(len(texts))
            texts.append(_respace(rng, base[i]))
        exact.append(fam)
    for i in picks[n_exact:]:
        fam = [i]
        for _ in range(rng.randrange(1, 4)):
            toks = list(base[i])
            for pos in rng.sample(range(len(toks)), rng.randrange(1, 4)):
                toks[pos] = rng.choice(vocab)
            fam.append(len(texts))
            texts.append(" ".join(toks))
        near.append(fam)
    ids = list(range(len(texts)))
    rng.shuffle(ids)  # position → doc_id
    docs = [(ids[pos], texts[pos]) for pos in range(len(texts))]
    docs.sort()
    queries = {f"q{j}": " ".join(rng.sample(vocab, 2)) for j in range(8)}
    return {
        "docs": docs,
        "exact_families": [[ids[p] for p in fam] for fam in exact],
        "near_families": [[ids[p] for p in fam] for fam in near],
        "queries": queries,
    }


def generate_vectors(seed: int, n_vectors: int, n_clusters: int, dim: int,
                     query_every: int) -> dict:
    """Returns ``{"ids", "vecs" (float32, n × dim), "query_mask"}``."""
    rng = np.random.default_rng(seed * 104729 + 3)
    centres = rng.normal(size=(n_clusters, dim))
    label = rng.integers(0, n_clusters, size=n_vectors)
    vecs = centres[label] + 0.35 * rng.normal(size=(n_vectors, dim))
    ids = np.arange(n_vectors, dtype=np.int64)
    return {"ids": ids, "vecs": vecs.astype(np.float32),
            "query_mask": ids % query_every == 0}
