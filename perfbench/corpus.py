"""Seeded document and embedding corpus modelled on the fixture
``documents`` / ``embeddings`` tables (FIXTURES.md §B).

Documents are word soup over a Zipf-weighted vocabulary; a share of them
are copies of an earlier document with a token or two replaced, so the
near-dup operators have real pairs to find. Embeddings are 64-dim vectors
drawn around a fixed set of cluster centres, so IVF cells are not uniform.
"""

from __future__ import annotations

import random

import numpy as np

DIM = 64
_SYLLABLES = ["ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "de", "vu", "zo", "he", "gi", "ba", "cu", "fe"]
VOCAB = [a + b for a in _SYLLABLES for b in _SYLLABLES]  # 256 words
_WEIGHTS = [1.0 / (rank + 5) for rank in range(len(VOCAB))]


def _mutate(rng: random.Random, tokens: list[str], edits: int) -> list[str]:
    out = list(tokens)
    for _ in range(edits):
        out[rng.randrange(len(out))] = rng.choice(VOCAB)
    return out


class Corpus:
    """``n`` documents with ids ``0..n-1`` and one embedding each."""

    def __init__(self, seed: int, n: int, dup_frac: float = 0.12, centres: int = 24):
        self.rng = random.Random(seed)
        self.tokens: list[list[str]] = []
        for i in range(n):
            if i > 16 and self.rng.random() < dup_frac:
                base = self.tokens[self.rng.randrange(i)]
                self.tokens.append(_mutate(self.rng, base, self.rng.randint(0, 2)))
            else:
                k = self.rng.randint(20, 80)
                self.tokens.append(self.rng.choices(VOCAB, _WEIGHTS, k=k))
        nrng = np.random.default_rng(seed)
        self.centres = nrng.normal(size=(centres, DIM))
        pick = nrng.integers(0, centres, size=n)
        vecs = self.centres[pick] + 0.35 * nrng.normal(size=(n, DIM))
        self.vectors = vecs.astype(np.float32)
        self.nrng = nrng

    def __len__(self) -> int:
        return len(self.tokens)

    def text(self, i: int) -> str:
        return " ".join(self.tokens[i])

    def corpus_rows(self, ids) -> list[tuple]:
        """Rows for the refresh corpus table: (doc_id, text, embedding)."""
        return [(int(i), self.text(i), self.vectors[i].tolist()) for i in ids]

    def revised(self, i: int, like: int) -> tuple:
        """A new version of document ``i``: a light edit of document
        ``like`` (so it lands near an existing document) and a new vector."""
        toks = _mutate(self.rng, self.tokens[like], self.rng.randint(0, 1))
        self.tokens[i] = toks
        c = self.centres[self.nrng.integers(0, len(self.centres))]
        self.vectors[i] = (c + 0.35 * self.nrng.normal(size=DIM)).astype(np.float32)
        return (int(i), " ".join(toks), self.vectors[i].tolist())
