"""Seeded workload inputs and their planted truth.

Every generator here is a pure function of (seed, sizes): NumPy's PCG64
stream seeded with the workload seed draws the documents, the planted
near-duplicates and their mutations, so two runs with one seed hand the
engine byte-identical inputs. The engine only ever receives the
generated rows; the truth stays on the driver for the output checks.

Text is drawn from a fixed synthetic vocabulary with Zipf-like word
frequencies (the vocabulary does not depend on the seed, so text
statistics, and with them per-op cost, are the same across seeds).
Planted near-duplicates replace a few words of their source, chosen so
the pair's 5-word-shingle Jaccard stays well above the default tau=0.8,
while independently drawn documents share almost no shingles.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass, field

import numpy as np

VOCAB_SIZE = 40_000
_VOCAB_SEED = 20_240_613


@functools.cache
def vocab() -> tuple[np.ndarray, np.ndarray]:
    """(words, cumulative Zipf weights) — fixed for every seed."""
    rng = np.random.default_rng(_VOCAB_SEED)
    lens = rng.integers(3, 10, VOCAB_SIZE * 2)
    chars = (rng.integers(0, 26, int(lens.sum())) + 97).astype(np.uint8).tobytes().decode()
    ends = np.cumsum(lens)
    words = list(dict.fromkeys(chars[e - n : e] for e, n in zip(ends, lens)))[:VOCAB_SIZE]
    w = 1.0 / (np.arange(len(words)) + 30.0)
    return np.array(words, dtype=object), np.cumsum(w / w.sum())


def _draw(rng: np.random.Generator, n: int) -> np.ndarray:
    words, cdf = vocab()
    return np.minimum(np.searchsorted(cdf, rng.random(n)), len(words) - 1)


def _texts(word_ids: list[np.ndarray]) -> list[str]:
    words, _ = vocab()
    return [" ".join(words[ids]) for ids in word_ids]


def _fresh(rng: np.random.Generator, lengths: np.ndarray) -> list[np.ndarray]:
    flat = _draw(rng, int(lengths.sum()))
    return np.split(flat, np.cumsum(lengths)[:-1])


def _ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """n distinct positive int64 doc ids in random order."""
    ids = np.unique(rng.integers(1, 1 << 62, n + n // 8 + 16, dtype=np.int64))
    rng.shuffle(ids)
    return ids[:n]


@dataclass
class Corpus:
    """Generated documents plus the planted truth the checks need."""

    doc_id: np.ndarray
    text: list[str]
    #: (dup doc_id, source doc_id): every planted near-duplicate points
    #: at the document it was derived from
    planted: list[tuple[int, int]] = field(default_factory=list)

    def pandas(self):
        import pandas as pd

        return pd.DataFrame({"doc_id": self.doc_id, "text": self.text})

    def texts(self) -> dict[int, str]:
        return dict(zip(self.doc_id.tolist(), self.text))


def dupheavy_corpus(seed: int, n_docs: int, giant: int, tail: int = 6) -> Corpus:
    """Short documents (30-70 words), over half of them in planted
    near-dup clusters with skewed sizes: one giant cluster of `giant`
    members, `tail` clusters above the auto-mode anchor threshold (64)
    and many small cliques. A member differs from the cluster's
    source in its last word only, so every pair in a cluster sits at
    Jaccard >= ~0.93. The cluster-size schedule does not depend on the
    seed: pair counts, and with them the op's cost, stay the same.
    Cluster sources all have the middle length (50 words): a seed-drawn
    length for the giant cluster's source alone moved the corpus size
    by +-4% between seeds."""
    shape = np.random.default_rng(_VOCAB_SEED)
    sizes = [giant] + [int(s) for s in shape.integers(65, 300, tail)]
    while sum(sizes) < int(n_docs * 0.55):
        sizes.append(int(min(60, 2 + shape.zipf(1.6))))
    rng = np.random.default_rng([seed, 2])
    n_src = n_docs - sum(sizes) + len(sizes)
    lengths = rng.integers(30, 71, n_src)
    lengths[: len(sizes)] = 50
    docs = _fresh(rng, lengths)
    planted_idx = []
    for c, size in enumerate(sizes):
        base = docs[c]
        for _ in range(size - 1):
            d = base.copy()
            d[-1] = _draw(rng, 1)[0]
            planted_idx.append((len(docs), c))
            docs.append(d)
    ids = _ids(rng, len(docs))
    planted = [(int(ids[i]), int(ids[s])) for i, s in planted_idx]
    return _shuffled(rng, ids, _texts(docs), planted)


def _shuffled(rng, ids, texts, planted) -> Corpus:
    order = rng.permutation(len(ids))
    return Corpus(ids[order], [texts[i] for i in order], planted)


@dataclass
class StreamInput:
    corpus: Corpus
    #: one list of (doc_id, text) rows per micro-batch file
    batches: list[list[tuple[int, str]]]
    #: doc_id -> id of the earlier document it near-duplicates
    dup_of: dict[int, int]


def stream_input(
    seed: int, n_corpus: int, n_batches: int, batch_docs: int
) -> StreamInput:
    """A committed corpus plus micro-batches that mix corpus
    near-duplicates (30%), intra-batch duplicates of a fresh document
    earlier in the same batch (20%) and fresh documents (50%). Batch doc
    ids grow with arrival, so an intra-batch copy always carries a
    larger id than its original (the stream's canonical a < b)."""
    rng = np.random.default_rng([seed, 3])
    corpus_ids = _ids(rng, n_corpus)
    corpus_words = _fresh(rng, rng.integers(60, 121, n_corpus))
    corpus = Corpus(corpus_ids, _texts(corpus_words))
    words, _ = vocab()
    next_id = int(corpus_ids.max()) + 1
    batches, dup_of = [], {}
    n_near = int(batch_docs * 0.3)
    n_intra = int(batch_docs * 0.2)
    n_fresh = batch_docs - n_near - n_intra
    for _ in range(n_batches):
        fresh = _fresh(rng, rng.integers(60, 121, n_fresh))
        rows = []
        for w in fresh:
            rows.append((next_id, w))
            next_id += 1
        for f in rng.integers(0, n_fresh, n_intra):
            d = rows[f][1].copy()
            d[-1] = _draw(rng, 1)[0]
            dup_of[next_id] = rows[f][0]
            rows.append((next_id, d))
            next_id += 1
        for c in rng.integers(0, n_corpus, n_near):
            d = corpus_words[c].copy()
            d[-1] = _draw(rng, 1)[0]
            dup_of[next_id] = int(corpus_ids[c])
            rows.append((next_id, d))
            next_id += 1
        batches.append([(i, " ".join(words[w])) for i, w in rows])
    return StreamInput(corpus, batches, dup_of)
