"""Seeded input generator: markdown corpus, edit batches and query stream.

Everything the benchmark feeds the engine comes from here and depends only
on the seed. The corpus varies the properties the ingest layers depend on:

* document length: log-normal, so most sections fit the 2,000-token
  chunk budget and a tail of long sections takes the split path;
* tables and lists, which take the chunker's table and list paths;
* vocabulary richness per document, which sets the distinct words per
  chunk and so the cost of the keyword enricher;
* sentiment-lexicon and topic-word hit rates, which set the selectivity of
  the sentiment and classification filters.
"""

from __future__ import annotations

import math
import os
import random
from dataclasses import dataclass, field
from statistics import NormalDist
from typing import Dict, List

import numpy as np

# The deterministic enrichers' lexicons (summary/keyword need none). They are
# part of the input contract: the generator plants these words so filter
# selectivity is a property of the seed, not of the engine.
POSITIVE = ("fast", "small", "good", "great", "excellent")
NEGATIVE = ("slow", "big", "bad", "poor", "terrible")
CLASSES = ("finance", "science", "sports", "travel")
MOODS = ("Positive", "Negative", "Neutral")



@dataclass
class Corpus:
    docs: Dict[str, str]  # doc id -> markdown
    moods: Dict[str, str] = field(default_factory=dict)
    topics: Dict[str, str] = field(default_factory=dict)

    @property
    def n_bytes(self) -> int:
        return sum(len(t.encode()) for t in self.docs.values())


def _vocab(rng: random.Random, n: int = 6000) -> List[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    out, seen = [], set(POSITIVE + NEGATIVE + CLASSES)
    while len(out) < n:
        w = "".join(rng.choice(letters) for _ in range(rng.choice(
            (2, 3, 4, 4, 5, 5, 6, 6, 7, 7, 8, 9, 10, 12))))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


class _DocWriter:
    def __init__(self, rng: random.Random, vocab: List[str]):
        self.rng = rng
        self.vocab = vocab

    def doc(self, length: int, richness: int, mood: str, topic: str) -> str:
        rng = self.rng
        # distinct words per chunk: a per-document window of the vocabulary
        start = rng.randrange(len(self.vocab) - richness + 1)
        words = self.vocab[start:start + richness]
        lex_rate = rng.uniform(0.01, 0.06)
        topic_rate = rng.uniform(0.005, 0.03)
        lex = POSITIVE if mood == "Positive" else NEGATIVE

        def sentence() -> str:
            n = rng.randint(6, 22)
            toks = []
            for _ in range(n):
                r = rng.random()
                if mood != "Neutral" and r < lex_rate:
                    toks.append(rng.choice(lex))
                elif r > 1 - topic_rate:
                    toks.append(topic)
                else:
                    # skewed draw: low indices of the window are frequent
                    toks.append(words[int(len(words) * rng.random() ** 2.2)])
            return " ".join(toks).capitalize() + "."

        def paragraph(n_words: int) -> str:
            out, count = [], 0
            while count < n_words:
                s = sentence()
                out.append(s)
                count += s.count(" ") + 1
            # long paragraphs carry line breaks, the split points the
            # chunker prefers over a hard token cut
            lines = [" ".join(out[i:i + 4]) for i in range(0, len(out), 4)]
            return "\n".join(lines)

        total = length
        parts = [f"# {sentence()[:-1]}", paragraph(min(total, 80))]
        written = min(total, 80)
        level = 2
        while written < total:
            level = rng.choice((2, 2, 3)) if level == 2 else rng.choice((2, 3))
            parts.append(f"{'#' * level} {' '.join(rng.choice(words) for _ in range(3))}")
            kind = rng.random()
            if kind < 0.15:
                rows, cols = rng.randint(3, 30), rng.randint(2, 5)
                header = "| " + " | ".join(rng.choice(words) for _ in range(cols)) + " |"
                sep = "|" + "---|" * cols
                body = ["| " + " | ".join(" ".join(rng.choice(words) for _ in range(rng.randint(1, 4)))
                                          for _ in range(cols)) + " |" for _ in range(rows)]
                parts.append("\n".join([header, sep, *body]))
                written += rows * cols * 2
            elif kind < 0.3:
                items = [f"- {sentence()}" for _ in range(rng.randint(3, 12))]
                parts.append("\n".join(items))
                written += len(items) * 14
            else:
                n = int(min(total - written + 20, rng.lognormvariate(5.3, 0.9)))
                parts.append(paragraph(max(n, 10)))
                written += max(n, 10)
        return "\n\n".join(parts) + "\n"


def _stratified(rng: random.Random, n: int, quantile) -> list:
    """``quantile`` at the n mid-point probabilities, shuffled: every seed
    gets the same distribution, assigned to different documents."""
    vals = [quantile((i + 0.5) / n) for i in range(n)]
    rng.shuffle(vals)
    return vals


def corpus(seed: int, n_docs: int, prefix: str = "doc") -> Corpus:
    """``n_docs`` documents. Per-document properties are stratified over the
    documents, so corpus size and mix are the same for every seed while the
    documents themselves change."""
    rng = random.Random(seed)
    writer = _DocWriter(rng, _vocab(rng))
    # log-normal length in words: median ~700, a tail past 2,000 tokens
    lengths = _stratified(rng, n_docs, lambda p: int(min(9000, max(
        60, math.exp(6.55 + 0.85 * NormalDist().inv_cdf(p))))))
    richness = _stratified(rng, n_docs, lambda p: int(40 * 2 ** (6 * p)))
    moods = _stratified(rng, n_docs, lambda p: MOODS[int(p * len(MOODS))])
    topics = _stratified(rng, n_docs, lambda p: CLASSES[int(p * len(CLASSES))])
    out = Corpus({})
    for i in range(n_docs):
        doc_id = f"{prefix}{i:05d}"
        out.docs[doc_id] = writer.doc(lengths[i], richness[i], moods[i], topics[i])
        out.moods[doc_id], out.topics[doc_id] = moods[i], topics[i]
    return out


def edit_batches(seed: int, base: Corpus, n_batches: int, docs_per_batch: int) -> List[Dict[str, str]]:
    """Replace-by-documentid batches: each rewrites a few existing documents,
    half grown to 2.5x their old length (at most 9,000 words) and half
    shrunk to 0.3x, so the chunk count of a replaced document goes both ways."""
    rng = random.Random(seed * 7919 + 1)
    writer = _DocWriter(rng, _vocab(random.Random(seed)))
    ids = sorted(base.docs)
    batches = []
    for _ in range(n_batches):
        batch = {}
        for j, doc_id in enumerate(rng.sample(ids, docs_per_batch)):
            old = len(base.docs[doc_id].split())
            length = int(old * (2.5 if j % 2 else 0.3))
            batch[doc_id] = writer.doc(min(max(length, 30), 9000), rng.randint(40, 2560),
                                       base.moods[doc_id], base.topics[doc_id])
        batches.append(batch)
    return batches


def query_vectors(seed: int, n: int, dims: int) -> np.ndarray:
    """Query embeddings on the k/256 grid the stored embeddings use, so
    every cosine score is computed exactly in double precision and the
    expected top-k is unambiguous."""
    rs = np.random.RandomState(seed + 104729)
    return (rs.randint(0, 256, size=(n, dims)) / 256.0).astype(np.float64)


def write_corpus(docs: Dict[str, str], directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for doc_id, text in docs.items():
        with open(os.path.join(directory, f"{doc_id}.md"), "w", encoding="utf-8") as f:
            f.write(text)
