"""Exact-Jaccard reference for the `crawl_ingest` workload, in plain
Python and independent of the Spark implementation.

A document's tokens are its distinct word 3-shingles (words split on a
single space). A batch document is rejected when its Jaccard similarity
reaches the threshold against any indexed document, or against any
smaller-id document of the same batch; the survivors are added to the
index before the next batch.
"""
import os
from collections import Counter

import pyarrow.parquet as pq

THRESHOLD = 0.5


def shingles(text, n=3):
    words = text.split(" ")
    return frozenset(" ".join(words[i:i + n]) for i in range(len(words) - n + 1))


class _Index:
    """Shingle sets with an inverted list per shingle: the overlap of a
    query set with every indexed set that shares a shingle is counted
    exactly, and from it the Jaccard similarity."""

    def __init__(self):
        self.postings = {}
        self.sizes = []

    def add(self, s):
        for x in s:
            self.postings.setdefault(x, []).append(len(self.sizes))
        self.sizes.append(len(s))

    def has_similar(self, s):
        common = Counter(j for x in s for j in self.postings.get(x, ()))
        return any(c >= THRESHOLD * (len(s) + self.sizes[j] - c)
                   for j, c in common.items())


def _docs(crawl_dir, name):
    t = pq.read_table(os.path.join(crawl_dir, f"{name}.parquet"),
                      columns=["doc_id", "text"]).to_pylist()
    return [(r["doc_id"], shingles(r["text"])) for r in t
            if r["text"] is not None]


def survivors(crawl_dir, batches):
    """Surviving doc ids per batch name, sorted."""
    index = _Index()
    for _, s in _docs(crawl_dir, "history"):
        index.add(s)
    out = {}
    for b in batches:
        earlier = _Index()
        kept = []
        for doc_id, s in sorted(_docs(crawl_dir, b)):
            if not (index.has_similar(s) or earlier.has_similar(s)):
                kept.append((doc_id, s))
            earlier.add(s)
        out[b] = [d for d, _ in kept]
        for _, s in kept:
            index.add(s)
    return out
