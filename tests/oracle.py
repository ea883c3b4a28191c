"""Single-node exact BM25 oracle (SURVEY.md §5.2).

Plays the role OpenSearch/Lucene plays for the reference: the ground truth the
distributed engine must match rank-identically (docIDs equal, scores equal to
within float64 bit-identity; we assert <= 1e-9 and usually get 0).

Uses the SAME analyzer kernels as the engine (functions/analysis.py), the
same BM25 formula, the same per-doc term-sorted float64 summation order, and
the same (score desc, doc_id asc) tie-break.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pandas as pd

from clinical_trial_searchengine_spark.functions.analysis import (
    analyze_batch,
    tokenize_text,
)
from clinical_trial_searchengine_spark.functions.codec import encode_postings


class BM25Oracle:
    def __init__(
        self,
        corpus: pd.DataFrame,
        mode: str = "standard",
        k1: float = 1.2,
        b: float = 0.75,
    ):
        """corpus: pandas with (repo, path, commit, content). doc_id is
        assigned as rank under (repo, path, commit) — the engine's rule."""
        self.mode, self.k1, self.b = mode, k1, b
        corpus = corpus.sort_values(["repo", "path", "commit"]).reset_index(
            drop=True
        )
        self.corpus = corpus
        pairs, lens = analyze_batch(corpus["content"], mode)
        self.doc_len = lens
        self.N = len(corpus)
        self.avgdl = (sum(lens) / self.N) if self.N else 1.0
        # term -> list[(doc_id, tf)] (doc_id ascending by construction)
        self.postings: dict[str, list[tuple[int, int]]] = {}
        for doc_id, row in enumerate(pairs):
            for term, tf in row:
                self.postings.setdefault(term, []).append((doc_id, tf))

    def idf(self, term: str) -> float:
        df = len(self.postings.get(term, ()))
        return math.log(1.0 + (self.N - df + 0.5) / (df + 0.5))

    def key_of(self, doc_id: int) -> tuple[str, str, str]:
        row = self.corpus.iloc[doc_id]
        return (row["repo"], row["path"], row["commit"])

    def score_all(self, query_text: str) -> dict[int, float]:
        """{doc_id: score} for EVERY matching doc — boundary-tie-free ground
        truth for comparisons where internal doc_id assignment differs
        (e.g. delta-generation indexes)."""
        qtf = Counter(tokenize_text(query_text, self.mode))
        scores: dict[int, float] = {}
        for term in sorted(qtf):
            plist = self.postings.get(term)
            if not plist:
                continue
            w = qtf[term] * self.idf(term)
            for doc_id, tf in plist:
                Kd = self.k1 * (
                    1.0 - self.b + self.b * self.doc_len[doc_id] / self.avgdl
                )
                scores[doc_id] = scores.get(doc_id, 0.0) + w * (tf / (tf + Kd))
        return scores

    def search(self, query_text: str, k: int = 10) -> list[tuple[int, float]]:
        qtf = Counter(tokenize_text(query_text, self.mode))
        if not qtf:
            return []
        scores: dict[int, float] = {}
        for term in sorted(qtf):  # per-doc term-sorted summation order
            plist = self.postings.get(term)
            if not plist:
                continue
            w = qtf[term] * self.idf(term)
            for doc_id, tf in plist:
                Kd = self.k1 * (
                    1.0 - self.b + self.b * self.doc_len[doc_id] / self.avgdl
                )
                scores[doc_id] = scores.get(doc_id, 0.0) + w * (tf / (tf + Kd))
        ranked = sorted(scores.items(), key=lambda e: (-e[1], e[0]))
        return ranked[:k]


def expected_postings(
    oracle: BM25Oracle, shard_size: int, codec: str = "pfor"
) -> dict:
    """{(shard, term): (n_postings, cf, n_blocks, postings bytes)} — each
    (shard, term) posting list of the oracle encoded on its own with
    ``codec.encode_postings``: the independent reference the build's
    tokenize -> pack -> encode -> merge path must reproduce byte for
    byte, whatever its salting or batch split."""
    out = {}
    for term, plist in oracle.postings.items():
        ids = np.asarray([d for d, _ in plist], dtype=np.uint64)
        tfs = np.asarray([t for _, t in plist], dtype=np.uint64)
        shards = ids // shard_size
        for shard in np.unique(shards):
            m = shards == shard
            buf, n_blocks = encode_postings(ids[m], tfs[m], codec=codec)
            out[(int(shard), term)] = (
                int(m.sum()), int(tfs[m].sum()), int(n_blocks), buf
            )
    return out


def expected_term_stats(oracle: BM25Oracle) -> dict:
    """{term: (df, cf)} over the whole corpus."""
    return {
        term: (len(plist), sum(tf for _, tf in plist))
        for term, plist in oracle.postings.items()
    }
