"""Independent ground truth for output checks.

Everything here is derived from the generator's own token arrays, not
from the engine: doc ids follow ``assign_doc_ids``' contract (dense rank
of the ``key_cols`` string ``repo \\x01 path``), postings come from
``Corpus.postings``, and scoring and expansion go through the pure-Python
``typesense_spark.oracle``. Per-term postings are sliced out of one
term-sorted array on first use, so set-up stays well under a second.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Mapping

import numpy as np

from gen import VOCAB_SIZE, Corpus
from typesense_spark import oracle


class Truth:
    def __init__(self, corpus: Corpus):
        self.corpus = corpus
        n = len(corpus.rows)
        keys = [r[0] + "\x01" + r[1] for r in corpus.rows]
        self.doc_id = np.empty(n, dtype=np.int64)
        self.doc_id[sorted(range(n), key=keys.__getitem__)] = np.arange(n)
        self.lang = {int(self.doc_id[i]): r[3] for i, r in enumerate(corpus.rows)}
        pairs, tf = corpus.postings()
        self.n_postings = int(pairs.size)
        self.dictionary = corpus.dictionary(pairs)
        order = np.argsort(pairs % VOCAB_SIZE, kind="stable")
        rank = pairs[order] % VOCAB_SIZE
        starts = np.flatnonzero(np.r_[True, rank[1:] != rank[:-1]])
        ends = np.r_[starts[1:], rank.size]
        self._docs = self.doc_id[pairs[order] // VOCAB_SIZE]
        self._tf = tf[order]
        self._span = {  # term -> its slice of _docs / _tf
            corpus.words[r]: (a, b)
            for r, a, b in zip(rank[starts].tolist(), starts.tolist(), ends.tolist())
        }
        self.dl = np.bincount(self.doc_id[corpus.doc_of_token], minlength=n)
        self._oracle = None

    def postings(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        """(doc ids, tfs) of ``term``."""
        a, b = self._span[term]
        return self._docs[a:b], self._tf[a:b]

    def docs_with_all(self, terms: list[str]) -> np.ndarray:
        out = None
        for t in terms:
            d = self.postings(t)[0]
            out = d if out is None else np.intersect1d(out, d, assume_unique=True)
        return out

    def oracle(self):
        """``typesense_spark.oracle.OracleIndex`` over the whole corpus."""
        if self._oracle is None:
            ix = _OracleIndex()
            ix.n_docs = int(self.dl.size)
            ix.avgdl = float(self.dl.sum()) / ix.n_docs
            ix.dl = dict(enumerate(self.dl.tolist()))
            ix.tf = _TermTf(self)
            ix.term_df = dict(self.dictionary)
            ix.docs = {d: {"lang": lang} for d, lang in self.lang.items()}
            self._oracle = ix
        return self._oracle

    def search(self, q) -> list[tuple[int, int]]:
        """Top hits [(doc_id, score_milli)] of a generated query, per the oracle."""
        keep = None if q.lang is None else (lambda a, lang=q.lang: a.get("lang") == lang)
        return oracle.search(
            self.oracle(), q.tokens, num_typos=q.num_typos, prefix_last=q.prefix_last,
            mode=q.mode, k=10, filter_fn=keep,
        )

    def facet(self, tokens: list[str], limit: int = 10) -> list[tuple[str, int]]:
        """lang facet counts over the full AND-matched set."""
        counts = Counter(self.lang[int(d)] for d in self.docs_with_all(tokens))
        return sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:limit]


class _OracleIndex(oracle.OracleIndex):
    term_df = None  # a plain attribute, set once, not rebuilt per call


class _TermTf(Mapping):
    """term -> {doc: tf}, built per term on first use."""

    def __init__(self, truth: Truth):
        self.truth = truth
        self.built: dict[str, dict[int, int]] = {}

    def __getitem__(self, term: str) -> dict[int, int]:
        if term not in self.built:
            d, f = self.truth.postings(term)
            self.built[term] = dict(zip(d.tolist(), f.tolist()))
        return self.built[term]

    def __iter__(self):
        return iter(self.truth._span)

    def __len__(self) -> int:
        return len(self.truth._span)

