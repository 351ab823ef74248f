"""Typo / prefix term expansion against the term dictionary.

Reference semantics (``/root/reference/src/art.cpp:1384-1427`` fuzzy
trie traversal; candidate caps ``/root/reference/src/index.cpp:1700-1704``):

- per query token, candidate terms within edit distance ≤ ``num_typos``
  (≤2); tokens of length 1-2 get cost cap ``len-1``
  (``get_bounded_typo_cost``, ``src/index.cpp:1786-1792``);
- candidates ranked by document frequency (``token_ordering FREQUENCY``,
  ``include/art.h:124-127``), capped at 3 per cost level — 10 in prefix
  mode (``src/index.cpp:837,1700-1704``);
- prefix mode applies to the LAST query token
  (``src/index.cpp:1697-1702``).

Pinned deviations (documented; both the engine and ALL oracles use the
pinned spec, so parity is engine↔oracle): plain Levenshtein instead of
Damerau-OSA (so Spark's ``F.levenshtein``, DuckDB's ``levenshtein`` and
this pure-Python DP all agree); rank ties broken by term ASC for
determinism; a doc scores each query token as the MAX BM25 contribution
over that token's candidates.

The spec is the linear scan ``oracle.expand_token`` (one Python DP per
dictionary term). ONE kernel implements it: :meth:`TermDict.expand`
over a columnar dictionary. A prefix is a bisect range plus a top-10
sort of its slice; a typo runs ONE numpy edit-distance DP per length
bucket, across every term of the bucket at once (the rows are the
query's characters), so the Python loop is per query character, not
per term. Two routes run it with one contract — a list of
(token, prefix?) specs in, {(token, prefix?): [(term, cost)]} out:
- driver route: :func:`expand_query` over the :class:`TermDict`
  collected once per (Index, field set);
- scale route: :func:`expand_tokens_batch` folds the kernel over the
  terms DataFrame's Arrow batches in one ``mapInArrow``, for
  dictionaries too large to collect.
``engine._expand`` routes between them for single and batch search.
"""

from __future__ import annotations

from bisect import bisect_left, bisect_right
from collections.abc import Mapping

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_CANDIDATES = 3
MAX_CANDIDATES_PREFIX = 10


def levenshtein(a: str, b: str) -> int:
    """Plain Levenshtein DP — identical to Spark/DuckDB ``levenshtein``."""
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def osa(a: str, b: str) -> int:
    """Damerau-Levenshtein, optimal-string-alignment variant: adjacent
    transposition costs 1 — the reference's fuzzy trie traversal keeps
    exactly the previous two DP rows and cites the OSA formula
    (``/root/reference/src/art.cpp:1149-1177``). NOTE: DuckDB's
    ``damerau_levenshtein`` is the UNRESTRICTED Damerau metric, which
    coincides with OSA at distance ≤ 1 only (asserted in tests); the
    oracle gate therefore pins num_typos=1."""
    if a == b:
        return 0
    la, lb = len(a), len(b)
    if not la:
        return lb
    if not lb:
        return la
    prev2: list[int] | None = None
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if i > 1 and j > 1 and a[i - 1] == b[j - 2] and a[i - 2] == b[j - 1]:
                cur[j] = min(cur[j], prev2[j - 2] + 1)
        prev2, prev = prev, cur
    return prev[lb]


def bounded_typo_cost(token: str, num_typos: int) -> int:
    """Reference: len 1-2 tokens get cost cap len-1 (src/index.cpp:1786-1792)."""
    return min(num_typos, max(len(token) - 1, 0)) if len(token) < 3 else num_typos


class TermDict(Mapping):
    """The columnar term dictionary of one (Index, field set), read as
    a {term: df} mapping.

    ``terms`` is sorted by code point, with parallel int64 ``df`` and —
    when the index was built with ``score_col`` — ``max_score`` arrays.
    Per term length ℓ, ``_by_len[ℓ]`` holds the bucket's positions in
    ``terms`` and an (n, ℓ) int32 code-point matrix (a ``'<U'`` array
    viewed as int32) for the typo kernel. Empty terms join no bucket:
    a len ≥ 3 token's cost cap (≤ 2) is below the cost of reaching
    them, and shorter tokens' caps are below their length.
    """

    def __init__(self, terms, df, max_score=None):
        order = sorted(range(len(terms)), key=terms.__getitem__)
        self.terms = [terms[i] for i in order]
        self.df = np.asarray(df, dtype=np.int64)[order]
        self.max_score = (
            None if max_score is None else np.asarray(max_score, dtype=np.int64)[order]
        )
        lengths = np.fromiter(map(len, self.terms), np.int64, len(self.terms))
        self._by_len: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        for n in np.unique(lengths[lengths > 0]).tolist():
            pos = np.flatnonzero(lengths == n)
            codes = np.array([self.terms[i] for i in pos], dtype=f"<U{n}")
            self._by_len[n] = (pos, codes.view(np.int32).reshape(-1, n))

    def __len__(self) -> int:
        return len(self.terms)

    def __iter__(self):
        return iter(self.terms)

    def _find(self, term: str) -> int:
        i = bisect_left(self.terms, term)
        return i if i < len(self.terms) and self.terms[i] == term else -1

    def __getitem__(self, term: str) -> int:
        i = self._find(term)
        if i < 0:
            raise KeyError(term)
        return int(self.df[i])

    def rank(self, by: str) -> np.ndarray:
        """The candidate-ordering values: ``'df'`` (the reference's
        FREQUENCY token_ordering) or ``'max_score'`` (MAX_SCORE,
        ``include/art.h:124-127``)."""
        if by == "df":
            return self.df
        if self.max_score is None:
            raise ValueError(
                "rank_tokens_by='max_score' needs an index built with score_col"
            )
        return self.max_score

    def expand(
        self,
        token: str,
        num_typos: int,
        prefix: bool,
        distance: str,
        rank: np.ndarray,
    ) -> list[tuple[str, int]]:
        """One token → [(candidate_term, cost)], equal to
        ``oracle.expand_token``: the exact hit at cost 0, up to 3 typo
        candidates per cost in (cost, −rank, term) order, and in prefix
        mode the top 10 extensions by (−rank, term) at cost 0 (a term
        reachable both ways keeps the min cost)."""
        out: dict[str, int] = {}
        if self._find(token) >= 0:
            out[token] = 0
        max_cost = bounded_typo_cost(token, num_typos)
        if max_cost > 0:
            for i, c in self._typo(token, max_cost, distance == "osa", rank):
                out.setdefault(self.terms[i], c)
        if prefix:
            n = len(token)
            lo = bisect_left(self.terms, token)
            hi = bisect_right(self.terms, token, lo, key=lambda t: t[:n])
            if lo < hi and self.terms[lo] == token:
                lo += 1
            # ~r orders like −r without overflowing at int64 min; a
            # stable sort keeps rank ties in term order
            top = np.argsort(~rank[lo:hi], kind="stable")[:MAX_CANDIDATES_PREFIX]
            for i in top.tolist():
                out[self.terms[lo + i]] = 0
        return sorted(out.items())

    def _typo(
        self, token: str, max_cost: int, transpose: bool, rank: np.ndarray
    ) -> list[tuple[int, int]]:
        """(term position, cost) of the capped typo candidates: cost
        1..max_cost, 3 per cost in (cost, −rank, term) order."""
        m = len(token)
        q = np.array([token], dtype=f"<U{m}").view(np.int32)
        pos, cost = [], []
        for n in range(max(1, m - max_cost), m + max_cost + 1):
            if n in self._by_len:
                bucket_pos, codes = self._by_len[n]
                rows, c = _edit_costs(codes, q, max_cost, transpose)
                pos.append(bucket_pos[rows])
                cost.append(c)
        if not pos:
            return []
        p, c = np.concatenate(pos), np.concatenate(cost)
        p, c = p[c > 0], c[c > 0]  # cost 0 is the exact hit
        # positions are term order, so the last lexsort key breaks rank ties
        order = np.lexsort((p, ~rank[p], c))
        p, c = p[order], c[order]
        keep = np.arange(c.size) - np.searchsorted(c, c) < MAX_CANDIDATES
        return list(zip(p[keep].tolist(), c[keep].tolist()))


def _edit_costs(
    codes: np.ndarray, q: np.ndarray, max_cost: int, transpose: bool
) -> tuple[np.ndarray, np.ndarray]:
    """Edit distance from ``q`` (int32 code points) to every row of
    ``codes`` (n, ℓ) at once → (rows, costs) of the rows within
    ``max_cost``. One DP row per query character, vectorized across
    terms: substitution/deletion are elementwise over the previous row,
    and the insertion chain ``cur[j] = min(cur[j], cur[j-1] + 1)`` is
    ``minimum.accumulate(cur - j) + j``. ``transpose`` adds the OSA
    adjacent-swap term from the row two back (:func:`osa`). A term
    leaves the DP once its row minimum exceeds ``max_cost``: costs never
    fall along a path, and a swap out of row i-1 costs at least the
    diagonal step into row i. The DP stops when no term is left."""
    n, width = codes.shape
    j = np.arange(width + 1, dtype=np.int32)
    rows = np.arange(n)
    prev = np.tile(j, (n, 1))
    prev2 = eq_prev = None
    for i, ch in enumerate(q.tolist(), 1):
        eq = codes == ch
        cur = np.empty_like(prev)
        cur[:, 0] = i
        np.minimum(prev[:, 1:] + 1, prev[:, :-1] + ~eq, out=cur[:, 1:])
        if transpose and i > 1:
            swap = eq[:, :-1] & eq_prev[:, 1:]
            np.minimum(cur[:, 2:], prev2[:, :-2] + 1, out=cur[:, 2:], where=swap)
        cur -= j
        np.minimum.accumulate(cur, axis=1, out=cur)
        cur += j
        live = cur.min(axis=1) <= max_cost
        if not live.all():
            if not live.any():
                return rows[:0], rows[:0]
            rows, codes, cur, prev, eq = (a[live] for a in (rows, codes, cur, prev, eq))
        prev2, prev, eq_prev = prev, cur, eq
    cost = prev[:, width]
    hit = cost <= max_cost
    return rows[hit], cost[hit]


def expand_query(
    specs: list[tuple[str, bool]],
    term_dict: TermDict,
    num_typos: int = 2,
    distance: str = "levenshtein",
    rank_by: str = "df",
) -> dict[tuple[str, bool], list[tuple[str, int]]]:
    """Every (token, prefix?) spec → candidate map, driver side — the
    same contract as :func:`expand_tokens_batch`. Keying by the spec,
    not the token, keeps a repeated token's copies apart: only the
    last-position copy is prefix-expanded."""
    rank = term_dict.rank(rank_by)
    return {
        (tok, pref): term_dict.expand(tok, num_typos, pref, distance, rank)
        for tok, pref in specs
    }


def expand_tokens_batch(
    terms_df: DataFrame,
    token_specs: list[tuple[str, bool]],
    num_typos: int = 2,
    distance: str = "levenshtein",
    rank_col: str = "df",
) -> dict[tuple[str, bool], list[tuple[str, int]]]:
    """Every (token, prefix?) spec → candidate map over a dictionary too
    large to collect: :func:`expand_query`'s kernel and contract on the
    scale route. ``terms_df`` holds ONE row per term (the engine passes
    ``engine._terms_agg``) with ``term`` and ``rank_col`` (``df`` or
    ``max_score``) columns.

    One ``mapInArrow`` folds each partition: per Arrow batch, every spec
    expands over a :class:`TermDict` of the batch plus the terms carried
    from earlier batches, and only the candidates are carried on (one
    batch in memory, whatever the partition size). The driver collects
    the carried sets (≤ 3·num_typos + 11 terms per spec per partition)
    and expands once more over their union. Exact: each cap is a top-k
    under one total order — (cost, −rank, term) per typo cost, (−rank,
    term) for prefixes — and a term in the whole dictionary's top-k is
    in the top-k of every subset holding it; costs are pairwise.
    """
    if not token_specs:
        return {}
    t = _survivor_plan(terms_df, token_specs, num_typos, distance, rank_col).toArrow()
    d = TermDict(t.column("term").to_pylist(), t.column("rank").to_numpy())
    return expand_query(token_specs, d, num_typos, distance)


def _survivor_plan(
    terms_df: DataFrame,
    specs: list[tuple[str, bool]],
    num_typos: int,
    distance: str,
    rank_col: str,
) -> DataFrame:
    """:func:`expand_tokens_batch`'s plan: each partition's carried set."""

    def fold(batches):
        terms, rank = [], np.empty(0, np.int64)
        for b in batches:
            d = TermDict(
                terms + b.column(0).to_pylist(),
                np.concatenate([rank, b.column(1).to_numpy(zero_copy_only=False)]),
            )
            cands = expand_query(specs, d, num_typos, distance).values()
            terms = sorted({t for c in cands for t, _ in c})
            rank = d.df[np.array([d._find(t) for t in terms], dtype=np.intp)]
        yield pa.RecordBatch.from_arrays(
            [pa.array(terms, pa.string()), pa.array(rank, pa.int64())],
            names=["term", "rank"],
        )

    return terms_df.select(
        "term", F.col(rank_col).cast("long").alias("rank")
    ).mapInArrow(fold, "term string, rank long")
