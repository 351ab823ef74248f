"""Pure-Python single-process oracle — the obviously-correct reference
implementation of the pinned tokenizer + BM25 + retrieval semantics.

Used by pytest golden tests (FIXTURES.md F3): the Spark engine must be
rank-identical (doc ids AND quantized scores) to this oracle on every
query. It shares :mod:`typesense_spark.tokenizer` and the distances
and caps of :mod:`typesense_spark.search.expand`, but reimplements
expansion, scoring and set logic with plain dicts/loops — no Spark, no
SQL, no numpy in the scoring path (``math`` doubles are the same IEEE
ops the pack UDF uses; exactness comes from the int64 quantization,
scoring.py). :func:`expand_token` is the expansion spec: a linear scan
of the whole dictionary, one DP per term, which the engine's one
expansion kernel (``expand.TermDict``) is tested against on both its
routes (``expand.expand_query`` on the driver, the
``expand.expand_tokens_batch`` fold on executors); the engine never
calls it.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from typesense_spark import scoring
from typesense_spark.search.expand import (
    MAX_CANDIDATES,
    MAX_CANDIDATES_PREFIX,
    bounded_typo_cost,
    levenshtein,
    osa,
)
from typesense_spark.tokenizer import tokenize

DISTANCES = {"levenshtein": levenshtein, "osa": osa}


def expand_token(
    token: str,
    term_df: dict[str, int],
    num_typos: int = 2,
    prefix: bool = False,
    distance: str = "levenshtein",
    rank: dict[str, int] | None = None,
) -> list[tuple[str, int]]:
    """One query token → [(candidate_term, cost)], per the pinned spec.
    ``distance='osa'`` switches to the reference's Damerau-OSA metric
    (transpositions cost 1). ``rank`` overrides the per-term ordering
    value (default df = the reference's FREQUENCY token_ordering; pass
    the dictionary's max_score map for MAX_SCORE,
    ``include/art.h:124-127``)."""
    dist = DISTANCES[distance]
    rankv = rank if rank is not None else term_df
    out: dict[str, int] = {}
    if token in term_df:
        out[token] = 0
    max_cost = bounded_typo_cost(token, num_typos)
    if max_cost > 0:
        by_cost: dict[int, list[tuple[int, str]]] = {}
        for t in term_df:
            if abs(len(t) - len(token)) > max_cost or t == token:
                continue
            c = dist(t, token)
            if 1 <= c <= max_cost:
                by_cost.setdefault(c, []).append((-rankv[t], t))
        for c in sorted(by_cost):
            for _, t in sorted(by_cost[c])[:MAX_CANDIDATES]:
                out.setdefault(t, c)
    if prefix:
        pref = sorted(
            ((-rankv[t], t) for t in term_df if t.startswith(token) and t != token)
        )[:MAX_CANDIDATES_PREFIX]
        for _, t in pref:
            # a term reachable both ways keeps the MIN cost (prefix = 0),
            # like TermDict.expand
            out[t] = 0
    return sorted(out.items())


def expand_query(
    specs: list[tuple[str, bool]],
    term_df: dict[str, int],
    num_typos: int = 2,
    distance: str = "levenshtein",
    rank: dict[str, int] | None = None,
) -> dict[tuple[str, bool], list[tuple[str, int]]]:
    """Every (token, prefix?) spec → candidate map — the contract of
    both engine expanders. Keying by the spec,
    not the token, keeps a repeated token's copies apart: only the
    last-position copy is prefix-expanded."""
    return {
        (tok, pref): expand_token(
            tok, term_df, num_typos, prefix=pref, distance=distance, rank=rank
        )
        for tok, pref in specs
    }


@dataclass
class OracleIndex:
    n_docs: int = 0
    avgdl: float = 0.0
    dl: dict[int, int] = field(default_factory=dict)
    tf: dict[str, dict[int, int]] = field(default_factory=dict)  # term → {doc: tf}
    positions: dict[str, dict[int, list[int]]] = field(default_factory=dict)
    docs: dict[int, dict] = field(default_factory=dict)  # doc_id → attributes

    @property
    def term_df(self) -> dict[str, int]:
        return {t: len(d) for t, d in self.tf.items()}


def build(rows: list[tuple[int, str]], attrs: dict[int, dict] | None = None) -> OracleIndex:
    """rows: [(doc_id, text)] → index (keep_empty position semantics)."""
    ix = OracleIndex()
    total = 0
    for doc_id, text in rows:
        toks = tokenize(text)
        if not toks:
            continue
        ix.dl[doc_id] = len(toks)
        total += len(toks)
        for term, pos in toks:
            ix.tf.setdefault(term, {}).setdefault(doc_id, 0)
            ix.tf[term][doc_id] += 1
            ix.positions.setdefault(term, {}).setdefault(doc_id, []).append(pos)
    ix.n_docs = len(ix.dl)
    ix.avgdl = total / ix.n_docs if ix.n_docs else 0.0
    ix.docs = attrs or {}
    return ix


def contrib(ix: OracleIndex, term: str, doc_id: int) -> int:
    tf = ix.tf[term][doc_id]
    dfv = len(ix.tf[term])
    idf = math.log(1.0 + (ix.n_docs - dfv + 0.5) / (dfv + 0.5))
    tfn = tf * (scoring.K1 + 1.0) / (
        tf + scoring.K1 * (1.0 - scoring.B + scoring.B * ix.dl[doc_id] / ix.avgdl)
    )
    return int(math.floor(idf * tfn * scoring.SCALE + 0.5))


def search(
    ix: OracleIndex,
    tokens: list[str],
    num_typos: int = 0,
    prefix_last: bool = True,  # reference default (src/core_api.cpp:299)
    mode: str = "and",
    excludes: list[str] | None = None,
    k: int = 10,
    filter_fn=None,
) -> list[tuple[int, int]]:
    """→ [(doc_id, score_milli)] sorted score DESC, doc_id DESC, top k.

    Drop-tokens schedule of the reference (src/index.cpp:1757-1783),
    threshold 10: for d = 1..n keep tokens[:n-d] while d <= n//2, else
    tokens[d - n//2:]; empty attempts are skipped. Prefix applies to
    each attempt's last position only (src/index.cpp:1697-1702).
    """
    n = len(tokens)
    plan = [tokens]
    for d in range(1, n + 1):
        t = tokens[: n - d] if d <= n // 2 else tokens[d - n // 2 :]
        if t:
            plan.append(t)
    best: dict[int, int] = {}
    for attempt in plan:
        specs = [
            (tok, prefix_last and i == len(attempt) - 1) for i, tok in enumerate(attempt)
        ]
        cand = expand_query(specs, ix.term_df, num_typos)
        if mode == "and" and any(not cand[s] for s in specs):
            continue
        per_doc: dict[int, dict[int, int]] = {}
        for qidx, spec in enumerate(specs):
            for term, _cost in cand[spec]:
                for doc_id in ix.tf.get(term, {}):
                    c = contrib(ix, term, doc_id)
                    slot = per_doc.setdefault(doc_id, {})
                    slot[qidx] = max(slot.get(qidx, 0), c)
        for doc_id, toks_scores in per_doc.items():
            if mode == "and" and len(toks_scores) != len(attempt):
                continue
            s = sum(toks_scores.values())
            if s > best.get(doc_id, -1):
                best[doc_id] = s
        if len(best) >= 10:  # drop_tokens_threshold
            break
    if excludes:
        ex_docs = set()
        for t in excludes:
            ex_docs |= set(ix.tf.get(t, {}))
        best = {d: s for d, s in best.items() if d not in ex_docs}
    if filter_fn is not None:
        best = {d: s for d, s in best.items() if filter_fn(ix.docs.get(d, {}))}
    ranked = sorted(best.items(), key=lambda kv: (-kv[1], -kv[0]))
    return ranked[:k]
