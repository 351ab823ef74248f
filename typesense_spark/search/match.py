"""Proximity match scoring (Q11) + highlighting (Q23).

Reference semantics (``/root/reference/include/match_score.h:106-216``):
given each query token's sorted positions within one document, find the
placement — one current position per token, advanced smallest-first —
that maximizes (tokens within a 10-position window, then minimal spread),
and pack ``(words_present << 16) | (255 - typo_cost) << 8 | (100 - spread)``
(``match_score.h:49-57``).

Re-derivation (not a translation): at each sweep state the tokens whose
current position lies within ``min + WINDOW`` are exactly a suffix of
the positions sorted descending, so the reference's per-pair
displacement sum telescopes to ``max_in_window - min`` — we compute
that directly. Parity is proven against the reference's own golden
vectors (``test/match_score_test.cpp``) in ``tests/test_match.py``.

Engine integration: BM25 is the primary relevance (SURVEY.md §0.1);
the Match score is an optional second-stage re-rank over the candidate
set. ``match_rescore`` is its one plan, keyed by query id: ``search()``
passes a one-qid spec map and the ``batch_rerank_*`` entry points pass
one per query. It decodes stored positions from the posting blocks and
scores each (query, doc) in an Arrow-batched UDF under one of two pure
rules — ``proximity_score`` (Q11) or ``text_match_score`` (the
text-match-primary mode with the typo-cost byte). ``highlight`` runs
driver-side on the ≤250 winning rows, like the reference
(``src/collection.cpp:1309-1473``).
"""

from __future__ import annotations

import heapq

from typesense_spark.tokenizer import tokenize

WINDOW_SIZE = 10
MAX_DISPLACEMENT = (1 << 16) - 1


def match_window(token_positions: list[list[int]]) -> tuple[int, int, list[int]]:
    """→ (words_present, distance, best_window_positions) per the
    reference semantics; the window positions are the in-window token
    positions of the winning sweep state (``Match::offsets``), which
    highlighting centers its snippet on.

    ``token_positions``: per query token, ASCENDING positions in the
    doc; tokens beyond the first 10 are ignored (reference cap).
    """
    lists = [p for p in token_positions[:WINDOW_SIZE] if p]
    if not lists:
        return 0, 0, []
    # heap of (position, token_id, index_into_list)
    heap = [(p[0], tid, 0) for tid, p in enumerate(lists)]
    heapq.heapify(heap)
    best_num, best_disp = 1, MAX_DISPLACEMENT
    best_window: list[int] = [heap[0][0]]
    while len(heap) > 1:
        positions = sorted(p for p, _, _ in heap)
        lo = positions[0]
        in_window = [p for p in positions if p - lo <= WINDOW_SIZE]
        num = len(in_window)
        disp = in_window[-1] - lo
        if num > best_num or (num == best_num and disp < best_disp):
            best_num, best_disp, best_window = num, disp, in_window
        if best_num == len(lists) and best_disp == len(heap) - 1:
            break  # provably optimal
        _, tid, idx = heapq.heappop(heap)
        if idx + 1 < len(lists[tid]):
            heapq.heappush(heap, (lists[tid][idx + 1], tid, idx + 1))
    if best_disp == MAX_DISPLACEMENT:
        best_disp = 0
    return best_num, 100 - best_disp, best_window


def match_score(token_positions: list[list[int]]) -> tuple[int, int]:
    """→ (words_present, distance) per the reference semantics."""
    words, distance, _ = match_window(token_positions)
    return words, distance


def packed_match_score(token_positions: list[list[int]], total_cost: int = 0) -> int:
    words, distance = match_score(token_positions)
    return (words << 16) | ((255 - total_cost) << 8) | distance


BLOCK_KEY = ["field", "term", "salt", "block_id"]


def candidate_blocks(index, blocks, doc_ids_df):
    """Restrict packed blocks to those containing ≥1 candidate doc
    BEFORE any position decode: a cheap ids-only vectorized pass tags
    each block key with its doc ids, a semi-join against the candidate
    set keeps the hit keys, and the blocks semi-join back on the key.
    Positions of a block with zero candidates are never decoded — the
    same restrict-then-decode order the WAND seed pass uses on block
    [min_doc_id, max_doc_id] metadata (``wand.py``), but exact: id
    streams are ~1 varint/doc while position streams are ~tf
    varints/doc, so the probe pass costs a fraction of what it prunes."""
    import numpy as np
    import pyarrow as pa

    from typesense_spark.index import codec
    from typesense_spark.index.build import _flat_varints

    def ids_gen(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            n_docs = batch.column("n_docs").to_numpy().astype(np.int64)
            total = int(n_docs.sum())
            ids = codec.segmented_delta_decode(
                _flat_varints(batch, "ids_bin", total), n_docs
            )
            take = pa.array(np.repeat(np.arange(batch.num_rows), n_docs), type=pa.int64())
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("field").take(take),
                    batch.column("term").take(take),
                    batch.column("salt").take(take),
                    batch.column("block_id").take(take),
                    pa.array(ids.astype(np.int64), type=pa.int64()),
                ],
                names=[*BLOCK_KEY, "doc_id"],
            )

    ids_df = blocks.select(*BLOCK_KEY, "n_docs", "ids_bin").mapInArrow(
        ids_gen, schema="field string, term string, salt int, block_id int, doc_id long"
    )
    hit_keys = (
        ids_df.join(doc_ids_df.select("doc_id"), "doc_id", "left_semi")
        .select(*BLOCK_KEY)
        .distinct()
    )
    return blocks.join(hit_keys, BLOCK_KEY, "left_semi")


def decode_positions_df(blocks, term_order: dict[str, int]):
    """Packed blocks → (doc_id, tid, positions array<long>), fully
    vectorized in ``mapInArrow``: the whole batch's id/tf/position
    varint streams decode as one numpy pass each
    (``codec.segmented_delta_decode`` / ``codec.segmented_cumsum``),
    and the per-doc position lists are built as ONE Arrow ListArray
    from flat values + offsets — no per-posting Python objects
    (the r2-flagged ``itertuples`` + list-comprehension path)."""
    import numpy as np
    import pyarrow as pa

    from typesense_spark.index import codec
    from typesense_spark.index.build import _binary_buffers, _flat_varints

    def pos_gen(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            n_docs = batch.column("n_docs").to_numpy().astype(np.int64)
            total = int(n_docs.sum())
            ids = codec.segmented_delta_decode(
                _flat_varints(batch, "ids_bin", total), n_docs
            )
            tfs = _flat_varints(batch, "tfs_bin", total).astype(np.int64)
            offs, vals = _binary_buffers(batch.column("pos_bin"))
            flat = codec.varint_decode(vals[offs[0] : offs[-1]].tobytes())
            if flat.size == 0:
                continue  # index built without positions
            # per-doc record = [count, first, diffs...]; count == tf
            rec_starts = np.zeros(total, dtype=np.int64)
            np.cumsum(tfs[:-1] + 1, out=rec_starts[1:])
            if flat.size != int(tfs.sum()) + total or not (
                flat[rec_starts] == tfs.astype(np.uint64)
            ).all():
                raise ValueError("position stream / tf mismatch")
            keep = np.ones(flat.size, dtype=bool)
            keep[rec_starts] = False
            positions = codec.segmented_cumsum(flat[keep], tfs)
            terms_by_block = batch.column("term").to_pylist()  # one per BLOCK
            tids = np.repeat(
                np.array([term_order[t] for t in terms_by_block], dtype=np.int32),
                n_docs,
            )
            offsets = np.zeros(total + 1, dtype=np.int64)
            np.cumsum(tfs, out=offsets[1:])
            lists = pa.ListArray.from_arrays(
                pa.array(offsets.astype(np.int32), type=pa.int32()),
                pa.array(positions.astype(np.int64), type=pa.int64()),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids.astype(np.int64), type=pa.int64()),
                    pa.array(tids, type=pa.int32()),
                    lists,
                ],
                names=["doc_id", "tid", "positions"],
            )

    cols = ["term", "n_docs", "ids_bin", "tfs_bin", "pos_bin"]
    return blocks.select(*cols).mapInArrow(
        pos_gen, schema="doc_id long, tid int, positions array<long>"
    )


def _slot_lists(entries) -> tuple[int, list[list[int]]]:
    """One (qid, doc)'s decoded (slot, cost, positions) entries →
    (total cost, sorted position lists in slot order): per slot the
    MIN-cost candidate present in the doc is used, equal-min-cost
    candidates union their positions, and the cost sums over matched
    slots (capped at the cost byte's 255)."""
    by_slot: dict[int, tuple[int, list[int]]] = {}
    for e in entries:
        s, c = int(e["slot"]), int(e["cost"])
        cur = by_slot.get(s)
        if cur is None or c < cur[0]:
            by_slot[s] = (c, [int(x) for x in e["positions"]])
        elif c == cur[0]:
            cur[1].extend(int(x) for x in e["positions"])
    total = min(sum(c for c, _ in by_slot.values()), 255)
    # slot order, not collect_list arrival order: match_window caps at
    # the first 10 lists, so unordered iteration would make scores vary
    # across runs for docs matching > 10 slots
    return total, [sorted(ps) for _s, (_c, ps) in sorted(by_slot.items())]


def proximity_score(entries) -> int:
    """Q11 proximity rule: the packed Match score over the slot lists,
    cost byte fixed at 255; a one-list doc runs the sweep too
    (Match(1, 100))."""
    _, lists = _slot_lists(entries)
    return packed_match_score(lists)


def text_match_score(entries) -> int:
    """Text-match rule (r4 VERDICT #4): ``(words << 16) | (255 -
    total_cost) << 8 | distance`` incl. the typo-cost byte; a doc whose
    match reduces to ONE slot scores the reference's single-token
    Match(1, 0) — distance byte 0 (src/index.cpp:1822-1823)."""
    total, lists = _slot_lists(entries)
    words, dist = (1, 0) if len(lists) == 1 else match_score(lists)
    return (words << 16) | ((255 - total) << 8) | dist


RESCORE_RULES = {"proximity": proximity_score, "text_match": text_match_score}


def proximity_specs(specs, cand_map) -> list[tuple[str, int, int]]:
    """A query's proximity spec list: every token of ``specs`` that is
    "in the dictionary" — its expansion under either prefix flag holds
    the exact token (cost 0) — one slot per token in sorted-term order,
    cost 0."""
    toks = sorted(
        {
            tok
            for tok, pref in specs
            for p in (pref, not pref)
            if any(t == tok for t, _ in cand_map.get((tok, p), ()))
        }
    )
    return [(t, i, 0) for i, t in enumerate(toks)]


def text_match_specs(specs, cand_map) -> list[tuple[str, int, int, int]]:
    """A query's text-match spec list: (candidate term, token slot,
    adjusted cost, typo cost) for every candidate of every slot of
    ``specs``, the adjusted cost carrying the reference's +1
    length-extension — a matched leaf longer/shorter than the query
    token costs one extra (next_suggestion, src/index.cpp:2038-2040)."""
    return sorted(
        {
            (t, i, c + (len(t) != len(tok)), c)
            for i, (tok, pref) in enumerate(specs)
            for t, c in cand_map.get((tok, pref), ())
        }
    )


def match_rescore(index, qid_doc_df, specs_by_qid, fields, rule: str, levels=None):
    """Second-stage Match re-rank, the one plan for search() (a one-qid
    map) and the batch entry points: (qid, doc_id) pairs → (qid, doc_id,
    match_score).

    ``specs_by_qid``: per qid the (term, slot, cost[, typo cost]) spec
    list (:func:`proximity_specs` / :func:`text_match_specs`; the typo
    cost defaults to cost); ``rule`` names the scorer in
    :data:`RESCORE_RULES`. ``levels``: optional (qid, lvl) typo-deepening
    stop levels — a query's specs with typo cost above its level are
    left out, as its scoring left those candidates out. The UNION of
    every query's terms restricts the block scan to blocks holding ≥1 candidate doc
    (:func:`candidate_blocks` — ids decode before positions) and
    decodes positions once (:func:`decode_positions_df`); a broadcast
    (qid, tid, slot, cost) map fans each decoded (doc, term) row out to
    the querying slots, the rows restrict to the candidate pairs, and
    one collect_list per (qid, doc_id) feeds ONE Arrow-batched UDF."""
    import pandas as pd
    from pyspark.sql import functions as F

    spark = index.spark
    terms = sorted({e[0] for lst in specs_by_qid.values() for e in lst})
    if not terms:
        return spark.createDataFrame(
            [], schema="qid string, doc_id long, match_score long"
        )
    term_order = {t: i for i, t in enumerate(terms)}
    blocks = index.candidate_postings(terms, list(fields))
    pruned = candidate_blocks(index, blocks, qid_doc_df)
    per_term = decode_positions_df(pruned, term_order)
    smap = spark.createDataFrame(
        sorted(
            {
                (q, term_order[e[0]], int(e[1]), int(e[2]), int(e[-1]))
                for q, lst in specs_by_qid.items()
                for e in lst
            }
        ),
        schema="qid string, tid int, slot int, cost int, typo int",
    )
    if levels is not None:
        smap = (
            smap.join(levels, "qid", "left")
            .where(F.col("lvl").isNull() | (F.col("typo") <= F.col("lvl")))
            .drop("lvl")
        )
    cand = per_term.join(F.broadcast(smap), "tid").join(
        qid_doc_df.select("qid", "doc_id"), ["qid", "doc_id"], "left_semi"
    )
    agg = cand.groupBy("qid", "doc_id").agg(
        F.collect_list(F.struct("slot", "cost", "positions")).alias("scp")
    )
    score = RESCORE_RULES[rule]
    score_udf = F.pandas_udf(
        lambda s: pd.Series([score(lst) for lst in s], dtype="int64"), "long"
    )
    return agg.select(
        "qid", "doc_id", score_udf(F.col("scp")).alias("match_score")
    )


def with_match_score(index, matched, specs_by_qid, fields, rule: str, levels=None):
    """``matched`` (qid, doc_id, ...) plus its ``match_score`` column
    (:func:`match_rescore`; 0 for a doc holding none of its query's
    spec terms)."""
    from pyspark.sql import functions as F

    ms = match_rescore(index, matched, specs_by_qid, fields, rule, levels)
    return matched.join(ms, ["qid", "doc_id"], "left").withColumn(
        "match_score", F.coalesce("match_score", F.lit(0)).cast("long")
    )


SNIPPET_AFFIX_TOKENS = 4  # reference highlight_affix_num_tokens
SNIPPET_THRESHOLD = 30  # reference snippet_threshold default


def highlight(
    content: str,
    query_terms: set[str],
    snippet_threshold: int = SNIPPET_THRESHOLD,
    affix: int = SNIPPET_AFFIX_TOKENS,
    highlighted_fully: bool = False,
    start_tag: str = "<mark>",
    end_tag: str = "</mark>",
) -> dict:
    """Best-Match-window highlighting (driver-side, winners only) —
    reference snippet shaping ``src/collection.cpp:1309-1473``:

    - the snippet is centered on the BEST Match window (the same sweep
      as the proximity score, :func:`match_window`), not the first hit;
    - values of ≤ ``snippet_threshold`` tokens emit whole (no cropping);
      longer values crop to [window_min - affix, window_max + affix];
    - any occurrence of a matched token STRING inside the snippet is
      wrapped (reference token_hits semantics);
    - ``highlighted_fully`` adds the full value with the same marks
      (reference highlight_full_fields).

    Returns {"snippet", "matched_tokens", "value"} — value is None
    unless highlighted_fully.
    """
    toks = tokenize(content)
    raws = _raw_tokens(content)
    if not toks:
        return {"snippet": "", "matched_tokens": [], "value": None}
    norm_at = {p: t for t, p in toks}  # raw-token position → normalized term
    present = sorted({t for t, _ in toks if t in query_terms})
    if not present:
        return {
            "snippet": " ".join(raws[: 2 * affix + 1]),
            "matched_tokens": [],
            "value": None,
        }
    plists = [sorted(p for t, p in toks if t == qt) for qt in present]
    _, _, window = match_window(plists)
    token_hits = set(present)
    if len(raws) <= snippet_threshold:
        lo, hi = 0, len(raws) - 1
    else:
        lo = max(min(window) - affix, 0)
        hi = min(max(window) + affix, len(raws) - 1)

    def _mark(i: int, out_tokens: list[str] | None = None) -> str:
        if norm_at.get(i) in token_hits:
            if out_tokens is not None:
                out_tokens.append(raws[i])
            return f"{start_tag}{raws[i]}{end_tag}"
        return raws[i]

    matched_tokens: list[str] = []
    snippet = " ".join(_mark(i, matched_tokens) for i in range(lo, hi + 1))
    value = None
    if highlighted_fully:
        value = " ".join(_mark(i) for i in range(len(raws)))
    return {"snippet": snippet, "matched_tokens": matched_tokens, "value": value}


def highlight_array(
    elements: list[str],
    query_terms: set[str],
    snippet_threshold: int = SNIPPET_THRESHOLD,
    affix: int = SNIPPET_AFFIX_TOKENS,
    start_tag: str = "<mark>",
    end_tag: str = "</mark>",
) -> dict:
    """B5 array-field highlighting — reference semantics
    (``src/collection.cpp:1309-1473`` array branch; expectations ported
    from ``test/collection_test.cpp`` ArrayStringFieldHighlight over
    ``test/array_text_documents.jsonl``):

    - each array element containing ≥1 matched token emits its own
      snippet (the element's best Match window, same shaping as
      :func:`highlight`);
    - snippets sort by the element's packed Match score DESC; equal
      scores give priority to LOWER array indices;
    - ``indices`` names which element each snippet came from.

    Returns {"snippets": [...], "indices": [...], "matched_tokens": [...]}.
    """
    scored: list[tuple[int, int, dict]] = []
    for ei, content in enumerate(elements or []):
        toks = tokenize(content or "")
        present = sorted({t for t, _ in toks if t in query_terms})
        if not present:
            continue
        plists = [sorted(p for t, p in toks if t == qt) for qt in present]
        score = packed_match_score(plists)
        h = highlight(
            content, query_terms, snippet_threshold, affix,
            start_tag=start_tag, end_tag=end_tag,
        )
        scored.append((-score, ei, h))
    scored.sort(key=lambda x: (x[0], x[1]))
    return {
        "snippets": [h["snippet"] for _, _, h in scored],
        "indices": [ei for _, ei, _ in scored],
        "matched_tokens": sorted(
            {t for _, _, h in scored for t in h["matched_tokens"]}
        ),
    }


def _raw_tokens(content: str) -> list[str]:
    import re

    return re.split(r"[ \n]", content)
