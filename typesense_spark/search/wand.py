"""Block-max WAND pruning (SURVEY.md §4 "Top-k pruning", M4).

The reference's analogue is the per-term ``leaf->max_score``
(``/root/reference/src/art.cpp:411-412``) feeding a bounded min-heap
(``include/topster.h:98-104``). Our postings blocks carry a true
per-block upper bound ``max_contrib`` (max quantized BM25 contribution
of any doc in the block, computed at build time with the real dl) —
strictly tighter than a per-term bound.

Distributed shape (set-at-a-time rather than the classic cursor walk):

1. cheap lower-bound pass: fully score only the candidates of the
   single query token with the highest upper bound; the k-th best
   partial score is a valid threshold τ (any doc's subset-of-tokens
   score lower-bounds its full OR score);
2. block filter on METADATA ONLY (no decode): a block of token i
   survives iff ``block.max_contrib + Σ_{j≠i} ub_j ≥ τ``. Any doc
   confined to pruned blocks has true score < τ ≤ k-th best, so it can
   neither enter nor perturb the top-k (proof: its computed partial
   score ≤ true score < τ while every true top-k doc keeps all blocks
   whose bound clears τ... pruned contributions belong only to docs
   whose total bound is < τ);
3. decode survivors and score normally.

The win at scale: step 2 is a column-pruned scan of tiny block
metadata; the expensive decode + shuffle only touches surviving blocks.
Equality with the exhaustive plan is asserted in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def prune_blocks(
    index,
    specs: list[tuple[str, bool]],
    cand_map: dict[tuple[str, bool], list[tuple[str, int]]],
    fields,
    k: int,
    min_blocks: int = 256,
    keep_ids: DataFrame | None = None,
) -> DataFrame:
    """Return the pruned postings-block DataFrame for an OR query over
    the query's (token, prefix?) ``specs`` (``engine._specs``).

    ``keep_ids``: optional filter keep-set (doc_id). The reference
    evaluates filters FIRST and searches within them
    (``/root/reference/src/index.cpp:1322-1331``); here both τ probe
    passes semi-join the keep set, so τ is the k-th best exact score
    AMONG FILTERED DOCS — the filtered-OR query (the most common
    production shape) prunes instead of falling back to the exhaustive
    plan. Soundness is unchanged: τ lower-bounds the k-th best filtered
    full score (it is the exact score of k specific filtered docs), and
    a pruned block only drops docs whose total score bound is < τ."""
    tok_terms = {s: [t for t, _ in cand_map.get(s, [])] for s in specs}
    all_terms = sorted({t for ts in tok_terms.values() for t in ts})
    if not all_terms:
        return index.candidate_postings([], list(fields))
    blocks = index.candidate_postings(all_terms, list(fields))

    # pruning has fixed costs (two probe passes); below ~min_blocks a
    # straight decode is cheaper than any skipping. The engagement
    # decision is COUNT-JOB-FREE (r3 VERDICT #6): ceil(df/block_size)
    # per candidate lower-bounds its block count (salting only splits
    # blocks further), and df comes from the already-cached driver
    # dictionary. Above the expansion collect threshold no dictionary
    # is collected — but a corpus that big puts any candidate set far
    # past the fixed-cost crossover, so engage unconditionally.
    from typesense_spark.search.engine import _get_term_df, _use_spark_expand

    if min_blocks > 0 and not _use_spark_expand(index, tuple(fields)):
        term_df = _get_term_df(index, tuple(fields))
        bs = max(int(getattr(index, "block_size", 128) or 128), 1)
        est_blocks = sum(-(-term_df.get(t, 0) // bs) for t in all_terms)
        if est_blocks <= min_blocks:
            return blocks

    # per-token upper bound from block metadata only
    term_ub = {
        r["term"]: int(r["ub"])
        for r in blocks.groupBy("term").agg(F.max("max_contrib").alias("ub")).collect()
    }
    tok_ub = {
        tok: max((term_ub.get(t, 0) for t in ts), default=0)
        for tok, ts in tok_terms.items()
    }
    # duplicates in the spec list each contribute to a doc's score →
    # count every instance in the global upper bound (conservative)
    total_ub = sum(tok_ub.get(s, 0) for s in specs)

    # lower-bound pass (two probes):
    # 1. seed docs = top-k of the heaviest token alone (cheap scan);
    # 2. τ = k-th EXACT multi-token score of the seeds, computed by
    #    decoding only blocks whose [min_doc, max_doc] range covers a
    #    seed (metadata filter). Exact achieved scores approach the sum
    #    of upper bounds, so τ can exceed any single token's ub — the
    #    one-token partial bound never prunes other tokens' blocks.
    heavy = max(specs, key=lambda s: tok_ub.get(s, 0))
    heavy_terms = tok_terms.get(heavy) or all_terms
    from typesense_spark.index.build import decode_postings

    seed_scored = (
        decode_postings(index.candidate_postings(heavy_terms, list(fields)))
        .groupBy("doc_id")
        .agg(F.max("contrib").alias("s"))
    )
    if keep_ids is not None:
        seed_scored = seed_scored.join(keep_ids, "doc_id", "left_semi")
    partial = seed_scored.orderBy(F.col("s").desc()).limit(k).collect()
    tau = 0
    if len(partial) >= k:
        seeds = [int(r["doc_id"]) for r in partial]
        cover = None
        for s in seeds:
            c = (F.col("min_doc_id") <= s) & (F.col("max_doc_id") >= s)
            cover = c if cover is None else (cover | c)
        term_tok = [(t, j) for j, ts in enumerate(tok_terms.values()) for t in ts]
        tmap = index.spark.createDataFrame(term_tok, schema="term string, qtok int")
        exact = (
            decode_postings(blocks.where(cover))
            .where(F.col("doc_id").isin(seeds))
            .join(F.broadcast(tmap), "term")
            .groupBy("doc_id", "qtok")
            .agg(F.max("contrib").alias("c"))
            .groupBy("doc_id")
            .agg(F.sum("c").alias("s"))
            .orderBy(F.col("s").desc())
            .limit(k)
            .collect()
        )
        if len(exact) >= k:
            tau = int(exact[-1]["s"])
        else:
            tau = int(partial[-1]["s"])

    # metadata-only block filter: max_contrib + (total_ub - own token ub) >= τ.
    # A term serving several tokens keeps the LARGEST token ub
    # (conservative: more blocks survive, never fewer).
    term_tok_ub: dict[str, int] = {}
    for tok, ts in tok_terms.items():
        for t in ts:
            term_tok_ub[t] = max(term_tok_ub.get(t, 0), tok_ub[tok])
    ub_map = F.create_map(
        *[F.lit(x) for pair in term_tok_ub.items() for x in pair]
    )
    survived = blocks.where(
        F.col("max_contrib") + (F.lit(total_ub) - F.element_at(ub_map, F.col("term")))
        >= F.lit(tau)
    )
    return survived
