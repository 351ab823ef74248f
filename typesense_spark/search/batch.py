"""Batched multi-query search — N queries in ONE Spark job, FULL surface.

The reference's throughput story is concurrent single queries against
an in-memory trie (250 qps on 3 nodes, README.md:172), and each of
those requests runs the complete pipeline: synonym variants
(src/collection.cpp:768-769), drop-tokens fallback
(src/index.cpp:1757-1783), per-field weights
(src/collection.cpp:593-597), and exclusions. Spark's per-job latency
floor makes one-query-at-a-time the wrong shape; the idiomatic
equivalent is set-oriented: expand EVERY query's candidates into one
broadcast map, decode the union of candidate postings ONCE, score all
(query-variant, doc) pairs in one aggregation, and take per-query
top-k with a window. Throughput then scales with cluster size instead
of being bounded by job-scheduling latency (measured in bench.py as
``batch_qps`` / ``batch_qps_full``).

Per-query semantics are identical to ``engine.search`` — asserted
query-for-query against it in tests, and against the DuckDB oracle in
the gate (``batch_queries``, ``batch_full``). The per-query control
flow lifts into set-oriented form:

- each query unrolls to its VECTORS: the organic drop-tokens attempt
  plan (attempt 0 = all tokens, then the reference's drop schedule)
  plus synonym-window variants (``synonym_reduction``), every vector
  scored independently in one aggregation keyed by vector id;
- the drop-tokens stop rule ("stop once the merged result count
  reaches the threshold") becomes a window computation: per query, a
  doc's FIRST attempt is ``min(attempt)``; the cumulative distinct-doc
  count per attempt is a running sum over attempt order; the cutoff is
  the first attempt whose cumulative count reaches the threshold, and
  organic rows with ``attempt > cutoff`` are discarded — exactly the
  docs the engine's early-`break` never computes;
- synonym-variant vectors bypass the cutoff (the reference always
  searches them) and merge by max score, like the engine;
- scoring is the engine's own aggregation (``engine._aggregate_scores``)
  keyed by vector instead of by query — including ``query_by_weights``'
  per-(vector, doc, field, token) max weighted by field;
- '-token' exclusions anti-join per (qid, doc) pairs built from one
  decode of the union of excluded terms.

Typo deepening (``typo_tokens_threshold``) lifts too: the engine's
per-attempt cost-level probe loop becomes ONE conditional aggregation
(each level's score/match-count as extra aggregate columns — no row
explosion) plus a tiny per-(vector, level) count relation that picks
each vector's stop level; the probe counts are NARROWED (per-query
excludes + filters applied) exactly like the engine's probe
(``engine._deepen_level`` over its narrowed results).
Facets (:func:`batch_facet_counts`) and grouping (:func:`batch_grouped`)
ride the same matched-set pipeline.

The layers above the matched set are the engine's own, keyed by qid:
grouping ranks through ``engine._rank_groups``; curation
(:func:`batch_curated`, :func:`batch_grouped_curated`) resolves rules
per query driver-side (pure string matching, like the reference's
populate_overrides), joins hidden docs to the narrowing relation, and
runs ``curation.splice_hits`` / ``curation.splice_groups`` over ONE
collected per-query page; the Match re-rank
(:func:`batch_rerank_proximity`, :func:`batch_rerank_text_match`) is
``match.match_rescore`` over every query's spec list in one union
decode pass.

The one engine feature deliberately NOT in batch mode is WAND: it is a
top-k PRUNING strategy for a single query's scan, while the batch plan
amortizes one full scan across the whole query set — pruning per query
would re-introduce per-query work without reducing the shared scan.
WAND-flagged requests run through ``engine.search``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from typesense_spark.index.build import Index
from typesense_spark.search.curation import claimants, splice_groups, splice_hits
from typesense_spark.search.engine import (
    _aggregate_scores,
    _attempt_plan,
    _expand,
    _field_weights,
    _rank_groups,
    _specs,
    parse_query,
)
from typesense_spark.search.match import (
    proximity_specs,
    text_match_specs,
    with_match_score,
)

_EMPTY_SCHEMA = "qid string, rank long, doc_id long, score_milli long"
_MATCHED_SCHEMA = "qid string, doc_id long, score_milli long"
# organic attempts are numbered 0..n-1; synonym-variant vectors sit
# above this base so the cutoff window (organic only) never sees them
_SYN_BASE = 1_000_000


def _batch_matched(
    index: Index,
    queries: list[tuple[str, str]],
    fields: tuple[str, ...] = ("content",),
    num_typos: int = 0,
    prefix_last: bool = True,  # reference default (src/core_api.cpp:299)
    mode: str = "and",
    typo_distance: str = "levenshtein",
    query_by_weights: tuple[int, ...] = (),
    synonyms: dict | None = None,
    synonym_store: object | None = None,
    drop_tokens_threshold: int | None = None,
    filters: dict[str, str] | None = None,
    typo_tokens_threshold: int | None = None,
    hidden: dict[str, tuple[int, ...]] | None = None,
    _rescore: str | None = None,
) -> DataFrame:
    """The shared batch pipeline up to the per-query MATCHED set:
    (qid, doc_id, score_milli), one row per matching doc per query —
    consumed by :func:`batch_search` (top-k) and
    :func:`batch_facet_counts` (full-set facets, like the engine's
    facets-over-matched semantics). ``_rescore`` names a
    ``match.RESCORE_RULES`` rule whose ``match_score`` column is added
    (the ``batch_rerank_*`` entry points)."""
    if query_by_weights and len(query_by_weights) != len(fields):
        raise ValueError("query_by_weights must be parallel to fields")
    spark = index.spark
    rescore_specs: dict[str, list[tuple[str, int, int]]] = {}

    def _done(df: DataFrame) -> DataFrame:
        if _rescore is None:
            return df
        return with_match_score(index, df, rescore_specs, fields, _rescore)

    # ---- unroll queries to scoring vectors --------------------------------
    # vector = (vec_id, qid, attempt_idx, tokens); organic attempts carry
    # their plan index, synonym variants an index above _SYN_BASE
    excl_rows: list[tuple[str, str]] = []  # (qid, excluded term)
    qtokens: list[tuple[str, list[str]]] = []  # parse order preserved
    for qid, q in queries:
        tokens, excludes = parse_query(q)
        for t in excludes:
            excl_rows.append((qid, t))
        if not tokens or tokens == ["*"]:
            # wildcard (incl. the exclusion-only promotion) is a
            # doc-universe scan, not a postings query — per-query
            # engine.search handles it; the batch plan skips the qid
            continue
        qtokens.append((qid, tokens))

    def _unroll(organic: dict[str, list[str]]) -> list[tuple[int, str, int, list[str]]]:
        """Attempt + synonym vectors per qid; synonym windows rewrite
        the RAW query (reference reduces synonyms at the collection
        layer before the index-level skip)."""
        out: list[tuple[int, str, int, list[str]]] = []
        vid = 0
        for qid, tokens in qtokens:
            for aidx, attempt in enumerate(
                _attempt_plan(organic.get(qid, tokens), drop_tokens_threshold)
            ):
                out.append((vid, qid, aidx, attempt))
                vid += 1
            if synonym_store is not None:
                from typesense_spark.search.synonyms import synonym_reduction

                for si, vtoks in enumerate(synonym_reduction(tokens, synonym_store)):
                    out.append((vid, qid, _SYN_BASE + si, vtoks))
                    vid += 1
        return out

    def _spec_set(vecs) -> set[tuple[str, bool]]:
        return {
            s for _v, _q, _a, toks in vecs for s in _specs(toks, prefix_last)
        } | {(a, False) for alts in (synonyms or {}).values() for a in alts}

    vectors = _unroll({})
    specs = _spec_set(vectors)
    if not specs:
        return _done(spark.createDataFrame([], schema=_MATCHED_SCHEMA))
    # all unique (token, prefix?) across the batch in ONE expansion —
    # O(1) driver round-trips for an N-query batch (r2 VERDICT #7)
    cand_map = _expand(index, {}, specs, fields, num_typos, typo_distance)

    # Unindexed-token skip, mirroring engine.search (reference erases
    # zero-candidate tokens from the vector and continues the AND over
    # survivors, src/index.cpp:1716-1726 — only when the fallback may
    # continue, i.e. drop_tokens_threshold > 0; a threshold-0 query
    # keeps its dead token and produces the reference's empty AND).
    if drop_tokens_threshold and drop_tokens_threshold > 0:
        erased: dict[str, list[str]] = {}
        for qid, tokens in qtokens:
            if len(tokens) <= 1:
                continue
            alive = [
                t for t, s in zip(tokens, _specs(tokens, prefix_last)) if cand_map[s]
            ]
            if alive and len(alive) < len(tokens):
                erased[qid] = alive
        if erased:
            vectors = _unroll(erased)
            # only the specs whose prefix moved to a new last token expand
            _expand(index, cand_map, _spec_set(vectors), fields, num_typos, typo_distance)
    alt_of: dict[tuple[str, bool], list[str]] = {}
    if synonyms:
        # single-token alternates join the token's candidate set at cost
        # 0 (engine.search does the same per attempt); alternates absent
        # from the dictionary were filtered by their own (alt, False)
        # expansion above, so parity with the engine's driver path holds
        # on the Spark-expand path too. They stay FLAGGED (is_alt=1):
        # the engine appends alternates AFTER the typo-deepening stop
        # decision, so the deepening probe must count organic candidates
        # only.
        for spec in list(cand_map):
            alts = synonyms.get(spec[0])
            if alts:
                alt_of[spec] = sorted({a for a in alts if cand_map.get((a, False))})

    # per-qid Match re-rank spec lists, from the same candidate map the
    # vectors score with: proximity over every vector's tokens,
    # text-match over the attempt-0 vector with the synonym alternates
    # merged at cost 0 (the engine's attempt-loop merge)
    if _rescore == "proximity":
        qspecs: dict[str, list[tuple[str, bool]]] = {}
        for _v, qid, _a, toks in vectors:
            qspecs.setdefault(qid, []).extend(_specs(toks, prefix_last))
        rescore_specs = {q: proximity_specs(ss, cand_map) for q, ss in qspecs.items()}
    elif _rescore == "text_match":
        for _v, qid, aidx, toks in vectors:
            if aidx == 0:
                ss = _specs(toks, prefix_last)
                rescore_specs[qid] = text_match_specs(
                    ss,
                    {sp: cand_map[sp] + [(a, 0) for a in alt_of.get(sp, [])] for sp in ss},
                )

    # ---- candidate rows: one row per (vector, token-slot, candidate) ------
    def _build_rows(vs):
        rows: list[tuple[int, str, int, int, str, int, int, int]] = []
        max_cost: dict[int, int] = {}
        for v, qid, aidx, toks in vs:
            vspecs = _specs(toks, prefix_last)
            # synonyms-dict alternates apply to ORGANIC attempts only
            # (the engine merges them inside the attempt loop;
            # synonym-window variant vectors score with their own plain
            # expansion)
            cands = [
                [(t, c, 0) for t, c in cand_map[sp]]
                + ([(a, 0, 1) for a in alt_of.get(sp, [])] if aidx < _SYN_BASE else [])
                for sp in vspecs
            ]
            if mode == "and" and any(not c for c in cands):
                continue  # unsatisfiable AND vector -> contributes nothing
            for i, cand in enumerate(cands):
                for t, c, alt in cand:
                    rows.append((v, qid, aidx, i, t, len(toks), c, alt))
                    if not alt:
                        max_cost[v] = max(max_cost.get(v, 0), c)
        return rows, max_cost

    def _joined_for(rows):
        cmap = spark.createDataFrame(
            rows,
            schema="vec_id int, qid string, aidx int, qidx int, term string, "
            "n_tokens int, cost int, is_alt int",
        )
        decoded = index.decoded(
            sorted({r[4] for r in rows}), list(fields), spread=True
        )
        return decoded.join(F.broadcast(cmap), "term")

    # ---- per-(qid, doc) narrowing relations, built ONCE --------------------
    # used by the typo-deepening probe (the engine counts NARROWED
    # results — excludes + filters applied, like engine._deepen_level) and
    # by the final post-merge application below
    ex_docs = None
    if excl_rows:
        emap = spark.createDataFrame(
            sorted(set(excl_rows)), schema="qid string, term string"
        )
        ex_docs = (
            index.decoded(sorted({t for _, t in excl_rows}), list(fields), spread=True)
            .join(F.broadcast(emap), "term")
            .select("qid", "doc_id")
            .distinct()
        )
    qf = keep = None
    if filters:
        # each DISTINCT filter_by string becomes ONE keep relation
        # (plain Catalyst predicate over docs — pushdown applies); qids
        # map to their filter id via a broadcast table, so the whole
        # batch costs one scan per DISTINCT filter + one semi-join
        from typesense_spark.search.filters import apply_filter_by

        distinct = sorted({f for f in filters.values()})
        fid_of = {f: i for i, f in enumerate(distinct)}
        for f, fid in fid_of.items():
            part = apply_filter_by(index.docs, f).select(
                F.lit(fid).alias("fid"), "doc_id"
            )
            keep = part if keep is None else keep.unionByName(part)
        qf = spark.createDataFrame(
            [(qid, fid_of[f]) for qid, f in sorted(filters.items())],
            schema="qid string, fid int",
        )

    hid_pairs = None
    if hidden and any(hidden.values()):
        # Q20 hidden hits in batch: per-(qid, doc) pairs, excluded
        # before ranking/facets AND inside the deepening probe — the
        # engine's deepening probe applies hidden the same way
        hid_pairs = spark.createDataFrame(
            sorted({(q, int(d)) for q, ds in hidden.items() for d in ds}),
            schema="qid string, doc_id long",
        )

    def _narrow(df: DataFrame) -> DataFrame:
        """Per-(qid, doc) excludes + hidden + per-qid attribute filters
        (queries without a filter pass through untouched)."""
        if ex_docs is not None:
            df = df.join(ex_docs, ["qid", "doc_id"], "left_anti")
        if hid_pairs is not None:
            df = df.join(F.broadcast(hid_pairs), ["qid", "doc_id"], "left_anti")
        if qf is not None:
            filtered = (
                df.join(F.broadcast(qf), "qid")
                .join(keep, ["fid", "doc_id"], "left_semi")
                .drop("fid")
            )
            df = filtered.unionByName(df.join(F.broadcast(qf), "qid", "left_anti"))
        return df

    # ---- per-vector scoring (engine._aggregate_scores, keyed by vec_id) ---
    deepen_on = typo_tokens_threshold is not None and num_typos > 0

    def _score_vectors(rows, max_cost):
        """One vector subset -> (qid, aidx, doc_id, score_milli); the
        generic vector-keyed pipeline incl. the typo-deepening
        conditional aggregation when the subset carries typo costs."""
        joined = _joined_for(rows)
        deepen = deepen_on and any(max_cost.values())
        if not deepen:
            return _aggregate_scores(
                joined, ["vec_id", "qid", "aidx", "n_tokens"], fields,
                query_by_weights, mode, F.col("n_tokens"),
            ).select("qid", "aidx", "doc_id", "score_milli")
        # ---- typo deepening (Q4 in batch) ----------------------------------
        # the engine probes cost levels 0..max_cost-1 per attempt and
        # stops at the first level whose NARROWED result count reaches
        # typo_tokens_threshold (reference stops enumerating costlier
        # suggestions once results reach the threshold,
        # src/index.cpp:947-950). Lifted set-oriented: every level's
        # (score, match-count) is a conditional aggregate column over
        # the SAME rows (no row explosion — 3(L+1) extra columns for
        # L=num_typos ≤ 2), a tiny per-(vector, level) count relation
        # picks each vector's stop level, and one broadcast join selects
        # that level's score. `om{c}` counts ORGANIC candidates only
        # (the engine appends synonym alternates after the stop
        # decision); `m{c}`/`s{c}` include them, like the engine's final
        # rescore.
        levels = list(range(num_typos + 1))

        def _best(c: int, organic: bool):
            cond = F.col("cost") <= F.lit(c)
            if organic:
                cond = cond & (F.col("is_alt") == 0)
            return F.max(F.when(cond, F.col("contrib")))

        gk = ["vec_id", "qid", "aidx", "n_tokens", "doc_id"]
        if query_by_weights:
            per_ft = joined.groupBy(*gk, "field", "qidx").agg(
                *[_best(c, False).alias(f"ab{c}") for c in levels],
                *[_best(c, True).alias(f"ob{c}") for c in levels],
            )
            wcol = F.element_at(
                _field_weights(fields, query_by_weights), F.col("field")
            )
            scored_lv = per_ft.groupBy(*gk).agg(
                *[F.sum(wcol * F.col(f"ab{c}")).alias(f"s{c}") for c in levels],
                *[
                    F.countDistinct(
                        F.when(F.col(f"ab{c}").isNotNull(), F.col("qidx"))
                    ).alias(f"m{c}")
                    for c in levels
                ],
                *[
                    F.countDistinct(
                        F.when(F.col(f"ob{c}").isNotNull(), F.col("qidx"))
                    ).alias(f"om{c}")
                    for c in levels
                ],
            )
        else:
            per_tok = joined.groupBy(*gk, "qidx").agg(
                *[_best(c, False).alias(f"ab{c}") for c in levels],
                *[_best(c, True).alias(f"ob{c}") for c in levels],
            )
            scored_lv = per_tok.groupBy(*gk).agg(
                *[F.sum(f"ab{c}").alias(f"s{c}") for c in levels],
                *[F.count(f"ab{c}").alias(f"m{c}") for c in levels],
                *[F.count(f"ob{c}").alias(f"om{c}") for c in levels],
            )

        def _matched(col: str):
            return (
                F.col(col) == F.col("n_tokens")
                if mode == "and"
                else F.col(col) >= 1
            )

        thr = int(typo_tokens_threshold)
        cnt = _narrow(scored_lv).groupBy("vec_id").agg(
            *[F.sum(_matched(f"om{c}").cast("int")).alias(f"n{c}") for c in levels]
        )
        # synonym-window variant vectors BYPASS deepening (the engine
        # scores them after the attempt loop with the full expansion —
        # only organic attempts run the probe), pinned to full depth
        syn_vecs = {r[0] for r in rows if r[2] >= _SYN_BASE}
        mc_df = spark.createDataFrame(
            sorted(
                (v, max_cost.get(v, 0), v in syn_vecs)
                for v in {r[0] for r in rows}
            ),
            schema="vec_id int, maxc int, is_syn boolean",
        )
        # both sides are |vectors|-sized (tiny); broadcast the count
        # relation so the level decision never shuffles
        chosen = mc_df.join(F.broadcast(cnt), "vec_id", "left").select(
            "vec_id",
            F.when(F.col("is_syn"), F.col("maxc"))
            .otherwise(
                F.coalesce(
                    *[
                        F.when(
                            (F.lit(c) < F.col("maxc")) & (F.col(f"n{c}") >= thr),
                            F.lit(c),
                        )
                        for c in levels[:-1]
                    ],
                    F.col("maxc"),
                )
            )
            .alias("lvl"),
        )

        def _at_lvl(prefix: str):
            return F.coalesce(
                *[
                    F.when(F.col("lvl") == c, F.col(f"{prefix}{c}"))
                    for c in levels
                ]
            )

        return (
            scored_lv.join(F.broadcast(chosen), "vec_id")
            .withColumn("score_milli", _at_lvl("s"))
            .withColumn("mm", _at_lvl("m"))
            .where(
                (F.col("mm") == F.col("n_tokens"))
                if mode == "and"
                else (F.col("mm") >= 1)
            )
            .select("qid", "aidx", "doc_id", "score_milli")
        )

    multi_attempt = any(
        aidx > 0 and aidx < _SYN_BASE for _v, _q, aidx, _t in vectors
    )
    if not multi_attempt:
        rows, max_cost = _build_rows(vectors)
        if not rows:
            return _done(spark.createDataFrame([], schema=_MATCHED_SCHEMA))
        # ---- single-vector fast path (r4 VERDICT #1) -----------------------
        # The typo-free query-log replay shape — every query unrolled to
        # exactly ONE vector (no drop-tokens fallback plan, no synonym
        # windows, no deepening). Per (qid, doc) there is then at most
        # one scored row, so the per-vector keys (vec_id, aidx), the
        # cutoff windows, and the final max-merge aggregation are all
        # identity operations — skipping them restores the r3
        # two-aggregation plan (join → per-token max → per-doc sum) and
        # one full shuffle over the scored set. Results are identical
        # either way (asserted in tests/test_search.py batch parity).
        if not (deepen_on and any(max_cost.values())) and all(
            a == 0 for _v, _q, a, _t in vectors
        ):
            joined = _joined_for(rows)
            if not query_by_weights and all(
                len(toks) == 1 for _v, _q, _a, toks in vectors
            ):
                # all-single-token batch (the autocomplete / typo-log
                # replay shape): per (qid, doc) the token max IS the doc
                # score and the AND/OR match check is vacuous — one
                # aggregation instead of two (r6)
                scored = joined.groupBy("qid", "doc_id").agg(
                    F.max("contrib").alias("score_milli")
                )
                return _done(_narrow(scored))
            scored = _aggregate_scores(
                joined, ["qid", "n_tokens"], fields, query_by_weights, mode,
                F.col("n_tokens"),
            )
            return _done(_narrow(scored.select("qid", "doc_id", "score_milli")))
        scored = _score_vectors(rows, max_cost).select(
            "qid", "doc_id", "score_milli"
        )
    else:
        # ---- drop-tokens COHORT split (r6) ---------------------------------
        # The r5 plan scored EVERY query's full fallback-attempt fan-out
        # and discarded rows past the cutoff afterwards — for a batch
        # where most queries saturate at attempt 0 (the common case,
        # and the engine's early-break case) that multiplies the scored
        # rows ~3x for nothing. Phase 1 scores only attempt-0 + synonym
        # vectors and counts per-qid attempt-0 matches (one tiny
        # driver-collected aggregate over the persisted phase-1 rows);
        # fallback vectors are then unrolled ONLY for the queries below
        # the threshold, and the original cumulative-cutoff window runs
        # over just that cohort. Row-identical to the all-vectors plan:
        # a satisfied query's cutoff is 0 (cum >= threshold at fa=0), so
        # its fallback rows were always discarded.
        from typesense_spark.search.engine import _persist_scored

        thr = int(drop_tokens_threshold)
        a0 = [vec for vec in vectors if vec[2] == 0 or vec[2] >= _SYN_BASE]
        rows0, mc0 = _build_rows(a0)
        scored0 = _persist_scored(_score_vectors(rows0, mc0)) if rows0 else None
        if scored0 is not None:
            counts0 = {
                r["qid"]: r["c"]
                for r in scored0.where(F.col("aidx") < _SYN_BASE)
                .groupBy("qid")
                .agg(F.count("*").alias("c"))
                .collect()
            }
            organic0 = scored0.where(F.col("aidx") < _SYN_BASE)
            syn0 = scored0.where(F.col("aidx") >= _SYN_BASE)
        else:
            counts0, organic0, syn0 = {}, None, None
        fallback_qids = sorted(
            {q for _v, q, a, _t in vectors if 0 < a < _SYN_BASE}
        )
        needy = [q for q in fallback_qids if counts0.get(q, 0) < thr]
        organic_final = organic0
        if needy:
            needy_set = set(needy)
            vF = [
                vec
                for vec in vectors
                if 0 < vec[2] < _SYN_BASE and vec[1] in needy_set
            ]
            rowsF, mcF = _build_rows(vF)
            scoredF = _score_vectors(rowsF, mcF) if rowsF else None
            organicN = None
            if organic0 is not None:
                organicN = organic0.where(F.col("qid").isin(needy))
            if scoredF is not None:
                organicN = (
                    scoredF if organicN is None else organicN.unionByName(scoredF)
                )
            if organicN is not None:
                first = organicN.groupBy("qid", "doc_id").agg(
                    F.min("aidx").alias("fa")
                )
                wcum = (
                    Window.partitionBy("qid")
                    .orderBy("fa")
                    .rowsBetween(Window.unboundedPreceding, 0)
                )
                cut = (
                    first.groupBy("qid", "fa")
                    .agg(F.count("*").alias("n_new"))
                    .withColumn("cum", F.sum("n_new").over(wcum))
                    .where(F.col("cum") >= F.lit(thr))
                    .groupBy("qid")
                    .agg(F.min("fa").alias("cutoff"))
                )
                organicN = (
                    organicN.join(F.broadcast(cut), "qid", "left")
                    .where(
                        F.col("aidx")
                        <= F.coalesce(F.col("cutoff"), F.lit(_SYN_BASE))
                    )
                    .select("qid", "aidx", "doc_id", "score_milli")
                )
                sat = (
                    organic0.where(~F.col("qid").isin(needy))
                    if organic0 is not None
                    else None
                )
                organic_final = (
                    organicN if sat is None else sat.unionByName(organicN)
                )
        parts = [
            pp.select("qid", "doc_id", "score_milli")
            for pp in (organic_final, syn0)
            if pp is not None
        ]
        if not parts:
            return _done(spark.createDataFrame([], schema=_MATCHED_SCHEMA))
        scored = parts[0]
        for pp in parts[1:]:
            scored = scored.unionByName(pp)

    merged = scored.groupBy("qid", "doc_id").agg(
        F.max("score_milli").alias("score_milli")
    )
    # per-query attribute filters (Q9 in batch) + '-token' exclusions,
    # via the narrowing relations built above
    return _done(_narrow(merged))


def batch_search(
    index: Index,
    queries: list[tuple[str, str]],
    fields: tuple[str, ...] = ("content",),
    num_typos: int = 0,
    prefix_last: bool = True,
    mode: str = "and",
    k: int = 10,
    typo_distance: str = "levenshtein",
    query_by_weights: tuple[int, ...] = (),
    synonyms: dict | None = None,
    synonym_store: object | None = None,
    drop_tokens_threshold: int | None = None,
    filters: dict[str, str] | None = None,
    typo_tokens_threshold: int | None = None,
) -> DataFrame:
    """[(qid, q)] → (qid, rank, doc_id, score_milli), rank ≤ k per qid.

    Full engine surface per query (see module docstring): drop-tokens
    fallback (``drop_tokens_threshold``; None/0 disables, like the
    legacy batch path), synonym windows (``synonym_store``) and
    single-token alternates (``synonyms``), per-field weights
    (``query_by_weights``, parallel to ``fields``), '-token' exclusions
    parsed from each query string, and per-query attribute filters
    (``filters``: {qid: filter_by DSL} — each DISTINCT filter string
    compiles to one Catalyst predicate over the docs table; N queries
    sharing F filters cost F doc scans, not N), and typo deepening
    (``typo_tokens_threshold`` — per-vector cost-level stop rule with
    narrowed probe counts, see module docstring)."""
    merged = _batch_matched(
        index, queries, fields, num_typos, prefix_last, mode, typo_distance,
        query_by_weights, synonyms, synonym_store, drop_tokens_threshold,
        filters, typo_tokens_threshold,
    )
    # ---- per-query top-k, two-phase (r6) ------------------------------------
    # phase 1 prunes each physical partition to its local top-k per qid
    # (no exchange — a sort within the aggregation's output partitions),
    # so the global per-qid window shuffles ≤ k·n_partitions rows per
    # query instead of every matched row (the full matched set is
    # typically 10-1000x larger). Row-identical: a doc outside its
    # partition's local top-k cannot be in the global top-k.
    order = [F.col("score_milli").desc(), F.col("doc_id").desc()]
    w1 = Window.partitionBy("qid", F.spark_partition_id()).orderBy(*order)
    pruned = (
        merged.withColumn("_rn1", F.row_number().over(w1))
        .where(F.col("_rn1") <= k)
        .drop("_rn1")
    )
    w = Window.partitionBy("qid").orderBy(*order)
    return (
        pruned.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("qid", "rank", "doc_id", "score_milli")
    )


def batch_search_chunked(
    index: Index,
    queries: list[tuple[str, str]],
    chunk_queries: int = 512,
    **kw,
):
    """Yield one :func:`batch_search` DataFrame per qid chunk of
    ``chunk_queries`` queries — the bounded-state form of the batch path
    (r4 VERDICT #2, the sf1 soak's one measured scale cliff).

    One mega-plan's aggregation state grows with Σ df(token) over the
    WHOLE query log — unbounded in query count, which at 1M docs ×
    4000 queries spilled ~300 GB. Chunking bounds in-flight state at
    any log size: each chunk is still ONE set-oriented plan (scan →
    decode → score → top-k), and chunks run as SEPARATE actions, so
    executor memory holds one chunk's aggregation state at a time.
    Per-chunk results are per-qid independent, so the concatenation is
    row-identical to the unchunked call (asserted in tests). Size
    chunks so (avg df × chunk_queries × row width) fits the executors'
    aggregate memory; the postings scan stays term-pruned per chunk, so
    total scan volume matches the unchunked plan."""
    for i in range(0, len(queries), chunk_queries):
        yield batch_search(index, queries[i : i + chunk_queries], **kw)


def _batch_rerank(
    index: Index, queries: list[tuple[str, str]], k: int, rule: str, cols: list[str], **kw
) -> DataFrame:
    """The one batch re-rank body: the matched set with its
    ``match_score`` under ``rule``, ranked per qid by match_score DESC,
    then BM25 DESC, then doc_id DESC → (qid, rank, doc_id, *cols)."""
    merged = _batch_matched(index, queries, _rescore=rule, **kw)
    w = Window.partitionBy("qid").orderBy(
        F.col("match_score").desc(),
        F.col("score_milli").desc(),
        F.col("doc_id").desc(),
    )
    return (
        merged.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("qid", "rank", "doc_id", *cols)
    )


def batch_rerank_proximity(
    index: Index,
    queries: list[tuple[str, str]],
    k: int = 10,
    **kw,
) -> DataFrame:
    """Per-query proximity re-rank (the engine's Q11 second stage,
    batched): (qid, rank, doc_id, score_milli), ordered per qid by the
    packed Match score DESC, then BM25 DESC, doc_id DESC — the
    reference's primary relevance key (match_score.h:49-57).

    The heavy second stage — block pruning + position decode — runs
    ONCE over the union of every query's exact terms
    (:func:`typesense_spark.search.match.match_rescore`) instead of
    once per query. Accepts every :func:`batch_search` keyword."""
    return _batch_rerank(index, queries, k, "proximity", ["score_milli"], **kw)


def batch_rerank_text_match(
    index: Index,
    queries: list[tuple[str, str]],
    k: int = 10,
    **kw,
) -> DataFrame:
    """Per-query text-match-PRIMARY ranking (the engine's
    ``rank_by_text_match`` parity mode, batched): (qid, rank, doc_id,
    match_score, score_milli), ordered per qid by the FULL packed score
    — ``(words<<16)|(255-typo_cost)<<8|proximity``, the reference's
    default primary key incl. the typo-cost byte
    (src/collection.cpp:713-728, match_score.h:49-57) — then BM25,
    then doc_id DESC.

    One decode pass over the union of every query's typo/prefix
    candidates (:func:`match.match_rescore` under the text-match rule);
    specs come from the batch expansion itself (attempt-0 vectors,
    costs carrying the +1 length-extension adjustment). Per-query
    parity with ``engine.search(rank_by_text_match=True)`` is asserted
    in tests/test_match.py for non-deepened queries (with
    ``typo_tokens_threshold`` the engine may restrict candidates to
    its per-query stop level — pass deepening kwargs here only if that
    divergence is acceptable). Accepts every :func:`batch_search`
    keyword."""
    return _batch_rerank(
        index, queries, k, "text_match", ["match_score", "score_milli"], **kw
    )


def _resolve_curation(queries, override_store, pinned, hidden, ids_per_pos):
    """Per-query effective ({qid: {doc_id: position}}, {qid: hidden})
    — the engine's override resolution, once per query."""
    res_pin: dict[str, dict[int, int]] = {}
    res_hid: dict[str, tuple[int, ...]] = {}
    for qid, q in queries:
        p = dict((pinned or {}).get(qid, {}))
        h = tuple((hidden or {}).get(qid, ()))
        if override_store is not None:
            p, h = override_store.resolve(q, p, h, ids_per_pos=ids_per_pos)
        res_pin[qid], res_hid[qid] = p, h
    return res_pin, res_hid


def batch_curated(
    index: Index,
    queries: list[tuple[str, str]],
    k: int = 10,
    override_store: object | None = None,
    pinned: dict[str, dict[int, int]] | None = None,
    hidden: dict[str, tuple[int, ...]] | None = None,
    **kw,
) -> DataFrame:
    """Per-query curation/overrides (the engine's Q20, batched):
    (qid, rank, doc_id, score_milli, curated), rank ≤ k per qid.

    Stored override rules resolve per query DRIVER-SIDE (string match
    over an O(rules) dict — no Spark job, same as the engine and the
    reference's populate_overrides, src/collection.cpp:427-493);
    resolved hidden docs join the batch narrowing relation (excluded
    before ranking AND inside the typo-deepening probe), and the heavy
    part — scoring + ranking every query — stays ONE Spark plan. The
    positional splice is the engine's own (``curation.splice_hits``:
    first claimant per position wins; a pin past the organic tail
    appends in position order, src/collection.cpp:897-922) over the
    collected per-query top (k + n_pins) page — O(N·k) driver rows for
    an N-query batch, the same driver-scale materialization the
    engine's per-query splice does once.

    ``pinned``: {qid: {doc_id: 1-based position}} explicit pins (win
    over rule adds, like the engine); ``hidden``: {qid: (doc_ids...)}.
    Accepts every :func:`batch_search` keyword."""
    res_pin, res_hid = _resolve_curation(queries, override_store, pinned, hidden, 1)
    merged = _batch_matched(index, queries, hidden=res_hid, **kw)

    # one ranking job for the whole batch: per qid keep the top
    # (k + n_pins) rows — at least the slice the engine collects
    max_pins = max((len(p) for p in res_pin.values()), default=0)
    w = Window.partitionBy("qid").orderBy(
        F.col("score_milli").desc(), F.col("doc_id").desc()
    )
    page = (
        merged.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k + max_pins)
        .collect()
    )
    by_qid: dict[str, list] = {}
    for r in sorted(page, key=lambda r: r["rn"]):
        by_qid.setdefault(r["qid"], []).append(r)
    out_rows = [
        (qid, pos, int(d), int(s or 0), cur)
        for qid, _q in queries
        for pos, d, s, cur in splice_hits(
            {r["doc_id"]: r["score_milli"] for r in by_qid.get(qid, [])},
            res_pin[qid],
            k,
        )
    ]
    return index.spark.createDataFrame(
        out_rows,
        schema="qid string, rank int, doc_id long, score_milli long, curated boolean",
    )


def batch_grouped(
    index: Index,
    queries: list[tuple[str, str]],
    group_by: tuple[str, ...],
    group_limit: int = 3,
    top_groups: int = 10,
    **kw,
) -> DataFrame:
    """Per-query grouped top-k (the engine's Q15, batched): within each
    (qid, group key) keep the best ``group_limit`` hits; groups rank per
    qid by their TOP hit (score DESC, doc_id DESC — the reference sorts
    groups by their top KV) and only the best ``top_groups`` groups per
    qid survive. Output: (qid, *group_by, group_pos, group_rank,
    doc_id, score_milli). Accepts every :func:`batch_search` keyword."""
    merged = _batch_matched(index, queries, **kw)
    hydrated = merged.join(
        index.docs.select("doc_id", *group_by), "doc_id"
    )
    return (
        _rank_groups(
            hydrated, ["qid"], group_by,
            [F.col("score_milli").desc(), F.col("doc_id").desc()], group_limit,
        )
        .where(F.col("group_pos") <= top_groups)
        .select(
            "qid", *group_by, "group_pos", "group_rank", "doc_id", "score_milli"
        )
    )


def batch_grouped_curated(
    index: Index,
    queries: list[tuple[str, str]],
    group_by: tuple[str, ...],
    group_limit: int = 3,
    top_groups: int = 10,
    override_store: object | None = None,
    pinned: dict[str, dict[int, int]] | None = None,
    hidden: dict[str, tuple[int, ...]] | None = None,
    **kw,
) -> DataFrame:
    """Q20 under group_by, batched (the engine's grouped curation):
    per query, up to ``group_limit`` claimants per position form a
    SYNTHETIC curated group spliced at that GROUP position
    (``curation.splice_groups``); organic groups exclude curated docs
    and rank by their top hit (reference merge of override_result_kvs,
    src/collection.cpp:890-922).

    Output: (qid, group_pos, group_rank, doc_id, score_milli, curated).
    Scoring + grouping for every query is ONE Spark plan; the splice
    runs over the collected per-query group page (O(N·top_groups·
    group_limit) driver rows) plus one bounded lookup of the curated
    docs' scores. Accepts every :func:`batch_search` keyword."""
    gl = max(1, group_limit)
    res_pin, res_hid = _resolve_curation(queries, override_store, pinned, hidden, gl)
    merged = _batch_matched(index, queries, hidden=res_hid, **kw)
    spark = index.spark

    by_pos_q = {qid: claimants(res_pin[qid], gl) for qid, _q in queries}
    cur_pairs = sorted(
        {(q, d) for q, bp in by_pos_q.items() for ds in bp.values() for d in ds}
    )
    org = merged
    scores: dict[str, dict[int, int]] = {}
    if cur_pairs:
        cp = spark.createDataFrame(cur_pairs, schema="qid string, doc_id long")
        org = merged.join(F.broadcast(cp), ["qid", "doc_id"], "left_anti")
        for r in merged.join(F.broadcast(cp), ["qid", "doc_id"], "left_semi").collect():
            scores.setdefault(r["qid"], {})[r["doc_id"]] = r["score_milli"]

    hydrated = org.join(index.docs.select("doc_id", *group_by), "doc_id")
    lim = top_groups + max((len(bp) for bp in by_pos_q.values()), default=0)
    rows_q: dict[str, list] = {}
    for r in (
        _rank_groups(
            hydrated, ["qid"], group_by,
            [F.col("score_milli").desc(), F.col("doc_id").desc()], gl,
        )
        .where(F.col("group_pos") <= lim)
        .select("qid", "g_score", "g_doc", "group_rank", "doc_id", "score_milli")
        .collect()
    ):
        rows_q.setdefault(r["qid"], []).append(tuple(r)[1:])
    out = [
        (qid, *g)
        for qid, _q in queries
        for g in splice_groups(
            rows_q.get(qid, []), by_pos_q[qid], scores.get(qid, {}), top_groups
        )
    ]
    return spark.createDataFrame(
        out,
        schema="qid string, group_pos int, group_rank int, doc_id long, "
        "score_milli long, curated boolean",
    )


def batch_facet_counts(
    index: Index,
    queries: list[tuple[str, str]],
    facet_col: str,
    max_facet_values: int = 10,
    **kw,
) -> DataFrame:
    """Per-query facet counts over the FULL matched set (the engine's
    Q17 semantics, batched): (qid, facet_value, facet_count), top
    ``max_facet_values`` per qid ordered (count DESC, value) — the
    reference computes facets on every faceted request
    (src/index.cpp:608-816); this is that shape for a whole query log
    in ONE plan. Accepts every :func:`batch_search` keyword."""
    merged = _batch_matched(index, queries, **kw)
    counts = (
        merged.join(index.docs.select("doc_id", facet_col), "doc_id")
        .groupBy("qid", F.col(facet_col).alias("facet_value"))
        .agg(F.count("*").alias("facet_count"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("facet_count").desc(), F.col("facet_value")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= max_facet_values)
        .select("qid", "facet_value", "facet_count")
    )
