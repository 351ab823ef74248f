"""The matched-set pipeline — N queries in ONE Spark job, FULL surface.

The reference's throughput story is concurrent single queries against
an in-memory trie (250 qps on 3 nodes, README.md:172), and each of
those requests runs the complete pipeline: synonym variants
(src/collection.cpp:768-769), drop-tokens fallback
(src/index.cpp:1757-1783), per-field weights
(src/collection.cpp:593-597), and exclusions. Spark's per-job latency
floor makes one-query-at-a-time the wrong shape; the idiomatic
equivalent is set-oriented: expand EVERY query's candidates into one
candidate map, decode the union of candidate postings ONCE, score all
(query-variant, doc) pairs in one aggregation, and take per-query
top-k with a window. Throughput then scales with cluster size instead
of being bounded by job-scheduling latency (measured in bench.py as
``batch_qps`` / ``batch_qps_full``).

:func:`_batch_matched` is the ONE matched-set implementation:
``engine.search`` runs it over a one-query batch, so a query's result
cannot depend on which entry point ran it (the ``*_matches_engine``
tests pin that it does not depend on the other queries of its batch
either). The per-query control flow lifts into set-oriented form:

- each query unrolls to its VECTORS: the organic drop-tokens attempt
  plan (attempt 0 = all tokens, then the reference's drop schedule)
  plus synonym-window variants (``synonym_reduction``), every vector
  scored independently in one aggregation keyed by (query, attempt);
- the drop-tokens stop rule ("stop once the merged result count
  reaches the threshold") becomes a window computation: per query, a
  doc's FIRST attempt is ``min(attempt)``; the cumulative distinct-doc
  count per attempt is a running sum over attempt order; the cutoff is
  the first attempt whose cumulative count reaches the threshold, and
  organic rows with ``attempt > cutoff`` are discarded;
- synonym-variant vectors bypass the cutoff (the reference always
  searches them) and merge by max score;
- scoring is ``engine._aggregate_scores`` keyed by vector — including
  ``query_by_weights``' per-(vector, doc, field, token) max weighted
  by field;
- wildcard queries (``*``, and the exclusion-only promotion of
  ``parse_query``) match the doc universe scored 0;
- '-token' exclusions, hidden docs and attribute filters narrow per
  (query, doc) through relations built once per batch.

Typo deepening (``typo_tokens_threshold``) lifts too: the reference's
per-cost-level stop (src/index.cpp:947-950) becomes ONE conditional
aggregation (each level's score/match-count as extra aggregate
columns — no row explosion) plus a tiny per-vector count relation that
picks each vector's stop level inside the plan; the counts are
NARROWED (excludes + filters + hidden applied), like the reference's
threshold over filtered results.

A one-query call stays cheap: its candidate rows attach as a literal
map expression (a batch broadcast-joins them), qids are integer
surrogates inside the plan, and scoring groups only by the vector keys
that vary, so a one-query plan groups by doc alone.

The layers above the matched set are shared the same way: grouping
ranks through ``engine._rank_groups``; curation (:func:`batch_curated`,
:func:`batch_grouped_curated`) resolves rules per query driver-side
(pure string matching, like the reference's populate_overrides), joins
hidden docs to the narrowing relation, and runs
``curation.splice_hits`` / ``curation.splice_groups`` over ONE
collected per-query page; the Match re-rank (:func:`batch_rerank_proximity`,
:func:`batch_rerank_text_match`) is ``match.match_rescore`` over every
query's spec list in one union decode pass.

WAND block pruning applies to one-query calls only (``search()``'s
``use_wand``): it prunes a single query's scan, while a batch
amortizes one full scan across the whole query set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from typesense_spark.index.build import Index, decode_postings, sql_literal
from typesense_spark.search.curation import claimants, splice_groups, splice_hits
from typesense_spark.search.engine import (
    MAX_HITS,
    _aggregate_scores,
    _attempt_plan,
    _expand,
    _field_weights,
    _persist_scored,
    _rank_groups,
    _specs,
    parse_query,
)
from typesense_spark.search.match import (
    proximity_specs,
    text_match_specs,
    with_match_score,
)

_MATCHED_SCHEMA = "qid string, doc_id long, score_milli long"
# organic attempts are numbered 0..n-1; synonym-variant vectors sit
# above this base so the cutoff window (organic only) never sees them
_SYN_BASE = 1_000_000
# request enums, checked once on the shared matched path
_ENUMS = {
    "mode": ("and", "or"),
    "typo_distance": ("levenshtein", "osa"),
    "rank_tokens_by": ("frequency", "max_score"),
}


def _attach(
    index: Index, rows: list[tuple], schema: str, fields, batch: bool,
    blocks: DataFrame | None = None,
) -> DataFrame:
    """Decoded postings of the rows' terms, fanned out on ``term`` to
    every row holding it — the one candidate-map attach. ``schema`` is
    the rows' DDL and names a ``term`` column. A one-query call
    (``batch`` False) attaches the map as a literal expression over the
    narrow decode: a projection, no driver-built relation and no
    broadcast stage. A batch broadcast-joins a spread decode, so a
    small batch warms the plan a large one runs.
    ``blocks``: pruned postings blocks to decode instead (WAND)."""
    cols = [c.split() for c in schema.split(",")]
    ti = [n for n, _ in cols].index("term")
    if blocks is not None:
        decoded = decode_postings(blocks)
    else:
        terms = sorted({r[ti] for r in rows})
        decoded = index.decoded(terms, list(fields), spread=batch)
    if batch:
        cmap = index.spark.createDataFrame(rows, schema=schema)
        return decoded.join(F.broadcast(cmap), "term")

    by_term: dict[str, list[str]] = {}
    for r in rows:
        by_term.setdefault(r[ti], []).append(
            "named_struct(" + ", ".join(
                f"'{n}', CAST({sql_literal(v)} AS {t})" for (n, t), v in zip(cols, r) if n != "term"
            ) + ")"
        )
    cmap = _sql_map({t: f"array({', '.join(s)})" for t, s in by_term.items()})
    # explode drops rows whose term is absent from the map — the rows
    # an inner join would drop; SQL strings keep the py4j calls few
    return decoded.withColumn(
        "_row", F.explode(F.element_at(cmap, F.col("term")))
    ).selectExpr("*", "_row.*")


def _sql_map(entries: dict) -> Column:
    """A literal map column from {key: SQL value expression}, built as
    ONE SQL expression: a py4j call per literal costs more than the
    query plan it feeds once a map holds hundreds of them."""
    return F.expr("map(" + ", ".join(f"{sql_literal(k)}, {v}" for k, v in entries.items()) + ")")


def _key_map(values: dict[int, object], col: str) -> Column:
    """A per-qix value as a column: a literal when every qix holds the
    same one, else a literal map lookup."""
    if len(set(values.values())) == 1:
        return F.lit(next(iter(values.values())))
    return F.element_at(_sql_map({k: sql_literal(v) for k, v in values.items()}), F.col(col))


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
    filters: dict[str, str | tuple] | None = None,
    typo_tokens_threshold: int | None = None,
    hidden: dict[str, tuple[int, ...]] | None = None,
    rank_tokens_by: str = "frequency",
    use_wand: bool = False,
    _rescore: str | None = None,
    _attempts: list | None = None,
) -> DataFrame:
    """The ONE matched-set pipeline: (qid, doc_id, score_milli), one
    row per matching doc per query — consumed by ``engine.search`` (a
    one-query batch) and every ``batch_*`` entry point.

    ``filters``: {qid: filter_by DSL, or a (filter_expr, filter_by)
    pair} — one keep relation per DISTINCT value. ``use_wand`` (one
    query, not deepened) decodes ``wand.prune_blocks`` survivors in
    place of the full candidate postings. ``_rescore`` names a
    ``match.RESCORE_RULES`` rule whose ``match_score`` column is added.
    ``_attempts`` collects the token vectors scored (a one-query
    caller's ``SearchResult.attempts``)."""
    for name, val in (("mode", mode), ("typo_distance", typo_distance),
                      ("rank_tokens_by", rank_tokens_by)):
        if val not in _ENUMS[name]:
            raise ValueError(f"{name} must be one of {_ENUMS[name]}, got {val!r}")
    if query_by_weights and len(query_by_weights) != len(fields):
        raise ValueError("query_by_weights must be parallel to fields")
    spark = index.spark
    # integer surrogate qids inside the plan; the qid string returns
    # as a projection at the end
    qid_of = dict(enumerate(dict.fromkeys(q for q, _ in queries)))
    qix_of = {q: i for i, q in qid_of.items()}
    batch = len(qid_of) > 1

    # ---- unroll queries to scoring vectors --------------------------------
    # vector = (qix, attempt_idx, tokens); organic attempts carry their
    # plan index, synonym variants an index above _SYN_BASE
    excl_rows: set[tuple[int, str]] = set()  # (qix, excluded term)
    qtokens: list[tuple[int, list[str]]] = []  # parse order preserved
    wild: list[int] = []
    for qid, q in queries:
        tokens, excludes = parse_query(q)
        excl_rows |= {(qix_of[qid], t) for t in excludes}
        if tokens == ["*"]:
            # Q10 wildcard (incl. the exclusion-only promotion): the doc
            # universe scored 0; excludes still subtract below
            wild.append(qix_of[qid])
            if _attempts is not None:
                _attempts.append(tokens)
        else:
            qtokens.append((qix_of[qid], tokens))
    drop = drop_tokens_threshold if (drop_tokens_threshold or 0) > 0 else 0

    def _unroll(organic: dict[int, list[str]]) -> list[tuple[int, int, list[str]]]:
        """Attempt + synonym vectors per query; synonym windows rewrite
        the RAW query (reference reduces synonyms at the collection
        layer before the index-level skip)."""
        out: list[tuple[int, int, list[str]]] = []
        for qx, tokens in qtokens:
            for aidx, attempt in enumerate(_attempt_plan(organic.get(qx, tokens), drop)):
                out.append((qx, aidx, attempt))
            if synonym_store is not None:
                from typesense_spark.search.synonyms import synonym_reduction

                for si, vtoks in enumerate(synonym_reduction(tokens, synonym_store)):
                    out.append((qx, _SYN_BASE + si, vtoks))
        return out

    def _spec_set(vecs) -> set[tuple[str, bool]]:
        return {s for _q, _a, toks in vecs for s in _specs(toks, prefix_last)} | {
            (a, False) for alts in (synonyms or {}).values() for a in alts
        }

    def _expand_all(vecs) -> None:
        # all unique (token, prefix?) across the batch in ONE expansion —
        # O(1) driver round-trips for an N-query batch (r2 VERDICT #7)
        _expand(
            index, cand_map, _spec_set(vecs), fields, num_typos, typo_distance,
            rank_tokens_by,
        )

    vectors = _unroll({})
    cand_map: dict[tuple[str, bool], list[tuple[str, int]]] = {}
    _expand_all(vectors)

    # Unindexed-token skip (reference SkipUnindexedTokensDuringPhrase-
    # Search): a token with ZERO candidates at every cost is ERASED and
    # the AND continues over the survivors (src/index.cpp:1716-1726, so
    # the drop-tokens plan also runs on the erased vector) — only when
    # the fallback may continue; with drop_tokens_threshold <= 0 the
    # reference aborts at the first miss (src/index.cpp:1749-1752) and
    # returns the empty AND, which the un-erased vector reproduces.
    if drop:
        erased: dict[int, list[str]] = {}
        for qx, tokens in qtokens:
            alive = [t for t, s in zip(tokens, _specs(tokens, prefix_last)) if cand_map[s]]
            if len(tokens) > 1 and alive and len(alive) < len(tokens):
                erased[qx] = alive
        if erased:
            vectors = _unroll(erased)
            # only the specs whose prefix moved to a new last token expand
            _expand_all(vectors)
    alt_of: dict[tuple[str, bool], list[str]] = {}
    if synonyms:
        # single-token alternates join the token's candidate set at cost
        # 0 (alternates absent from the dictionary were dropped by their
        # own (alt, False) expansion). They stay FLAGGED (is_alt=1): they
        # join after the typo-deepening stop decision, so the deepening
        # count sees organic candidates only.
        for spec in list(cand_map):
            alts = synonyms.get(spec[0])
            if alts:
                alt_of[spec] = sorted({a for a in alts if cand_map.get((a, False))})

    def _cands(aidx: int, spec) -> list[tuple[str, int, int]]:
        """(term, cost, is_alt) candidates of one vector slot; synonyms-
        dict alternates apply to ORGANIC attempts only (synonym-window
        variants score with their own plain expansion)."""
        alts = alt_of.get(spec, []) if aidx < _SYN_BASE else []
        return [(t, c, 0) for t, c in cand_map[spec]] + [(a, 0, 1) for a in alts]

    # ---- per-(qix, doc) narrowing relations, built ONCE --------------------
    # used by the typo-deepening count and by the final narrowing
    ex_docs = None
    if excl_rows:
        ex_docs = (
            _attach(index, sorted(excl_rows), "qix int, term string", fields, batch)
            .select("qix", "doc_id")
            .distinct()
        )
    keeps: dict = {}
    fid_of: dict[int, int] = {}
    if filters:
        # each DISTINCT (filter_expr, filter_by) becomes ONE keep relation
        # (plain Catalyst predicates over docs — pushdown applies), so N
        # queries sharing F filters cost F doc scans + one semi-join
        from typesense_spark.search.filters import apply_filter_by

        for qid, f in sorted(filters.items()):
            if qid not in qix_of:
                continue  # a filter for a query outside this batch
            key = f if isinstance(f, tuple) else (None, f)
            if key not in keeps:
                expr, by = key
                keep = index.docs.where(expr) if expr else index.docs
                keeps[key] = (apply_filter_by(keep, by) if by else keep).select("doc_id")
            fid_of[qix_of[qid]] = list(keeps).index(key)
    hid = {
        qix_of[q]: sorted({int(d) for d in ds})
        for q, ds in (hidden or {}).items() if ds and q in qix_of
    }

    def _narrow(df: DataFrame) -> DataFrame:
        """Per-(qix, doc) excludes + hidden + per-query attribute filters
        (queries without a filter pass through untouched)."""
        if ex_docs is not None:
            df = df.join(ex_docs, ["qix", "doc_id"], "left_anti")
        if hid:
            hmap = _sql_map({q: f"array({', '.join(map(sql_literal, ds))})" for q, ds in hid.items()})
            df = df.where(
                F.coalesce(~F.array_contains(F.element_at(hmap, F.col("qix")), F.col("doc_id")), F.lit(True))
            )
        if fid_of:
            keep = None
            for fid, k in enumerate(keeps.values()):
                part = k.select(F.lit(fid).alias("fid"), "doc_id")
                keep = part if keep is None else keep.unionByName(part)
            every = len(fid_of) == len(qid_of)
            filtered = (
                (df if every else df.where(F.col("qix").isin(list(fid_of))))
                .withColumn("fid", _key_map(fid_of, "qix"))
                .join(keep, ["fid", "doc_id"], "left_semi")
                .drop("fid")
            )
            df = filtered if every else filtered.unionByName(
                df.where(~F.col("qix").isin(list(fid_of)))
            )
        return df

    def _done(df: DataFrame | None, levels: DataFrame | None) -> DataFrame:
        """qix → qid, plus the ``_rescore`` rule's match_score column:
        proximity over every vector's tokens, text-match over the
        attempt-0 vector with the synonym alternates at cost 0 and
        candidates above its typo-deepening stop level left out."""
        if df is None:
            out = spark.createDataFrame([], schema=_MATCHED_SCHEMA)
        else:
            qid = _key_map(qid_of, "qix").alias("qid")
            out = df.select(qid, "doc_id", "score_milli")
        if _rescore is None:
            return out
        rescore_specs: dict[str, list[tuple]] = {}
        if _rescore == "proximity":
            qspecs: dict[str, list[tuple[str, bool]]] = {}
            for qx, _a, toks in vectors:
                qspecs.setdefault(qid_of[qx], []).extend(_specs(toks, prefix_last))
            rescore_specs = {q: proximity_specs(ss, cand_map) for q, ss in qspecs.items()}
        else:
            for qx, aidx, toks in vectors:
                if aidx == 0:
                    ss = _specs(toks, prefix_last)
                    rescore_specs[qid_of[qx]] = text_match_specs(
                        ss, {sp: [(t, c) for t, c, _ in _cands(0, sp)] for sp in ss}
                    )
            if levels is not None:
                levels = levels.where(F.col("aidx") == 0).select(
                    _key_map(qid_of, "qix").alias("qid"), "lvl"
                )
        return with_match_score(index, out, rescore_specs, fields, _rescore, levels)

    # ---- per-vector scoring (engine._aggregate_scores, keyed by vector) ---
    deepen_on = typo_tokens_threshold is not None and num_typos > 0
    # WAND's probes prune a single query's scan; a deepening count over a
    # pruned set would make the stop level depend on the flag
    wand = use_wand and not batch and not deepen_on
    wand_keep = next(iter(keeps.values())) if wand and keeps else None

    def _score(vecs) -> tuple[DataFrame | None, DataFrame | None]:
        """Vectors → ((qix, aidx, doc_id, score_milli), stop levels
        (qix, aidx, lvl) when deepened), or (None, None) when no vector
        can match."""
        rows: list[tuple] = []
        blocks = None
        for qx, aidx, toks in vecs:
            if _attempts is not None:
                _attempts.append(toks)
            vspecs = _specs(toks, prefix_last)
            cands = [_cands(aidx, sp) for sp in vspecs]
            if mode == "and" and any(not c for c in cands):
                continue  # unsatisfiable AND vector -> contributes nothing
            maxc = max((c for cs in cands for _t, c, alt in cs if not alt), default=0)
            rows += [
                (qx, aidx, i, t, len(toks), c, alt, maxc)
                for i, cs in enumerate(cands)
                for t, c, alt in cs
            ]
            if wand and any(cands):
                from typesense_spark.search.wand import prune_blocks

                b = prune_blocks(
                    index, vspecs,
                    {sp: [(t, c) for t, c, _ in cs] for sp, cs in zip(vspecs, cands)},
                    fields, k=MAX_HITS, keep_ids=wand_keep,
                )
                blocks = b if blocks is None else blocks.unionByName(b)
        if not rows:
            return None, None
        joined = _attach(
            index, rows,
            "qix int, aidx int, qidx int, term string, n_tokens int, cost int, "
            "is_alt int, maxc int",
            fields, batch, blocks,
        )
        # group by the vector keys that vary: a one-vector call groups
        # by doc alone; the rest become literal columns
        qixs, aidxs = {r[0] for r in rows}, {r[1] for r in rows}
        vk = [c for c, vals in (("qix", qixs), ("aidx", aidxs)) if len(vals) > 1]
        consts = {c: min(v) for c, v in (("qix", qixs), ("aidx", aidxs)) if c not in vk}
        if not vk:
            consts.update(n_tokens=rows[0][4], maxc=rows[0][7])
        pk = [c for c in ("n_tokens", "maxc") if c not in consts]

        def _fill(df: DataFrame, *cols: str) -> DataFrame:
            return df.selectExpr(
                *[f"{consts[c]} AS {c}" if c in consts else c for c in ("qix", "aidx", *cols)]
            )

        if not (deepen_on and any(r[7] for r in rows)):
            if not query_by_weights and all(r[4] == 1 for r in rows):
                # one-token vectors: the token max IS the doc score and
                # the AND/OR match check is vacuous — one aggregation
                scored = joined.groupBy(*vk, "doc_id").agg(
                    F.max("contrib").alias("score_milli")
                )
            else:
                scored = _aggregate_scores(
                    joined, [*vk, "n_tokens"] if vk else [], fields,
                    query_by_weights, mode, F.col("n_tokens") if vk else consts["n_tokens"],
                )
            return _fill(scored, "doc_id", "score_milli"), None
        # ---- typo deepening (Q4) -------------------------------------------
        # every cost level's (score, match-count) is a conditional
        # aggregate column over the SAME rows (3(L+1) extra columns for
        # L = num_typos <= 2); a per-vector count over the NARROWED rows
        # picks each vector's stop level — the first level < maxc whose
        # match count reaches the threshold, else maxc — and one
        # broadcast join selects that level's score. `om{c}` counts
        # ORGANIC candidates only (alternates join after the stop
        # decision); `m{c}`/`s{c}` include them.
        levels = list(range(num_typos + 1))

        def _best(c: int, organic: bool):
            cond = F.col("cost") <= F.lit(c)
            if organic:
                cond = cond & (F.col("is_alt") == 0)
            return F.max(F.when(cond, F.col("contrib")))

        gk = [*vk, *pk, "doc_id"]
        if query_by_weights:
            per_ft = joined.groupBy(*gk, "field", "qidx").agg(
                *[_best(c, False).alias(f"ab{c}") for c in levels],
                *[_best(c, True).alias(f"ob{c}") for c in levels],
            )
            wcol = F.element_at(_field_weights(fields, query_by_weights), F.col("field"))

            def _n(col: str):
                return F.countDistinct(F.when(F.col(col).isNotNull(), F.col("qidx")))

            scored_lv = per_ft.groupBy(*gk).agg(
                *[F.sum(wcol * F.col(f"ab{c}")).alias(f"s{c}") for c in levels],
                *[_n(f"ab{c}").alias(f"m{c}") for c in levels],
                *[_n(f"ob{c}").alias(f"om{c}") for c in levels],
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

        def _matched(n):
            return n == F.col("n_tokens") if mode == "and" else n >= 1

        scored_lv = _fill(
            scored_lv, "n_tokens", "maxc", "doc_id",
            *[f"{p}{c}" for p in ("s", "m", "om") for c in levels],
        )
        thr = int(typo_tokens_threshold)
        cnt = _narrow(scored_lv).groupBy("qix", "aidx", "maxc").agg(
            *[F.sum(_matched(F.col(f"om{c}")).cast("int")).alias(f"n{c}") for c in levels]
        )
        # synonym-window variant vectors BYPASS deepening (full depth)
        syn = F.col("aidx") >= _SYN_BASE
        chosen = cnt.select(
            "qix",
            "aidx",
            F.when(syn, F.col("maxc"))
            .otherwise(
                F.coalesce(
                    *[
                        F.when((F.lit(c) < F.col("maxc")) & (F.col(f"n{c}") >= thr), F.lit(c))
                        for c in levels[:-1]
                    ],
                    F.col("maxc"),
                )
            )
            .alias("lvl"),
        )

        def _at_lvl(prefix: str):
            return F.coalesce(*[F.when(F.col("lvl") == c, F.col(f"{prefix}{c}")) for c in levels])

        # a vector whose rows all narrow away has no count row; those
        # rows narrow away at the end too, so the inner join drops none
        scored = (
            scored_lv.join(F.broadcast(chosen), ["qix", "aidx"])
            .withColumn("score_milli", _at_lvl("s"))
            .where(_matched(_at_lvl("m")))
        )
        return scored.select("qix", "aidx", "doc_id", "score_milli"), chosen

    # ---- drop-tokens cohorts ------------------------------------------------
    # Phase 1 scores attempt-0 + synonym vectors; the fallback attempts
    # are scored ONLY for queries whose attempt-0 count is below the
    # threshold (one tiny collected aggregate over the persisted phase-1
    # rows), and the cumulative cutoff window runs over that cohort.
    def _fallback(v) -> bool:
        return 0 < v[1] < _SYN_BASE

    # OR mode sums non-negative token maxima (idf > 0, scoring.py; field
    # weights >= 0), so without deepening a fallback drawing only on its
    # query's attempt-0 specs can neither add a doc nor raise a score:
    # skip it, and with it the persist and count job deciding on it
    to_score = vectors
    if mode == "or" and not deepen_on and min(query_by_weights, default=0) >= 0:
        a0 = {qx: set(_specs(toks, prefix_last)) for qx, aidx, toks in vectors if aidx == 0}
        to_score = [
            v for v in vectors
            if not (_fallback(v) and set(_specs(v[2], prefix_last)) <= a0[v[0]])
        ]
    first = [v for v in to_score if not _fallback(v)]
    scored, levels = _score(first)
    merge = any(v[1] >= _SYN_BASE for v in first)
    needy: list[int] = []
    if any(map(_fallback, to_score)):
        counts: dict[int, int] = {}
        if scored is not None:
            scored = _persist_scored(scored)
            organic = scored.where(F.col("aidx") < _SYN_BASE) if merge else scored
            counts = {
                r["qix"]: r["c"]
                for r in organic.groupBy("qix").agg(F.count("*").alias("c")).collect()
            }
        needy = sorted({v[0] for v in to_score if _fallback(v) and counts.get(v[0], 0) < drop})
    if needy:
        fb, _ = _score([v for v in to_score if _fallback(v) and v[0] in needy])
        cohort = fb
        rest = None
        if scored is not None:
            in_cohort = F.col("qix").isin(needy) & (F.col("aidx") < _SYN_BASE)
            a0 = scored.where(in_cohort)
            cohort = a0 if fb is None else a0.unionByName(fb)
            rest = scored.where(~in_cohort)
        if cohort is not None:
            fa = cohort.groupBy("qix", "doc_id").agg(F.min("aidx").alias("fa"))
            wcum = Window.partitionBy("qix").orderBy("fa").rowsBetween(
                Window.unboundedPreceding, 0
            )
            cut = (
                fa.groupBy("qix", "fa")
                .agg(F.count("*").alias("n_new"))
                .withColumn("cum", F.sum("n_new").over(wcum))
                .where(F.col("cum") >= F.lit(drop))
                .groupBy("qix")
                .agg(F.min("fa").alias("cutoff"))
            )
            cohort = (
                cohort.join(F.broadcast(cut), "qix", "left")
                .where(F.col("aidx") <= F.coalesce(F.col("cutoff"), F.lit(_SYN_BASE)))
                .drop("cutoff")
            )
            scored = cohort if rest is None else rest.unionByName(cohort)
            merge = True

    if scored is not None and merge:
        scored = scored.groupBy("qix", "doc_id").agg(F.max("score_milli").alias("score_milli"))
    if wild:
        # Q10 wildcard: the doc universe, scored 0
        qx = F.lit(wild[0]) if len(wild) == 1 else F.explode(F.array(*map(F.lit, wild)))
        universe = index.docs.select(
            qx.alias("qix"), "doc_id", F.lit(0).cast("long").alias("score_milli")
        )
        scored = universe if scored is None else scored.select(
            "qix", "doc_id", "score_milli"
        ).unionByName(universe)
    if scored is None:
        return _done(None, None)
    return _done(_narrow(scored), levels)


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
    narrowed probe counts, see module docstring). A wildcard query
    (``*``, or excludes only) matches every doc not excluded, scored
    0."""
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
    costs carrying the +1 length-extension adjustment, candidates above
    the vector's typo-deepening stop level left out). Accepts every
    :func:`batch_search` keyword."""
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
