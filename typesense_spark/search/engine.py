"""Query engine — the read path (SURVEY.md §2.3 Q1-Q25).

Maps the reference's hand-rolled pipeline onto declarative Spark:

- the matched set — Q1 parse (driver), Q3 typo expansion
  (``expand.py``), Q6/Q7/Q8 AND/OR/ANDNOT as joins + aggregation over
  decoded postings, Q9 filters as plain ``WHERE`` on the docs table +
  semi-join, Q10 wildcard as a docs scan, Q16 drop-tokens
  (reference ``src/index.cpp:1757-1783``) — is ONE pipeline,
  ``batch._batch_matched``, which :func:`search` runs over a one-query
  batch; this module holds its shared layers (``_specs``,
  ``_attempt_plan``, ``_expand``, ``_aggregate_scores``),
- the response above it is ONE layer too, :func:`_respond`, keyed by
  nothing for :func:`search` and by qid for every ``batch_*`` entry
  point; only its top-k (:func:`_top`) branches on the keys:
  ``ORDER BY … LIMIT k`` for one query (Spark's TakeOrderedAndProject
  IS the distributed Topster, include/topster.h:92-267), one window
  per qid for a batch. Q15 grouped top-k is a window
  ``row_number() <= group_limit``, Q17-Q19 facets groupBy counts +
  min/max/sum/avg stats (src/index.cpp:608-816), Q20 curation a
  driver-side splice of each query's collected page (``curation.py``),
  Q22/Q24/Q25 pagination, projection and hydration an offset, a
  ``select`` and a join of the doc columns the response reads.

Scoring: per-(term,doc) BM25 contributions are int64 milli values baked
into the postings at build time (``scoring.py``); a doc's score for a
query token is the MAX over that token's typo/prefix candidates, summed
across tokens — all exact long arithmetic, so results are identical
across partition counts, the DuckDB oracle, and the Python oracle.
Ties: score DESC then doc_id DESC, like the reference
(``include/topster.h:254-257``).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from typesense_spark.index.build import Index
from typesense_spark.search.curation import claimants, splice_groups, splice_hits
from typesense_spark.search.expand import TermDict, expand_query, expand_tokens_batch
from typesense_spark.tokenizer import tokenize_terms

DEFAULT_PER_PAGE = 10  # reference: src/core_api.cpp:351
TEXT_MATCH_FIELD = "_text_match"  # reference: sort_field_const::text_match
MAX_HITS = 250  # reference: src/core_api.cpp:324-329
PER_PAGE_MAX = 250  # reference: include/collection.h:414
GROUP_LIMIT_MAX = 99  # reference: include/collection.h:416
MAX_SORT_FIELDS = 3  # reference: src/collection.cpp:726-731
# above this many distinct terms the driver route would collect a
# dictionary that belongs on executors (SCALE.md: 5e8-5e9 terms at
# 100 TB) — _expand routes through expand_tokens_batch instead, which
# folds the same TermDict kernel over the terms table on executors
EXPAND_COLLECT_THRESHOLD = 2_000_000


@dataclass
class SearchRequest:
    q: str
    fields: tuple[str, ...] = ("content",)
    mode: str = "and"  # AND intersection (reference default) | 'or'
    filter_expr: str | None = None  # SQL boolean over docs columns (Q9)
    # Q9 reference filter DSL ('lang := en && n_chars: [>=200, <50] &&
    # text: batch window') — see search/filters.py; composable with
    # filter_expr (both AND into the keep set)
    filter_by: str | None = None
    facet_by: tuple[str, ...] = ()
    facet_stats_for: tuple[str, ...] = ()  # numeric cols → min/max/sum/avg
    max_facet_values: int = 10  # reference: src/core_api.cpp:316
    group_by: tuple[str, ...] = ()
    group_limit: int = 3  # reference: src/core_api.cpp:376
    num_typos: int = 2  # reference: src/core_api.cpp:295
    # reference default: the LAST query token is prefix-matched
    # (prefix=true, src/core_api.cpp:299 — the autocomplete default);
    # pass False for whole-token-only matching on the last token
    prefix_last: bool = True
    # Q3/Q4 typo_tokens_threshold (reference Index::TYPO_TOKENS_THRESHOLD
    # = 100; search_candidates stops once results reach it,
    # src/index.cpp:947-950). Pinned Spark adaptation: iterative COST
    # deepening — score candidates of cost ≤ c for ascending c and stop
    # as soon as the match count reaches the threshold (coarser than the
    # reference's per-combination break — combination enumeration is
    # driver control flow a set engine shouldn't do — same user
    # contract: typo corrections surface only when closer matches are
    # scarce). None (pinned default) disables deepening: all candidate
    # costs score in one pass, which is what every oracle models.
    typo_tokens_threshold: int | None = None
    # typo metric: pinned default 'levenshtein' (Spark/DuckDB builtin
    # parity); 'osa' matches the reference's Damerau-OSA traversal
    # (transpositions cost 1, src/art.cpp:1149-1177)
    typo_distance: str = "levenshtein"
    # candidate ordering within each typo-cost level: 'frequency' (df,
    # the reference default) or 'max_score' (max static score over the
    # term's docs — requires the index built with score_col;
    # reference token_ordering, include/art.h:124-127)
    rank_tokens_by: str = "frequency"
    drop_tokens_threshold: int = 10  # reference: src/index.cpp:305
    page: int = 1
    per_page: int = DEFAULT_PER_PAGE
    sort_by: tuple[tuple[str, str], ...] = ()  # [(col, 'asc'|'desc')]; wildcard
    include_fields: tuple[str, ...] = ()
    # reference exclude_fields (src/core_api.cpp:366-369): strip these
    # doc columns from the hits. With include_fields empty it means
    # "every doc column except these"; with include_fields set it
    # subtracts from that list.
    exclude_fields: tuple[str, ...] = ()
    use_wand: bool = False
    # Q12 per-field weights, parallel to `fields`. Empty = the pinned
    # unweighted max-over-fields aggregation. Pass the reference's
    # default explicitly (N..1 by field order: (N, ..., 1)) to match
    # its multi-field ranking (src/collection.cpp:593-597).
    query_by_weights: tuple[int, ...] = ()
    # Q2 single-token synonyms: {token: [alternates]} — alternates join
    # the token's candidate set at cost 0 (fast path for the common
    # 1→1 case; full window semantics below)
    synonyms: dict = dc_field(default_factory=dict)
    # Q2 multi-token synonym windows: a SynonymStore of one-way /
    # multi-way rules; the query is rewritten to variant token vectors
    # (synonyms.synonym_reduction), each searched like the original and
    # merged by max score (reference src/collection.cpp:1929-2064 +
    # src/index.cpp:1443-1487). Pinned deviation: drop-tokens fallback
    # applies to the original vector only, not to variants.
    synonym_store: object | None = None
    # Q20 curation: pinned {doc_id: 1-based position} force-included at
    # fixed positions; hidden doc_ids excluded (reference overrides,
    # src/collection.cpp:427-493, splice src/collection.cpp:897-922)
    pinned: dict = dc_field(default_factory=dict)
    hidden: tuple = ()
    # Q20 stored override rules (curation.OverrideStore): matched
    # against the query string (exact|contains) and resolved into
    # pinned/hidden before the search; explicit pinned/hidden above
    # take precedence (reference populate_overrides)
    override_store: object | None = None
    # Q11 second-stage proximity re-rank: order becomes
    # (match_score DESC, score_milli DESC, doc_id DESC) — the packed
    # proximity score is the reference's primary relevance
    # (match_score.h:49-57); here it re-ranks the BM25 candidate set
    rerank_proximity: bool = False
    # Text-match-PRIMARY parity mode (r4 VERDICT #4): rank by the full
    # packed score INCLUDING the typo-cost byte —
    # (words<<16)|(255-total_cost)<<8|distance, the reference's DEFAULT
    # primary key (src/collection.cpp:713-728, match_score.h:49-57). The
    # cost byte sums the used candidates' typo costs, +1 per
    # length-extension match (src/index.cpp:2038-2040); sort_by resolves
    # around '_text_match' as the reference does (_order). Golden
    # orderings from collection_test.cpp are in tests/test_match.py.
    rank_by_text_match: bool = False


@dataclass
class SearchResult:
    hits: DataFrame  # rank, doc_id, score_milli (+include_fields)
    matched: DataFrame  # full candidate set (doc_id, score_milli)
    facets: dict = dc_field(default_factory=dict)
    facet_stats: dict = dc_field(default_factory=dict)
    # the token vectors scored: drop-tokens attempts and synonym
    # variants (['*'] for a wildcard)
    attempts: list = dc_field(default_factory=list)
    grouped: DataFrame | None = None
    # Q20 × Q15: curated grouped page (group_pos, group_rank, doc_id,
    # score_milli, curated) — set when pinned/overrides AND group_by are
    # both present (reference grouped_hits, src/collection.cpp:890-922)
    grouped_hits: DataFrame | None = None
    _found: int | None = None

    def highlighted_hits(
        self, index: Index, field: str, query_terms: set[str], **hl_kw
    ) -> list[dict]:
        """Reference-shaped response rows: the hits page as dicts with a
        ``highlight`` entry (snippet / matched_tokens / value) computed
        driver-side over the ≤ per_page winners — the same place the
        reference shapes its JSON response (src/collection.cpp:960-1040).
        One hydration collect; match.highlight does the marking. Array
        string fields get the reference's per-element snippet list
        (match.highlight_array: snippets + indices sorted by per-element
        Match score)."""
        from typesense_spark.search.match import highlight, highlight_array

        rows = [r.asDict() for r in self.hits.collect()]
        if not rows:
            return rows
        contents = {
            r["doc_id"]: r[field]
            for r in index.docs.where(
                F.col("doc_id").isin([h["doc_id"] for h in rows])
            )
            .select("doc_id", field)
            .collect()
        }
        for h in rows:
            val = contents.get(h["doc_id"])
            if isinstance(val, list):
                h["highlight"] = highlight_array(val, query_terms, **hl_kw)
            else:
                h["highlight"] = highlight(val or "", query_terms, **hl_kw)
        return rows

    @property
    def found(self) -> int:
        """Total matched docs — computed lazily (it is its own Spark job;
        most callers only read the hits page)."""
        if self._found is None:
            self._found = self.matched.count()
        return self._found


# bounded registry of persisted attempt-0 score relations: the
# drop-tokens fallback decision needs a count JOB over them
# (batch._batch_matched); persisting the narrow scored rows lets the
# final hits/facets actions reuse the materialized scores instead of
# re-running the scan→decode→score pipeline. Handles are released
# LRU-style so long sessions don't accumulate executor storage.
# Keyed by SparkSession (ADVICE r3): evicting another session's handles
# attempts a best-effort unpersist (ADVICE r4 — the other session may
# still be LIVE), with failures swallowed so a stopped/replaced session
# (test suites, long-lived processes) can't make a later search raise.
# Within a session the registry holds one handle per plan: Spark caches
# by plan, so a repeated query's handle shares its predecessor's cache
# entry, and unpersisting that predecessor would drop the current one.
_SCORE_CACHE_KEEP = 8
_score_cache: dict[int, list[DataFrame]] = {}
# semanticHash of each handle, in _score_cache's order (kept apart so the
# registry stays a list of handles for the probes that release them)
_score_plans: dict[int, list[int]] = {}


def _release(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:
        pass  # session died under the handle — nothing to release


def _persist_scored(df: DataFrame) -> DataFrame:
    df = df.persist()
    key = id(df.sparkSession)
    for k in [k for k in _score_cache if k != key]:
        # r4 ADVICE: a key mismatch does not mean the other session is
        # dead — two live sessions alternating searches would otherwise
        # leak each other's persisted score relations. Try to unpersist
        # each evicted handle; a stopped session's JVM call just fails
        # into the except (the old behavior).
        _score_plans.pop(k, None)
        for old in _score_cache.pop(k):
            _release(old)
    cache = _score_cache.setdefault(key, [])
    plans = _score_plans.setdefault(key, [])
    plan = df.semanticHash()
    for i, old in enumerate(cache):
        if plans[i] == plan and old.sameSemantics(df):
            # a repeat: its handle replaces the older one, whose cache
            # entry is now this search's — so it is dropped, not released
            del cache[i], plans[i]
            break
    cache.append(df)
    plans.append(plan)
    while len(cache) > _SCORE_CACHE_KEEP:
        plans.pop(0)
        _release(cache.pop(0))
    return df


def parse_query(q: str) -> tuple[list[str], list[str]]:
    """Reference Q1: '-tok' → exclude list; '*' → wildcard
    (src/collection.cpp:1166-1195). Tokens are run through the pinned
    tokenizer so query-side normalization == index-side. An empty
    include list (exclusion-only query like '-rocket', or an empty /
    all-punctuation q) promotes to wildcard, exactly the reference's
    q_include_tokens fallback (src/collection.cpp:1189-1192) — the
    excludes then subtract from the doc universe."""
    include, exclude = [], []
    for raw in q.split(" "):
        if raw.startswith("-") and len(raw) > 1:
            exclude.extend(tokenize_terms(raw[1:]))
        elif raw == "*":
            include.append("*")
        else:
            include.extend(tokenize_terms(raw))
    if not include:
        include.append("*")
    return include, exclude


def _terms_agg(index: Index, fields: tuple[str, ...]) -> DataFrame:
    """Per-term df (+ max_score when built) aggregated over the queried
    fields (stays distributed)."""
    aggs = [F.sum("df").alias("df")]
    if "max_score" in index.terms.columns:
        aggs.append(F.max("max_score").alias("max_score"))
    return (
        index.terms.where(F.col("field").isin(list(fields)))
        .groupBy("term")
        .agg(*aggs)
    )


def _n_terms(index: Index, fields: tuple[str, ...]) -> int:
    """Dictionary size for the queried fields (held per field set in
    ``Index.term_counts``) — the routing signal between the driver and
    scale expansion routes."""
    key = tuple(sorted(fields))
    if key not in index.term_counts:
        index.term_counts[key] = _terms_agg(index, fields).count()
    return index.term_counts[key]


def _use_spark_expand(index: Index, fields: tuple[str, ...]) -> bool:
    return _n_terms(index, fields) > EXPAND_COLLECT_THRESHOLD


def _get_term_df(index: Index, fields: tuple[str, ...]) -> TermDict:
    """The field set's columnar term dictionary — term, df and, when
    the index has it, max_score — collected by ONE action the first
    time it is asked for and held on the Index (``Index.term_dicts``).
    Read as a {term: df} mapping by WAND's block estimate and the
    benches; both candidate orderings expand over it.

    Only reachable below EXPAND_COLLECT_THRESHOLD; above it ``_expand``
    routes expansion through ``expand.expand_tokens_batch`` (the same
    kernel folded over the distributed terms table's Arrow batches), so
    no full-dictionary collect exists on the scale path.
    """
    key = tuple(sorted(fields))
    if key not in index.term_dicts:
        t = _terms_agg(index, fields).toArrow()
        index.term_dicts[key] = TermDict(
            t.column("term").to_pylist(),
            t.column("df").to_numpy(),
            t.column("max_score").to_numpy() if "max_score" in t.column_names else None,
        )
    return index.term_dicts[key]


def _specs(tokens: list[str], prefix_last: bool) -> list[tuple[str, bool]]:
    """A token vector's candidate-map keys: (token, prefix?), prefix on
    the LAST position only (reference src/index.cpp:1697-1702) — so a
    repeated token's earlier copies stay whole-token matches."""
    return [(t, prefix_last and i == len(tokens) - 1) for i, t in enumerate(tokens)]


def _attempt_plan(tokens: list[str], drop_tokens_threshold: int | None) -> list[list[str]]:
    """Q16 drop-tokens schedule (reference src/index.cpp:1757-1783):
    attempt 0 is the full vector; for drop counter d = 1..n, keep
    tokens[:n-d] while d <= n//2 (drop from the right), else
    tokens[d - n//2:] (drop from the left). d runs to n, not n-1 —
    the reference recurses while num_tokens_dropped < n BEFORE
    incrementing, so a 2-token query tries [t0] AND [t1]
    (PhraseSearch's single-word tail hits depend on it); the d = n
    left-drop for n = 1 is empty and is skipped."""
    if not drop_tokens_threshold or len(tokens) <= 1:
        return [tokens]
    n = len(tokens)
    out = [tokens]
    for d in range(1, n + 1):
        t = tokens[: n - d] if d <= n // 2 else tokens[d - n // 2 :]
        if t:
            out.append(t)
    return out


def _expand(
    index: Index,
    cand_map: dict[tuple[str, bool], list[tuple[str, int]]],
    specs: list[tuple[str, bool]],
    fields: tuple[str, ...],
    num_typos: int,
    distance: str,
    rank_tokens_by: str = "frequency",
) -> dict[tuple[str, bool], list[tuple[str, int]]]:
    """The one expansion router for single and batch search: expands
    the specs not yet in ``cand_map`` into it and returns it, so
    drop-token attempts and erased vectors reuse earlier expansions.
    Below EXPAND_COLLECT_THRESHOLD the collected columnar dictionary
    expands every spec driver-side (``expand_query``: a bisect per
    prefix, one vectorized DP per typo length bucket); above it
    ``expand_tokens_batch`` runs the same kernel over the terms table's
    Arrow batches in one ``mapInArrow`` and collects only the
    candidates, never the dictionary."""
    missing = sorted(set(specs) - set(cand_map))
    if not missing:
        return cand_map
    rank_by = "max_score" if rank_tokens_by == "max_score" else "df"
    if _use_spark_expand(index, fields):
        cand_map.update(
            expand_tokens_batch(
                _terms_agg(index, fields), missing, num_typos, distance, rank_by
            )
        )
    else:
        cand_map.update(
            expand_query(
                missing, _get_term_df(index, fields), num_typos, distance, rank_by
            )
        )
    return cand_map


def _field_weights(fields: tuple[str, ...], weights: tuple[int, ...]):
    """Q12 query_by_weights as a {field: weight} map expression."""
    return F.create_map(
        *[x for f, w in zip(fields, weights) for x in (F.lit(f), F.lit(int(w)))]
    )


def _aggregate_scores(
    joined: DataFrame,
    keys: list[str],
    fields: tuple[str, ...],
    weights: tuple[int, ...],
    mode: str,
    n_tokens,
) -> DataFrame:
    """The one score aggregation for single and batch search: candidate
    postings (``keys``, doc_id, field, qidx, contrib) → (``keys``,
    doc_id, score_milli). A doc's score for a token slot (qidx) is the
    MAX contribution over its candidates, summed across slots; AND
    keeps docs matching all ``n_tokens`` slots (an int, or a column).

    Multi-field: unweighted, a slot's score is its best field's best
    candidate (reference aggregates best per-field scores,
    src/index.cpp:1495-1593; pinned: max over fields×candidates).
    Weighted (Q12), each field's best candidate per slot is weighted and
    the doc score sums them (src/index.cpp:1543-1560; default weights
    are N..1 by field order, src/collection.cpp:593-597); a slot counts
    as matched if any field has it (distinct qidx)."""
    if weights:
        per_ft = joined.groupBy(*keys, "doc_id", "field", "qidx").agg(
            F.max("contrib").alias("best")
        )
        wcol = F.element_at(_field_weights(fields, weights), F.col("field"))
        scored = (
            per_ft.withColumn("ws", wcol * F.col("best"))
            .groupBy(*keys, "doc_id")
            .agg(
                F.sum("ws").alias("score_milli"),
                F.countDistinct("qidx").alias("nmatch"),
            )
        )
    else:
        per_tok = joined.groupBy(*keys, "doc_id", "qidx").agg(
            F.max("contrib").alias("tok_score")
        )
        scored = per_tok.groupBy(*keys, "doc_id").agg(
            F.sum("tok_score").alias("score_milli"), F.count("*").alias("nmatch")
        )
    if mode == "and":
        scored = scored.where(F.col("nmatch") == n_tokens)
    return scored.select(*keys, "doc_id", "score_milli")


def facet_value_query(
    index: Index,
    matched: DataFrame,
    facet_col: str,
    fquery: str,
    num_typos: int = 1,
    max_values: int = 10,
    start_tag: str = "<mark>",
    end_tag: str = "</mark>",
) -> DataFrame:
    """Q18 facet-value autocomplete: count facet values over the matched
    set, keeping only values whose tokens prefix- or fuzzy-match the
    facet query (reference src/index.cpp:672-713, cost 0/1 against the
    shadow facet trie — here a plain scan of the distinct values).

    Also emits ``highlighted``: per value TOKEN, the matched prefix
    (facet-query length, capped at the token length) wrapped in the
    mark tags — the reference's facet-match highlighting
    (``src/collection.cpp:1099-1123``). All JVM expressions.
    """
    fq = fquery.lower()
    vals = (
        matched.join(index.docs, "doc_id")
        .groupBy(F.col(facet_col).alias("facet_value"))
        .agg(F.count("*").alias("facet_count"))
    )
    m = F.lower(F.col("facet_value"))
    cond = m.startswith(fq) | (F.levenshtein(m, F.lit(fq)) <= num_typos)

    def _mark_token(tok):
        hit = F.lower(tok).startswith(fq) | (
            F.levenshtein(F.lower(tok), F.lit(fq)) <= num_typos
        )
        cut = F.least(F.lit(len(fq)), F.length(tok))
        marked = F.concat(
            F.lit(start_tag),
            tok.substr(F.lit(1), cut),
            F.lit(end_tag),
            tok.substr(cut + 1, F.length(tok)),
        )
        return F.when(hit, marked).otherwise(tok)

    highlighted = F.array_join(
        F.transform(F.split(F.col("facet_value"), " ", -1), _mark_token), " "
    )
    return (
        vals.where(cond)
        .withColumn("highlighted", highlighted)
        .orderBy(F.col("facet_count").desc(), F.col("facet_value"))
        .limit(max_values)
    )


def validate_request(req: SearchRequest) -> None:
    """Reference request limits (src/collection.cpp:726-748):
    per_page ≤ 250, group_limit ≤ 99, ≤ 3 sort_by fields, page ≥ 1."""
    if req.per_page > PER_PAGE_MAX:
        raise ValueError(f"Only upto {PER_PAGE_MAX} hits can be fetched per page.")
    _check_group_limit(req.group_limit)
    if len(req.sort_by) > MAX_SORT_FIELDS:
        raise ValueError(f"Only upto {MAX_SORT_FIELDS} sort_by fields can be specified.")
    if req.page < 1 or req.per_page < 1:
        raise ValueError("page and per_page must be >= 1.")


def _check_group_limit(group_limit: int) -> None:
    if group_limit > GROUP_LIMIT_MAX:
        raise ValueError(f"Value of group_limit must be <= {GROUP_LIMIT_MAX}.")


def _rank_groups(
    df: DataFrame, keys: list[str], group_by: tuple[str, ...], order: list, group_limit: int
) -> DataFrame:
    """Q15 group ranking, the one window plan for search() (``keys``
    empty) and the batch entry points (``keys`` = [qid]): within each
    (keys, group_by) group the best ``group_limit`` rows by ``order``
    (``group_rank``); each group is keyed by its rank-1 member's
    (score, doc_id) — the reference sorts groups by their top KV —
    and numbered by that key DESC within ``keys`` (``group_pos``)."""
    _check_group_limit(group_limit)
    wkey = Window.partitionBy(*keys, *group_by)
    wpos = Window.partitionBy(*keys).orderBy(
        F.col("g_score").desc(), F.col("g_doc").desc()
    )

    def _top(col: str):
        return F.max(F.when(F.col("group_rank") == 1, F.col(col))).over(wkey)

    return (
        df.withColumn("group_rank", F.row_number().over(wkey.orderBy(*order)))
        .where(F.col("group_rank") <= group_limit)
        .withColumn("g_score", _top("score_milli"))
        .withColumn("g_doc", _top("doc_id"))
        .withColumn("group_pos", F.dense_rank().over(wpos))
    )


def _order(req: SearchRequest, rule: str | None) -> list:
    """The hits order: a re-rank's Match score leads (match_score.h:49-57),
    then sort_by, then score DESC, doc_id DESC (topster.h:254-257). In
    text-match mode sort fields resolve like the reference's
    (src/collection.cpp:708-728): ``_text_match`` may sit ANYWHERE in
    sort_by, is APPENDED when absent and fewer than 3 fields are given,
    and leads (BM25 standing in for default_sorting_field) when sort_by
    is empty; BM25 never slips between sort_by ties and doc_id."""

    def key(c: str, d: str):
        # F.desc(name) is F.col(name).desc() in 1/8 of the py4j calls
        c = "match_score" if c == TEXT_MATCH_FIELD else c
        return F.desc(c) if d.lower() == "desc" else F.asc(c)

    sort = list(req.sort_by)
    if rule == "text_match" and sort:
        if TEXT_MATCH_FIELD not in dict(sort) and len(sort) < 3:
            sort.append((TEXT_MATCH_FIELD, "desc"))
        return [key(c, d) for c, d in sort] + [F.desc("doc_id")]
    lead = [F.desc("match_score")] if rule else []
    user = [] if rule == "text_match" else [key(c, d) for c, d in sort if c != TEXT_MATCH_FIELD]
    return lead + user + [F.desc("score_milli"), F.desc("doc_id")]


def _projection(req: SearchRequest, columns: list[str]) -> tuple[str, ...]:
    """The hits' doc columns: include_fields minus exclude_fields; a bare
    exclude means every doc column but these (src/core_api.cpp:366-369)."""
    if not req.exclude_fields:
        return req.include_fields
    base = req.include_fields or [c for c in columns if c not in ("doc_id", "content_sha")]
    return tuple(c for c in base if c not in req.exclude_fields)


def _hydrate(matched: DataFrame, docs: DataFrame, cols) -> DataFrame:
    """Q25: the matched rows joined to the doc columns among ``cols``
    (or the matched rows, when they name none)."""
    need = [c for c in dict.fromkeys(cols) if c in docs.columns and c != "doc_id"]
    return matched.join(docs.select("doc_id", *need), "doc_id") if need else matched


def _top(df: DataFrame, keys: list[str], order: list, n: int, rank: bool = True) -> DataFrame:
    """Q14 top-n per ``keys`` by ``order``, numbered in ``rank`` (dropped
    when ``rank`` is False) — the one step that branches on the keys.
    One query: TakeOrderedAndProject, then the ≤ n rows are numbered. A
    batch: one window per qid, under which Spark keeps each partition's
    per-qid top n before the shuffle (WindowGroupLimit)."""
    if keys:
        w = Window.partitionBy(*keys).orderBy(*order)
        top = df.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= n)
        return top if rank else top.drop("rank")
    top = df.orderBy(*order).limit(n)
    return top.withColumn("rank", F.row_number().over(Window.orderBy(*order))) if rank else top


def _facets(matched: DataFrame, docs: DataFrame, req: SearchRequest, keys: list[str]):
    """Q17-Q19 over the FULL matched set (src/index.cpp:608-816): {col:
    (facet_value, facet_count)} top max_facet_values by count DESC,
    value; {col: stats}, integer-exact (avg micro-quantized)."""
    mdocs = _hydrate(matched, docs, [*req.facet_by, *req.facet_stats_for])
    order = [F.desc("facet_count"), F.asc("facet_value")]
    facets = {
        c: _top(
            mdocs.groupBy(*keys, F.col(c).alias("facet_value"))
            .agg(F.count("*").alias("facet_count")),
            keys, order, req.max_facet_values, rank=False,
        )
        for c in req.facet_by
    }
    stats = {
        c: mdocs.groupBy(*keys).agg(
            F.min(c).cast("long").alias("stat_min"),
            F.max(c).cast("long").alias("stat_max"),
            F.sum(c).cast("long").alias("stat_sum"),
            F.count(c).alias("stat_count"),
        ).withColumn("stat_avg_micro", F.expr("stat_sum * 1000000 div stat_count"))
        for c in req.facet_stats_for
    }
    return facets, stats


def _resolve_curation(queries, req: SearchRequest, override_store, pinned, hidden):
    """Q20 per query: override rules resolve DRIVER-SIDE (string match,
    no Spark job, like populate_overrides, src/collection.cpp:427-493)
    into ({qid: {doc_id: position}}, {qid: hidden}); explicit pins and
    hides win. Under ``req.group_by`` up to group_limit claimants per
    position survive, as a synthetic curated group."""
    ids_per_pos = max(1, req.group_limit) if req.group_by else 1
    res_pin, res_hid = {}, {}
    for qid, q in queries:
        p, h = dict((pinned or {}).get(qid, {})), tuple((hidden or {}).get(qid, ()))
        if override_store is not None:
            p, h = override_store.resolve(q, p, h, ids_per_pos=ids_per_pos)
        res_pin[qid], res_hid[qid] = p, h
    return res_pin, res_hid


def _per_qid(keys: list[str], rows) -> dict[str, list]:
    """Collected rows by qid ("" for one query)."""
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(r["qid"] if keys else "", []).append(r)
    return out


def _frame(index: Index, keys: list[str], rows: list[tuple], ddl: str) -> DataFrame:
    """Driver-side (qid, *values) rows as a DataFrame, without the qid
    for one query."""
    return index.spark.createDataFrame(
        [r if keys else r[1:] for r in rows], "".join(f"{k} string, " for k in keys) + ddl
    )


def _curated_groups(index, matched, hydrated, keys, req, order, curation) -> DataFrame:
    """Q20 under group_by (src/collection.cpp:890-922): per qid, up to
    group_limit claimants of a position form a SYNTHETIC curated group
    spliced at that GROUP position (``curation.splice_groups``) over
    one collected page of organic groups, which exclude the curated
    docs and rank by their top hit."""
    by_pos = {q: claimants(p, req.group_limit) for q, p in curation.items()}
    pairs = [(q, d) for q, bp in by_pos.items() for ds in bp.values() for d in ds]
    scores: dict[str, dict] = {q: {} for q in curation}
    if pairs:
        cur = F.broadcast(_frame(index, keys, pairs, "doc_id long"))
        hydrated = hydrated.join(cur, [*keys, "doc_id"], "left_anti")
        rows = matched.join(cur, [*keys, "doc_id"], "left_semi").collect()
        for q, rs in _per_qid(keys, rows).items():
            scores[q] = {r["doc_id"]: r["score_milli"] for r in rs}
    n = req.page * req.per_page
    page = _per_qid(keys, (
        _rank_groups(hydrated, keys, req.group_by, order, req.group_limit)
        .where(F.col("group_pos") <= n + max(map(len, by_pos.values()), default=0))
        .select(*keys, "g_score", "g_doc", "group_rank", "doc_id", "score_milli")
        .collect()
    ))
    out = [
        (q, *g)
        for q in curation
        for g in splice_groups([r[len(keys):] for r in page.get(q, [])], by_pos[q], scores[q], n)
        if g[0] > n - req.per_page
    ]
    ddl = "group_pos int, group_rank int, doc_id long, score_milli long, curated boolean"
    return _frame(index, keys, out, ddl)


def _respond(index, matched, req, keys, rule=None, curation=None, hits=True) -> SearchResult:
    """The ONE response layer over the matched set, keyed by ``keys``:
    [] for :func:`search` (matched without qid), [qid] for a batch. It
    reads ``req``'s response options only, and ``rule``, the Match
    re-rank the matched set was scored under (its ``match_score``
    follows doc_id in the hits, src/collection.cpp:713-728).
    ``curation``: {qid ("" for one query): {doc_id: 1-based position}},
    None when uncurated. ``hits`` False skips the hits page."""
    docs = index.docs
    order, include = _order(req, rule), _projection(req, docs.columns)
    res = SearchResult(None, matched, *_facets(matched, docs, req, keys))
    hydrated = _hydrate(matched, docs, [*dict(req.sort_by), *include, *req.group_by])
    if req.group_by:
        res.grouped = _rank_groups(hydrated, keys, req.group_by, order, req.group_limit)
        if curation is not None:
            res.grouped_hits = _curated_groups(index, matched, hydrated, keys, req, order, curation)
    if not hits:
        return res
    cols = ["match_score", "score_milli"] if rule else ["score_milli"]
    n = req.page * req.per_page
    if curation is None:
        res.hits = _top(hydrated, keys, order, n).where(F.col("rank") > n - req.per_page)
        res.hits = res.hits.select(*keys, "rank", "doc_id", *cols, *include)
        return res
    # Q20 pinned hits: curation.splice_hits (src/collection.cpp:897-922)
    # of each qid's top n + positions rows; `curated` marks the pins
    n_pos = max((len(claimants(p)) for p in curation.values()), default=0)
    top = sorted(_top(hydrated, keys, order, n + n_pos).collect(), key=lambda r: r["rank"])
    page = _per_qid(keys, top)
    out = [
        (q, pos, d, *[0 if r is None else r[c] for c in cols], cur)
        for q, pins in curation.items()
        for pos, d, r, cur in splice_hits(
            {r["doc_id"]: r for r in page.get(q, [])}, pins, n
        )[n - req.per_page :]
    ]
    ddl = "rank int, doc_id long, " + "".join(f"{c} long, " for c in cols)
    res.hits = _frame(index, keys, out, ddl + "curated boolean")
    if include:
        res.hits = res.hits.join(docs.select("doc_id", *include), "doc_id", "left")
    res.hits = res.hits.select(*keys, "rank", "doc_id", *cols, *include, "curated")
    return res


def search(index: Index, req: SearchRequest) -> SearchResult:
    validate_request(req)
    tokens, excludes = parse_query(req.q)
    pinned, hidden = _resolve_curation(
        [("", req.q)], req, req.override_store, {"": req.pinned}, {"": req.hidden}
    )

    # WAND soundness: pruning is exact when (a) any post-search
    # narrowing is either absent or REFLECTED IN τ — attribute filters
    # are (filter-first τ probes, wand.prune_blocks), exclusion tokens
    # and hidden ids are not (fallback), (b) BM25 is the primary order
    # (an attribute sort or proximity re-rank could promote a pruned
    # doc), (c) no consumer needs the FULL matched set (facets / stats /
    # grouping / found are documented as full-set), and (d) the
    # requested page fits in the prune budget. Otherwise fall back to
    # the exhaustive plan. Under WAND, `found` is a lower bound.
    use_wand = (
        req.use_wand
        and req.mode == "or"
        and not (hidden[""] or excludes)
        and not req.query_by_weights  # block maxima are unweighted
        and not req.sort_by
        and not req.rerank_proximity
        and not req.rank_by_text_match
        and not (req.facet_by or req.facet_stats_for or req.group_by)
        and req.page * req.per_page <= MAX_HITS
    )
    # the second-stage Match re-rank (match.py): text-match-primary wins
    # over proximity; a wildcard has no query tokens to re-rank by
    rule = None
    if tokens != ["*"] and (req.rank_by_text_match or req.rerank_proximity):
        rule = "text_match" if req.rank_by_text_match else "proximity"

    # a one-query batch: the matched set is batch._batch_matched's, the
    # response _respond's, keyed by nothing
    from typesense_spark.search.batch import _batch_matched

    attempts: list = []
    filt = (req.filter_expr, req.filter_by)
    matched = _batch_matched(
        index, [("", req.q)], req.fields, req.num_typos, req.prefix_last,
        req.mode, req.typo_distance, req.query_by_weights, req.synonyms,
        req.synonym_store, req.drop_tokens_threshold,
        {"": filt} if any(filt) else None, req.typo_tokens_threshold, hidden,
        rank_tokens_by=req.rank_tokens_by, use_wand=use_wand, _rescore=rule,
        _attempts=attempts,
    ).drop("qid")
    res = _respond(index, matched, req, [], rule, pinned if pinned[""] else None)
    if res.grouped is not None:
        res.grouped = res.grouped.select(*req.group_by, "doc_id", "score_milli", "group_rank")
    res.attempts = attempts
    return res
