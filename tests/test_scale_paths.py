"""Scale-path variants must agree with the driver-path defaults:
the folded Spark expansion route vs the driver dict, WAND pruning
actually prunes, corpus validation splits."""

import random

import pytest
from pyspark.sql import functions as F

from typesense_spark.index.validate import split_valid
from typesense_spark.oracle import expand_token
from typesense_spark.search.expand import (
    TermDict,
    _survivor_plan,
    expand_query,
    expand_tokens_batch,
)


def test_spark_expander_matches_expand_token(built_index):
    """One-token expansions on the Spark expander equal the driver
    spec, per typo budget and prefix setting."""
    terms_df = built_index.terms.where(F.col("field") == "content")
    term_df = {r["term"]: r["df"] for r in terms_df.collect()}
    for token, typos, prefix in [
        ("zygomorphik", 2, False),
        ("import", 1, False),
        ("zygo", 0, True),
        ("retur", 2, True),
    ]:
        driver = expand_token(token, term_df, typos, prefix)
        spark_side = expand_tokens_batch(terms_df, [(token, prefix)], typos)
        assert spark_side[(token, prefix)] == driver, (token, spark_side, driver)


def test_wand_actually_prunes_blocks(built_index):
    from typesense_spark.oracle import expand_query
    from typesense_spark.search.engine import SearchRequest, search
    from typesense_spark.search.wand import prune_blocks

    # Block-max pruning needs contribution VARIANCE across blocks
    # (uniform synthetic corpora yield block_max ≈ term ub everywhere —
    # a known property of block-max WAND). Construct dl-skew: docs
    # 0..79 are long (low per-occurrence contribution), docs 80..87
    # are short (high contribution); blocks are doc_id-ordered, so the
    # long docs fill low-max blocks that τ prunes.
    from typesense_spark.index import build_index

    spark = built_index.spark
    rows = [(i, "hot " + " ".join(f"w{i}x{j}" for j in range(200))) for i in range(80)]
    rows += [(80 + i, "hot tiny") for i in range(8)]
    df = spark.createDataFrame(rows, schema="doc_id long, content string")
    ix = build_index(spark, df, fields=["content"], id_col="doc_id",
                     num_buckets=4, block_size=16)
    tdf = {r["term"]: r["df"] for r in ix.terms.collect()}
    specs2 = [("hot", False), ("tiny", False)]
    cand2 = expand_query(specs2, tdf, 0)
    terms2 = sorted({t for c in cand2.values() for t, _ in c})
    total2 = ix.candidate_postings(terms2, ["content"]).count()
    survived2 = prune_blocks(ix, specs2, cand2, ("content",), k=3, min_blocks=0).count()
    assert survived2 < total2  # metadata filter removed real blocks

    tokens = ["import", "return", "merge0"]
    # and results are still exact (vs exhaustive)
    naive = search(
        built_index,
        SearchRequest(q=" ".join(tokens), fields=("content",), num_typos=0, mode="or", per_page=10),
    ).hits.collect()
    wand = search(
        built_index,
        SearchRequest(q=" ".join(tokens), fields=("content",), num_typos=0, mode="or",
                      per_page=10, use_wand=True),
    ).hits.collect()
    assert [tuple(r) for r in wand] == [tuple(r) for r in naive]


def test_split_valid(spark):
    df = spark.createDataFrame(
        [
            ("r", "p", "c", "ok content"),
            (None, "p", "c", "x"),
            ("r", "p", "c", ""),
            ("r", "p", "c", "y" * 100),
        ],
        schema="repo string, path string, commit string, content string",
    )
    valid, rejected = split_valid(
        df, ["repo", "path", "commit"], content_col="content", max_content_bytes=50
    )
    assert valid.count() == 1
    reasons = sorted(r["reject_reason"] for r in rejected.collect())
    assert reasons == [
        "content exceeds 50 bytes",
        "empty content",
        "missing required field: repo",
    ]


def test_spark_expand_routing_matches_driver_path(built_index, monkeypatch):
    """Forcing the scale expansion route (threshold 0) must produce
    byte-identical search results to the driver-dict default, including
    typo, prefix, OR, drop-tokens, and batch queries — the auto-switch
    is a pure physical-plan decision."""
    from typesense_spark.search import engine
    from typesense_spark.search.batch import batch_search
    from typesense_spark.search.engine import SearchRequest, search

    reqs = [
        dict(q="import return", num_typos=0),
        dict(q="retur", num_typos=2),
        dict(q="impor", num_typos=0, prefix_last=True),
        dict(q="import zzznope", num_typos=0),  # drop-tokens fallback
        dict(q="import merge0", num_typos=1, mode="or"),
    ]
    driver_hits = [
        [tuple(r) for r in search(built_index, SearchRequest(fields=("content",), **kw)).hits.collect()]
        for kw in reqs
    ]
    queries = [("q1", "import return"), ("q2", "def class")]
    driver_batch = [
        tuple(r) for r in batch_search(built_index, queries, fields=("content",)).collect()
    ]
    monkeypatch.setattr(engine, "EXPAND_COLLECT_THRESHOLD", 0)
    spark_hits = [
        [tuple(r) for r in search(built_index, SearchRequest(fields=("content",), **kw)).hits.collect()]
        for kw in reqs
    ]
    spark_batch = [
        tuple(r)
        for r in batch_search(built_index, queries, fields=("content",)).collect()
    ]
    assert spark_hits == driver_hits
    assert sorted(spark_batch) == sorted(driver_batch)


def test_spark_expander_matches_expand_query(built_index):
    """The two expanders share one contract: a multi-spec expansion on
    the Spark expander equals the driver expand_query map, key for key."""
    from pyspark.sql import functions as F

    from typesense_spark.oracle import expand_query

    terms_df = (
        built_index.terms.where(F.col("field") == "content")
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )
    term_df = {r["term"]: r["df"] for r in terms_df.collect()}
    specs = [("impor", False), ("retur", False), ("zygo", True)]
    assert expand_tokens_batch(terms_df, specs, 2) == expand_query(specs, term_df, 2)


@pytest.mark.parametrize("seed,n_parts,batch_rows", [(0, 1, 3), (1, 5, 5), (2, 16, 7)])
def test_fold_expander_matches_term_dict(spark, seed, n_parts, batch_rows):
    """The scale route's fold over Arrow batches equals the TermDict
    kernel over the whole dictionary: both distances, num_typos 0-2,
    prefix on and off, df and max_score ranks. Batches of 3-7 rows make
    the fold span many batches and split rank ties (few distinct rank
    values, int64 extremes among them) across them; hashing on term
    length into up to 16 partitions leaves some partitions empty."""
    rng = random.Random(seed)
    alphabet = "abcdé中𝔸"
    terms = sorted(
        {"".join(rng.choice(alphabet) for _ in range(rng.randint(1, 6))) for _ in range(300)}
    )
    ranks = [0, 1, 2, 2, 2**63 - 1, -(2**63)]
    df = [rng.choice(ranks) for _ in terms]
    ms = [rng.choice(ranks) for _ in terms]
    td = TermDict(terms, df, ms)
    sdf = spark.createDataFrame(
        list(zip(terms, df, ms)), "term string, df long, max_score long"
    ).repartition(n_parts, F.length("term"))

    def typo(t):
        i = rng.randrange(len(t))
        return t[:i] + rng.choice(alphabet) + t[i + 1 :]

    toks = [typo(rng.choice(terms)) for _ in range(6)] + [rng.choice(terms)[:2], "a", "zz"]
    specs = [(t, rng.random() < 0.5) for t in toks] + [(toks[0], True), (toks[0], False)]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, str(batch_rows))
    try:
        for distance in ("levenshtein", "osa"):
            for num_typos in (0, 1, 2):
                for rank in ("df", "max_score"):
                    got = expand_tokens_batch(sdf, specs, num_typos, distance, rank)
                    want = expand_query(specs, td, num_typos, distance, rank)
                    assert got == want, (distance, num_typos, rank)
    finally:
        spark.conf.set(key, before)


def test_osa_matches_duckdb_damerau_at_cost_1():
    """The reference's metric is OSA (art.cpp keeps 3 DP rows and cites
    the OSA formula); DuckDB's damerau_levenshtein is the UNRESTRICTED
    Damerau metric. They provably coincide at distance ≤ 1 (any single
    op is the same op set), which is why the typo_osa gate pins
    num_typos=1; at ≥ 2 they can diverge (e.g. ca→abc: OSA 3, full
    DL 2). Assert both the ≤1 agreement on random pairs and the known
    divergence point."""
    import random

    import duckdb

    from typesense_spark.search.expand import levenshtein, osa

    assert osa("mrege", "merge") == 1 and levenshtein("mrege", "merge") == 2
    assert osa("teh", "the") == 1
    con = duckdb.connect()
    # pinned divergence: OSA forbids editing inside a transposed pair
    assert osa("ca", "abc") == 3
    assert con.sql("SELECT damerau_levenshtein('ca', 'abc')").fetchone()[0] == 2
    rng = random.Random(7)
    for _ in range(300):
        a = "".join(rng.choice("abcde") for _ in range(rng.randint(0, 8)))
        b = "".join(rng.choice("abcde") for _ in range(rng.randint(0, 8)))
        want = con.sql(f"SELECT damerau_levenshtein('{a}', '{b}')").fetchone()[0]
        got = osa(a, b)
        assert got >= want, (a, b)  # full DL is a lower bound on OSA
        if want <= 1 or got <= 1:
            assert got == want, (a, b, got, want)


def test_osa_spark_expansion_matches_driver(built_index):
    from pyspark.sql import functions as F

    from typesense_spark.oracle import expand_query

    terms_df = (
        built_index.terms.where(F.col("field") == "content")
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )
    term_df = {r["term"]: r["df"] for r in terms_df.collect()}
    specs = [("imoprt", False), ("retrun", False)]  # transpositions of import/return
    spark_side = expand_tokens_batch(terms_df, specs, 1, "osa")
    driver_side = expand_query(specs, term_df, 1, "osa")
    assert spark_side == driver_side
    assert any(t == "import" for t, _ in driver_side[("imoprt", False)])


def test_rank_tokens_by_max_score_parity(spark):
    """MAX_SCORE candidate ordering: driver dict vs scale route agree,
    and the chosen candidate set actually differs from FREQUENCY when
    the rankings disagree."""
    from pyspark.sql import functions as F

    from typesense_spark.index import build_index
    from typesense_spark.oracle import expand_query

    # 'merga' is rare but high-score; three other variants are common
    # but low-score — with the 3-per-cost cap, FREQUENCY drops merga
    # while MAX_SCORE keeps it
    rows = [(i, "mergb common filler", 10) for i in range(8)]
    rows += [(100, "merga rare", 999)]
    rows += [(i + 200, "mergc other", 10 + i) for i in range(8)]
    rows += [(i + 300, "mergd more", 10) for i in range(8)]
    df = spark.createDataFrame(rows, schema="doc_id long, text string, pts long")
    ix = build_index(
        spark, df, fields=["text"], id_col="doc_id", num_buckets=2, score_col="pts"
    )
    agg = (
        ix.terms.groupBy("term")
        .agg(F.sum("df").alias("df"), F.max("max_score").alias("max_score"))
    )
    term_df = {r["term"]: r["df"] for r in agg.collect()}
    term_ms = {r["term"]: r["max_score"] for r in agg.collect()}
    spec = [("merg", False)]
    by_freq = expand_query(spec, term_df, 1)
    by_score = expand_query(spec, term_df, 1, rank=term_ms)
    spark_score = expand_tokens_batch(agg, spec, 1, rank_col="max_score")
    assert by_score == spark_score
    assert "merga" in dict(by_score[spec[0]])  # high-score candidate kept
    assert "merga" not in dict(by_freq[spec[0]])  # frequency cap drops it
    assert by_score != by_freq


def test_spark_expand_empty_tokens(built_index, monkeypatch):
    """Exclusion-only queries promote to wildcard-minus-excludes
    (reference src/collection.cpp:1189-1192) and must behave identically
    on the Spark-expansion route: the doc universe minus every doc
    containing the excluded term, never a crash or a silent empty."""
    from typesense_spark.search import engine
    from typesense_spark.search.engine import SearchRequest, search

    total = built_index.docs.count()
    with_term = (
        built_index.decoded(["import"], ["content"]).select("doc_id").distinct().count()
    )
    assert 0 < with_term < total  # premise: 'import' splits the corpus
    monkeypatch.setattr(engine, "EXPAND_COLLECT_THRESHOLD", 0)
    res = search(
        built_index,
        SearchRequest(q="-import", fields=("content",), num_typos=0, per_page=250),
    )
    assert res.found == total - with_term


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_one_map_in_arrow(terms, specs, num_typos):
    """The scale route runs the TermDict kernel in ONE ``mapInArrow``
    over the terms relation and adds nothing else to it: no window, no
    JVM levenshtein and no per-row or pandas Python UDF. Windows in the
    terms relation's own lineage (the build's doc-id assignment) must
    each carry a partition spec: a physical Window prints
    ``Window [exprs], [partitionSpec], [orderSpec]``, and an empty
    partition spec (the single-partition shape) prints ``], [], [``."""
    base = _physical(terms)
    for distance in ("levenshtein", "osa"):
        plan = _physical(_survivor_plan(terms, specs, num_typos, distance, "df"))
        # the root under AdaptiveSparkPlan, reading the terms relation
        assert "MapInArrow" in plan.splitlines()[1], plan
        assert plan.count("MapInArrow") == base.count("MapInArrow") + 1, plan
        for banned in ("Window", "levenshtein", "ArrowEvalPython", "BatchEvalPython"):
            assert plan.count(banned) == base.count(banned), (banned, plan)
        for line in plan.splitlines():
            if "Window [" in line:
                assert "], [], [" not in line, f"global window found: {line}"


def test_prefix_expansion_no_global_window(built_index):
    """The prefix top-K on the scale path is never a single-partition
    window: it is a per-partition top-10 inside the one ``mapInArrow``
    fold, so the plan adds no window at all over the terms relation."""
    from typesense_spark.search.engine import _terms_agg

    terms = _terms_agg(built_index, ("content",))
    _assert_one_map_in_arrow(terms, [("zygo", True)], 0)
    _assert_one_map_in_arrow(terms, [("improt", False), ("zygo", True), ("import", False)], 2)


def test_spark_expander_two_phase_cost_window(built_index):
    """A one-token fuzzy expansion caps candidates in two phases: each
    partition's fold keeps at most 3 candidates per cost level (plus the
    exact hit), and only those reach the final expansion on the driver,
    which never sees the full survivor set. Both phases rank by the same
    (cost, -df, term) order, so the result equals the whole dictionary's
    expansion. Neither phase is a Spark window."""
    from typesense_spark.search.engine import _terms_agg
    from typesense_spark.search.expand import MAX_CANDIDATES, levenshtein

    tok, num_typos, n_parts = "merge", 2, 4
    terms = _terms_agg(built_index, ("content",))
    _assert_one_map_in_arrow(terms, [(tok, False)], num_typos)

    rows = terms.select("term", "df").collect()
    near = [r["term"] for r in rows if levenshtein(tok, r["term"]) <= num_typos]
    cap = 1 + MAX_CANDIDATES * num_typos
    assert len(near) > n_parts * cap  # premise: the local cap must bite
    split = terms.repartition(n_parts, F.col("term"))
    local = (
        _survivor_plan(split, [(tok, False)], num_typos, "levenshtein", "df")
        .rdd.glom()
        .map(len)
        .collect()
    )
    assert len(local) == n_parts and max(local) <= cap, local
    assert sum(local) < len(near)
    td = TermDict([r["term"] for r in rows], [r["df"] for r in rows])
    want = expand_query([(tok, False)], td, num_typos)
    assert expand_tokens_batch(split, [(tok, False)], num_typos) == want


def test_jaccard_plan_no_global_distinct(spark, built_index):
    """Per-doc shingle dedup is map-side array_distinct (r3): the plan
    must contain NO global Deduplicate over the raw shingle rows."""
    from typesense_spark.ops.dedup import ngram_jaccard_pairs

    plan = (
        ngram_jaccard_pairs(built_index.docs, "content")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "array_distinct" in plan
    assert "Deduplicate" not in plan


def test_batch_exact_expansion_skips_levenshtein(spark, built_index):
    """A typo-free batch expansion returns only exact hits at cost 0
    (the plan itself is pinned by
    test_prefix_expansion_no_global_window)."""
    from typesense_spark.search.engine import _terms_agg

    terms = _terms_agg(built_index, ("content",))
    out = expand_tokens_batch(terms, [("import", False), ("merge0", False)], num_typos=0)
    assert out == {("import", False): [("import", 0)], ("merge0", False): [("merge0", 0)]}


def test_wand_engagement_no_count_job(built_index, monkeypatch):
    """r3 VERDICT #6: prune_blocks decides engagement from the cached
    dictionary's df sums (ceil(df/block_size) lower-bounds block count),
    never from a blocks.count() job."""
    # PySpark 4: the runtime class is the classic subclass, which
    # OVERRIDES count/collect — patching the public base is a no-op
    from pyspark.sql.classic.dataframe import DataFrame

    from typesense_spark.search.engine import _get_term_df, _use_spark_expand
    from typesense_spark.search.expand import expand_query
    from typesense_spark.search.wand import prune_blocks

    # warm the legitimate one-time caches (dictionary size + df map)
    _use_spark_expand(built_index, ("content",))
    term_df = _get_term_df(built_index, ("content",))

    calls = []
    orig = DataFrame.count

    def spy(self):
        calls.append(1)
        return orig(self)

    monkeypatch.setattr(DataFrame, "count", spy)
    specs = [("import", False), ("return", False)]
    cand = expand_query(specs, term_df, 0)
    # below-crossover shape: the estimate must short-circuit with ZERO
    # Spark jobs of any kind (old code burned one count job here)
    blocks = prune_blocks(
        built_index, specs, cand, ("content",), k=10, min_blocks=10**9,
    )
    assert calls == [], "engagement decision ran a count job"
    assert "max_contrib" in blocks.columns  # unpruned blocks relation


def test_batch_deepening_no_driver_actions(built_index, monkeypatch):
    """Batch typo deepening must stay ONE plan: the per-(vector, level)
    stop decision is a broadcast-joined relation, never an intermediate
    count/collect job (the engine's per-query loop runs a count job per
    cost level — that is exactly what the batch lift removes)."""
    # PySpark 4: the runtime class is the classic subclass, which
    # OVERRIDES count/collect — patching the public base is a no-op
    from pyspark.sql.classic.dataframe import DataFrame

    from typesense_spark.search.batch import batch_search
    from typesense_spark.search.engine import _get_term_df, _use_spark_expand

    # warm the legitimate one-time caches (dictionary size + df map)
    _use_spark_expand(built_index, ("content",))
    _get_term_df(built_index, ("content",))

    counts, collects = [], []
    orig_count, orig_collect = DataFrame.count, DataFrame.collect

    def spy_count(self):
        counts.append(1)
        return orig_count(self)

    def spy_collect(self):
        collects.append(1)
        return orig_collect(self)

    monkeypatch.setattr(DataFrame, "count", spy_count)
    monkeypatch.setattr(DataFrame, "collect", spy_collect)
    out = batch_search(
        built_index, [("a", "impor"), ("b", "improt")], fields=("content",),
        num_typos=2, k=5, typo_tokens_threshold=5, drop_tokens_threshold=0,
    )
    assert counts == [] and collects == [], "plan construction ran a job"
    rows = orig_collect(out)  # the ONE action, issued by the caller
    assert rows
    assert counts == [] and collects == []


def test_batch_single_vector_fast_path(built_index):
    """r4 VERDICT #1: a typo-free single-attempt batch (the query-log
    replay shape) must take the two-aggregation fast path — no vector
    keys and no final max-merge aggregation in the plan."""
    from typesense_spark.search.batch import _batch_matched

    m = _batch_matched(
        built_index, [("a", "import return"), ("b", "merge0")],
        fields=("content",), num_typos=0,
    )
    plan = m._jdf.queryExecution().optimizedPlan().toString()
    # exactly two aggregations: per-token max, per-doc sum (the r4
    # always-on pipeline added a third max-merge over the scored set),
    # and neither groups by the per-vector keys (the broadcast cmap
    # still CARRIES vec_id/aidx columns — they're pruned, not grouped)
    agg_lines = [line for line in plan.splitlines() if "Aggregate [" in line]
    assert len(agg_lines) == 2, plan
    for line in agg_lines:
        assert "vec_id" not in line and "aidx" not in line, line


def test_candidate_map_one_query_literal_batch_broadcast(built_index, monkeypatch):
    """Both sides of the attach switch: a one-query call attaches its
    candidate rows as a literal map over the narrow decode, however
    many rows its typo and prefix candidates make; a batch of two
    keeps the broadcast join over the spread decode."""
    from typesense_spark.index.build import Index
    from typesense_spark.search.batch import _batch_matched

    spreads = []
    orig = Index.decoded

    def spy(self, terms, fields, spread=False):
        spreads.append(spread)
        return orig(self, terms, fields, spread=spread)

    monkeypatch.setattr(Index, "decoded", spy)
    for qs, kw, big in (
        # typo candidates on nine tokens + prefix candidates: 65 rows
        ([("q0", "mergea mergeb mergec merged mergee mergef mergeg mergeh mergei merg")],
         dict(num_typos=2, prefix_last=True), False),
        ([("q0", "import"), ("q1", "return")], dict(num_typos=0, prefix_last=False), True),
    ):
        spreads.clear()
        m = _batch_matched(built_index, qs, fields=("content",), mode="or", **kw)
        lines = [x.simpleString(100) for x in _logical_nodes(m)]
        assert spreads == [big], (qs, spreads)
        joins = [x for x in lines if x.startswith("Join") and "broadcast" in x]
        assert bool(joins) == big, lines
        assert any(x.startswith(("LocalRelation", "LogicalRDD")) for x in lines) == big, lines
        assert any(x.startswith("Generate explode(element_at(map(") for x in lines) != big, lines


def _logical_nodes(df) -> list:
    """Every node of the optimized logical plan down to its leaves —
    cached relations (the index tables) are leaves, so their build
    lineage is not included."""
    out, stack = [], [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        out.append(node)
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


# perfbench's three interactive shapes, over the test corpus
INTERACTIVE_SHAPES = {
    "and2_facet": dict(q="import return", num_typos=0, prefix_last=False, facet_by=("lang",)),
    "or3_filter": dict(q="import return merge0", mode="or", num_typos=0, prefix_last=False,
                       filter_by="lang := python"),
    "typo_prefix": dict(q="improt", num_typos=2, prefix_last=True),
}


@pytest.mark.parametrize(
    "kw,n_aggs",
    [
        (INTERACTIVE_SHAPES["and2_facet"], 2),
        (INTERACTIVE_SHAPES["or3_filter"], 2),
        (INTERACTIVE_SHAPES["typo_prefix"], 1),
    ],
    ids=["and2_facet", "or3_filter", "typo_prefix"],
)
def test_search_matched_plan_shape(built_index, kw, n_aggs):
    """search()'s matched plan for the interactive query shapes — the
    single-query twin of test_batch_single_vector_fast_path: the
    candidate map attaches as a literal map expression (no driver-built
    relation, no broadcast join carries it), and unweighted scoring is
    two aggregations (per-token max, per-doc sum), one for a
    single-token query (the token max is the doc score)."""
    from typesense_spark.search import SearchRequest, search
    from typesense_spark.search.engine import _score_cache

    res = search(built_index, SearchRequest(fields=("content",), **kw))
    # the drop-tokens count persisted the scored rows; release them so
    # the plan below shows the scoring lineage, not the cache scan
    for cached in _score_cache.values():
        for df in cached:
            df.unpersist()
    nodes = _logical_nodes(res.matched.select("doc_id", "score_milli"))
    names = [n.nodeName() for n in nodes]
    lines = [n.simpleString(100) for n in nodes]
    assert names.count("Aggregate") == n_aggs, lines
    assert not {"LocalRelation", "LogicalRDD"} & set(names), lines
    assert not [x for x in lines if x.startswith("Join") and "broadcast" in x], lines
    assert any(x.startswith("Generate explode(element_at(map(") for x in lines), lines


# py4j commands one search() sends the gateway per interactive shape at
# drop_tokens_threshold=0, so that no Spark job runs inside search():
# building a request's plans is all driver round-trips. The budgets are
# the counts of the code before the response layer was shared; a
# change must not raise them.
PY4J_BUDGET = {"and2_facet": 581, "or3_filter": 532, "typo_prefix": 383}


@pytest.mark.parametrize("shape", sorted(PY4J_BUDGET))
def test_search_py4j_budget(spark, built_index, monkeypatch, shape):
    from py4j.protocol import MEMORY_COMMAND_NAME

    from typesense_spark.search import SearchRequest, search

    req = SearchRequest(fields=("content",), drop_tokens_threshold=0, **INTERACTIVE_SHAPES[shape])
    search(built_index, req)  # warms the per-Index dictionary caches
    client = spark.sparkContext._gateway._gateway_client
    orig, calls = client.send_command, []

    def spy(command, *a, **kw):
        # releases of JVM handles that Python let go of run whenever
        # their finalizers do, so they are not this call's round trips
        if not command.startswith(MEMORY_COMMAND_NAME):
            calls.append(1)
        return orig(command, *a, **kw)

    with monkeypatch.context() as m:
        m.setattr(client, "send_command", spy)
        res = search(built_index, req)
    assert len(calls) <= PY4J_BUDGET[shape], len(calls)
    assert res.hits.collect()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _physical_nodes(df) -> list:
    """(node, its subtree's node names) for every node of the physical
    plan down to its leaves — a cached relation is a leaf, so the index
    tables' build lineage is not included."""
    root = df._jdf.queryExecution().executedPlan()
    if root.nodeName() == "AdaptiveSparkPlan":
        root = root.inputPlan()

    def walk(node):
        kids = node.children()
        below = [walk(kids.apply(i)) for i in range(kids.size())]
        names = {node.nodeName()}.union(*[n for _, n in below]) if below else {node.nodeName()}
        out.append((node, names))
        return node, names

    out: list = []
    walk(root)
    return out


def test_search_topk_plans_take_ordered(built_index):
    """A one-query search without grouping takes its top-k with
    TakeOrderedAndProject: the only Window numbers the <= top_n rows
    above it, none runs over the matched set."""
    from typesense_spark.search import SearchRequest, search

    for kw in INTERACTIVE_SHAPES.values():
        hits = search(built_index, SearchRequest(fields=("content",), **kw)).hits
        nodes = _physical_nodes(hits)
        assert any(n.nodeName() == "TakeOrderedAndProject" for n, _ in nodes), _plan(hits)
        for n, below in nodes:
            if n.nodeName() == "Window":
                assert "TakeOrderedAndProject" in below, _plan(hits)


def test_batch_topk_plans_per_qid_window(built_index):
    """A batch's top-k is one window per qid: every Window carries a
    partition spec and none is keyed by the physical partition."""
    from typesense_spark.search.batch import batch_search

    qs = [("a", "import return"), ("b", "merge0"), ("c", "class")]
    phys = _plan(batch_search(built_index, qs, fields=("content",), k=5))
    _assert_no_global_window(phys)
    assert "SPARK_PARTITION_ID" not in phys.upper(), phys


def test_engine_deepening_one_probe_job(built_index, monkeypatch):
    """r4 VERDICT #8: single-query typo deepening must not spend a
    count job per cost level — the stop level is chosen inside the
    matched plan, so building the result runs no job at all."""
    # PySpark 4: the runtime class is the classic subclass, which
    # OVERRIDES count/collect — patching the public base is a no-op
    from pyspark.sql.classic.dataframe import DataFrame

    from typesense_spark.search import SearchRequest, search
    from typesense_spark.search.engine import _get_term_df, _use_spark_expand

    # warm the legitimate one-time caches (dictionary size + df map)
    _use_spark_expand(built_index, ("content",))
    _get_term_df(built_index, ("content",))

    counts, collects = [], []
    orig_count, orig_collect = DataFrame.count, DataFrame.collect

    def spy_count(self):
        counts.append(1)
        return orig_count(self)

    def spy_collect(self):
        collects.append(1)
        return orig_collect(self)

    monkeypatch.setattr(DataFrame, "count", spy_count)
    monkeypatch.setattr(DataFrame, "collect", spy_collect)
    res = search(
        built_index,
        SearchRequest(q="improt", fields=("content",), num_typos=2,
                      typo_tokens_threshold=5, drop_tokens_threshold=0),
    )
    assert counts == [] and collects == [], "expected no probe job"
    assert orig_collect(res.hits)


# pinned structural-plan census for the dedup scale paths (optimized
# logical plan, Spark 4.1 / this repo's session config). A changed
# count means the plan ACTUALLY drifted (an extra aggregate, join,
# global distinct or window slipped in) — timing drift with these
# green is environmental (the shared box's documented ±30% swings).
# Counts are stable whether or not inputs/intermediates are persisted
# (physical Exchange counts are NOT: cache scans reprint their child
# plans and broadcast picks flip on size estimates — measured).
# window counts are NOT pinned: the input docs' own lineage (the
# assign_doc_ids partitioned row_number) reprints under cache scans —
# instead every window anywhere in the plan must carry a partition
# spec (no single-partition global windows, same smell test as
# test_prefix_expansion_no_global_window).
JACCARD_CENSUS = {"agg": 4, "join": 5, "dedupe": 0}
# r6: minhash signatures fold to ONE wide groupBy(doc) (16 min columns,
# no 16x perm cross join) and band keys assemble map-side from the wide
# row (no per-(doc, band) aggregation) — the only join left is the
# band-bucket self-join
MINHASH_CENSUS = {"agg": 1, "join": 1, "dedupe": 0}


def _logical_census(df) -> dict:
    p = df._jdf.queryExecution().optimizedPlan().toString()
    return {
        "agg": p.count("Aggregate ["),
        "join": p.count("Join "),
        "dedupe": p.count("Deduplicate"),
    }


def _assert_no_global_window(phys: str):
    for line in phys.splitlines():
        if "Window [" in line:
            assert "], [], [" not in line, f"global window found: {line}"


def test_jaccard_plan_census_pinned(spark, built_index):
    """r4 VERDICT #7: dedup_jaccard drifted ~12% clean-to-clean with no
    intended plan change — pin the plan census so any future drift is
    either environmental or fails here. Expected shape (docstring of
    ngram_jaccard_pairs): df agg + sizes agg + grouped pair enumeration
    agg + inter agg, hot-list removal via BROADCAST anti-join (the
    explicit broadcast hint), no cartesian, no global distinct."""
    from typesense_spark.ops.dedup import ngram_jaccard_pairs

    df = ngram_jaccard_pairs(built_index.docs, "content")
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in phys
    assert "BroadcastExchange" in phys, "hot-shingle anti-join must broadcast"
    _assert_no_global_window(phys)
    assert _logical_census(df) == JACCARD_CENSUS, phys


def test_minhash_lsh_plan_census_pinned(spark, built_index):
    """Same pinning for dedup_minhash (drifted 2.67→2.97 s r3→r4):
    signatures are ONE wide per-doc aggregation (r6 — no perm-table
    cross join, no per-(doc, band) aggregation), bands cached, bucket
    join on the cached bands."""
    from typesense_spark.ops.dedup import lsh_candidate_pairs

    df = lsh_candidate_pairs(built_index.docs, "content")
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in phys
    _assert_no_global_window(phys)
    assert _logical_census(df) == MINHASH_CENSUS, phys


def test_term_dict_collected_once_per_index_and_field_set(spark, monkeypatch):
    """The columnar term dictionary (df + max_score) is collected by ONE
    action per (Index, field set) and held on the Index: frequency and
    max_score ranking, typo and prefix specs, single and batch search
    all expand over that one object."""
    from pyspark.sql.classic.dataframe import DataFrame

    from typesense_spark.index import build_index
    from typesense_spark.search import SearchRequest, search
    from typesense_spark.search.batch import batch_search
    from typesense_spark.search.engine import _get_term_df
    from typesense_spark.search.expand import TermDict

    rows = [(i, f"merge{i % 4} title{i}", f"body{i % 3} merge{i % 2}", i) for i in range(12)]
    df = spark.createDataFrame(rows, schema="doc_id long, title string, body string, pts long")
    ix = build_index(spark, df, fields=["title", "body"], id_col="doc_id",
                     num_buckets=2, score_col="pts")
    actions = []
    orig = DataFrame.toArrow

    def spy(self):
        actions.append(1)
        return orig(self)

    monkeypatch.setattr(DataFrame, "toArrow", spy)
    for rank_by in ("frequency", "max_score"):
        for q, typos in (("mrege", 2), ("merg", 0), ("title1 mreg", 1)):
            search(ix, SearchRequest(q=q, fields=("title", "body"), num_typos=typos,
                                     rank_tokens_by=rank_by)).hits.collect()
    batch_search(ix, [("a", "mrege"), ("b", "body")], fields=("body", "title"),
                 num_typos=1).collect()
    assert len(actions) == 1
    td = ix.term_dicts[("body", "title")]
    assert isinstance(td, TermDict) and td.max_score is not None
    assert _get_term_df(ix, ("title", "body")) is td
    assert td["merge0"] == 3 + 6  # df summed over the queried fields

    search(ix, SearchRequest(q="mrege", fields=("title",), num_typos=1)).hits.collect()
    assert len(actions) == 2 and set(ix.term_dicts) == {("body", "title"), ("title",)}


def test_or_drop_tokens_skips_subset_fallbacks_without_jobs(built_index, oracle_index,
                                                           monkeypatch):
    """OR mode, no deepening: every fallback vector of a 3-token query
    draws only on attempt-0 specs (prefix off), so it can neither add a
    doc nor raise a score — none is scored, so search() runs no count
    or collect job (no persisted attempt-0 relation to count), and the
    hits still equal the oracle's."""
    from pyspark.sql.classic.dataframe import DataFrame

    from typesense_spark import oracle
    from typesense_spark.search import SearchRequest, search
    from typesense_spark.search.engine import _get_term_df, _use_spark_expand

    # warm the legitimate one-time caches (dictionary size + dictionary)
    _use_spark_expand(built_index, ("content",))
    _get_term_df(built_index, ("content",))

    counts, collects = [], []
    orig_count, orig_collect = DataFrame.count, DataFrame.collect

    def spy_count(self):
        counts.append(1)
        return orig_count(self)

    def spy_collect(self):
        collects.append(1)
        return orig_collect(self)

    monkeypatch.setattr(DataFrame, "count", spy_count)
    monkeypatch.setattr(DataFrame, "collect", spy_collect)
    res = search(
        built_index,
        SearchRequest(q="zygomorphic xylographer merge42", fields=("content",),
                      num_typos=0, mode="or", prefix_last=False,
                      drop_tokens_threshold=10),
    )
    assert counts == [] and collects == [], "expected no job inside search()"
    tokens = ["zygomorphic", "xylographer", "merge42"]
    assert res.attempts == [tokens]
    got = [(r["doc_id"], r["score_milli"]) for r in orig_collect(res.hits)]
    assert got
    assert got == oracle.search(oracle_index, tokens, prefix_last=False, mode="or", k=10)


def test_or_drop_tokens_moved_prefix_matches_oracle(spark):
    """With prefix_last, a right-drop moves the prefix to a new last
    token: that fallback is not a subset of attempt 0 and must still be
    scored when attempt 0 has fewer than 10 hits — here it adds the
    'rarely' docs — while the left-drop subset vector is skipped."""
    from typesense_spark import oracle
    from typesense_spark.index import build_index
    from typesense_spark.search import SearchRequest, search

    rows = [(1, "rare tok"), (2, "other zzz")]
    rows += [(10 + i, "rarely seen " + "pad " * i) for i in range(12)]
    df = spark.createDataFrame(rows, schema="doc_id long, content string")
    ix = build_index(spark, df, fields=["content"], id_col="doc_id", num_buckets=2)
    res = search(ix, SearchRequest(q="rare other", fields=("content",), num_typos=0,
                                   mode="or", prefix_last=True))
    got = [(r["doc_id"], r["score_milli"]) for r in res.hits.collect()]
    want = oracle.search(oracle.build(rows), ["rare", "other"], prefix_last=True,
                         mode="or", k=10)
    assert got == want
    assert {d for d, _ in got} & set(range(10, 22)), "moved prefix added no doc"
    assert ["rare"] in res.attempts and ["other"] not in res.attempts
