"""Engine vs pure-Python oracle: rank-identical top-k (doc ids AND
quantized BM25 scores) across the retrieval-semantics battery —
the BASELINE.json match-rate metric, golden style mirroring
reference test/collection_test.cpp themes.
"""

import pytest

from typesense_spark import oracle
from typesense_spark.search import SearchRequest, search
from typesense_spark.search.engine import parse_query


def engine_topk(built_index, **kw):
    res = search(built_index, SearchRequest(fields=("content",), **kw))
    return [(r["doc_id"], r["score_milli"]) for r in res.hits.collect()]


def oracle_topk(oracle_index, q, **kw):
    tokens, excludes = parse_query(q)
    return oracle.search(oracle_index, tokens, excludes=excludes, **kw)


BATTERY = [
    # (query, engine kwargs, oracle kwargs)
    ("import", {"num_typos": 0}, {}),                      # hot term (salted path)
    ("zygomorphic", {"num_typos": 0}, {}),                 # planted rare term
    ("parse0 buffer0", {"num_typos": 0}, {}),              # AND
    ("import return class", {"num_typos": 0}, {}),         # 3-way AND, all hot
    ("import -return", {"num_typos": 0}, {}),              # exclusion
    ("zygomorphik", {"num_typos": 2}, {"num_typos": 2}),   # typo cost 1-2
    ("zygo", {"num_typos": 0, "prefix_last": True}, {"prefix_last": True}),  # prefix
    ("import zzznotaterm", {"num_typos": 0}, {}),          # drop-tokens fallback
    ("zzznotaterm import", {"num_typos": 0}, {}),          # d = n left-drop
    ("merge0 index0", {"num_typos": 0, "mode": "or"}, {"mode": "or"}),  # OR
]


@pytest.mark.parametrize("q,ekw,okw", BATTERY, ids=[b[0] for b in BATTERY])
def test_rank_identical_to_oracle(built_index, oracle_index, q, ekw, okw):
    got = engine_topk(built_index, q=q, per_page=10, **ekw)
    want = oracle_topk(oracle_index, q, k=10, **okw)
    assert got == want, f"query {q!r}: {got} != {want}"


@pytest.mark.parametrize("q", ["zygo zygo", "merge1 merge1"])
def test_repeated_token_prefix_on_last_position_only(built_index, oracle_index, q):
    """Prefix applies to the LAST query position only (reference
    src/index.cpp:1697-1702), so a repeated token's earlier copy stays a
    whole-token match: search(), batch_search() and the oracle return
    identical hits."""
    from typesense_spark.search.batch import batch_search

    got = engine_topk(built_index, q=q, num_typos=0, per_page=10)
    want = oracle_topk(oracle_index, q, k=10)
    batch = [
        (r["doc_id"], r["score_milli"])
        for r in batch_search(
            built_index, [("q", q)], fields=("content",), num_typos=0, k=10,
            drop_tokens_threshold=10,
        )
        .orderBy("rank")
        .collect()
    ]
    assert got, q
    assert got == want, f"search {got} != oracle {want}"
    assert batch == want, f"batch_search {batch} != oracle {want}"


def test_prefix_on_by_default(built_index, oracle_index):
    """The reference defaults prefix=true on the last query token
    (src/core_api.cpp:299 — the autocomplete default). The engine's
    SearchRequest must match: 'zygo' with NO prefix argument behaves
    like prefix_last=True, and prefix_last=False switches it off."""
    got_default = engine_topk(built_index, q="zygo", num_typos=0, per_page=10)
    want_on = oracle_topk(oracle_index, "zygo", k=10, prefix_last=True)
    assert got_default == want_on
    assert got_default, "prefix default did not fire (empty result)"
    got_off = engine_topk(
        built_index, q="zygo", num_typos=0, per_page=10, prefix_last=False
    )
    want_off = oracle_topk(oracle_index, "zygo", k=10, prefix_last=False)
    assert got_off == want_off
    assert got_off != got_default, "off-switch did not change the result"


def test_tiebreak_docid_desc(built_index, oracle_index):
    """Reference: equal scores → larger doc_id first
    (test/collection_test.cpp:116, topster.h:254-257)."""
    got = engine_topk(built_index, q="import", num_typos=0, per_page=50)
    for (d1, s1), (d2, s2) in zip(got, got[1:]):
        assert s1 > s2 or (s1 == s2 and d1 > d2)


def test_wand_equals_exhaustive(built_index):
    naive = engine_topk(
        built_index, q="import return merge0", num_typos=0, mode="or", per_page=25
    )
    wand = engine_topk(
        built_index, q="import return merge0", num_typos=0, mode="or",
        per_page=25, use_wand=True,
    )
    assert wand == naive


def test_wand_filtered_equals_exhaustive(built_index):
    """Filtered OR queries prune too (filter-first τ, r2 ADVICE #5):
    WAND under filter_expr / filter_by must equal the exhaustive plan."""
    for fkw in (
        {"filter_expr": "lang = 'python'"},
        {"filter_by": "lang := python"},
        {"filter_expr": "lang IS NOT NULL"},  # keep-all filter
    ):
        naive = engine_topk(
            built_index, q="import return merge0", num_typos=0, mode="or",
            per_page=25, **fkw,
        )
        wand = engine_topk(
            built_index, q="import return merge0", num_typos=0, mode="or",
            per_page=25, use_wand=True, **fkw,
        )
        assert wand == naive, fkw


def test_filter_semijoin(built_index, oracle_index):
    res = search(
        built_index,
        SearchRequest(q="import", fields=("content",), num_typos=0,
                      filter_expr="lang = 'python'", per_page=10),
    )
    got = [(r["doc_id"], r["score_milli"]) for r in res.hits.collect()]
    want = oracle.search(
        oracle_index, ["import"], k=10,
        filter_fn=lambda a: a.get("lang") == "python",
    )
    assert got == want


def test_facets_match_docs_table(built_index):
    res = search(
        built_index,
        SearchRequest(q="import", fields=("content",), num_typos=0,
                      facet_by=("lang",)),
    )
    counts = {r["facet_value"]: r["facet_count"] for r in res.facets["lang"].collect()}
    matched = {r["doc_id"] for r in res.matched.collect()}
    langs = {
        r["doc_id"]: r["lang"] for r in built_index.docs.select("doc_id", "lang").collect()
    }
    expected = {}
    for d in matched:
        expected[langs[d]] = expected.get(langs[d], 0) + 1
    assert counts == expected


def test_grouped_topk_limits(built_index):
    res = search(
        built_index,
        SearchRequest(q="import", fields=("content",), num_typos=0,
                      group_by=("lang",), group_limit=2),
    )
    rows = res.grouped.collect()
    per_group = {}
    for r in rows:
        per_group.setdefault(r["lang"], []).append(r)
    for g, rs in per_group.items():
        assert len(rs) <= 2
        rs.sort(key=lambda r: r["group_rank"])
        scores = [(r["score_milli"], r["doc_id"]) for r in rs]
        assert scores == sorted(scores, key=lambda t: (-t[0], -t[1]))


def test_pagination_slices(built_index):
    full = engine_topk(built_index, q="import", num_typos=0, per_page=15)
    p1 = engine_topk(built_index, q="import", num_typos=0, per_page=5, page=1)
    p2 = engine_topk(built_index, q="import", num_typos=0, per_page=5, page=2)
    p3 = engine_topk(built_index, q="import", num_typos=0, per_page=5, page=3)
    assert p1 + p2 + p3 == full


def test_wildcard_with_sort(built_index):
    res = search(
        built_index,
        SearchRequest(q="*", fields=("content",), filter_expr="lang = 'go'",
                      sort_by=(("path", "asc"),), include_fields=("path", "lang"),
                      per_page=5),
    )
    rows = res.hits.collect()
    assert all(r["lang"] == "go" for r in rows)
    paths = [r["path"] for r in rows]
    assert paths == sorted(paths)


def test_empty_query_result(built_index):
    got = engine_topk(built_index, q="qqqquuuxyzzy", num_typos=0)
    assert got == []
