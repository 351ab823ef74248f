"""Feature coverage: synonyms (Q2), facet-value query (Q18),
string-array fields (B5), content_sha invariant (B3), multi-field
search (Q12)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from typesense_spark.index import build_index
from typesense_spark.search import SearchRequest, search
from typesense_spark.search.engine import facet_value_query


def test_synonym_expands_candidates(built_index):
    base = search(
        built_index, SearchRequest(q="import", fields=("content",), num_typos=0)
    )
    syn = search(
        built_index,
        SearchRequest(q="import", fields=("content",), num_typos=0,
                      synonyms={"import": ["return"]}),
    )
    # synonym ORs in the alternate's postings → superset of matches
    assert syn.found >= base.found
    base_ids = {r["doc_id"] for r in base.matched.collect()}
    syn_ids = {r["doc_id"] for r in syn.matched.collect()}
    assert base_ids <= syn_ids
    # docs matching only via the synonym exist in this corpus
    assert syn.found > base.found


def test_facet_value_query(built_index):
    res = search(
        built_index, SearchRequest(q="import", fields=("content",), num_typos=0)
    )
    vals = facet_value_query(built_index, res.matched, "lang", "py")
    rows = {r["facet_value"]: r["highlighted"] for r in vals.collect()}
    assert set(rows) == {"python"}
    # matched-prefix highlight (reference src/collection.cpp:1099-1123):
    # the facet-query-length prefix of the matching token is wrapped
    assert rows["python"] == "<mark>py</mark>thon"
    # fuzzy: 'pythn' (1 typo) still matches
    vals2 = facet_value_query(built_index, res.matched, "lang", "python")
    assert {r["facet_value"] for r in vals2.collect()} == {"python"}


def test_facet_value_query_multi_token_highlight(spark, built_index):
    from pyspark.sql import functions as F

    from typesense_spark.search.engine import facet_value_query

    # synthetic matched set over a multi-token facet value
    docs = spark.createDataFrame(
        [(1, "south africa"), (2, "south america"), (3, "norway")],
        schema="doc_id long, country string",
    )
    class _Ix:  # minimal index shim: facet_value_query only uses .docs
        pass
    ix = _Ix()
    ix.docs = docs
    matched = docs.select("doc_id")
    vals = facet_value_query(ix, matched, "country", "south", num_typos=0)
    rows = {r["facet_value"]: r["highlighted"] for r in vals.collect()}
    assert rows == {
        "south africa": "<mark>south</mark> africa",
        "south america": "<mark>south</mark> america",
    }


def test_array_string_field(spark):
    df = spark.createDataFrame(
        [
            (1, ["red apple", "green pear"]),
            (2, ["blue sky"]),
            (3, ["red wine", "red rose"]),
        ],
        schema="doc_id long, tags array<string>",
    )
    ix = build_index(spark, df, fields=["tags"], id_col="doc_id", num_buckets=4)
    res = search(ix, SearchRequest(q="red", fields=("tags",), num_typos=0))
    assert {r["doc_id"] for r in res.hits.collect()} == {1, 3}
    # tf counts elements jointly (flat-stream pinned semantics)
    from typesense_spark.index.build import decode_postings

    tf = {
        (r["term"], r["doc_id"]): r["tf"]
        for r in decode_postings(ix.postings).collect()
    }
    assert tf[("red", 3)] == 2


def test_content_sha_invariant(built_index):
    rows = built_index.docs.select("content", "content_sha").limit(20).collect()
    for r in rows:
        assert r["content_sha"] == hashlib.sha256(r["content"].encode()).hexdigest()


def test_multi_field_search(spark):
    df = spark.createDataFrame(
        [
            (1, "spark engine internals", "docs guide"),
            (2, "storage engine", "spark tuning"),
            (3, "unrelated text", "nothing here"),
        ],
        schema="doc_id long, title string, body string",
    )
    ix = build_index(spark, df, fields=["title", "body"], id_col="doc_id", num_buckets=4)
    res = search(ix, SearchRequest(q="spark", fields=("title", "body"), num_typos=0))
    ids = {r["doc_id"] for r in res.hits.collect()}
    assert ids == {1, 2}  # matched via either field
    res2 = search(ix, SearchRequest(q="spark engine", fields=("title", "body"), num_typos=0))
    ids2 = {r["doc_id"] for r in res2.hits.collect()}
    assert ids2 == {1, 2}  # AND across tokens, best field per token


def test_doc_attrs_per_field(spark):
    df = spark.createDataFrame(
        [(1, "a b c", "x"), (2, "d", "y z")],
        schema="doc_id long, f1 string, f2 string",
    )
    ix = build_index(spark, df, fields=["f1", "f2"], id_col="doc_id", num_buckets=2)
    dl = {
        (r["field"], r["doc_id"]): r["dl"] for r in ix.doc_attrs.collect()
    }
    assert dl == {("f1", 1): 3, ("f1", 2): 1, ("f2", 1): 1, ("f2", 2): 2}
    assert ix.stats["f1"].n_docs == 2 and ix.stats["f2"].sum_dl == 3


def test_curation_pinned_and_hidden(built_index):
    base = search(
        built_index, SearchRequest(q="import", fields=("content",), num_typos=0, per_page=10)
    )
    base_ids = [r["doc_id"] for r in base.hits.collect()]
    # pin a doc that is NOT organically in the top-10 to position 2,
    # hide the organic #1
    all_ids = {r["doc_id"] for r in built_index.docs.select("doc_id").collect()}
    outsider = max(all_ids - set(base_ids))
    res = search(
        built_index,
        SearchRequest(q="import", fields=("content",), num_typos=0, per_page=10,
                      pinned={outsider: 2}, hidden=(base_ids[0],)),
    )
    got = [(r["rank"], r["doc_id"]) for r in res.hits.orderBy("rank").collect()]
    assert got[1] == (2, outsider)
    assert base_ids[0] not in [d for _, d in got]
    # remaining organic order preserved around the pin
    organic_rest = [d for d in base_ids[1:] if d != outsider]
    spliced = [d for _, d in got if d != outsider]
    assert spliced == organic_rest[: len(spliced)]


def test_batch_search_matches_per_query(built_index):
    from typesense_spark.search.batch import batch_search

    qset = [("a", "import return"), ("b", "merge0"), ("c", "zzznope import")]
    out = batch_search(built_index, qset, fields=("content",), num_typos=0, k=5)
    by_qid = {}
    for r in out.collect():
        by_qid.setdefault(r["qid"], []).append((r["rank"], r["doc_id"], r["score_milli"]))
    for qid, q in qset:
        res = search(
            built_index,
            SearchRequest(q=q, fields=("content",), num_typos=0, per_page=5,
                          drop_tokens_threshold=0),
        )
        want = [(r["rank"], r["doc_id"], r["score_milli"]) for r in res.hits.collect()]
        got = sorted(by_qid.get(qid, []))
        assert got == want, (qid, got, want)


def test_expand_tokens_batch_matches_expand_token(built_index):
    """The batch-level one-plan expansion is token-for-token identical
    to the driver expand_token spec (caps, ranks, prefix min-cost
    merge) — for plain Levenshtein AND the OSA metric."""
    from pyspark.sql import functions as F

    from typesense_spark.oracle import expand_token
    from typesense_spark.search.expand import expand_tokens_batch

    terms_df = built_index.terms.where(F.col("field") == "content")
    term_df = {r["term"]: r["df"] for r in terms_df.collect()}
    specs = [
        ("zygomorphik", False),
        ("import", False),
        ("zygo", True),
        ("retur", True),
        ("import", True),  # same token both prefix-nesses in one batch
    ]
    for dist in ("levenshtein", "osa"):
        got = expand_tokens_batch(terms_df, specs, num_typos=2, distance=dist)
        for tok, pref in specs:
            want = expand_token(tok, term_df, 2, prefix=pref, distance=dist)
            assert got[(tok, pref)] == want, (dist, tok, pref)


def test_batch_search_with_typos_matches_per_query(built_index):
    from typesense_spark.search.batch import batch_search

    qset = [("a", "improt"), ("b", "zygomorphik retrun"), ("c", "merge0")]
    out = batch_search(
        built_index, qset, fields=("content",), num_typos=2, k=5, mode="or"
    )
    by_qid = {}
    for r in out.collect():
        by_qid.setdefault(r["qid"], []).append((r["rank"], r["doc_id"], r["score_milli"]))
    for qid, q in qset:
        res = search(
            built_index,
            SearchRequest(q=q, fields=("content",), num_typos=2, per_page=5,
                          mode="or", drop_tokens_threshold=0),
        )
        want = [(r["rank"], r["doc_id"], r["score_milli"]) for r in res.hits.collect()]
        got = sorted(by_qid.get(qid, []))
        assert got == want, (qid, got, want)


def test_unicode_corpus_end_to_end(spark):
    """Non-ASCII content folds identically at index and query time
    (iconv ASCII//TRANSLIT analogue, reference src/tokenizer.cpp:64-100)."""
    df = spark.createDataFrame(
        [
            (1, "Löwenbräu Müller café"),
            (2, "lowenbrau plain"),
            (3, "nothing relevant"),
        ],
        schema="doc_id long, content string",
    )
    from typesense_spark.index import build_index

    ix = build_index(spark, df, fields=["content"], id_col="doc_id", num_buckets=4)
    terms = {r["term"] for r in ix.terms.collect()}
    assert "lowenbrau" in terms and "cafe" in terms and "muller" in terms
    res = search(ix, SearchRequest(q="löwenbräu", fields=("content",), num_typos=0))
    assert {r["doc_id"] for r in res.hits.collect()} == {1, 2}


def test_non_latin_passthrough_searchable(spark):
    """r3 VERDICT missing #2: CJK/Cyrillic tokens keep their original
    bytes (reference src/tokenizer.cpp:79-81) and are fully searchable;
    case is preserved (the reference lowercases only ASCII)."""
    df = spark.createDataFrame(
        [
            (1, "Привет мир from moscow"),
            (2, "你好 世界 from beijing"),
            (3, "привет lowercase variant"),
            (4, "plain ascii only"),
        ],
        schema="doc_id long, content string",
    )
    from typesense_spark.index import build_index

    ix = build_index(spark, df, fields=["content"], id_col="doc_id", num_buckets=4)
    terms = {r["term"] for r in ix.terms.collect()}
    assert {"Привет", "привет", "мир", "你好", "世界"} <= terms
    # exact search finds the verbatim token; case distinguishes (like
    # the reference's kept-bytes branch — no unicode lowercasing)
    def hits(q, **kw):
        kw.setdefault("num_typos", 0)
        return {
            r["doc_id"]
            for r in search(
                ix, SearchRequest(q=q, fields=("content",), **kw)
            ).hits.collect()
        }
    assert hits("Привет", prefix_last=False) == {1}
    assert hits("привет", prefix_last=False) == {3}
    assert hits("世界", prefix_last=False) == {2}
    # prefix expansion walks non-Latin terms too
    assert hits("你") == {2}
    # typo expansion: one substitution inside a Cyrillic token
    assert hits("Привед", prefix_last=False, num_typos=1) == {1}


def test_query_by_weights_scales_field_scores(spark):
    """Q12: with weights (2,1) the doc score is 2*best(text) + 1*best(src);
    swapping weights must swap the ranking of docs that win on different
    fields."""
    from typesense_spark.index import build_index
    from typesense_spark.search import SearchRequest, search

    rows = [
        (1, "alpha alpha alpha", "beta"),  # strong in f1
        (2, "beta", "alpha alpha alpha"),  # strong in f2 (alpha only in f2)
        (3, "alpha beta", "alpha beta"),
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, f1 string, f2 string")
    ix = build_index(spark, df, fields=["f1", "f2"], id_col="doc_id", num_buckets=2)

    def scores(weights):
        res = search(
            ix,
            SearchRequest(
                q="alpha", fields=("f1", "f2"), num_typos=0,
                drop_tokens_threshold=0, query_by_weights=weights,
            ),
        )
        return {r["doc_id"]: r["score_milli"] for r in res.matched.collect()}

    s_f1 = scores((10, 1))
    s_f2 = scores((1, 10))
    assert set(s_f1) == {1, 2, 3}
    # doc 1 (f1-heavy) beats doc 2 under f1-heavy weights and vice versa
    assert s_f1[1] > s_f1[2] and s_f2[2] > s_f2[1]
    # weighted sum is exact long arithmetic: weight 1 on a single field
    # equals the unweighted path for single-field docs
    un = search(
        ix, SearchRequest(q="alpha", fields=("f1",), num_typos=0, drop_tokens_threshold=0)
    )
    w1 = search(
        ix,
        SearchRequest(
            q="alpha", fields=("f1",), num_typos=0, drop_tokens_threshold=0,
            query_by_weights=(1,),
        ),
    )
    assert {tuple(r) for r in un.matched.collect()} == {
        tuple(r) for r in w1.matched.collect()
    }


def test_request_validation_limits(built_index):
    import pytest

    from typesense_spark.search import SearchRequest, search

    for bad in [
        dict(per_page=251),
        dict(group_limit=100, group_by=("lang",)),
        dict(sort_by=(("a", "asc"), ("b", "asc"), ("c", "asc"), ("d", "asc"))),
        dict(page=0),
    ]:
        with pytest.raises(ValueError):
            search(built_index, SearchRequest(q="import", fields=("content",), **bad))


def test_group_limit_cap_single_and_batch(built_index):
    """group_limit > 99 is rejected with the same error by search() and
    by both batch grouping entry points (the check lives in the group
    ranking they share)."""
    import pytest

    from typesense_spark.search import SearchRequest, search
    from typesense_spark.search.batch import batch_grouped, batch_grouped_curated

    kw = dict(fields=("content",), num_typos=0)
    msg = "group_limit must be <= 99"
    with pytest.raises(ValueError, match=msg):
        search(
            built_index,
            SearchRequest(q="import", group_by=("lang",), group_limit=100, **kw),
        )
    qset = [("a", "import")]
    with pytest.raises(ValueError, match=msg):
        batch_grouped(built_index, qset, ("lang",), group_limit=100, **kw)
    with pytest.raises(ValueError, match=msg):
        batch_grouped_curated(
            built_index, qset, ("lang",), group_limit=100,
            pinned={"a": {1: 1}}, **kw,
        )


def test_array_positions_per_element_at_rest(spark):
    """B5 complete (r2 VERDICT #7): stored array-field positions encode
    (element index, local position) via ELEM_STRIDE — proximity windows
    cannot span an element boundary AND the posting can name WHICH
    element matched (the reference's per-element offset encoding,
    src/index.cpp:590-598 / decode :1977-2017)."""
    from typesense_spark.index import codec
    from typesense_spark.index.build import ELEM_STRIDE, split_elem_pos
    from typesense_spark.search.match import match_score

    df = spark.createDataFrame(
        [(1, ["red wine", "red rose"]), (2, ["red shirt"])],
        schema="doc_id long, tags array<string>",
    )
    ix = build_index(spark, df, fields=["tags"], id_col="doc_id", num_buckets=2)
    pos = {}
    for r in ix.candidate_postings(["red", "rose", "wine"], ["tags"]).collect():
        ids, _tfs, _cons, poss = codec.unpack_block(
            r["ids_bin"], r["tfs_bin"], r["contribs_bin"], r["pos_bin"]
        )
        for d, p in zip(ids, poss):
            pos[(r["term"], int(d))] = [int(x) for x in p]
    # exact per-element decode: red@(0,0) and (1,0); wine@(0,1); rose@(1,1)
    assert [split_elem_pos(p) for p in pos[("red", 1)]] == [(0, 0), (1, 0)]
    assert [split_elem_pos(p) for p in pos[("wine", 1)]] == [(0, 1)]
    assert [split_elem_pos(p) for p in pos[("rose", 1)]] == [(1, 1)]
    assert pos[("red", 1)][1] == ELEM_STRIDE
    # cross-element 'wine rose' can't win a proximity window...
    words_x, _ = match_score([pos[("wine", 1)], pos[("rose", 1)]])
    assert words_x == 1
    # ...but within-element 'red wine' does
    words_in, _ = match_score([[pos[("red", 1)][0]], pos[("wine", 1)]])
    assert words_in == 2


def test_array_highlight_reference_cases(spark):
    """Ported from the reference's ArrayStringFieldHighlight
    (test/collection_test.cpp:647-760 over test/array_text_documents.jsonl):
    per-element snippets sorted by Match score, ties to lower indices."""
    from typesense_spark.search.match import highlight_array

    tags0 = ["the truth", "about forever", "truth about"]
    h = highlight_array(tags0, {"truth", "about"})
    assert h["snippets"] == [
        "<mark>truth</mark> <mark>about</mark>",
        "the <mark>truth</mark>",
        "<mark>about</mark> forever",
    ]
    assert h["indices"] == [2, 0, 1]

    h2 = highlight_array(tags0, {"forever", "truth"})
    assert h2["snippets"] == [
        "the <mark>truth</mark>",
        "about <mark>forever</mark>",
        "<mark>truth</mark> about",
    ]
    assert h2["indices"] == [0, 1, 2]

    # end-to-end over the reference corpus: search + highlighted_hits
    docs = [
        (0, "The Truth About Forever", tags0, 100),
        (1, "Plain Truth", ["plain", "truth", "plain truth"], 40),
        (2, "Temple of the Winds", ["temple", "of", "temple of"], 87),
        (3, "Amazing Spiderman is amazing",
         ["amazing movie", "spiderman", "really fun really"], 90),
    ]
    df = spark.createDataFrame(
        docs, schema="doc_id long, title string, tags array<string>, points long"
    )
    ix = build_index(spark, df, fields=["tags"], id_col="doc_id", num_buckets=2)
    # the reference case passes drop_tokens_threshold=0 (its trailing arg)
    res = search(
        ix,
        SearchRequest(q="truth about", fields=("tags",), num_typos=0,
                      drop_tokens_threshold=0),
    )
    rows = res.highlighted_hits(ix, "tags", {"truth", "about"})
    assert [r["doc_id"] for r in rows] == [0]
    assert rows[0]["highlight"]["indices"] == [2, 0, 1]
    # 'truth' alone matches docs 0 and 1 (reference: ids {"0","1"})
    res2 = search(ix, SearchRequest(q="truth", fields=("tags",), num_typos=0))
    assert {r["doc_id"] for r in res2.hits.collect()} == {0, 1}


def test_export_documents_jsonl_roundtrip(built_index, tmp_path):
    """S4: export writes one JSON document per line (the reference
    export wire format); a filtered export only emits matching docs and
    the content round-trips exactly."""
    import json
    from pathlib import Path

    from typesense_spark.sources.export import export_documents

    out = str(tmp_path / "export")
    exported = export_documents(
        built_index, out, fmt="jsonl", filter_by="lang := py",
        include_fields=("content", "lang"),
    )
    want = {
        r["doc_id"]: r["content"]
        for r in built_index.docs.where("lang = 'py'").collect()
    }
    lines = []
    for p in Path(out).glob("*.json"):
        lines += [json.loads(ln) for ln in p.read_text().splitlines()]
    assert len(lines) == exported.count() == len(want)
    for obj in lines:
        assert set(obj) == {"doc_id", "content", "lang"}
        assert obj["lang"] == "py" and want[obj["doc_id"]] == obj["content"]


def test_typo_tokens_threshold_deepening(built_index):
    """Iterative cost deepening: when close matches satisfy the
    threshold, costlier typo candidates never join the match set; when
    they don't, deepening proceeds to the full expansion (= the
    threshold-disabled result)."""
    # 'impor' cost-1 reaches 'import' (matches many docs) → with a low
    # threshold the cost-2 candidates are never searched
    lo = search(
        built_index,
        SearchRequest(q="impor", fields=("content",), num_typos=2,
                      typo_tokens_threshold=5),
    )
    full = search(
        built_index, SearchRequest(q="impor", fields=("content",), num_typos=2)
    )
    cost1 = search(
        built_index, SearchRequest(q="impor", fields=("content",), num_typos=1)
    )
    assert [tuple(r) for r in lo.hits.collect()] == [
        tuple(r) for r in cost1.hits.collect()
    ]
    # an unreachable threshold deepens all the way → identical to full
    hi = search(
        built_index,
        SearchRequest(q="impor", fields=("content",), num_typos=2,
                      typo_tokens_threshold=10**6),
    )
    assert [tuple(r) for r in hi.hits.collect()] == [
        tuple(r) for r in full.hits.collect()
    ]


def test_typo_threshold_counts_filtered_results(spark):
    """Deepening must count results as the USER sees them (after
    filters): when the cost-1 correction matches plenty of docs overall
    but almost none inside the filter, the engine keeps deepening."""
    from typesense_spark.index import build_index

    rows = [(i, "aab common filler", "en") for i in range(30)]
    rows += [(100 + i, "aacc rare py", "py") for i in range(3)]
    df = spark.createDataFrame(rows, schema="doc_id long, text string, lang string")
    ix = build_index(spark, df, fields=["text"], id_col="doc_id", num_buckets=2)
    res = search(
        ix,
        SearchRequest(
            q="aaa", fields=("text",), num_typos=2, typo_tokens_threshold=5,
            filter_by="lang := py",
        ),
    )
    got = {r["doc_id"] for r in res.hits.collect()}
    assert got == {100, 101, 102}  # cost-2 'aacc' docs found despite 30 cost-1 hits
    # and without a filter the same threshold stops at cost 1
    res2 = search(
        ix,
        SearchRequest(q="aaa", fields=("text",), num_typos=2, typo_tokens_threshold=5),
    )
    got2 = {r["doc_id"] for r in res2.hits.collect()}
    assert got2 and got2.isdisjoint({100, 101, 102})


def test_exclude_fields_projection(built_index):
    """Reference exclude_fields (src/core_api.cpp EXCLUDE_FIELDS):
    bare exclude = every doc column except those; with include_fields
    it subtracts from the include list."""
    from typesense_spark.search import SearchRequest, search

    base = dict(q="import", fields=("content",), num_typos=0)
    r = search(
        built_index,
        SearchRequest(
            **base, include_fields=("repo", "lang"), exclude_fields=("lang",)
        ),
    )
    assert r.hits.columns == ["rank", "doc_id", "score_milli", "repo"]
    r2 = search(built_index, SearchRequest(**base, exclude_fields=("content",)))
    cols = set(r2.hits.columns)
    assert "content" not in cols
    assert {"repo", "path", "commit", "lang"} <= cols
    assert r2.hits.count() > 0


def _batch_vs_engine(index, qset, batch_kw, engine_kw, k=5):
    from typesense_spark.search.batch import batch_search

    out = batch_search(index, qset, k=k, **batch_kw)
    by_qid = {}
    for r in out.collect():
        by_qid.setdefault(r["qid"], []).append(
            (r["rank"], r["doc_id"], r["score_milli"])
        )
    for qid, q in qset:
        res = search(index, SearchRequest(q=q, per_page=k, **engine_kw))
        want = [(r["rank"], r["doc_id"], r["score_milli"]) for r in res.hits.collect()]
        got = sorted(by_qid.get(qid, []))
        assert got == want, (qid, got, want)


def test_batch_search_full_surface_matches_per_query(built_index):
    """Full-surface batch (r3 VERDICT #1): drop-tokens fallback, synonym
    windows, and exclusions run set-oriented, query-identical to
    engine.search."""
    from typesense_spark.search.synonyms import SynonymRule, SynonymStore

    store = SynonymStore([SynonymRule("r1", ("import", "return"), (("def",),))])
    qset = [
        ("a", "import zzznope"),   # drop-tokens fallback → ['import']
        ("b", "import return"),    # synonym window rewrite → ['def']
        ("c", "import -return"),   # exclusion
        ("d", "merge0"),
        ("e", "zzznope zzzmore"),  # unsatisfiable even after drops
        ("f", "import return class zzznope"),  # 4-token drop schedule
    ]
    kw = dict(
        fields=("content",), num_typos=0,
        drop_tokens_threshold=10, synonym_store=store,
    )
    _batch_vs_engine(built_index, qset, kw, kw)


def test_batch_search_full_surface_with_typos_and_synonyms_dict(built_index):
    """Typo expansion + single-token synonym alternates + fallback in
    one batch plan."""
    qset = [
        ("a", "improt"),            # typo → import
        ("b", "import zzznope"),    # fallback
        ("c", "zygomorphik"),       # rare-term typo target
    ]
    kw = dict(
        fields=("content",), num_typos=2,
        drop_tokens_threshold=10, synonyms={"import": ["return"]},
    )
    _batch_vs_engine(built_index, qset, kw, kw)


def test_batch_search_weighted_fields_matches_per_query(spark, corpus_df):
    """query_by_weights in batch mode: per-field weighted best, parity
    with engine.search's weighted scoring."""
    ix = build_index(
        spark, corpus_df, fields=["content", "lang"],
        key_cols=["repo", "path", "commit"], num_buckets=4, block_size=32,
    )
    qset = [("a", "import python"), ("b", "return go"), ("c", "class java")]
    kw = dict(
        fields=("content", "lang"), num_typos=0, mode="or",
        query_by_weights=(2, 1), drop_tokens_threshold=10,
    )
    _batch_vs_engine(ix, qset, kw, kw)


def test_batch_search_per_query_filters_match_engine(built_index):
    """Per-query filter_by in batch mode: distinct filters compile once;
    results equal engine.search with the same filter, query by query."""
    from typesense_spark.search.batch import batch_search

    qset = [("a", "import"), ("b", "import"), ("c", "return"), ("d", "import")]
    filt = {
        "a": "lang := python",
        "b": "lang := go",
        "c": "lang := python",
        # d unfiltered
    }
    out = batch_search(
        built_index, qset, fields=("content",), num_typos=0, k=5, filters=filt
    )
    by_qid = {}
    for r in out.collect():
        by_qid.setdefault(r["qid"], []).append((r["rank"], r["doc_id"], r["score_milli"]))
    for qid, q in qset:
        res = search(
            built_index,
            SearchRequest(q=q, fields=("content",), num_typos=0, per_page=5,
                          drop_tokens_threshold=0, filter_by=filt.get(qid)),
        )
        want = [(r["rank"], r["doc_id"], r["score_milli"]) for r in res.hits.collect()]
        assert sorted(by_qid.get(qid, [])) == want, qid


def test_batch_facet_counts_match_engine(built_index):
    """Batched per-query facets over the FULL matched set — equal to
    engine.search(facet_by=...) query by query."""
    from typesense_spark.search.batch import batch_facet_counts

    qset = [("a", "import"), ("b", "return class"), ("c", "zzznope")]
    out = batch_facet_counts(
        built_index, qset, "lang", fields=("content",), num_typos=0
    )
    by_qid = {}
    for r in out.collect():
        by_qid.setdefault(r["qid"], []).append((r["facet_value"], r["facet_count"]))
    for qid, q in qset:
        res = search(
            built_index,
            SearchRequest(q=q, fields=("content",), num_typos=0,
                          drop_tokens_threshold=0, facet_by=("lang",)),
        )
        want = [
            (r["facet_value"], r["facet_count"])
            for r in res.facets["lang"].collect()
        ]
        got = sorted(by_qid.get(qid, []), key=lambda x: (-x[1], x[0]))
        assert got == want, (qid, got, want)


def test_batch_wildcard_and_exclusion_only_match_engine(built_index):
    """A wildcard qid ('*', or an exclusion-only query such as
    '-import', which parse_query promotes to '*') matches the doc
    universe minus its excludes, scored 0 — in batch_search and
    batch_facet_counts exactly as in engine.search, next to an ordinary
    query in the same batch."""
    from typesense_spark.search.batch import batch_facet_counts

    qset = [("w", "*"), ("x", "-import"), ("y", "* -return"), ("n", "import")]
    kw = dict(fields=("content",), num_typos=0)
    _batch_vs_engine(built_index, qset, kw, kw)
    out = batch_facet_counts(built_index, qset, "lang", **kw)
    by_qid = {}
    for r in out.collect():
        by_qid.setdefault(r["qid"], []).append((r["facet_value"], r["facet_count"]))
    for qid, q in qset:
        res = search(built_index, SearchRequest(q=q, facet_by=("lang",), **kw))
        want = [(r["facet_value"], r["facet_count"]) for r in res.facets["lang"].collect()]
        got = sorted(by_qid.get(qid, []), key=lambda x: (-x[1], x[0]))
        assert want and got == want, (qid, got, want)


@pytest.mark.parametrize(
    "bad",
    [dict(mode="AND"), dict(typo_distance="OSA"), dict(rank_tokens_by="score")],
    ids=["mode", "typo_distance", "rank_tokens_by"],
)
def test_request_enums_rejected(built_index, bad):
    """An unknown mode / typo_distance / rank_tokens_by raises instead
    of silently running a default — on search() and, for the keywords
    it takes, batch_search()."""
    from typesense_spark.search.batch import batch_search

    name = next(iter(bad))
    with pytest.raises(ValueError, match=name):
        search(built_index, SearchRequest(q="import", fields=("content",), **bad))
    if name != "rank_tokens_by":
        with pytest.raises(ValueError, match=name):
            batch_search(built_index, [("a", "import")], fields=("content",), **bad)


def test_batch_typo_deepening_matches_per_query(built_index):
    """typo_tokens_threshold in batch mode: per-vector cost-level stop
    rule, parity with the engine's deepening loop — including the
    stops-early, deepens-fully, and fallback-interplay cases."""
    qset = [
        ("a", "impor"),     # cost-1 correction matches plenty → stops at 1
        ("b", "improt"),    # transposition target
        ("c", "zygomorphik"),  # rare-term typo target
        ("d", "import"),    # exact hit at cost 0
    ]
    kw = dict(
        fields=("content",), num_typos=2, drop_tokens_threshold=0,
        typo_tokens_threshold=5,
    )
    _batch_vs_engine(built_index, qset, kw, kw)
    # unreachable threshold → deepen all the way (== full expansion)
    hi = dict(kw, typo_tokens_threshold=10**6)
    _batch_vs_engine(built_index, qset, hi, hi)
    # deepening + drop-tokens fallback + synonym alternates in ONE plan
    mixed = dict(
        fields=("content",), num_typos=2, drop_tokens_threshold=10,
        typo_tokens_threshold=5, synonyms={"import": ["return"]},
    )
    _batch_vs_engine(
        built_index, [("a", "impor zzznope"), ("b", "import"), ("c", "improt")],
        mixed, mixed,
    )
    # synonym-WINDOW variants bypass deepening (the engine scores them
    # with the full expansion after the attempt loop) and do not merge
    # synonyms-dict alternates — both with the probe active
    from typesense_spark.search.synonyms import SynonymRule, SynonymStore

    store = SynonymStore([SynonymRule("r1", ("import", "return"), (("impor",),))])
    winkw = dict(
        fields=("content",), num_typos=2, drop_tokens_threshold=0,
        typo_tokens_threshold=5, synonym_store=store,
        synonyms={"import": ["class"]},
    )
    _batch_vs_engine(
        built_index, [("a", "import return"), ("b", "impor")], winkw, winkw,
    )


def test_batch_typo_deepening_with_weighted_fields(spark, corpus_df):
    """Deepening + query_by_weights in one batch plan: the per-level
    conditional aggregation must follow the weighted branch (per-field
    best × weight, countDistinct qidx), parity with the engine."""
    ix = build_index(
        spark, corpus_df, fields=["content", "lang"],
        key_cols=["repo", "path", "commit"], num_buckets=4, block_size=32,
    )
    qset = [("a", "impor python"), ("b", "return go"), ("c", "improt")]
    kw = dict(
        fields=("content", "lang"), num_typos=2, mode="or",
        query_by_weights=(2, 1), drop_tokens_threshold=0,
        typo_tokens_threshold=5,
    )
    _batch_vs_engine(ix, qset, kw, kw)


def test_batch_typo_deepening_counts_filtered_results(spark):
    """Batch deepening must count NARROWED results (per-query filters
    applied), like engine._deepen_level: a query whose cost-1 hits
    are outside its filter keeps deepening; the same query without a
    filter stops at cost 1 — in the SAME batch."""
    from typesense_spark.index import build_index
    from typesense_spark.search.batch import batch_search

    rows = [(i, "aab common filler", "en") for i in range(30)]
    rows += [(100 + i, "aacc rare py", "py") for i in range(3)]
    df = spark.createDataFrame(rows, schema="doc_id long, text string, lang string")
    ix = build_index(spark, df, fields=["text"], id_col="doc_id", num_buckets=2)
    qset = [("f", "aaa"), ("u", "aaa")]
    out = batch_search(
        ix, qset, fields=("text",), num_typos=2, k=10,
        typo_tokens_threshold=5, filters={"f": "lang := py"},
        prefix_last=False,
    )
    by_qid = {}
    for r in out.collect():
        by_qid.setdefault(r["qid"], set()).add(r["doc_id"])
    assert by_qid.get("f") == {100, 101, 102}  # deepened to cost 2 under filter
    assert by_qid.get("u") and by_qid["u"].isdisjoint({100, 101, 102})
    for qid, filt in (("f", "lang := py"), ("u", None)):
        res = search(
            ix,
            SearchRequest(
                q="aaa", fields=("text",), num_typos=2, per_page=10,
                typo_tokens_threshold=5, filter_by=filt, prefix_last=False,
                drop_tokens_threshold=0,
            ),
        )
        want = {r["doc_id"] for r in res.hits.collect()}
        assert by_qid.get(qid, set()) == want, qid


def test_batch_grouped_matches_engine(built_index):
    """Batched per-query grouped top-k: within-group members and
    group ordering equal engine.search(group_by=...), query by query."""
    from typesense_spark.search.batch import batch_grouped

    qset = [("a", "import"), ("b", "return class")]
    out = batch_grouped(
        built_index, qset, ("lang",), group_limit=2, top_groups=3,
        fields=("content",), num_typos=0,
    )
    got = {}
    for r in out.collect():
        got.setdefault(r["qid"], {}).setdefault(r["group_pos"], []).append(
            (r["group_rank"], r["doc_id"], r["score_milli"], r["lang"])
        )
    for qid, q in qset:
        res = search(
            built_index,
            SearchRequest(q=q, fields=("content",), num_typos=0,
                          drop_tokens_threshold=0, group_by=("lang",),
                          group_limit=2),
        )
        rows = res.grouped.collect()
        groups = {}
        for r in rows:
            groups.setdefault(r["lang"], []).append(
                (r["group_rank"], r["doc_id"], r["score_milli"], r["lang"])
            )
        # order groups by their top hit, take top 3
        ordered = sorted(
            groups.values(),
            key=lambda ms: (-min(ms)[2], -min(ms)[1]),
        )[:3]
        want = {i + 1: sorted(ms) for i, ms in enumerate(ordered)}
        g = {pos: sorted(ms) for pos, ms in got.get(qid, {}).items()}
        assert g == want, (qid, g, want)


def test_batch_search_chunked_matches_unchunked(built_index):
    """r4 VERDICT #2: the bounded-state chunked batch is row-identical
    to the single mega-plan (per-qid independence)."""
    from typesense_spark.search.batch import batch_search, batch_search_chunked

    qset = [
        ("q0", "import return"),
        ("q1", "merge0"),
        ("q2", "improt"),
        ("q3", "zzznope import"),
        ("q4", "return"),
    ]
    kw = dict(fields=("content",), num_typos=1, k=5)
    want = sorted(tuple(r) for r in batch_search(built_index, qset, **kw).collect())
    got = []
    for chunk in batch_search_chunked(built_index, qset, chunk_queries=2, **kw):
        got.extend(tuple(r) for r in chunk.collect())
    assert sorted(got) == want


def test_batch_search_chunked_filters_match_unchunked(built_index):
    """A filters dict over the whole log goes to every chunk; entries
    for qids outside a chunk are ignored, so the chunked result equals
    the unchunked one (the last chunk is a one-query batch)."""
    from typesense_spark.search.batch import batch_search, batch_search_chunked

    qset = [
        ("q0", "import"),
        ("q1", "return"),
        ("q2", "import return"),
        ("q3", "merge0"),
        ("q4", "import"),
    ]
    filt = {"q0": "lang := python", "q2": "lang := go", "q4": "lang := go"}
    kw = dict(fields=("content",), num_typos=0, k=5, filters=filt)
    want = sorted(tuple(r) for r in batch_search(built_index, qset, **kw).collect())
    got = []
    for chunk in batch_search_chunked(built_index, qset, chunk_queries=2, **kw):
        got.extend(tuple(r) for r in chunk.collect())
    assert want and sorted(got) == want
