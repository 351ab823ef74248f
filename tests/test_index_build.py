"""Index-build invariants: deterministic doc ids, postings == naive
tokenization (decode round-trip through the compressed blocks),
hot-term salting, partition-count invariance.
"""

import pytest
from pyspark.sql import functions as F

from typesense_spark.index.build import assign_doc_ids, decode_postings
from typesense_spark.tokenizer import tokenize


def test_doc_ids_dense_and_deterministic(built_index, corpus_rows):
    ids = [r["doc_id"] for r in built_index.docs.select("doc_id").collect()]
    assert sorted(ids) == list(range(len(corpus_rows)))
    # rank order == (repo, path, commit) lexicographic order
    rows = built_index.docs.select("doc_id", "repo", "path", "commit").collect()
    by_key = sorted(rows, key=lambda r: (r["repo"], r["path"], r["commit"]))
    assert [r["doc_id"] for r in by_key] == list(range(len(rows)))


def test_doc_id_partition_invariance(spark, corpus_df):
    a = assign_doc_ids(corpus_df, ["repo", "path", "commit"], num_partitions=3)
    b = assign_doc_ids(corpus_df, ["repo", "path", "commit"], num_partitions=17)
    da = {(r["repo"], r["path"], r["commit"]): r["doc_id"] for r in a.collect()}
    db = {(r["repo"], r["path"], r["commit"]): r["doc_id"] for r in b.collect()}
    assert da == db


def test_postings_roundtrip_equals_naive(built_index):
    """Decoded compressed postings == per-doc Python tokenization."""
    docs = {r["doc_id"]: r["content"] for r in built_index.docs.collect()}
    expected = {}
    for doc_id, content in docs.items():
        for term, _pos in tokenize(content):
            expected[(term, doc_id)] = expected.get((term, doc_id), 0) + 1
    decoded = decode_postings(built_index.postings)
    got = {
        (r["term"], r["doc_id"]): r["tf"]
        for r in decoded.select("term", "doc_id", "tf").collect()
    }
    assert got == expected


def test_hot_terms_salted(built_index):
    salts = {
        r["term"]: r["n"]
        for r in built_index.postings.groupBy("term")
        .agg(F.countDistinct("salt").alias("n"))
        .collect()
    }
    # hot keywords exceed the salt threshold → multiple salt groups
    assert salts.get("import", 1) > 1
    assert salts.get("return", 1) > 1
    # rare terms stay unsalted
    assert salts.get("zygomorphic", 1) == 1


def test_blocks_sorted_and_bounded(built_index):
    rows = built_index.postings.select(
        "term", "salt", "block_id", "min_doc_id", "max_doc_id", "n_docs"
    ).collect()
    per_group = {}
    for r in rows:
        assert r["min_doc_id"] <= r["max_doc_id"]
        assert 0 < r["n_docs"] <= 32  # block_size in conftest
        per_group.setdefault((r["term"], r["salt"]), []).append(r)
    for blocks in per_group.values():
        blocks.sort(key=lambda r: r["block_id"])
        for a, b in zip(blocks, blocks[1:]):
            assert a["max_doc_id"] < b["min_doc_id"]


def test_dl_matches_oracle(built_index, oracle_index):
    got = {r["doc_id"]: r["dl"] for r in built_index.doc_attrs.collect()}
    assert got == oracle_index.dl


def test_result_partition_invariance(spark, corpus_df, built_index):
    """Identical index content at different shuffle parallelism."""
    from typesense_spark.index import build_index

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        ix = build_index(
            spark, corpus_df, fields=["content"],
            key_cols=["repo", "path", "commit"], num_buckets=8,
            block_size=32, salt_threshold=100, n_salts=4,
        )
        tf3 = {
            (r["term"], r["doc_id"]): (r["tf"], r["contrib"])
            for r in decode_postings(ix.postings).collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    tf8 = {
        (r["term"], r["doc_id"]): (r["tf"], r["contrib"])
        for r in decode_postings(built_index.postings).collect()
    }
    assert tf3 == tf8


def test_save_load_roundtrip_search_identity(built_index, tmp_path):
    """Index.save → Index.load must preserve search results exactly
    (stats, dictionary incl. optional columns, postings, docs)."""
    from typesense_spark.index.build import Index
    from typesense_spark.search import SearchRequest, search

    out = str(tmp_path / "saved_ix")
    built_index.save(out)
    loaded = Index.load(built_index.spark, out)
    for kw in [
        dict(q="import return", num_typos=0),
        dict(q="retur", num_typos=2),
        dict(q="*", sort_by=(("lang", "asc"),), include_fields=("lang",)),
    ]:
        a = search(built_index, SearchRequest(fields=("content",), **kw)).hits.collect()
        b = search(loaded, SearchRequest(fields=("content",), **kw)).hits.collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b], kw
    assert loaded.stats.keys() == built_index.stats.keys()
    for k in loaded.stats:
        assert (loaded.stats[k].n_docs, loaded.stats[k].sum_dl) == (
            built_index.stats[k].n_docs, built_index.stats[k].sum_dl,
        )


@pytest.mark.parametrize("text_type", ["string", "array<string>"])
def test_null_score_col_rejected_at_build(spark, text_type):
    """A doc with a null ``score_col`` value fails the build with a
    ValueError naming the column and the doc, on both the vectorized
    (scalar) and the JVM (array) stats route — never a silently wrong
    max_score (int64 min, or a null that breaks max_score ranking)."""
    from typesense_spark.index import build_index

    rows = [(1, "alpha beta", 5), (2, "gamma beta", None), (3, "alpha delta", 7)]
    if text_type != "string":
        rows = [(d, t.split(), p) for d, t, p in rows]
    df = spark.createDataFrame(rows, schema=f"doc_id long, text {text_type}, pts long")
    with pytest.raises(ValueError, match=r"score_col 'pts' is null for doc_id 2$"):
        build_index(spark, df, fields=["text"], id_col="doc_id", num_buckets=2,
                    score_col="pts")


def test_batch_ending_in_empty_row_keeps_last_token(spark):
    """An Arrow batch whose last row is empty must not clip the last
    byte of the row before it ("wine" once indexed as "win")."""
    from typesense_spark.index import build_index
    from typesense_spark.search import SearchRequest, search

    df = spark.createDataFrame(
        [(1, "red wine"), (2, "")], schema="doc_id long, body string"
    ).coalesce(1)
    ix = build_index(spark, df, fields=["body"], id_col="doc_id", num_buckets=2)
    assert sorted(r["term"] for r in ix.terms.collect()) == ["red", "wine"]
    res = search(ix, SearchRequest(q="wine", fields=("body",), num_typos=0))
    assert [r["doc_id"] for r in res.hits.collect()] == [1]


def test_multi_field_build_with_all_null_field(spark):
    """A field that is null on every doc (an all-empty batch) builds as
    an empty field instead of crashing the build."""
    from typesense_spark.index import build_index
    from typesense_spark.search import SearchRequest, search

    df = spark.createDataFrame(
        [(1, "red wine", None), (2, "blue sky", None)],
        schema="doc_id long, body string, title string",
    )
    ix = build_index(spark, df, fields=["body", "title"], id_col="doc_id",
                     num_buckets=2)
    assert ix.stats["body"].n_docs == 2
    assert ix.stats["title"].n_docs == 0
    res = search(ix, SearchRequest(q="wine", fields=("body", "title"), num_typos=0))
    assert [r["doc_id"] for r in res.hits.collect()] == [1]


def _route_rows():
    """Docs for the tokenize-route tests as element lists: ASCII and
    non-ASCII (folded and CJK) text, punctuation-only tokens, null and
    empty elements, null and empty arrays. In one partition at 7 rows
    per Arrow batch: batch 0 ends on an empty row, batch 1 is all
    empty, batch 2 is all non-ASCII, the rest mix both."""
    import random

    rng = random.Random(8)
    words = ["red", "Wine", "(free)", "c++", "!!!", "--", "9x", "",
             "café", "Müller", "世界", "straße", "Привет,", "ＫＥＹ", "—"]

    def elem():
        r = rng.random()
        if r < 0.08:
            return None
        return " ".join(rng.choice(words) for _ in range(rng.randint(0, 6)))

    rows = [[elem() for _ in range(rng.randint(1, 3))] for _ in range(6)] + [[""]]
    rows += [None, [], [""], [None, ""], [None], [], None]
    rows += [["世界 café"], ["Привет, мир!"], ["naïve — résumé…", None, "ёлка"],
             ["你好 世界。"], ["Müller"], ["straße straße"], ["ＫＥＹ ｖａｌｕｅ１"]]
    rows += [None if rng.random() < 0.1 else [elem() for _ in range(rng.randint(0, 4))]
             for _ in range(30)]
    return rows


@pytest.mark.parametrize("text_type", ["string", "array<string>"])
def test_tokenize_route_matches_spec(spark, text_type):
    """tokenize_tf and stats_rows — one route for every field type —
    equal a spec built from ``tokenize()`` per element (positions
    ``elem_idx * ELEM_STRIDE + pos`` for arrays; tf and dl joint across
    elements), over batches mixing ASCII and non-ASCII rows and ending
    on empty rows."""
    from typesense_spark.index import codec
    from typesense_spark.index.build import ELEM_STRIDE, stats_rows, tokenize_tf

    rows = _route_rows()
    is_array = text_type != "string"
    if not is_array:
        rows = [None if r is None else " ".join(e or "" for e in r) for r in rows]
    data = [(i, r, 10 * i - 50) for i, r in enumerate(rows)]
    df = spark.createDataFrame(
        data, schema=f"doc_id long, body {text_type}, pts long"
    ).coalesce(1)

    want_tf, want_df, want_cf, want_mtf, want_msc, want_dl = {}, {}, {}, {}, {}, {}
    for doc, r, pts in data:
        elems = (r or []) if is_array else [r]
        per = {}
        for ei, text in enumerate(elems):
            for t, p in tokenize(text):
                per.setdefault(t, []).append(ei * ELEM_STRIDE + p)
        dl = sum(len(ps) for ps in per.values())
        if dl:
            want_dl[doc] = dl
        for t, ps in per.items():
            want_tf[(doc, t)] = (len(ps), dl, ps)
            want_df[t] = want_df.get(t, 0) + 1
            want_cf[t] = want_cf.get(t, 0) + len(ps)
            want_mtf[t] = max(want_mtf.get(t, 0), len(ps))
            want_msc[t] = max(want_msc.get(t, pts), pts)
    assert any(not t.isascii() for t in want_df)  # the spec source ran

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        tf_rows = tokenize_tf(df, "body", True).collect()
        s_rows = stats_rows(df, "body", "pts").collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    got_tf = {}
    for r in tf_rows:
        vals = [int(v) for v in codec.varint_decode(r["pos_bin"])]
        assert vals[0] == r["tf"]
        ps, acc = [], 0
        for i, v in enumerate(vals[1:]):
            acc = v if i == 0 else acc + v
            ps.append(acc)
        assert (r["doc_id"], r["term"]) not in got_tf
        got_tf[(r["doc_id"], r["term"])] = (r["tf"], r["dl"], ps)
    assert got_tf == want_tf

    got_dl = {r["doc_id"]: r["dl"] for r in s_rows if r["term"] is None}
    assert got_dl == want_dl
    assert len(got_dl) == sum(1 for r in s_rows if r["term"] is None)
    got_df, got_cf, got_mtf, got_msc = {}, {}, {}, {}
    for r in s_rows:
        if r["term"] is None:
            continue
        t = r["term"]
        got_df[t] = got_df.get(t, 0) + r["df"]
        got_cf[t] = got_cf.get(t, 0) + r["cf"]
        got_mtf[t] = max(got_mtf.get(t, 0), r["max_tf"])
        got_msc[t] = max(got_msc.get(t, r["max_score"]), r["max_score"])
    assert (got_df, got_cf, got_mtf, got_msc) == (want_df, want_cf, want_mtf, want_msc)


def test_array_field_tokenizes_in_one_arrow_pass(spark):
    """An array field takes the same single mapInArrow pass as a scalar
    one: no per-row pandas mapper, no JVM re-aggregation of TF rows."""
    from typesense_spark.index.build import stats_rows, tokenize_tf

    df = spark.createDataFrame(
        [(1, ["red wine", "red rose"], 5)], schema="doc_id long, tags array<string>, pts long"
    )
    for out in (tokenize_tf(df, "tags", True), stats_rows(df, "tags", "pts")):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan, plan
        assert "MapInPandas" not in plan and "Aggregate" not in plan, plan
