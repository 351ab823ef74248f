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
