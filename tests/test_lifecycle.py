"""The on-disk index lifecycle reads one build record: every store
(``Index.save``, the checkpoint directory, the snapshot store) and every
maintenance op (deletes, upserts, stream appends, compaction) keeps the
parameters the index was built with, and a caller-passed parameter that
disagrees with them raises."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from typesense_spark.corpus import CORPUS_SCHEMA, generate_rows
from typesense_spark.index import build_index, snapshots
from typesense_spark.search import SearchRequest, search

# a non-default value for every record field
RECORD = dict(
    fields=["content", "path"],
    num_buckets=8,
    block_size=32,
    salt_threshold=100,
    n_salts=4,
    store_positions=False,
    score_col="stars",
)
KEY_COLS = ["repo", "path", "commit"]


def _with_stars(df):
    return df.withColumn("stars", F.length("content").cast("long"))


def _max_block(postings) -> int:
    return postings.agg(F.max("n_docs")).first()[0]


def _assert_record(ix) -> None:
    p = ix.params
    got = dict(
        fields=list(p.fields), num_buckets=p.num_buckets, block_size=p.block_size,
        salt_threshold=p.salt_threshold, n_salts=p.n_salts,
        store_positions=p.store_positions, score_col=p.score_col,
    )
    assert got == RECORD
    assert (ix.num_buckets, ix.block_size) == (8, 32)
    assert "max_score" in ix.terms.columns
    assert _max_block(ix.postings) <= 32


def _stream_source(spark, tmp_path, base_ix, n: int, seed: int, start: int, path=None):
    """``n`` fresh docs with ids after the base's, as a parquet stream;
    ``path`` replaces every doc's path."""
    base_max = base_ix.docs.agg(F.max("doc_id")).first()[0]
    df = spark.createDataFrame(generate_rows(n, seed=seed, start=start), schema=CORPUS_SCHEMA)
    if path is not None:
        df = df.withColumn("path", F.lit(path))
    df = _with_stars(df).withColumn(
        "doc_id",
        (F.lit(base_max + 1) + F.row_number().over(Window.orderBy("path")) - 1).cast("long"),
    )
    src = str(tmp_path / f"src_{seed}")
    df.write.mode("overwrite").parquet(src)
    return df, spark.readStream.schema(df.schema).parquet(src)


@pytest.mark.parametrize("store", ["save", "checkpoint", "snapshots"])
def test_build_record_round_trips(spark, corpus_df, tmp_path, store):
    from typesense_spark.index import Index
    from typesense_spark.streaming import (
        compact_snapshots,
        incremental_index_stream,
        snapshotted_index_stream,
    )

    docs = _with_stars(corpus_df)
    if store == "save":
        ix = build_index(spark, docs, key_cols=KEY_COLS, **RECORD)
        _assert_record(ix)
        out = str(tmp_path / "saved")
        ix.save(out)
        loaded = Index.load(spark, out)
        _assert_record(loaded)
        _, stream = _stream_source(spark, tmp_path, loaded, 4, seed=7, start=5000)
        with pytest.raises(ValueError, match="block_size"):
            incremental_index_stream(
                loaded, stream, "content", str(tmp_path / "inc"), str(tmp_path / "ck"),
                block_size=64,
            )
        return

    if store == "checkpoint":
        from typesense_spark.index.checkpoint import checkpointed_build, load_checkpointed
        from typesense_spark.index.maintain import delete_docs, upsert_docs

        out = str(tmp_path / "ckpt")
        _assert_record(
            checkpointed_build(spark, docs, out, key_cols=KEY_COLS, n_groups=2, **RECORD)
        )
        ix = load_checkpointed(spark, out)
        _assert_record(ix)
        victim, old = ix.docs.orderBy("doc_id").head(2)
        delete_docs(spark, out, [victim["doc_id"]], RECORD["fields"])
        _assert_record(load_checkpointed(spark, out))
        new_rows = spark.createDataFrame(
            [(old["repo"], old["path"], old["commit"], old["lang"], "zzupserted term", 7)],
            schema=CORPUS_SCHEMA + ", stars long",
        )
        upsert_docs(spark, out, new_rows, KEY_COLS, RECORD["fields"])
        _assert_record(load_checkpointed(spark, out))
        return

    root = str(tmp_path / "snap")
    ix = build_index(spark, docs, key_cols=KEY_COLS, **RECORD)
    with pytest.raises(ValueError, match="block_size"):
        snapshots.commit_index(str(tmp_path / "snap_bad"), ix, n_groups=2, build_kw={"block_size": 64})
    assert snapshots.commit_index(root, ix, n_groups=2) == 1
    _assert_record(snapshots.load_index(spark, root))
    victim = ix.docs.orderBy("doc_id").first()["doc_id"]
    snapshots.delete_docs_versioned(spark, root, [victim])
    _assert_record(snapshots.load_index(spark, root))

    # every streamed doc shares a base doc's path, so the path field's
    # (frozen) dictionary holds its term
    path = ix.docs.orderBy("doc_id").collect()[1]["path"]
    new_df, stream = _stream_source(spark, tmp_path, ix, 6, seed=9, start=8000, path=path)
    with pytest.raises(ValueError, match="block_size"):
        snapshotted_index_stream(root, stream, "content", str(tmp_path / "ck_bad"), block_size=64)
    with pytest.raises(ValueError, match="title"):
        snapshotted_index_stream(root, stream, "title", str(tmp_path / "ck_bad2"))
    q = snapshotted_index_stream(root, stream, "content", str(tmp_path / "ck"))
    q.awaitTermination(120)
    assert snapshots.head_version(root) == 3
    streamed = snapshots.load_index(spark, root)
    _assert_record(streamed)
    # the batch packs every field of the record, before any delete
    # touches its tables
    tables = snapshots.load_tables(spark, root)
    for t in ("postings/stream=0", "doc_attrs/stream=0"):
        got = {r["field"] for r in tables[t].select("field").distinct().collect()}
        assert got == {"content", "path"}, t
    req = SearchRequest(q=path, fields=("path",), num_typos=0, prefix_last=False, per_page=50)
    hits = {r["doc_id"] for r in search(streamed, req).hits.collect()}
    assert {r["doc_id"] for r in new_df.collect()} <= hits
    out = compact_snapshots(spark, root, force=True)
    assert out["compacted"]
    _assert_record(snapshots.load_index(spark, root))


def test_commit_index_keeps_block_size(spark, built_index, tmp_path):
    """An index built with block_size=32 and committed without build_kw
    loads as 32, and a versioned delete repacks its groups in 32-posting
    blocks (WAND's block estimate divides df by block_size)."""
    root = str(tmp_path / "bs")
    snapshots.commit_index(root, built_index, n_groups=2)
    assert snapshots.load_index(spark, root).block_size == 32

    req = SearchRequest(q="import", fields=("content",), num_typos=0)
    victim = search(built_index, req).hits.first()["doc_id"]
    out = snapshots.delete_docs_versioned(spark, root, [victim])
    assert out["rebuilt_groups"]
    ix = snapshots.load_index(spark, root)
    assert ix.block_size == 32
    tables = snapshots.load_tables(spark, root)
    for g in out["rebuilt_groups"]:
        assert _max_block(tables[f"{snapshots.POSTINGS_PREFIX}{g}"]) <= 32


def test_compaction_keeps_score_col(spark, corpus_df, tmp_path):
    """A snapshot built with score_col, committed without build_kw,
    extended by a stream batch and compacted still serves
    rank_tokens_by='max_score', with the hits of a fresh build."""
    from typesense_spark.streaming import compact_snapshots, snapshotted_index_stream

    kw = dict(fields=["content"], num_buckets=8, block_size=32, score_col="stars")
    ix = build_index(spark, _with_stars(corpus_df), key_cols=KEY_COLS, **kw)
    root = str(tmp_path / "sc")
    snapshots.commit_index(root, ix, n_groups=2)
    new_df, stream = _stream_source(spark, tmp_path, ix, 6, seed=5, start=9000)
    snapshotted_index_stream(root, stream, "content", str(tmp_path / "ck")).awaitTermination(120)
    assert compact_snapshots(spark, root, force=True)["compacted"]

    cols = ["doc_id", "content", "stars"]
    fresh = build_index(
        spark, ix.docs.select(*cols).unionByName(new_df.select(*cols)), id_col="doc_id", **kw
    )
    req = SearchRequest(
        q="imprt", fields=("content",), num_typos=1, rank_tokens_by="max_score", per_page=20
    )
    got = [tuple(r) for r in search(snapshots.load_index(spark, root), req).hits.collect()]
    assert got == [tuple(r) for r in search(fresh, req).hits.collect()] and got


def test_compaction_keeps_content_sha(spark, corpus_df, tmp_path):
    """A snapshot store holding one streamed batch compacts to docs whose
    content_sha is set on every row and is the one content hash rule's."""
    from typesense_spark.streaming import compact_snapshots, snapshotted_index_stream

    ix = build_index(spark, corpus_df.limit(60), fields=["content"], key_cols=KEY_COLS,
                     num_buckets=4)
    root = str(tmp_path / "sha")
    snapshots.commit_index(root, ix, n_groups=2)
    _, stream = _stream_source(spark, tmp_path, ix, 4, seed=3, start=7000)
    snapshotted_index_stream(root, stream, "content", str(tmp_path / "ck")).awaitTermination(120)
    assert compact_snapshots(spark, root, force=True)["compacted"]

    docs = snapshots.load_index(spark, root).docs
    assert docs.count() == 64
    assert docs.where(F.col("content_sha").isNull()).count() == 0
    from typesense_spark.index.build import with_content_sha

    want = with_content_sha(docs).select("doc_id", F.col("content_sha").alias("want"))
    assert docs.join(want, "doc_id").where(F.col("content_sha") != F.col("want")).count() == 0


def test_upsert_docs_array_content(spark, corpus_df, tmp_path):
    """upsert_docs works on an index whose content field is
    array<string>: the upserted doc is searchable and its content_sha
    hashes the space-joined elements, as the build's does."""
    import hashlib

    from typesense_spark.index.checkpoint import checkpointed_build, load_checkpointed
    from typesense_spark.index.maintain import upsert_docs

    docs = corpus_df.limit(40).withColumn("content", F.split("content", "\n"))
    out = str(tmp_path / "arr")
    checkpointed_build(spark, docs, out, fields=["content"], key_cols=KEY_COLS, n_groups=2,
                       num_buckets=4)
    old = load_checkpointed(spark, out).docs.orderBy("doc_id").first()
    new_rows = spark.createDataFrame(
        [(old["repo"], old["path"], old["commit"], old["lang"], ["zzarray upserted", "tail"])],
        schema="repo string, path string, commit string, lang string, content array<string>",
    )
    upsert_docs(spark, out, new_rows, KEY_COLS)
    ix = load_checkpointed(spark, out)
    req = SearchRequest(q="zzarray", fields=("content",), num_typos=0, prefix_last=False)
    assert [r["doc_id"] for r in search(ix, req).hits.collect()] == [old["doc_id"]]
    row = ix.docs.where(F.col("doc_id") == old["doc_id"]).first()
    assert row["content_sha"] == hashlib.sha256(b"zzarray upserted tail").hexdigest()


def test_maintain_doc_attrs_follow_docs(spark, corpus_df, tmp_path):
    """After an in-place delete and upsert, doc_attrs holds exactly the
    dl rows a fresh tokenization of the resulting docs table gives."""
    from typesense_spark.index.build import tokenize_fields
    from typesense_spark.index.checkpoint import checkpointed_build, load_checkpointed
    from typesense_spark.index.maintain import delete_docs, upsert_docs

    fields = ["content", "path"]
    out = str(tmp_path / "attrs")
    checkpointed_build(
        spark, corpus_df, out, fields=fields, key_cols=KEY_COLS, n_groups=2,
        num_buckets=8, block_size=32,
    )

    def assert_attrs_fresh():
        ix = load_checkpointed(spark, out)
        want = (
            tokenize_fields(ix.docs, fields, False)
            .groupBy("field", "doc_id").agg(F.max("dl").alias("dl"))
        )
        got = ix.doc_attrs.select("field", "doc_id", "dl")
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
        return ix

    ix = load_checkpointed(spark, out)
    victims = [r["doc_id"] for r in ix.docs.orderBy("doc_id").limit(3).collect()]
    delete_docs(spark, out, victims, fields)
    ix = assert_attrs_fresh()
    old = ix.docs.orderBy("doc_id").first()
    new_rows = spark.createDataFrame(
        [
            (old["repo"], old["path"], old["commit"], old["lang"], "replaced words here"),
            ("orgX/new", "src/new.py", "f" * 40, "python", "brand new doc doc"),
        ],
        schema=CORPUS_SCHEMA,
    )
    upsert_docs(spark, out, new_rows, KEY_COLS, fields)
    assert_attrs_fresh()


def test_repeated_query_keeps_its_cache(spark, built_index):
    """A query repeated past the size of the persisted-scores registry
    keeps its materialized attempt-0 scores: the handle the current
    search() persisted is still cached, and hits + facets run as many
    jobs as on the 2nd repeat."""
    from pyspark import StorageLevel

    from typesense_spark.search import engine

    for cached in engine._score_cache.values():
        for df in cached:
            df.unpersist()
    engine._score_cache.clear()
    sc = spark.sparkContext
    req = SearchRequest(
        q="import return", fields=("content",), num_typos=0,
        drop_tokens_threshold=10, facet_by=("lang",),
    )
    jobs = {}
    for i in range(1, 13):
        res = search(built_index, req)
        if i in (2, 9, 12):
            handle = engine._score_cache[id(spark)][-1]
            assert handle.storageLevel != StorageLevel.NONE, i
        group = f"repeat-{i}"
        sc.setJobGroup(group, group)
        try:
            res.hits.collect()
            res.facets["lang"].collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[i] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs[9] == jobs[2] and jobs[12] == jobs[2], jobs
