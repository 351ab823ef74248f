"""Iceberg-shaped snapshot layer (index/snapshots.py): immutable
commits, copy-on-write inheritance, atomic HEAD, time travel."""

from typesense_spark.index import snapshots


def test_commit_inheritance_and_history(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("snap_tables"))
    a = spark.range(5).withColumnRenamed("id", "x")
    b = spark.range(3).withColumnRenamed("id", "y")
    v1 = snapshots.commit(root, {"a": a, "b": b}, op="init")
    assert v1 == 1 and snapshots.head_version(root) == 1
    # commit only b: a INHERITS v1's immutable directory
    v2 = snapshots.commit(root, {"b": b.where("y < 2")}, op="shrink b")
    m1, m2 = snapshots.read_manifest(root, 1), snapshots.read_manifest(root, 2)
    assert m2["tables"]["a"]["path"] == m1["tables"]["a"]["path"]
    assert m2["tables"]["b"]["path"] != m1["tables"]["b"]["path"]
    assert m2["tables"]["b"]["rows"] == 2  # Observation count rode the write
    # both versions fully readable (time travel at table level)
    t1 = snapshots.load_tables(spark, root, 1)
    t2 = snapshots.load_tables(spark, root, v2)
    assert t1["b"].count() == 3 and t2["b"].count() == 2
    assert [e["version"] for e in snapshots.history(root)] == [1, 2]


def test_index_snapshot_delete_and_time_travel(spark, corpus_df, tmp_path_factory):
    from typesense_spark.index import build_index
    from typesense_spark.search import SearchRequest, search

    root = str(tmp_path_factory.mktemp("snap_ix"))
    bkw = dict(block_size=32, salt_threshold=100, n_salts=4)
    ix = build_index(
        spark, corpus_df, fields=["content"],
        key_cols=["repo", "path", "commit"], num_buckets=8, **bkw,
    )
    assert snapshots.commit_index(root, ix, n_groups=4, build_kw=bkw) == 1

    req = dict(q="import", fields=("content",), num_typos=0, per_page=20)
    hits1 = [
        (h["doc_id"], h["score_milli"])
        for h in search(snapshots.load_index(spark, root), SearchRequest(**req)).hits.collect()
    ]
    assert hits1
    victim = hits1[0][0]

    out = snapshots.delete_docs_versioned(spark, root, [victim], ["content"])
    assert out["version"] == 2 and out["rebuilt_groups"]

    # HEAD: victim gone, survivors keep their EXACT scores (frozen stats)
    hits2 = [
        (h["doc_id"], h["score_milli"])
        for h in search(snapshots.load_index(spark, root), SearchRequest(**req)).hits.collect()
    ]
    assert all(d != victim for d, _ in hits2)
    expect = [h for h in hits1 if h[0] != victim]
    assert hits2[: len(expect)] == expect

    # time travel: version 1 still returns the victim with its old rank
    hits_old = [
        (h["doc_id"], h["score_milli"])
        for h in search(
            snapshots.load_index(spark, root, version=1), SearchRequest(**req)
        ).hits.collect()
    ]
    assert hits_old == hits1

    # copy-on-write bookkeeping: every rebuilt group has a NEW immutable
    # dir; any untouched group inherits the v1 path verbatim
    m1, m2 = snapshots.read_manifest(root, 1), snapshots.read_manifest(root, 2)
    for g in out["rebuilt_groups"]:
        name = f"{snapshots.POSTINGS_PREFIX}{g}"
        assert m2["tables"][name]["path"] != m1["tables"][name]["path"]
    untouched = [
        n
        for n in m2["tables"]
        if n.startswith(snapshots.POSTINGS_PREFIX)
        and n not in {f"{snapshots.POSTINGS_PREFIX}{g}" for g in out["rebuilt_groups"]}
    ]
    for n in untouched:
        assert m2["tables"][n]["path"] == m1["tables"][n]["path"]


def test_crashed_commit_recovery_and_retry(spark, tmp_path_factory):
    """ADVICE r3: a commit that dies after writing table data (and even
    its manifest) but BEFORE the HEAD swap must not wedge the root —
    the next commit cleans the orphan dirs and succeeds."""
    import json
    import os

    root = str(tmp_path_factory.mktemp("snap_crash"))
    a = spark.range(5).withColumnRenamed("id", "x")
    snapshots.commit(root, {"a": a}, op="init")

    # simulate the crash: v2 data dir + manifest exist, HEAD still at 1
    orphan_dir = os.path.join(root, "data", "a", "v000002")
    a.limit(1).write.parquet(orphan_dir)
    with open(os.path.join(root, "snapshots", "v000002.json"), "w") as f:
        json.dump({"version": 2, "torn": True}, f)
    assert snapshots.head_version(root) == 1

    v2 = snapshots.commit(root, {"a": a.where("x < 3")}, op="retry")
    assert v2 == 2 and snapshots.head_version(root) == 2
    assert snapshots.load_tables(spark, root)["a"].count() == 3
    m2 = snapshots.read_manifest(root, 2)
    assert "torn" not in m2 and m2["op"] == "retry"


def test_versioned_delete_rewrites_stream_tables(spark, built_index, tmp_path):
    """ADVICE r3: deleting a STREAMED doc must rewrite its batch's
    docs/postings tables, not inherit them — the victim disappears from
    HEAD search while time travel still returns it."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from typesense_spark.corpus import CORPUS_SCHEMA, generate_rows
    from typesense_spark.search import SearchRequest, search
    from typesense_spark.streaming import snapshotted_index_stream

    root = str(tmp_path / "sdel_root")
    bkw = dict(block_size=32, salt_threshold=100, n_salts=4)
    snapshots.commit_index(root, built_index, n_groups=2, build_kw=bkw)
    base_max = built_index.docs.agg(F.max("doc_id")).collect()[0][0]
    df = spark.createDataFrame(generate_rows(8, seed=9, start=8000), schema=CORPUS_SCHEMA)
    df = df.withColumn(
        "doc_id",
        (F.lit(base_max + 1) + F.row_number().over(Window.orderBy("path")) - 1).cast("long"),
    )
    src = str(tmp_path / "sdel_src")
    df.write.mode("overwrite").parquet(src)
    q = snapshotted_index_stream(
        root, spark.readStream.schema(df.schema).parquet(src),
        "content", str(tmp_path / "sdel_ckpt"), block_size=32,
    )
    q.awaitTermination(120)
    v_stream = snapshots.head_version(root)

    req = SearchRequest(q="import", fields=("content",), num_typos=0)
    ids_before = {
        r["doc_id"]
        for r in search(snapshots.load_index(spark, root), req).matched.collect()
    }
    streamed_matches = sorted(i for i in ids_before if i > base_max)
    assert streamed_matches, "need a streamed doc matching the query"
    victim = streamed_matches[0]

    out = snapshots.delete_docs_versioned(spark, root, [victim])  # fields from manifest
    assert out["rebuilt_streams"], "stream batch with the victim must be rebuilt"
    ids_after = {
        r["doc_id"]
        for r in search(snapshots.load_index(spark, root), req).matched.collect()
    }
    assert victim not in ids_after
    assert ids_after == ids_before - {victim}
    # time travel: the pre-delete version still has the victim
    ids_tt = {
        r["doc_id"]
        for r in search(snapshots.load_index(spark, root, version=v_stream), req).matched.collect()
    }
    assert victim in ids_tt

    # fields validation: a mismatched field list is refused
    import pytest

    with pytest.raises(ValueError, match="indexed fields"):
        snapshots.delete_docs_versioned(spark, root, [victim], ["content", "lang"])


def test_versioned_delete_array_field(spark, tmp_path_factory):
    """Copy-on-write delete on an index with an array<string> field:
    victims and survivors tokenize through the same entry point as the
    build, so array values repack instead of failing."""
    from typesense_spark.index import build_index
    from typesense_spark.search import SearchRequest, search

    df = spark.createDataFrame(
        [
            (1, ["red apple", "green pear"]),
            (2, ["blue sky"]),
            (3, ["red wine", "red rose"]),
        ],
        schema="doc_id long, tags array<string>",
    )
    root = str(tmp_path_factory.mktemp("snap_array"))
    bkw = dict(block_size=32, salt_threshold=100, n_salts=4)
    ix = build_index(spark, df, fields=["tags"], id_col="doc_id", num_buckets=4, **bkw)
    assert snapshots.commit_index(root, ix, n_groups=2, build_kw=bkw) == 1

    out = snapshots.delete_docs_versioned(spark, root, [3])
    assert out["version"] == 2 and out["rebuilt_groups"]

    def hits(version=None):
        req = SearchRequest(q="red", fields=("tags",), num_typos=0)
        ix_v = snapshots.load_index(spark, root, version=version)
        return {
            (r["doc_id"], r["score_milli"]) for r in search(ix_v, req).hits.collect()
        }

    before, after = hits(1), hits()
    assert {d for d, _ in before} == {1, 3}
    # the survivor keeps its exact score (frozen stats), the victim is gone
    assert after == {h for h in before if h[0] == 1}
