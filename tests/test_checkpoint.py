"""Checkpoint/resume invariants (north rule): kill & resume produces
content identical to an uninterrupted build; markers carry lineage +
postings/sec metrics."""

import json
import os

import pytest

from typesense_spark.index.build import decode_postings
from typesense_spark.index.checkpoint import checkpointed_build, load_checkpointed


def _content_hash(ix):
    rows = decode_postings(ix.postings).select(
        "field", "term", "doc_id", "tf", "contrib"
    ).collect()
    return sorted(map(tuple, rows))


BUILD_KW = dict(
    fields=["content"],
    key_cols=["repo", "path", "commit"],
    num_buckets=8,
    block_size=32,
    n_groups=4,
)


def test_kill_and_resume_identical(spark, corpus_df, tmp_path):
    full_dir = str(tmp_path / "full")
    ix_full = checkpointed_build(spark, corpus_df, full_dir, **BUILD_KW)

    crash_dir = str(tmp_path / "crash")
    with pytest.raises(RuntimeError, match="injected failure"):
        checkpointed_build(
            spark, corpus_df, crash_dir, fail_after_group=1, **BUILD_KW
        )
    # only groups 0..1 committed
    done = set(os.listdir(os.path.join(crash_dir, "_checkpoints")))
    assert "postings_group_0.json" in done and "postings_group_3.json" not in done

    ix_resumed = checkpointed_build(spark, corpus_df, crash_dir, **BUILD_KW)
    assert _content_hash(ix_resumed) == _content_hash(ix_full)


def test_markers_carry_lineage_and_metrics(spark, corpus_df, tmp_path):
    out = str(tmp_path / "m")
    checkpointed_build(spark, corpus_df, out, **BUILD_KW)
    with open(os.path.join(out, "manifest.json")) as f:
        manifest = json.load(f)
    stages = manifest["stages"]
    assert {"docs", "dict"} <= set(stages)
    groups = [s for s in stages if s.startswith("postings_group_")]
    assert len(groups) == 4
    for g in groups:
        m = stages[g]
        assert m["postings"] > 0
        assert m["postings_per_sec"] > 0
        assert m["lineage"]["fields"] == ["content"]
    assert manifest["total_postings"] == sum(stages[g]["postings"] for g in groups)


def test_load_checkpointed_queryable(spark, corpus_df, tmp_path):
    from typesense_spark.search import SearchRequest, search

    out = str(tmp_path / "q")
    checkpointed_build(spark, corpus_df, out, **BUILD_KW)
    ix = load_checkpointed(spark, out)
    res = search(ix, SearchRequest(q="import", fields=("content",), num_typos=0))
    rows = res.hits.collect()
    assert len(rows) == 10
    assert rows[0]["score_milli"] > 0


def test_load_checkpointed_keeps_block_size(spark, corpus_df, tmp_path):
    """A checkpointed index loads with the block_size it was built with
    (WAND's block-count estimate divides df by it), before and after an
    in-place delete, and its postings carry no commit-group column."""
    from typesense_spark.index.maintain import delete_docs

    out = str(tmp_path / "bs")
    built = checkpointed_build(spark, corpus_df, out, **BUILD_KW)
    assert built.block_size == load_checkpointed(spark, out).block_size == 32
    victim = built.docs.select("doc_id").first()["doc_id"]
    delete_docs(spark, out, [victim], fields=BUILD_KW["fields"])
    ix = load_checkpointed(spark, out)
    assert ix.block_size == 32
    assert "group" not in ix.postings.columns


def test_resume_with_changed_lineage_raises(spark, corpus_df, tmp_path):
    from typesense_spark.index.checkpoint import checkpointed_build

    out = str(tmp_path / "ix_lineage")
    checkpointed_build(
        spark, corpus_df, out, fields=["content"],
        key_cols=["repo", "path", "commit"], n_groups=2, block_size=32,
    )
    import pytest

    with pytest.raises(ValueError, match="different lineage"):
        checkpointed_build(
            spark, corpus_df, out, fields=["content"],
            key_cols=["repo", "path", "commit"], n_groups=2, block_size=64,
        )


def test_assign_doc_ids_rejects_duplicate_keys(spark):
    import pytest
    from pyspark.errors.exceptions.base import PySparkException

    from typesense_spark.index.build import assign_doc_ids

    # r6: the invariant rides the rank window (in-expression
    # raise_error on adjacent equal keys), so it surfaces at the first
    # ACTION over the result as a Spark runtime error, not eagerly as
    # a ValueError — same "not unique" contract
    df = spark.createDataFrame(
        [("r", "p"), ("r", "p"), ("r", "q")], schema="repo string, path string"
    )
    with pytest.raises(PySparkException, match="not unique"):
        assign_doc_ids(df, ["repo", "path"]).collect()
