"""Resumable, checkpointed index build (north rule: "resumable from
per-partition checkpoints with lineage + postings/sec metrics recorded
per stage").

The reference's analogue is its startup rebuild — the index is a pure
function of the doc store (``/root/reference/src/collection_manager.cpp:
153-232``); we exploit the same purity: every stage's output is a
deterministic function of the persisted ``docs`` table, so a killed
build can be resumed by skipping stages whose checkpoint marker exists
— re-running a stage can only reproduce identical content.

Layout under ``out_dir``:

    docs/                         stage 0: corpus + assigned doc_ids
    doc_attrs/  terms/            stage 1: dictionary + lengths
    postings/group=G/             stage 2..: posting blocks, written in
                                  independently-committed bucket groups
    _checkpoints/<stage>.json     marker: lineage + rows + elapsed +
                                  postings/sec
    manifest.json                 final build report

Scale note: groups are slices of the term-bucket space
(``term_bucket % n_groups``), so each group's write is a
partition-pruned subset of the (persisted) packed postings — a crashed
1000-executor job resumes by paying only for the missing groups.

Build parameters: the dictionary stage saves the Index's one build
record (:class:`~typesense_spark.index.build.BuildParams`) in
``stats.json``; every group stage packs with the record read back from
disk (``build.pack_postings``), never with defaults of its own. The
lineage's ``build_kw`` (the kwargs the caller passed) only decides
whether a marker may be resumed.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from typesense_spark.index.build import (
    Index, build_index, pack_postings, read_meta, with_content_sha,
)


def _marker_path(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, "_checkpoints", f"{stage}.json")


def _has_marker(out_dir: str, stage: str) -> bool:
    return os.path.exists(_marker_path(out_dir, stage))


def _write_marker(out_dir: str, stage: str, payload: dict) -> None:
    os.makedirs(os.path.join(out_dir, "_checkpoints"), exist_ok=True)
    with open(_marker_path(out_dir, stage), "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)


def _resumable(out_dir: str, stage: str, lineage: dict, resume: bool) -> bool:
    """A stage is skippable only if its marker exists AND was written
    with the SAME lineage (fields, groups, build kwargs). Silently
    reusing a stage built under different parameters would produce a
    mixed-config index, so a mismatch raises instead (r1 ADVICE)."""
    if not (resume and _has_marker(out_dir, stage)):
        return False
    with open(_marker_path(out_dir, stage)) as f:
        recorded = json.load(f).get("lineage") or {}
    # round-trip through JSON so tuples/lists and int/float unify the
    # same way the recorded side did
    current = json.loads(json.dumps(lineage, sort_keys=True))
    recorded = dict(recorded)
    current = dict(current)
    if current.get("id_col") == "doc_id":
        # id_col='doc_id' means "reuse the ids the docs stage committed"
        # (the maintain rebuild path) — compatible with ANY recorded id
        # assignment, since every later stage reads the committed table
        for k in ("id_col", "key_cols"):
            recorded.pop(k, None)
            current.pop(k, None)
    if recorded != current:
        raise ValueError(
            f"checkpoint stage {stage!r} at {out_dir} was built with a "
            f"different lineage; pass resume=False (or a fresh out_dir) "
            f"to rebuild. recorded={recorded!r} current={current!r}"
        )
    return True


def checkpointed_build(
    spark: SparkSession,
    source_docs: DataFrame,
    out_dir: str,
    fields: list[str],
    key_cols: list[str] | None = None,
    id_col: str | None = None,
    n_groups: int = 4,
    resume: bool = True,
    fail_after_group: int | None = None,
    **build_kw,
) -> Index:
    """Build (or resume building) the index at ``out_dir``.

    ``fail_after_group`` injects a crash after that many postings groups
    (test hook for the kill/resume invariant). Each marker records the
    stage lineage (config + input fingerprint) and throughput.
    """
    os.makedirs(out_dir, exist_ok=True)
    lineage = {
        "fields": fields,
        "key_cols": key_cols,
        "id_col": id_col,
        "n_groups": n_groups,
        "build_kw": {k: v for k, v in sorted(build_kw.items())},
    }

    # ---- stage 0: persist the docs table (with assigned doc_ids) ----
    t0 = time.time()
    if not _resumable(out_dir, "docs", lineage, resume):
        if id_col is None:
            from typesense_spark.index.build import assign_doc_ids

            with_ids = assign_doc_ids(source_docs, key_cols)
        else:
            with_ids = source_docs.withColumn("doc_id", F.col(id_col).cast("long"))
        from pyspark.sql import Observation

        obs = Observation()
        with_content_sha(with_ids).observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, "docs"))
        n_docs = int(obs.get["n"])  # counted DURING the write - no read-back pass
        _write_marker(
            out_dir,
            "docs",
            {
                "stage": "docs",
                "rows": n_docs,
                "elapsed_sec": time.time() - t0,
                "docs_per_sec": n_docs / max(time.time() - t0, 1e-9),
                "lineage": lineage,
            },
        )

    # every later stage derives from the PERSISTED docs table, so a
    # resumed run sees byte-identical input regardless of the source
    docs = spark.read.parquet(os.path.join(out_dir, "docs"))

    # ---- stage 1: dictionary + doc attributes + stats ----
    t1 = time.time()
    if not _resumable(out_dir, "dict", lineage, resume):
        # persist_light: the narrow tf relation is cached, so the stats
        # collect, the two writes, and the marker count below run ONE
        # tokenize pass over the corpus instead of one EACH (measured:
        # the dict stage was ~1/3 of the whole submit-shape build wall)
        ix = build_index(
            spark, docs, fields=fields, id_col="doc_id", persist=False,
            persist_light=True, **build_kw
        )
        ix.terms.write.mode("overwrite").parquet(os.path.join(out_dir, "terms"))
        ix.doc_attrs.write.mode("overwrite").parquet(os.path.join(out_dir, "doc_attrs"))
        ix.save_meta(out_dir)
        _write_marker(
            out_dir,
            "dict",
            {
                "stage": "dict",
                "rows": ix.terms.count(),
                "elapsed_sec": time.time() - t1,
                "lineage": lineage,
            },
        )
        for h in (ix.terms, ix.doc_attrs, ix.stats_partials, ix.docs):
            h.unpersist()

    # later stages ALWAYS use the committed dictionary + stats from disk
    # (FROZEN): a resumed or partially-rebuilt index must score every
    # group with the same constants the committed groups used
    params, frozen_stats = read_meta(out_dir)

    # ---- stage 2..: postings, in independently-committed groups ----
    # each group re-runs only: map-side tokenize (cheap) filtered to its
    # bucket slice BEFORE the shuffle + its slice of the pack shuffle,
    # joined against the ON-DISK dictionary — total shuffle volume
    # across all groups stays 1x, and every group commit is independent
    terms_disk = spark.read.parquet(os.path.join(out_dir, "terms"))

    def _build_group(g: int) -> None:
        stage = f"postings_group_{g}"
        tg = time.time()
        part = pack_postings(spark, docs, terms_disk, frozen_stats, params, (g, n_groups))
        from pyspark.sql import Observation

        gobs = Observation()
        part.observe(
            gobs, F.sum("n_docs").alias("p"), F.count(F.lit(1)).alias("b")
        ).write.mode("overwrite").parquet(
            os.path.join(out_dir, "postings", f"group={g}")
        )
        gdir = os.path.join(out_dir, "postings", f"group={g}")
        agg = gobs.get  # collected DURING the write - no read-back pass
        n_postings = int(agg["p"] or 0)
        n_bytes = sum(
            f.stat().st_size for f in os.scandir(gdir) if f.name.endswith(".parquet")
        )
        elapsed = time.time() - tg
        _write_marker(
            out_dir,
            stage,
            {
                "stage": stage,
                "group": g,
                "blocks": int(agg["b"]),
                "postings": n_postings,
                "bytes": n_bytes,
                "bytes_per_posting": round(n_bytes / max(n_postings, 1), 3),
                "elapsed_sec": elapsed,
                "postings_per_sec": n_postings / max(elapsed, 1e-9),
                "lineage": lineage,
            },
        )

    pending = [
        g
        for g in range(n_groups)
        if not _resumable(out_dir, f"postings_group_{g}", lineage, resume)
    ]
    if fail_after_group is not None:
        # test hook: deterministic injection order requires the
        # sequential loop (group g fails only after 0..g committed)
        for g in pending:
            _build_group(g)
            if g >= fail_after_group:
                raise RuntimeError(f"injected failure after group {g}")
    elif pending:
        # groups commit INDEPENDENTLY, so build them CONCURRENTLY: each
        # thread submits its group's Spark jobs and the scheduler packs
        # the cluster. Sequentially, every group's driver-side commit
        # protocol (parquet commit, marker fsync) is dead air for the
        # executors — the cost that grows with executor count. Group
        # outputs are disjoint directories; markers are per-group files
        # — no shared mutable state across threads.
        from concurrent.futures import ThreadPoolExecutor

        # concurrency scaled to the cluster: ~half the task slots in
        # concurrent groups keeps executors busy without oversubscribing
        # tiny clusters (4 concurrent groups on local[2] thrash)
        dp = spark.sparkContext.defaultParallelism
        workers = min(max(1, min(4, dp // 2)), len(pending))
        with ThreadPoolExecutor(max_workers=workers) as exe:
            # list() re-raises the first group failure, like the loop
            list(exe.map(_build_group, pending))

    # ---- manifest ----
    markers = {}
    for name in sorted(os.listdir(os.path.join(out_dir, "_checkpoints"))):
        with open(os.path.join(out_dir, "_checkpoints", name)) as f:
            markers[name[:-5]] = json.load(f)
    total_postings = sum(
        m.get("postings", 0) for m in markers.values() if m["stage"].startswith("postings")
    )
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(
            {"stages": markers, "total_postings": total_postings, "lineage": lineage},
            f,
            indent=1,
            sort_keys=True,
        )
    return load_checkpointed(spark, out_dir)


def load_checkpointed(spark: SparkSession, out_dir: str) -> Index:
    """:meth:`Index.load` of the checkpoint layout, whose postings
    directory is partitioned by commit group."""
    ix = Index.load(spark, out_dir)
    ix.postings = ix.postings.drop("group")
    return ix
