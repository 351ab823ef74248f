"""Iceberg-shaped snapshot layer: versioned manifests over immutable
table directories, an atomic HEAD pointer, and time travel.

The north star calls the source relation "the Iceberg repo table"; this
module gives the INDEX side the same table-format contract the way
Iceberg gives it to data lakes (iceberg.apache.org spec, re-expressed
minimally — no external library in this container):

- **immutable data**: every commit writes NEW directories under
  ``data/<table>/v<N>/``; nothing is rewritten in place;
- **manifests**: ``snapshots/v<N>.json`` maps logical table names to
  their data directories, with per-table row counts collected DURING
  the write (Observation) and the parent version — unchanged tables
  INHERIT the parent's directories (copy-on-write at table
  granularity; postings groups are registered as separate tables, so
  an incremental delete commits only its affected groups);
- **atomic pointer swap**: ``HEAD`` is replaced via ``os.replace``
  (POSIX-atomic). Readers resolve HEAD → manifest → directories; a
  crashed commit leaves data+manifest orphans but never a torn HEAD —
  exactly Iceberg's catalog-pointer contract. (On an object store the
  pointer swap belongs in a catalog service; this file-based pointer
  is the single-filesystem analogue.)
- **time travel**: ``load_index(spark, root, version=K)`` reads any
  retained version; ``history(root)`` lists the lineage.

Scale: manifests hold one entry per table (dozens), not per file —
listing and planning stay O(tables) on the driver; the data itself is
parquet read by executors as usual.

An index snapshot's ``meta`` is :meth:`Index.meta` — the Index's one
build record beside its corpus stats — plus ``n_groups``. Loads, deletes,
stream appends and compaction read their parameters from it; a
parameter a caller passes is a check against it.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

HEAD_FILE = "HEAD"
SNAP_DIR = "snapshots"
DATA_DIR = "data"


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(root, SNAP_DIR, f"v{version:06d}.json")


def head_version(root: str) -> int | None:
    try:
        with open(os.path.join(root, HEAD_FILE)) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return None


def read_manifest(root: str, version: int | None = None) -> dict:
    v = head_version(root) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no snapshots at {root}")
    with open(_manifest_path(root, v)) as f:
        return json.load(f)


def history(root: str) -> list[dict]:
    """Snapshot lineage, oldest first: [{version, parent, op, ...}]."""
    snap_dir = os.path.join(root, SNAP_DIR)
    if not os.path.isdir(snap_dir):
        return []
    out = []
    for name in sorted(os.listdir(snap_dir)):
        if name.endswith(".json"):
            with open(os.path.join(snap_dir, name)) as f:
                m = json.load(f)
            out.append(
                {k: m[k] for k in ("version", "parent", "op", "created_utc")}
                | {"tables": sorted(m["tables"])}
            )
    return out


def _clean_orphans(root: str, version: int) -> None:
    """Crashed-commit recovery: HEAD advances only after a complete
    commit, so any ``data/<table>/v<version>`` directory or
    ``snapshots/v<version>.json`` at version = HEAD+1 is unreachable
    debris from an attempt that died before the pointer swap. Removing
    it here makes a retried commit (e.g. a replayed foreachBatch)
    succeed instead of wedging forever on mode('errorifexists')."""
    import shutil

    mpath = _manifest_path(root, version)
    if os.path.exists(mpath):
        os.remove(mpath)
    ddir = os.path.join(root, DATA_DIR)
    if os.path.isdir(ddir):
        vtag = f"v{version:06d}"
        for tname in os.listdir(ddir):
            p = os.path.join(ddir, tname, vtag)
            if os.path.isdir(p):
                shutil.rmtree(p)


def commit(
    root: str,
    tables: dict[str, DataFrame],
    op: str,
    meta: dict | None = None,
    drop_prefixes: tuple[str, ...] = (),
) -> int:
    """Write ``tables`` as a new snapshot; unchanged tables inherit the
    parent's data directories. Returns the new version number.

    Each DataFrame is written to a fresh immutable directory; row
    counts ride the writes (Observation — no read-back pass). The new
    manifest is fsynced before HEAD swings, so a reader can never
    resolve a version without its manifest.

    Concurrency contract: SINGLE WRITER (like Iceberg's table-level
    commit lock; the CAS catalog swap belongs in a catalog service,
    not a filesystem). An accidental second writer fails LOUDLY
    instead of corrupting state: the manifest is created with
    O_CREAT|O_EXCL (the loser of a version race gets FileExistsError)
    and HEAD is re-checked against the parent immediately before the
    swap. Crashed attempts are cleaned up on the next commit
    (:func:`_clean_orphans`), so a retry never wedges on the
    immutable-directory guard.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    parent = head_version(root)
    version = (parent or 0) + 1
    parent_tables: dict[str, dict] = (
        read_manifest(root, parent)["tables"] if parent is not None else {}
    )

    os.makedirs(os.path.join(root, SNAP_DIR), exist_ok=True)
    _clean_orphans(root, version)
    # inherit, then overwrite; drop_prefixes retires whole logical
    # tables from the new version (e.g. compaction folds stream
    # appendices into a fresh base and drops the per-batch tables —
    # their data dirs stay on disk for older versions' time travel)
    entries: dict[str, dict] = {
        n: e
        for n, e in parent_tables.items()
        if not any(n.startswith(p) for p in drop_prefixes)
    }
    for name, df in tables.items():
        rel = os.path.join(DATA_DIR, name.replace("/", "__"), f"v{version:06d}")
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "errorifexists"  # immutability: a version dir is never rewritten
        ).parquet(os.path.join(root, rel))
        entries[name] = {"path": rel, "rows": int(obs.get["rows"])}

    manifest = {
        "version": version,
        "parent": parent,
        "op": op,
        "created_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "tables": entries,
        "meta": meta or {},
    }
    mpath = _manifest_path(root, version)
    fd = os.open(mpath, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
    with os.fdopen(fd, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    if head_version(root) != parent:
        # a concurrent writer swung HEAD since we read it — abandon our
        # manifest (it cites a stale parent) and fail the commit
        os.remove(mpath)
        raise RuntimeError(
            f"concurrent snapshot commit detected at {root}: HEAD moved "
            f"past parent {parent} — snapshots require a single writer"
        )
    tmp = os.path.join(root, HEAD_FILE + ".tmp")
    with open(tmp, "w") as f:
        f.write(str(version))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(root, HEAD_FILE))  # the atomic swap
    return version


def load_tables(
    spark: SparkSession, root: str, version: int | None = None
) -> dict[str, DataFrame]:
    m = read_manifest(root, version)
    return {
        name: spark.read.parquet(os.path.join(root, e["path"]))
        for name, e in m["tables"].items()
    }


# ------------------------------------------------------- Index integration

POSTINGS_PREFIX = "postings/group="


def commit_index(
    root: str,
    ix,
    op: str = "full_build",
    n_groups: int = 4,
    build_kw: dict | None = None,
    drop_prefixes: tuple[str, ...] = (),
) -> int:
    """Snapshot a built Index: docs/terms/doc_attrs plus postings split
    into ``n_groups`` group tables (term_bucket % n_groups) so later
    incremental commits can inherit untouched groups. The manifest's
    ``meta`` carries the Index's build record, so incremental commits
    repack affected groups with the SAME parameters as the original
    build. ``build_kw`` is a check: a value that disagrees with the
    record raises ValueError naming it."""
    from pyspark.sql import functions as F

    ix.params.check(build_kw or {}, "commit_index build_kw")
    tables: dict[str, DataFrame] = {
        "docs": ix.docs,
        "terms": ix.terms,
        "doc_attrs": ix.doc_attrs,
    }
    for g in range(n_groups):
        tables[f"{POSTINGS_PREFIX}{g}"] = ix.postings.where(
            F.pmod(F.col("term_bucket"), F.lit(n_groups)) == g
        )
    meta = ix.meta() | {"n_groups": n_groups}
    return commit(root, tables, op, meta, drop_prefixes=drop_prefixes)


def load_index(spark: SparkSession, root: str, version: int | None = None):
    """Load the Index at HEAD or at a pinned ``version`` (time travel).

    Multi-part logical tables union by prefix: ``postings/...`` parts
    (checkpoint groups AND streamed batches), ``docs/...`` and
    ``doc_attrs/...`` stream appendices — so a snapshot written by the
    batch build and extended by ``snapshotted_index_stream`` reads as
    one coherent index."""
    from functools import reduce

    from typesense_spark.index.build import Index, parse_meta

    m = read_manifest(root, version)
    params, stats = parse_meta(m["meta"], _manifest_path(root, m["version"]))
    t = load_tables(spark, root, version)

    def _union(base_name: str) -> DataFrame:
        parts = [
            df
            for name, df in t.items()
            if name == base_name or name.startswith(base_name + "/")
        ]
        return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)

    return Index(
        spark=spark,
        docs=_union("docs"),
        doc_attrs=_union("doc_attrs"),
        terms=t["terms"],
        postings=_union("postings"),
        stats=stats,
        params=params,
        out_dir=root,
    )


def delete_docs_versioned(
    spark: SparkSession, root: str, doc_ids: list[int], fields: list[str] | None = None
) -> dict:
    """Copy-on-write delete: a NEW snapshot whose docs/doc_attrs and
    AFFECTED postings groups are rewritten; untouched groups inherit
    the parent's immutable directories — and the parent version remains
    queryable (time travel), unlike the in-place ``maintain.delete_docs``.
    Frozen-stats semantics match maintain (terms/stats unchanged).

    Every repack reads the manifest's build record (fields, packing
    parameters), so a caller can't silently drop a field's postings from
    the rebuilt groups; a caller-supplied ``fields`` is a check against
    it.

    Stream appendices (``docs/stream=*`` … written by
    ``snapshotted_index_stream``) are first-class: every docs/doc_attrs
    table is rewritten with the victim filter, and a stream postings
    table is repacked from its surviving docs iff it actually contains
    a victim — untouched stream batches inherit unchanged."""
    from pyspark.sql import functions as F

    from typesense_spark.index.build import pack_postings, parse_meta, touched_buckets

    m = read_manifest(root)
    meta = m["meta"]
    n_groups = meta["n_groups"]
    params, frozen = parse_meta(meta, _manifest_path(root, m["version"]))
    if fields is not None:
        params.check({"fields": fields}, "delete_docs_versioned")
    t = load_tables(spark, root)
    ids = [int(d) for d in doc_ids]
    victims = t["docs"].where(F.col("doc_id").isin(ids))

    touched = touched_buckets(victims, params.fields, params.num_buckets)
    groups = sorted({b % n_groups for b in touched})

    new_tables: dict[str, DataFrame] = {
        "docs": t["docs"].where(~F.col("doc_id").isin(ids)),
        "doc_attrs": t["doc_attrs"].where(~F.col("doc_id").isin(ids)),
    }

    # base postings: rebuild only the groups a victim's terms touch,
    # from the surviving BASE docs (stream docs live in their own tables)
    base_survivors = new_tables["docs"]
    for g in groups:
        new_tables[f"{POSTINGS_PREFIX}{g}"] = pack_postings(
            spark, base_survivors, t["terms"], frozen, params, (g, n_groups)
        )

    # stream appendices (ADVICE r3: inherited stream tables previously
    # kept deleted docs searchable): a batch containing a victim gets
    # its docs/doc_attrs filtered and its postings repacked from the
    # survivors; victim-free batches inherit unchanged (COW granularity)
    rebuilt_streams = []
    for name in t:
        if not name.startswith("docs/stream="):
            continue
        sid = name.split("=", 1)[1]
        sdocs = t[name]
        if sdocs.where(F.col("doc_id").isin(ids)).limit(1).count() == 0:
            continue  # no victims in this batch — inherit unchanged
        surv = sdocs.where(~F.col("doc_id").isin(ids))
        new_tables[name] = surv
        if f"doc_attrs/stream={sid}" in t:
            new_tables[f"doc_attrs/stream={sid}"] = t[
                f"doc_attrs/stream={sid}"
            ].where(~F.col("doc_id").isin(ids))
        if f"postings/stream={sid}" in t:
            new_tables[f"postings/stream={sid}"] = pack_postings(
                spark, surv, t["terms"], frozen, params
            )
        rebuilt_streams.append(sid)

    v = commit(root, new_tables, op=f"delete {len(ids)} docs", meta=meta)
    return {
        "version": v,
        "deleted": len(ids),
        "rebuilt_groups": groups,
        "rebuilt_streams": rebuilt_streams,
    }
