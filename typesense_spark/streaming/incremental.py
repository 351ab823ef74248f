"""Structured-Streaming incremental index maintenance.

The reference has NO streaming (ingest is synchronous request-scoped
batching, ``/root/reference/src/core_api.cpp:636-780``; SURVEY.md §2.4
"Streaming: none"). This module is the Spark-native extension the
batch engine gets for free: new documents arrive on a stream, each
micro-batch is tokenized/packed with the SAME build code, and appended
as new posting blocks. Query-side merge is unchanged — the engine
already unions blocks per term (salted builds produce multiple block
runs per term anyway), so appended batches are just more runs.

Semantics note (documented trade-off): appended batches are scored
with the corpus statistics (N, avgdl, df) FROZEN at base-build time —
exact BM25 would require rescoring old postings as df drifts. This is
the standard near-real-time search design (segment-style appends +
periodic full rebuild); the periodic rebuild is `checkpointed_build`.

Appends and compaction take their parameters from the base index's one
build record (``Index.params``): a batch packs every field of the
record with the base's ``block_size`` and ``store_positions`` (salting
off — micro-batches are small), and compaction rebuilds with the whole
record. A ``block_size`` or ``content_field`` a caller passes is a
check against the record.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from typesense_spark.index.build import (
    BuildParams, Index, dictionary, pack_postings, with_content_sha,
)


def _append_params(
    params: BuildParams, stream: DataFrame, content_field: str, block_size, what: str
) -> BuildParams:
    """The base record, as a stream batch packs with it: every field of
    the record, no salting. ``content_field`` must be one of the
    record's fields, the stream must carry a column for each, and a
    caller's ``block_size`` must match the base's (ValueError
    otherwise)."""
    if content_field not in params.fields:
        raise ValueError(
            f"{what}: content_field {content_field!r} is not an indexed field "
            f"{list(params.fields)}"
        )
    missing = [f for f in params.fields if f not in stream.columns]
    if missing:
        raise ValueError(f"{what}: the stream has no column {missing[0]!r}, an indexed field")
    if block_size is not None:
        params.check({"block_size": block_size}, what)
    return replace(params, salt_threshold=2**62, n_salts=1)


def incremental_index_stream(
    index: Index,
    new_docs_stream: DataFrame,
    content_field: str,
    out_postings_dir: str,
    checkpoint_dir: str,
    block_size: int | None = None,
):
    """readStream of new docs → appended posting blocks via foreachBatch.

    ``new_docs_stream`` must carry ``doc_id`` (allocated upstream, e.g.
    max existing id + stream offset) and every indexed field. Batches
    pack with ``index``'s build record; ``content_field`` must be one of
    its fields and ``block_size``, if given, must match it (ValueError
    otherwise). Returns the StreamingQuery; caller awaits/processes it.
    """
    spark = index.spark
    params = _append_params(
        index.params, new_docs_stream, content_field, block_size, "incremental_index_stream"
    )

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # FROZEN base stats: df from the base dictionary (new terms get
        # df=1 via pack_postings' left join), N/avgdl from the base build
        packed = pack_postings(spark, batch_df, index.terms, index.stats, params)
        packed.write.mode("append").partitionBy("term_bucket").parquet(
            out_postings_dir
        )

    return (
        new_docs_stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming tumbling-window aggregation with late-data watermark
    (the batch twin is gate.q_events_window; same results on a bounded
    input — tested)."""
    # watermarks need TIMESTAMP (not NTZ); cast once up front
    return (
        events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
                "sum_value_cents"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value_cents",
        )
    )


def stream_dedup(
    docs_stream: DataFrame,
    text_col: str,
    watermark_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop documents whose content hash was
    already seen within the watermark horizon — the streaming twin of
    ops.dedup.exact_duplicates, and the front gate of a streaming
    training-data pipeline. Uses ``dropDuplicatesWithinWatermark`` so
    the state store actually EVICTS hashes older than the horizon
    (plain ``dropDuplicates`` on a non-event-time key keeps state
    forever); an unbounded exact-dedup needs the batch job instead."""
    return (
        docs_stream.withColumn("text_hash", F.md5(F.col(text_col)))
        .withColumn(watermark_col, F.col(watermark_col).cast("timestamp"))
        .withWatermark(watermark_col, watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )


RUNNING_TOTALS_SCHEMA = "event_type string, n_events long, sum_value_cents long"
_STATE_SCHEMA = "n long, s long"


def running_event_totals(events_stream: DataFrame, timeout_ms: int = 0) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per
    event_type RUNNING totals across micro-batches (count + cent-
    quantized sum) — the arbitrary-state pattern windowed aggs can't
    express (state is a running reduction, not a window). Each group's
    state is two longs; emission is one row per updated key per batch."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # floor (not truncate): matches the batch gate's
            # floor(value*100 + 0.5) for negative values too
            cents = np.floor(pdf["value"].to_numpy() * 100 + 0.5).astype("int64")
            s += int(cents.sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"event_type": [key[0]], "n_events": [n], "sum_value_cents": [s]}
        )

    return events_stream.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=RUNNING_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def snapshot_staleness(root: str) -> dict:
    """Measured staleness of a snapshotted index (r3 VERDICT #8): how
    far the frozen-stats approximation has drifted since the base
    build. Signal = appended-docs fraction (streamed rows / base rows),
    read straight from the manifest's per-table row counts — NO Spark
    job. BM25's inputs drift proportionally to this fraction: N and
    avgdl are off by at most the fraction itself, and any term's df is
    off by at most (streamed docs containing it) ≤ fraction·N — so a
    threshold on the fraction bounds the score error directly."""
    from typesense_spark.index import snapshots

    m = snapshots.read_manifest(root)
    base = int(m["tables"]["docs"]["rows"])
    streamed = sum(
        int(e["rows"])
        for name, e in m["tables"].items()
        if name.startswith("docs/stream=")
    )
    frac = streamed / max(base, 1)
    return {
        "base_docs": base,
        "streamed_docs": streamed,
        "appended_fraction": round(frac, 6),
        "version": m["version"],
    }


def compact_snapshots(
    spark, root: str, threshold: float = 0.1, force: bool = False
) -> dict:
    """Periodic-rebuild trigger: when the appended-docs fraction crosses
    ``threshold``, fold base + stream appendices into ONE fresh build
    with RECOMPUTED corpus stats (N/avgdl/df) and commit it as the new
    HEAD, retiring the per-batch stream tables from the manifest (older
    versions keep them — time travel intact). Post-compaction scores
    are EXACTLY a from-scratch build's (tested). Below threshold: no-op,
    returns the measured signal."""
    from typesense_spark.index import build_index, snapshots

    s = snapshot_staleness(root)
    if not force and s["appended_fraction"] < threshold:
        return {**s, "compacted": False}
    ix_old = snapshots.load_index(spark, root)
    ix_new = build_index(spark, ix_old.docs, id_col="doc_id", **ix_old.params.record())
    v = snapshots.commit_index(
        root,
        ix_new,
        op=f"compaction (appended_fraction={s['appended_fraction']})",
        n_groups=snapshots.read_manifest(root)["meta"]["n_groups"],
        drop_prefixes=("docs/stream=", "doc_attrs/stream=", "postings/stream="),
    )
    return {**s, "compacted": True, "new_version": v}


def snapshotted_index_stream(
    root: str,
    new_docs_stream: DataFrame,
    content_field: str,
    checkpoint_dir: str,
    block_size: int | None = None,
):
    """Streaming ingest with Iceberg-style ATOMIC per-batch visibility.

    Each micro-batch commits ONE snapshot version at ``root``
    (index/snapshots.py): its packed posting blocks, docs, and
    doc_attrs land as new immutable tables named by batch id
    (``postings/stream=<id>`` …) and HEAD swings only after the
    batch's data and manifest are durable — a reader always sees a
    complete prefix of the stream, never a torn batch, and every
    earlier version stays queryable (time travel). Naming tables by
    batch id also makes foreachBatch RETRIES idempotent at the
    manifest level: a replayed batch overrides its own table entries
    in the next manifest instead of duplicating postings.

    Frozen-stats semantics as :func:`incremental_index_stream`; the
    base dictionary, stats and build record come from ``root``'s
    snapshot meta; ``content_field`` and ``block_size`` are checks
    against the record, as there. The batch's docs table gets
    ``content_sha`` like every other docs table
    (``build.with_content_sha``).
    """
    from typesense_spark.index import snapshots
    from typesense_spark.index.build import parse_meta

    base_params, _ = parse_meta(snapshots.read_manifest(root)["meta"], root)
    params = _append_params(
        base_params, new_docs_stream, content_field, block_size, "snapshotted_index_stream"
    )

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch_df = with_content_sha(batch_df)
        base = snapshots.load_index(spark, root)
        meta = snapshots.read_manifest(root)["meta"]
        packed = pack_postings(spark, batch_df, base.terms, base.stats, params)
        _, attrs, _ = dictionary(batch_df, params.fields, None)
        snapshots.commit(
            root,
            {
                f"docs/stream={batch_id}": batch_df,
                f"doc_attrs/stream={batch_id}": attrs,
                f"postings/stream={batch_id}": packed,
            },
            op=f"stream batch {batch_id}",
            meta=meta,
        )

    return (
        new_docs_stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
