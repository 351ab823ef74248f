"""Distributed inverted-index build — the north-rule write path.

Reference semantics covered (SURVEY.md §2.2): shard routing B1 (here:
hash shuffle + hot-term salting — the reference routes docs
``seq_id % num_memory_shards``, ``/root/reference/src/collection.cpp:290``,
and has NO term-level skew handling because each trie is single-node),
parallel batch index B2 (Spark task parallelism), tokenize+positions
B4/B5 (Arrow-batched numpy, ``src/index.cpp:526-606``), posting insert +
compression B6/B10 (``src/art.cpp:411-433``, ``src/sorted_array.cpp:22-69``
→ delta+varint blocks with per-block max metadata = block-max WAND upper
bounds; the reference's per-term analogue is ``leaf->max_score``,
``src/art.cpp:412``), sort-index B8 (doc_attrs table).

Scale design (10^12-file target):
- doc_id assignment is a two-phase distributed rank (range-partition by
  natural key → partition-local row_number + broadcast offsets); no
  single-partition window.
- tokenize → tf runs in ONE Arrow-batched ``mapInArrow`` route for
  every field type (:func:`tokenize_tf` / :func:`stats_rows`): ASCII
  rows take a byte-LUT numpy tokenizer, rows holding non-ASCII bytes
  the pinned Python tokenizer, and both feed one (doc, term) grouping;
  ``array<string>`` fields flatten into elements on the same route.
- per-(term,doc) BM25 contributions are quantized to int64 at build
  time (see ``scoring``), so query-time scoring is an exact long sum.
- hot terms (df > salt_threshold) are salted into ``n_salts`` subgroups
  before the pack shuffle, bounding any single task's group size.
- postings are written partitioned by ``term_bucket`` so query-time
  candidate terms prune file reads (partition pruning).
- the build is resumable: bucket-groups are written independently, each
  with a checkpoint marker carrying lineage + postings/sec metrics.
"""

from __future__ import annotations

import json
import math
import os
import re
import time
from dataclasses import asdict, dataclass, field as dc_field, fields as dc_fields
from functools import reduce

import numpy as np
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from typesense_spark import scoring
from typesense_spark.index import codec


POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("field", T.StringType()),
        T.StructField("term", T.StringType()),
        T.StructField("salt", T.IntegerType()),
        T.StructField("block_id", T.IntegerType()),
        T.StructField("n_docs", T.IntegerType()),
        T.StructField("min_doc_id", T.LongType()),
        T.StructField("max_doc_id", T.LongType()),
        T.StructField("max_tf", T.LongType()),
        T.StructField("max_contrib", T.LongType()),  # block-max WAND bound
        T.StructField("ids_bin", T.BinaryType()),
        T.StructField("tfs_bin", T.BinaryType()),
        T.StructField("contribs_bin", T.BinaryType()),
        T.StructField("pos_bin", T.BinaryType()),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("field", T.StringType()),
        T.StructField("term", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("tf", T.LongType()),
        T.StructField("contrib", T.LongType()),
    ]
)


@dataclass
class FieldStats:
    n_docs: int
    sum_dl: int

    @property
    def avgdl(self) -> float:
        return self.sum_dl / self.n_docs if self.n_docs else 0.0


@dataclass
class BuildReport:
    n_docs: int = 0
    n_terms: int = 0
    n_postings: int = 0
    elapsed_sec: float = 0.0
    stages: dict = dc_field(default_factory=dict)

    @property
    def docs_per_sec(self) -> float:
        return self.n_docs / self.elapsed_sec if self.elapsed_sec else 0.0

    @property
    def postings_per_sec(self) -> float:
        return self.n_postings / self.elapsed_sec if self.elapsed_sec else 0.0


@dataclass(frozen=True)
class BuildParams:
    """The parameters an index was built with: the one record every
    store writes (``stats.json``, the snapshot manifest's ``meta``) and
    every repack, stream append and rebuild reads back, so a maintained
    index keeps packing the way it was built."""

    fields: tuple[str, ...]
    num_buckets: int
    block_size: int
    salt_threshold: int
    n_salts: int
    store_positions: bool
    score_col: str | None

    def record(self) -> dict:
        """JSON-ready form (also ``build_index``'s keyword arguments)."""
        return asdict(self) | {"fields": list(self.fields)}

    @classmethod
    def from_record(cls, meta: dict, where: str) -> "BuildParams":
        """The record inside a saved ``meta`` dict. A missing key fails,
        naming it and ``where``: nothing is re-defaulted."""
        names = [f.name for f in dc_fields(cls)]
        for k in names:
            if k not in meta:
                raise ValueError(f"{where}: saved build record lacks {k!r}")
        return cls(**{k: meta[k] for k in names} | {"fields": tuple(meta["fields"])})

    def check(self, given: dict, what: str) -> None:
        """Caller-passed build parameters are checks against the record:
        the first one that disagrees raises, naming it (``fields``
        compare as sets)."""
        mine = self.record()
        for k, v in given.items():
            if k not in mine:
                raise ValueError(f"{what}: {k!r} is not a build parameter")
            want = mine[k]
            if k == "fields":
                v, want = sorted(v), sorted(want)
            if v != want:
                raise ValueError(f"{what}: {k} {v!r} != indexed {k} {want!r}")


_KEY_SEP = "\x01"

# B5: array-string positions at rest encode (element, local position) in
# one monotone integer: pos = elem_idx * ELEM_STRIDE + local_pos. The
# reference stores per-element offsets behind an array-index sentinel
# (/root/reference/src/index.cpp:590-598; decode populate_token_positions
# :1977-2017); the stride form keeps its two guarantees — proximity
# windows can never span an element boundary (stride >> WINDOW_SIZE) and
# Match/highlight can name WHICH element matched (split_elem_pos) —
# while staying delta+varint friendly (inter-element gaps are one ~3-byte
# varint). tf/df stay joint across elements (pinned; tested).
ELEM_STRIDE = 1 << 20


def split_elem_pos(pos: int) -> tuple[int, int]:
    """Stored array-field position → (array element index, local pos)."""
    return pos // ELEM_STRIDE, pos % ELEM_STRIDE


def assign_doc_ids(
    df: DataFrame, key_cols: list[str], num_partitions: int = 32
) -> DataFrame:
    """Deterministic dense doc_id = global rank over unique ``key_cols``.

    Scalable two-phase global rank with EXPLICIT range boundaries:
    boundary keys are sampled once and fixed on the driver, so every
    downstream action sees the same bucketing (``repartitionByRange``
    would re-sample per action — its boundaries are not stable across
    the counts pass and the rank pass, which produced duplicate ids).
    The final rank depends only on the total key order, never on where
    the boundaries fall, so the assignment is partition-count invariant
    (tested) — boundaries affect balance, not correctness.
    """
    skey = F.concat_ws(_KEY_SEP, *[F.col(c) for c in key_cols])
    with_key = df.withColumn("_skey", skey)

    sample = [r["_skey"] for r in with_key.select("_skey").sample(False, _sample_fraction(with_key), seed=42).collect()]
    sample.sort()
    n_bounds = max(num_partitions - 1, 0)
    bounds: list[str] = []
    if sample and n_bounds:
        step = len(sample) / (n_bounds + 1)
        bounds = sorted({sample[min(int(step * (i + 1)), len(sample) - 1)] for i in range(n_bounds)})

    bucket = F.lit(0)
    if bounds:
        bucket = F.lit(len(bounds))  # default: last bucket
        for i in range(len(bounds) - 1, -1, -1):
            bucket = F.when(F.col("_skey") < F.lit(bounds[i]), F.lit(i)).otherwise(bucket)
    bucketed = with_key.withColumn("_bkt", bucket)

    # duplicate composite keys would make the row_number tie order (and
    # therefore doc_ids) nondeterministic across recomputations. r6:
    # the check rides the rank window itself (equal ADJACENT keys in
    # the (_bkt, _skey) sort raise in-expression — duplicates are
    # always adjacent because the bucket is a function of the key), so
    # the counts job no longer pays a countDistinct over every key
    # string (~0.6 s/job of the 8-core build's fixed cost). The error
    # now surfaces at the first ACTION over the result instead of
    # inside this call — same invariant, message still says
    # "not unique" (tests pin it).
    stats_rows = (
        bucketed.groupBy("_bkt").agg(F.count("*").alias("cnt")).collect()
    )
    counts = {r["_bkt"]: r["cnt"] for r in stats_rows}
    offsets, acc = {}, 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    off_expr = (
        F.element_at(
            F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]),
            F.col("_bkt"),
        )
        if offsets
        else F.lit(0)
    )
    w = Window.partitionBy("_bkt").orderBy("_skey")
    dup_guard = F.coalesce(
        F.when(
            F.lag("_skey").over(w) == F.col("_skey"),
            F.expr(
                "CAST(raise_error(concat('assign_doc_ids: key_cols are "
                "not unique (duplicate key: ', _skey, ') — doc_id "
                "assignment would be nondeterministic; deduplicate or "
                "add a distinguishing key column')) AS BIGINT)"
            ),
        ),
        F.lit(0),
    )
    return (
        bucketed.withColumn(
            "doc_id",
            (F.row_number().over(w) - 1 + off_expr + dup_guard).cast("long"),
        )
        .drop("_skey", "_bkt")
    )


def _sample_fraction(df: DataFrame, target: int = 4000) -> float:
    n = df.count()
    return min(1.0, target / max(n, 1))


TF_SCHEMA = T.StructType(
    [
        T.StructField("field", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("term", T.StringType()),
        T.StructField("tf", T.LongType()),
        T.StructField("dl", T.LongType()),
        T.StructField("pos_bin", T.BinaryType()),  # varint [count, first, deltas…]
    ]
)


# ASCII tokenize lookup table (the byte-LUT token source): kept chars
# map to their lowercased selves, the two separators (space / newline —
# the pinned split set) both map to 0x20, everything else maps to 0 and
# is deleted in place — exactly the `_FULL_STRIP_RE` + split semantics
# of tokenizer.tokenize's ASCII branch (positions = raw slot index,
# keep_empty: empty slots consume positions but emit no term).
_TOKEN_LUT = np.zeros(256, dtype=np.uint8)
for _c in range(ord("a"), ord("z") + 1):
    _TOKEN_LUT[_c] = _c
for _c in range(ord("A"), ord("Z") + 1):
    _TOKEN_LUT[_c] = _c + 32
for _c in range(ord("0"), ord("9") + 1):
    _TOKEN_LUT[_c] = _c
_TOKEN_LUT[ord(" ")] = 0x20
_TOKEN_LUT[ord("\n")] = 0x20


def _ascii_tokens(offsets, values, drop=None):
    """Byte-LUT token source over ASCII text rows — zero per-row /
    per-token Python loops.

    Pipeline (numpy): byte LUT (lowercase, strip-in-place, unify
    separators) → boolean compaction → separator positions → token slot
    boundaries → Arrow string array built over the compacted byte
    buffer (no copies per token). Rows flagged in ``drop`` (the ones the
    spec fallback tokenizes instead) are blanked first.

    Returns (row, pos, tokens) for every raw slot, empty slots included:
    they consume positions, and :func:`_group_tokens` drops them.
    """
    import pyarrow as pa

    n_rows = offsets.size - 1
    mapped = _TOKEN_LUT[values]
    if drop is not None:
        mapped[np.repeat(drop, np.diff(offsets))] = 0
    # kept bytes per row via one reduceat pass (a full-length bool
    # cumsum measured 4-15x slower); the trailing False gives rows
    # starting at the buffer end (empty rows) a valid start, so no
    # start is clipped onto the last non-empty row's bytes
    keep = np.empty(values.size + 1, dtype=bool)
    np.not_equal(mapped, 0, out=keep[:-1])
    keep[-1] = False
    cleaned = mapped[keep[:-1]]
    st = offsets[:-1]
    kept_per_row = np.add.reduceat(keep, st)
    kept_per_row[st == offsets[1:]] = 0  # reduceat misreads empty segments
    new_off = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(kept_per_row, out=new_off[1:])  # row boundaries, cleaned space

    seps = cleaned == 0x20
    sep_pos = np.flatnonzero(seps)
    # slots per row = separators inside the row span + 1
    slots = (
        np.searchsorted(sep_pos, new_off[1:])
        - np.searchsorted(sep_pos, new_off[:-1])
        + 1
    )
    total_slots = int(slots.sum())
    starts = np.sort(np.concatenate([new_off[:-1], sep_pos + 1]))
    ends = np.sort(np.concatenate([sep_pos, new_off[1:]]))
    first_slot = np.zeros(n_rows, dtype=np.int64)
    np.cumsum(slots[:-1], out=first_slot[1:])
    pos = np.arange(total_slots) - np.repeat(first_slot, slots)

    # tokens are adjacent once separators are dropped → one offsets
    # array over the separator-free buffer IS the token string array
    off_tok = np.zeros(total_slots + 1, dtype=np.int64)
    np.cumsum(ends - starts, out=off_tok[1:])
    tokens = pa.Array.from_buffers(
        pa.utf8(),
        total_slots,
        [None, pa.py_buffer(off_tok.astype(np.int32)), pa.py_buffer(cleaned[~seps])],
    )
    return np.repeat(np.arange(n_rows), slots), pos, tokens


def _spec_tokens(rows, texts):
    """The spec token source: :func:`typesense_spark.tokenizer.tokenize`
    per text (rows holding non-ASCII bytes, whose unicode fold the LUT
    cannot do) → (row, pos, tokens) like :func:`_ascii_tokens`."""
    import pyarrow as pa

    from typesense_spark.tokenizer import tokenize

    row: list[int] = []
    pos: list[int] = []
    terms: list[str] = []
    for r, text in zip(rows, texts):
        for t, p in tokenize(text):
            row.append(r)
            pos.append(p)
            terms.append(t)
    return (
        np.asarray(row, dtype=np.int64),
        np.asarray(pos, dtype=np.int64),
        pa.array(terms, type=pa.utf8()),
    )


def _group_tokens(n_docs, token_doc, pos, tokens):
    """The one (doc, term) grouping every token source feeds: drop
    empty slots → dictionary-encode → stable fused-key argsort-group by
    (doc, term code). Positions arrive ascending per doc, so the stable
    sort keeps them ascending per group.

    Returns None (no tokens) or the group dict the TF batch builder
    (:func:`_tf_batch`) and the partial-stats builder
    (:func:`_stats_batch`) share. Output equivalence with the pinned
    Python tokenizer is asserted end to end (tests/test_index_build.py
    route tests; the engine↔oracle tests in tests/test_search.py index
    through this path and the oracle tokenizes with
    :func:`typesense_spark.tokenizer.tokenize`).
    """
    tok_off = _binary_buffers(tokens)[0]
    nonempty = tok_off[1:] != tok_off[:-1]
    denc = tokens.dictionary_encode()
    codes = denc.indices.to_numpy().astype(np.int64)
    dictionary = denc.dictionary

    doc = token_doc[nonempty]
    code = codes[nonempty]
    pos = pos[nonempty]
    if doc.size == 0:
        return None
    dl = np.bincount(doc, minlength=n_docs)

    # stable single-key argsort on the fused (doc, code) key — ~4x
    # faster than np.lexsort here; stability keeps positions ascending
    n_dict = len(dictionary)
    order = np.argsort(doc * np.int64(max(n_dict, 1)) + code, kind="stable")
    sd, sc, sp = doc[order], code[order], pos[order]
    n = sd.size
    newgrp = np.empty(n, dtype=bool)
    newgrp[0] = True
    newgrp[1:] = (sd[1:] != sd[:-1]) | (sc[1:] != sc[:-1])
    grp_idx = np.empty(n, dtype=np.int64)
    np.cumsum(newgrp, out=grp_idx)
    grp_idx -= 1
    n_groups = int(grp_idx[-1]) + 1
    tf = np.bincount(grp_idx, minlength=n_groups)
    return {
        "dictionary": dictionary,
        "dl": dl,
        "sp": sp,
        "newgrp": newgrp,
        "grp_idx": grp_idx,
        "n_groups": n_groups,
        "tf": tf,
        "grp_doc": sd[newgrp],
        "grp_code": sc[newgrp],
    }


def _column_group(col):
    """One batch's text column → :func:`_group_tokens` group (or None).

    A ``list<string>`` column flattens into its elements, each tokenized
    as a text row and mapped back to its doc row; positions become
    ``elem_idx * ELEM_STRIDE + slot`` (null elements still take an
    element index; null and empty arrays emit nothing). Null texts fill
    to "". Rows holding any byte >= 0x80 take the spec source — for a
    list, the doc's every element, so each doc's tokens come from one
    source in position order; the ASCII rest — the overwhelmingly
    common case — takes the byte-LUT source.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    n_docs = len(col)
    elem_doc = None
    if pa.types.is_list(col.type):
        elem_doc = pc.list_parent_indices(col).to_numpy()
        col = col.flatten()
        if not len(col):
            return None
    if col.null_count:
        col = pc.fill_null(col, "")
    offsets, values = _binary_buffers(col)
    offsets = offsets.astype(np.int64)
    # the per-row localisation only runs when the whole batch has at
    # least one byte >= 0x80 (one cheap reduction otherwise)
    drop = None
    if (values >= 0x80).any():
        hi = np.zeros(values.size + 1, dtype=np.int64)
        np.cumsum(values >= 0x80, out=hi[1:])
        drop = (hi[offsets[1:]] - hi[offsets[:-1]]) > 0
        if elem_doc is not None:
            drop = np.isin(elem_doc, elem_doc[drop])
    row, pos, tokens = _ascii_tokens(offsets, values, drop)
    if drop is not None:
        idx = np.flatnonzero(drop)
        s_row, s_pos, s_tokens = _spec_tokens(idx, col.take(idx).to_pylist())
        row = np.concatenate([row, s_row])
        pos = np.concatenate([pos, s_pos])
        tokens = pa.concat_arrays([tokens, s_tokens])
    if elem_doc is not None:
        # element index = rank within its doc's (contiguous) run
        elem_idx = np.arange(elem_doc.size) - np.searchsorted(elem_doc, elem_doc)
        pos = elem_idx[row] * ELEM_STRIDE + pos
        row = elem_doc[row]
    return _group_tokens(n_docs, row, pos, tokens)


def _const_str_array(s: str, n: int):
    """Arrow StringArray of ``s`` repeated ``n`` times, built from raw
    buffers (no per-row Python strings)."""
    import pyarrow as pa

    b = s.encode()
    return pa.Array.from_buffers(
        pa.utf8(),
        n,
        [
            None,
            pa.py_buffer((np.arange(n + 1, dtype=np.int64) * len(b)).astype(np.int32)),
            pa.py_buffer(b * n),
        ],
    )


def _tf_batch(doc_ids_np, g, store_positions, fld):
    """One batch's group → TF_SCHEMA RecordBatch (tf / dl /
    delta-packed positions via ``varint_encode_offsets``)."""
    import pyarrow as pa

    dictionary, dl = g["dictionary"], g["dl"]
    sp, newgrp, grp_idx = g["sp"], g["newgrp"], g["grp_idx"]
    n_groups, tf = g["n_groups"], g["tf"]
    grp_doc, grp_code = g["grp_doc"], g["grp_code"]
    n = sp.size

    if store_positions:
        # flat stream per group: [tf, p0, deltas...] (deltas computed in
        # int64 first — the cross-group entries go negative before being
        # overwritten with each group's raw first position)
        d64 = np.empty(n, dtype=np.int64)
        d64[0] = sp[0]
        d64[1:] = sp[1:] - sp[:-1]
        d64[newgrp] = sp[newgrp]
        flat = np.empty(n + n_groups, dtype=np.uint64)
        flat[np.flatnonzero(newgrp) + np.arange(n_groups)] = tf.astype(np.uint64)
        flat[np.arange(n) + grp_idx + 1] = d64.astype(np.uint64)
        buf, boffs = codec.varint_encode_offsets(flat, tf + 1)
        pos_arr = pa.Array.from_buffers(
            pa.binary(),
            n_groups,
            [None, pa.py_buffer(boffs.astype(np.int32)), pa.py_buffer(buf)],
        )
    else:
        pos_arr = pa.Array.from_buffers(
            pa.binary(),
            n_groups,
            [None, pa.py_buffer(np.zeros(n_groups + 1, dtype=np.int32)), pa.py_buffer(b"")],
        )

    return pa.RecordBatch.from_arrays(
        [
            _const_str_array(fld, n_groups),
            pa.array(doc_ids_np[grp_doc], type=pa.int64()),
            dictionary.take(pa.array(grp_code, type=pa.int64())),
            pa.array(tf.astype(np.int64), type=pa.int64()),
            pa.array(dl[grp_doc].astype(np.int64), type=pa.int64()),
            pos_arr,
        ],
        names=[f.name for f in TF_SCHEMA.fields],
    )


# partial-stats rows (map-side pre-aggregation, guide §2.3 "aggregate
# before you shuffle"): doc rows carry (doc_id, dl); term rows carry
# per-batch partials (df, cf, max_tf[, max_score]) keyed by term. The
# stats/dictionary pass previously shipped EVERY (doc, term, tf, dl)
# row to the JVM (13.5M rows / 100k docs) and cached them; partials cut
# the Python→JVM transfer and the aggregation input by ~50x.
STATS_SCHEMA = T.StructType(
    [
        T.StructField("field", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("term", T.StringType()),
        T.StructField("dl", T.LongType()),
        T.StructField("df", T.LongType()),
        T.StructField("cf", T.LongType()),
        T.StructField("max_tf", T.LongType()),
        T.StructField("max_score", T.LongType()),
    ]
)


def _stats_batch(doc_ids_np, g, scores_np, fld):
    """One batch's group → (doc rows, term rows) partial-stats
    RecordBatches (see STATS_SCHEMA); ``scores_np`` optional (max_score
    support for score_col indexes)."""
    import pyarrow as pa

    dictionary, dl = g["dictionary"], g["dl"]
    tf, grp_doc, grp_code = g["tf"], g["grp_doc"], g["grp_code"]
    n_dict = len(dictionary)

    out = []
    nz = np.flatnonzero(dl)
    n_doc_rows = nz.size
    null_l = pa.nulls(n_doc_rows, pa.int64())
    out.append(
        pa.RecordBatch.from_arrays(
            [
                _const_str_array(fld, n_doc_rows),
                pa.array(doc_ids_np[nz], type=pa.int64()),
                pa.nulls(n_doc_rows, pa.string()),
                pa.array(dl[nz].astype(np.int64), type=pa.int64()),
                null_l,
                null_l,
                null_l,
                null_l,
            ],
            names=[f.name for f in STATS_SCHEMA.fields],
        )
    )

    df_p = np.bincount(grp_code, minlength=n_dict)
    cf_p = np.bincount(grp_code, weights=tf, minlength=n_dict).astype(np.int64)
    # per-code max over groups: sort groups by code, reduceat at starts
    order = np.argsort(grp_code)
    gc_s = grp_code[order]
    code_new = np.empty(gc_s.size, dtype=bool)
    code_new[0] = True
    code_new[1:] = gc_s[1:] != gc_s[:-1]
    code_starts = np.flatnonzero(code_new)
    present = gc_s[code_starts]
    max_tf_p = np.maximum.reduceat(tf[order], code_starts)
    if scores_np is not None:
        max_sc_p = np.maximum.reduceat(scores_np[grp_doc][order], code_starts)
        sc_arr = pa.array(max_sc_p.astype(np.int64), type=pa.int64())
    else:
        sc_arr = pa.nulls(present.size, pa.int64())
    n_term_rows = present.size
    null_t = pa.nulls(n_term_rows, pa.int64())
    out.append(
        pa.RecordBatch.from_arrays(
            [
                _const_str_array(fld, n_term_rows),
                null_t,
                dictionary.take(pa.array(present, type=pa.int64())),
                null_t,
                pa.array(df_p[present].astype(np.int64), type=pa.int64()),
                pa.array(cf_p[present], type=pa.int64()),
                pa.array(max_tf_p.astype(np.int64), type=pa.int64()),
                sc_arr,
            ],
            names=[f.name for f in STATS_SCHEMA.fields],
        )
    )
    return out


def _text_routes(batches, has_side: bool):
    """The per-batch front half the tokenize and stats mappers share,
    over (doc_id, text[, side]) Arrow batches of any text field type
    (string or ``list<string>``, ASCII or not) → (doc_ids, side, group)
    work items, the group from :func:`_column_group`. ``side`` is the
    optional third column (the static score) as int64; a null in it
    raises :func:`_null_score` for the first such doc."""
    for batch in batches:
        if not batch.num_rows:
            continue
        doc_ids_np = batch.column(0).to_numpy(zero_copy_only=False)
        side = None
        if has_side:
            col = batch.column(2)
            if col.null_count:
                first = col.is_null().to_numpy(zero_copy_only=False).argmax()
                raise ValueError(_null_score(batch.schema.names[2], doc_ids_np[first]))
            side = col.to_numpy(zero_copy_only=False).astype(np.int64)
        g = _column_group(batch.column(1))
        if g is not None:
            yield doc_ids_np, side, g


def _null_score(score_col: str, doc_id) -> str:
    """The build's error for a doc without a static score (the reference
    likewise rejects a doc missing its default sorting field): raised in
    the stats mapper for every field type, then re-raised by
    ``build_index`` as a ValueError."""
    return f"score_col {score_col!r} is null for doc_id {doc_id}"


_NULL_SCORE_RE = re.compile(r"score_col '[^']*' is null for doc_id -?\d+")


def stats_rows(docs: DataFrame, fld: str, score_col: str | None) -> DataFrame:
    """``docs[fld]`` → STATS_SCHEMA partial rows: one ``mapInArrow``
    pass (routed by :func:`_text_routes`) pre-aggregating each batch's
    group into per-doc dl rows and per-term partials — the r6
    stats/dictionary pass (see STATS_SCHEMA note), for every field
    type."""
    cols = [F.col("doc_id"), F.col(fld)]
    if score_col is not None:
        cols.append(F.col(score_col).cast("long").alias(score_col))

    def gen(batches):
        for doc_ids, scores, g in _text_routes(batches, score_col is not None):
            yield from _stats_batch(doc_ids, g, scores, fld)

    return docs.select(*cols).mapInArrow(gen, schema=STATS_SCHEMA)


def tokenize_tf(docs: DataFrame, fld: str, store_positions: bool) -> DataFrame:
    """``docs[fld]`` → TF rows: one ``mapInArrow`` pass doing tokenize,
    (doc, term) grouping, tf, dl and position packing over the corpus
    scan (routed by :func:`_text_routes`), so no doc-level shuffle
    exists anywhere in the build. It is the one entry point every
    tokenize consumer (build, streaming append, maintain, snapshots,
    checkpoint groups) shares, for every field type."""

    def gen(batches):
        for doc_ids, _, g in _text_routes(batches, False):
            yield _tf_batch(doc_ids, g, store_positions, fld)

    return docs.select("doc_id", fld).mapInArrow(gen, schema=TF_SCHEMA)


def tokenize_fields(docs: DataFrame, fields, store_positions: bool) -> DataFrame:
    """:func:`tokenize_tf` of every field in ``fields``, unioned in
    field order."""
    return reduce(
        DataFrame.unionByName, [tokenize_tf(docs, fld, store_positions) for fld in fields]
    )


def _binary_buffers(arr) -> tuple[np.ndarray, np.ndarray]:
    """Arrow Binary/StringArray → (offsets[int32], values[uint8]) as
    numpy views over the Arrow buffers, corrected for the array's slice
    offset and rebased so ``offsets[0] == 0`` and ``values`` spans
    exactly the array's bytes (a slice, or a flattened list child, may
    start and end inside its value buffer) — NO per-row Python objects
    are created."""
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=np.int32)[
        arr.offset : arr.offset + len(arr) + 1
    ]
    values = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    base = int(offsets[0])
    if base:
        offsets = offsets - base
    return offsets, values[base : base + int(offsets[-1])]


def _group_change(batch) -> np.ndarray:
    """Boolean mask: row starts a new (term, salt) group. term
    comparison runs in Arrow compute (no Python string objects)."""
    import pyarrow.compute as pc

    n = batch.num_rows
    change = np.empty(n, dtype=bool)
    change[0] = True
    if n > 1:
        t = batch.column("term")
        neq = pc.not_equal(t.slice(1), t.slice(0, n - 1)).to_numpy(
            zero_copy_only=False
        )
        salts = batch.column("salt").to_numpy()
        change[1:] = neq | (salts[1:] != salts[:-1])
    return change


def _pack_batch_arrow(batch, block_size: int, store_positions: bool, fld: str):
    """Pack one Arrow batch of rows sorted by (term, salt, doc_id)
    holding only COMPLETE (term, salt) groups — vectorized across every
    group and block; the per-doc position streams are spliced per block
    by slicing the Arrow binary VALUE buffer (one numpy slice per
    block, never 13M Python bytes objects). Contributions arrive
    precomputed (JVM-side, ULP-identical to numpy — asserted in
    tests/test_scoring_parity.py), so the shuffle rows carry neither
    dl nor df."""
    import pyarrow as pa

    doc_ids = batch.column("doc_id").to_numpy()
    tfs = batch.column("tf").to_numpy()
    contribs = batch.column("contrib").to_numpy()
    salts = batch.column("salt").to_numpy()
    n = doc_ids.size

    grp_change = _group_change(batch)
    grp_start_of = np.maximum.accumulate(np.where(grp_change, np.arange(n), 0))
    pos_in_grp = np.arange(n) - grp_start_of
    is_start = grp_change | (pos_in_grp % block_size == 0)
    starts = np.flatnonzero(is_start)
    ends = np.append(starts[1:], n)
    sizes = ends - starts

    u = doc_ids.astype(np.uint64)
    deltas = np.empty(n, dtype=np.uint64)
    deltas[0] = u[0]
    deltas[1:] = u[1:] - u[:-1] - np.uint64(1)
    deltas[starts] = u[starts]  # each block restarts with a raw id

    def _bin_arr(flat_vals: np.ndarray) -> "pa.Array":
        # one encode for the whole batch, sliced per block through an
        # Arrow offsets buffer — no per-block Python bytes objects (r6)
        buf, boffs = codec.varint_encode_offsets(flat_vals, sizes)
        return pa.Array.from_buffers(
            pa.binary(),
            starts.size,
            [None, pa.py_buffer(boffs.astype(np.int32)), pa.py_buffer(buf)],
        )

    ids_arr = _bin_arr(deltas)
    tfs_arr = _bin_arr(tfs.astype(np.uint64))
    con_arr = _bin_arr(contribs.astype(np.uint64))
    if store_positions:
        offs, vals = _binary_buffers(batch.column("pos_bin"))
        # blocks are contiguous runs of rows, so the block offsets into
        # the (shared) position value buffer are themselves an Arrow
        # offsets array — zero copies, zero Python slices
        pos_arr = pa.Array.from_buffers(
            pa.binary(),
            starts.size,
            [None, pa.py_buffer(offs[np.append(starts, n)]), pa.py_buffer(vals)],
        )
    else:
        pos_arr = pa.Array.from_buffers(
            pa.binary(),
            starts.size,
            [None, pa.py_buffer(np.zeros(starts.size + 1, dtype=np.int32)), pa.py_buffer(b"")],
        )

    fld_b = fld.encode()
    field_arr = pa.Array.from_buffers(
        pa.utf8(),
        starts.size,
        [
            None,
            pa.py_buffer((np.arange(starts.size + 1, dtype=np.int64) * len(fld_b)).astype(np.int32)),
            pa.py_buffer(fld_b * starts.size),
        ],
    )
    starts_pa = pa.array(starts, type=pa.int64())
    return pa.RecordBatch.from_arrays(
        [
            field_arr,
            batch.column("term").take(starts_pa),
            pa.array(salts[starts].astype(np.int32), type=pa.int32()),
            pa.array((pos_in_grp[starts] // block_size).astype(np.int32), type=pa.int32()),
            pa.array(sizes.astype(np.int32), type=pa.int32()),
            pa.array(doc_ids[starts], type=pa.int64()),
            pa.array(doc_ids[ends - 1], type=pa.int64()),
            pa.array(np.maximum.reduceat(tfs, starts), type=pa.int64()),
            pa.array(np.maximum.reduceat(contribs, starts), type=pa.int64()),
            ids_arr,
            tfs_arr,
            con_arr,
            pos_arr,
        ],
        names=[f.name for f in POSTINGS_SCHEMA.fields],
    )


def pack_postings(
    spark: SparkSession,
    docs: DataFrame,
    terms: DataFrame,
    stats: "dict[str, FieldStats]",
    params: BuildParams,
    group: tuple[int, int] | None = None,
) -> DataFrame:
    """docs + term dictionary + corpus stats → packed posting blocks of
    every field in ``params.fields``, packed as ``params`` says.

    The one pack route: the build, every group repack against a frozen
    dictionary (checkpoint groups, maintain, snapshot deletes) and the
    stream appends. ``group=(g, n_groups)`` keeps only the terms of
    commit group ``g`` (``term_bucket % n_groups == g``), filtered
    map-side before the shuffle.

    ONE wide shuffle: hash by (term, salt), sort groups + doc order
    within partitions, stream-pack (see _make_pack_fn).

    Shuffle rows are SLIM (r2): the quantized BM25 contribution is
    computed JVM-side before the shuffle (bit-identical to the numpy
    form — asserted in tests/test_scoring_parity.py), so dl, df, and
    the constant field string never cross the wire; each row is
    (term, salt, doc_id, tf, contrib, pos_bytes).
    """
    tf_all = tokenize_fields(docs, params.fields, params.store_positions)
    if group is not None:
        g, n_groups = group
        tf_all = tf_all.where(
            F.pmod(term_bucket_expr(F.col("term"), params.num_buckets), F.lit(n_groups)) == g
        )
    n_pack = int(spark.conf.get("spark.sql.shuffle.partitions"))
    packed_parts = []
    for fld in params.fields:
        fs = stats[fld]
        tf_f = tf_all.where(F.col("field") == fld)
        # dl already on the row — only the per-term df joins in
        # (broadcast when small; key matches the pack shuffle key).
        # LEFT join: when packing against a FROZEN dictionary (group
        # rebuild after upsert, streaming append), terms the dictionary
        # has never seen default to df=1 — same pinned semantics as
        # streaming/incremental.py
        enriched = tf_f.join(
            terms.where(F.col("field") == fld).select("term", "df"), "term", "left"
        ).withColumn("df", F.coalesce("df", F.lit(1)))
        # hot-term salting: bound any single pack-group's size
        slim = enriched.select(
            "term",
            F.when(
                F.col("df") > params.salt_threshold,
                F.pmod(F.col("doc_id"), F.lit(params.n_salts)).cast("int"),
            )
            .otherwise(F.lit(0))
            .alias("salt"),
            "doc_id",
            "tf",
            scoring.spark_contrib_expr(
                F.col("tf"), F.col("dl"), F.col("df"), fs.n_docs, fs.avgdl
            ).alias("contrib"),
            "pos_bin",
        )
        packed = (
            # partition count = spark.sql.shuffle.partitions (session
            # conf — scale it with the cluster). Measured r6: letting
            # AQE coalesce this exchange instead (keyed repartition
            # without a count) made the 2-core pack ~13% SLOWER — the
            # coalesced partitions push the per-task sort out of cache
            # — so the explicit conf-driven count stays.
            slim.repartition(n_pack, "term", "salt")
            .sortWithinPartitions("term", "salt", "doc_id")
            .mapInArrow(
                _make_pack_fn(params.block_size, params.store_positions, fld),
                schema=POSTINGS_SCHEMA,
            )
        )
        packed_parts.append(packed)
    # term_bucket rides as a COLUMN; files keep term-sorted row groups,
    # so parquet min/max stats prune scans on term and bucket filters
    return reduce(DataFrame.unionByName, packed_parts).withColumn(
        "term_bucket", term_bucket_expr(F.col("term"), params.num_buckets).cast("int")
    )


def _make_pack_fn(block_size: int, store_positions: bool, fld: str):
    """Streaming per-partition packer for mapInArrow over rows sorted by
    (term, salt, doc_id) within the partition.

    Carries the trailing INCOMPLETE group of each Arrow batch into the
    next one (as an Arrow slice — zero-copy), so batches handed to
    ``_pack_batch_arrow`` always hold whole groups. History of this hot
    path: per-group ``applyInPandas`` (~5-8 ms fixed cost × 64k groups
    = 547 core-s) → per-batch mapInPandas (r1) → mapInArrow (r2: the
    pandas conversion was materializing one Python bytes object per
    posting row for pos_bin, the single largest cost in the build)."""
    import pyarrow as pa

    def _concat(a, b):
        # pa.concat_batches needs pyarrow >= 16; Table route works on all
        return (
            pa.Table.from_batches([a, b]).combine_chunks().to_batches(
                max_chunksize=a.num_rows + b.num_rows
            )[0]
        )

    def pack(batches):
        pending = None
        for batch in batches:
            if pending is not None and pending.num_rows:
                batch = _concat(pending, batch)
            if not batch.num_rows:
                continue
            change = _group_change(batch)
            # cut = start of the trailing group (sorted ⇒ contiguous)
            cut = int(np.flatnonzero(change)[-1])
            complete, pending = batch.slice(0, cut), batch.slice(cut)
            if complete.num_rows:
                yield _pack_batch_arrow(complete, block_size, store_positions, fld)
        if pending is not None and pending.num_rows:
            yield _pack_batch_arrow(pending, block_size, store_positions, fld)

    return pack


def _flat_varints(batch, col: str, count: int | None = None) -> np.ndarray:
    """Decode the CONCATENATION of one binary column's per-block varint
    streams in a single vectorized pass — per-block boundaries are
    recovered afterwards from value counts (``n_docs``), never by
    iterating rows. Zero per-row Python objects: the stream is one
    numpy slice of the Arrow VALUE buffer."""
    return codec.varint_decode(
        _binary_buffers(batch.column(col))[1].tobytes(), count=count
    )


def _decode_batch_arrow(batch):
    """One Arrow batch of packed blocks → exploded posting rows
    (field, term, doc_id, tf, contrib), vectorized end-to-end:
    - the three varint columns decode as ONE concatenated stream each
      (``_flat_varints``);
    - doc ids un-delta via :func:`codec.segmented_delta_decode` with
      ``n_docs`` as the segment sizes;
    - field/term replicate per posting with an Arrow ``take`` (the
      string data never becomes Python objects).
    This is the read-side mirror of the r2 pack rework
    (``_pack_batch_arrow``): the old mapInPandas form boxed every block
    through ``itertuples`` + a pandas frame per block, ~1-2 s of every
    headline query at sf0.1."""
    import pyarrow as pa

    n_docs = batch.column("n_docs").to_numpy().astype(np.int64)
    total = int(n_docs.sum())
    ids = codec.segmented_delta_decode(_flat_varints(batch, "ids_bin", total), n_docs)
    tfs = _flat_varints(batch, "tfs_bin", total)
    cons = _flat_varints(batch, "contribs_bin", total)
    take = pa.array(np.repeat(np.arange(batch.num_rows), n_docs), type=pa.int64())
    return pa.RecordBatch.from_arrays(
        [
            batch.column("field").take(take),
            batch.column("term").take(take),
            pa.array(ids.astype(np.int64), type=pa.int64()),
            pa.array(tfs.astype(np.int64), type=pa.int64()),
            pa.array(cons.astype(np.int64), type=pa.int64()),
        ],
        names=[f.name for f in DECODED_SCHEMA.fields],
    )


def decode_postings(postings: DataFrame) -> DataFrame:
    """Packed blocks → exploded (field, term, doc_id, tf, contrib).

    Arrow-batched ``mapInArrow`` (buffer slicing, no per-block Python —
    see :func:`_decode_batch_arrow`); the inverse of the pack stage
    (round-trip tested). Filters on term/term_bucket should be applied
    on ``postings`` BEFORE calling so parquet partition pruning happens.
    """

    def gen(batches):
        for batch in batches:
            if batch.num_rows:
                yield _decode_batch_arrow(batch)

    cols = ["field", "term", "n_docs", "ids_bin", "tfs_bin", "contribs_bin"]
    return postings.select(*cols).mapInArrow(gen, schema=DECODED_SCHEMA)


def sql_literal(v) -> str:
    """A SQL literal for a str or int value. A long IN list or literal
    map built as ONE SQL expression costs one py4j call instead of
    several per value (``Column.isin`` over 570 terms measured ~0.3 s
    of driver time on a 4-core local session)."""
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return str(int(v))


@dataclass
class Index:
    """Handle over the built index tables (in-memory or on-disk)."""

    spark: SparkSession
    docs: DataFrame  # original cols + doc_id
    doc_attrs: DataFrame  # (doc_id, field, dl)
    terms: DataFrame  # (field, term, df, cf, max_tf)
    postings: DataFrame  # POSTINGS_SCHEMA + term_bucket
    stats: dict[str, FieldStats]
    params: BuildParams
    report: BuildReport | None = None
    out_dir: str | None = None
    # collected term dictionaries (expand.TermDict) per sorted field set,
    # filled on first use by engine._get_term_df
    term_dicts: dict = dc_field(default_factory=dict, init=False, repr=False, compare=False)
    # distinct-term counts per sorted field set, filled on first use by
    # engine._n_terms (the expansion route's signal)
    term_counts: dict = dc_field(default_factory=dict, init=False, repr=False, compare=False)
    # the build's stats partials behind terms/doc_attrs (persisted with
    # them), kept so a caller can release them
    stats_partials: DataFrame | None = dc_field(
        default=None, init=False, repr=False, compare=False
    )

    @property
    def num_buckets(self) -> int:
        return self.params.num_buckets

    @property
    def block_size(self) -> int:
        """Lets the query side estimate block counts from df alone (WAND
        engagement heuristic — no count job)."""
        return self.params.block_size

    def candidate_postings(self, terms: list[str], fields: list[str]) -> DataFrame:
        """Partition-pruned scan: term_bucket IN (...) AND term IN (...)."""
        buckets = sorted({_term_bucket_py(t, self.num_buckets) for t in terms})
        in_terms = F.expr(f"term IN ({', '.join(map(sql_literal, terms))})") if terms else F.lit(False)
        return self.postings.where(
            F.col("term_bucket").isin(buckets) & in_terms & F.col("field").isin(fields)
        )

    def decoded(
        self, terms: list[str], fields: list[str], spread: bool = False
    ) -> DataFrame:
        """``spread=True`` (batch paths): round-robin the pruned packed
        blocks across the cluster before decoding, so decode width does
        not inherit the postings cache's partition count — a compacted
        cache (or a single hot bucket) would otherwise serialize a
        whole batch's decode onto a few tasks. The exchange moves only
        the term-pruned compressed blocks. Single-query decodes keep
        the narrow no-exchange plan."""
        cand = self.candidate_postings(terms, fields)
        if spread:
            p = self.spark.sparkContext.defaultParallelism
            if cand.rdd.getNumPartitions() < p:
                cand = cand.repartition(p)
        return decode_postings(cand)

    def term_dict(self, fields: list[str]) -> DataFrame:
        return self.terms.where(F.col("field").isin(fields))

    def save(self, out_dir: str) -> None:
        # plain parquet, term-sorted row groups → min/max pruning on term
        self.postings.write.mode("overwrite").parquet(
            os.path.join(out_dir, "postings")
        )
        self.terms.write.mode("overwrite").parquet(os.path.join(out_dir, "terms"))
        self.doc_attrs.write.mode("overwrite").parquet(os.path.join(out_dir, "doc_attrs"))
        self.docs.write.mode("overwrite").parquet(os.path.join(out_dir, "docs"))
        self.save_meta(out_dir)

    def meta(self) -> dict:
        """The build record beside the corpus stats: what a store keeps
        besides the tables (``stats.json``, the snapshot manifest)."""
        return self.params.record() | {
            "stats": {k: {"n_docs": v.n_docs, "sum_dl": v.sum_dl} for k, v in self.stats.items()}
        }

    def save_meta(self, out_dir: str) -> None:
        """``stats.json``: what :meth:`load` needs besides the tables —
        also written by the checkpointed build's dictionary stage."""
        with open(os.path.join(out_dir, "stats.json"), "w") as f:
            json.dump(self.meta(), f)

    @classmethod
    def load(cls, spark: SparkSession, out_dir: str) -> "Index":
        params, stats = read_meta(out_dir)
        return cls(
            spark=spark,
            docs=spark.read.parquet(os.path.join(out_dir, "docs")),
            doc_attrs=spark.read.parquet(os.path.join(out_dir, "doc_attrs")),
            terms=spark.read.parquet(os.path.join(out_dir, "terms")),
            postings=spark.read.parquet(os.path.join(out_dir, "postings")),
            stats=stats,
            params=params,
            out_dir=out_dir,
        )


def parse_meta(meta: dict, where: str) -> "tuple[BuildParams, dict[str, FieldStats]]":
    """(build record, corpus stats) out of a saved :meth:`Index.meta`."""
    stats = {k: FieldStats(**v) for k, v in meta["stats"].items()}
    return BuildParams.from_record(meta, where), stats


def read_meta(out_dir: str) -> "tuple[BuildParams, dict[str, FieldStats]]":
    """What :meth:`Index.save_meta` wrote at ``out_dir``."""
    path = os.path.join(out_dir, "stats.json")
    with open(path) as f:
        return parse_meta(json.load(f), path)


def _term_bucket_py(term: str, num_buckets: int) -> int:
    """Python mirror of the JVM bucket expr (crc32-based, stable)."""
    import zlib

    return zlib.crc32(term.encode("utf-8")) % num_buckets


def term_bucket_expr(term_col, num_buckets: int):
    return F.pmod(F.crc32(term_col.cast("binary")), F.lit(num_buckets)).cast("int")


def touched_buckets(rows_df: DataFrame, fields: list[str], num_buckets: int) -> set[int]:
    """Term buckets a (small) set of doc rows touches — tokenize only
    them (the delete paths rebuild just those buckets' groups)."""
    rows = (
        tokenize_fields(rows_df, fields, False)
        .select(term_bucket_expr(F.col("term"), num_buckets).alias("b"))
        .distinct()
        .collect()
    )
    return {int(r["b"]) for r in rows}


def dictionary(
    docs: DataFrame, fields, score_col: str | None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The stats/dictionary pass over every field of ``docs`` →
    (partials, doc_attrs, terms). It ships no tf rows: the mapper
    pre-aggregates per batch (STATS_SCHEMA partials: per-doc dl rows +
    per-term df/cf/max_tf[/max_score] partials), cutting the Python→JVM
    transfer and aggregation input ~50x (guide §2.3 "aggregate before
    you shuffle"; measured 26s → 4s of the 2-core 100k-doc build).
    Per-doc dl rows pass through as doc_attrs; the term dictionary is
    one narrow agg over the partials (map-side combine on top)."""
    srows = reduce(
        DataFrame.unionByName, [stats_rows(docs, fld, score_col) for fld in fields]
    )
    doc_attrs = srows.where(F.col("term").isNull()).select("field", "doc_id", "dl")
    aggs = [F.sum("df").alias("df"), F.sum("cf").alias("cf"), F.max("max_tf").alias("max_tf")]
    if score_col is not None:
        # MAX_SCORE token ordering support (reference ART leaf
        # max_score, include/art.h:49-55): the mapper already folded the
        # per-doc score into per-term partial maxima
        aggs.append(F.max("max_score").alias("max_score"))
    terms = srows.where(F.col("doc_id").isNull()).groupBy("field", "term").agg(*aggs)
    return srows, doc_attrs, terms


def with_content_sha(docs: DataFrame) -> DataFrame:
    """B3: the per-row content invariant vs the source (input_hint:
    "content sha256 equality"), carried on the docs table as
    ``content_sha`` = sha256 of ``content``; array content hashes its
    space-joined logical string. The one rule for every route by which
    docs enter a store (build, checkpoint, upsert, stream batch), so a
    table unioned from several routes holds no null or stale hash. Docs
    without a ``content`` column pass through."""
    if "content" not in docs.columns:
        return docs
    content = F.col("content")
    if dict(docs.dtypes)["content"].startswith("array"):
        content = F.array_join(content, " ")
    return docs.withColumn("content_sha", F.sha2(content, 256))


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    fields: list[str],
    id_col: str | None = None,
    key_cols: list[str] | None = None,
    num_buckets: int = 16,
    block_size: int = 128,
    salt_threshold: int = 100_000,
    n_salts: int = 8,
    store_positions: bool = True,
    persist: bool = True,
    persist_light: bool = False,
    score_col: str | None = None,
) -> Index:
    """Build the inverted index over ``fields`` of ``docs``.

    Pure function of the docs table — the reference proves the same
    contract by rebuilding its whole index from the doc store at startup
    (``/root/reference/src/collection_manager.cpp:153-232``).

    ``score_col``: optional static ranking column; when set, the terms
    dictionary gains ``max_score`` = max of that column over the docs
    holding each term — the analogue of the reference ART leaf's
    ``max_score`` (``include/art.h:49-55``), used by
    ``rank_tokens_by='max_score'`` candidate ordering.
    """
    t0 = time.time()
    report = BuildReport()

    if id_col is None:
        assert key_cols, "need key_cols to assign doc_ids"
        docs = assign_doc_ids(docs, key_cols)
        id_col = "doc_id"
    elif id_col != "doc_id":
        docs = docs.withColumn("doc_id", F.col(id_col).cast("long"))
    docs = docs.withColumn("doc_id", F.col("doc_id").cast("long"))

    docs = with_content_sha(docs)

    # persist_light: cache ONLY the narrow relations (docs handle,
    # stats partials, dictionary aggs) so a dictionary-only caller
    # (the checkpoint dict stage) runs ONE tokenize pass instead of
    # one per consumer action — without triggering the pack pipeline
    # the way persist=True does. Wide tf rows are never cached
    # (heap-thrash anti-scaling, see module notes).
    if persist or persist_light:
        # docs feed both tokenize passes + query-time joins
        docs = docs.persist()

    # Two tokenize passes instead of caching the (huge) tf relation:
    # the map-side tokenizer is cheap and embarrassingly parallel,
    # while caching tens of millions of tf rows thrashed the heap and
    # made the build ANTI-scale with cores. Recompute > cache here.
    srows, doc_attrs, terms = dictionary(docs, fields, score_col)
    if persist or persist_light:
        # srows is small (one row per doc + per-batch term partials),
        # shared by the doc_attrs / terms / stats-probe consumers
        srows, doc_attrs, terms = srows.persist(), doc_attrs.persist(), terms.persist()

    # corpus stats (exact longs → avgdl division pinned in Python,
    # mirrored exactly by the DuckDB oracle). When the dictionary
    # relations are cached, the SAME job also materializes the terms
    # cache (union probe): both aggregates share the one in-flight
    # srows computation instead of the pack job re-traversing the
    # cache through a second plan-compile + AQE round (r4 VERDICT #3 —
    # fuse the stats/terms/doc_attrs actions onto one pass).
    t_stats = time.time()
    probe = doc_attrs.groupBy("field").agg(
        F.count("*").alias("n"), F.sum("dl").alias("s")
    ).withColumn("_src", F.lit("attrs"))
    if persist or persist_light:
        probe = probe.unionByName(
            terms.groupBy("field").agg(
                F.count("*").alias("n"), F.sum("df").alias("s")
            ).withColumn("_src", F.lit("terms"))
        )
    # the first job over the stats rows: a null score_col value fails it
    try:
        probe_rows = probe.collect()
    except PySparkException as e:
        null_score = _NULL_SCORE_RE.search(str(e))
        if null_score is None:
            raise
        raise ValueError(null_score.group(0)) from None
    # a field with no tokens on any doc has no doc_attrs rows
    stats = {fld: FieldStats(n_docs=0, sum_dl=0) for fld in fields}
    for r in probe_rows:
        if r["_src"] == "attrs":
            stats[r["field"]] = FieldStats(n_docs=int(r["n"]), sum_dl=int(r["s"]))
        else:
            report.n_terms += int(r["n"])
    report.stages["tokenize_stats_sec"] = round(time.time() - t_stats, 3)

    params = BuildParams(
        fields=tuple(fields),
        num_buckets=num_buckets,
        block_size=block_size,
        salt_threshold=salt_threshold,
        n_salts=n_salts,
        store_positions=store_positions,
        score_col=score_col,
    )
    postings = pack_postings(spark, docs, terms, stats, params)  # pack pass

    report.n_docs = max((s.n_docs for s in stats.values()), default=0)
    if persist:
        t_pack = time.time()
        postings = postings.persist()
        # exactly ONE materializing action for the pack pipeline;
        # term/doc counts are free by-products of stats / lazy tables
        report.n_postings = int(
            postings.agg(F.sum("n_docs")).collect()[0][0] or 0
        )
        report.stages["pack_sec"] = round(time.time() - t_pack, 3)
    report.elapsed_sec = time.time() - t0

    ix = Index(
        spark=spark,
        docs=docs,
        doc_attrs=doc_attrs,
        terms=terms,
        postings=postings,
        stats=stats,
        params=params,
        report=report,
    )
    ix.stats_partials = srows
    return ix
