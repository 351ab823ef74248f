"""Deduplication operators for training-data pipelines.

All parameters are pinned constants shared with the DuckDB oracle SQL
in ``__spark_entry__`` — every arithmetic step is integer-exact so
Spark and the oracle agree bit-for-bit.

Scale notes (10^12-doc target):
- exact dedup is a hash groupBy — one shuffle, AQE-coalesced;
- shingle/minhash/simhash stages are token-level explodes + groupBys:
  map-side partial aggregation keeps the shuffle proportional to
  distinct (doc, shingle) pairs;
- ``use_hash_ids=True`` (default for production) derives shingle/term
  ids via ``xxhash64`` — fully parallel. ``use_hash_ids=False`` uses a
  global ``dense_rank`` over distinct shingles so ids are reproducible
  in plain SQL (the oracle-parity mode used by the correctness gate);
  at scale the hash mode is the one to run, collisions only perturb
  MinHash estimates negligibly;
- LSH banding turns the O(n²) pair space into per-bucket joins; the
  bucket join is a plain equi-join Spark shuffles on band key, with
  AQE skew splitting if a bucket is hot.

Cache contract: pair operators persist their self-joined intermediates
(shingles / band keys / fingerprints — narrow, bytes per doc) because
the returned DataFrame reads them more than once. They stay cached for
the session (Spark evicts LRU under pressure); a long-lived driver
running many corpora should `spark.catalog.clearCache()` between
sweeps or materialize + unpersist.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from typesense_spark.ops import spread_small_input
from typesense_spark.tokenizer import SPLIT_PATTERN, explode_tokens, spark_term

# pinned MinHash parameters (mirrored literally in the oracle SQL)
MINHASH_PRIME = 2147483647  # 2^31 - 1
MINHASH_PERMS: list[tuple[int, int]] = [
    ((i * 2654435761 + 1) % MINHASH_PRIME, (i * 40503 + 7) % MINHASH_PRIME)
    for i in range(1, 17)
]
LSH_BAND_SIZE = 2  # 16 perms / 2 = 8 bands
SHINGLE_K = 3  # token 3-grams
SIMHASH_BITS = 32
SIMHASH_A = 1103515245
SIMHASH_B = 12345


def exact_duplicates(
    docs: DataFrame, text_col: str, id_col: str = "doc_id", min_count: int = 2
) -> DataFrame:
    """Exact dedup: md5-hash groupBy → groups with ≥ min_count members.

    Returns (text_hash, dup_count, keep_doc_id) where keep_doc_id is
    the smallest id (the canonical survivor). ``min_count=1`` lists
    every group (useful to verify hashing parity on dup-free corpora).
    """
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.count("*").alias("dup_count"),
            F.min(F.col(id_col)).alias("keep_doc_id"),
        )
        .where(F.col("dup_count") >= min_count)
    )


def token_shingles(docs: DataFrame, text_col: str, id_col: str = "doc_id", k: int = SHINGLE_K) -> DataFrame:
    """Distinct token k-gram shingles per doc: (doc_id, shingle).

    Tokenization is the engine's pinned tokenizer (the JVM term
    expression :func:`~typesense_spark.tokenizer.spark_term`, the same
    one :func:`explode_tokens` applies, unicode folds included);
    shingle = k consecutive terms joined by a single space, sliced out
    of the per-doc token ARRAY with transform/sequence — entirely
    map-side. (The r2 form exploded tokens and ran a ``lead()`` window
    partitioned by doc_id: one full shuffle + sort of every token row
    for an operation that is embarrassingly parallel per doc. Same
    output, proven in tests and by the unchanged dedup oracles.)
    """
    docs = spread_small_input(docs)
    toks = F.filter(
        F.transform(F.split(F.col(text_col), SPLIT_PATTERN, -1), spark_term),
        lambda t: t != F.lit(""),
    )
    base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("_toks"))
    grams = F.transform(
        F.sequence(F.lit(1), F.size("_toks") - (k - 1)),
        lambda i: F.array_join(F.slice(F.col("_toks"), i, k), " "),
    )
    # per-doc dedup happens MAP-SIDE (array_distinct on the gram array)
    # so no global distinct shuffle is needed: (doc_id, shingle) rows
    # are already unique because doc_id is fixed within each array
    return base.where(F.size("_toks") >= k).select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("shingle")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    k: int = SHINGLE_K,
    threshold_milli: int = 500_000,
    max_shingle_df: int | None = 50,
) -> DataFrame:
    """Token-k-gram Jaccard near-dup pairs ≥ threshold.

    Candidates = doc pairs sharing ≥1 shingle (the standard inverted-
    index prefilter); |∩| from the shingle join, |∪| = |A|+|B|-|∩| —
    all integers, so ``jac_milli = floor(1e6·|∩|/|∪| + 0.5)`` is exact.

    ``max_shingle_df`` bounds the hot-shingle blowup: a shingle present
    in n docs contributes O(n²) join rows, so a corpus-frequent "stop
    shingle" in 10⁸ docs would explode the self-join. Dropping shingles
    with df > K before the join (standard in the dedup literature)
    bounds any shingle's contribution to K² while leaving near-dup
    recall intact — near-identical pairs still share plenty of rare
    shingles. NOTE: sizes are computed AFTER the cap so |∪| stays
    consistent with the capped |∩| (the oracle applies the same filter).
    ``None`` disables the cap (exact Jaccard over all shingles).
    """
    # Shuffle census (the whole game at 100 TB — and at gate scale,
    # where each extra shuffle is a fixed stage barrier): tokenize +
    # per-doc array_distinct are map-side; (1) df agg for the hot list
    # (map-side-combinable count — skew-safe, a 10⁸-doc stop shingle is
    # one long per partition, never a buffered list); the anti-join
    # removes hot rows MAP-SIDE (broadcast); then the CAPPED rows are
    # cached and feed (2) sizes and (3) the grouped pair enumeration;
    # (4) the pair-count agg. No driver action anywhere. The r2 shape
    # paid two more: a global distinct of all raw shingle rows (now
    # array_distinct in the map task) and it cached the pre-cap set.
    sh = token_shingles(docs, text_col, id_col, k)
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") > max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sh = sh.persist()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    # pair enumeration: group each shingle's (cap-bounded) doc list and
    # explode the a<b pairs JVM-side — ONE shuffle of the capped rows,
    # where the r2 self-join shuffled them twice into a sort-merge join
    # (grouped enumeration measured ~25% faster at sf0.1, same rows).
    # With the cap disabled this buffers whole per-shingle doc lists —
    # only safe at verifier scale (the None contract above); the capped
    # production path is bounded because df was filtered first.
    grp = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_list(F.col("doc_id"))).alias("ds")
    )
    # i<j pairs generated directly from the sorted doc list (index
    # sequences) — the r5 form built every (a, b) combination and
    # filtered the rejected half, 2x the struct construction (guide
    # §1.2 per-task work). `ds` is sort_array'd, so ds[i] < ds[j] for
    # i < j — identical pairs.
    pairs = grp.where(F.size("ds") >= 2).select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.size("ds") - 1),
                    lambda i: F.transform(
                        F.sequence(i + 1, F.size("ds")),
                        lambda j: F.struct(
                            F.element_at("ds", i).alias("a"),
                            F.element_at("ds", j).alias("b"),
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    inter = pairs.groupBy(
        F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b")
    ).agg(F.count("*").alias("inter"))
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn(
            "jac_milli",
            F.floor(
                F.lit(1_000_000.0) * F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
                + F.lit(0.5)
            ).cast("long"),
        )
        .where(F.col("jac_milli") >= threshold_milli)
        .select("doc_a", "doc_b", "jac_milli")
    )


def shingle_ids(shingles: DataFrame, use_hash_ids: bool = True) -> DataFrame:
    """(doc_id, shingle) → (doc_id, sid).

    Hash mode (scale): xxhash64 bounded into [0, p) — embarrassingly
    parallel. Rank mode (oracle parity): global dense_rank by shingle
    text — reproducible in ANSI SQL, single-partition window (gate-
    scale only; documented trade-off).
    """
    if use_hash_ids:
        return shingles.withColumn(
            "sid", F.pmod(F.xxhash64("shingle"), F.lit(MINHASH_PRIME))
        )
    w = Window.orderBy("shingle")
    return shingles.withColumn("sid", F.dense_rank().over(w).cast("long"))


def minhash_signatures(
    docs: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    use_hash_ids: bool = True,
) -> DataFrame:
    """MinHash signatures: (doc_id, perm_id, minhash).

    h_i(x) = (a_i·x + b_i) mod p over shingle ids. r6 shape: all 16
    permutation minima are computed as 16 aggregate columns of ONE
    groupBy(doc_id) over the shingle rows — no 16x row explode before
    the shuffle (guide §2.3; the r5 form cross-joined a 16-row perm
    table and shuffled 16x the rows into a (doc, perm) aggregation).
    The long-exact arithmetic and output rows are identical (min per
    permutation over the same shingle-id set); unpivoting the wide row
    back to (doc_id, perm_id, minhash) is map-side.
    """
    return (
        _minhash_wide(docs, text_col, id_col, use_hash_ids)
        .select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("perm_id"),
                            F.col(f"h{i}").alias("minhash"),
                        )
                        for i in range(len(MINHASH_PERMS))
                    ]
                )
            ).alias("pm"),
        )
        .select("doc_id", F.col("pm.perm_id"), F.col("pm.minhash"))
    )


def _minhash_wide(
    docs: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    use_hash_ids: bool = True,
) -> DataFrame:
    """(doc_id, h0..h15): one wide per-doc aggregation of all
    permutation minima (map-side combinable)."""
    sh = shingle_ids(token_shingles(docs, text_col, id_col), use_hash_ids)
    return sh.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(a) * F.col("sid") + F.lit(b)) % F.lit(MINHASH_PRIME)
            ).alias(f"h{i}")
            for i, (a, b) in enumerate(MINHASH_PERMS)
        ]
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    use_hash_ids: bool = True,
) -> DataFrame:
    """MinHash-LSH candidate pairs: band signatures → bucket join.

    Band key is the concatenation of the band's minhashes (no extra
    hashing — keeps the oracle exact); docs sharing any band bucket
    become a candidate pair (doc_a < doc_b). r6: band keys assemble
    MAP-SIDE from the wide per-doc signature row (sort_array over the
    band's literal "perm:minhash" strings — byte-identical to the old
    collect_list + sort_array aggregation), so the per-(doc, band)
    aggregation shuffle is gone entirely.
    """
    wide = _minhash_wide(docs, text_col, id_col, use_hash_ids)
    n_bands = (len(MINHASH_PERMS) + LSH_BAND_SIZE - 1) // LSH_BAND_SIZE

    def _band_key(j: int):
        perms = [
            p for p in range(j * LSH_BAND_SIZE, (j + 1) * LSH_BAND_SIZE)
            if p < len(MINHASH_PERMS)
        ]
        return F.concat_ws(
            ",",
            F.sort_array(
                F.array(
                    *[
                        F.format_string("%d:%d", F.lit(p), F.col(f"h{p}"))
                        for p in perms
                    ]
                )
            ),
        )

    bands = (
        wide.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("band_id"), _band_key(j).alias("band_key")
                        )
                        for j in range(n_bands)
                    ]
                )
            ).alias("bk"),
        )
        .select("doc_id", F.col("bk.band_id"), F.col("bk.band_key"))
        # cached: the bucket self-join reads this twice, and the
        # signature pipeline above it is the expensive part
        .persist()
    )
    return (
        bands.alias("a")
        .join(bands.alias("b"), ["band_id", "band_key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def simhash_fingerprints(
    docs: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    use_hash_ids: bool = True,
) -> DataFrame:
    """SimHash (32-bit): (doc_id, simhash).

    Term ids → per-bit ±tf votes → sign → packed int. Bit j of term t's
    hash is ``((A·tid + B) mod p) >> j & 1``; all integer arithmetic,
    mirrored in the oracle SQL.
    """
    tok = explode_tokens(
        spread_small_input(docs.select(id_col, text_col)), text_col, id_col
    )
    tf = tok.groupBy(F.col(id_col).alias("doc_id"), "term").agg(F.count("*").alias("tf"))
    if use_hash_ids:
        tf = tf.withColumn("tid", F.pmod(F.xxhash64("term"), F.lit(MINHASH_PRIME)))
    else:
        terms = tf.select("term").distinct()
        w = Window.orderBy("term")
        tids = terms.withColumn("tid", F.dense_rank().over(w).cast("long"))
        tf = tf.join(tids, "term")
    th = tf.withColumn(
        "h", (F.lit(SIMHASH_A) * F.col("tid") + F.lit(SIMHASH_B)) % F.lit(MINHASH_PRIME)
    )
    # r6 shape: the 32 per-bit vote sums are 32 aggregate columns of ONE
    # groupBy(doc_id) over the (doc, term, tf) rows — no 32x bit-table
    # cross join before the shuffle (guide §2.3; the r5 form exploded
    # every tf row 32 ways into a (doc, bit) aggregation and then a
    # second per-doc aggregation). Same integer votes, same sign rule,
    # same packed fingerprint; the bit packing is a map-side projection.
    votes = th.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.expr(f"(shiftright(h, {j}) & 1) = 1"), F.col("tf")
                ).otherwise(-F.col("tf"))
            ).alias(f"v{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    packed = votes.select(
        "doc_id",
        sum(
            [
                F.when(
                    F.col(f"v{j}") > 0, F.lit(1 << j).cast("long")
                ).otherwise(F.lit(0).cast("long"))
                for j in range(SIMHASH_BITS)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    return packed


def simhash_pairs(
    docs: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    use_hash_ids: bool = True,
    method: str = "pigeonhole",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Default = the pigeonhole scale path: split the 32 fingerprint bits
    into max_hamming+1 chunks; two fingerprints within hamming ≤ h must
    agree on at least one chunk (h flipped bits can dirty at most h of
    the h+1 chunks), so an equi-join per chunk enumerates a candidate
    superset, verified by exact bit_count. Join keys are
    (chunk_id, chunk_value) — a plain shuffle join, no cross product.
    ``method='quadratic'`` keeps the all-pairs verifier (gate/test
    scale only; used to prove the pigeonhole path equivalent).
    """
    fp = simhash_fingerprints(docs, text_col, id_col, use_hash_ids)
    if method == "quadratic":
        a, b = fp.alias("a"), fp.alias("b")
        return (
            a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .withColumn(
                "hamming",
                F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))),
            )
            .where(F.col("hamming") <= max_hamming)
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("hamming").cast("int").alias("hamming"),
            )
        )
    n_chunks = max_hamming + 1
    width = (SIMHASH_BITS + n_chunks - 1) // n_chunks
    # self-join would otherwise recompute the whole fingerprint lineage
    # twice (verified in .explain); fp is 16 bytes/doc — cache it
    fp = fp.persist()
    # chunk keys via a literal explode (map-side projection) — the r5
    # broadcast crossJoin against a chunks table added a join node +
    # broadcast build to a plan this small op pays to COMPILE once per
    # call (guide §7.2: fewer operators, same rows)
    keyed = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.expr(
                            f"shiftright(simhash, {c * width}) & "
                            f"{(1 << min(width, SIMHASH_BITS - c * width)) - 1}"
                        ).alias("chunk_val"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", "simhash", F.col("ck.chunk_id"), F.col("ck.chunk_val"))
    cand = (
        keyed.alias("a")
        .join(keyed.alias("b"), ["chunk_id", "chunk_val"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()  # a pair can collide on several chunks
    )
    return cand


def duplicate_clusters(
    pairs: DataFrame,
    col_a: str = "doc_a",
    col_b: str = "doc_b",
    max_iters: int = 25,
) -> DataFrame:
    """Near-dup pairs → (doc_id, cluster_id): connected components with
    cluster_id = the smallest doc_id in the component — the step that
    turns candidate pairs into keep/drop decisions (keep doc_id ==
    cluster_id, drop the rest) in a training-data dedup pipeline.

    Algorithm: alternating min-label propagation — every node starts
    labeled with its own id; each round every node takes the min label
    across itself and its neighbors; converged when no label changes.
    Rounds are bounded by the component diameter (near-dup clusters are
    shallow); each round is one join + one map-side-combinable min agg,
    with localCheckpoint cutting the iterative lineage (the standard
    Spark connected-components shape; driver loop only carries a
    changed-row count per round). Only docs appearing in ≥1 pair are
    emitted (singletons need no cluster).
    """
    edges = (
        pairs.select(F.col(col_a).alias("src"), F.col(col_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(col_b).alias("src"), F.col(col_a).alias("dst"))
        )
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        prop = edges.join(
            labels.withColumnRenamed("doc_id", "dst"), "dst"
        ).select(F.col("src").alias("doc_id"), "label")
        new_labels = (
            prop.unionByName(labels)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # silently returning intermediate labels would split a component
        # into several "clusters" — fail loudly instead
        edges.unpersist()
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iters} rounds "
            "(component diameter exceeds max_iters); raise max_iters"
        )
    edges.unpersist()
    return labels.select("doc_id", F.col("label").alias("cluster_id"))
