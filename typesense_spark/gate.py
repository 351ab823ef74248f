"""Driver correctness-gate wiring: one (Spark callable, DuckDB oracle
SQL) pair per implemented operator from SURVEY.md §2 plus the
training-data ops. ``__spark_entry__`` re-exports these.

Every oracle recomputes the full pipeline (tokenize → tf/dl/stats →
quantized BM25) from the raw ``documents`` view in pure SQL, so the
comparison is engine-vs-independent-implementation, not
engine-vs-itself. Column names and integer quantization are pinned on
both sides (see ``scoring.py`` for why scores are exact int64).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from typesense_spark import scoring
from typesense_spark.search.expand import (
    MAX_CANDIDATES,
    MAX_CANDIDATES_PREFIX,
    bounded_typo_cost,
)

# --------------------------------------------------------------- index cache

_INDEX_CACHE: dict[str, object] = {}

GATE_BUILD = dict(
    fields=["text"],
    id_col="doc_id",
    num_buckets=8,
    block_size=64,
    salt_threshold=50,  # low on purpose: exercises the hot-term salting path
    n_salts=4,
    score_col="n_chars",  # static rank source for rank_tokens_by=max_score
)


def _compact_postings(ix):
    """Setup-time index layout: re-persist the packed postings at a
    partition count sized to the data (~2M postings per partition,
    guide §6 file-sizing applied to the cache) instead of the build
    shuffle's partition count. A query's scan+decode then runs a
    handful of tasks, not one per build shuffle partition — at gate
    scale (<1M postings) that is ~0.4s of pure task-roundtrip overhead
    per query. Same rows, same schema; this is index construction, not
    result caching (every query still scans/decodes per run)."""
    n_post = ix.report.n_postings if ix.report else 0
    n_parts = max(1, min(int(n_post // 2_000_000) + 1, ix.postings.rdd.getNumPartitions()))
    compact = ix.postings.repartition(n_parts).persist()
    compact.count()
    ix.postings.unpersist()
    ix.postings = compact
    # same treatment for the docs handle (filter keep-sets, facet and
    # hydration joins all scan it): ~1M docs per cached partition
    n_docs = ix.stats[next(iter(ix.stats))].n_docs if ix.stats else 0
    d_parts = max(1, min(int(n_docs // 1_000_000) + 1, ix.docs.rdd.getNumPartitions()))
    if d_parts < ix.docs.rdd.getNumPartitions():
        dcompact = ix.docs.repartition(d_parts).persist()
        dcompact.count()
        ix.docs.unpersist()
        ix.docs = dcompact
    return ix


def get_index(spark: SparkSession, sf_dir: str):
    key = f"{id(spark)}:{sf_dir}"
    if key not in _INDEX_CACHE:
        from typesense_spark.index import build_index

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        _INDEX_CACHE[key] = _compact_postings(build_index(spark, docs, **GATE_BUILD))
    return _INDEX_CACHE[key]


def get_index2(spark: SparkSession, sf_dir: str):
    """Two-field index (text + source) for the Q12 weighted-fields gate."""
    key = f"2f:{id(spark)}:{sf_dir}"
    if key not in _INDEX_CACHE:
        from typesense_spark.index import build_index

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        kw = dict(GATE_BUILD, fields=["text", "source"])
        _INDEX_CACHE[key] = _compact_postings(build_index(spark, docs, **kw))
    return _INDEX_CACHE[key]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# --------------------------------------------------------- oracle SQL pieces

# tokenizer (pinned spec, tokenizer.py) as SQL; positions = raw split
# index (empty tokens consume positions, like the reference's keep_empty)
_PRELUDE = """
WITH rawtok AS (
  SELECT doc_id, i AS pos,
         regexp_replace(lower(l[i + 1]), '[^a-z0-9]', '', 'g') AS term
  FROM (SELECT doc_id, string_split_regex(text, '[ \n]') AS l FROM documents)
  CROSS JOIN range(0, 8192) AS r(i)
  WHERE i < len(l)
),
tok AS (SELECT doc_id, pos, term FROM rawtok WHERE term <> ''),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
tstat AS (SELECT term, count(*) AS df, sum(tf) AS cf, max(tf) AS max_tf FROM tf GROUP BY 1),
contrib AS (
  SELECT tf.doc_id, tf.term, {contrib} AS c
  FROM tf JOIN dl USING (doc_id) JOIN tstat USING (term) CROSS JOIN stats
)
""".replace(
    "{contrib}",
    scoring.duckdb_contrib_sql("tf.tf", "dl.dl", "tstat.df", "stats.n", "stats.avgdl"),
)


# two-field variant (text + source) for the Q12 weighted-fields gate:
# per-FIELD tf/dl/stats/df, exactly like the engine's per-field build
_PRELUDE2 = """
WITH rawtok AS (
  SELECT doc_id, fld, i AS pos,
         regexp_replace(lower(l[i + 1]), '[^a-z0-9]', '', 'g') AS term
  FROM (
    SELECT doc_id, 'text' AS fld, string_split_regex(text, '[ \n]') AS l FROM documents
    UNION ALL
    SELECT doc_id, 'source' AS fld, string_split_regex(source, '[ \n]') AS l FROM documents
  )
  CROSS JOIN range(0, 8192) AS r(i)
  WHERE i < len(l)
),
tok AS (SELECT doc_id, fld, pos, term FROM rawtok WHERE term <> ''),
tf AS (SELECT doc_id, fld, term, count(*) AS tf FROM tok GROUP BY 1, 2, 3),
dl AS (SELECT doc_id, fld, count(*) AS dl FROM tok GROUP BY 1, 2),
stats AS (SELECT fld, count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl GROUP BY 1),
tstat AS (SELECT fld, term, count(*) AS df FROM tf GROUP BY 1, 2),
contrib AS (
  SELECT tf.doc_id, tf.fld, tf.term, {contrib} AS c
  FROM tf
  JOIN dl ON dl.doc_id = tf.doc_id AND dl.fld = tf.fld
  JOIN tstat ON tstat.term = tf.term AND tstat.fld = tf.fld
  JOIN stats ON stats.fld = tf.fld
)
""".replace(
    "{contrib}",
    scoring.duckdb_contrib_sql("tf.tf", "dl.dl", "tstat.df", "stats.n", "stats.avgdl"),
)


def _cand_sql(
    tokens: list[str], num_typos: int, prefix_last: bool,
    distfn: str = "levenshtein",
) -> str:
    """Candidate CTE mirroring oracle.expand_query exactly (caps, ranks).
    ``distfn='damerau_levenshtein'`` oracles the OSA metric: DuckDB's
    function is the UNRESTRICTED Damerau variant, which coincides with
    the reference's OSA at distance ≤ 1 (the typo_osa gate pins
    num_typos=1 for exactly this reason; see test_scale_paths)."""
    parts = []
    for i, tok in enumerate(tokens):
        mc = bounded_typo_cost(tok, num_typos)
        parts.append(
            f"SELECT {i} AS qidx, term FROM ("
            f"SELECT term, {distfn}(term, '{tok}') AS cost, "
            f"row_number() OVER (PARTITION BY {distfn}(term, '{tok}') "
            f"ORDER BY df DESC, term) AS rn "
            f"FROM tstat WHERE {distfn}(term, '{tok}') <= {mc}"
            f") WHERE cost = 0 OR rn <= {MAX_CANDIDATES}"
        )
        if prefix_last and i == len(tokens) - 1:
            parts.append(
                f"SELECT {i} AS qidx, term FROM ("
                f"SELECT term, row_number() OVER (ORDER BY df DESC, term) AS rn "
                f"FROM tstat WHERE term LIKE '{tok}%' AND term <> '{tok}'"
                f") WHERE rn <= {MAX_CANDIDATES_PREFIX}"
            )
    return (
        ", cand AS (SELECT DISTINCT qidx, term FROM ("
        + " UNION ALL ".join(parts)
        + "))"
    )


def _scored_sql(n_tokens: int, mode: str = "and") -> str:
    having = f"HAVING count(*) = {n_tokens}" if mode == "and" else ""
    return (
        ", per_tok AS (SELECT contrib.doc_id, cand.qidx, max(contrib.c) AS best "
        "FROM contrib JOIN cand USING (term) GROUP BY 1, 2)"
        # CAST: DuckDB types sum(BIGINT) as HUGEINT (int128); un-cast it
        # round-trips through Arrow/pandas as float64 and breaks the
        # driver's value hash even when values are identical (round-1
        # CORRECTNESS failure root cause). Every exposed aggregate below
        # is pinned to BIGINT for this reason.
        ", scored AS (SELECT doc_id, CAST(sum(best) AS BIGINT) AS score_milli FROM per_tok "
        f"GROUP BY 1 {having})"
    )


def _hits_sql(per_page: int = 10, page: int = 1, extra: str = "") -> str:
    off = (page - 1) * per_page
    return (
        " SELECT CAST(rn AS BIGINT) AS rank, doc_id, score_milli" + extra + " FROM ("
        "SELECT *, row_number() OVER (ORDER BY score_milli DESC, doc_id DESC) AS rn "
        "FROM scored) WHERE rn > " + str(off) + " AND rn <= " + str(page * per_page)
        + " ORDER BY rank"
    )


def bm25_oracle(
    tokens: list[str],
    num_typos: int = 0,
    prefix_last: bool = False,
    mode: str = "and",
    per_page: int = 10,
    page: int = 1,
    distfn: str = "levenshtein",
) -> str:
    return (
        _PRELUDE
        + _cand_sql(tokens, num_typos, prefix_last, distfn)
        + _scored_sql(len(tokens), mode)
        + _hits_sql(per_page, page)
    )


# ------------------------------------------------------------ query builders


def _hits(res) -> DataFrame:
    # final orderBy on every gate output (both sides) so the driver's
    # value hash is immune to row-order differences; output is ≤ per_page
    # rows so the sort is free
    return res.hits.select(
        F.col("rank").cast("long").alias("rank"), "doc_id", "score_milli"
    ).orderBy("rank")


def _search(spark, sf_dir, **kw):
    from typesense_spark.search import SearchRequest, search

    return search(get_index(spark, sf_dir), SearchRequest(fields=("text",), **kw))


def q_exact_term(spark, sf_dir):
    """Q1+Q6+Q14: single exact term, BM25 top-10."""
    return _hits(_search(spark, sf_dir, q="table", num_typos=0))


def q_multi_and(spark, sf_dir):
    """Q6: k-way posting intersection (AND), BM25 top-10."""
    return _hits(_search(spark, sf_dir, q="merge batch window", num_typos=0))


def q_multi_or(spark, sf_dir):
    """Q7: posting union (OR), BM25 top-10."""
    return _hits(_search(spark, sf_dir, q="merge window", num_typos=0, mode="or"))


def q_exclusion(spark, sf_dir):
    """Q8: ANDNOT exclusion via '-token'."""
    return _hits(_search(spark, sf_dir, q="merge -batch", num_typos=0))


def q_typo(spark, sf_dir):
    """Q3: Levenshtein ≤2 typo expansion with reference candidate caps."""
    return _hits(_search(spark, sf_dir, q="merg", num_typos=2))


def q_typo_osa(spark, sf_dir):
    """Q3 Damerau-OSA: 'mrege' is one transposition from 'merge'
    (cost 1 under OSA, 2 under plain Levenshtein), so num_typos=1 only
    finds it with the reference's metric (src/art.cpp:1149-1177)."""
    return _hits(
        _search(spark, sf_dir, q="mrege", num_typos=1, typo_distance="osa")
    )


def q_typo_osa2(spark, sf_dir):
    """Q3 Damerau-OSA at num_typos=2 (r2 VERDICT missing #4): 'mregi'
    is transposition + substitution from 'merge' — OSA cost 2, exactly
    the reference's two-row DP traversal budget
    (src/art.cpp:1149-1177). DuckDB's damerau_levenshtein is the
    UNRESTRICTED metric, which agrees with OSA here because the corpus
    vocabulary contains no term within distance 2 where the metrics
    diverge (verified by brute force over both sf dictionaries; the
    divergence regime itself is covered by
    test_osa_matches_duckdb_damerau_at_cost_1)."""
    return _hits(
        _search(spark, sf_dir, q="mregi", num_typos=2, typo_distance="osa")
    )


def q_typo_threshold(spark, sf_dir):
    """Q3/Q4 typo_tokens_threshold: 'merg' has no exact match but its
    cost-1 correction ('merge') matches far more than 10 docs, so
    deepening stops at cost 1 — the oracle is the cost≤1 expansion
    (reference stops enumerating costlier suggestions once results
    reach the threshold, src/index.cpp:947-950)."""
    return _hits(
        _search(spark, sf_dir, q="merg", num_typos=2, typo_tokens_threshold=10)
    )


def q_typo_max_score(spark, sf_dir):
    """Q3/Q5 rank_tokens_by=MAX_SCORE: typo candidates ranked by the
    max static score (n_chars) of their docs instead of df
    (reference token_ordering, include/art.h:124-127)."""
    return _hits(
        _search(spark, sf_dir, q="merg", num_typos=2, rank_tokens_by="max_score")
    )


def q_prefix(spark, sf_dir):
    """Q3 prefix mode: prefix-on-last-token expansion. Deliberately
    relies on the DEFAULT (reference: prefix=true,
    src/core_api.cpp:299) — this gate proves the default is on."""
    return _hits(_search(spark, sf_dir, q="wind", num_typos=0))


def q_prefix_off(spark, sf_dir):
    """Q3 prefix off-switch: 'wind' is not a whole term in the corpus,
    so with prefix_last=False it must match NOTHING (the default-on
    gate above returns a full page from 'window' docs)."""
    return _hits(_search(spark, sf_dir, q="wind", num_typos=0, prefix_last=False))


def q_synonyms(spark, sf_dir):
    """Q2: multi-token synonym window — the one-way rule
    'merge batch' → 'window' rewrites the query to a variant vector,
    searched like the original and merged by max score
    (reference src/collection.cpp:1929-2064). drop_tokens_threshold=0
    disables the fallback so the oracle is exactly two variants."""
    from typesense_spark.search.synonyms import SynonymRule, SynonymStore

    store = SynonymStore(
        [SynonymRule("mb-window", ("merge", "batch"), (("window",),))]
    )
    return _hits(
        _search(
            spark, sf_dir, q="merge batch", num_typos=0,
            drop_tokens_threshold=0, synonym_store=store,
        )
    )


def q_drop_tokens(spark, sf_dir):
    """Q16: drop-tokens fallback ('zzznope' matches nothing)."""
    return _hits(_search(spark, sf_dir, q="merge zzznope", num_typos=0))


def q_filter(spark, sf_dir):
    """Q9: attribute filter conjunction with the text query."""
    return _hits(
        _search(spark, sf_dir, q="merge", num_typos=0, filter_expr="lang = 'en' AND n_chars >= 200")
    )


def q_filter_dsl(spark, sf_dir):
    """Q9 reference filter DSL: `:=` exact string, numeric comparator
    list (OR), and token-AND string CONTAINS, ANDed by `&&`
    (reference src/collection.cpp:1741-1891)."""
    return _hits(
        _search(
            spark, sf_dir, q="merge", num_typos=0,
            filter_by="lang := en && n_chars: [>= 900, < 300] && text: batch window",
        )
    )


def q_text_match(spark, sf_dir):
    """Text-match-PRIMARY ranking parity mode (r4 VERDICT #4): packed
    ``(words<<16)|(255-typo_cost)<<8|(100-spread)`` — the reference's
    DEFAULT primary relevance (``src/collection.cpp:713-728``, packing
    ``include/match_score.h:49-57``) — ranks first, BM25 demoted to
    tie-break. Exact 2-token AND query (no prefix, no typos): every
    hit carries cost byte 255 and words/spread from the position
    sweep, which for two tokens reduces to the min pairwise position
    distance (≤ WINDOW_SIZE) — exactly expressible in SQL, so this
    gate hash-checks score AND ordering against DuckDB."""
    res = _search(
        spark, sf_dir, q="merge batch", num_typos=0, prefix_last=False,
        rank_by_text_match=True,
    )
    return res.hits.select(
        F.col("rank").cast("long").alias("rank"),
        "doc_id",
        "match_score",
        "score_milli",
    ).orderBy("rank")


def q_weighted_fields(spark, sf_dir):
    """Q12 query_by_weights: two-field AND search where the doc score is
    the field-wise weighted sum of per-token best contributions
    (reference default weights N..1, src/collection.cpp:593-597)."""
    from typesense_spark.search import SearchRequest, search

    ix = get_index2(spark, sf_dir)
    return _hits(
        search(
            ix,
            SearchRequest(
                q="merge src7", fields=("text", "source"), num_typos=0,
                mode="and", drop_tokens_threshold=0, query_by_weights=(2, 1),
            ),
        )
    )


def q_exclusion_only(spark, sf_dir):
    """Q1+Q8: exclusion-only query promotes to wildcard-minus-excludes
    (reference q_include_tokens fallback, src/collection.cpp:1189-1192);
    attribute sort orders the surviving universe."""
    res = _search(
        spark,
        sf_dir,
        q="-merge",
        num_typos=0,
        sort_by=(("n_chars", "desc"),),
        include_fields=("n_chars",),
    )
    return res.hits.select(
        F.col("rank").cast("long").alias("rank"),
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
    )


def q_wildcard(spark, sf_dir):
    """Q10: wildcard q=* with filter + attribute sort."""
    res = _search(
        spark,
        sf_dir,
        q="*",
        filter_expr="lang = 'en'",
        sort_by=(("n_chars", "desc"),),
        include_fields=("n_chars",),
    )
    return res.hits.select(
        F.col("rank").cast("long").alias("rank"),
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
    ).orderBy("rank")


def q_facet_query(spark, sf_dir):
    """Q18: facet-value autocomplete over the matched set with
    matched-prefix highlighting (facet query 'e' prefix-matches 'en')."""
    from typesense_spark.search.engine import facet_value_query

    res = _search(spark, sf_dir, q="merge", num_typos=0)
    ix = get_index(spark, sf_dir)
    return facet_value_query(
        ix, res.matched, "lang", "e", num_typos=0
    ).orderBy(F.desc("facet_count"), "facet_value")


def q_export(spark, sf_dir):
    """S4: filtered + projected document export (JSONL write is the
    sink; the gate compares the exported relation)."""
    import tempfile

    from typesense_spark.sources.export import export_documents

    ix = get_index(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="ts_export_")
    return export_documents(
        ix, out, fmt="jsonl", filter_by="lang := en",
        include_fields=("text", "lang"),
    ).orderBy("doc_id")


def q_snapshot_travel(spark, sf_dir):
    """Iceberg-shaped snapshot layer (index/snapshots.py): build →
    commit v1 → copy-on-write delete of doc_ids 0..9 → read BOTH
    versions. Version 1 (time travel) must still contain the victims'
    postings; version 2 (HEAD) must not — one relation, fully
    hash-checkable against the plain tf oracle."""
    import tempfile

    from typesense_spark.index import build_index, snapshots

    docs = _docs(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="ts_snap_")
    bkw = dict(block_size=64, salt_threshold=200, n_salts=4)
    ix = build_index(spark, docs, fields=["text"], id_col="doc_id", num_buckets=8, **bkw)
    snapshots.commit_index(root, ix, n_groups=2, build_kw=bkw)
    snapshots.delete_docs_versioned(spark, root, list(range(10)), ["text"])
    parts = []
    for v in (1, 2):
        ixv = snapshots.load_index(spark, root, version=v)
        parts.append(
            ixv.decoded(["table", "merge"], ["text"]).select(
                F.lit(v).alias("version"), "term", "doc_id", "tf"
            )
        )
    return parts[0].unionByName(parts[1]).orderBy("version", "term", "doc_id")


def q_delete_rebuild(spark, sf_dir):
    """S7: checkpointed build → delete doc_ids 0..9 → decoded postings
    of the REBUILT buckets must equal the surviving docs' tf exactly
    (frozen-stats semantics: tf is stat-independent, so the oracle is
    the plain tf relation minus the victims)."""
    import tempfile

    from typesense_spark.index.checkpoint import checkpointed_build, load_checkpointed
    from typesense_spark.index.maintain import delete_docs

    docs = _docs(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="ts_delete_")
    checkpointed_build(
        spark, docs, out, fields=["text"], id_col="doc_id", n_groups=2,
        num_buckets=8, block_size=64,
    )
    delete_docs(spark, out, list(range(10)), fields=["text"])
    ix = load_checkpointed(spark, out)
    return (
        ix.decoded(["table", "merge"], ["text"])
        .select("term", "doc_id", "tf")
        .orderBy("term", "doc_id")
    )


def q_delete_by_filter(spark, sf_dir):
    """S7 delete-by-filter (reference del_remove_documents filter arm,
    src/core_api.cpp:880+): checkpointed build → delete every doc
    matching ``lang := en`` via the filter DSL → decoded postings of
    the rebuilt buckets must equal the surviving (non-en) docs' tf
    exactly (same frozen-stats contract as q_delete_rebuild)."""
    import tempfile

    from typesense_spark.index.checkpoint import checkpointed_build, load_checkpointed
    from typesense_spark.index.maintain import delete_docs_by_filter

    docs = _docs(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="ts_delfil_")
    checkpointed_build(
        spark, docs, out, fields=["text"], id_col="doc_id", n_groups=2,
        num_buckets=8, block_size=64,
    )
    delete_docs_by_filter(spark, out, "lang := en", fields=["text"])
    ix = load_checkpointed(spark, out)
    return (
        ix.decoded(["table", "merge"], ["text"])
        .select("term", "doc_id", "tf")
        .orderBy("term", "doc_id")
    )


def q_upsert_rebuild(spark, sf_dir):
    """S8: checkpointed build → upsert docs 0..4 with replacement text
    (one brand-new term) → decoded postings must equal the tf relation
    of the MODIFIED corpus exactly, including the new term appended to
    the frozen dictionary."""
    import tempfile

    from typesense_spark.index.checkpoint import checkpointed_build, load_checkpointed
    from typesense_spark.index.maintain import upsert_docs

    docs = _docs(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="ts_upsert_")
    checkpointed_build(
        spark, docs, out, fields=["text"], id_col="doc_id", n_groups=2,
        num_buckets=8, block_size=64,
    )
    new_rows = spark.createDataFrame(
        [(i, "merge zzglorp merge") for i in range(5)],
        schema="doc_id long, text string",
    )
    upsert_docs(spark, out, new_rows, key_cols=["doc_id"], fields=["text"])
    ix = load_checkpointed(spark, out)
    return (
        ix.decoded(["merge", "zzglorp", "table"], ["text"])
        .select("term", "doc_id", "tf")
        .orderBy("term", "doc_id")
    )


def q_facet_counts(spark, sf_dir):
    """Q17/Q19: facet counting over the full matched set."""
    res = _search(spark, sf_dir, q="merge", num_typos=0, facet_by=("lang",))
    return res.facets["lang"].select(
        "facet_value", F.col("facet_count").cast("long").alias("facet_count")
    ).orderBy(F.desc("facet_count"), "facet_value")


def q_facet_stats(spark, sf_dir):
    """Q17: numeric facet stats min/max/sum/count + quantized avg."""
    res = _search(spark, sf_dir, q="merge", num_typos=0, facet_stats_for=("n_chars",))
    return res.facet_stats["n_chars"]


def q_grouped(spark, sf_dir):
    """Q15: grouped top-k (group_by lang, 2 hits per group)."""
    res = _search(
        spark, sf_dir, q="merge", num_typos=0, group_by=("lang",), group_limit=2
    )
    return res.grouped.select(
        "lang", "doc_id", "score_milli", F.col("group_rank").cast("long").alias("group_rank")
    ).orderBy("lang", "group_rank")


def q_pagination(spark, sf_dir):
    """Q22: page 2, per_page 5 (ranks 6..10)."""
    return _hits(_search(spark, sf_dir, q="merge", num_typos=0, page=2, per_page=5))


def q_wand(spark, sf_dir):
    """Q14/M4: block-max WAND pruned OR query — must equal exhaustive."""
    return _hits(
        _search(
            spark, sf_dir, q="merge window fast", num_typos=0, mode="or",
            use_wand=True, per_page=20,
        )
    )


def q_wand_filtered(spark, sf_dir):
    """Q14/M4 + Q9: block-max WAND under an attribute filter — τ is
    computed over the filter-restricted seed set (filter-first, like
    the reference, src/index.cpp:1322-1331), so the most common
    production shape (filtered OR query) prunes instead of falling
    back; result must equal the exhaustive filtered plan."""
    return _hits(
        _search(
            spark, sf_dir, q="merge window fast", num_typos=0, mode="or",
            use_wand=True, filter_expr="lang = 'en'", per_page=20,
        )
    )


def q_term_dictionary(spark, sf_dir):
    """B6: term dictionary (df/cf/max_tf), top 20 by df."""
    ix = get_index(spark, sf_dir)
    return (
        ix.terms.select("term", "df", "cf", "max_tf")
        .orderBy(F.col("df").desc(), "term")
        .limit(20)
    )


def q_doc_lengths(spark, sf_dir):
    """B8: doc-attributes table (BM25 length norm input)."""
    ix = get_index(spark, sf_dir)
    return ix.doc_attrs.select("doc_id", "dl").orderBy("doc_id")


def q_postings_roundtrip(spark, sf_dir):
    """B6/B10: pack→unpack round-trip of compressed posting blocks."""
    ix = get_index(spark, sf_dir)
    return (
        ix.decoded(["table", "merge"], ["text"])
        .select("term", "doc_id", "tf")
        .orderBy("term", "doc_id")
    )


# ------------------------------------------------- training-data ops entries


def q_dedup_exact(spark, sf_dir):
    from typesense_spark.ops.dedup import exact_duplicates

    return exact_duplicates(_docs(spark, sf_dir), "text", min_count=1).orderBy(
        "text_hash"
    )


def q_dedup_jaccard(spark, sf_dir):
    from typesense_spark.ops.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), "text", threshold_milli=20_000
    ).orderBy("doc_a", "doc_b")


def q_dedup_minhash(spark, sf_dir):
    from typesense_spark.ops.dedup import lsh_candidate_pairs

    return lsh_candidate_pairs(
        _docs(spark, sf_dir), "text", use_hash_ids=False
    ).orderBy("doc_a", "doc_b")


def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTER assignment: connected components over the LSH
    candidate pairs (min-label propagation; cluster = smallest doc_id
    in the component) — the keep/drop decision step of a dedup
    pipeline."""
    from typesense_spark.ops.dedup import duplicate_clusters, lsh_candidate_pairs

    pairs = lsh_candidate_pairs(_docs(spark, sf_dir), "text", use_hash_ids=False)
    return duplicate_clusters(pairs).orderBy("doc_id")


def q_dedup_simhash(spark, sf_dir):
    from typesense_spark.ops.dedup import simhash_fingerprints

    return simhash_fingerprints(
        _docs(spark, sf_dir), "text", use_hash_ids=False
    ).orderBy("doc_id")


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs via the PIGEONHOLE equi-join (the scale
    path); the oracle computes the same pairs with the quadratic form
    in SQL — proving the chunked join is exactly equivalent."""
    from typesense_spark.ops.dedup import simhash_pairs

    return simhash_pairs(
        _docs(spark, sf_dir), "text", max_hamming=4, use_hash_ids=False
    ).orderBy("doc_a", "doc_b")


def q_ann_ivf_kmeans(spark, sf_dir):
    """IVF over LEARNED cells (kmeans_cells, farthest-point init) with
    multi-probe — the production ANN path, HARD-checked (r2 VERDICT
    "What's wrong" #1): with ``n_probes = n_cells`` the probe union
    covers the whole cell partition, so IVF is provably exhaustive and
    must reproduce brute-force top-k EXACTLY — which is SQL-expressible,
    making the oracle independent of the learned centroids. Any bug in
    the k-means assignment, centroid ranking, probe union, or per-cell
    scan surfaces as a hash mismatch. Partial-probe behavior (recall
    ≥0.9 at n_probes=2) stays asserted in pytest (test_ops)."""
    from typesense_spark.ops.similarity import ivf_topk, kmeans_cells

    emb = _emb(spark, sf_dir)
    cells = kmeans_cells(emb, n_cells=8, n_iters=3)
    return ivf_topk(
        emb.join(cells, "vec_id"), query_ids=[0, 1, 2], k=5,
        cell_col="cell", n_probes=8,
    ).orderBy("query_id", "rank")


def q_embed_dup(spark, sf_dir):
    from typesense_spark.ops.similarity import cosine_dup_pairs

    return cosine_dup_pairs(_emb(spark, sf_dir), threshold_micro=500_000).orderBy(
        "vec_a", "vec_b"
    )


def q_ann_topk(spark, sf_dir):
    from typesense_spark.ops.similarity import cosine_topk

    return cosine_topk(_emb(spark, sf_dir), query_ids=[0, 1, 2], k=5).orderBy(
        "query_id", "rank"
    )


def q_ann_ivf(spark, sf_dir):
    from typesense_spark.ops.similarity import ivf_topk

    return ivf_topk(_emb(spark, sf_dir), query_ids=[0, 1, 2], k=5).orderBy(
        "query_id", "rank"
    )


def q_langid(spark, sf_dir):
    from typesense_spark.ops.textstats import language_id

    return language_id(_docs(spark, sf_dir), "text").orderBy("doc_id")


def q_quality(spark, sf_dir):
    from typesense_spark.ops.textstats import quality_scores

    return quality_scores(_docs(spark, sf_dir), "text").orderBy("doc_id")


def q_token_counts(spark, sf_dir):
    from typesense_spark.ops.textstats import token_counts

    return token_counts(_docs(spark, sf_dir), "text").orderBy("doc_id")


def q_pii_scrub(spark, sf_dir):
    """Training-pipeline PII redaction (ops/textstats.scrub_pii): the
    corpus has no PII, so the gate PLANTS deterministic addresses
    derived from doc_id — constructed identically in the oracle SQL —
    then counts and redacts them with JVM regexes (map-side only)."""
    from typesense_spark.ops.textstats import scrub_pii

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 call 555-123-4567"),
        ).alias("pii_text"),
    )
    r = scrub_pii(d, "pii_text")
    return r.select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_phone").cast("long").alias("n_phone"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        "scrubbed",
    ).orderBy("doc_id")


def q_fingerprint(spark, sf_dir):
    from typesense_spark.ops.textstats import fingerprints

    return fingerprints(_docs(spark, sf_dir), "text", use_hash_ids=False).orderBy(
        "doc_id"
    )


# non-Latin planted suffix (r3 VERDICT missing #2): Cyrillic + CJK pass
# through VERBATIM (reference keeps unmappable bytes,
# src/tokenizer.cpp:79-81), accented Latin folds, unicode punctuation
# drops — all through the REAL index build + postings codec
_UNI_SUFFIX = " Приветzq, 世界qz Müllerzq — ёлка42"
_UNI_TERMS = ["merge", "mullerzq", "Приветzq", "ёлка42", "世界qz"]


def q_unicode_tokens(spark, sf_dir):
    """B4 unicode branch end-to-end: docs with planted multi-script
    suffixes go through build_index (pandas tokenize path — corpus is
    non-ASCII), and the decoded postings must carry the passthrough
    terms verbatim alongside the base corpus' ASCII terms."""
    from typesense_spark.index import build_index

    d = _docs(spark, sf_dir).select(
        "doc_id", F.concat(F.col("text"), F.lit(_UNI_SUFFIX)).alias("utext")
    )
    ix = build_index(
        spark, d, fields=["utext"], id_col="doc_id", num_buckets=8, block_size=64
    )
    return (
        ix.decoded(_UNI_TERMS, ["utext"])
        .select("term", "doc_id", "tf")
        .orderBy("term", "doc_id")
    )


def unicode_tokens_oracle() -> str:
    """DuckDB side: the SAME pinned tokenizer as a translate-table +
    RE2 expression (tokenizer.duckdb_tokenize_expr) over the same
    planted text — an independent recomputation, not a constant list."""
    from typesense_spark.tokenizer import duckdb_tokenize_expr

    expr = duckdb_tokenize_expr("l[i + 1]")
    terms_in = ", ".join(f"'{t}'" for t in _UNI_TERMS)
    sfx = _UNI_SUFFIX.replace("'", "''")
    return (
        "WITH udocs AS (SELECT doc_id, text || '" + sfx + "' AS utext FROM documents), "
        "rawtok AS (SELECT doc_id, " + expr + " AS term "
        "FROM (SELECT doc_id, string_split_regex(utext, '[ \\n]') AS l FROM udocs) "
        "CROSS JOIN range(0, 8192) AS r(i) WHERE i < len(l)) "
        "SELECT term, doc_id, count(*) AS tf FROM rawtok "
        f"WHERE term IN ({terms_in}) GROUP BY 1, 2 ORDER BY term, doc_id"
    )


def q_events_window(spark, sf_dir):
    """Tumbling-window aggregation over the events stream table
    (Structured-Streaming-shaped, run in batch; values cent-quantized)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # timezone-independent tumbling window: ts is TIMESTAMP_NTZ, so build
    # the hour-truncated epoch from TZ-free date/hour fields (date_trunc /
    # unix_timestamp would be session-TZ sensitive)
    return (
        ev.groupBy(
            (
                F.expr("unix_date(CAST(ts AS DATE))").cast("long") * 86400
                + F.hour("ts").cast("long") * 3600
            ).alias("window_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("sum_value_cents"),
        )
        .orderBy("window_start", "event_type")
    )


def q_events_json(spark, sf_dir):
    """Semi-structured props: JSON field extraction + bucketed agg
    (training-pipeline staple; JVM get_json_object — no Python)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.select(
            F.get_json_object("props", "$.k").cast("long").alias("k"),
            "event_type",
        )
        .groupBy((F.col("k") % 10).alias("k_bucket"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("k").alias("sum_k"))
        .orderBy("k_bucket", "event_type")
    )


BATCH_QUERIES = [
    ("q1", "table"),
    ("q2", "merge batch"),
    ("q3", "window fast"),
    ("q4", "scan filter"),
    ("q5", "group order"),
    ("q6", "stream data"),
    ("q7", "hash key"),
    ("q8", "table merge window"),
]

# full-surface batch (r3 VERDICT #1): typo expansion + prefix-on-last +
# drop-tokens fallback + a synonym-window rewrite + an exclusion, all in
# ONE batch plan; per-query semantics == engine.search (asserted in
# tests/test_features.py), oracled end-to-end below
BATCH_FULL_QUERIES = [
    ("f1", "table scan"),
    ("f2", "merge zzznope"),  # fallback → ['merge']
    ("f3", "merge batch"),  # synonym rule rewrites to ['window']
    ("f4", "window -fast"),  # exclusion
    ("f5", "stream data order"),  # 3-token drop schedule
]
BATCH_FULL_KW = dict(num_typos=1, prefix_last=True, drop_tokens_threshold=10, k=10)


def _batch_full_store():
    from typesense_spark.search.synonyms import SynonymRule, SynonymStore

    return SynonymStore(
        [SynonymRule("mb-window", ("merge", "batch"), (("window",),))]
    )


def _batch_full_vectors():
    """The static query-rewrite structure (attempt schedule + synonym
    variants) shared by the Spark path and the oracle — pure driver-side
    string work in BOTH implementations; everything dynamic (tokenize,
    BM25, expansion, fallback cutoff) is recomputed independently in SQL.
    Returns [(vid, qid, aidx, is_syn, tokens)] and {qid: [excluded]}."""
    from typesense_spark.search.engine import _attempt_plan, parse_query
    from typesense_spark.search.synonyms import synonym_reduction

    store = _batch_full_store()
    vectors, excl = [], {}
    vid = 0
    for qid, q in BATCH_FULL_QUERIES:
        tokens, excludes = parse_query(q)
        if excludes:
            excl[qid] = excludes
        for aidx, attempt in enumerate(
            _attempt_plan(tokens, BATCH_FULL_KW["drop_tokens_threshold"])
        ):
            vectors.append((vid, qid, aidx, 0, attempt))
            vid += 1
        for si, vtoks in enumerate(synonym_reduction(tokens, store)):
            vectors.append((vid, qid, 1_000_000 + si, 1, vtoks))
            vid += 1
    return vectors, excl


def q_batch_full(spark, sf_dir):
    """Full-surface batch mode (r3 VERDICT #1): typos, prefix, synonym
    windows, drop-tokens fallback, and exclusions — N queries, one
    set-oriented plan (search/batch.py)."""
    from typesense_spark.search.batch import batch_search

    return batch_search(
        get_index(spark, sf_dir), BATCH_FULL_QUERIES, fields=("text",),
        synonym_store=_batch_full_store(), **BATCH_FULL_KW
    ).orderBy("qid", "rank")


def batch_full_oracle() -> str:
    """DuckDB SQL for the full-surface batch gate: per-vector candidate
    expansion (typo caps + prefix top-10, mirroring oracle.expand_token),
    per-vector AND scoring, the drop-tokens cumulative-count cutoff as a
    window computation, synonym-variant max-score merge, and per-query
    exclusions — all recomputed from the raw documents view."""
    vectors, excl = _batch_full_vectors()
    nt, pl, thr, k = (
        BATCH_FULL_KW["num_typos"],
        BATCH_FULL_KW["prefix_last"],
        BATCH_FULL_KW["drop_tokens_threshold"],
        BATCH_FULL_KW["k"],
    )
    cand_parts = []
    vmeta_vals = []
    for vid, qid, aidx, is_syn, toks in vectors:
        vmeta_vals.append(f"({vid}, '{qid}', {aidx}, {is_syn}, {len(toks)})")
        for i, tok in enumerate(toks):
            mc = bounded_typo_cost(tok, nt)
            cand_parts.append(
                f"SELECT {vid} AS vid, {i} AS qidx, term FROM ("
                f"SELECT term, levenshtein(term, '{tok}') AS cost, "
                f"row_number() OVER (PARTITION BY levenshtein(term, '{tok}') "
                f"ORDER BY df DESC, term) AS rn "
                f"FROM tstat WHERE levenshtein(term, '{tok}') <= {mc}"
                f") WHERE cost = 0 OR rn <= {MAX_CANDIDATES}"
            )
            if pl and i == len(toks) - 1:
                cand_parts.append(
                    f"SELECT {vid} AS vid, {i} AS qidx, term FROM ("
                    f"SELECT term, row_number() OVER (ORDER BY df DESC, term) AS rn "
                    f"FROM tstat WHERE term LIKE '{tok}%' AND term <> '{tok}'"
                    f") WHERE rn <= {MAX_CANDIDATES_PREFIX}"
                )
    ex_vals = [
        f"('{qid}', '{t}')" for qid, toks in excl.items() for t in toks
    ] or ["('__none__', '__none__')"]
    return (
        _PRELUDE
        + f", vmeta(vid, qid, aidx, is_syn, n_tokens) AS (VALUES {', '.join(vmeta_vals)})"
        + ", bcand AS (SELECT DISTINCT vid, qidx, term FROM ("
        + " UNION ALL ".join(cand_parts)
        + "))"
        + ", vtok AS (SELECT bcand.vid, bcand.qidx, contrib.doc_id, "
        "max(contrib.c) AS best FROM contrib JOIN bcand USING (term) GROUP BY 1, 2, 3)"
        + ", vsc AS (SELECT v.vid, v.qid, v.aidx, v.is_syn, t.doc_id, "
        "CAST(sum(t.best) AS BIGINT) AS s FROM vtok t JOIN vmeta v USING (vid) "
        "GROUP BY 1, 2, 3, 4, 5, v.n_tokens HAVING count(*) = v.n_tokens)"
        + ", firsts AS (SELECT qid, doc_id, min(aidx) AS fa FROM vsc "
        "WHERE is_syn = 0 GROUP BY 1, 2)"
        + ", cum AS (SELECT qid, fa, sum(count(*)) OVER "
        "(PARTITION BY qid ORDER BY fa) AS cumn FROM firsts GROUP BY 1, 2)"
        + f", cut AS (SELECT qid, min(fa) AS cutoff FROM cum WHERE cumn >= {thr} GROUP BY 1)"
        + ", allsc AS ("
        "SELECT o.qid, o.doc_id, o.s FROM vsc o LEFT JOIN cut USING (qid) "
        "WHERE o.is_syn = 0 AND o.aidx <= coalesce(cut.cutoff, 1000000) "
        "UNION ALL SELECT qid, doc_id, s FROM vsc WHERE is_syn = 1)"
        + f", exmap(qid, term) AS (VALUES {', '.join(ex_vals)})"
        + ", exdocs AS (SELECT DISTINCT e.qid, tok.doc_id "
        "FROM tok JOIN exmap e ON tok.term = e.term)"
        + ", mrg AS (SELECT a.qid, a.doc_id, CAST(max(a.s) AS BIGINT) AS score_milli "
        "FROM allsc a ANTI JOIN exdocs x ON x.qid = a.qid AND x.doc_id = a.doc_id "
        "GROUP BY 1, 2)"
        + " SELECT qid, CAST(rn AS BIGINT) AS rank, doc_id, score_milli FROM ("
        "SELECT *, row_number() OVER (PARTITION BY qid "
        "ORDER BY score_milli DESC, doc_id DESC) AS rn FROM mrg) "
        f"WHERE rn <= {k} ORDER BY qid, rank"
    )


# per-query attribute filters in batch mode (Q9 × batch): two distinct
# filter_by strings shared by three queries + one unfiltered query —
# the batch plan compiles each DISTINCT filter once
BATCH_FILTERED_QUERIES = [
    ("b1", "merge batch"),
    ("b2", "merge batch"),
    ("b3", "window"),
    ("b4", "window"),
]
BATCH_FILTERS = {
    "b1": "lang := en",
    "b2": "n_chars: >= 500",
    "b3": "lang := en",
    # b4 unfiltered
}


def q_batch_filtered(spark, sf_dir):
    from typesense_spark.search.batch import batch_search

    return batch_search(
        get_index(spark, sf_dir), BATCH_FILTERED_QUERIES, fields=("text",),
        num_typos=0, prefix_last=False, k=10, filters=BATCH_FILTERS,
    ).orderBy("qid", "rank")


def batch_filtered_oracle() -> str:
    qvals = []
    for qid, q in BATCH_FILTERED_QUERIES:
        from typesense_spark.tokenizer import tokenize_terms

        toks = tokenize_terms(q)
        for i, t in enumerate(toks):
            qvals.append(f"('{qid}', {i}, '{t}', {len(toks)})")
    fconds = {
        "b1": "d.lang = 'en'",
        "b2": "d.n_chars >= 500",
        "b3": "d.lang = 'en'",
    }
    keep_parts = [
        f"SELECT '{qid}' AS qid, doc_id FROM documents d WHERE {cond}"
        for qid, cond in fconds.items()
    ]
    filtered_in = ", ".join(f"'{q}'" for q in fconds)
    return (
        _PRELUDE
        + f", qset(qid, qidx, term, n_tokens) AS (VALUES {', '.join(qvals)})"
        + ", per_tok AS (SELECT qset.qid, qset.n_tokens, contrib.doc_id, qset.qidx, "
        "max(contrib.c) AS best FROM contrib JOIN qset USING (term) GROUP BY 1, 2, 3, 4)"
        ", scored AS (SELECT qid, doc_id, CAST(sum(best) AS BIGINT) AS score_milli FROM per_tok "
        "GROUP BY qid, n_tokens, doc_id HAVING count(*) = n_tokens)"
        + ", keep AS (" + " UNION ALL ".join(keep_parts) + ")"
        + ", kept AS ("
        f"SELECT s.* FROM scored s JOIN keep k ON k.qid = s.qid AND k.doc_id = s.doc_id "
        f"UNION ALL SELECT * FROM scored WHERE qid NOT IN ({filtered_in}))"
        + " SELECT qid, CAST(rn AS BIGINT) AS rank, doc_id, score_milli FROM ("
        "SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score_milli DESC, doc_id DESC) AS rn "
        "FROM kept) WHERE rn <= 10 ORDER BY qid, rank"
    )


def q_batch_facets(spark, sf_dir):
    """Q17 × batch: per-query facet counts over the FULL matched set
    for a whole query batch in ONE plan (the reference computes facets
    on every faceted request, src/index.cpp:608-816)."""
    from typesense_spark.search.batch import batch_facet_counts

    return batch_facet_counts(
        get_index(spark, sf_dir), BATCH_QUERIES, "lang",
        fields=("text",), num_typos=0, prefix_last=False,
    ).orderBy("qid", F.desc("facet_count"), "facet_value")


def batch_facets_oracle() -> str:
    from typesense_spark.tokenizer import tokenize_terms

    qvals = []
    for qid, q in BATCH_QUERIES:
        toks = tokenize_terms(q)
        for i, t in enumerate(toks):
            qvals.append(f"('{qid}', {i}, '{t}', {len(toks)})")
    return (
        _PRELUDE
        + f", qset(qid, qidx, term, n_tokens) AS (VALUES {', '.join(qvals)})"
        + ", per_tok AS (SELECT qset.qid, qset.n_tokens, contrib.doc_id, qset.qidx, "
        "max(contrib.c) AS best FROM contrib JOIN qset USING (term) GROUP BY 1, 2, 3, 4)"
        ", scored AS (SELECT qid, doc_id FROM per_tok "
        "GROUP BY qid, n_tokens, doc_id HAVING count(*) = n_tokens)"
        + ", fc AS (SELECT s.qid, d.lang AS facet_value, count(*) AS facet_count "
        "FROM scored s JOIN documents d USING (doc_id) GROUP BY 1, 2)"
        + " SELECT qid, facet_value, facet_count FROM ("
        "SELECT *, row_number() OVER (PARTITION BY qid "
        "ORDER BY facet_count DESC, facet_value) AS rn FROM fc) "
        "WHERE rn <= 10 ORDER BY qid, facet_count DESC, facet_value"
    )


def q_batch_grouped(spark, sf_dir):
    """Q15 × batch: per-query grouped top-k (2 hits per lang group,
    best 3 groups per query) for a whole batch in ONE plan."""
    from typesense_spark.search.batch import batch_grouped

    return batch_grouped(
        get_index(spark, sf_dir), BATCH_QUERIES, ("lang",), group_limit=2,
        top_groups=3, fields=("text",), num_typos=0, prefix_last=False,
    ).orderBy("qid", "group_pos", "group_rank")


def batch_grouped_oracle() -> str:
    from typesense_spark.tokenizer import tokenize_terms

    qvals = []
    for qid, q in BATCH_QUERIES:
        toks = tokenize_terms(q)
        for i, t in enumerate(toks):
            qvals.append(f"('{qid}', {i}, '{t}', {len(toks)})")
    return (
        _PRELUDE
        + f", qset(qid, qidx, term, n_tokens) AS (VALUES {', '.join(qvals)})"
        + ", per_tok AS (SELECT qset.qid, qset.n_tokens, contrib.doc_id, qset.qidx, "
        "max(contrib.c) AS best FROM contrib JOIN qset USING (term) GROUP BY 1, 2, 3, 4)"
        ", scored AS (SELECT qid, doc_id, CAST(sum(best) AS BIGINT) AS score_milli FROM per_tok "
        "GROUP BY qid, n_tokens, doc_id HAVING count(*) = n_tokens)"
        + ", gm AS (SELECT s.qid, d.lang, s.doc_id, s.score_milli, "
        "row_number() OVER (PARTITION BY s.qid, d.lang "
        "ORDER BY s.score_milli DESC, s.doc_id DESC) AS group_rank "
        "FROM scored s JOIN documents d USING (doc_id))"
        + ", lim AS (SELECT * FROM gm WHERE group_rank <= 2)"
        + ", keyd AS (SELECT *, "
        "max(CASE WHEN group_rank = 1 THEN score_milli END) OVER (PARTITION BY qid, lang) AS g_score, "
        "max(CASE WHEN group_rank = 1 THEN doc_id END) OVER (PARTITION BY qid, lang) AS g_doc "
        "FROM lim)"
        + ", posd AS (SELECT *, dense_rank() OVER (PARTITION BY qid "
        "ORDER BY g_score DESC, g_doc DESC) AS group_pos FROM keyd)"
        + " SELECT qid, lang, CAST(group_pos AS INT) AS group_pos, "
        "CAST(group_rank AS INT) AS group_rank, doc_id, score_milli "
        "FROM posd WHERE group_pos <= 3 ORDER BY qid, group_pos, group_rank"
    )


# typo deepening in batch mode (Q4 × batch): 'daup' expands to 'dup'
# (cost 1, the corpus's ONE rare term) and 'data' (cost 2, frequent) —
# the threshold stops d1 at cost 1, while d2's lang filter leaves too
# few cost-1 hits so it deepens to cost 2 (the probe counts NARROWED
# results, like the reference
# src/index.cpp:947-950 which stops once FILTERED results reach the
# threshold). d3 runs the level probe under a two-token AND; d4's
# expansion has no cost-2 candidates (maxc=1), covering the
# full-depth fallthrough.
BATCH_DEEPEN_QUERIES = [
    ("d1", "daup"),
    ("d2", "daup"),
    ("d3", "batch daup"),
    ("d4", "merg"),
]
BATCH_DEEPEN_FILTERS = {"d2": "lang := fr"}
BATCH_DEEPEN_KW = dict(
    num_typos=2, prefix_last=False, k=10, typo_tokens_threshold=10
)


def q_batch_deepen(spark, sf_dir):
    """Q4 × batch: typo_tokens_threshold deepening, set-oriented — each
    vector's cost-level stop rule computed from ONE conditional
    aggregation plus a per-(vector, level) narrowed count relation
    (search/batch.py deepen path)."""
    from typesense_spark.search.batch import batch_search

    return batch_search(
        get_index(spark, sf_dir), BATCH_DEEPEN_QUERIES, fields=("text",),
        filters=BATCH_DEEPEN_FILTERS, **BATCH_DEEPEN_KW
    ).orderBy("qid", "rank")


def batch_deepen_oracle() -> str:
    """DuckDB mirror of the batch deepening pipeline: per-query typo
    expansion WITH costs (same per-cost caps as oracle.expand_token),
    per-level AND scoring via a levels cross join, NARROWED per-level
    result counts, the engine's stop rule (min level < max_cost whose
    count reaches the threshold, else full depth), and top-k at the
    chosen level."""
    from typesense_spark.tokenizer import tokenize_terms

    nt = BATCH_DEEPEN_KW["num_typos"]
    thr = BATCH_DEEPEN_KW["typo_tokens_threshold"]
    k = BATCH_DEEPEN_KW["k"]
    qmeta_vals, cand_parts = [], []
    for qid, q in BATCH_DEEPEN_QUERIES:
        toks = tokenize_terms(q)
        qmeta_vals.append(f"('{qid}', {len(toks)})")
        for i, tok in enumerate(toks):
            mc = bounded_typo_cost(tok, nt)
            cand_parts.append(
                f"SELECT '{qid}' AS qid, {i} AS qidx, term, cost FROM ("
                f"SELECT term, levenshtein(term, '{tok}') AS cost, "
                f"row_number() OVER (PARTITION BY levenshtein(term, '{tok}') "
                f"ORDER BY df DESC, term) AS rn "
                f"FROM tstat WHERE levenshtein(term, '{tok}') <= {mc}"
                f") WHERE cost = 0 OR rn <= {MAX_CANDIDATES}"
            )
    fcond = " ".join(
        f"WHEN f.qid = '{qid}' THEN d.lang = '{dsl.split(':=')[1].strip()}'"
        for qid, dsl in BATCH_DEEPEN_FILTERS.items()
    )
    filt = f"CASE {fcond} ELSE TRUE END"
    lv_vals = ", ".join(f"({c})" for c in range(nt + 1))
    return (
        _PRELUDE
        + f", qmeta(qid, n_tokens) AS (VALUES {', '.join(qmeta_vals)})"
        + ", bcand AS (SELECT DISTINCT qid, qidx, term, cost FROM ("
        + " UNION ALL ".join(cand_parts)
        + "))"
        + f", lv(c) AS (VALUES {lv_vals})"
        + ", per_tok AS (SELECT b.qid, b.qidx, l.c, contrib.doc_id, "
        "max(CASE WHEN b.cost <= l.c THEN contrib.c END) AS best "
        "FROM contrib JOIN bcand b USING (term) CROSS JOIN lv l "
        "GROUP BY 1, 2, 3, 4)"
        + ", vsc AS (SELECT p.qid, p.c, p.doc_id, "
        "CAST(sum(p.best) AS BIGINT) AS s, count(p.best) AS m "
        "FROM per_tok p GROUP BY 1, 2, 3)"
        + ", mt AS (SELECT v.* FROM vsc v JOIN qmeta USING (qid) "
        "WHERE v.m = qmeta.n_tokens)"
        + f", nar AS (SELECT f.* FROM mt f JOIN documents d USING (doc_id) WHERE {filt})"
        + ", cnt AS (SELECT qid, c, count(*) AS n FROM nar GROUP BY 1, 2)"
        + ", maxc AS (SELECT qid, max(cost) AS mc FROM bcand GROUP BY 1)"
        + ", chosen AS (SELECT x.qid, coalesce(min(CASE WHEN cnt.c < x.mc "
        f"AND cnt.n >= {thr} THEN cnt.c END), x.mc) AS lvl "
        "FROM maxc x LEFT JOIN cnt ON cnt.qid = x.qid GROUP BY x.qid, x.mc)"
        + ", fin AS (SELECT f.qid, f.doc_id, f.s AS score_milli FROM ("
        "SELECT mt.* FROM mt JOIN chosen ch ON ch.qid = mt.qid AND mt.c = ch.lvl"
        f") f JOIN documents d USING (doc_id) WHERE {filt})"
        + " SELECT qid, CAST(rn AS BIGINT) AS rank, doc_id, score_milli FROM ("
        "SELECT *, row_number() OVER (PARTITION BY qid "
        "ORDER BY score_milli DESC, doc_id DESC) AS rn FROM fin) "
        f"WHERE rn <= {k} ORDER BY qid, rank"
    )


# curation/overrides in batch mode (Q20 × batch): an exact rule pinning
# a doc + dropping two, a position COLLISION (second rule's claim on an
# occupied slot loses — the loser ranks organically,
# test/collection_override_test.cpp:472-489), and a contains rule firing
# on a different query; c3 has no firing rule. Rule resolution is pure
# driver-side string matching in BOTH implementations (the reference's
# populate_overrides is a std::map walk, src/collection.cpp:427-493);
# everything dynamic — scoring, ranking, the hidden narrowing, winner
# score lookup — recomputes independently in SQL.
BATCH_CURATED_QUERIES = [
    ("c1", "merge batch"),
    ("c2", "window"),
    ("c3", "scan"),
]
BATCH_CURATED_K = 8


def _batch_curated_store():
    from typesense_spark.search.curation import OverrideRule, OverrideStore

    return OverrideStore([
        OverrideRule("a-pin", "merge batch", "exact",
                     add_hits=((3, 2), (5, 6)), drop_hits=(7, 11)),
        OverrideRule("b-collide", "merge batch", "exact",
                     add_hits=((9, 2),)),  # slot 2 taken → 9 ranks organically
        OverrideRule("c-sub", "window", "contains", add_hits=((2, 1),)),
    ])


def q_batch_curated(spark, sf_dir):
    """Q20 × batch: per-query override resolution + hidden narrowing +
    positional splice for a whole batch — scoring/ranking in ONE Spark
    plan, splice over the collected per-query page (search/batch.py
    batch_curated)."""
    from typesense_spark.search.batch import batch_curated

    return batch_curated(
        get_index(spark, sf_dir), BATCH_CURATED_QUERIES, k=BATCH_CURATED_K,
        override_store=_batch_curated_store(), fields=("text",),
        num_typos=0, prefix_last=False,
    ).orderBy("qid", "rank")


def batch_curated_oracle() -> str:
    """DuckDB mirror: resolved pins/hides are the static rewrite
    structure (VALUES); organic ranks map to splice slots via a static
    slot table (winner positions are known); winner scores come from
    the ranked matched set capped at k + n_winners — exactly the page
    slice the engine collects."""
    from typesense_spark.tokenizer import tokenize_terms

    store = _batch_curated_store()
    k = BATCH_CURATED_K
    qvals, win_vals, hid_vals, slot_vals = [], [], [], []
    for qid, q in BATCH_CURATED_QUERIES:
        toks = tokenize_terms(q)
        for i, t in enumerate(toks):
            qvals.append(f"('{qid}', {i}, '{t}', {len(toks)})")
        pins, hides = store.resolve(q)
        by_pos: dict[int, int] = {}
        for d, p in pins.items():
            if p not in by_pos:
                by_pos[p] = d
        lim = k + len(by_pos)
        for p, d in sorted(by_pos.items()):
            if p <= k:
                win_vals.append(f"('{qid}', {p}, {d}, {lim})")
        for d in hides:
            hid_vals.append(f"('{qid}', {d})")
        organic_slots = [s for s in range(1, k + 1) if s not in by_pos]
        for rn, slot in enumerate(organic_slots, start=1):
            slot_vals.append(f"('{qid}', {rn}, {slot})")
    win_sql = ", ".join(win_vals) or "('__none__', 0, -1, 0)"
    hid_sql = ", ".join(hid_vals) or "('__none__', -1)"
    return (
        _PRELUDE
        + f", qset(qid, qidx, term, n_tokens) AS (VALUES {', '.join(qvals)})"
        + f", win(qid, pos, doc_id, lim) AS (VALUES {win_sql})"
        + f", hid(qid, doc_id) AS (VALUES {hid_sql})"
        + f", slotmap(qid, rn, slot) AS (VALUES {', '.join(slot_vals)})"
        + ", per_tok AS (SELECT qset.qid, qset.n_tokens, contrib.doc_id, qset.qidx, "
        "max(contrib.c) AS best FROM contrib JOIN qset USING (term) GROUP BY 1, 2, 3, 4)"
        + ", scored AS (SELECT qid, doc_id, CAST(sum(best) AS BIGINT) AS s FROM per_tok "
        "GROUP BY qid, n_tokens, doc_id HAVING count(*) = n_tokens)"
        + ", nar AS (SELECT sc.* FROM scored sc ANTI JOIN hid "
        "ON hid.qid = sc.qid AND hid.doc_id = sc.doc_id)"
        + ", rnk_all AS (SELECT *, row_number() OVER (PARTITION BY qid "
        "ORDER BY s DESC, doc_id DESC) AS rn FROM nar)"
        + ", rnk_org AS (SELECT *, row_number() OVER (PARTITION BY qid "
        "ORDER BY s DESC, doc_id DESC) AS rn FROM ("
        "SELECT n.* FROM nar n ANTI JOIN win w "
        "ON w.qid = n.qid AND w.doc_id = n.doc_id))"
        + ", organic AS (SELECT r.qid, sm.slot AS rank, r.doc_id, "
        "r.s AS score_milli, FALSE AS curated FROM rnk_org r "
        "JOIN slotmap sm ON sm.qid = r.qid AND sm.rn = r.rn)"
        + ", pinsc AS (SELECT w.qid, w.pos AS rank, w.doc_id, "
        "CAST(coalesce(max(CASE WHEN r.rn <= w.lim THEN r.s END), 0) AS BIGINT) "
        "AS score_milli, TRUE AS curated FROM win w LEFT JOIN rnk_all r "
        "ON r.qid = w.qid AND r.doc_id = w.doc_id GROUP BY 1, 2, 3)"
        + " SELECT qid, CAST(rank AS INT) AS rank, doc_id, score_milli, curated "
        "FROM (SELECT * FROM organic UNION ALL SELECT * FROM pinsc) "
        "WHERE qid <> '__none__' ORDER BY qid, rank"
    )


def q_batch_queries(spark, sf_dir):
    """Set-oriented multi-query search: 8 queries in ONE Spark job
    (the Spark-idiomatic answer to the reference's concurrent-qps
    baseline; see search/batch.py)."""
    from typesense_spark.search.batch import batch_search

    return batch_search(
        get_index(spark, sf_dir), BATCH_QUERIES, fields=("text",), num_typos=0, k=10
    ).orderBy("qid", "rank")


BATCH_TM_QUERIES = [
    ("t1", "merge batch"),
    ("t2", "window fast"),
    ("t3", "scan filter"),
]


def q_batch_text_match(spark, sf_dir):
    """Text-match-primary ranking, batched (see q_text_match): three
    exact 2-token AND queries ranked by the full packed score in ONE
    decode pass; the 2-token sweep reduces to min pairwise position
    distance, so the whole batch hash-checks against SQL."""
    from typesense_spark.search.batch import batch_rerank_text_match

    return batch_rerank_text_match(
        get_index(spark, sf_dir), BATCH_TM_QUERIES, fields=("text",),
        num_typos=0, prefix_last=False, k=10,
    ).orderBy("qid", "rank")


QUERIES = {
    "exact_term": q_exact_term,
    "multi_and": q_multi_and,
    "multi_or": q_multi_or,
    "exclusion": q_exclusion,
    "exclusion_only": q_exclusion_only,
    "typo": q_typo,
    "typo_osa": q_typo_osa,
    "typo_osa2": q_typo_osa2,
    "typo_threshold": q_typo_threshold,
    "typo_max_score": q_typo_max_score,
    "prefix": q_prefix,
    "prefix_off": q_prefix_off,
    "drop_tokens": q_drop_tokens,
    "synonyms": q_synonyms,
    "filter": q_filter,
    "filter_dsl": q_filter_dsl,
    "text_match": q_text_match,
    "weighted_fields": q_weighted_fields,
    "wildcard": q_wildcard,
    "facet_counts": q_facet_counts,
    "facet_query": q_facet_query,
    "facet_stats": q_facet_stats,
    "export": q_export,
    "snapshot_travel": q_snapshot_travel,
    "delete_rebuild": q_delete_rebuild,
    "delete_by_filter": q_delete_by_filter,
    "upsert_rebuild": q_upsert_rebuild,
    "grouped": q_grouped,
    "pagination": q_pagination,
    "wand_or": q_wand,
    "wand_filtered": q_wand_filtered,
    "term_dictionary": q_term_dictionary,
    "doc_lengths": q_doc_lengths,
    "postings_roundtrip": q_postings_roundtrip,
    "dedup_exact": q_dedup_exact,
    "dedup_jaccard": q_dedup_jaccard,
    "dedup_minhash": q_dedup_minhash,
    "dedup_clusters": q_dedup_clusters,
    "dedup_simhash": q_dedup_simhash,
    "simhash_pairs": q_simhash_pairs,
    "embed_dup": q_embed_dup,
    "ann_topk": q_ann_topk,
    "ann_ivf": q_ann_ivf,
    "ann_ivf_kmeans": q_ann_ivf_kmeans,
    "pii_scrub": q_pii_scrub,
    "langid": q_langid,
    "quality": q_quality,
    "token_counts": q_token_counts,
    "fingerprint": q_fingerprint,
    "events_window": q_events_window,
    "events_json": q_events_json,
    "batch_queries": q_batch_queries,
    "batch_text_match": q_batch_text_match,
    "batch_full": q_batch_full,
    "batch_filtered": q_batch_filtered,
    "batch_facets": q_batch_facets,
    "batch_grouped": q_batch_grouped,
    "batch_deepen": q_batch_deepen,
    "batch_curated": q_batch_curated,
    "unicode_tokens": q_unicode_tokens,
}


def build_oracles() -> dict[str, str]:
    from typesense_spark.ops.dedup import (
        LSH_BAND_SIZE,
        MINHASH_PERMS,
        MINHASH_PRIME,
        SIMHASH_A,
        SIMHASH_B,
        SIMHASH_BITS,
    )
    from typesense_spark.ops.textstats import FP_MOD, LANG_MARKERS, STOPWORDS

    o: dict[str, str] = {}
    o["exact_term"] = bm25_oracle(["table"], prefix_last=True)
    o["multi_and"] = bm25_oracle(["merge", "batch", "window"], prefix_last=True)
    o["multi_or"] = bm25_oracle(["merge", "window"], mode="or", prefix_last=True)
    o["exclusion"] = (
        _PRELUDE
        + _cand_sql(["merge"], 0, True)
        + _scored_sql(1)
        + ", excl AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'batch')"
        + ", scored2 AS (SELECT * FROM scored WHERE doc_id NOT IN (SELECT doc_id FROM excl))"
        + _hits_sql().replace("FROM scored)", "FROM scored2)")
    )
    o["exclusion_only"] = (
        _PRELUDE
        + " SELECT CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id DESC) AS BIGINT) AS rank, "
        "doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM documents "
        "WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM tok WHERE term = 'merge') "
        "ORDER BY n_chars DESC, doc_id DESC LIMIT 10"
    )
    o["typo"] = bm25_oracle(["merg"], num_typos=2, prefix_last=True)
    # deepening stops at cost 1 (see q_typo_threshold docstring)
    o["typo_threshold"] = bm25_oracle(["merg"], num_typos=1, prefix_last=True)
    o["typo_osa"] = bm25_oracle(
        ["mrege"], num_typos=1, distfn="damerau_levenshtein", prefix_last=True
    )
    o["typo_osa2"] = bm25_oracle(
        ["mregi"], num_typos=2, distfn="damerau_levenshtein", prefix_last=True
    )
    # MAX_SCORE ordering: per-cost candidate rank by max(n_chars) over
    # the term's docs, in lockstep with the engine's max_score column
    o["typo_max_score"] = (
        _PRELUDE
        + ", tms AS (SELECT term, max(d.n_chars) AS ms "
        "FROM tf JOIN documents d USING (doc_id) GROUP BY 1)"
        ", cand AS (SELECT DISTINCT qidx, term FROM ("
        "SELECT 0 AS qidx, term FROM ("
        "SELECT t.term, levenshtein(t.term, 'merg') AS cost, "
        "row_number() OVER (PARTITION BY levenshtein(t.term, 'merg') "
        "ORDER BY ms DESC, t.term) AS rn "
        "FROM tstat t JOIN tms USING (term) "
        "WHERE levenshtein(t.term, 'merg') <= 2"
        f") WHERE cost = 0 OR rn <= {MAX_CANDIDATES}))"
        + _scored_sql(1)
        + _hits_sql()
    )
    o["prefix"] = bm25_oracle(["wind"], num_typos=0, prefix_last=True)
    o["prefix_off"] = bm25_oracle(["wind"], num_typos=0, prefix_last=False)
    # drop-tokens: full query has 0 hits (zzznope absent) → engine falls
    # back to ['merge']; oracle is the reduced query directly
    o["drop_tokens"] = bm25_oracle(["merge"], prefix_last=True)
    # synonyms: two variant vectors — AND('merge','batch') and the
    # rewritten AND('window') — merged per doc by max score
    o["synonyms"] = (
        _PRELUDE
        + ", qset(vid, qidx, term, n_tokens) AS (VALUES "
        "(0, 0, 'merge', 2), (0, 1, 'batch', 2), (1, 0, 'window', 1))"
        ", per_tok AS (SELECT qset.vid, qset.n_tokens, contrib.doc_id, qset.qidx, "
        "max(contrib.c) AS best FROM contrib JOIN qset USING (term) GROUP BY 1, 2, 3, 4)"
        ", vscored AS (SELECT vid, doc_id, CAST(sum(best) AS BIGINT) AS s FROM per_tok "
        "GROUP BY vid, n_tokens, doc_id HAVING count(*) = n_tokens)"
        ", scored AS (SELECT doc_id, CAST(max(s) AS BIGINT) AS score_milli "
        "FROM vscored GROUP BY 1)"
        + _hits_sql()
    )
    o["filter"] = (
        _PRELUDE
        + _cand_sql(["merge"], 0, True)
        + _scored_sql(1)
        + ", scored2 AS (SELECT s.* FROM scored s JOIN documents d USING (doc_id) "
        "WHERE d.lang = 'en' AND d.n_chars >= 200)"
        + _hits_sql().replace("FROM scored)", "FROM scored2)")
    )
    o["filter_dsl"] = (
        _PRELUDE
        + _cand_sql(["merge"], 0, True)
        + _scored_sql(1)
        + ", scored2 AS (SELECT s.* FROM scored s JOIN documents d USING (doc_id) "
        "WHERE d.lang = 'en' AND (d.n_chars >= 900 OR d.n_chars < 300) "
        "AND d.doc_id IN (SELECT doc_id FROM tok WHERE term = 'batch') "
        "AND d.doc_id IN (SELECT doc_id FROM tok WHERE term = 'window'))"
        + _hits_sql().replace("FROM scored)", "FROM scored2)")
    )
    # text-match-primary: packed score for an exact 2-token query — the
    # position sweep for two token lists reduces to the min pairwise
    # distance (match.py match_window; proven by the reference golden
    # vectors), so words/spread are plain SQL; cost byte is 255 (exact,
    # no length extension). Order: match_score DESC, BM25 DESC, doc_id
    # DESC (reference topster tie-break with the default sorting field).
    o["text_match"] = (
        _PRELUDE
        + _cand_sql(["merge", "batch"], 0, False)
        + _scored_sql(2)
        + ", p1 AS (SELECT doc_id, pos FROM tok WHERE term = 'merge')"
        ", p2 AS (SELECT doc_id, pos FROM tok WHERE term = 'batch')"
        ", mind AS (SELECT p1.doc_id, min(abs(p1.pos - p2.pos)) AS d "
        "FROM p1 JOIN p2 USING (doc_id) GROUP BY 1)"
        ", ms AS (SELECT s.doc_id, s.score_milli, CAST(CASE WHEN m.d <= 10 "
        "THEN (2 * 65536) + (255 * 256) + (100 - m.d) "
        "ELSE 65536 + (255 * 256) + 100 END AS BIGINT) AS match_score "
        "FROM scored s JOIN mind m USING (doc_id))"
        " SELECT CAST(rn AS BIGINT) AS rank, doc_id, match_score, score_milli "
        "FROM (SELECT *, row_number() OVER (ORDER BY match_score DESC, "
        "score_milli DESC, doc_id DESC) AS rn FROM ms) "
        "WHERE rn <= 10 ORDER BY rank"
    )
    o["weighted_fields"] = (
        _PRELUDE2
        + ", qset(qidx, term) AS (VALUES (0, 'merge'), (1, 'src7'))"
        ", wmap(fld, w) AS (VALUES ('text', 2), ('source', 1))"
        ", per_ft AS (SELECT contrib.doc_id, contrib.fld, qset.qidx, max(contrib.c) AS best "
        "FROM contrib JOIN qset USING (term) GROUP BY 1, 2, 3)"
        ", scored AS (SELECT doc_id, CAST(sum(w * best) AS BIGINT) AS score_milli "
        "FROM per_ft JOIN wmap USING (fld) GROUP BY 1 HAVING count(DISTINCT qidx) = 2)"
        + _hits_sql()
    )
    o["wildcard"] = (
        "SELECT CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id DESC) AS BIGINT) AS rank, "
        "doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM documents WHERE lang = 'en' "
        "ORDER BY n_chars DESC, doc_id DESC LIMIT 10"
    )
    o["facet_counts"] = (
        _PRELUDE
        + _cand_sql(["merge"], 0, True)
        + _scored_sql(1)
        + " SELECT d.lang AS facet_value, count(*) AS facet_count "
        "FROM scored s JOIN documents d USING (doc_id) GROUP BY 1 "
        "ORDER BY facet_count DESC, facet_value LIMIT 10"
    )
    o["facet_query"] = (
        _PRELUDE
        + _cand_sql(["merge"], 0, True)
        + _scored_sql(1)
        # lang values are single-token, so the per-token matched-prefix
        # highlight reduces to a prefix wrap of the whole value
        + " SELECT facet_value, facet_count, "
        "CASE WHEN lower(facet_value) LIKE 'e%' THEN "
        "'<mark>' || substring(facet_value, 1, 1) || '</mark>' || substring(facet_value, 2) "
        "ELSE facet_value END AS highlighted FROM ("
        "SELECT d.lang AS facet_value, count(*) AS facet_count "
        "FROM scored s JOIN documents d USING (doc_id) GROUP BY 1"
        ") WHERE lower(facet_value) LIKE 'e%' OR lower(facet_value) = 'e' "
        "ORDER BY facet_count DESC, facet_value LIMIT 10"
    )
    o["export"] = (
        "SELECT doc_id, text, lang FROM documents WHERE lang = 'en' ORDER BY doc_id"
    )
    o["snapshot_travel"] = (
        _PRELUDE
        + " SELECT * FROM ("
        "SELECT 1 AS version, term, doc_id, tf FROM tf "
        "WHERE term IN ('table', 'merge') "
        "UNION ALL "
        "SELECT 2 AS version, term, doc_id, tf FROM tf "
        "WHERE term IN ('table', 'merge') AND doc_id >= 10"
        ") ORDER BY version, term, doc_id"
    )
    o["delete_rebuild"] = (
        _PRELUDE
        + " SELECT term, doc_id, tf FROM tf "
        "WHERE term IN ('table', 'merge') AND doc_id >= 10 "
        "ORDER BY term, doc_id"
    )
    # delete-by-filter oracle: tf of the docs SURVIVING the filter
    # (lang <> 'en'), same frozen-stats contract as delete_rebuild
    o["delete_by_filter"] = (
        _PRELUDE
        + " SELECT t.term, t.doc_id, t.tf FROM tf t "
        "JOIN documents d ON t.doc_id = d.doc_id "
        "WHERE t.term IN ('table', 'merge') AND d.lang <> 'en' "
        "ORDER BY t.term, t.doc_id"
    )
    # upsert oracle: the same pinned tokenize→tf pipeline over the
    # MODIFIED corpus (docs 0..4 replaced)
    o["upsert_rebuild"] = (
        _PRELUDE.replace(
            "WITH rawtok",
            # `FROM documents d` (aliased) so the tokenizer-side
            # `FROM documents)` replace below can't touch this CTE
            "WITH documents2 AS (SELECT doc_id, CASE WHEN doc_id < 5 "
            "THEN 'merge zzglorp merge' ELSE text END AS text FROM documents d), "
            "rawtok",
        ).replace("FROM documents)", "FROM documents2)")
        + " SELECT term, doc_id, tf FROM tf "
        "WHERE term IN ('merge', 'zzglorp', 'table') "
        "ORDER BY term, doc_id"
    )
    o["facet_stats"] = (
        _PRELUDE
        + _cand_sql(["merge"], 0, True)
        + _scored_sql(1)
        + " SELECT CAST(min(d.n_chars) AS BIGINT) AS stat_min, "
        "CAST(max(d.n_chars) AS BIGINT) AS stat_max, "
        "CAST(sum(d.n_chars) AS BIGINT) AS stat_sum, "
        "count(d.n_chars) AS stat_count, "
        "(CAST(sum(d.n_chars) AS BIGINT) * 1000000) // count(d.n_chars) AS stat_avg_micro "
        "FROM scored s JOIN documents d USING (doc_id)"
    )
    o["grouped"] = (
        _PRELUDE
        + _cand_sql(["merge"], 0, True)
        + _scored_sql(1)
        + " SELECT lang, doc_id, score_milli, CAST(rn AS BIGINT) AS group_rank FROM ("
        "SELECT d.lang, s.doc_id, s.score_milli, row_number() OVER ("
        "PARTITION BY d.lang ORDER BY s.score_milli DESC, s.doc_id DESC) AS rn "
        "FROM scored s JOIN documents d USING (doc_id)) WHERE rn <= 2 "
        "ORDER BY lang, group_rank"
    )
    o["pagination"] = bm25_oracle(["merge"], per_page=5, page=2, prefix_last=True)
    o["wand_or"] = bm25_oracle(["merge", "window", "fast"], mode="or", per_page=20, prefix_last=True)
    o["wand_filtered"] = (
        _PRELUDE
        + _cand_sql(["merge", "window", "fast"], 0, True)
        + _scored_sql(3, "or")
        + ", scored2 AS (SELECT s.* FROM scored s JOIN documents d USING (doc_id) "
        "WHERE d.lang = 'en')"
        + _hits_sql(20).replace("FROM scored)", "FROM scored2)")
    )
    o["term_dictionary"] = (
        _PRELUDE
        + " SELECT term, df, CAST(cf AS BIGINT) AS cf, max_tf FROM tstat "
        "ORDER BY df DESC, term LIMIT 20"
    )
    o["doc_lengths"] = _PRELUDE + " SELECT doc_id, dl FROM dl ORDER BY doc_id"
    o["postings_roundtrip"] = (
        _PRELUDE
        + " SELECT term, doc_id, tf FROM tf WHERE term IN ('table', 'merge') "
        "ORDER BY term, doc_id"
    )
    o["dedup_exact"] = (
        "SELECT md5(text) AS text_hash, count(*) AS dup_count, "
        "min(doc_id) AS keep_doc_id FROM documents GROUP BY 1 ORDER BY text_hash"
    )
    _sh = (
        ", sh AS (SELECT DISTINCT doc_id, shingle FROM ("
        "SELECT doc_id, term || ' ' || lead(term, 1) OVER w || ' ' || lead(term, 2) OVER w AS shingle, "
        "lead(term, 2) OVER w AS t2 FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)"
        ") WHERE t2 IS NOT NULL)"
    )
    o["dedup_jaccard"] = (
        _PRELUDE
        + _sh
        # hot-shingle df cap (max_shingle_df=50), in lockstep with
        # ops.dedup.ngram_jaccard_pairs: sizes AND intersections both
        # computed over the capped shingle set
        + ", shc AS (SELECT doc_id, shingle FROM ("
        "SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS sdf FROM sh"
        ") WHERE sdf <= 50)"
        ", sz AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY 1)"
        ", inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i "
        "FROM shc a JOIN shc b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)"
        " SELECT doc_a, doc_b, CAST(floor(1000000.0 * i / (sa.sz + sb.sz - i) + 0.5) AS BIGINT) AS jac_milli "
        "FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b "
        "WHERE CAST(floor(1000000.0 * i / (sa.sz + sb.sz - i) + 0.5) AS BIGINT) >= 20000 "
        "ORDER BY doc_a, doc_b"
    )
    perms_values = ", ".join(
        f"({i}, {a}::BIGINT, {b}::BIGINT)" for i, (a, b) in enumerate(MINHASH_PERMS)
    )
    _minhash_body = (
        _PRELUDE
        + _sh
        + ", sid AS (SELECT doc_id, CAST(dense_rank() OVER (ORDER BY shingle) AS BIGINT) AS sid FROM sh)"
        f", perms(perm_id, a, b) AS (VALUES {perms_values})"
        f", sig AS (SELECT doc_id, perm_id, min((a * sid + b) % {MINHASH_PRIME}) AS minhash "
        "FROM sid CROSS JOIN perms GROUP BY 1, 2)"
        f", bands AS (SELECT doc_id, perm_id // {LSH_BAND_SIZE} AS band_id, "
        "string_agg(format('{:d}:{:d}', perm_id, minhash), ',' ORDER BY format('{:d}:{:d}', perm_id, minhash)) AS band_key "
        "FROM sig GROUP BY 1, 2)"
    )
    o["dedup_minhash"] = (
        _minhash_body
        + " SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM bands a JOIN bands b USING (band_id, band_key) WHERE a.doc_id < b.doc_id "
        "ORDER BY doc_a, doc_b"
    )
    # connected components over the SAME candidate pairs: recursive
    # reachability closure, cluster = min reachable id (mirrors
    # ops.dedup.duplicate_clusters' min-label fixpoint)
    o["dedup_clusters"] = (
        _minhash_body.replace("WITH rawtok", "WITH RECURSIVE rawtok")
        + ", prs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM bands a JOIN bands b USING (band_id, band_key) WHERE a.doc_id < b.doc_id)"
        ", e AS (SELECT doc_a AS a, doc_b AS b FROM prs "
        "UNION ALL SELECT doc_b, doc_a FROM prs)"
        ", reach AS (SELECT DISTINCT a AS id, a AS r FROM e "
        "UNION SELECT e.a, reach.r FROM e JOIN reach ON reach.id = e.b)"
        " SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1 "
        "ORDER BY doc_id"
    )
    _simhash_body = (
        _PRELUDE
        + ", tid AS (SELECT term, CAST(dense_rank() OVER (ORDER BY term) AS BIGINT) AS tid "
        "FROM (SELECT DISTINCT term FROM tf))"
        f", th AS (SELECT tf.doc_id, tf.tf, ({SIMHASH_A}::BIGINT * tid.tid + {SIMHASH_B}) % {MINHASH_PRIME} AS h "
        "FROM tf JOIN tid USING (term))"
        f", votes AS (SELECT doc_id, bit, sum(CASE WHEN (h >> bit) & 1 = 1 THEN tf ELSE -tf END) AS v "
        f"FROM th CROSS JOIN range(0, {SIMHASH_BITS}) AS r(bit) GROUP BY 1, 2)"
        ", fp AS (SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash "
        "FROM votes GROUP BY 1)"
    )
    o["dedup_simhash"] = (
        _simhash_body + " SELECT doc_id, simhash FROM fp ORDER BY doc_id"
    )
    # the QUADRATIC pair form in SQL proves the engine's pigeonhole
    # equi-join exactly equivalent
    o["simhash_pairs"] = (
        _simhash_body
        + " SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming "
        "FROM fp a JOIN fp b ON a.doc_id < b.doc_id "
        "WHERE bit_count(xor(a.simhash, b.simhash)) <= 4 "
        "ORDER BY doc_a, doc_b"
    )
    _qv = (
        "qv AS (SELECT vec_id, i AS dim, "
        "CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS v "
        "FROM embeddings CROSS JOIN range(0, 64) AS r(i)), "
        "nrm AS (SELECT vec_id, sum(v * v) AS n2 FROM qv GROUP BY 1)"
    )
    o["embed_dup"] = (
        "WITH " + _qv + ", dots AS ("
        "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, sum(a.v * b.v) AS dot "
        "FROM qv a JOIN qv b USING (dim) WHERE a.vec_id < b.vec_id GROUP BY 1, 2)"
        " SELECT vec_a, vec_b, CAST(floor(CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) * 1000000 + 0.5) AS BIGINT) AS cos_micro"
        " FROM dots JOIN nrm na ON na.vec_id = vec_a JOIN nrm nb ON nb.vec_id = vec_b"
        " WHERE CAST(floor(CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) * 1000000 + 0.5) AS BIGINT) >= 500000"
        " ORDER BY vec_a, vec_b"
    )
    o["ann_topk"] = (
        "WITH " + _qv + ", q AS (SELECT vec_id AS query_id, dim, v FROM qv WHERE vec_id IN (0, 1, 2)), "
        "dots AS (SELECT q.query_id, e.vec_id, sum(q.v * e.v) AS dot "
        "FROM q JOIN qv e USING (dim) WHERE e.vec_id <> q.query_id GROUP BY 1, 2), "
        "cosd AS (SELECT dots.query_id, dots.vec_id, CAST(dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(ne.n2 AS DOUBLE))) AS cos "
        "FROM dots JOIN nrm nq ON nq.vec_id = dots.query_id JOIN nrm ne ON ne.vec_id = dots.vec_id) "
        "SELECT query_id, CAST(rn AS BIGINT) AS rank, vec_id AS neighbor_id, "
        "CAST(floor(cos * 1000000 + 0.5) AS BIGINT) AS cos_micro FROM ("
        "SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn FROM cosd"
        ") WHERE rn <= 5 ORDER BY query_id, rank"
    )
    o["ann_ivf"] = (
        "WITH " + _qv + ", lab AS (SELECT vec_id, label FROM embeddings), "
        "cent AS (SELECT label, dim, sum(v) // count(*) AS cv FROM qv JOIN lab USING (vec_id) GROUP BY 1, 2), "
        "cnrm AS (SELECT label, sum(cv * cv) AS n2 FROM cent GROUP BY 1), "
        "q AS (SELECT vec_id AS query_id, dim, v FROM qv WHERE vec_id IN (0, 1, 2)), "
        "qcos AS (SELECT q.query_id, c.label, CAST(sum(q.v * c.cv) AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(cn.n2 AS DOUBLE))) AS ccos "
        "FROM q JOIN cent c USING (dim) JOIN nrm nq ON nq.vec_id = q.query_id JOIN cnrm cn ON cn.label = c.label "
        "GROUP BY q.query_id, c.label, nq.n2, cn.n2), "
        "best AS (SELECT query_id, label FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ccos DESC, label) AS rn FROM qcos) WHERE rn = 1), "
        "dots AS (SELECT b.query_id, e.vec_id, sum(q.v * e.v) AS dot "
        "FROM best b JOIN lab l ON l.label = b.label JOIN qv e ON e.vec_id = l.vec_id "
        "JOIN qv q ON q.vec_id = b.query_id AND q.dim = e.dim "
        "WHERE e.vec_id <> b.query_id GROUP BY 1, 2), "
        "cosd AS (SELECT dots.query_id, dots.vec_id, CAST(dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(ne.n2 AS DOUBLE))) AS cos "
        "FROM dots JOIN nrm nq ON nq.vec_id = dots.query_id JOIN nrm ne ON ne.vec_id = dots.vec_id) "
        "SELECT query_id, CAST(rn AS BIGINT) AS rank, vec_id AS neighbor_id FROM ("
        "SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn FROM cosd"
        ") WHERE rn <= 5 ORDER BY query_id, rank"
    )
    # ann_ivf_kmeans probes ALL learned cells (n_probes = n_cells), so
    # the exact result is brute-force top-k — SQL-expressible without
    # knowing the centroids (see q_ann_ivf_kmeans docstring)
    o["ann_ivf_kmeans"] = (
        "WITH " + _qv + ", q AS (SELECT vec_id AS query_id, dim, v FROM qv WHERE vec_id IN (0, 1, 2)), "
        "dots AS (SELECT q.query_id, e.vec_id, sum(q.v * e.v) AS dot "
        "FROM q JOIN qv e USING (dim) WHERE e.vec_id <> q.query_id GROUP BY 1, 2), "
        "cosd AS (SELECT dots.query_id, dots.vec_id, CAST(dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(ne.n2 AS DOUBLE))) AS cos "
        "FROM dots JOIN nrm nq ON nq.vec_id = dots.query_id JOIN nrm ne ON ne.vec_id = dots.vec_id) "
        "SELECT query_id, CAST(rn AS BIGINT) AS rank, vec_id AS neighbor_id FROM ("
        "SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn FROM cosd"
        ") WHERE rn <= 5 ORDER BY query_id, rank"
    )
    markers_values = ", ".join(
        f"('{lang}', '{w}')" for lang, ws in LANG_MARKERS.items() for w in ws
    )
    from typesense_spark.ops.textstats import PII_PATTERNS

    _pii_t = (
        "text || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com or 10.0.' "
        "|| CAST(doc_id % 256 AS VARCHAR) || '.7 call 555-123-4567'"
    )
    _scrub = "t"
    for _k in ("email", "phone", "ipv4"):
        _scrub = f"regexp_replace({_scrub}, '{PII_PATTERNS[_k]}', '<{_k.upper()}>', 'g')"
    o["pii_scrub"] = (
        f"WITH pii AS (SELECT doc_id, {_pii_t} AS t FROM documents) "
        "SELECT doc_id, "
        + ", ".join(
            f"CAST(len(regexp_extract_all(t, '{PII_PATTERNS[k]}')) AS BIGINT) AS n_{k}"
            for k in ("email", "phone", "ipv4")
        )
        + f", {_scrub} AS scrubbed FROM pii ORDER BY doc_id"
    )
    o["langid"] = (
        _PRELUDE
        + f", markers(cand_lang, marker) AS (VALUES {markers_values})"
        ", votes AS (SELECT doc_id, cand_lang, count(*) AS hits "
        "FROM tok JOIN markers ON tok.term = markers.marker GROUP BY 1, 2)"
        ", best AS (SELECT doc_id, cand_lang, hits FROM ("
        "SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand_lang) AS rn FROM votes"
        ") WHERE rn = 1)"
        " SELECT d.doc_id, coalesce(b.cand_lang, 'und') AS pred_lang, "
        "CAST(coalesce(b.hits, 0) AS BIGINT) AS marker_hits "
        "FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id ORDER BY d.doc_id"
    )
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    o["quality"] = (
        _PRELUDE
        + ", per_doc AS (SELECT doc_id, count(*) AS n_tokens, sum(length(term)) AS sum_term_len, "
        f"sum(CASE WHEN term IN ({stop_list}) THEN 1 ELSE 0 END) AS n_stop FROM tok GROUP BY 1)"
        ", chars AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, "
        "CAST(length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS BIGINT) AS n_alnum FROM documents)"
        " SELECT doc_id, n_tokens, n_chars, "
        "CAST(floor(1000000 * sum_term_len / n_tokens) AS BIGINT) AS avg_token_len_micro, "
        "CAST(floor(1000000 * n_stop / n_tokens) AS BIGINT) AS stopword_ratio_micro, "
        "CAST(floor(1000000 * n_alnum / n_chars) AS BIGINT) AS alnum_ratio_micro "
        "FROM per_doc JOIN chars USING (doc_id) ORDER BY doc_id"
    )
    o["token_counts"] = (
        _PRELUDE
        + ", ws AS (SELECT doc_id, count(*) AS ws_tokens FROM tok GROUP BY 1)"
        " SELECT doc_id, ws_tokens, "
        "CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS BIGINT) AS bpe_tokens "
        "FROM ws JOIN documents USING (doc_id) ORDER BY doc_id"
    )
    o["fingerprint"] = (
        _PRELUDE
        + ", tid AS (SELECT term, CAST(dense_rank() OVER (ORDER BY term) AS BIGINT) AS tid "
        "FROM (SELECT DISTINCT term FROM tok))"
        f" SELECT doc_id, CAST(sum(((pos + 1) * tid) % {FP_MOD}) % {FP_MOD} AS BIGINT) AS fingerprint "
        "FROM tok JOIN tid USING (term) GROUP BY 1 ORDER BY doc_id"
    )
    o["events_json"] = (
        "SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket, event_type, "
        "count(*) AS n, CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k "
        "FROM events GROUP BY 1, 2 ORDER BY 1, 2"
    )
    from typesense_spark.tokenizer import tokenize_terms

    qvals = []
    for qid, q in BATCH_QUERIES:
        toks = tokenize_terms(q)
        for i, t in enumerate(toks):
            qvals.append(f"('{qid}', {i}, '{t}', {len(toks)})")
    o["batch_queries"] = (
        _PRELUDE
        + f", qset(qid, qidx, term, n_tokens) AS (VALUES {', '.join(qvals)})"
        + ", per_tok AS (SELECT qset.qid, qset.n_tokens, contrib.doc_id, qset.qidx, "
        "max(contrib.c) AS best FROM contrib JOIN qset USING (term) GROUP BY 1, 2, 3, 4)"
        ", scored AS (SELECT qid, doc_id, CAST(sum(best) AS BIGINT) AS score_milli FROM per_tok "
        "GROUP BY qid, n_tokens, doc_id HAVING count(*) = n_tokens)"
        " SELECT qid, CAST(rn AS BIGINT) AS rank, doc_id, score_milli FROM ("
        "SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score_milli DESC, doc_id DESC) AS rn "
        "FROM scored) WHERE rn <= 10 ORDER BY qid, rank"
    )
    # batched text-match-primary: per-qid version of the text_match
    # oracle (2-token sweep = min pairwise distance; cost byte 255)
    tmvals = ", ".join(
        f"('{qid}', {i}, '{t}')"
        for qid, q in BATCH_TM_QUERIES
        for i, t in enumerate(q.split())
    )
    o["batch_text_match"] = (
        _PRELUDE
        + f", qset(qid, qidx, term) AS (VALUES {tmvals})"
        ", per_tok AS (SELECT qset.qid, contrib.doc_id, qset.qidx, "
        "max(contrib.c) AS best FROM contrib JOIN qset USING (term) GROUP BY 1, 2, 3)"
        ", scored AS (SELECT qid, doc_id, CAST(sum(best) AS BIGINT) AS score_milli "
        "FROM per_tok GROUP BY qid, doc_id HAVING count(*) = 2)"
        ", mind AS (SELECT q1.qid, t1.doc_id, min(abs(t1.pos - t2.pos)) AS d "
        "FROM qset q1 JOIN tok t1 ON t1.term = q1.term AND q1.qidx = 0 "
        "JOIN qset q2 ON q2.qid = q1.qid AND q2.qidx = 1 "
        "JOIN tok t2 ON t2.term = q2.term AND t2.doc_id = t1.doc_id "
        "GROUP BY 1, 2)"
        ", ms AS (SELECT s.qid, s.doc_id, s.score_milli, CAST(CASE WHEN m.d <= 10 "
        "THEN (2 * 65536) + (255 * 256) + (100 - m.d) "
        "ELSE 65536 + (255 * 256) + 100 END AS BIGINT) AS match_score "
        "FROM scored s JOIN mind m ON m.qid = s.qid AND m.doc_id = s.doc_id)"
        " SELECT qid, CAST(rn AS BIGINT) AS rank, doc_id, match_score, score_milli "
        "FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY "
        "match_score DESC, score_milli DESC, doc_id DESC) AS rn FROM ms) "
        "WHERE rn <= 10 ORDER BY qid, rank"
    )
    o["batch_full"] = batch_full_oracle()
    o["batch_filtered"] = batch_filtered_oracle()
    o["batch_facets"] = batch_facets_oracle()
    o["batch_grouped"] = batch_grouped_oracle()
    o["batch_deepen"] = batch_deepen_oracle()
    o["batch_curated"] = batch_curated_oracle()
    o["unicode_tokens"] = unicode_tokens_oracle()
    o["events_window"] = (
        # floor() before the cast: DuckDB's epoch() keeps fractional
        # seconds and CAST(double AS BIGINT) rounds, shifting boundary rows
        "SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS window_start, event_type, "
        "count(*) AS n_events, CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents "
        "FROM events GROUP BY 1, 2 ORDER BY 1, 2"
    )
    return o
