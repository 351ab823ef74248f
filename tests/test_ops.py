"""Training-data ops: dedup finds planted duplicates, ANN is
self-consistent, text stats match naive Python recomputation."""

from pyspark.sql import functions as F

from typesense_spark.ops import dedup, similarity, textstats
from typesense_spark.tokenizer import tokenize_terms


def _docs_with_dups(spark, corpus_rows):
    rows = [(i, r[4]) for i, r in enumerate(corpus_rows[:80])]
    # plant exact dup (id 1000) and near-dup with one token changed (1001)
    rows.append((1000, rows[0][1]))
    near = rows[1][1].split(" ")
    near[5] = "perturbed"
    rows.append((1001, " ".join(near)))
    return spark.createDataFrame(rows, schema="doc_id long, text string"), rows


def test_exact_duplicates(spark, corpus_rows):
    df, _ = _docs_with_dups(spark, corpus_rows)
    dups = dedup.exact_duplicates(df, "text").collect()
    assert len(dups) == 1
    assert dups[0]["dup_count"] == 2 and dups[0]["keep_doc_id"] == 0


def test_jaccard_finds_planted_neardup(spark, corpus_rows):
    df, _ = _docs_with_dups(spark, corpus_rows)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jac_milli"]
        for r in dedup.ngram_jaccard_pairs(df, "text", threshold_milli=500_000).collect()
    }
    assert (0, 1000) in pairs and pairs[(0, 1000)] == 1_000_000  # exact dup
    assert (1, 1001) in pairs  # near-dup above 0.5


def test_minhash_lsh_candidates(spark, corpus_rows):
    df, _ = _docs_with_dups(spark, corpus_rows)
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.lsh_candidate_pairs(df, "text").collect()
    }
    assert (0, 1000) in cands  # identical docs always collide
    assert (1, 1001) in cands  # high-jaccard near-dup collides whp


def test_simhash_neardup_low_hamming(spark, corpus_rows):
    df, _ = _docs_with_dups(spark, corpus_rows)
    fp = {r["doc_id"]: r["simhash"] for r in dedup.simhash_fingerprints(df, "text").collect()}
    assert fp[0] == fp[1000]  # identical docs → identical fingerprints
    ham = bin(fp[1] ^ fp[1001]).count("1")
    assert ham <= 6  # one-token perturbation stays close


def test_hash_ids_mode_consistent(spark, corpus_rows):
    """xxhash64 scale mode and dense-rank oracle mode agree on exact dups."""
    df, _ = _docs_with_dups(spark, corpus_rows)
    for mode in (True, False):
        cands = {
            (r["doc_a"], r["doc_b"])
            for r in dedup.lsh_candidate_pairs(df, "text", use_hash_ids=mode).collect()
        }
        assert (0, 1000) in cands


def test_ann_brute_force_self_consistent(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    topk = similarity.cosine_topk(emb, query_ids=[0], k=3).collect()
    assert len(topk) == 3
    assert [r["rank"] for r in topk] == [1, 2, 3]
    cos = [r["cos_micro"] for r in topk]
    assert cos == sorted(cos, reverse=True)


def test_ivf_subset_of_brute_force_candidates(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ivf = similarity.ivf_topk(emb, query_ids=[0], k=3).collect()
    assert len(ivf) == 3
    # IVF neighbors all share the probed cell
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    cells = {labels[r["neighbor_id"]] for r in ivf}
    assert len(cells) == 1


def test_quality_scores_match_naive(spark, corpus_rows):
    df = spark.createDataFrame(
        [(i, r[4]) for i, r in enumerate(corpus_rows[:30])],
        schema="doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in textstats.quality_scores(df, "text").collect()}
    for i, r in enumerate(corpus_rows[:30]):
        toks = tokenize_terms(r[4])
        assert got[i]["n_tokens"] == len(toks)
        assert got[i]["n_chars"] == len(r[4])
        stop = sum(1 for t in toks if t in textstats.STOPWORDS)
        assert got[i]["stopword_ratio_micro"] == 1_000_000 * stop // len(toks)


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "gamma beta alpha"), (2, "alpha beta gamma")],
        schema="doc_id long, text string",
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in textstats.fingerprints(df, "text").collect()}
    assert fp[0] == fp[2]
    assert fp[0] != fp[1]  # permutation changes the fingerprint


def test_language_id_markers(spark):
    df = spark.createDataFrame(
        [(0, "the cat of the house and a dog"), (1, "el gato y la casa que es"),
         (2, "xyzzy qwerty")],
        schema="doc_id long, text string",
    )
    got = {r["doc_id"]: r["pred_lang"] for r in textstats.language_id(df, "text").collect()}
    assert got[0] == "en" and got[1] == "es" and got[2] == "und"


def test_embed_dup_symmetric(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pairs = similarity.cosine_dup_pairs(emb, threshold_micro=400_000).collect()
    for r in pairs:
        assert r["vec_a"] < r["vec_b"]
        assert r["cos_micro"] >= 400_000


def test_salted_vs_unsalted_same_content(spark, corpus_df):
    """Dedup ops are partition-strategy independent."""
    a = dedup.exact_duplicates(corpus_df.repartition(2), "content", id_col="path", min_count=1)
    b = dedup.exact_duplicates(corpus_df.repartition(13), "content", id_col="path", min_count=1)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_simhash_pigeonhole_equals_quadratic(spark, corpus_rows):
    df, _ = _docs_with_dups(spark, corpus_rows)
    for mode in (True, False):
        fast = {
            tuple(r)
            for r in dedup.simhash_pairs(
                df, "text", max_hamming=6, use_hash_ids=mode
            ).collect()
        }
        slow = {
            tuple(r)
            for r in dedup.simhash_pairs(
                df, "text", max_hamming=6, use_hash_ids=mode, method="quadratic"
            ).collect()
        }
        assert fast == slow and slow  # equivalent, and non-empty


def test_jaccard_shingle_df_cap_bounds_pairs(spark):
    """A universal shingle shared by every doc must not create O(n²)
    candidate pairs once the df cap drops it; docs that are genuinely
    near-identical still pair via their rare shingles."""
    common = "aaa bbb ccc"  # one universal shingle in every doc
    rows = [(i, f"{common} u{i}x v{i}y w{i}z q{i}k") for i in range(60)]
    rows.append((1000, rows[0][1]))  # exact dup of doc 0
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    capped = dedup.ngram_jaccard_pairs(
        df, "text", threshold_milli=1, max_shingle_df=10
    ).collect()
    # only the planted dup pair survives — NOT the 61·60/2 universal pairs
    assert {(r["doc_a"], r["doc_b"]) for r in capped} == {(0, 1000)}
    assert capped[0]["jac_milli"] == 1_000_000  # identical docs
    uncapped = dedup.ngram_jaccard_pairs(
        df, "text", threshold_milli=1, max_shingle_df=None
    )
    assert uncapped.count() == 61 * 60 // 2  # the blowup the cap prevents


def _clustered_embeddings(spark, n_per=40, n_clusters=4, dim=16):
    """Deterministic well-separated clusters (no RNG): cluster c points
    along axis c with small per-vector perturbation."""
    rows = []
    for c in range(n_clusters):
        for i in range(n_per):
            v = [0.05 * ((i * 7 + d * 3) % 5 - 2) for d in range(dim)]
            v[c] = 10.0 + 0.01 * i
            rows.append((c * n_per + i, v))
    return spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")


def test_kmeans_cells_recover_clusters(spark):
    emb = _clustered_embeddings(spark)
    cells = similarity.kmeans_cells(emb, n_cells=4, n_iters=4).collect()
    by_true = {}
    for r in cells:
        by_true.setdefault(r["vec_id"] // 40, set()).add(r["cell"])
    # every true cluster maps to exactly one k-means cell, all distinct
    assert all(len(s) == 1 for s in by_true.values())
    assert len({next(iter(s)) for s in by_true.values()}) == 4


def test_ivf_multiprobe_recall_vs_brute_force(spark):
    emb = _clustered_embeddings(spark)
    cells = similarity.kmeans_cells(emb, n_cells=8, n_iters=4)
    with_cells = emb.join(cells, "vec_id")
    qids = [0, 40, 80, 120, 7, 55]
    brute = similarity.cosine_topk(emb, query_ids=qids, k=5)
    got_b = {(r["query_id"], r["neighbor_id"]) for r in brute.collect()}
    ivf = similarity.ivf_topk(
        with_cells, query_ids=qids, k=5, cell_col="cell", n_probes=2
    )
    got_i = {(r["query_id"], r["neighbor_id"]) for r in ivf.collect()}
    recall = len(got_b & got_i) / len(got_b)
    assert recall >= 0.9, recall


def test_cosine_dup_pairs_cell_bucketed(spark):
    emb = _clustered_embeddings(spark, n_per=20)
    cells = similarity.kmeans_cells(emb, n_cells=4, n_iters=4)
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.cosine_dup_pairs(emb, threshold_micro=990_000).collect()
    }
    bucketed = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.cosine_dup_pairs(
            emb, threshold_micro=990_000, cells=cells
        ).collect()
    }
    assert bucketed <= exact  # bucketing only prunes
    assert exact and len(bucketed) / len(exact) >= 0.9  # high recall here


def test_duplicate_clusters_min_label(spark):
    """Chains collapse to the component min; separate components keep
    their own min; direction and duplication of pairs don't matter."""
    pairs = spark.createDataFrame(
        [(5, 3), (3, 9), (9, 12), (20, 21), (21, 20)],
        schema="doc_a long, doc_b long",
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.duplicate_clusters(pairs).collect()
    }
    assert got == {3: 3, 5: 3, 9: 3, 12: 3, 20: 20, 21: 20}


def test_duplicate_clusters_on_planted_dups(spark, corpus_rows):
    df, _ = _docs_with_dups(spark, corpus_rows)
    pairs = dedup.lsh_candidate_pairs(df, "text")
    clusters = dedup.duplicate_clusters(pairs).collect()
    by_doc = {r["doc_id"]: r["cluster_id"] for r in clusters}
    assert by_doc[1000] == 0 and by_doc[0] == 0  # exact dup pair clusters


def test_scrub_pii_counts_and_placeholders(spark):
    from typesense_spark.ops import textstats

    df = spark.createDataFrame(
        [
            (1, "mail a.b@x.org and b@y.io ip 1.2.3.4 phone +1 555-123-4567 end"),
            (2, "clean text"),
        ],
        "doc_id long, t string",
    )
    r = {row["doc_id"]: row for row in textstats.scrub_pii(df, "t").collect()}
    assert r[1]["n_email"] == 2 and r[1]["n_ipv4"] == 1 and r[1]["n_phone"] == 1
    assert "<EMAIL>" in r[1]["scrubbed"] and "<IPV4>" in r[1]["scrubbed"]
    assert "@" not in r[1]["scrubbed"]
    assert r[2]["scrubbed"] == "clean text" and r[2]["n_email"] == 0


def test_shingles_use_pinned_tokenizer_on_unicode(spark):
    """Jaccard / MinHash shingles are k-grams over the pinned
    tokenizer's terms, unicode folds and passthrough included — the
    same terms SimHash's explode_tokens sees."""
    texts = [
        "Müller café 世界 straße",
        "Привет, мир! naïve — résumé… ok",
        "ＫＥＹ ünïcode Тест42 ёлка 你好 世界。",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), schema="doc_id long, text string")
    got = {}
    for r in dedup.token_shingles(df, "text").collect():
        got.setdefault(r["doc_id"], set()).add(r["shingle"])
    for i, t in enumerate(texts):
        terms = tokenize_terms(t)
        want = {" ".join(terms[j : j + 3]) for j in range(len(terms) - 2)}
        assert got.get(i, set()) == want, t
