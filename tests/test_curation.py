"""Q20 override/curation rules — resolution semantics ported from the
reference's populate_overrides + test/collection_override_test.cpp
(ExcludeIncludeExactQueryMatch, IncludeExcludeHitsQuery themes), plus
end-to-end search integration through the positional splice."""

from typesense_spark.search.curation import OverrideRule, OverrideStore


def test_exact_match_fires_only_on_equal_query():
    store = OverrideStore(
        [OverrideRule("exclude-rule", "of", "exact", drop_hits=(4, 11))]
    )
    pinned, hidden = store.resolve("of")
    assert pinned == {} and hidden == (4, 11)
    pinned, hidden = store.resolve("of mice")  # not exact → no fire
    assert pinned == {} and hidden == ()
    # query is lowercased before matching (reference tolowercase)
    _, hidden = store.resolve("OF")
    assert hidden == (4, 11)


def test_contains_match_fires_on_substring():
    # collection_override_test.cpp contains-include case: includes at
    # position 1 and a way-out position
    store = OverrideStore(
        [
            OverrideRule(
                "include-rule", "will", "contains", add_hits=((0, 1), (1, 7))
            )
        ]
    )
    pinned, hidden = store.resolve("will smith")
    assert pinned == {0: 1, 1: 7} and hidden == ()
    pinned, _ = store.resolve("smith")
    assert pinned == {}


def test_drops_take_precedence_over_adds():
    # reference: excluded_set is checked before include_ids insert
    store = OverrideStore(
        [
            OverrideRule("a-drop", "q", "exact", drop_hits=(7,)),
            OverrideRule("b-add", "q", "exact", add_hits=((7, 1), (8, 2))),
        ]
    )
    pinned, hidden = store.resolve("q")
    assert pinned == {8: 2} and hidden == (7,)


def test_explicit_pins_and_hides_take_precedence():
    store = OverrideStore(
        [OverrideRule("r", "q", "exact", add_hits=((5, 1),), drop_hits=(6,))]
    )
    pinned, hidden = store.resolve("q", pinned={5: 3}, hidden=(9,))
    assert pinned == {5: 3}  # explicit position wins
    assert set(hidden) == {9, 6}
    # explicit hidden also blocks rule adds
    pinned, hidden = store.resolve("q", hidden=(5,))
    assert pinned == {} and set(hidden) == {5, 6}


def test_position_collision_first_claimant_wins():
    """Reference ungrouped rule: only the first ID claiming a position
    is curated; later claimants rank organically
    (test/collection_override_test.cpp:472-489, ids_per_pos=1)."""
    store = OverrideStore(
        [
            OverrideRule("a", "q", "exact", add_hits=((1, 1),)),
            OverrideRule("b", "q", "exact", add_hits=((2, 1), (3, 2))),
        ]
    )
    pinned, _ = store.resolve("q")
    assert pinned == {1: 1, 3: 2}  # doc 2 lost slot 1 → organic


def test_upsert_and_remove():
    store = OverrideStore([OverrideRule("r1", "q", "exact", drop_hits=(1,))])
    store.add(OverrideRule("r1", "q", "exact", drop_hits=(2,)))  # upsert
    assert len(store) == 1
    assert store.resolve("q")[1] == (2,)
    store.remove("r1")
    assert len(store) == 0 and store.resolve("q") == ({}, ())


def test_search_with_override_store(built_index):
    """End-to-end: a contains rule pins one doc to position 1 and hides
    the organic top hit; pinned-beyond-results appends at the end."""
    from typesense_spark.search import OverrideRule, OverrideStore, SearchRequest, search

    base = search(
        built_index, SearchRequest(q="import return", fields=("content",), num_typos=0)
    )
    base_rows = base.hits.collect()
    organic_top = base_rows[0]["doc_id"]
    some_low = base_rows[3]["doc_id"]
    store = OverrideStore(
        [
            OverrideRule(
                "boost", "import", "contains",
                add_hits=((some_low, 1),), drop_hits=(organic_top,),
            )
        ]
    )
    res = search(
        built_index,
        SearchRequest(
            q="import return", fields=("content",), num_typos=0, override_store=store
        ),
    )
    rows = res.hits.collect()
    assert rows[0]["doc_id"] == some_low
    assert all(r["doc_id"] != organic_top for r in rows)
    # exact rule for a different query must not fire
    store2 = OverrideStore(
        [OverrideRule("other", "zzz", "exact", drop_hits=(organic_top,))]
    )
    res2 = search(
        built_index,
        SearchRequest(
            q="import return", fields=("content",), num_typos=0, override_store=store2
        ),
    )
    assert [tuple(r) for r in res2.hits.collect()] == [tuple(r) for r in base_rows]


def test_same_position_pins_reference_case(built_index):
    """Port of PinnedHitsGrouping's ungrouped assertions
    (test/collection_override_test.cpp:472-495): pinned '6:1,8:1,1:2'
    style — the first claimant of slot 1 is curated there, the losing
    claimant appears at its ORGANIC rank (not bumped), and curated
    flags mark exactly the splice-pinned docs."""
    from typesense_spark.search import SearchRequest, search

    base = search(
        built_index, SearchRequest(q="import return", fields=("content",), num_typos=0)
    )
    base_ids = [r["doc_id"] for r in base.hits.collect()]
    a, b, c = base_ids[4], base_ids[2], base_ids[5]
    # a and b both claim position 1 (a first); c claims position 3
    res = search(
        built_index,
        SearchRequest(
            q="import return", fields=("content",), num_typos=0,
            pinned={a: 1, b: 1, c: 3},
        ),
    )
    rows = res.hits.collect()
    ids = [r["doc_id"] for r in rows]
    assert ids[0] == a and rows[0]["curated"]
    assert ids[2] == c and rows[2]["curated"]
    # b lost slot 1 → organic: order among non-curated rows == base
    # order with the curated docs removed
    organic_ids = [i for i in ids if i not in (a, c)]
    assert organic_ids == [i for i in base_ids if i not in (a, c)][: len(organic_ids)]
    assert b in ids  # still present, organically
    assert not [r for r in rows if r["doc_id"] == b][0]["curated"]


def test_cross_rule_drop_retracts_add():
    """A later-sorted rule's drop must retract an earlier rule's add —
    exclusion takes precedence over inclusion across rules, not just
    within one."""
    store = OverrideStore(
        [
            OverrideRule("a-add", "q", "exact", add_hits=((9, 1),)),
            OverrideRule("b-drop", "q", "exact", drop_hits=(9,)),
        ]
    )
    pinned, hidden = store.resolve("q")
    assert pinned == {} and hidden == (9,)


def test_grouped_curated_groups_reference_case(spark):
    """PinnedHitsGrouping port (test/collection_override_test.cpp:471-521):
    pinned '6:1,8:1,1:2,13:3,4:3' with group_by + group_limit 2 →
    curated ids form synthetic groups at positions 1/2/3 (claim order,
    up to group_limit per position); organic groups exclude curated
    docs and follow; ungrouped search keeps the first-claimant rule."""
    from typesense_spark.index import build_index
    from typesense_spark.search import SearchRequest, search

    # 18 docs matching 'the', two docs per group key (like cast pairs)
    rows = [
        (i, f"the common token filler{i}", f"g{i // 2}") for i in range(18)
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, content string, cast string")
    ix = build_index(spark, df, fields=["content"], id_col="doc_id", num_buckets=4)
    pinned = {6: 1, 8: 1, 1: 2, 13: 3, 4: 3}

    res = search(
        ix,
        SearchRequest(q="the", fields=("content",), num_typos=0, per_page=10,
                      pinned=pinned, group_by=("cast",), group_limit=2),
    )
    got = [
        (r["group_pos"], r["group_rank"], r["doc_id"], r["curated"])
        for r in res.grouped_hits.orderBy("group_pos", "group_rank").collect()
    ]
    by_group: dict[int, list[int]] = {}
    curated_flags: dict[int, bool] = {}
    for gp, gr, d, cur in got:
        by_group.setdefault(gp, []).append(d)
        curated_flags[gp] = cur
    # synthetic curated groups at positions 1..3, claim order respected
    assert by_group[1] == [6, 8] and curated_flags[1]
    assert by_group[2] == [1] and curated_flags[2]
    assert by_group[3] == [13, 4] and curated_flags[3]
    # organic groups follow, contain NO curated doc, ≤ group_limit each
    organic_docs = [d for gp in sorted(by_group) if gp > 3 for d in by_group[gp]]
    assert organic_docs and not set(organic_docs) & set(pinned)
    for gp in sorted(by_group):
        assert len(by_group[gp]) <= 2
        assert not (gp > 3 and curated_flags[gp])
    # organic members grouped by their real key (two per g-pair unless
    # a member was curated away)
    key_of = {i: f"g{i // 2}" for i in range(18)}
    for gp in sorted(by_group):
        if gp <= 3:
            continue
        keys = {key_of[d] for d in by_group[gp]}
        assert len(keys) == 1, (gp, by_group[gp])

    # ungrouped: first claimant per position only (6, not 8; 13, not 4)
    res_u = search(
        ix,
        SearchRequest(q="the", fields=("content",), num_typos=0, per_page=4,
                      pinned=pinned),
    )
    top = [r["doc_id"] for r in res_u.hits.orderBy("rank").collect()]
    assert top[0] == 6 and top[1] == 1 and top[2] == 13
    assert 8 not in top[:3] and 4 not in top[:3]


def test_grouped_override_store_keeps_group_limit_claimants():
    """resolve(ids_per_pos=2): up to group_limit claimants per position
    survive in claim order; the third claimant is dropped."""
    store = OverrideStore(
        [OverrideRule("r", "q", "exact", add_hits=((6, 1), (8, 1), (9, 1), (1, 2)))]
    )
    pinned, _ = store.resolve("q", ids_per_pos=2)
    assert pinned == {6: 1, 8: 1, 1: 2}
    pinned_u, _ = store.resolve("q")  # ungrouped default: first only
    assert pinned_u == {6: 1, 1: 2}


def test_batch_curated_matches_engine(built_index):
    """Q20 in batch mode: rules resolve per query, hidden docs narrow
    the matched set, pins splice positionally — parity with
    engine.search query by query (including the curated flag)."""
    from typesense_spark.search import OverrideRule, OverrideStore, SearchRequest, search
    from typesense_spark.search.batch import batch_curated

    base = search(
        built_index,
        SearchRequest(q="import return", fields=("content",), num_typos=0,
                      drop_tokens_threshold=0),
    )
    organics = [r["doc_id"] for r in base.hits.collect()]
    d1, d2, d3 = organics[0], organics[3], organics[5]
    store = OverrideStore([
        # exact rule: pin a non-matching doc to pos 2, drop an organic hit
        OverrideRule("a-pin", "import return", "exact",
                     add_hits=((999_999, 2),), drop_hits=(d2,)),
        # collision: second rule wants a different doc at pos 2 → loser
        # ranks organically (first claimant wins, rule-id order)
        OverrideRule("b-collide", "import return", "exact",
                     add_hits=((d1, 2),)),
        # contains rule firing on a different query
        OverrideRule("c-sub", "class", "contains", add_hits=((d3, 1),)),
    ])
    qset = [
        ("a", "import return"),   # both exact rules fire
        ("b", "class zzznope"),   # contains rule + drop-tokens off → class only
        ("c", "import"),          # no rule fires
    ]
    kw = dict(fields=("content",), num_typos=0, drop_tokens_threshold=0)
    out = batch_curated(built_index, qset, k=5, override_store=store, **kw)
    got = {}
    for r in out.collect():
        got.setdefault(r["qid"], []).append(
            (r["rank"], r["doc_id"], r["score_milli"], r["curated"])
        )
    for qid, q in qset:
        res = search(
            built_index,
            SearchRequest(q=q, per_page=5, override_store=store, **kw),
        )
        rows = res.hits.collect()
        if "curated" in res.hits.columns:
            want = [(r["rank"], r["doc_id"], r["score_milli"], r["curated"]) for r in rows]
        else:
            want = [(r["rank"], r["doc_id"], r["score_milli"], False) for r in rows]
        assert sorted(got.get(qid, [])) == sorted(want), (qid, got.get(qid), want)


def test_batch_curated_hidden_narrows_deepening_probe(spark):
    """Hidden docs must be excluded from the typo-deepening probe count
    in batch mode, like engine._deepen_level: hiding most cost-1 hits
    forces the query to deepen."""
    from typesense_spark.index import build_index
    from typesense_spark.search import SearchRequest, search
    from typesense_spark.search.batch import batch_curated

    rows = [(i, "aab common filler", "en") for i in range(8)]
    rows += [(100 + i, "aacc rare py", "py") for i in range(3)]
    df = spark.createDataFrame(rows, schema="doc_id long, text string, lang string")
    ix = build_index(spark, df, fields=["text"], id_col="doc_id", num_buckets=2)
    hid = tuple(range(6))  # hide 6 of the 8 cost-1 docs → 2 < thr=5
    kw = dict(fields=("text",), num_typos=2, prefix_last=False,
              typo_tokens_threshold=5)
    out = batch_curated(
        ix, [("h", "aaa"), ("u", "aaa")], k=10, hidden={"h": hid}, **kw
    )
    got = {}
    for r in out.collect():
        got.setdefault(r["qid"], set()).add(r["doc_id"])
    assert {100, 101, 102} <= got["h"]          # deepened under hidden
    assert got["u"].isdisjoint({100, 101, 102})  # un-hidden stops at cost 1
    for qid, h in (("h", hid), ("u", ())):
        res = search(
            ix,
            SearchRequest(q="aaa", per_page=10, hidden=h,
                          drop_tokens_threshold=0, **kw),
        )
        assert got.get(qid, set()) == {r["doc_id"] for r in res.hits.collect()}, qid


def test_batch_grouped_curated_matches_engine(built_index):
    """Q20 × group_by × batch: synthetic curated groups at group
    positions, organic groups exclude curated docs — parity with
    engine.search(group_by=..., override_store=...).grouped_hits,
    query by query."""
    from typesense_spark.search import OverrideRule, OverrideStore, SearchRequest, search
    from typesense_spark.search.batch import batch_grouped_curated

    base = search(
        built_index,
        SearchRequest(q="import return", fields=("content",), num_typos=0,
                      drop_tokens_threshold=0),
    )
    organics = [r["doc_id"] for r in base.hits.collect()]
    d1, d2 = organics[0], organics[2]
    store = OverrideStore([
        # two claimants for group position 1 (group_limit 2 keeps both),
        # plus a drop
        OverrideRule("a", "import return", "exact",
                     add_hits=((d1, 1), (999_999, 1)), drop_hits=(d2,)),
        OverrideRule("b", "class", "contains", add_hits=((d2, 2),)),
    ])
    qset = [("a", "import return"), ("b", "class"), ("c", "import")]
    kw = dict(fields=("content",), num_typos=0, drop_tokens_threshold=0)
    out = batch_grouped_curated(
        built_index, qset, ("lang",), group_limit=2, top_groups=4,
        override_store=store, **kw
    )
    got = {}
    for r in out.collect():
        got.setdefault(r["qid"], []).append(
            (r["group_pos"], r["group_rank"], r["doc_id"], r["score_milli"], r["curated"])
        )
    for qid, q in qset:
        res = search(
            built_index,
            SearchRequest(q=q, group_by=("lang",), group_limit=2, per_page=4,
                          override_store=store, **kw),
        )
        if res.grouped_hits is not None:
            want = [
                (r["group_pos"], r["group_rank"], r["doc_id"], r["score_milli"], r["curated"])
                for r in res.grouped_hits.collect()
            ]
        else:
            # no firing rule → organic grouped page (res.grouped carries
            # no group_pos; derive it by top-hit ordering), curated=False
            groups = {}
            for r in res.grouped.collect():
                groups.setdefault(r["lang"], []).append(
                    (r["group_rank"], r["doc_id"], r["score_milli"])
                )
            ordered = sorted(
                groups.values(), key=lambda ms: (-min(ms)[2], -min(ms)[1])
            )[:4]
            want = [
                (pos, gr, d, s, False)
                for pos, ms in enumerate(ordered, start=1)
                for gr, d, s in sorted(ms)
            ]
        assert sorted(got.get(qid, [])) == sorted(want), (qid, got.get(qid), want)
