"""Property-based tests (hypothesis): codec round-trips on arbitrary
inputs, tokenizer invariants, scoring quantization monotonicity."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from typesense_spark import scoring
from typesense_spark.index.codec import (
    pack_block,
    unpack_block,
    varint_decode,
    varint_encode,
    varint_encode_split,
)
from typesense_spark.tokenizer import tokenize


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip_any(values):
    v = np.array(values, dtype=np.uint64)
    assert varint_decode(varint_encode(v)).tolist() == values


@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=200, unique=True),
    st.data(),
)
@settings(max_examples=100, deadline=None)
def test_block_roundtrip_any(ids, data):
    ids = np.array(sorted(ids), dtype=np.uint64)
    n = ids.size
    tfs = np.array(data.draw(st.lists(st.integers(1, 10**6), min_size=n, max_size=n)), dtype=np.uint64)
    con = np.array(data.draw(st.lists(st.integers(0, 10**9), min_size=n, max_size=n)), dtype=np.uint64)
    i2, t2, c2, _ = unpack_block(*pack_block(ids, tfs, con, None))
    assert (i2 == ids).all() and (t2 == tfs).all() and (c2 == con).all()


@given(st.lists(st.lists(st.integers(0, 2**30), max_size=20), min_size=1, max_size=50))
@settings(max_examples=100, deadline=None)
def test_varint_split_concat_identity(rows):
    flat = np.array([x for r in rows for x in r], dtype=np.uint64)
    counts = np.array([len(r) for r in rows], dtype=np.int64)
    parts = varint_encode_split(flat, counts)
    assert len(parts) == len(rows)
    # concatenation of per-row slices decodes to the original stream
    assert varint_decode(b"".join(parts)).tolist() == flat.tolist()
    for part, row in zip(parts, rows):
        assert varint_decode(part).tolist() == row


@given(st.text(max_size=200))
@settings(max_examples=300, deadline=None)
def test_tokenizer_invariants(text):
    import unicodedata

    toks = tokenize(text)
    raw_count = len(text.split(" ")) if text else 0
    for term, pos in toks:
        assert term  # never empty
        for c in term:
            if c.isascii():
                # ASCII content is always lowered alnum
                assert c.isalnum() and c == c.lower()
            else:
                # passthrough branch (reference keeps unmappable bytes,
                # src/tokenizer.cpp:79-81): must be a letter/number/mark
                # with NO ASCII NFKD projection, case PRESERVED verbatim
                folded = unicodedata.normalize("NFKD", c)
                assert not any(f.isascii() for f in folded)
                assert unicodedata.category(c)[0] in ("L", "N", "M")
        assert 0 <= pos
    positions = [p for _, p in toks]
    assert positions == sorted(positions)


@given(
    st.integers(1, 10**6),  # tf
    st.integers(1, 10**4),  # dl
    st.integers(1, 10**6),  # df
    st.integers(1, 10**9),  # N (>= df enforced below)
)
@settings(max_examples=300, deadline=None)
def test_contrib_quantization_sane(tf, dl, df, n):
    n = max(n, df)
    avgdl = max(dl / 2, 1.0)
    c = scoring.contrib_milli(tf, dl, df, n, avgdl)
    assert c >= 0
    # monotone in tf (same doc, more occurrences never scores lower)
    c2 = scoring.contrib_milli(tf + 1, dl, df, n, avgdl)
    assert c2 >= c


# small alphabets (one of them non-ASCII, one multi-byte) make typo and
# prefix neighbours common; small df / max_score ranges make rank ties,
# and max_score takes the int64 extremes
_ALPHA = "abcéж"
_term = st.text(_ALPHA, min_size=1, max_size=6)
_rank = st.one_of(st.integers(-2, 2), st.sampled_from([-(2**63), 2**63 - 1]))


@given(
    st.dictionaries(_term, st.tuples(st.integers(1, 3), _rank),
                    min_size=1, max_size=60),
    st.lists(st.one_of(_term, st.text(_ALPHA, min_size=1, max_size=2)),
             min_size=1, max_size=4),
    st.sampled_from(["levenshtein", "osa"]),
    st.integers(0, 2),
    st.booleans(),
    st.sampled_from(["df", "max_score"]),
    st.data(),
)
@settings(max_examples=300, deadline=None)
def test_term_dict_kernel_matches_spec(entries, tokens, distance, num_typos,
                                       prefix, rank_by, data):
    """The vectorized expander equals the linear-scan spec
    (``oracle.expand_query``) candidate for candidate: costs, per-cost
    caps, (−rank, term) order with term-ASC tie-breaks, the bounded cost
    of 1-2 char tokens, prefix top-10 and prefix-wins-min-cost — for
    both distances and both candidate orderings."""
    from typesense_spark import oracle
    from typesense_spark.search.expand import TermDict, expand_query

    terms = list(entries)
    # tokens are near the dictionary as often as not: a term, or one
    # edit away from one
    tokens += [data.draw(st.sampled_from(terms)) for _ in range(2)]
    tokens.append(data.draw(st.sampled_from(terms))[::-1])
    td = TermDict(terms, [entries[t][0] for t in terms], [entries[t][1] for t in terms])
    specs = [(t, prefix) for t in tokens]
    rank = {t: entries[t][1] for t in terms} if rank_by == "max_score" else None
    want = oracle.expand_query(
        specs, {t: entries[t][0] for t in terms}, num_typos, distance, rank=rank
    )
    assert expand_query(specs, td, num_typos, distance, rank_by) == want
    assert dict(td) == {t: entries[t][0] for t in terms}


def test_term_dict_rank_at_int64_extremes():
    """A max_score of int64 min ranks last, in the typo caps and in the
    prefix top-10 (a negated int64 min would wrap to rank first)."""
    from typesense_spark import oracle
    from typesense_spark.search.expand import TermDict, expand_query

    terms = ["aa"] + [f"a{c}" for c in "bcdefghijkl"]
    ms = [0] + [-(2**63)] + [2**63 - 1] * 10
    td = TermDict(terms, [1] * len(terms), ms)
    specs = [("ax", False), ("a", True)]
    got = expand_query(specs, td, 1, rank_by="max_score")
    assert got == oracle.expand_query(specs, dict.fromkeys(terms, 1), 1,
                                      rank=dict(zip(terms, ms)))
    assert "ab" not in dict(got[("ax", False)]) and "ab" not in dict(got[("a", True)])
