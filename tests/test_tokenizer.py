"""Tokenizer parity: pinned spec (reference src/tokenizer.cpp:4-112)
across the pure-Python and Spark-SQL implementations (the build's
vectorized route is checked against the same spec in
tests/test_index_build.py).
Vectors per FIXTURES.md F5 / reference test/tokenizer_test.cpp.
"""

from typesense_spark.tokenizer import explode_tokens, tokenize

VECTORS = [
    # punctuation stripped in place, not a split point
    ("(free)", [("free", 0)]),
    ("c++ is fun", [("c", 0), ("is", 1), ("fun", 2)]),
    # split only on space and newline; empties consume positions
    ("a  b", [("a", 0), ("b", 2)]),
    ("a\nb c", [("a", 0), ("b", 1), ("c", 2)]),
    ("tab\there", [("tabhere", 0)]),  # tab is NOT a separator
    ("Hello WORLD", [("hello", 0), ("world", 1)]),
    ("x9 9x _9_", [("x9", 0), ("9x", 1), ("9", 2)]),
    ("", []),
    ("   ", []),
    # unicode transliteration (iconv ASCII//TRANSLIT analogue)
    ("Löwenbräu", [("lowenbrau", 0)]),
    ("café au lait", [("cafe", 0), ("au", 1), ("lait", 2)]),
    # NON-TRANSLITERABLE PASSTHROUGH (reference keeps the original
    # bytes on EILSEQ, src/tokenizer.cpp:79-81): CJK/Cyrillic tokens
    # stay searchable verbatim, case preserved; unicode punctuation is
    # dropped like its ASCII transliteration would be
    ("Привет, мир!", [("Привет", 0), ("мир", 1)]),
    ("你好 世界。", [("你好", 0), ("世界", 1)]),
    ("Тест42 ёлка", [("Тест42", 0), ("ёлка", 1)]),
    ("Ｋｅｙｂｏａｒｄ ｖａｌｕｅ１", [("keyboard", 0), ("value1", 1)]),
    ("naïve — résumé…", [("naive", 0), ("resume", 2)]),
    ("snow☃man 🎉", [("snowman", 0)]),
]


def test_pure_python_vectors():
    for raw, expected in VECTORS:
        assert tokenize(raw) == expected, raw


def test_spark_matches_python_unicode(spark):
    """JVM explode_tokens implements the FULL pinned spec (fold table +
    unicode strip), not just the ASCII subset — all three
    implementations agree on every vector including passthrough."""
    vectors = [(i, raw) for i, (raw, _) in enumerate(VECTORS) if raw]
    df = spark.createDataFrame(vectors, schema="doc_id long, content string")
    got = {}
    for r in explode_tokens(df, "content").collect():
        got.setdefault(r["doc_id"], []).append((r["term"], r["pos"]))
    for i, raw in vectors:
        want = tokenize(raw)
        assert sorted(got.get(i, []), key=lambda x: x[1]) == want, raw


def test_spark_matches_python_ascii(spark):
    ascii_vectors = [(i, raw) for i, (raw, _) in enumerate(VECTORS) if raw.isascii()]
    df = spark.createDataFrame(ascii_vectors, schema="doc_id long, content string")
    got = {}
    for r in explode_tokens(df, "content").collect():
        got.setdefault(r["doc_id"], []).append((r["term"], r["pos"]))
    for i, raw in ascii_vectors:
        expected = tokenize(raw)
        assert sorted(got.get(i, [])) == sorted(expected), raw


def test_spark_matches_python_on_corpus(spark, corpus_df):
    df = corpus_df.limit(40).selectExpr(
        "monotonically_increasing_id() AS doc_id", "content"
    )
    rows = df.collect()
    got = {}
    for r in explode_tokens(df, "content").collect():
        got.setdefault(r["doc_id"], []).append((r["pos"], r["term"]))
    for r in rows:
        expected = sorted((p, t) for t, p in tokenize(r["content"]))
        assert sorted(got.get(r["doc_id"], [])) == expected


def test_ascii_fast_path_equals_slow_path():
    """The whole-string-strip fast path must equal the per-token path
    on adversarial ASCII: tabs/CR inside tokens, punctuation-only
    tokens, leading/trailing/double separators."""
    import re

    from typesense_spark.tokenizer import tokenize

    def slow(text):
        out = []
        for pos, raw in enumerate(re.split(r"[ \n]", text)):
            term = re.sub(r"[^a-z0-9]", "", raw.lower())
            if term:
                out.append((term, pos))
        return out

    cases = [
        "",
        " ",
        "  double  spaces ",
        "tab\tinside token",
        "carriage\rreturn and\nnewline",
        "(free) c++ -flag #tag 100%",
        "UPPER Mixed lower 123",
        "!!! ??? ...",
        "a\nb\nc",
        "trailing \n",
    ]
    import random

    rng = random.Random(11)
    alphabet = "ab C1.,!-\t\r \n(){}+#"
    cases += ["".join(rng.choice(alphabet) for _ in range(60)) for _ in range(300)]
    for t in cases:
        assert tokenize(t) == slow(t), repr(t)


def test_fold_table_is_jvm_shippable():
    """The translate fold table crosses py4j as UTF-8: any scan change
    that lets a non-encodable codepoint in (the surrogate block did,
    round 5 — every JVM-tokenize query crashed) must fail HERE, not in
    the first Spark query that ships the table."""
    from typesense_spark.tokenizer import fold_table

    matching, replace = fold_table()
    matching.encode("utf-8")
    replace.encode("utf-8")
    assert len(replace) <= len(matching)
    # no duplicate sources: translate uses the FIRST occurrence; a
    # duplicate means two scan ranges overlapped
    assert len(set(matching)) == len(matching)
