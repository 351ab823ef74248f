"""Pinned tokenizer — ONE spec, three interchangeable implementations.

Reference parity (``/root/reference/src/tokenizer.cpp:4-112``):

- split ONLY on space (0x20) and newline (0x0A) — tabs are not
  separators (``src/tokenizer.cpp:26-28``);
- within a raw token, keep only ASCII alphanumerics, lowercased —
  punctuation is stripped *in place*, not a split point: ``"(free)"`` →
  ``free``, ``"c++"`` → ``c`` (``src/tokenizer.cpp:43-47``);
- non-ASCII characters are transliterated to ASCII per CHARACTER (the
  reference uses iconv ``ASCII//TRANSLIT``, ``include/tokenizer.h:23``);
  when a character CANNOT be represented in ASCII the reference keeps
  the ORIGINAL bytes (``src/tokenizer.cpp:79-81``) — so CJK / Cyrillic /
  Greek tokens stay searchable verbatim. Pinned spec per non-ASCII char:
  NFKD-decompose; if the decomposition contains ASCII, keep its ASCII
  alphanumerics lowercased (é→e, Ｋ→k, ½→12); otherwise keep the
  character UNCHANGED if it is a unicode letter/number/mark (世, П, ё —
  original case preserved, exactly the kept-bytes branch), and drop it
  if it is punctuation/symbol/separator (— « ☃ — iconv transliterates
  those to ASCII punctuation, which the alnum filter then drops).
  Documented deviations from glibc's table: single chars WITHOUT an
  NFKD decomposition (æ ø ß đ) pass through as letters rather than
  transliterating to digraphs — consistent across all three
  implementations and both oracles;
- token *positions* are a running counter over raw tokens; with
  ``keep_empty`` (the indexing path, ``src/index.cpp:530-545``) empty
  tokens consume positions but are not emitted.

Implementations (proven identical by ``tests/test_tokenizer.py``):

1. :func:`tokenize` — pure Python, shared by the oracle and the engine
   driver (query parsing), and by the index build's per-row fallback
   for non-ASCII rows and array fields (``build.tokenize_tf``; ASCII
   rows take its byte-LUT numpy fast path to the same tokens).
2. :func:`explode_tokens` — pure Spark SQL expressions (JVM whole-stage
   codegen; the ops hot path). Folding uses a 1:1 char translate table
   generated from the SAME ``_fold_char`` (see :func:`fold_table`);
   multi-char decompositions (ﬁ → fi) are the one pinned divergence —
   they pass through on this path (rare enough that the ops gates stay
   exact on every tested corpus; corpora heavy in such forms should
   route through the pandas path).
3. :func:`tokenize_pandas` — vectorized pandas path (Arrow-batched; no
   per-row Python in the Spark plan), delegating to :func:`tokenize`.

DuckDB-oracle equivalent (same spec, used by ``__spark_entry__``):
:func:`duckdb_tokenize_expr` — the same translate table + RE2 class
``[^a-z0-9\\p{L}\\p{N}\\p{M}]``; the legacy pure-ASCII form remains
:data:`DUCKDB_TOKENIZE_SQL` (identical on ASCII corpora).
"""

from __future__ import annotations

import re
import unicodedata
from functools import lru_cache

import pandas as pd

_SPLIT_RE = re.compile(r"[ \n]")
_STRIP_RE = re.compile(r"[^a-z0-9]")
# ASCII fast path: stripping everything outside [a-z0-9 \n] over the
# WHOLE lowered string preserves the separators exactly, so splitting
# afterwards yields the same tokens AND positions as per-token
# stripping — one C-level pass instead of a Python loop of regex subs
# (≈1.8× on the build's tokenize stage; equivalence is covered by the
# tokenizer parity + hypothesis property tests)
_FULL_STRIP_RE = re.compile(r"[^a-z0-9 \n]")


@lru_cache(maxsize=65536)
def _fold_char(ch: str) -> str:
    """One non-ASCII char → its pinned ASCII projection, or itself.

    NFKD with ASCII content → that content's alnum, lowered (the iconv
    TRANSLIT analogue). No ASCII content → the reference's EILSEQ
    branch: keep the ORIGINAL char when it carries meaning (letter /
    number / combining mark), drop separators/punctuation/symbols
    (iconv maps those to ASCII punctuation, which is then stripped)."""
    folded = unicodedata.normalize("NFKD", ch)
    if any(c.isascii() for c in folded):
        return "".join(c.lower() for c in folded if c.isascii() and c.isalnum())
    return ch if unicodedata.category(ch)[0] in ("L", "N", "M") else ""


def _fold_ascii(raw: str) -> str:
    """Non-ASCII raw token → pinned term content (see module spec)."""
    return "".join(
        (ch.lower() if ch.isalnum() else "") if ch.isascii() else _fold_char(ch)
        for ch in raw
    )


def tokenize(text: str, fold_unicode: bool = True) -> list[tuple[str, int]]:
    """text → [(term, position)]; positions count raw tokens (keep_empty)."""
    if text is None:
        return []
    if text.isascii():
        cleaned = _FULL_STRIP_RE.sub("", text.lower())
        return [
            (term, pos) for pos, term in enumerate(_SPLIT_RE.split(cleaned)) if term
        ]
    out: list[tuple[str, int]] = []
    for pos, raw in enumerate(_SPLIT_RE.split(text)):
        if raw.isascii() or not fold_unicode:
            term = _STRIP_RE.sub("", raw.lower())
        else:
            term = _fold_ascii(raw)
        if term:
            out.append((term, pos))
    return out


def tokenize_terms(text: str) -> list[str]:
    """Just the term stream (BM25 path needs no positions)."""
    return [t for t, _ in tokenize(text)]


def tokenize_pandas(texts: pd.Series) -> pd.Series:
    """Vectorized batch tokenizer: Series[str] → Series[list[(term,pos)]].

    Used inside mapInPandas for non-ASCII corpora; identical output to
    :func:`tokenize` by construction (it calls it per value — the work
    is regex-bound, amortized by Arrow batching).
    """
    return texts.map(lambda t: tokenize(t) if t is not None else [])


# ---------------------------------------------------------------- Spark SQL

# split pattern keeps empty tokens so array index == reference position
SPLIT_PATTERN = "[ \\n]"
STRIP_PATTERN = "[^a-z0-9]"
# post-translate strip: ASCII non-alnum goes; non-ASCII letters/numbers/
# marks stay (the passthrough branch); non-ASCII punctuation/symbols/
# separators go. Valid Java regex AND RE2 (DuckDB) — shared verbatim.
UNICODE_STRIP_PATTERN = "[^a-z0-9\\p{L}\\p{N}\\p{M}]"

# BMP range scanned for 1:1 fold entries: the FULL assigned BMP above
# Latin-1 (r4 ADVICE: the earlier Latin+CJK-punct / width-forms pair
# missed ~941 foldable codepoints in [0x3000, 0xFE30), e.g. ㈠ which
# deletes on the Python path but survived as \p{N} on the JVM/DuckDB
# path). Scanning 65k codepoints runs once per process (~0.1 s, cached).
# Remaining documented divergence classes of the JVM/DuckDB paths vs
# the authoritative Python/pandas path:
#   - multi-char ASCII decompositions (ﬁ→fi, ㎞→km) — translate() is
#     1:1, so these pass through (pre-existing pinned divergence);
#   - non-BMP codepoints (𝐀→a, 🄰) — Spark's translate operates on
#     UTF-16 code units, so supplementary-plane entries cannot be
#     expressed safely in the shared table; they pass through verbatim.
# Corpora heavy in either class should route through the pandas path.
# surrogate block EXCLUDED: lone surrogates cannot be UTF-8-encoded,
# so putting them in the translate table kills the py4j call that
# ships it to the JVM (they can never appear in valid parquet/UTF-8
# input either — nothing to fold)
_FOLD_SCAN_RANGES = ((0x41, 0x5B), (0xA0, 0xD800), (0xE000, 0xFFF0))


@lru_cache(maxsize=1)
def fold_table() -> tuple[str, str]:
    """(matching, replace) for a 1:1 char translate shared by the JVM
    path and the DuckDB oracle: ASCII A-Z→a-z plus every scanned char
    whose :func:`_fold_char` projection is a single ASCII char (é→e,
    Ａ→a); chars folding to NOTHING (ASCII-decomposable but non-alnum)
    sit at the tail of ``matching`` with no ``replace`` counterpart —
    translate() deletes them in both engines."""
    src_keep, dst = [], []
    src_del = []
    for lo, hi in _FOLD_SCAN_RANGES:
        for cp in range(lo, hi):
            ch = chr(cp)
            if ch.isascii():
                if "A" <= ch <= "Z":
                    src_keep.append(ch)
                    dst.append(ch.lower())
                continue
            f = _fold_char(ch)
            if len(f) == 1 and f.isascii():
                src_keep.append(ch)
                dst.append(f)
            elif f == "":
                # folds away entirely — let translate delete it so the
                # strip regex never has to enumerate these
                src_del.append(ch)
    return "".join(src_keep) + "".join(src_del), "".join(dst)


def explode_tokens(df, content_col: str, doc_id_col: str = "doc_id", extra_cols=()):
    """JVM-side tokenize: df → (doc_id, [extra], pos, term), term != ''.

    Fully whole-stage-codegen'd: split → posexplode → translate (the
    shared fold table: lowercase + accent folds + fold-away deletions)
    → unicode-aware strip → filter. No Python in the plan. Non-ASCII
    letters outside the fold table pass through VERBATIM (original
    case), matching the pinned Python tokenizer.
    """
    from pyspark.sql import functions as F

    matching, replace = fold_table()
    cols = [doc_id_col, *extra_cols]
    toks = df.select(
        *cols,
        F.posexplode(F.split(F.col(content_col), SPLIT_PATTERN, -1)).alias("pos", "raw"),
    )
    return toks.select(
        *cols,
        "pos",
        F.regexp_replace(
            F.translate(F.col("raw"), matching, replace),
            UNICODE_STRIP_PATTERN,
            "",
        ).alias("term"),
    ).where(F.col("term") != "")


DUCKDB_TOKENIZE_SQL = (
    "SELECT {cols}, regexp_replace(lower(tok), '[^a-z0-9]', '', 'g') AS term "
    "FROM {table}, unnest(string_split_regex({content}, '[ \\n]')) AS _u(tok) "
    "WHERE regexp_replace(lower(tok), '[^a-z0-9]', '', 'g') <> ''"
)


def duckdb_tokenize_sql(table: str, content: str, cols: str) -> str:
    """The same tokenizer as ANSI-ish SQL DuckDB runs for the oracle
    (legacy pure-ASCII form — identical to the pinned spec on ASCII
    corpora, which every driver-generated testdata table is)."""
    return DUCKDB_TOKENIZE_SQL.format(table=table, content=content, cols=cols)


def duckdb_tokenize_expr(tok_expr: str) -> str:
    """DuckDB expression: raw token SQL expr → pinned term, including
    the unicode fold/passthrough branches — translate() with the SAME
    fold table as the JVM path, then the shared RE2 strip class."""
    matching, replace = fold_table()
    m = matching.replace("'", "''")
    r = replace.replace("'", "''")
    return (
        f"regexp_replace(translate({tok_expr}, '{m}', '{r}'), "
        f"'{UNICODE_STRIP_PATTERN}', '', 'g')"
    )
