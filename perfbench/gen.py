"""Seeded, counter-based generator for the benchmark's corpora and query logs.

Rows follow ``typesense_spark.corpus``'s schema
``(repo, path, commit, lang, content)``. Content tokens come from a Zipf
vocabulary of pseudo-identifiers, so a corpus of 3,000 docs carries
~140k distinct terms (``corpus.py`` tops out at ~2k). Every value is a
pure function of ``(seed, doc index, token index)`` through splitmix64,
so rows do not depend on partitioning or generation order.

Vocabulary words are built from two-letter syllables; frequent ranks get
short words (2 syllables), the long tail gets 3-4 syllables, the way
frequent identifiers are short in real code. Within each length band a
seeded odd-multiplier bijection scatters ranks over the syllable space,
so neighbouring ranks are not neighbouring spellings.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

LANGS = ["python", "java", "go", "cpp", "js", "rust"]
EXT = {"python": "py", "java": "java", "go": "go", "cpp": "cc", "js": "js", "rust": "rs"}

ONSETS = "bcdfghklmnprstvz"  # 16
VOWELS = "aeio"  # 4 -> 64 syllables
SYLLABLES = [o + v for o in ONSETS for v in VOWELS]

# rank bands -> syllable count (band sizes stay below 64**k)
BANDS = [(0, 2_000, 2), (2_000, 200_000, 3), (200_000, 1 << 40, 4)]

VOCAB_SIZE = 1_500_000
ZIPF_S = 0.98
MIN_TOKENS, MAX_TOKENS = 40, 260

def splitmix64(x: np.ndarray) -> np.ndarray:
    z = x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _hash(seed: int, stream: int, ctr: np.ndarray) -> np.ndarray:
    """Independent uint64 streams keyed by (seed, stream), indexed by counter."""
    key = int(splitmix64(np.array([seed * 1_000_003 + stream], dtype=np.uint64))[0])
    with np.errstate(over="ignore"):
        return splitmix64(ctr.astype(np.uint64) ^ np.uint64(key))


def _unit(h: np.ndarray) -> np.ndarray:
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _zipf_pick(u: np.ndarray, n: int, s: float) -> np.ndarray:
    """Zipf(s)-popular ranks in [0, n) for uniform draws ``u``."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return np.minimum(np.searchsorted(np.cumsum(w / w.sum()), u, side="right"), n - 1)


def words_for(ranks: np.ndarray, seed: int) -> list[str]:
    """Spelling of each vocabulary rank (a bijection per length band)."""
    mult = int(_hash(seed, 1, np.array([0]))[0]) | 1
    add = int(_hash(seed, 2, np.array([0]))[0])
    out = []
    for r in ranks.tolist():
        for lo, hi, k in BANDS:
            if lo <= r < hi:
                space = 64**k
                x = ((r - lo) * mult + add) % space
                out.append("".join(SYLLABLES[(x >> (6 * i)) & 63] for i in range(k)))
                break
    return out


@dataclass
class Corpus:
    rows: list[tuple[str, str, str, str, str]]
    doc_of_token: np.ndarray  # doc index per token
    rank_of_token: np.ndarray  # vocabulary rank per token
    words: dict[int, str]  # rank -> spelling, for every rank used

    def postings(self) -> tuple[np.ndarray, np.ndarray]:
        """Distinct (doc, rank) pairs, encoded doc * VOCAB_SIZE + rank,
        with the term frequency of each — computed here, independently of
        the engine's tokenizer and build."""
        key = self.doc_of_token * VOCAB_SIZE + self.rank_of_token
        return np.unique(key, return_counts=True)

    def dictionary(self, pairs: np.ndarray) -> list[tuple[str, int]]:
        """[(term, df)] sorted by df desc, term asc — the built dictionary."""
        df = np.bincount(pairs % VOCAB_SIZE, minlength=VOCAB_SIZE)
        ranks = np.flatnonzero(df)
        terms = [(self.words[r], int(df[r])) for r in ranks.tolist()]
        terms.sort(key=lambda t: (-t[1], t[0]))
        return terms

    @property
    def content_bytes(self) -> int:
        return sum(len(r[4]) for r in self.rows)


def generate(n_docs: int, seed: int) -> Corpus:
    idx = np.arange(n_docs, dtype=np.uint64)
    h_doc = _hash(seed, 3, idx)
    lengths = (MIN_TOKENS + h_doc % np.uint64(MAX_TOKENS - MIN_TOKENS)).astype(np.int64)
    doc_of_token = np.repeat(np.arange(n_docs, dtype=np.int64), lengths)
    starts = np.concatenate([[0], np.cumsum(lengths)[:-1]])
    pos = np.arange(doc_of_token.size, dtype=np.int64) - np.repeat(starts, lengths)
    ctr = (doc_of_token.astype(np.uint64) << np.uint64(20)) | pos.astype(np.uint64)
    h_tok = _hash(seed, 4, ctr)
    ranks = _zipf_pick(_unit(h_tok), VOCAB_SIZE, ZIPF_S).astype(np.int64)

    used = np.unique(ranks)
    words = dict(zip(used.tolist(), words_for(used, seed)))
    spell = np.array([words[r] for r in used.tolist()], dtype=object)
    tok_str = spell[np.searchsorted(used, ranks)]
    # code flavour the tokenizer must normalise: CamelCase heads, call
    # parens and trailing colons are stripped/lowercased in place
    deco = (h_tok >> np.uint64(56)).astype(np.int64)
    cap = deco % 9 == 0
    tok_str[cap] = [w.capitalize() for w in tok_str[cap]]
    call = deco % 7 == 1
    tok_str[call] = [w + "()" for w in tok_str[call]]
    colon = deco % 13 == 2
    tok_str[colon] = [w + ":" for w in tok_str[colon]]
    # newline every 12 tokens; the last token of a doc carries a doc
    # separator, so one join builds every doc and slicing splits them
    ends = np.cumsum(lengths) - 1
    sep = np.where((pos + 1) % 12 == 0, "\n", " ").astype(object)
    sep[ends] = "\x00"
    parts = np.empty(2 * tok_str.size, dtype=object)
    parts[0::2] = tok_str
    parts[1::2] = sep
    contents = "".join(parts).split("\x00")[:n_docs]

    rows = []
    for i, (h, content) in enumerate(zip(h_doc.tolist(), contents)):
        lang = LANGS[(h >> 16) % len(LANGS)]
        rows.append(
            (
                f"org{h % 7}/repo{(h >> 8) % 23}",
                f"src/dir{(h >> 24) % 50}/file{i}.{EXT[lang]}",
                f"{h:016x}{(h * 0x9E3779B97F4A7C15) & ((1 << 64) - 1):016x}{h >> 32:08x}",
                lang,
                content,
            )
        )
    return Corpus(rows, doc_of_token, ranks, words)


def query_tokens(dictionary: list[tuple[str, int]], seed: int, stream: int, n: int) -> list[str]:
    """``n`` dictionary terms with Zipf popularity over the df ranking."""
    u = _unit(_hash(seed, stream, np.arange(n, dtype=np.uint64)))
    return [dictionary[int(i)][0] for i in _zipf_pick(u, len(dictionary), 1.0)]


def misspell(word: str, h: int) -> str:
    """One substitution — edit distance 1, within ``bounded_typo_cost``
    for any word of length >= 2 at ``num_typos`` >= 1."""
    i = h % len(word)
    letters = [c for c in "abcdefghiklmnoprstuvz" if c != word[i]]
    return word[:i] + letters[(h >> 8) % len(letters)] + word[i + 1 :]


def uniform(seed: int, stream: int, n: int) -> list[int]:
    return [int(x) for x in _hash(seed, stream, np.arange(n, dtype=np.uint64))]
