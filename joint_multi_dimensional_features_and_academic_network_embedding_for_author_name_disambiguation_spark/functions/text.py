"""Text normalization / tokenization / analysis as JVM-side Column math.

Mirrors the reference's text pipeline semantics (lowercase → strip
punctuation → collapse whitespace → split → drop short tokens/stopwords;
``convert()`` duplicated across the reference at e.g.
src/pre_data/generate_data.py:57-76 and src/pre_data/generate_adj.py:57-69)
but with zero per-row Python: everything here compiles into whole-stage
codegen. The only reference piece intentionally dropped is pinyin
transliteration (Chinese-name specific; our domain is source code).

Also provides the training-data-pipeline text analyses (language-ID
heuristic, quality scoring, token counting, rolling-hash fingerprint) —
each expressible identically in ANSI SQL for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Compact stopword list: intersection of the reference's inline list
# (src/utils/utils.py:337-345) with generic English function words; the
# reference's full 926-entry file is domain(OAG)-specific.
STOPWORDS: tuple[str, ...] = (
    "a", "an", "and", "are", "as", "at", "be", "by", "for", "from",
    "in", "is", "it", "of", "on", "or", "that", "the", "this", "to",
    "was", "were", "with",
)

# Punctuation-to-space regex, same role as the reference's `rrrr` regex
# (src/pre_data/generate_data.py:23).
NON_ALNUM = "[^a-z0-9]+"


def normalize_text(col: Column) -> Column:
    """lowercase → non-alphanumerics to space → trim (F1)."""
    return F.trim(F.regexp_replace(F.lower(col), NON_ALNUM, " "))


def tokenize(col: Column, min_len: int = 2, drop_stopwords: bool = True) -> Column:
    """Normalized token array: split, drop empties/short tokens/stopwords.

    Reference: split + `len(word) > 1` filter (src/utils/utils.py:403,418)
    + stopword removal (F2/F3).
    """
    toks = F.split(normalize_text(col), " ")
    toks = F.filter(toks, lambda x: F.length(x) >= min_len)
    if drop_stopwords:
        # F.filter, NOT array_except — array_except silently dedups, which
        # would corrupt downstream shingle sequences
        sw = F.array(*[F.lit(s) for s in STOPWORDS])
        toks = F.filter(toks, lambda x: ~F.array_contains(sw, x))
    return toks


def path_stem(path: Column) -> Column:
    """Normalized file-name stem used as part of the blocking key.

    Strips directories, extension, case, separators, and common clone
    suffixes (`_copy`, `_v2`, trailing digits) so renamed/moved clones
    land in the same block — the analogue of the reference's cleaned
    author_name blocking key (src/pre_data/repare_data_name.py).
    """
    base = F.element_at(F.split(path, "/"), -1)
    stem = F.regexp_replace(base, r"\.[A-Za-z0-9]+$", "")  # drop extension
    stem = F.lower(F.regexp_replace(stem, "[^A-Za-z0-9]+", ""))
    # strip ALL trailing variant junk in one anchored pass so `foo`,
    # `foo2`, `foo_v2`, `foo2_copy` normalize identically
    stem = F.regexp_replace(stem, "(copy|final|new|old|backup|bak|v[0-9]+|[0-9]+)+$", "")
    return stem


def hashed_word_ngrams(hashed_tokens: Column, n: int = 3) -> Column:
    """Word n-gram shingle HASHES from an already-hashed token array.

    Equivalent set semantics to ``transform(word_ngrams(toks, n),
    xxhash64)`` — two documents share a shingle hash iff they share the
    underlying n-token window (up to the same 2^-64-scale xxhash64
    collision class) — but ~2× cheaper per row: each shingle is one
    chained ``xxhash64`` over an n-slice of longs instead of a
    ``concat_ws`` string allocation plus a string hash, and the distinct
    pass runs on longs. The <n-token fallback hashes the whole (hashed)
    sequence, mirroring word_ngrams' single whole-document shingle; a
    k<n-element chained hash cannot equal an n-element one, so fallback
    and true shingles never alias. Same let-binding discipline as
    word_ngrams (the input is referenced once per output element).
    """
    def build(t: Column) -> Column:
        m = F.size(t)
        idx = F.sequence(F.lit(1), F.greatest(m - (n - 1), F.lit(1)))
        return F.array_distinct(
            F.when(m >= n, F.transform(idx, lambda i: F.xxhash64(F.slice(t, i, n))))
            .otherwise(F.array(F.xxhash64(t)))
        )

    return F.element_at(F.transform(F.array(hashed_tokens), build), 1)


def word_ngrams(tokens: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a token array (n-gram Jaccard dedup).

    LET-BINDING, load-bearing: the shingle expression references its token
    input once per OUTPUT ELEMENT (the slice inside the lambda). If
    ``tokens`` is an inline expression (e.g. ``tokenize(text)``), Catalyst
    substitutes the whole subtree at every reference and re-tokenizes the
    document once per shingle — O(tokens²·|stopwords|) per row (measured
    21.8 s for 5000 sf0.1 docs; 10⁶× worse at corpus scale). Binding the
    input through a single-element-array ``transform`` evaluates it
    exactly once per row and every inner reference is a lambda VARIABLE.
    """
    def build(t: Column) -> Column:
        m = F.size(t)
        idx = F.sequence(F.lit(0), F.greatest(m - n, F.lit(0)))
        return F.array_distinct(
            F.when(m >= n, F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i + 1, n))))
            .otherwise(F.array(F.concat_ws(" ", t)))
        )

    return F.element_at(F.transform(F.array(tokens), build), 1)


# ---------------------------------------------------------------------------
# Training-data-pipeline text analyses (documents table)
# ---------------------------------------------------------------------------

def fingerprint(text: Column) -> Column:
    """Deterministic rolling-hash document fingerprint (bigint).

    Polynomial hash over normalized tokens: acc = (acc*31 + len(tok)*131
    + ascii(first char)) mod 2^31-1. Character-cheap but order-sensitive;
    identical formula runs in the DuckDB oracle via list_reduce.
    """
    toks = F.split(normalize_text(text), " ")
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + F.length(x) * 131 + F.ascii(x)) % F.lit(2147483647),
    )
