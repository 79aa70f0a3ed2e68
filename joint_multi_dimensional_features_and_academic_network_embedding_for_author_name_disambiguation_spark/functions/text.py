"""Text normalization / tokenization / analysis as JVM-side Column math.

``normalize_text``, ``tokenize``, ``path_stem`` and ``hashed_word_ngrams``
are defined once, as SQL text (``*_sql``) that their Column helpers
parse, so a plan built from SQL strings (``normalize_files``) reads the
same definitions.

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

from .similarity import sql_of

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


def normalize_text_sql(text: str) -> str:
    """SQL text of :func:`normalize_text` over the SQL expression ``text``."""
    return f"trim(regexp_replace(lower({text}), '{NON_ALNUM}', ' '))"


def normalize_text(col: Column | str) -> Column:
    """lowercase → non-alphanumerics to space → trim (F1). Arguments as
    in ``similarity.sql_of``."""
    return F.expr(normalize_text_sql(sql_of(col)))


def tokenize_sql(text: str, min_len: int = 2, drop_stopwords: bool = True) -> str:
    """SQL text of :func:`tokenize` over the SQL expression ``text``."""
    toks = f"filter(split({normalize_text_sql(text)}, ' '), x -> (length(x) >= {min_len}))"
    if drop_stopwords:
        # filter, NOT array_except — array_except silently dedups, which
        # would corrupt downstream shingle sequences
        sw = ", ".join(f"'{s}'" for s in STOPWORDS)
        toks = f"filter({toks}, x -> (NOT array_contains(array({sw}), x)))"
    return toks


def tokenize(col: Column | str, min_len: int = 2, drop_stopwords: bool = True) -> Column:
    """Normalized token array: split, drop empties/short tokens/stopwords.

    Reference: split + `len(word) > 1` filter (src/utils/utils.py:403,418)
    + stopword removal (F2/F3). Arguments as in ``similarity.sql_of``.
    """
    return F.expr(tokenize_sql(sql_of(col), min_len, drop_stopwords))


def path_stem_sql(path: str) -> str:
    """SQL text of :func:`path_stem` over the SQL expression ``path``."""
    base = f"element_at(split({path}, '/'), -1)"
    stem = f"regexp_replace({base}, '\\\\.[A-Za-z0-9]+$', '')"  # drop extension
    stem = f"lower(regexp_replace({stem}, '[^A-Za-z0-9]+', ''))"
    # strip ALL trailing variant junk in one anchored pass so `foo`,
    # `foo2`, `foo_v2`, `foo2_copy` normalize identically
    return f"regexp_replace({stem}, '(copy|final|new|old|backup|bak|v[0-9]+|[0-9]+)+$', '')"


def path_stem(path: Column | str) -> Column:
    """Normalized file-name stem used as part of the blocking key.

    Strips directories, extension, case, separators, and common clone
    suffixes (`_copy`, `_v2`, trailing digits) so renamed/moved clones
    land in the same block — the analogue of the reference's cleaned
    author_name blocking key (src/pre_data/repare_data_name.py).
    Arguments as in ``similarity.sql_of``.
    """
    return F.expr(path_stem_sql(sql_of(path)))


def hashed_word_ngrams_sql(hashed_tokens: str, n: int = 3) -> str:
    """SQL text of :func:`hashed_word_ngrams` over the SQL expression
    ``hashed_tokens``."""
    idx = f"sequence(1, greatest((size(t) - {n - 1}), 1))"
    shingles = f"transform({idx}, i -> xxhash64(slice(t, i, {n})))"
    build = (
        f"array_distinct(CASE WHEN (size(t) >= {n}) THEN {shingles} "
        "ELSE array(xxhash64(t)) END)"
    )
    return f"element_at(transform(array({hashed_tokens}), t -> {build}), 1)"


def hashed_word_ngrams(hashed_tokens: Column | str, n: int = 3) -> Column:
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
    Arguments as in ``similarity.sql_of``.
    """
    return F.expr(hashed_word_ngrams_sql(sql_of(hashed_tokens), n))


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
