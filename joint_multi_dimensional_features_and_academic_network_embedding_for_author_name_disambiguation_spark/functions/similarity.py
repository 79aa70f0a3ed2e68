"""Pairwise similarity measures as Column expressions (JVM-side).

Reference semantics re-expressed with built-ins:
  * token-set Jaccard / Tanimoto — src/pre_data/generate_adj.py:32-36 and
    src/utils/utils.py:174-176 (A4)
  * Levenshtein ratio — src/pre_data/generate_adj.py:70-71 (F5)
  * cosine over dense embedding arrays — src/local_embedding/
    local_embedding.py:296 etc. (F6), here F.aggregate/zip_with array math

All functions return DoubleType columns and are null-safe (empty arrays →
0.0), so they can sit directly in the pair-scoring select list.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


def jaccard(a: Column, b: Column) -> Column:
    """|a∩b| / |a∪b| over token arrays (set semantics)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, F.round(inter / union, 9)).otherwise(F.lit(0.0))


def jaccard_sets(a: Column, b: Column) -> Column:
    """Jaccard for arrays KNOWN to be distinct (sets): |a∪b| computed as
    |a|+|b|−|a∩b| instead of materializing array_union — skips one
    hash-set build per pair, measured 1.5-1.7× faster on the 14.5M-pair
    scoring workload with identical results. Precondition: both arrays
    are deduplicated (normalize_files and word_ngrams emit
    array_distinct output); for arbitrary arrays use ``jaccard``."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return F.when(union > 0, F.round(inter / union, 9)).otherwise(F.lit(0.0))


def tanimoto(a: Column, b: Column) -> Column:
    """Reference tanimoto (utils.py:174-176): |a∩b| / (|a|+|b|-|a∩b|).

    Equals Jaccard on sets; kept separate because the reference applies it
    to possibly-multiset token lists after distinct — we take distinct.
    """
    ad, bd = F.array_distinct(a), F.array_distinct(b)
    inter = F.size(F.array_intersect(ad, bd)).cast("double")
    denom = F.size(ad) + F.size(bd) - inter
    return F.when(denom > 0, F.round(inter / denom, 9)).otherwise(F.lit(0.0))


def levenshtein_ratio(a: Column, b: Column) -> Column:
    """1 - lev(a,b)/max(len) — generate_adj.py:70-71, built-in edit distance."""
    mx = F.greatest(F.length(a), F.length(b)).cast("double")
    return F.when(mx > 0, F.round(1.0 - F.levenshtein(a, b) / mx, 9)).otherwise(F.lit(1.0))


def cosine(a: Column, b: Column) -> Column:
    """Cosine over ArrayType(Float/Double) columns, pure array math.

    dot/(‖a‖·‖b‖) via zip_with + aggregate. Higher-order functions run on
    Catalyst's INTERPRETED expression path (no whole-stage codegen), at
    roughly µs-per-element — fine where the pair volume is small or
    cascade-gated (scoring's emb channel evaluates it only on survivors),
    wrong for an ungated brute-force pair stream: 200k pairs × 64 dims ×
    3 aggregates measured ~200 s serial. For bulk dense cosine use
    :func:`cosine_batch` (one Arrow transfer + numpy einsum per batch).
    """
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def l2_norm(a: Column) -> Column:
    """‖a‖₂ as the exact sequential square-fold subexpression of
    :func:`cosine` — exposed so pair-stream callers can fold each side's
    norm once per ROW instead of once per PAIR (bit-identical values:
    same fold, same order, evaluated on the row side of the join)."""
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


def cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """:func:`cosine` with caller-precomputed :func:`l2_norm` columns —
    one interpreted array fold per pair (the dot) instead of three."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def char_bag_distance(a: Column, b: Column) -> Column:
    """Multiset symmetric-difference count between two strings' characters
    (F4) — the reference's name-matching distance
    (src/pre_data/repare_data_name.py:48-65, duplicate at
    generate_adj.py:38-55): Σ_c |count(a,c) − count(b,c)| over every char
    appearing in either string. Pure column math, null-safe (null → full
    length of the other side)."""
    ca = F.filter(F.split(F.coalesce(a, F.lit("")), ""), lambda x: x != "")
    cb = F.filter(F.split(F.coalesce(b, F.lit("")), ""), lambda x: x != "")
    chars = F.array_distinct(F.concat(ca, cb))
    return F.aggregate(
        chars,
        F.lit(0),
        lambda acc, ch: acc
        + F.abs(
            F.size(F.filter(ca, lambda x: x == ch)) - F.size(F.filter(cb, lambda x: x == ch))
        ),
    )


def _jaro_winkler_batch(a_vals: list, b_vals: list) -> np.ndarray:
    """Vectorized Jaro-Winkler over one Arrow batch, byte-level.

    The inner loop advances over BYTE POSITIONS (bounded by the longest
    string in the batch), never rows: each iteration resolves the greedy
    in-window match for one a-position across the ENTIRE batch with numpy
    boolean algebra, so the work is O(La · n · Lb) vectorized ops and the
    only per-row Python is input marshalling (same discipline as
    scoring.tfidf_cosine_udf). Intended for short identifier / normalized
    path strings — the reference's name-matching role
    (src/pre_data/repare_data_name.py:48-65); do not point it at document
    bodies.

    Semantics pinned to DuckDB ``jaro_winkler_similarity`` (verified
    empirically in-container, including the odd-transposition case):
      * operates on UTF-8 BYTES (not code points);
      * match window = max(⌊max(la,lb)/2⌋ − 1, 0);
      * greedy first-unused match within the window, scanning b
        left-to-right for each a-position in order;
      * transpositions t = (#order mismatches between the matched
        subsequences) // 2  (integer division);
      * jaro = (m/la + m/lb + (m−t)/m)/3; 0.0 when m == 0 or either
        side is empty (both-empty → 0.0, as DuckDB);
      * Winkler boost 0.1·min(common_prefix_bytes, 4)·(1−jaro) applied
        only when jaro > 0.7;
      * NULL on either side → NULL (NaN here).
    """
    n = len(a_vals)
    if n == 0:
        return np.zeros(0, dtype=np.float64)
    isnull = np.fromiter(
        ((x is None) or (y is None) for x, y in zip(a_vals, b_vals)), dtype=bool, count=n
    )
    ab = [x.encode("utf-8") if isinstance(x, str) else b"" for x in a_vals]
    bb = [y.encode("utf-8") if isinstance(y, str) else b"" for y in b_vals]
    la = np.fromiter((len(x) for x in ab), dtype=np.int64, count=n)
    lb = np.fromiter((len(x) for x in bb), dtype=np.int64, count=n)
    La, Lb = int(la.max(initial=0)), int(lb.max(initial=0))
    out = np.zeros(n, dtype=np.float64)
    if La == 0 or Lb == 0:
        out[isnull] = np.nan
        return out

    def _pad(bufs: list, lens: np.ndarray, width: int) -> np.ndarray:
        mat = np.zeros((n, width), dtype=np.uint8)
        total = int(lens.sum())
        if total:
            flat = np.frombuffer(b"".join(bufs), dtype=np.uint8)
            rows = np.repeat(np.arange(n), lens)
            offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
            cols = np.arange(total) - np.repeat(offs, lens)
            mat[rows, cols] = flat
        return mat

    A, B = _pad(ab, la, La), _pad(bb, lb, Lb)
    kcol = np.arange(Lb)[None, :]
    valid_b = kcol < lb[:, None]
    win = np.maximum(np.maximum(la, lb) // 2 - 1, 0)
    used = np.zeros((n, Lb), dtype=bool)
    a_matched = np.zeros((n, La), dtype=bool)
    for j in range(La):
        active = la > j
        if not active.any():
            break
        cand = (B == A[:, j : j + 1]) & ~used & valid_b
        cand &= (kcol >= (j - win)[:, None]) & (kcol <= (j + win)[:, None])
        cand &= active[:, None]
        has = cand.any(axis=1)
        k = cand.argmax(axis=1)
        used[has, k[has]] = True
        a_matched[has, j] = True
    m = a_matched.sum(axis=1)
    mmax = int(m.max(initial=0))
    if mmax:
        # matched bytes of a in a-order vs matched bytes of b in b-order;
        # stable argsort(~flag) compacts matched positions leftward
        oa = np.argsort(~a_matched, axis=1, kind="stable")[:, :mmax]
        ob = np.argsort(~used, axis=1, kind="stable")[:, :mmax]
        ca = np.take_along_axis(A, oa, axis=1)
        cb = np.take_along_axis(B, ob, axis=1)
        mism = (ca != cb) & (np.arange(mmax)[None, :] < m[:, None])
        t = mism.sum(axis=1) // 2
    else:
        t = np.zeros(n, dtype=np.int64)
    safe = m > 0
    ms, las, lbs = m.astype(np.float64), la.astype(np.float64), lb.astype(np.float64)
    jaro = np.zeros(n, dtype=np.float64)
    jaro[safe] = (
        ms[safe] / las[safe] + ms[safe] / lbs[safe] + (ms[safe] - t[safe]) / ms[safe]
    ) / 3.0
    w = min(4, La, Lb)
    if w:
        eq = (A[:, :w] == B[:, :w]) & (np.arange(w)[None, :] < np.minimum(la, lb)[:, None])
        pref = np.cumprod(eq, axis=1).sum(axis=1)
    else:
        pref = np.zeros(n, dtype=np.int64)
    out = np.where(jaro > 0.7, jaro + pref * 0.1 * (1.0 - jaro), jaro)
    out[isnull] = np.nan
    return out


def jaro_winkler(a: Column, b: Column) -> Column:
    """Jaro-Winkler similarity (north_rule stage-2 path/name channel),
    DuckDB-compatible byte-level semantics — see _jaro_winkler_batch.

    Spark has no built-in Jaro-Winkler, so this is one of the few places
    the engine leaves the JVM: an Arrow-batched pandas UDF whose inner
    loops are over byte positions, not rows (zero per-row Python in the
    scoring sense). Returns DoubleType in [0,1]; NULL iff either input
    is NULL.
    """
    return _jaro_winkler_pudf(a, b)


@pandas_udf(DoubleType())
def _jaro_winkler_pudf(sa: pd.Series, sb: pd.Series) -> pd.Series:
    return pd.Series(_jaro_winkler_batch(sa.tolist(), sb.tolist()))


def cosine_batch(a: Column, b: Column) -> Column:
    """Bulk dense cosine: one numpy einsum per Arrow batch (F6/F7 role).

    Same semantics as :func:`cosine` (0.0 on NULL input or zero norm;
    NULL when the two arrays have different lengths, matching the HOF
    path's zip_with null propagation) but ~100× cheaper per pair on
    ungated pair streams, where the interpreted higher-order-function
    path dominates the stage (measured: 206k 64-dim pairs, 214 s HOF vs
    <2 s here). Summation order differs from the sequential aggregate
    fold, so raw doubles can differ in the last few ulps — round before
    any exact comparison (all call sites round to ≤9 digits).
    """
    return _cosine_pudf(a, b)


def _cosine_batch_np(a_vals: pd.Series, b_vals: pd.Series) -> np.ndarray:
    n = len(a_vals)
    out = np.zeros(n, dtype=np.float64)
    mask = (a_vals.notna() & b_vals.notna()).to_numpy()
    if not mask.any():
        return out
    av = [np.asarray(v, dtype=np.float64) for v in a_vals.to_numpy()[mask]]
    bv = [np.asarray(v, dtype=np.float64) for v in b_vals.to_numpy()[mask]]
    try:
        A, B = np.stack(av), np.stack(bv)
        dots = np.einsum("ij,ij->i", A, B)
        den = np.sqrt(np.einsum("ij,ij->i", A, A)) * np.sqrt(np.einsum("ij,ij->i", B, B))
    except ValueError:  # ragged batch — per-row numpy, still no Python arithmetic.
        # HOF parity (r5 ADVICE): a length-MISMATCHED pair is NULL (NaN
        # through Arrow), exactly like cosine()'s zip_with null
        # propagation — the old truncated-dot/full-norm fallback was not
        # a cosine of any vector pair. Equal-length rows in a ragged
        # batch still get the true cosine.
        same = [len(x) == len(y) for x, y in zip(av, bv)]
        dots = np.array(
            [float(np.dot(x, y)) if s else np.nan for x, y, s in zip(av, bv, same)]
        )
        den = np.array(
            [
                float(np.linalg.norm(x) * np.linalg.norm(y)) if s else 1.0
                for x, y, s in zip(av, bv, same)
            ]
        )
    vals = np.zeros(len(av), dtype=np.float64)
    good = den > 0
    vals[good] = dots[good] / den[good]
    out[mask] = vals
    return out


@pandas_udf(DoubleType())
def _cosine_pudf(sa: pd.Series, sb: pd.Series) -> pd.Series:
    return pd.Series(_cosine_batch_np(sa, sb))
