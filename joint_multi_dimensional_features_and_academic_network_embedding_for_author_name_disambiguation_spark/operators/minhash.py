"""MinHash / LSH banding and SimHash — deterministic, JVM-side column math.

The reference brute-forces O(n²) text Jaccard inside each block
(src/pre_data/generate_adj.py:106-126); at 10¹²-file scale the blocking
key alone cannot bound pair counts, so MinHash band keys become part of
the composite blocking key (north_rule stage 1, SURVEY §4 item 3).

Everything is xxhash64-based: per-permutation hash h_i(t) =
xxhash64(seed_i, t); signature[i] = min over tokens. No RNG state — the
same row always produces the same signature regardless of partitioning
(SURVEY §7.4 determinism risk).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- bit-exact numpy re-implementation of Spark's xxhash64 over longs ----
# Spark evaluates xxhash64(lit(i), tok) as
#   hashLong(tok, seed=hashInt(i, 42))
# (catalyst XxHash64 folds arguments left-to-right, literal ints hash via
# the 4-byte path). The constants/rounds below are the public XXH64
# algorithm; equality with Spark's results is pinned by
# tests/test_dedup.py::test_banded_keys_fast_path_matches_expression.
_XP1 = 0x9E3779B185EBCA87
_XP2 = 0xC2B2AE3D27D4EB4F
_XP3 = 0x165667B19E3779F9
_XP4 = 0x85EBCA77C2B2AE63
_XP5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _xxh64_int(i: int, seed: int) -> int:
    """XXH64 of one 4-byte int (python ints, used only to precompute the
    per-permutation seeds at UDF-construction time)."""
    rotl = lambda x, r: ((x << r) | (x >> (64 - r))) & _M64
    h = (seed + _XP5 + 4) & _M64
    h ^= ((i & 0xFFFFFFFF) * _XP1) & _M64
    h = (rotl(h, 23) * _XP2 + _XP3) & _M64
    h ^= h >> 33
    h = (h * _XP2) & _M64
    h ^= h >> 29
    h = (h * _XP3) & _M64
    h ^= h >> 32
    return h


_SIG_UDF_CACHE: dict[int, object] = {}


def _minhash_sig_udf(num_hashes: int):
    """Arrow-batched minhash signature over array<long> token columns.

    Produces the EXACT signature of :func:`minhash_signature` (pinned by
    test) — min over tokens of Spark's xxhash64(lit(i), token), signed
    long min — but vectorized: the token-dependent half of each hash
    (k1 = rotl(tok·P2, 31)·P1) is computed once per token and shared by
    all num_hashes seed lanes, each lane is ~7 numpy ops over the
    batch-flattened token array, and the per-document min is one
    reduceat. The r5 expression path evaluated num_hashes interpreted
    array_min(transform(...)) trees per row — the dominant cost of every
    MinHash operator (guide §4.2: batch native kernels over interpreted
    per-element evaluation).
    """
    if num_hashes in _SIG_UDF_CACHE:
        return _SIG_UDF_CACHE[num_hashes]
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    seeds = np.array([_xxh64_int(i, 42) for i in range(num_hashes)], dtype=np.uint64)

    # no type annotations: module uses lazy (string) annotations and pandas
    # is function-local, so hint resolution would fail — the un-annotated
    # form is the classic Series→Series scalar pandas UDF
    @pandas_udf(T.ArrayType(T.LongType()))
    def _sig(tokens):
        n = len(tokens)
        vals = tokens.to_numpy(dtype=object)
        lens = np.fromiter(
            (0 if v is None else len(v) for v in vals), dtype=np.int64, count=n
        )
        nz = lens > 0
        total = int(lens.sum())
        sig_nz = None
        if total:
            with np.errstate(over="ignore"):
                flat = np.concatenate(
                    [np.asarray(v, dtype=np.int64) for v in vals[nz]]
                ).view(np.uint64)
                # token-dependent round, shared across all seed lanes
                k1 = flat * np.uint64(_XP2)
                k1 = ((k1 << np.uint64(31)) | (k1 >> np.uint64(33))) * np.uint64(_XP1)
                starts = np.concatenate(
                    ([0], np.cumsum(lens[nz])[:-1])
                ).astype(np.int64)
                sig_nz = np.empty((int(nz.sum()), num_hashes), dtype=np.int64)
                base = np.uint64(_XP5) + np.uint64(8)
                for j in range(num_hashes):
                    h = (seeds[j] + base) ^ k1
                    h = ((h << np.uint64(27)) | (h >> np.uint64(37))) * np.uint64(
                        _XP1
                    ) + np.uint64(_XP4)
                    h ^= h >> np.uint64(33)
                    h *= np.uint64(_XP2)
                    h ^= h >> np.uint64(29)
                    h *= np.uint64(_XP3)
                    h ^= h >> np.uint64(32)
                    # Spark's array_min is a SIGNED long min
                    sig_nz[:, j] = np.minimum.reduceat(h.view(np.int64), starts)
        empty = [None] * num_hashes  # empty/null tokens → all-null signature
        res: list = []
        k = 0
        for i in range(n):
            if nz[i]:
                res.append(sig_nz[k])
                k += 1
            else:
                res.append(empty)
        return pd.Series(res)

    _SIG_UDF_CACHE[num_hashes] = _sig
    return _sig


def _seeded_hash(seed: int):
    # single-arg lambda — a two-arg lambda would make PySpark bind the
    # second parameter to the ARRAY INDEX, not the closure value
    return lambda t: F.xxhash64(F.lit(seed), t)


def minhash_signature(tokens: Column, num_hashes: int = 64) -> Column:
    """array<bigint> of length num_hashes; null-safe (empty → nulls)."""
    return F.array(
        *[F.array_min(F.transform(tokens, _seeded_hash(i))) for i in range(num_hashes)]
    )


def banded_keys(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    bands: int = 16,
    rows: int = 4,
    prefix_col: str | None = None,
) -> DataFrame:
    """Skinny (id, block_key) band-key table — the production path.

    Two physically different plans, byte-identical keys:

    * hashed-token input (array<long>, every production call site): the
      signature is ONE Arrow-batched numpy kernel per row
      (:func:`_minhash_sig_udf`); band keys derive from the signature
      ATTRIBUTE (a python-UDF result is materialized once by its
      ArrowEvalPython node, so per-band slice() references cannot
      re-evaluate it) and explode into skinny rows with NO shuffle at
      all. The r5 path posexplode+groupBy'd id×(bands·rows) rows back
      together purely to avoid re-evaluating the interpreted signature
      expression per band — with the signature in a single UDF attribute
      that whole shuffle is unnecessary.
    * string tokens (generic callers): the r5 expression path —
      ``posexplode(signature)`` evaluates the signature exactly once per
      row (an explode is an evaluation barrier Catalyst cannot inline
      through), then band keys are a groupBy over (id, pos/rows).
      Deriving band columns with slice() here would make projection
      collapse re-inline (and re-evaluate) the signature subtree once
      per band — 32× the work (measured 34s → <2s on sf0.01).
    """
    elem = df.schema[tokens_col].dataType
    if isinstance(elem, T.ArrayType) and isinstance(elem.elementType, T.LongType):
        sig = _minhash_sig_udf(bands * rows)(F.col(tokens_col))
        cols = [F.col(id_col)] + ([F.col(prefix_col)] if prefix_col else [])
        base = df.select(*cols, sig.alias("_sig"))

        def mk(i: int) -> Column:
            bh = F.xxhash64(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(F.col("_sig"), i * rows + 1, rows),
                        lambda x: x.cast("string"),
                    ),
                )
            )
            parts = ([F.col(prefix_col)] if prefix_col else []) + [
                F.lit(str(i)),
                bh.cast("string"),
            ]
            return F.concat_ws("|", *parts)

        return base.select(
            F.col(id_col),
            F.explode(F.array(*[mk(i) for i in range(bands)])).alias("block_key"),
        )

    sig = minhash_signature(F.col(tokens_col), bands * rows)
    cols = [F.col(id_col)] + ([F.col(prefix_col)] if prefix_col else [])
    exploded = df.select(*cols, F.posexplode(sig).alias("_pos", "_h"))
    grp = [F.col(id_col), (F.col("_pos") / rows).cast("int").alias("_band")] + (
        [F.col(prefix_col)] if prefix_col else []
    )
    agg = (
        exploded.groupBy(*grp)
        .agg(F.array_sort(F.collect_list(F.struct("_pos", "_h"))).alias("_ph"))
        .withColumn(
            "_bh",
            F.xxhash64(F.concat_ws(",", F.transform(F.col("_ph"), lambda x: x["_h"].cast("string")))),
        )
    )
    parts = ([F.col(prefix_col)] if prefix_col else []) + [
        F.col("_band").cast("string"),
        F.col("_bh").cast("string"),
    ]
    return agg.select(F.col(id_col), F.concat_ws("|", *parts).alias("block_key"))


def simhash64(tokens: Column) -> Column:
    """64-bit SimHash of a token array as bigint.

    Bit b of the result = sign of Σ_tokens (2·bit_b(xxhash64(t)) − 1).
    Pure aggregate/zip_with — no Python, no RNG.
    """
    # shiftright takes a Python-int bit count, so the 64 bit positions are
    # unrolled at expression-build time (still a single JVM expression).
    bitvotes = F.aggregate(
        tokens,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, t: F.zip_with(
            acc,
            F.array(
                *[
                    (F.shiftright(F.xxhash64(t), b).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
                    for b in range(64)
                ]
            ),
            lambda x, y: x + y,
        ),
    )
    # Horner fold from bit 63 down via shiftleft|bitwiseOR: shifts wrap the
    # top bit silently under BOTH ANSI and non-ANSI sessions (an `acc * 2`
    # multiply throws ARITHMETIC_OVERFLOW under spark.sql.ansi.enabled=true
    # — operators must be correct independent of session conf). Same bit
    # layout as before, so hamming64 is unchanged.
    return F.aggregate(
        F.reverse(bitvotes),
        F.lit(0).cast("long"),
        lambda acc, v: F.shiftleft(acc, 1).bitwiseOR(
            F.when(v > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        ),
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two bigint SimHashes (popcount of xor)."""
    x = a.bitwiseXOR(b)
    return sum(
        (F.shiftright(x, i).bitwiseAND(F.lit(1)).cast("long") for i in range(64)),
        F.lit(0).cast("long"),
    )


def simhash_chunks(sim: Column, chunks: int = 4) -> list[Column]:
    """Split a 64-bit SimHash into equal chunks for candidate generation:
    two docs within hamming distance < chunks must agree on ≥1 chunk
    (pigeonhole), so each chunk value is a blocking key."""
    width = 64 // chunks
    mask = (1 << width) - 1
    return [
        F.shiftright(sim, i * width).bitwiseAND(F.lit(mask)).alias(f"chunk_{i}")
        for i in range(chunks)
    ]
