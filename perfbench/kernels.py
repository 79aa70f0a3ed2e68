"""Kernel lane (traced runs only): each channel kernel against its twin on
one fixed, cached batch taken from the workload's own inputs.

Twins: JVM map_zip_with vs Arrow bincount TF-IDF cosine, JVM Levenshtein
vs Arrow Jaro-Winkler path similarity, numpy XXH64 vs JVM-expression
MinHash band keys. A kernel's cost is the mean wall time of REPS
aggregates over the batch minus that of a bare count over the same batch,
per pair or row. On small batches, per-job fixed costs the count does not
share (the Python worker hop of the Arrow kernels) are part of the figure.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

PAIRS = 6000
ROWS = 2000
REPS = 2


def _mean_s(fn) -> float:
    t0 = time.perf_counter()
    for _ in range(REPS):
        fn()
    return (time.perf_counter() - t0) / REPS


def kernel_lane(er, spark, files) -> dict[str, float]:
    """files: the workload's parquet scan. Returns kernel.<k>.<unit> -> ns."""
    S, scoring, T = er["similarity"], er["scoring"], er["text"]
    spark.sparkContext.setJobDescription("perfbench kernels")
    raw = files.limit(ROWS).persist()
    n_rows = raw.count()
    staged: list = []
    norm = er["pipeline"].normalize_files(raw, staged=True, persists=staged)
    feats = scoring.tfidf_features(norm.select("id", "tokens"), "id", "tokens",
                                   n_docs=n_rows, distinct_tokens=True)
    members = (norm.join(feats, "id")
               .select("id", "lang", "tokens", "shingles", "norm_path", "tfidf_map",
                       "tfidf_norm", "tfidf_idx", "tfidf_val",
                       F.concat_ws("|", "lang", "stem").alias("block_key"))
               .persist())
    members.count()
    pairs = (er["pairs"].blocked_pairs(members.drop("lang"), "block_key", "id")
             .limit(PAIRS).persist())
    n_pairs = pairs.count()

    def agg(df, expr):
        return lambda: df.agg(F.sum(expr.cast("double"))).collect()

    pair_base = _mean_s(lambda: pairs.agg(F.count("*")).collect())
    row_base = _mean_s(lambda: members.agg(F.count("*")).collect())
    col = F.col
    pair_kernels = {
        "token_jaccard": S.jaccard_sets(col("tokens_a"), col("tokens_b")),
        "shingle_jaccard": S.jaccard_sets(col("shingles_a"), col("shingles_b")),
        "path_lev": S.levenshtein_ratio(col("norm_path_a"), col("norm_path_b")),
        "path_jw": S.jaro_winkler(col("norm_path_a"), col("norm_path_b")),
        "tfidf_jvm": scoring.tfidf_cosine_jvm(col("tfidf_map_a"), col("tfidf_norm_a"),
                                              col("tfidf_map_b"), col("tfidf_norm_b")),
        "tfidf_arrow": scoring.tfidf_cosine_udf(col("tfidf_idx_a"), col("tfidf_val_a"),
                                                col("tfidf_idx_b"), col("tfidf_val_b")),
    }
    out = {}
    for name, expr in pair_kernels.items():
        t = _mean_s(agg(pairs, expr)) - pair_base
        out[f"kernel.{name}.ns_per_pair"] = 1e9 * t / max(n_pairs, 1)

    banded = er["minhash"].banded_keys
    as_strings = members.select("id", "lang", F.transform("tokens", lambda t: t.cast("string")).alias("tokens"))
    row_kernels = {
        # array<long> tokens take the numpy XXH64 path ...
        "minhash_bands": lambda: banded(members, "id", "tokens", bands=8, rows=8,
                                        prefix_col="lang").count(),
        # ... string tokens the JVM-expression path to the same key table
        "minhash_jvm": lambda: banded(as_strings, "id", "tokens", bands=8, rows=8,
                                      prefix_col="lang").count(),
        "tokenize_hash": agg(raw, F.size(F.transform(T.tokenize(col("content")),
                                                     lambda t: F.xxhash64(t)))),
    }
    for name, fn in row_kernels.items():
        t = _mean_s(fn) - row_base
        out[f"kernel.{name}.ns_per_row"] = 1e9 * t / max(n_rows, 1)
    for df in [pairs, members, raw, *staged]:
        df.unpersist()
    spark.sparkContext.setJobDescription(None)
    return out
