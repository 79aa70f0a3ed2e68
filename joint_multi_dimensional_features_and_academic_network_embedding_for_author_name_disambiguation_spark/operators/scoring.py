"""Stage-2 pairwise scoring: the reference's joint multi-dimensional
feature vector, fused by fixed learned weights.

Reference semantics being re-expressed (NOT ported):
  * rule model `generate_pair`: score = coauthor·1.5 + tanimoto(venue) +
    tanimoto(org) + |title∩|/3, accept ≥ 1.5 (src/utils/utils.py:182-254);
  * channel similarity graphs with per-channel rules
    (src/pre_data/generate_adj.py:73-138);
  * the adaptive local model (src/local_embedding/local_embedding.py) whose
    *semantic effect* is a learned convex combination of channel
    similarities (SURVEY §2.8 G5) — here the fixed ``CHANNEL_WEIGHTS``.

Channels over the files table:
  token_jaccard   — hashed token-set Jaccard (A4, JVM long-array math)
  shingle_jaccard — hashed word-3-gram Jaccard (structure-sensitive)
  path_sim        — Levenshtein ratio on normalized paths (F5, built-in)
  tfidf_cosine    — hashed TF-IDF cosine

The TF-IDF channel is scored by ``tfidf_cosine_jvm`` (one hash-merged
map_zip_with pass over (map, norm), no Arrow hop). ``tfidf_cosine_udf``
computes the same cosine over the (idx, val) arrays with numpy; it is
not on the scoring path and is kept as the Arrow twin that the
benchmark's kernel lane times against the JVM kernel (~3× slower
end-to-end at sf0.1, 3.2M pairs, local[32]).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from ..functions import similarity as S

# Fused channel weights (sum 1.0) — plays the role of the reference's
# learned attention weights over channels (local_embedding/model.py:34-58).
CHANNEL_WEIGHTS = {
    "token_jaccard": 0.35,
    "shingle_jaccard": 0.25,
    "tfidf_cosine": 0.25,
    "path_sim": 0.15,
}

# 5-channel variant with the network-embedding cosine — the reference fuses
# the HIN-embedding similarity as a first-class channel alongside the text
# channels (src/local_embedding/model.py:34-58, HIN channel loaded at
# local_embedding.py:74-79): the "joint multi-dimensional features AND
# academic network embedding" of the paper title.
CHANNEL_WEIGHTS_EMB = {
    "token_jaccard": 0.30,
    "shingle_jaccard": 0.20,
    "tfidf_cosine": 0.20,
    "path_sim": 0.10,
    "emb_cosine": 0.20,
}

TFIDF_DIM = 1024  # hashed feature space for the Arrow-UDF cosine variant


def tfidf_features(
    docs: DataFrame,
    id_col: str,
    tokens_col: str,
    dim: int = TFIDF_DIM,
    n_docs: int | None = None,
    distinct_tokens: bool = False,
) -> DataFrame:
    """Per-doc hashed TF-IDF sparse vectors.

    Returns (id, tfidf_idx: sorted array<long>, tfidf_val: array<float>
    aligned to idx, tfidf_map: map<long,float>, tfidf_norm: double).

    IDF = ln(N / df + 1) — the reference's formula
    (src/pre_embedding/get_pre_embedding.py:50-51). All JVM-side: explode →
    df counts → broadcast idf join → per-doc weights grouped back.
    ``tokens_col`` may be strings or hashed longs; the sparse index is
    pmod(xxhash64(token), dim).

    ``n_docs``: pass the row count when the caller already knows it (the
    pipeline counts the raw files scan) — skips a count job that would
    otherwise execute the docs projection one extra time.
    ``distinct_tokens``: set True when every row's token array is already
    deduplicated (normalize_files emits sets) — TF is then 1 by
    construction and the per-(id, token) pre-aggregation shuffle is
    dropped outright, with identical output values.
    """
    if n_docs is None:
        n_docs = docs.count()
    toks = docs.select(id_col, F.explode(tokens_col).alias("tok"))
    if distinct_tokens:
        tf = toks.withColumn("tf", F.lit(1))
    else:
        tf = toks.groupBy(id_col, "tok").agg(F.count("*").alias("tf"))
    df_counts = tf.groupBy("tok").agg(F.count("*").alias("df"))
    idf = df_counts.select("tok", (F.log(F.lit(float(n_docs)) / F.col("df") + 1.0)).alias("idf"))
    w = (
        tf.join(F.broadcast(idf), "tok")
        .withColumn("idx", F.pmod(F.xxhash64("tok"), F.lit(dim)).cast("long"))
        .withColumn("val", (F.col("tf") * F.col("idf")).cast("float"))
    )
    # hash collisions into the same idx bucket are summed (groupBy idx)
    per_idx = w.groupBy(id_col, "idx").agg(F.sum("val").cast("float").alias("val"))
    return (
        per_idx.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("idx", "val"))).alias("_iv"))
        .select(
            F.col(id_col),
            F.col("_iv.idx").alias("tfidf_idx"),
            F.col("_iv.val").alias("tfidf_val"),
            F.map_from_arrays(F.col("_iv.idx"), F.col("_iv.val")).alias("tfidf_map"),
            F.sqrt(
                F.aggregate(
                    F.col("_iv.val"), F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
                )
            ).alias("tfidf_norm"),
        )
    )


def tfidf_cosine_jvm(
    map_a: Column, norm_a: Column, map_b: Column, norm_b: Column
) -> Column:
    """Sparse cosine, pure JVM, via ONE hash-merged map_zip_with pass.

    The r1/r2 shape (array_intersect + per-key element_at lookups) paid
    O(k·m): element_at on MapType is a LINEAR scan of the map's backing
    array, run twice per common key — measured 93.9s for the channel on
    the 14.5M-pair workload. map_zip_with builds one hash index over the
    key union per pair (O(n+m)) and multiplies aligned values — 44.7s,
    identical results. Reads only (map, norm) per side, so the pipeline
    can drop the idx/val arrays from the pair payload entirely."""
    prod = F.map_zip_with(
        map_a,
        map_b,
        lambda k, x, y: F.when(
            x.isNotNull() & y.isNotNull(), x.cast("double") * y.cast("double")
        ).otherwise(F.lit(0.0)),
    )
    dot = F.aggregate(F.map_values(prod), F.lit(0.0), lambda acc, v: acc + v)
    return F.when((norm_a > 0) & (norm_b > 0), dot / (norm_a * norm_b)).otherwise(F.lit(0.0))


@pandas_udf(DoubleType())
def tfidf_cosine_udf(
    idx_a: pd.Series, val_a: pd.Series, idx_b: pd.Series, val_b: pd.Series
) -> pd.Series:
    """Arrow-batched hashed-vector cosine. One np.bincount densify per side
    per batch, one einsum for the dots — zero per-row Python."""
    n = len(idx_a)
    if n == 0:
        return pd.Series([], dtype="float64")

    def densify(idx: pd.Series, val: pd.Series) -> np.ndarray:
        lens = np.fromiter((0 if v is None else len(v) for v in idx), dtype=np.int64, count=n)
        if lens.sum() == 0:
            return np.zeros((n, TFIDF_DIM), dtype=np.float64)
        rows = np.repeat(np.arange(n), lens)
        cols = np.concatenate([np.asarray(v, dtype=np.int64) for v in idx if v is not None and len(v)])
        vals = np.concatenate([np.asarray(v, dtype=np.float64) for v in val if v is not None and len(v)])
        flat = rows * TFIDF_DIM + cols
        return np.bincount(flat, weights=vals, minlength=n * TFIDF_DIM).reshape(n, TFIDF_DIM)

    ma, mb = densify(idx_a, val_a), densify(idx_b, val_b)
    dots = np.einsum("ij,ij->i", ma, mb)
    na = np.linalg.norm(ma, axis=1)
    nb = np.linalg.norm(mb, axis=1)
    denom = na * nb
    out = np.where(denom > 0, dots / np.where(denom == 0, 1, denom), 0.0)
    return pd.Series(out)


def score_pairs(
    pairs: DataFrame,
    weights: dict[str, float] | None = None,
    prune_below: float | None = None,
    path_sim_impl: str = "lev",
) -> DataFrame:
    """Attach per-channel similarities + fused score to a candidate-pair df.

    Expects payload columns tokens_a/b, shingles_a/b, norm_path_a/b and
    (optionally) the tfidf_* columns from ``tfidf_features``. One select —
    a single pass over the pair stream, no intermediate materialization.

    ``prune_below``: tiered-cascade optimization. Tier 0 bounds the fused
    score from SIZE RATIOS alone (token_jaccard ≤ min|T|/max|T|,
    shingle_jaccard ≤ min|S|/max|S|, other channels := 1) — O(1) per
    pair, no intersect, no edit distance; measured 43% of the sf0.1
    bench pair stream pruned before any per-element work. Survivors get
    the cheap channels (token Jaccard, path lev); tier 1 re-bounds with
    the exact token Jaccard; tier 2 re-bounds with the exact shingle
    Jaccard before the TF-IDF (and embedding) channels run. Pruned pairs
    carry NULL for every channel not yet computed at their tier and
    score = the (sub-threshold) upper bound of their tier — so any
    downstream `score >= prune_below` filter selects exactly the same
    edges as a full scoring pass (survivor scores are produced by the
    identical expression, bit-equal). Leave None when the full channel
    vector matters (e.g. per-block adaptive thresholds, A5).

    ``path_sim_impl``: "lev" (default, JVM levenshtein_ratio) or "jw"
    (Jaro-Winkler — the north_rule's other named character-level path
    metric, Arrow-batched; see functions.similarity.jaro_winkler).
    """
    w = dict(weights or CHANNEL_WEIGHTS)
    has_tfidf = "tfidf_map_a" in pairs.columns
    has_emb = "emb_cosine" in w
    # tokens/shingles arrive deduplicated from normalize_files/word_ngrams
    # → the set-specialized Jaccard (no array_union build) is exact here
    tok_expr = S.jaccard_sets(F.col("tokens_a"), F.col("tokens_b"))
    # path channel: Levenshtein ratio (default, pure JVM) or Jaro-Winkler
    # (the north_rule's other named path metric; Arrow-batched UDF with
    # DuckDB-exact byte semantics). Both in [0,1], null → 0.0 for "jw".
    if path_sim_impl == "jw":
        path_expr = F.coalesce(
            S.jaro_winkler(F.col("norm_path_a"), F.col("norm_path_b")), F.lit(0.0)
        )
    else:
        path_expr = S.levenshtein_ratio(F.col("norm_path_a"), F.col("norm_path_b"))

    shingle_expr = S.jaccard_sets(F.col("shingles_a"), F.col("shingles_b"))
    if has_emb:
        # network-embedding channel (G4→F6); nodes absent from the
        # embedding table (no graph edges / OOV) EXCLUDE the channel and
        # renormalize the remaining weights (score = Σw·s / (1−w_emb)).
        # The r1-r4 fallback substituted token_jaccard, silently
        # double-weighting the token channel on exactly the pairs where
        # the graph signal is weakest (r4 VERDICT item 7); exclusion is
        # the unbiased deterministic analogue of the reference's OOV
        # idiom (F11). emb_cosine is NULL on OOV rows — honest output.
        if "emb_vec_a" in pairs.columns:
            emb_expr = F.when(
                F.col("emb_vec_a").isNotNull() & F.col("emb_vec_b").isNotNull(),
                S.cosine(F.col("emb_vec_a"), F.col("emb_vec_b")),
            )
        else:
            emb_expr = F.lit(None).cast("double")
        # renormalization denominator for OOV rows; w_emb == 1 would be a
        # degenerate single-channel config — floor the denominator
        oov_denom = max(1.0 - w["emb_cosine"], 1e-9)
    if has_tfidf:
        tfidf_expr = tfidf_cosine_jvm(
            F.col("tfidf_map_a"), F.col("tfidf_norm_a"),
            F.col("tfidf_map_b"), F.col("tfidf_norm_b"),
        )
    else:
        tfidf_expr = F.col("token_jaccard")

    if prune_below is None:
        out = pairs.withColumn("token_jaccard", tok_expr)
        out = out.withColumn("path_sim", path_expr)
        out = out.withColumn("shingle_jaccard", shingle_expr)
        out = out.withColumn("tfidf_cosine", tfidf_expr)
        fused: Column = sum(
            (F.lit(wt) * F.col(ch) for ch, wt in w.items() if ch != "emb_cosine"),
            F.lit(0.0),
        )
        if has_emb:
            out = out.withColumn("emb_cosine", emb_expr)
            fused = F.when(
                F.col("emb_cosine").isNotNull(),
                fused + F.lit(w["emb_cosine"]) * F.col("emb_cosine"),
            ).otherwise(fused / F.lit(oov_denom))
        return out.withColumn("score", F.round(fused, 9))

    # ---- tiered cascade. Every ub is a true upper bound of the fused
    # score (channels bounded by size ratios where known, by 1 otherwise);
    # still valid for OOV-renormalized rows: (cheap + A)/(1−w_emb) ≤
    # cheap + A + w_emb whenever cheap + A + w_emb ≤ 1 (weights are
    # convex), so no tier under-prunes. EPS absorbs the round-9 applied
    # to each channel and to the final score (≤ 5e-10 each): a bound may
    # be exceeded by rounding alone, never by more than EPS.
    EPS = 1e-9
    thr = F.lit(prune_below - EPS)
    w_t, w_p = w["token_jaccard"], w["path_sim"]
    w_s, w_f = w["shingle_jaccard"], w["tfidf_cosine"]
    w_e = w["emb_cosine"] if has_emb else 0.0
    na = F.coalesce(F.size(F.col("tokens_a")), F.lit(0))
    nb = F.coalesce(F.size(F.col("tokens_b")), F.lit(0))
    sa = F.coalesce(F.size(F.col("shingles_a")), F.lit(0))
    sb = F.coalesce(F.size(F.col("shingles_b")), F.lit(0))
    # token_jaccard ≤ min|T|/max|T| (inter ≤ min, union ≥ max); same for
    # shingles. O(1) arithmetic on array lengths — no per-element work.
    r_tok = F.when(
        F.greatest(na, nb) > 0, F.least(na, nb).cast("double") / F.greatest(na, nb)
    ).otherwise(F.lit(0.0))
    r_sh = F.when(
        F.greatest(sa, sb) > 0, F.least(sa, sb).cast("double") / F.greatest(sa, sb)
    ).otherwise(F.lit(0.0))

    # tier 0: sizes only — gates the intersects AND the edit distance
    ub0 = F.lit(w_t) * r_tok + F.lit(w_p) + F.lit(w_s) * r_sh + F.lit(w_f + w_e)
    keep0 = ub0 >= thr
    out = pairs.withColumn("token_jaccard", F.when(keep0, tok_expr))
    out = out.withColumn("path_sim", F.when(keep0, path_expr))
    cheap_part = w_t * F.col("token_jaccard") + w_p * F.col("path_sim")

    # tier 1: exact cheap channels, shingle still bounded by its size ratio
    ub1 = cheap_part + F.lit(w_s) * r_sh + F.lit(w_f + w_e)
    keep1 = keep0 & (ub1 >= thr)
    out = out.withColumn("shingle_jaccard", F.when(keep1, shingle_expr))

    # tier 2: exact shingle — only now pay for TF-IDF (and embedding)
    ub2 = cheap_part + w_s * F.col("shingle_jaccard") + F.lit(w_f + w_e)
    keep2 = keep1 & (ub2 >= thr)
    out = out.withColumn("tfidf_cosine", F.when(keep2, tfidf_expr))
    fused_full = (
        cheap_part
        + w["shingle_jaccard"] * F.col("shingle_jaccard")
        + w["tfidf_cosine"] * F.col("tfidf_cosine")
    )
    if has_emb:
        out = out.withColumn("emb_cosine", F.when(keep2, emb_expr))
        # emb_cosine is NULL when pruned OR OOV; `keep2` disambiguates
        fused_full = F.when(
            F.col("emb_cosine").isNotNull(),
            fused_full + w["emb_cosine"] * F.col("emb_cosine"),
        ).otherwise(fused_full / F.lit(oov_denom))
    score = (
        F.when(keep2, fused_full).when(keep1, ub2).when(keep0, ub1).otherwise(ub0)
    )
    return out.withColumn("score", F.round(score, 9))


def fit_channel_weights(
    scored_pairs: DataFrame,
    labeled_pairs: DataFrame,
    channels: tuple[str, ...] | None = None,
    label_col: str = "is_match",
    reg_param: float = 0.01,
    max_iter: int = 100,
) -> dict[str, float]:
    """Learn the fused channel weights from labeled pairs (G3).

    The reference LEARNS its fusion (triplet net at
    src/global_embedding/global_embedding.py:116-151, channel attention at
    src/local_embedding/model.py:34-58); the fixed CHANNEL_WEIGHTS only
    plays that role when no labels exist. Here: Spark-ML logistic
    regression over the already-computed channel columns of
    ``score_pairs(..., prune_below=None)`` joined to
    ``labeled_pairs(id_a, id_b, is_match)``, then the positive
    coefficients renormalized to a convex combination — the fused score
    stays in [0,1] so thresholds remain comparable to the fixed-weight
    runs. Distributed end-to-end (LBFGS over treeAggregate); returns a
    plain weights dict consumable by ``score_pairs(weights=...)``.

    Channels with a non-positive learned coefficient get weight 0 (an
    anti-correlated channel would otherwise flip a similarity into a
    penalty and break the [0,1] score range); if every coefficient is
    non-positive the fixed defaults are returned unchanged.
    """
    default_space = CHANNEL_WEIGHTS_EMB if "emb_cosine" in scored_pairs.columns else CHANNEL_WEIGHTS
    chs = list(channels) if channels else [c for c in default_space if c in scored_pairs.columns]

    # canonicalize pair orientation on BOTH sides: labeled pairs stored
    # reversed ((b, a) for a scored (a, b)) would otherwise silently drop
    # out of the training set and bias the fit. Channels are symmetric
    # scalars, so only the id columns need the least/greatest swap.
    def _canon(df: DataFrame) -> DataFrame:
        rest = [c for c in df.columns if c not in ("id_a", "id_b")]
        return df.select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            *rest,
        )

    # dedupe after canonicalization: a side carrying both (a,b) and (b,a)
    # collapses to one canonical key — without this the inner join
    # multiplies rows and double-weights those pairs in the fit. Channel
    # scores/labels are symmetric, so any survivor is equivalent.
    j = _canon(scored_pairs).dropDuplicates(["id_a", "id_b"]).join(
        _canon(labeled_pairs.select("id_a", "id_b", label_col)).dropDuplicates(["id_a", "id_b"]),
        ["id_a", "id_b"],
    )
    df = j.select(
        *[F.coalesce(F.col(c).cast("double"), F.lit(0.0)).alias(c) for c in chs],
        F.col(label_col).cast("double").alias("label"),
    )
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    vec = VectorAssembler(inputCols=chs, outputCol="features").transform(df)
    lr = LogisticRegression(
        featuresCol="features",
        labelCol="label",
        regParam=reg_param,
        elasticNetParam=0.0,
        maxIter=max_iter,
        standardization=True,
    )
    coef = lr.fit(vec).coefficients.toArray()
    pos = np.clip(coef, 0.0, None)
    if pos.sum() <= 0.0:
        return {c: default_space.get(c, 0.0) for c in chs}
    w = pos / pos.sum()
    return {c: float(round(w[i], 6)) for i, c in enumerate(chs)}


def adaptive_threshold(
    scored: DataFrame, block_col: str = "block_key", base: float = 0.5, k_sigma: float = 0.0
) -> DataFrame:
    """Per-block adaptive accept threshold: max(base, mean + k·σ) (A5).

    The reference thresholds text edges at mean+2σ *within a block*
    (generate_adj.py:117). Two-pass agg + broadcast join-back.
    """
    stats = scored.groupBy(block_col).agg(
        F.avg("score").alias("_mu"), F.coalesce(F.stddev("score"), F.lit(0.0)).alias("_sd")
    )
    thr = stats.select(
        block_col, F.greatest(F.lit(base), F.col("_mu") + k_sigma * F.col("_sd")).alias("_thr")
    )
    return scored.join(F.broadcast(thr), block_col).where(F.col("score") >= F.col("_thr")).drop("_thr")
