"""Pairwise precision / recall / F1 — the reference's acceptance metric.

Counting semantics are exactly src/utils/utils.py:63-94 (and the duplicate
pairwise_evaluate at :302-324): over all unordered mention pairs i<j in a
block,
    TP    = pred-same ∧ true-same
    TP+FP = pred-same
    TP+FN = true-same
    P = TP/(TP+FP), R = TP/(TP+FN), F1 = harmonic mean (0 when either is 0).

The reference loops O(n²) in Python; here the same numbers come from the
contingency table in O(#distinct label pairs): for cluster-size counts c,
#same-pairs = Σ c·(c−1)/2 — a groupBy + sum, no pair materialization (A6).
Macro = average of per-block F1 (the reference's trailing `average` CSV
row, local_embedding.py:640-645); micro = pooled counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _pairs_of(n):  # n·(n−1)/2 as a Column
    return (n * (n - F.lit(1)) / F.lit(2)).cast("double")


def pairwise_confusion(
    joined: DataFrame, block_col: str = "block_key", pred_col: str = "pred", true_col: str = "truth"
) -> DataFrame:
    """Per-block (tp, pred_pairs, true_pairs) from (block, id, pred, true)."""
    cell = joined.groupBy(block_col, pred_col, true_col).agg(F.count("*").alias("c"))
    tp = cell.groupBy(block_col).agg(F.sum(_pairs_of(F.col("c"))).alias("tp"))
    pred_sz = (
        joined.groupBy(block_col, pred_col).agg(F.count("*").alias("c"))
        .groupBy(block_col).agg(F.sum(_pairs_of(F.col("c"))).alias("pred_pairs"))
    )
    true_sz = (
        joined.groupBy(block_col, true_col).agg(F.count("*").alias("c"))
        .groupBy(block_col).agg(F.sum(_pairs_of(F.col("c"))).alias("true_pairs"))
    )
    return tp.join(pred_sz, block_col).join(true_sz, block_col)


def pairwise_f1(
    pred_labels: DataFrame,
    true_labels: DataFrame,
    block_col: str = "block_key",
    id_col: str = "id",
) -> dict:
    """pred_labels(id, component); true_labels(block_key, id, cluster_id).

    Returns {'macro_f1', 'micro_f1', 'micro_precision', 'micro_recall',
    'per_block': DataFrame}.

    ``macro_f1`` averages per-block F1 and scores a block with no true
    pair as 0, so on many small blocks it reads well below a perfect
    answer's 1.0 (about 0.85 where micro reads 1.0). Read ``micro_f1``
    to judge a clustering.
    """
    joined = true_labels.join(pred_labels.select(id_col, "component"), id_col).select(
        F.col(block_col), F.col(id_col), F.col("component").alias("pred"), F.col("cluster_id").alias("truth")
    )
    conf = pairwise_confusion(joined, block_col)
    per_block = conf.select(
        block_col,
        "tp",
        "pred_pairs",
        "true_pairs",
        F.when(F.col("pred_pairs") > 0, F.col("tp") / F.col("pred_pairs")).otherwise(F.lit(0.0)).alias("precision"),
        F.when(F.col("true_pairs") > 0, F.col("tp") / F.col("true_pairs")).otherwise(F.lit(0.0)).alias("recall"),
    ).withColumn(
        "f1",
        F.when(
            (F.col("precision") > 0) & (F.col("recall") > 0),
            2 * F.col("precision") * F.col("recall") / (F.col("precision") + F.col("recall")),
        ).otherwise(F.lit(0.0)),
    )
    agg = per_block.agg(
        F.avg("f1").alias("macro_f1"),
        F.sum("tp").alias("tp"),
        F.sum("pred_pairs").alias("pp"),
        F.sum("true_pairs").alias("tpn"),
    ).collect()[0]
    micro_p = (agg["tp"] / agg["pp"]) if agg["pp"] else 0.0
    micro_r = (agg["tp"] / agg["tpn"]) if agg["tpn"] else 0.0
    micro_f1 = (2 * micro_p * micro_r / (micro_p + micro_r)) if (micro_p and micro_r) else 0.0
    return {
        "macro_f1": float(agg["macro_f1"] or 0.0),
        "micro_f1": float(micro_f1),
        "micro_precision": float(micro_p),
        "micro_recall": float(micro_r),
        "per_block": per_block,
    }


def nmi_ari(
    joined: DataFrame, block_col: str = "block_key", pred_col: str = "pred", true_col: str = "truth"
) -> DataFrame:
    """Per-block NMI + ARI from the same contingency cells as pairwise F1.

    The reference evaluates every run with NMI and ARI alongside pairwise
    F1 (src/utils/clustering_metric.py:61-66, sklearn
    normalized_mutual_info_score / adjusted_rand_score, called from
    src/local_embedding/local_embedding.py:602-606). Both are closed forms
    over groupBy(pred,truth).count() cells — O(#distinct label pairs), no
    sklearn, no pair materialization:

      MI  = Σ_ij (n_ij/N)·ln(N·n_ij/(a_i·b_j))
      NMI = MI / ((H_pred + H_true)/2)        (sklearn 'arithmetic' default)
      ARI = (Σ_ij C(n_ij,2) − E) / ((Σ_i C(a_i,2)+Σ_j C(b_j,2))/2 − E),
            E = Σ_i C(a_i,2)·Σ_j C(b_j,2)/C(N,2)

    Degenerate conventions match sklearn: both-sides-single-cluster → NMI
    1.0; zero ARI denominator (both partitions trivial) → ARI 1.0.
    Returns (block_key, n, nmi, ari).
    """
    cell = joined.groupBy(block_col, pred_col, true_col).agg(F.count("*").alias("c"))
    cell = cell.withColumn("c", F.col("c").cast("double"))
    a = joined.groupBy(block_col, pred_col).agg(F.count("*").cast("double").alias("a"))
    b = joined.groupBy(block_col, true_col).agg(F.count("*").cast("double").alias("b"))
    n = joined.groupBy(block_col).agg(F.count("*").cast("double").alias("n"))

    mi_terms = (
        cell.join(a, [block_col, pred_col])
        .join(b, [block_col, true_col])
        .join(n, block_col)
        .groupBy(block_col)
        .agg(
            F.sum(
                (F.col("c") / F.col("n"))
                * F.log(F.col("n") * F.col("c") / (F.col("a") * F.col("b")))
            ).alias("mi"),
            F.sum(_pairs_of(F.col("c"))).alias("sum_comb_cells"),
        )
    )
    hp = (
        a.join(n, block_col)
        .groupBy(block_col)
        .agg(
            (-F.sum((F.col("a") / F.col("n")) * F.log(F.col("a") / F.col("n")))).alias("h_pred"),
            F.sum(_pairs_of(F.col("a"))).alias("sum_comb_a"),
            F.count("*").cast("double").alias("k_pred"),
        )
    )
    ht = (
        b.join(n, block_col)
        .groupBy(block_col)
        .agg(
            (-F.sum((F.col("b") / F.col("n")) * F.log(F.col("b") / F.col("n")))).alias("h_true"),
            F.sum(_pairs_of(F.col("b"))).alias("sum_comb_b"),
            F.count("*").cast("double").alias("k_true"),
        )
    )
    eps = 2.220446049250313e-16  # float64 machine epsilon, sklearn's floor
    out = (
        mi_terms.join(hp, block_col)
        .join(ht, block_col)
        .join(n, block_col)
        .withColumn(
            "nmi",
            F.when((F.col("k_pred") == 1) & (F.col("k_true") == 1), F.lit(1.0)).otherwise(
                F.col("mi") / F.greatest(F.lit(eps), (F.col("h_pred") + F.col("h_true")) / 2.0)
            ),
        )
        .withColumn("_total_pairs", _pairs_of(F.col("n")))
        .withColumn(
            "_expected",
            F.when(
                F.col("_total_pairs") > 0,
                F.col("sum_comb_a") * F.col("sum_comb_b") / F.col("_total_pairs"),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "_denom", (F.col("sum_comb_a") + F.col("sum_comb_b")) / 2.0 - F.col("_expected")
        )
        .withColumn(
            "ari",
            F.when(F.col("_denom") == 0, F.lit(1.0)).otherwise(
                (F.col("sum_comb_cells") - F.col("_expected")) / F.col("_denom")
            ),
        )
    )
    return out.select(block_col, F.col("n").cast("long").alias("n"), "nmi", "ari")


def _hungarian_max(profit):
    """Max-profit assignment over a rectangular numpy matrix; returns the
    optimal total. Pure-numpy O(n³) potentials/shortest-augmenting-path
    (the munkres package the reference uses, clustering_metric.py:37-40,
    is not in this container). Rows ≤ cols required — callers pad."""
    import numpy as np

    cost = -profit.astype("float64")  # minimize
    n, m = cost.shape
    INF = float("inf")
    u = [0.0] * (n + 1)
    v = [0.0] * (m + 1)
    p = [0] * (m + 1)     # p[j] = row matched to column j (1-indexed)
    way = [0] * (m + 1)
    for i in range(1, n + 1):
        p[0] = i
        j0 = 0
        minv = [INF] * (m + 1)
        used = [False] * (m + 1)
        while True:
            used[j0] = True
            i0 = p[j0]
            delta = INF
            j1 = -1
            for j in range(1, m + 1):
                if not used[j]:
                    cur = cost[i0 - 1][j - 1] - u[i0] - v[j]
                    if cur < minv[j]:
                        minv[j] = cur
                        way[j] = j0
                    if minv[j] < delta:
                        delta = minv[j]
                        j1 = j
            for j in range(m + 1):
                if used[j]:
                    u[p[j]] += delta
                    v[j] -= delta
                else:
                    minv[j] -= delta
            j0 = j1
            if p[j0] == 0:
                break
        while True:
            j1 = way[j0]
            p[j0] = p[j1]
            j0 = j1
            if j0 == 0:
                break
    total = 0.0
    for j in range(1, m + 1):
        if p[j]:
            total += profit[p[j] - 1][j - 1]
    return total


def munkres_accuracy(
    joined: DataFrame, block_col: str = "block_key", pred_col: str = "pred", true_col: str = "truth"
) -> DataFrame:
    """Per-block best-mapping clustering accuracy (Munkres/Hungarian).

    Reference: clusteringAcc at src/utils/clustering_metric.py:16-59 —
    match predicted to true labels by maximum-assignment over the
    contingency matrix, then accuracy = matched fraction. Distributed
    shape: the contingency CELLS (not rows) group per block through
    applyInPandas, so each group is O(k_pred·k_true) — tiny even for the
    reference's worst 157-cluster block. Returns (block_key, n, acc).
    """
    import pandas as pd

    cell = joined.groupBy(block_col, pred_col, true_col).agg(F.count("*").alias("c"))

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        preds = {v: i for i, v in enumerate(sorted(pdf[pred_col].astype(str).unique()))}
        trues = {v: i for i, v in enumerate(sorted(pdf[true_col].astype(str).unique()))}
        m = np.zeros((len(preds), len(trues)), dtype="float64")
        for _, r in pdf.iterrows():
            m[preds[str(r[pred_col])], trues[str(r[true_col])]] = r["c"]
        if m.shape[0] > m.shape[1]:
            m = np.pad(m, ((0, 0), (0, m.shape[0] - m.shape[1])))
            m = m.T
        total = _hungarian_max(m)
        n = float(pdf["c"].sum())
        return pd.DataFrame(
            {block_col: [pdf[block_col].iloc[0]], "n": [int(n)], "acc": [total / n if n else 0.0]}
        )

    return cell.groupBy(block_col).applyInPandas(
        solve, schema=f"{block_col} string, n long, acc double"
    )


def triplet_auc(
    scored_labeled: DataFrame,
    anchor_col: str = "id_a",
    score_col: str = "score",
    label_col: str = "is_match",
) -> DataFrame:
    """Per-anchor triplet AUC over scored labeled pairs (G12).

    The reference samples (anchor, pos, neg) triples and reports the
    fraction where score(anchor,pos) > score(anchor,neg)
    (src/utils/utils.py:114-169, invoked at global_embedding.py:162-167).
    Over ALL valid triples that fraction is exactly the per-anchor
    Mann-Whitney statistic, so instead of materializing the pos×neg cross
    join we compute it from average ranks in two window passes:

        AUC_a = (Σ_pos avgrank − n_pos(n_pos+1)/2) / (n_pos · n_neg)

    with ties counted 1/2 (average ranks). One shuffle on anchor — no
    triple materialization, scale-safe. Returns (anchor, n_pos, n_neg,
    auc) for anchors having both a positive and a negative pair; the
    global sampled-triple AUC is the n_pos·n_neg-weighted mean. The
    reference's pooled variant (one roc_auc_score over all pos/neg
    scores, utils.py:160-161) is the degenerate case: pass a constant
    anchor column.
    """
    from pyspark.sql import Window

    rk = F.rank().over(Window.partitionBy(anchor_col).orderBy(score_col))
    tie = F.count("*").over(Window.partitionBy(anchor_col, score_col))
    d = scored_labeled.select(
        F.col(anchor_col).alias("anchor"),
        F.col(label_col).cast("int").alias("_y"),
        (rk + (tie - F.lit(1)) / 2.0).alias("_r"),
    )
    agg = d.groupBy("anchor").agg(
        F.sum("_y").cast("long").alias("n_pos"),
        F.sum(F.lit(1) - F.col("_y")).cast("long").alias("n_neg"),
        F.sum(F.when(F.col("_y") == 1, F.col("_r"))).alias("_pos_rank_sum"),
    )
    return agg.where((F.col("n_pos") > 0) & (F.col("n_neg") > 0)).select(
        "anchor",
        "n_pos",
        "n_neg",
        (
            (F.col("_pos_rank_sum") - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0)
            / (F.col("n_pos") * F.col("n_neg"))
        ).alias("auc"),
    )


def pairwise_f1_on_labeled_pairs(pred_labels: DataFrame, labeled_pairs: DataFrame) -> dict:
    """F1 against an explicit labeled-pairs table (BASELINE.json metric:
    'labeled pairs at matching blocking keys').

    labeled_pairs(block_key, id_a, id_b, is_match); a pair counts as
    pred-same when both sides landed in the same component.
    """
    la = pred_labels.select(F.col("id").alias("id_a"), F.col("component").alias("comp_a"))
    lb = pred_labels.select(F.col("id").alias("id_b"), F.col("component").alias("comp_b"))
    j = labeled_pairs.join(la, "id_a").join(lb, "id_b")
    agg = j.agg(
        F.sum(((F.col("comp_a") == F.col("comp_b")) & F.col("is_match")).cast("long")).alias("tp"),
        F.sum((F.col("comp_a") == F.col("comp_b")).cast("long")).alias("pred_same"),
        F.sum(F.col("is_match").cast("long")).alias("true_same"),
    ).collect()[0]
    p = agg["tp"] / agg["pred_same"] if agg["pred_same"] else 0.0
    r = agg["tp"] / agg["true_same"] if agg["true_same"] else 0.0
    f1 = 2 * p * r / (p + r) if (p and r) else 0.0
    return {"precision": float(p), "recall": float(r), "f1": float(f1), "tp": int(agg["tp"])}
