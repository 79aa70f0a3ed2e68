"""Graph-structured operators from the reference's model core.

  laplacian_smooth — SGC-style feature propagation (G2): the reference
      builds D^-1/2 (A+I) D^-1/2 and applies (I − ½L) three times
      (src/local_embedding/local_embedding.py:105-129,165-171) as a dense
      per-block matmul. Here it is message passing over the edge TABLE:
      one join + one elementwise-sum aggregation per round — the
      relational sparse form, partitionable at any graph size.

  outlier_reattach — post-clustering repair (G11): the reference
      re-attaches HDBSCAN outliers to the cluster of their
      argmax-rule-score partner when the score clears 1.5, else leaves
      them singleton (src/local_embedding/local_embedding.py:400-441,
      duplicate src/cluster_pred/cluster_predict.py:311-359). Here:
      anti-join to find singletons, max_by over scored pairs, conditional
      reassignment — no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import persist as _persist


def laplacian_smooth(
    features: DataFrame,
    edges: DataFrame,
    rounds: int = 3,
    id_col: str = "id",
    vec_col: str = "vec",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    weight_col: str | None = None,
    self_loop: bool = True,
    alpha: float = 0.5,
) -> DataFrame:
    """rounds × (x ← (1−α)·x + α · Σ_nbr ŵ·x_nbr), ŵ sym-normalized.

    Equivalent to the reference's repeated (I − αL̂) application with
    L̂ = I − D^-1/2 (A+I) D^-1/2 restricted to the neighbor sum. Vectors
    are ArrayType columns; the elementwise sum runs via posexplode →
    groupBy(node, pos) → sum — pure shuffles, no N×N matrices.

    Each round is cut by an eager localCheckpoint that frees the round
    before it. With ``rounds`` ≥ 1 the result reads the last one, which is
    registered with :mod:`..persist`: ``persist.release()`` frees it.
    """
    w = F.col(weight_col) if weight_col else F.lit(1.0)
    sym = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"), w.alias("w"))
        .unionByName(edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"), w.alias("w")))
    )
    if self_loop:
        sym = sym.unionByName(
            features.select(F.col(id_col).alias("src"), F.col(id_col).alias("dst"), F.lit(1.0).alias("w"))
        )
    deg = sym.groupBy("src").agg(F.sum("w").alias("deg"))
    norm = (
        sym.join(deg, "src")
        .join(deg.select(F.col("src").alias("dst"), F.col("deg").alias("deg_dst")), "dst")
        .select("src", "dst", (F.col("w") / F.sqrt(F.col("deg") * F.col("deg_dst"))).alias("nw"))
        .persist()
    )

    x = features.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    snap = None  # the previous round's snapshot, freed once superseded
    for _ in range(rounds):
        msg = (
            norm.join(x.select(F.col("id").alias("src"), F.col("vec").alias("_sv")), "src")
            .select("dst", "nw", F.posexplode("_sv").alias("pos", "v"))
            .groupBy(F.col("dst").alias("id"), "pos")
            .agg(F.sum(F.col("nw") * F.col("v")).alias("mv"))
            .groupBy("id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mv"))).alias("_pm"))
            .select("id", F.col("_pm.mv").alias("_msg"))
        )
        x = (
            x.join(msg, "id", "left")
            .select(
                "id",
                F.when(
                    F.col("_msg").isNotNull(),
                    F.zip_with("vec", "_msg", lambda a, b: (1 - alpha) * a + alpha * b),
                )
                .otherwise(F.col("vec"))
                .alias("vec"),
            )
            .localCheckpoint()  # cut lineage per round (iterative plan growth)
        )
        if snap is not None:
            _persist.unpersist_any(snap)
        snap = x
    norm.unpersist()
    if snap is not None:
        _persist.register(snap)
    return x.select(F.col("id").alias(id_col), F.col("vec").alias(vec_col))


def outlier_reattach(
    labels: DataFrame,
    scored_pairs: DataFrame,
    min_score: float = 0.5,
    id_col: str = "id",
    comp_col: str = "component",
    score_col: str = "score",
) -> DataFrame:
    """Re-attach singleton components to their best-scoring partner.

    labels(id, component); scored_pairs(id_a, id_b, score). A singleton's
    best partner is its argmax-score counterpart that is NOT itself a
    singleton; reassigned only when score ≥ min_score (reference accept
    threshold 1.5 on its un-normalized rule score — ours is normalized).
    """
    sizes = labels.groupBy(comp_col).agg(F.count("*").alias("_n"))
    lab = labels.join(sizes, comp_col).select(id_col, comp_col, (F.col("_n") == 1).alias("_single"))

    both = scored_pairs.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v"), F.col(score_col).alias("s")
    ).unionByName(
        scored_pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"), F.col(score_col).alias("s"))
    )
    # candidate partners: non-singleton targets only
    partners = (
        both.join(lab.select(F.col(id_col).alias("u"), F.col("_single").alias("_us")), "u")
        .where(F.col("_us"))
        .join(
            lab.select(
                F.col(id_col).alias("v"), F.col(comp_col).alias("_vc"), F.col("_single").alias("_vs")
            ),
            "v",
        )
        .where(~F.col("_vs"))
    )
    wnd = Window.partitionBy("u").orderBy(F.desc("s"), F.asc("v"))
    best = (
        partners.withColumn("_r", F.row_number().over(wnd))
        .where((F.col("_r") == 1) & (F.col("s") >= min_score))
        .select(F.col("u").alias(id_col), F.col("_vc").alias("_new_comp"))
    )
    return (
        lab.join(best, id_col, "left")
        .select(id_col, F.coalesce(F.col("_new_comp"), F.col(comp_col)).alias(comp_col))
    )


def outlier_merge(
    labels: DataFrame,
    scored_pairs: DataFrame,
    min_score: float = 0.5,
    id_col: str = "id",
    comp_col: str = "component",
    score_col: str = "score",
) -> DataFrame:
    """Merge leftover singletons with EACH OTHER (G11 second phase).

    The reference's outlier repair has two passes: re-attach outliers to
    existing clusters, then pair remaining outliers with each other when
    their mutual score clears the accept threshold
    (src/local_embedding/local_embedding.py:432-441, duplicate
    src/cluster_pred/cluster_predict.py:352-359). The reference's second
    pass is a sequential last-writer sweep over ordered outlier pairs —
    order-dependent; its order-independent closure is connected components
    over the singleton×singleton edge set {(i,j): score ≥ min_score},
    which is what runs here (merged component id = smallest member id,
    the engine's CC convention). Run AFTER ``outlier_reattach``.
    """
    from .connected_components import connected_components

    sizes = labels.groupBy(comp_col).agg(F.count("*").alias("_n"))
    lab = labels.join(sizes, comp_col).select(
        id_col, comp_col, (F.col("_n") == 1).alias("_single")
    )
    singles = lab.where(F.col("_single")).select(F.col(id_col).alias("id"))
    edges = (
        scored_pairs.where(F.col(score_col) >= min_score)
        .select("id_a", "id_b")
        .join(singles.withColumnRenamed("id", "id_a"), "id_a", "left_semi")
        .join(singles.withColumnRenamed("id", "id_b"), "id_b", "left_semi")
    )
    cc = connected_components(singles, edges)
    gsize = cc.labels.groupBy("component").agg(F.count("*").alias("_gn"))
    merged = (
        cc.labels.join(gsize, "component")
        .where(F.col("_gn") > 1)
        .select(F.col("id").alias(id_col), F.col("component").alias("_mc"))
    )
    return lab.join(merged, id_col, "left").select(
        id_col, F.coalesce(F.col("_mc"), F.col(comp_col)).alias(comp_col)
    )


def outlier_repair(
    labels: DataFrame,
    scored_pairs: DataFrame,
    min_score: float = 0.5,
    id_col: str = "id",
    comp_col: str = "component",
    score_col: str = "score",
) -> DataFrame:
    """Both G11 phases in reference order: singleton→cluster reattachment,
    then leftover singleton×singleton merge."""
    attached = outlier_reattach(
        labels, scored_pairs, min_score, id_col, comp_col, score_col
    )
    return outlier_merge(attached, scored_pairs, min_score, id_col, comp_col, score_col)
