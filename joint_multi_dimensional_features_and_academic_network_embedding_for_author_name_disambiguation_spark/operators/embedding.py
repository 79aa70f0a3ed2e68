"""Network-embedding channel: deterministic random walks + Word2Vec (G4).

The reference's metapath2vec (src/hin_embedding/meta2vec.py:34-39,127-193)
does weighted random walks over a heterogeneous graph and trains SkipGram
(64-d, 500 epochs, negative sampling at freq^0.75); a simpler gensim
variant lives in src/hin_embedding/local_hin_walks.py:24-80. Here:

  random_walks — walks as an ITERATIVE JOIN: each step joins the frontier
      to a grouped adjacency table (per node and edge type, with a
      precomputed cumulative-weight array) and picks the next hop by
      mapping xxhash64(walk_id, step, node) into the cumulative ranges —
      weight-proportional, metapath-capable, deterministic under any
      partitioning (no RNG state; SURVEY §7.4 risk 4), one shuffle per
      step, never a per-block Python loop.

  train_node_embeddings — Spark ML Word2Vec over walk "sentences"
      (distributed SkipGram, the JVM replacement for gensim).

The resulting vectors feed the dense-cosine scoring channel (F6) — the
"network embedding" dimension of the reference's joint feature vector.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import persist as _persist


def random_walks(
    edges: DataFrame,
    num_walks: int = 5,
    walk_len: int = 10,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    weight_col: str | None = None,
    type_col: str | None = None,
    metapath: list[str] | None = None,
) -> DataFrame:
    """(walk_id, start, path: array<string>) — deterministic walks.

    Adjacency is symmetrized and grouped once per (node, edge-type) with a
    precomputed cumulative-weight array; step t extends every active walk
    by mapping xxhash64(walk_id, t, node) into [0, total_weight) and
    binary-searching the cumulative array — weight-proportional next-hop
    sampling with NO RNG state (deterministic under any partitioning,
    SURVEY §7.4 risk 4). One shuffle per step, never a per-block Python
    loop.

    weight_col: edge weights for proportional sampling (reference:
        weighted choice at src/hin_embedding/meta2vec.py:141-143); None →
        uniform (all weights 1).
    type_col + metapath: typed edges walked along a repeating metapath —
        step t follows only edges of type metapath[(t-1) % len] (reference
        metapath ['coauthor','coorgs','coauthor','covenue'],
        src/hin_embedding/meta2vec.py:34-39,127-145). A walk with no
        neighbor of the scheduled type terminates (the path stops growing
        permanently), matching the reference's walk truncation.

    The walks come back as one eager localCheckpoint registered with
    :mod:`..persist`; every intermediate behind it is already freed.
    """
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    # edge types only matter when a metapath schedules them — otherwise
    # collapse to a single untyped adjacency at build time
    t = F.col(type_col).cast("string") if (type_col and metapath) else F.lit("_")
    half = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v"), w.alias("w"), t.alias("t")
    )
    sym = half.unionByName(
        edges.select(
            F.col(dst_col).alias("u"), F.col(src_col).alias("v"), w.alias("w"), t.alias("t")
        )
    )
    # duplicate (u,v,t) edges collapse to their max weight; neighbor structs
    # sorted by (v, w) so the cumulative array is partition-order-free
    adj = (
        sym.groupBy("u", "t", "v")
        .agg(F.max("w").alias("w"))
        .groupBy("u", "t")
        .agg(F.array_sort(F.collect_list(F.struct("v", "w"))).alias("nbrs"))
        .withColumn(
            "cum",
            F.aggregate(
                "nbrs",
                F.array().cast("array<double>"),
                lambda acc, x: F.concat(
                    acc, F.array(F.coalesce(F.element_at(acc, -1), F.lit(0.0)) + x["w"])
                ),
            ),
        )
        .withColumn("total", F.element_at("cum", -1))
        .persist()
    )

    starts = adj.select("u").distinct()
    walks = starts.select(
        F.col("u").alias("cur"),
        F.explode(F.sequence(F.lit(0), F.lit(num_walks - 1))).alias("walk_id"),
    ).select("walk_id", "cur", F.array("cur").alias("path"))
    # terminated walks leave the frontier immediately — on truncation-heavy
    # metapath graphs a dead walk would otherwise ride (and pay join
    # traffic for) every one of the remaining walk_len−1 steps
    finished = walks.where(F.lit(False)).select("walk_id", "path")
    snaps = [adj]

    denom = float(1 << 30)
    for step in range(1, walk_len):
        step_t = metapath[(step - 1) % len(metapath)] if (type_col and metapath) else "_"
        adj_t = adj.where(F.col("t") == F.lit(step_t))
        frac = (
            F.pmod(F.xxhash64(F.col("walk_id"), F.lit(step), F.col("cur")), F.lit(1 << 30))
            / denom
        )
        target = frac * F.col("total")
        idx = F.least(
            F.size(F.filter(F.col("cum"), lambda c: c <= target)) + 1, F.size("nbrs")
        )
        stepped = walks.join(
            adj_t.select(F.col("u").alias("cur"), "nbrs", "cum", "total"), "cur", "left"
        ).select(
            "walk_id",
            "path",
            F.when(
                F.col("nbrs").isNotNull() & (F.col("total") > 0),
                F.element_at("nbrs", idx.cast("int"))["v"],
            ).alias("nxt"),
        )
        # a walk with no neighbor of the scheduled type TERMINATES (never
        # extended again) — the reference breaks out of the walk loop, it
        # does not stall-and-retry (meta2vec.py:127-145); a revived walk
        # would stitch edges that skip metapath positions
        finished = finished.unionByName(
            stepped.where(F.col("nxt").isNull()).select("walk_id", "path")
        )
        walks = stepped.where(F.col("nxt").isNotNull()).select(
            "walk_id",
            F.col("nxt").alias("cur"),
            F.concat("path", F.array("nxt")).alias("path"),
        )
        if step % 5 == 0:
            walks = walks.localCheckpoint()  # bound iterative plan growth
            finished = finished.localCheckpoint()  # union chain grows too
            snaps += [walks, finished]
    out = walks.select("walk_id", "path").unionByName(finished).select(
        "walk_id", F.element_at("path", 1).alias("start"), "path"
    )
    out = _persist.register(out.localCheckpoint(eager=True))
    for df in snaps:
        _persist.unpersist_any(df)
    return out


def train_node_embeddings(
    walks: DataFrame, dim: int = 32, window: int = 2, min_count: int = 0, seed: int = 42
) -> DataFrame:
    """Spark ML Word2Vec on walk sentences → (node, vector array<float>)."""
    from pyspark.ml.feature import Word2Vec

    w2v = Word2Vec(
        vectorSize=dim,
        windowSize=window,
        minCount=min_count,
        seed=seed,
        inputCol="path",
        outputCol="_emb",
    )
    model = w2v.fit(walks.select("path"))
    vecs = model.getVectors()  # (word, vector: ml.linalg.Vector)
    # JVM-side Vector→array conversion — a per-row Python UDF here would
    # violate the zero-per-row-Python contract (input_hint)
    from pyspark.ml.functions import vector_to_array

    return vecs.select(
        F.col("word").alias("node"),
        vector_to_array("vector").cast("array<float>").alias("vec"),
    )
