"""The flagship 3-stage entity-resolution pipeline (north_rule).

    files(repo, path, commit, lang, content)
      0. normalize: id, content_sha, tokens, shingles, norm_path, stem
      1. BLOCKING: composite keys (lang|stem) + MinHash band keys,
         skew-split candidate-pair generation
      2. SCORING: per-channel similarities + fused score, pruned by
         the tiered cascade to the edge table (score ≥ τ); all JVM
         math, TF-IDF cosine included (one map_zip_with pass)
      3. CLUSTERING: connected components over the edges — finished on
         the driver when the edge set fits, hash-min rounds otherwise
      4. labels(id, component) + per-stage metrics; every stage is a
         resumable checkpoint snapshot.

This is the Spark re-expression of the reference's end-to-end flow
(pre_data → … → local_embedding, 详细实验流程以及代码说明.docx; flagship
entry src/local_embedding/local_embedding.py:611-649) — the per-name
Python loop becomes partition-parallel DataFrame stages.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import persist as _persist
from ..functions import text as T
from ..operators import scoring
from ..operators.connected_components import connected_components
from ..operators.minhash import banded_keys
from ..operators.pairs import block_stats, blocked_pairs
from .checkpoint import CheckpointManager


def _codegen_compiles(spark: SparkSession) -> int:
    """Generated classes compiled so far by this JVM (cache hits excluded)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


@dataclass
class PipelineResult:
    """``labels`` is materialized: ``run_pipeline`` takes one eager
    localCheckpoint of it and then frees every intermediate of the run.
    The result is the snapshot's only owner; ``persist.release()`` leaves
    it alone.

    ``metrics["codegen_compiles"]`` is the number of generated classes
    compiled during the ``run_pipeline`` call; a warm rerun of the same
    pipeline should read 0. The count is session-wide, so concurrent jobs
    in the same session add to it. It is exact in local mode; on a cluster
    it counts driver-side compiles only (executors compile in their own
    JVMs)."""

    labels: DataFrame                      # (block_key, id, component, content_sha)
    metrics: dict = field(default_factory=dict)

    def release(self) -> None:
        """Free the labels snapshot. Call once the labels will not be read
        again: the snapshot has no lineage, so a later action on
        ``labels`` fails with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND."""
        _persist.unpersist_any(self.labels)


def cached_bytes(df: DataFrame) -> int:
    """Size in bytes that ``df``'s optimized plan reports. For a persisted
    frame whose cache every partition has filled, that is the exact size
    of the cached batches (and the plan's row count is exact too);
    before that it is Catalyst's estimate."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def normalize_files(
    files: DataFrame, staged: bool = False, persists: list | None = None
) -> DataFrame:
    """Stage 0: ids, invariants, token features — pure column math.

    Token/shingle sets are xxhash64-hashed to array<bigint>: at 3.2M pairs
    the scoring join shuffles ~8× fewer bytes and array_intersect on
    primitive longs is ~3.6× faster than on strings (measured sf0.1);
    Jaccard on hashed sets is exact up to 2^-64-scale collisions.
    """
    # SQL text, one py4j call per select: built from Column objects the
    # same plan took 676 py4j round trips (~0.1 s) per call
    base = files.selectExpr(
        "concat_ws(':', repo, path, `commit`) AS id",
        "repo",
        "path",
        "`commit`",
        "lang",
        "sha2(content, 256) AS content_sha",
        "lower(regexp_replace(path, '[^A-Za-z0-9/.]+', '')) AS norm_path",
        f"{T.path_stem_sql('path')} AS stem",
        # hash EARLY: the staged column is the hashed token sequence, so
        # the distinct/sort for `tokens` and the shingle construction all
        # run on longs (identical token-hash values: hash-then-distinct ==
        # distinct-then-hash), and the barrier cache holds 8-byte elements
        # instead of strings.
        f"transform({T.tokenize_sql('content')}, x -> xxhash64(x)) AS _th",
    )
    if staged:
        # materialization barrier: the shingle transform references the
        # token sequence once per ELEMENT; if _th stays an expression,
        # projection collapse re-runs the whole tokenization per shingle
        # (~130× per row). One cheap cache turns that into column reads.
        # The persist is handed to the caller's list (or the global
        # registry) so it is RELEASED once the downstream projection
        # materializes — r4 left it cached for the life of the session.
        base = base.persist()
        if persists is not None:
            persists.append(base)
        else:
            _persist.register(base)
    return base.selectExpr(
        "id", "repo", "path", "`commit`", "lang", "content_sha", "norm_path", "stem",
        "array_sort(array_distinct(_th)) AS tokens",
        # shingle hashes from hashed tokens: equal-set semantics to the r5
        # string-trigram hashing (scores depend only on shingle-set
        # relations, which are preserved), ~2× cheaper per row
        f"array_sort({T.hashed_word_ngrams_sql('_th', 3)}) AS shingles",
    )


def run_pipeline(
    spark: SparkSession,
    files: DataFrame,
    threshold: float = 0.40,
    use_bands: bool = True,
    bands: int = 8,
    rows_per_band: int = 4,
    use_tfidf: bool = True,
    max_rows_per_task: int = 2000,
    checkpoint_dir: str | None = None,
    adaptive: bool = False,
    use_embedding: bool = False,
    emb_dim: int = 32,
    emb_walks: int = 3,
    emb_walk_len: int = 8,
    clusterer: str = "cc",
    true_k: DataFrame | None = None,
    channel_weights: dict[str, float] | None = None,
    repair_outliers: bool = False,
    repair_min_score: float | None = None,
) -> PipelineResult:
    """clusterer: "cc" (connected components: finished on the driver when
    the edge set has at most ``connected_components.DRIVER_MAX_EDGES``
    rows, hash-min rounds above that bound), "ghac" (per-block
    average-linkage + modularity k-scan), or "spectral" (per-block
    normalized spectral clustering — the reference's headline
    true-cluster-count configuration, local_embedding.py:242-271,517-519).

    true_k: optional (block_key, k) table of per-block true cluster counts
    for clusterer="spectral"; when None, k falls back to the thresholded
    component count (the predicted-k analogue, cluster_predict.py).

    channel_weights: optional fused-score weights (e.g. from
    ``scoring.fit_channel_weights`` on labeled pairs); None → the fixed
    defaults.

    repair_outliers: run the G11 post-clustering repair (reference
    local_embedding.py:400-441) — singletons re-attach to their best
    scoring non-singleton partner, then leftover singletons with mutual
    score ≥ repair_min_score (default: ``threshold``) merge with each
    other.
    """
    import time as _time

    ck = CheckpointManager(spark, checkpoint_dir) if checkpoint_dir else None
    metrics: dict = {}
    compiles0 = _codegen_compiles(spark)
    _t0 = _time.time()

    def _label(desc: str) -> None:
        # stage labels for the Spark UI / event log (guide §1.5); purely
        # observational
        spark.sparkContext.setJobDescription(f"er_pipeline: {desc}")

    # ---- stage 0: normalize (barrier: tokenization/shingling/tf-idf must
    # materialize once — Catalyst projection collapse would otherwise
    # re-evaluate it per signature hash / per join side) -----------------------
    # Input-parallelism guard: a small parquet input arrives as ONE scan
    # partition (files.maxPartitionBytes), making the compute-heavy
    # normalize stage single-threaded regardless of core count. At 100 TB
    # the scan has ~10⁵ partitions and this branch never fires; locally it
    # is the difference between serial and parallel stage 0.
    par = spark.sparkContext.defaultParallelism
    # corpus row count, read from the cheap PRE-normalize scan (for a
    # parquet source this is a metadata-scale count job): feeds the TF-IDF
    # N, replacing the r5 docs.count() that executed the tokenization
    # projection one extra time (VERDICT item 4)
    _label("stage0 normalize")
    n_files = files.count()
    if files.rdd.getNumPartitions() < par:
        files = files.repartition(par * 2)
    _staged: list = []  # normalize's tokenization barrier, released below
    norm = normalize_files(files, staged=True, persists=_staged)
    if use_tfidf:
        feats = scoring.tfidf_features(
            norm.select("id", "tokens"), "id", "tokens",
            n_docs=n_files, distinct_tokens=True,
        )
        # tfidf_features emits BOTH sparse representations; ship only the
        # (map, norm) pair score_pairs' JVM kernel reads — (idx, val) would
        # be dead weight through the members persist, the pair broadcast
        # (twice), and every surviving pair row
        feats = feats.drop("tfidf_idx", "tfidf_val")
        norm = norm.join(feats, "id", "left")
    members = norm.selectExpr(
        "* EXCEPT (repo, path, `commit`)", "concat_ws('|', lang, stem) AS block_key"
    ).persist()
    stem_k = members.selectExpr("id", "block_key")
    if use_bands:
        # composite blocking: stem key + MinHash band keys in one
        # skinny key table (band keys prefixed by lang so banding
        # never crosses a language boundary); the stem keys, one per
        # member, are marked so the pre-pass can count the members
        band_k = banded_keys(
            members, "id", "tokens", bands=bands, rows=rows_per_band, prefix_col="lang"
        )
        prepass = (
            stem_k.selectExpr("*", "true AS _stem")
            .unionByName(band_k.selectExpr("*", "false AS _stem"))
            .persist()
        )
        keys = prepass.selectExpr("id", "block_key")
    else:
        prepass = keys = stem_k
    # Blocking pre-pass, ONE action: the member count (CC's vertex count),
    # Σ over key groups of n·(n−1)/2 (the exact row count the blocked
    # self-join materializes, pre-dedup for banded keys — precisely the
    # volume the shuffle carries) and the hot blocks blocked_pairs splits.
    # Its scan is what fills the members cache (and the banded key cache).
    stats = block_stats(
        prepass, "block_key", max_rows_per_task, count_if="_stem" if use_bands else None
    )
    n_members, est_pairs = stats.rows, stats.pairs
    # members is materialized (MEMORY_AND_DISK) — the tokenization barrier
    # behind it is no longer needed by any live plan
    for _df in _staged:
        _df.unpersist()
    metrics["t_normalize"] = round(_time.time() - _t0, 2)
    _t0 = _time.time()

    # ---- stage 1: blocking → SKINNY candidate pairs --------------------------
    # Pair generation shuffles only (block_key, id): the wide feature
    # payload never rides through the O(n²)-bounded self-join.
    _label("stage1 blocking")

    def build_pairs() -> DataFrame:
        pairs = blocked_pairs(keys, "block_key", "id", max_rows_per_task, hot=stats.hot)
        if use_bands:
            pairs = pairs.groupBy("id_a", "id_b").agg(F.expr("min(block_key) AS block_key"))
        return pairs

    pairs = ck.stage("pairs", build_pairs) if ck else build_pairs()
    # AQE coalesces the skinny pair shuffle by BYTES (~64 MB targets), but
    # downstream cost is compute-per-pair — without an explicit repartition
    # the scoring stage runs on a handful of partitions no matter how many
    # cores exist (measured: local[32] slower than local[8]). Partition
    # count is sized by the DATA from the pre-pass estimate: ~100k
    # pair-rows per task is the measured sweet spot (14.5M pairs → 128-145
    # partitions; 3.2M pairs → 64 at 32 cores, where 128 ran 1.26× slower
    # and 256 ran 1.4× slower), floored at 2× parallelism for load
    # balance and capped to keep task-launch overhead bounded.
    par = spark.sparkContext.defaultParallelism
    n_part = int(max(par * 2, min(-(-est_pairs // 100_000), 4096)))
    # round UP to a whole number of waves: 145 partitions on 16 cores ends
    # in a 1-task wave with 15 cores idle (~9% of the stage); any multiple
    # of the parallelism keeps the final wave full
    n_part = -(-n_part // par) * par
    # hash-repartition on the pair key instead of round-robin: round-robin
    # pays a local sort of its input first (sortBeforeRepartition, for
    # retry determinism — guide §2.5); hashing the high-cardinality
    # (id_a, id_b) key spreads just as evenly, is retry-deterministic by
    # construction, and skips the sort.
    pairs = pairs.repartition(n_part, "id_a", "id_b").persist()
    n_pairs = pairs.count()
    if use_bands:
        prepass.unpersist()
    metrics["pairs_generated"] = n_pairs
    metrics["pairs_estimated"] = int(est_pairs)
    metrics["pair_partitions"] = n_part
    metrics["t_blocking"] = round(_time.time() - _t0, 2)
    _t0 = _time.time()
    if ck:
        ck.log_metric(stage="blocking", pairs_generated=n_pairs)

    # ---- stage 2: scoring -----------------------------------------------------
    # Payload attaches via two joins of the (small, persisted) members
    # table, then one scoring pass. The joins are FORCED broadcast when the
    # payload genuinely fits: Catalyst's size ESTIMATE of the map/array
    # payload columns blows past the autoBroadcast threshold even for a
    # 23k-row table, silently picking SortMergeJoin — which sorts the
    # ENTIRE pair stream twice (measured: the dominant, worst-scaling cost
    # of the scoring stage on the 14.5M-pair workload). The gate reads the
    # members cache's own statistics: once the pre-pass has materialized
    # it, its size is the exact in-memory size of the cached batches (no
    # sampling job), ×2 for the two broadcast copies, against a 2 GB
    # budget — above it (payload no longer fits executor memory, the true
    # 100 TB regime) it stays a shuffled join over data-sized partitions.
    _scoring_hold: list = []  # emb-path wide persist, released after scored materializes

    def build_scored() -> DataFrame:
        from ..operators.pairs import BROADCAST_BYTE_CAP

        pcols = [c for c in members.columns if c not in ("id", "block_key")]
        pa = members.selectExpr("id AS id_a", *[f"{c} AS {c}_a" for c in pcols])
        pb = members.selectExpr("id AS id_b", *[f"{c} AS {c}_b" for c in pcols])
        if cached_bytes(members) * 2 <= BROADCAST_BYTE_CAP:
            pa, pb = pa.hint("broadcast"), pb.hint("broadcast")
        wide = pairs.join(pa, "id_a").join(pb, "id_b")
        weights = channel_weights
        if use_embedding:
            # two-pass fusion, mirroring the reference's flow: channel
            # graphs are built FIRST, the HIN embedding is trained on that
            # graph, then its cosine joins the fusion as a first-class
            # channel (src/local_embedding/local_embedding.py:74-79,
            # model.py:34-58). Phase A scores the 4 text channels to get a
            # preliminary similarity graph; phase B trains deterministic
            # weighted walks + Word2Vec on it and rescores with the
            # 5-channel weights.
            from ..operators.embedding import random_walks, train_node_embeddings

            wide = wide.persist()
            _scoring_hold.append(wide)
            graph = scoring.score_pairs(wide, prune_below=threshold * 0.75).select(
                "id_a", "id_b", F.col("score").alias("w")
            )
            walks = random_walks(
                graph, num_walks=emb_walks, walk_len=emb_walk_len, weight_col="w"
            )
            emb = train_node_embeddings(walks, dim=emb_dim)
            _persist.unpersist_any(walks)  # the fitted vectors do not read it
            wide = wide.join(
                emb.select(F.col("node").alias("id_a"), F.col("vec").alias("emb_vec_a")),
                "id_a",
                "left",
            ).join(
                emb.select(F.col("node").alias("id_b"), F.col("vec").alias("emb_vec_b")),
                "id_b",
                "left",
            )
            weights = channel_weights or scoring.CHANNEL_WEIGHTS_EMB
        # with a prune bound, score_pairs returns only the pairs scoring at
        # or above it (the cascade's edge table); adaptive per-block
        # thresholds need the full channel vector (A5), and the
        # per-block dense clusterers need true sub-threshold scores (GHAC
        # can re-merge below τ; spectral embeds the full similarity matrix).
        # With repair_outliers the G11 merge phase reads pairs down to
        # repair_min_score, so the prune bound must drop to that floor —
        # pruning at `threshold` silently hid every sub-threshold pair
        # from the repair (r4 ADVICE).
        if adaptive or clusterer in ("ghac", "spectral"):
            prune = None
        elif repair_outliers:
            prune = min(
                threshold,
                threshold if repair_min_score is None else repair_min_score,
            )
        else:
            prune = threshold
        scored = scoring.score_pairs(
            wide, weights=weights, prune_below=prune
        )
        keep = ["block_key", "id_a", "id_b", "token_jaccard", "shingle_jaccard",
                "path_sim", "tfidf_cosine", "emb_cosine", "score"]
        return scored.select(*[c for c in keep if c in scored.columns])

    # persist: scored (the edge table when pruned, every pair otherwise)
    # feeds both the metrics count and the CC edge input — without it the
    # whole scoring stage executes twice. `edges` stays a filter at τ: with
    # repair_outliers the table holds pairs down to repair_min_score.
    _label("stage2 scoring")
    scored = ck.stage("scored", build_scored) if ck else build_scored().persist()
    if adaptive:
        edges = scoring.adaptive_threshold(scored, base=threshold)
    else:
        edges = scored.where(F.col("score") >= threshold)
    n_scored = scored.count()
    for _df in _scoring_hold:
        _df.unpersist()
    metrics["pairs_scored"] = n_pairs
    metrics["edges"] = n_scored
    metrics["t_scoring"] = round(_time.time() - _t0, 2)
    _t0 = _time.time()
    if ck:
        ck.log_metric(stage="scoring", pairs_scored=n_pairs, edges=n_scored)

    def _result(labels: DataFrame, *spent: DataFrame) -> PipelineResult:
        # materialize the labels once, then free every intermediate they
        # were built from; nothing is freed before the snapshot exists.
        # With a checkpoint manager `scored` is a parquet read, and freeing
        # it is a no-op.
        spark.sparkContext.setJobDescription(None)
        labels = labels.localCheckpoint(eager=True)
        for df in (members, pairs, scored, *spent):
            _persist.unpersist_any(df)
        metrics["codegen_compiles"] = _codegen_compiles(spark) - compiles0
        return PipelineResult(labels=labels, metrics=metrics)

    # ---- stage 3: transitive clustering --------------------------------------
    vertices = members.select("id", "block_key", "content_sha")

    if clusterer in ("ghac", "spectral"):
        # per-block exact solvers — GHAC (average-linkage + modularity-k
        # scan, reference local_embedding.py:316-364) or normalized
        # spectral clustering (the reference's headline true-cluster-count
        # runs, local_embedding.py:242-271,517-519). Both use ALL scored
        # pairs (sub-threshold similarities matter: GHAC can re-merge
        # below τ, spectral embeds the full similarity matrix), not just
        # the thresholded edge set.
        from ..operators.clustering import ghac_cluster, spectral_cluster

        # Per-block solvers: re-key every pair to the members' OWN block
        # (a banded pair's block_key is a min over composite keys) and drop
        # the rare cross-block band pairs — blocking is a hard boundary in
        # the reference (SURVEY §1.3), and a pair spanning two groups
        # would get conflicting labels.
        mb = members.select("id", "block_key")
        p2 = (
            scored.select("id_a", "id_b", "score")
            .join(mb.select(F.col("id").alias("id_a"), F.col("block_key").alias("_ba")), "id_a")
            .join(mb.select(F.col("id").alias("id_b"), F.col("block_key").alias("_bb")), "id_b")
            .persist()
        )
        same_block = p2.where(F.col("_ba") == F.col("_bb")).select(
            F.col("_ba").alias("block_key"), "id_a", "id_b", "score"
        )
        n_same = same_block.count()
        n_cross_dropped = n_scored - n_same
        metrics["cross_block_pairs_dropped"] = n_cross_dropped
        if clusterer == "spectral":
            mk = vertices.select("block_key", "id")
            if true_k is not None:
                mk = mk.join(
                    F.broadcast(true_k.select("block_key", F.col("k").alias("_true_k"))),
                    "block_key",
                    "left",
                )
                k_col = "_true_k"
            else:
                k_col = None
            glabels = spectral_cluster(
                same_block, mk, k_col=k_col, threshold=threshold
            )
        else:
            glabels = ghac_cluster(
                same_block,
                vertices.select("block_key", "id"),
                threshold=threshold,
            )
        glabels = glabels.withColumnRenamed("block_key", "_gbk")
        metrics["t_cc"] = round(_time.time() - _t0, 2)
        labels = vertices.join(glabels.select("id", "component"), "id").select(
            "block_key", "id", "component", "content_sha"
        )
        if repair_outliers:
            labels = _repair(
                labels, scored, threshold if repair_min_score is None else repair_min_score
            )
        if ck:
            ck.log_metric(
                stage="cluster",
                clusterer=clusterer,
                cross_block_pairs_dropped=n_cross_dropped,
            )
            ck.flush_metrics()
        return _result(labels, p2)

    _label("stage3 cc")
    cc = connected_components(
        vertices.select("id"), edges.select("id_a", "id_b"), checkpointer=ck,
        n_vertices=n_members,
    )
    metrics["cc_iterations"] = cc.iterations
    metrics["cc_metrics"] = cc.metrics
    metrics["t_cc"] = round(_time.time() - _t0, 2)
    if ck:
        for row in cc.metrics:
            ck.log_metric(stage="cc", **row)
        ck.flush_metrics()

    labels = vertices.join(cc.labels, "id").select("block_key", "id", "component", "content_sha")
    if repair_outliers:
        labels = _repair(
            labels, scored, threshold if repair_min_score is None else repair_min_score
        )
    return _result(labels, cc.labels)


def _repair(labels: DataFrame, scored: DataFrame, min_score: float) -> DataFrame:
    """G11 post-clustering repair over the pipeline's label/score tables,
    preserving the (block_key, id, component, content_sha) contract."""
    from ..operators.graph import outlier_repair

    fixed = outlier_repair(
        labels.select("id", "component"),
        scored.select("id_a", "id_b", "score"),
        min_score=min_score,
    )
    return labels.drop("component").join(fixed, "id").select(
        "block_key", "id", "component", "content_sha"
    )
