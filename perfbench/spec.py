"""Workload definitions and metric names: the one place both the runner and
the self-check read them from.

Every workload calls ``sources.synthetic.synthesize(seed=...)`` with the
keyword arguments below; the seed is the benchmark's ``--seed`` argument.
Block sizes are fixed (min_rows == max_rows), so the seed changes the
content and the cluster structure but not the input size.
``TOY`` holds the reduced sizes the self-check runs.
"""

from __future__ import annotations

# pipeline edge threshold: a pair becomes an edge when its fused score >= TAU
TAU = 0.40

WORKLOADS = {
    # one ambiguous name with hundreds of mentions: per-pair scoring kernels
    # and the skew-split pair generation (hot block > max_rows_per_task)
    "er_hotblock": {
        "kind": "batch",
        "gen": {"n_blocks": 12, "min_rows": 20, "max_rows": 20,
                "hot_block_rows": 120, "clusters_per_block": (2, 20)},
        "run": {"threshold": TAU, "use_bands": False, "use_tfidf": True,
                "max_rows_per_task": 100},
        # fewest timed warm ops per run: with the warm-up, at least --seconds
        # of warm ops on 4 CPUs, so the op count is fixed
        "min_warm": 1,
        # warm ops run first and left out of op_s_p50: the first warm op is
        # still JIT-compiling, 15-30% slower than the second and twice as
        # spread across runs
        "warmup": 1,
    },
    # a small delta against a large committed state: the cold op commits the
    # base corpus, then one warm op per held-out slice
    "ingest_microbatch": {
        "kind": "ingest",
        "gen": {"n_blocks": 80, "min_rows": 10, "max_rows": 10,
                "hot_block_rows": 100},
        # the base commit blocks by stem, as the deltas do: MinHash banding
        # runs numpy in Python workers, whose start made the cold op swing
        "run": {"threshold": TAU, "use_bands": False, "use_tfidf": False},
        "min_warm": 3,
        # the first micro-batch runs about 25% slower than the next ones, but
        # leaving it out made op_s_p50 steadier in one set of ten runs and
        # less steady in another, and a warm-up costs 6-9 s per run
        "warmup": 0,
        "slice_files": 9,
        "slices": 12,
    },
}

TOY = {
    "er_hotblock": {"n_blocks": 4, "min_rows": 10, "max_rows": 10, "hot_block_rows": 40},
    "ingest_microbatch": {"n_blocks": 30, "min_rows": 6, "max_rows": 6, "hot_block_rows": 20},
}
TOY_SLICE_FILES = 5

# --trace 0 reports these ...
END_TO_END = {
    "setup_s": "s",
    "cold_op_s": "s",
    "op_s_p50": "s",
    "files_per_s": "1/s",
    "peak_rss_mb": "MB",
    "pairwise_f1": "ratio",
}

# ... and --trace 1 these. A layer a workload does not run reports 0.
SPARK_LABELS = ("normalize", "blocking", "scoring", "cc", "ingest")
SPARK_FIELDS = {
    "task_s": "s", "cpu_s": "s", "gc_s": "s", "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "tasks": "count",
    "task_skew": "ratio", "core_util": "ratio",
}
KERNELS = {
    "token_jaccard": "ns_per_pair", "shingle_jaccard": "ns_per_pair",
    "path_lev": "ns_per_pair", "path_jw": "ns_per_pair",
    "tfidf_jvm": "ns_per_pair", "tfidf_arrow": "ns_per_pair",
    "minhash_bands": "ns_per_row", "minhash_jvm": "ns_per_row",
    "tokenize_hash": "ns_per_row",
}
# benchmark spans whose self time is reported (self.<span>_s)
SPANS = (
    "op", "pipeline.run_pipeline", "pipeline.labels_count",
    "ingest.normalize", "ingest.delta_pairs", "ingest.score", "ingest.merge",
    "checkpoint.write",
    "spark.normalize", "spark.blocking", "spark.scoring", "spark.cc",
    "spark.ingest", "spark.tail",
)

PER_LAYER = {
    "session.start_s": "s",
    "sources.generate_s": "s",
    "pipeline.normalize_s": "s",
    "pipeline.blocking_s": "s",
    "pipeline.scoring_s": "s",
    "pipeline.cc_s": "s",
    "pipeline.tail_s": "s",
    "pairs.estimated": "count",
    "pairs.generated": "count",
    "pairs.partitions": "count",
    "pairs.per_file": "ratio",
    "pairs.dup_ratio": "ratio",
    "scoring.pairs_scored": "count",
    "scoring.pairs_per_s": "1/s",
    "cc.iterations": "count",
    "cc.labels_changed": "count",
    "cc.components": "count",
    "cc.largest_share": "ratio",
    "ingest.normalize_s": "s",
    "ingest.delta_pairs_s": "s",
    "ingest.score_s": "s",
    "ingest.merge_s": "s",
    "ingest.delta_pairs": "count",
    "checkpoint.write_s": "s",
    "checkpoint.bytes_mb": "MB",
    "checkpoint.write_amp": "ratio",
    **{f"spark.{st}.{f}": u for st in SPARK_LABELS for f, u in SPARK_FIELDS.items()},
    **{f"kernel.{k}.{u}": "ns" for k, u in KERNELS.items()},
    **{f"self.{s}_s": "s" for s in SPANS},
    "trace.overhead_s": "s",
    "trace.spans": "count",
}
