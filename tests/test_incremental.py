"""Incremental ER: delta pairs + warm-start component merge ≡ full recompute."""

from collections import Counter

import pyspark.sql.functions as F

from jmdfane_spark.operators.connected_components import connected_components
from jmdfane_spark.operators.pairs import blocked_pairs
from jmdfane_spark.streaming.incremental import delta_pairs, merge_components


def _members(spark, rows):
    return spark.createDataFrame(rows, "block_key string, id string, toks array<string>")


OLD = [
    ("b1", "a", ["x", "y", "z"]),
    ("b1", "b", ["x", "y", "z"]),
    ("b1", "c", ["p", "q", "r"]),
    ("b2", "d", ["m", "n"]),
]
NEW = [
    ("b1", "e", ["p", "q", "r"]),   # joins c's cluster
    ("b2", "f", ["m", "n"]),        # joins d
    ("b1", "g", ["u", "v"]),        # singleton
    ("b1", "h", ["x", "y", "z"]),   # bridges into {a,b}
]


def _edges(pairs):
    from jmdfane_spark.functions.similarity import jaccard

    return (
        pairs.withColumn("j", jaccard(F.col("toks_a"), F.col("toks_b")))
        .where(F.col("j") >= 0.9)
        .select("id_a", "id_b")
    )


def test_incremental_equals_full(spark):
    old_m, new_m = _members(spark, OLD), _members(spark, NEW)
    full_m = _members(spark, OLD + NEW)

    # full recompute
    full_pairs = blocked_pairs(full_m)
    full_cc = connected_components(full_m.select("id"), _edges(full_pairs))
    want = {r.id: r.component for r in full_cc.labels.collect()}

    # incremental: old labels from old-only run, then fold the delta
    old_cc = connected_components(old_m.select("id"), _edges(blocked_pairs(old_m)))
    dp = delta_pairs(new_m, old_m)
    merged = merge_components(old_cc.labels, new_m.select("id"), _edges(dp))
    got = {r.id: r.component for r in merged.collect()}

    assert got == want


def test_delta_pairs_never_regenerates_old_pairs(spark):
    old_m, new_m = _members(spark, OLD), _members(spark, NEW)
    dp = delta_pairs(new_m, old_m)
    new_ids = {r[1] for r in NEW}
    for r in dp.select("id_a", "id_b").collect():
        assert r.id_a in new_ids or r.id_b in new_ids
    # completeness: every new×(new+old) within-block pair present
    got = {(r.id_a, r.id_b) for r in dp.collect()}
    all_rows = OLD + NEW
    want = set()
    for i in range(len(all_rows)):
        for j in range(len(all_rows)):
            (bk1, id1, _), (bk2, id2, _) = all_rows[i], all_rows[j]
            if bk1 == bk2 and id1 < id2 and (id1 in new_ids or id2 in new_ids):
                want.add((id1, id2))
    assert got == want


def _plan_nodes(df):
    """Node names of the optimized logical plan, one per node of the tree."""
    names, todo = [], [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        names.append(node.nodeName())
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    return names


def test_delta_pairs_is_one_join(spark):
    """delta_pairs plans one equi-join of the new batch against every
    member: no block-count pre-pass, no bucket-combo explode (Generate),
    no second new×existing join."""
    nodes = Counter(_plan_nodes(delta_pairs(_members(spark, NEW), _members(spark, OLD))))
    assert nodes["Join"] == 1 and nodes["Generate"] == 0, nodes


def _partition_labels(spark, n_ids, size):
    """``n_ids`` labelled ids in components of ``size`` consecutive ids."""
    ids = [f"m{i:03d}" for i in range(n_ids)]
    rows = [(v, ids[i // size * size]) for i, v in enumerate(ids)]
    return spark.createDataFrame(rows, "id string, component string")


def test_merge_then_snapshot_compiles_once(spark, tmp_path):
    """A second micro-batch of the same shape (merge, then the labels
    snapshot) compiles no generated class: nothing that changes per batch
    reaches the generated source."""
    from jmdfane_spark.plans.checkpoint import CheckpointManager
    from jmdfane_spark.plans.pipeline import _codegen_compiles

    ck = CheckpointManager(spark, str(tmp_path / "ck"))
    ck.write("labels", _partition_labels(spark, 60, 6))

    def batch(k):
        new = spark.createDataFrame([(f"n{k}a",), (f"n{k}b",)], "id string")
        edges = spark.createDataFrame(
            [(f"m{k:03d}", f"m{k + 6:03d}"), (f"n{k}a", f"m{k + 12:03d}")],
            "id_a string, id_b string",
        )
        merged = merge_components(ck.read("labels"), new, edges).persist()
        merged.count()
        ck.write("labels", merged)
        merged.unpersist()

    batch(0)
    before = _codegen_compiles(spark)
    batch(1)
    assert _codegen_compiles(spark) - before == 0
    assert ck.read("labels").count() == 64
