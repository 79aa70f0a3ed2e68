"""Graph operators: Laplacian smoothing vs dense numpy; outlier reattach; walks."""

import numpy as np
import pyspark.sql.functions as F

from jmdfane_spark.operators.embedding import random_walks
from jmdfane_spark.operators.graph import laplacian_smooth, outlier_reattach


def test_laplacian_smooth_matches_dense(spark):
    # path graph a-b-c with unit features
    ids = ["a", "b", "c"]
    feats = [("a", [1.0, 0.0]), ("b", [0.0, 1.0]), ("c", [1.0, 1.0])]
    edges = [("a", "b"), ("b", "c")]
    fdf = spark.createDataFrame(feats, "id string, vec array<double>")
    edf = spark.createDataFrame(edges, "id_a string, id_b string")
    out = {r.id: r.vec for r in laplacian_smooth(fdf, edf, rounds=2).collect()}

    # dense reference: Â = D^-1/2 (A+I) D^-1/2, x ← (1-α)x + α Â' x where
    # Â' excludes... our message includes self-loop in Â, α=0.5
    A = np.array([[1, 1, 0], [1, 1, 1], [0, 1, 1]], dtype=float)  # A + I
    d = A.sum(1)
    Ahat = A / np.sqrt(np.outer(d, d))
    X = np.array([f[1] for f in feats])
    for _ in range(2):
        X = 0.5 * X + 0.5 * (Ahat @ X)
    for i, v in enumerate(ids):
        assert np.allclose(out[v], X[i], atol=1e-9), (v, out[v], X[i])


def test_laplacian_smooth_frees_its_round_snapshots(spark):
    """Each round's snapshot is freed once the next exists, and the last
    one is registered: after persist.release() no cached RDD is left."""
    from jmdfane_spark import persist

    persist.release()
    live = lambda: len(spark.sparkContext._jsc.getPersistentRDDs())  # noqa: E731
    base = live()
    fdf = spark.createDataFrame(
        [(v, [float(i), 1.0]) for i, v in enumerate("abcdef")], "id string, vec array<double>"
    )
    edf = spark.createDataFrame(list(zip("abcde", "bcdef")), "id_a string, id_b string")
    out = laplacian_smooth(fdf, edf, rounds=3)
    assert out.count() == 6
    persist.release()
    assert live() == base


def test_outlier_reattach(spark):
    labels = spark.createDataFrame(
        [("a", "c1"), ("b", "c1"), ("x", "x"), ("y", "y")], "id string, component string"
    )
    scored = spark.createDataFrame(
        [("a", "x", 0.9), ("b", "x", 0.7), ("x", "y", 0.95), ("a", "y", 0.2)],
        "id_a string, id_b string, score double",
    )
    out = {r.id: r.component for r in outlier_reattach(labels, scored, min_score=0.5).collect()}
    assert out["x"] == "c1"      # best non-singleton partner is a (0.9)
    assert out["y"] == "y"       # only partner above is x (singleton) / a below threshold
    assert out["a"] == "c1" and out["b"] == "c1"


def test_weighted_walks_track_edge_weights(spark):
    """Empirical next-hop distribution follows edge weights (reference
    weighted choice, src/hin_embedding/meta2vec.py:141-143)."""
    edges = spark.createDataFrame(
        [("c", "x", 9.0), ("c", "y", 1.0)], "id_a string, id_b string, w double"
    )
    walks = random_walks(edges, num_walks=300, walk_len=2, weight_col="w")
    hops = [r.path[1] for r in walks.collect() if r.start == "c"]
    assert len(hops) == 300
    frac_x = hops.count("x") / len(hops)
    assert 0.84 <= frac_x <= 0.96, frac_x  # expect ~0.9 under uniform hashing


def test_weighted_walks_deterministic_under_repartition(spark):
    edges = spark.createDataFrame(
        [("a", "b", 2.0), ("b", "c", 1.0), ("c", "d", 5.0), ("a", "d", 1.0)],
        "id_a string, id_b string, w double",
    )
    w1 = {
        (r.walk_id, r.start): tuple(r.path)
        for r in random_walks(edges, num_walks=3, walk_len=6, weight_col="w").collect()
    }
    w2 = {
        (r.walk_id, r.start): tuple(r.path)
        for r in random_walks(
            edges.repartition(7), num_walks=3, walk_len=6, weight_col="w"
        ).collect()
    }
    assert w1 == w2


def test_metapath_walks_follow_type_schedule(spark):
    """Step t follows only edges of type metapath[(t-1) % len] — the
    reference's typed metapath (meta2vec.py:34-39,127-145); a node with no
    edge of the scheduled type stalls the walk."""
    edges = spark.createDataFrame(
        [
            ("a", "b", "t1", 1.0),
            ("b", "c", "t2", 1.0),
            ("a", "d", "t2", 1.0),
            ("c", "e", "t1", 1.0),
        ],
        "id_a string, id_b string, et string, w double",
    )
    walks = random_walks(
        edges, num_walks=4, walk_len=4, weight_col="w", type_col="et", metapath=["t1", "t2"]
    )
    typed = {("a", "b"): "t1", ("b", "c"): "t2", ("c", "e"): "t1", ("a", "d"): "t2"}
    adj = {}
    for (u, v), t in typed.items():
        adj.setdefault((u, t), set()).add(v)
        adj.setdefault((v, t), set()).add(u)
    for r in walks.collect():
        path = list(r.path)
        for step, (u, v) in enumerate(zip(path, path[1:]), start=1):
            want = ["t1", "t2"][(step - 1) % 2]
            assert v in adj.get((u, want), set()), (path, step, want)
    # walks from 'd' must stall immediately on the t1 step (d has only t2)
    d_walks = [tuple(r.path) for r in walks.collect() if r.start == "d"]
    assert d_walks and all(p == ("d",) for p in d_walks)


def test_random_walks_deterministic_and_connected(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "id_a string, id_b string"
    )
    w1 = {(r.walk_id, r.start): tuple(r.path) for r in random_walks(edges, num_walks=2, walk_len=5).collect()}
    w2 = {(r.walk_id, r.start): tuple(r.path) for r in random_walks(edges, num_walks=2, walk_len=5).collect()}
    assert w1 == w2  # deterministic under re-execution
    adj = {"a": {"b"}, "b": {"a", "c"}, "c": {"b", "d"}, "d": {"c"}}
    for (_, start), path in w1.items():
        assert path[0] == start and len(path) == 5
        for u, v in zip(path, path[1:]):
            assert v in adj[u]


def test_truncated_walks_preserved_by_frontier_split(spark):
    """Terminated walks leave the per-step join frontier (embedding.py
    frontier split) but must all reappear in the output: exactly one row
    per (walk_id, start), truncated paths intact — on a fixture where
    most walks die at step 1 (only one node has a t1 edge)."""
    edges = spark.createDataFrame(
        [("a", "b", "t1", 1.0), ("b", "c", "t2", 1.0)]
        + [(f"z{i}", f"z{i+1}", "t2", 1.0) for i in range(6)],
        "id_a string, id_b string, et string, w double",
    )
    num_walks, walk_len = 3, 7
    rows = random_walks(
        edges, num_walks=num_walks, walk_len=walk_len,
        weight_col="w", type_col="et", metapath=["t1", "t2"],
    ).collect()
    starts = {"a", "b", "c"} | {f"z{i}" for i in range(7)}
    seen = {}
    for r in rows:
        key = (r.walk_id, r.start)
        assert key not in seen, f"duplicate walk {key}"
        seen[key] = tuple(r.path)
        assert r.path[0] == r.start
    assert set(seen) == {(w, s) for w in range(num_walks) for s in starts}
    # z-nodes have no t1 edge at all: their walks truncate at length 1
    for (w, s), p in seen.items():
        if s.startswith("z"):
            assert p == (s,), (w, s, p)


def test_outlier_merge_pairs_leftover_singletons(spark):
    """G11 second phase (reference local_embedding.py:432-441): after
    reattachment, leftover singletons with mutual score >= tau end up in
    ONE component; sub-threshold singleton pairs stay apart; members of
    real clusters are untouched."""
    from jmdfane_spark.operators.graph import outlier_merge, outlier_repair

    labels = spark.createDataFrame(
        [("a", "c1"), ("b", "c1"), ("x", "x"), ("y", "y"), ("z", "z"), ("w", "w")],
        "id string, component string",
    )
    scored = spark.createDataFrame(
        # x-y and y-z clear tau (transitive chain); w only has a weak edge
        [("x", "y", 0.8), ("y", "z", 0.7), ("z", "w", 0.2), ("a", "x", 0.1)],
        "id_a string, id_b string, score double",
    )
    out = {r.id: r.component for r in outlier_merge(labels, scored, min_score=0.5).collect()}
    assert out["x"] == out["y"] == out["z"] == "x"  # CC min-id convention
    assert out["w"] == "w"                          # weak edge: stays singleton
    assert out["a"] == "c1" and out["b"] == "c1"    # non-singletons untouched

    # hand-computed reference trace for the combined repair: x reattaches
    # to c1 (best non-singleton partner a at 0.9 >= tau), then leftovers
    # y,z merge with each other (0.7 >= tau), w stays put
    labels2 = spark.createDataFrame(
        [("a", "c1"), ("b", "c1"), ("x", "x"), ("y", "y"), ("z", "z"), ("w", "w")],
        "id string, component string",
    )
    scored2 = spark.createDataFrame(
        [("a", "x", 0.9), ("y", "z", 0.7), ("z", "w", 0.2)],
        "id_a string, id_b string, score double",
    )
    rep = {r.id: r.component for r in outlier_repair(labels2, scored2, min_score=0.5).collect()}
    assert rep["x"] == "c1"
    assert rep["y"] == rep["z"] == "y"
    assert rep["w"] == "w"
