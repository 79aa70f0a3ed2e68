"""Property-based tests (hypothesis) for metric and similarity invariants.

Driver-side pure-python models are compared against the Spark operators on
randomized small inputs — the reference has no property tests at all
(SURVEY §5); these guard the counting semantics the acceptance metric
depends on.
"""

import itertools
import json
import os
import shutil
import tempfile

import pyspark.sql.functions as F
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from jmdfane_spark import persist
from jmdfane_spark.functions.similarity import jaccard
from jmdfane_spark.operators.connected_components import connected_components
from jmdfane_spark.operators.evaluate import pairwise_f1
from jmdfane_spark.plans.checkpoint import CheckpointManager

labels_strategy = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 3), st.integers(0, 3)),
    min_size=2,
    max_size=24,
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(labels_strategy)
def test_pairwise_f1_property(spark, rows_raw):
    rows = [
        (f"blk{b}", f"{b}:{i}", f"p{p}", f"t{t}") for i, (b, p, t) in enumerate(rows_raw)
    ]
    df = spark.createDataFrame(rows, "block_key string, id string, component string, cluster_id string")
    m = pairwise_f1(df.select("id", "component"), df.select("block_key", "id", "cluster_id"))

    tp = fp = fn = 0
    for b in {r[0] for r in rows}:
        blk = [r for r in rows if r[0] == b]
        for (_, _, p1, t1), (_, _, p2, t2) in itertools.combinations(blk, 2):
            if p1 == p2 and t1 == t2:
                tp += 1
            elif p1 == p2:
                fp += 1
            elif t1 == t2:
                fn += 1
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    want = 2 * p * r / (p + r) if p and r else 0.0
    assert abs(m["micro_f1"] - want) < 1e-9


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.text("abcdef", min_size=1, max_size=3), max_size=8),
    st.lists(st.text("abcdef", min_size=1, max_size=3), max_size=8),
)
def test_jaccard_property(spark, a, b):
    df = spark.createDataFrame([(a, b)], "a array<string>, b array<string>")
    got = df.select(jaccard(F.col("a"), F.col("b")).alias("j")).first().j
    sa, sb = set(a), set(b)
    want = len(sa & sb) / len(sa | sb) if sa | sb else 0.0
    assert abs(got - want) < 1e-6


@settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.text(max_size=24)),
            st.one_of(st.none(), st.text(max_size=24)),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_jaro_winkler_batch_property(pairs):
    """Batch kernel == per-row reference on arbitrary unicode batches
    (no Spark session needed — this guards the numpy position-loop
    vectorization against the sequential greedy semantics)."""
    import numpy as np

    from test_operators import _jw_ref  # tests dir is on sys.path (no pkg)

    from jmdfane_spark.functions.similarity import _jaro_winkler_batch

    got = _jaro_winkler_batch([a for a, _ in pairs], [b for _, b in pairs])
    for (a, b), g in zip(pairs, got):
        want = _jw_ref(a, b)
        if want is None:
            assert np.isnan(g), (a, b, g)
        else:
            assert g == want, (a, b, g, want)
            assert 0.0 <= g <= 1.0


def _union_find(verts, edges):
    """Component = smallest member id (the root of a union-by-min forest)."""
    parent = {v: v for v in verts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in verts}


graphs = st.integers(1, 24).flatmap(
    lambda n: st.tuples(
        st.just(n),
        st.lists(
            st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)),
            min_size=n // 2,
            max_size=2 * n,
        ),
    )
)
# a path whose ids are not in path order: the quotient phase runs several
# rounds, so losing the newest snapshot resumes inside it
_PATH = [5, 11, 0, 14, 3, 9, 1, 12, 7, 15, 2, 10, 6, 13, 4, 8]


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(graphs, st.integers(0, 1000))
@example((16, list(zip(_PATH, _PATH[1:]))), 0)
def test_connected_components_property(spark, graph, lost):
    """CC == union-find on random graphs with forced contraction, with the
    default contraction gate, and checkpointed (forced contraction) after
    the newest 1..all committed snapshots are deleted and the run is
    resumed — a crash at any point of the snapshot sequence."""
    n, raw = graph
    verts = [f"v{i}" for i in range(n)]  # lexicographic ids: "v10" < "v2"
    edges = [(verts[a], verts[b]) for a, b in raw]
    want = _union_find(verts, edges)
    vdf = spark.createDataFrame([(v,) for v in verts], "id string")
    edf = spark.createDataFrame(edges, "id_a string, id_b string")

    def labels(**kw):
        res = connected_components(vdf, edf, **kw)
        return {r.id: r.component for r in res.labels.collect()}

    try:
        assert labels(contract_min_changed=0) == want
        assert labels() == want
        with tempfile.TemporaryDirectory() as root:
            ck = CheckpointManager(spark, root)
            assert labels(checkpointer=ck, contract_min_changed=0) == want

            def committed_at(d):
                with open(os.path.join(root, d, "_COMMITTED")) as f:
                    return json.load(f)["ts"]

            snaps = sorted(os.listdir(root), key=committed_at)
            for d in snaps[len(snaps) - 1 - lost % len(snaps):]:
                shutil.rmtree(os.path.join(root, d))
            ck = CheckpointManager(spark, root)
            assert labels(checkpointer=ck, contract_min_changed=0) == want
    finally:
        persist.release()
