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
from collections import Counter

import pyspark.sql.functions as F
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from jmdfane_spark import persist
from jmdfane_spark.functions.similarity import jaccard
from jmdfane_spark.operators import connected_components as cc_mod
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


_SETS = st.frozensets(st.integers(0, 5), max_size=5)  # small universe: ties, subsets
_VEC = st.one_of(st.none(), st.lists(st.integers(-2, 2), min_size=2, max_size=2))
_TFIDF = st.dictionaries(st.integers(0, 4), st.integers(1, 3), max_size=3)
_CASCADE_ROW = st.tuples(
    _SETS, _SETS, _SETS, _SETS,
    st.sampled_from(["p/q.py", "p/r.py", "pq.py", ""]),
    st.sampled_from(["p/q.py", "p/r.py", "pq.py", ""]),
    _VEC, _VEC, _TFIDF, _TFIDF,
)


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(_CASCADE_ROW, min_size=1, max_size=10),
    st.lists(st.integers(0, 6), min_size=5, max_size=5),
    st.booleans(),
    st.booleans(),
    st.floats(0.0, 1.0),
    st.integers(0, 10**6),
)
def test_score_cascade_equals_full_pass(spark, rows, raw_w, with_emb, with_tfidf, tau_free, pick):
    """The pruned cascade returns exactly the full pass's rows with
    score >= τ: the same pairs, channels and score, bit-equal. Weights are
    random convex combinations (with and without emb_cosine), embeddings
    may be OOV (NULL), and one τ per example is placed exactly on a pair's
    score or on one of its tier-0/1/2 upper bounds."""
    from jmdfane_spark.operators.scoring import score_pairs

    chans = ["token_jaccard", "shingle_jaccard", "tfidf_cosine", "path_sim", "emb_cosine"]
    raw = raw_w if with_emb else raw_w[:4]
    raw = raw if sum(raw) else [1] + raw[1:]
    w = {c: k / sum(raw) for c, k in zip(chans, raw)}

    def norm(m):
        return float(sum(float(v) * float(v) for v in m.values()) ** 0.5)

    data = [
        (f"a{i:02d}", f"b{i:02d}", sorted(ta), sorted(tb), sorted(sa), sorted(sb), pa, pb,
         None if ea is None else [float(x) for x in ea],
         None if eb is None else [float(x) for x in eb],
         {k: float(v) for k, v in ma.items()}, norm(ma),
         {k: float(v) for k, v in mb.items()}, norm(mb))
        for i, (ta, tb, sa, sb, pa, pb, ea, eb, ma, mb) in enumerate(rows)
    ]
    pairs = spark.createDataFrame(
        data,
        "id_a string, id_b string, tokens_a array<bigint>, tokens_b array<bigint>, "
        "shingles_a array<bigint>, shingles_b array<bigint>, norm_path_a string, "
        "norm_path_b string, emb_vec_a array<double>, emb_vec_b array<double>, "
        "tfidf_map_a map<bigint,float>, tfidf_norm_a double, "
        "tfidf_map_b map<bigint,float>, tfidf_norm_b double",
    )
    if not with_tfidf:
        pairs = pairs.drop("tfidf_map_a", "tfidf_norm_a", "tfidf_map_b", "tfidf_norm_b")
    full = sorted(
        (r.asDict() for r in score_pairs(pairs, weights=w).collect()),
        key=lambda r: r["id_a"],
    )

    # tier bounds in the cascade's own terms, to put τ on a boundary
    def ratio(x, y):
        return min(len(x), len(y)) / max(len(x), len(y)) if x or y else 0.0

    rest = w["tfidf_cosine"] + w.get("emb_cosine", 0.0)
    bounds = []
    for r, (ta, tb, sa, sb, *_) in zip(full, rows):
        cheap = w["token_jaccard"] * r["token_jaccard"] + w["path_sim"] * r["path_sim"]
        bounds += [
            r["score"],
            w["token_jaccard"] * ratio(ta, tb) + w["path_sim"]
            + w["shingle_jaccard"] * ratio(sa, sb) + rest,
            cheap + w["shingle_jaccard"] * ratio(sa, sb) + rest,
            cheap + w["shingle_jaccard"] * r["shingle_jaccard"] + rest,
        ]
    for tau in (tau_free, bounds[pick % len(bounds)]):
        got = sorted(
            (r.asDict() for r in score_pairs(pairs, weights=w, prune_below=tau).collect()),
            key=lambda r: r["id_a"],
        )
        assert got == [r for r in full if r["score"] >= tau], (tau, w)


# ids whose Spark string order is not their numeric or alphabetic one
_DP_IDS = ["v1", "v2", "v9", "v10", "e", "z", "é", "ü"]
_DP_ROW = st.tuples(st.sampled_from(_DP_IDS), st.sampled_from(["k0", "k1", "k2"]), st.booleans())


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(_DP_ROW, max_size=14),
    st.sampled_from(_DP_IDS),
    st.sampled_from(["k0", "k1", "k2"]),
    st.lists(st.sampled_from(_DP_IDS), min_size=1, max_size=3, unique=True),
    st.lists(st.sampled_from(_DP_IDS), min_size=1, max_size=3, unique=True),
)
def test_delta_pairs_matches_brute_force(spark, rows, both_id, both_blk, new_only, old_only):
    """delta_pairs emits every within-block pair of rows with different ids
    and at least one new end exactly once, as (id_a < id_b) in Spark string
    order with each payload on its id's side. Each example holds one id on
    both sides (a re-ingest), a block of new rows only and a block of
    existing rows only."""
    from jmdfane_spark.streaming.incremental import delta_pairs

    rows = set(rows) | {(both_id, both_blk, True), (both_id, both_blk, False)}
    rows |= {(i, "kn", True) for i in new_only} | {(i, "ko", False) for i in old_only}
    data = [(blk, i, f"{i}@{blk}@{is_new}", n, is_new)
            for n, (i, blk, is_new) in enumerate(sorted(rows))]
    schema = "block_key string, id string, p string, n bigint"
    new = spark.createDataFrame([d[:4] for d in data if d[4]], schema)
    old = spark.createDataFrame([d[:4] for d in data if not d[4]], schema)

    want = Counter()
    for x, y in itertools.combinations(data, 2):
        if x[0] == y[0] and x[1] != y[1] and (x[4] or y[4]):
            lo, hi = sorted((x, y), key=lambda d: d[1])
            want[(lo[0], lo[1], hi[1], lo[2], hi[2], lo[3], hi[3])] += 1

    dp = delta_pairs(new, old)
    assert dp.columns == ["block_key", "id_a", "id_b", "p_a", "p_b", "n_a", "n_b"]
    got = Counter(tuple(r) for r in dp.collect())
    assert all(r[1] < r[2] and r[3].startswith(f"{r[1]}@") and r[4].startswith(f"{r[2]}@")
               for r in got)
    assert not any(k[0] == "ko" for k in got)
    assert got == want


# max_rows_per_task of the split-path test; keys a literal-built hot table
# would have to escape, and NULL (a key that pairs with nothing)
_SPLIT_M = 4
_SPLIT_KEYS = ["k", "it's", "back\\slash", "a|b", "ünï", "名前", "\\'|", None]
_SPLIT_BLOCKS = st.lists(
    st.tuples(
        st.sampled_from(_SPLIT_KEYS),
        st.one_of(st.integers(0, 3 * _SPLIT_M + 1), st.sampled_from([_SPLIT_M, _SPLIT_M + 1])),
    ),
    max_size=5,
    unique_by=lambda b: b[0],
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(_SPLIT_BLOCKS)
@example([])
@example([("it's", 3 * _SPLIT_M + 1)])
@example([("a|b", _SPLIT_M), ("back\\slash", _SPLIT_M + 1), (None, _SPLIT_M + 1), ("名前", 1)])
def test_blocked_pairs_split_matches_naive(spark, blocks):
    """blocked_pairs gives exactly the naive within-block pair set, each
    pair once as (id_a < id_b) with each payload on its id's side;
    block_stats counts the rows and pairs and lists each non-NULL block
    over max_rows_per_task rows (by key hash) with
    ceil(n / max_rows_per_task) splits. Ids are numbered across blocks in
    an order unrelated to their hash buckets, so cross-bucket pairs
    arrive in both orders."""
    import math

    from jmdfane_spark.operators.pairs import block_stats, blocked_pairs

    data = [(k, f"i{(7 * j + 3 * n) % 97:02d}-{j}-{n}", n)
            for j, (k, size) in enumerate(blocks) for n in range(size)]
    df = spark.createDataFrame([(k, i, f"p:{i}", n) for k, i, n in data],
                               "block_key string, id string, p string, n bigint").persist()
    want = Counter()
    for x, y in itertools.combinations(data, 2):
        if x[0] is not None and x[0] == y[0]:
            lo, hi = sorted((x, y), key=lambda d: d[1])
            want[(lo[0], lo[1], hi[1], f"p:{lo[1]}", f"p:{hi[1]}", lo[2], hi[2])] += 1

    stats = block_stats(df, "block_key", _SPLIT_M)
    sizes = Counter(k for k, _, _ in data)
    assert stats.rows == len(data)
    assert stats.pairs == sum(n * (n - 1) / 2 for n in sizes.values())
    assert sorted(n for _, n in stats.hot) == sorted(
        math.ceil(n / _SPLIT_M) for k, n in sizes.items() if k is not None and n > _SPLIT_M
    )
    out = blocked_pairs(df, "block_key", "id", _SPLIT_M)  # computes the same hot list
    assert out.columns == ["block_key", "id_a", "id_b", "p_a", "p_b", "n_a", "n_b"]
    assert Counter(tuple(r) for r in out.collect()) == want
    df.unpersist()


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
def test_connected_components_property(spark, monkeypatch, graph, lost):
    """CC == union-find on random graphs with forced contraction, with the
    default contraction gate, and checkpointed (forced contraction) after
    the newest 1..all committed snapshots are deleted and the run is
    resumed — a crash at any point of the snapshot sequence. Every case
    runs with the driver finish at its default bound and turned off (0),
    where the hash-min rounds solve it."""
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
        for bound in (cc_mod.DRIVER_MAX_EDGES, 0):
            with monkeypatch.context() as mp:
                mp.setattr(cc_mod, "DRIVER_MAX_EDGES", bound)
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


def _cc(spark, verts, edges, **kw):
    vdf = spark.createDataFrame([(v,) for v in verts], "id string")
    edf = spark.createDataFrame(edges, "id_a string, id_b string")
    res = connected_components(vdf, edf, **kw)
    return {r.id: r.component for r in res.labels.collect()}, res


def test_cc_driver_finish_degenerate_graphs(spark):
    """The driver finish == union-find on isolated vertices, an empty edge
    set, self-loops and duplicate edges, in one job-bounded pass: one
    metrics row, phase "driver", at the fixpoint."""
    verts = ["a", "b", "c", "d", "iso1", "iso2"]
    cases = [
        [],  # empty edge set: every vertex is its own component
        [("b", "b"), ("iso1", "iso1")],  # self-loops only
        [("c", "a"), ("a", "c"), ("c", "a"), ("d", "d"), ("b", "d")],  # dups
    ]
    try:
        for edges in cases:
            got, res = _cc(spark, verts, edges)
            assert got == _union_find(verts, edges), edges
            assert res.iterations == 1
            assert res.metrics == [{
                "iteration": 1, "phase": "driver", "edges": len(edges),
                "labels_changed": 0, "wall_sec": res.metrics[0]["wall_sec"],
            }]
    finally:
        persist.release()


def test_cc_driver_finish_min_id_is_spark_string_order(spark, monkeypatch):
    """Component = the smallest id in Spark's string order, which is not
    numeric order ("v10" < "v2") and puts a non-ASCII id after every
    ASCII one ("é" > "z"). Both paths must agree with the union-find."""
    verts = ["v2", "v10", "v9", "z", "é", "e", "ü"]
    edges = [("v2", "v10"), ("v9", "v2"), ("z", "é"), ("é", "e")]
    want = _union_find(verts, edges)
    assert want["v9"] == "v10" and want["z"] == "e" and want["ü"] == "ü"
    try:
        assert _cc(spark, verts, edges)[0] == want
        monkeypatch.setattr(cc_mod, "DRIVER_MAX_EDGES", 0)
        assert _cc(spark, verts, edges)[0] == want
    finally:
        persist.release()


def test_cc_driver_finish_resumes_from_its_snapshot(spark, tmp_path):
    """Checkpointed, the driver map is one committed snapshot
    (cc_driver). A rerun reads it without collecting the edges again; a
    rerun after the snapshot is deleted solves again to identical labels."""
    verts = [f"v{i}" for i in range(12)]
    edges = [("v3", "v7"), ("v7", "v11"), ("v0", "v5"), ("v5", "v0")]
    want = _union_find(verts, edges)
    root = str(tmp_path / "ck")
    try:
        got, res = _cc(spark, verts, edges, checkpointer=CheckpointManager(spark, root))
        assert got == want and os.listdir(root) == ["cc_driver"]
        assert res.metrics[-1]["edges"] == len(edges)
        marker = os.path.join(root, "cc_driver", "_COMMITTED")
        with open(marker) as f:
            committed = f.read()

        got, res = _cc(spark, verts, edges, checkpointer=CheckpointManager(spark, root))
        assert got == want
        assert res.metrics[-1]["phase"] == "driver" and res.metrics[-1]["edges"] is None
        with open(marker) as f:
            assert f.read() == committed  # read, not rewritten

        shutil.rmtree(os.path.join(root, "cc_driver"))
        got, res = _cc(spark, verts, edges, checkpointer=CheckpointManager(spark, root))
        assert got == want and res.metrics[-1]["edges"] == len(edges)
    finally:
        persist.release()


def test_cc_driver_finishes_the_quotient(spark, tmp_path, monkeypatch):
    """A graph above the bound runs a hash-min round and contracts; a
    quotient under the bound finishes on the driver right away, also
    checkpointed and after its cc_driver snapshot is lost."""
    verts = [f"v{i}" for i in _PATH] + ["iso"]
    edges = [(f"v{a}", f"v{b}") for a, b in zip(_PATH, _PATH[1:])]
    want = _union_find(verts, edges)
    monkeypatch.setattr(cc_mod, "DRIVER_MAX_EDGES", len(edges) - 1)
    root = str(tmp_path / "ck")
    try:
        for ck in (None, CheckpointManager(spark, root)):
            got, res = _cc(spark, verts, edges, checkpointer=ck, contract_min_changed=0)
            assert got == want
            assert [m["phase"] for m in res.metrics] == ["full", "driver"]
            assert res.metrics[-1]["edges"] < len(edges)
        shutil.rmtree(os.path.join(root, "cc_driver"))
        got, res = _cc(
            spark, verts, edges, checkpointer=CheckpointManager(spark, root),
            contract_min_changed=0,
        )
        assert got == want and [m["phase"] for m in res.metrics] == ["driver"]
    finally:
        persist.release()


_MERGE_OLD = ["v1", "v2", "v9", "v10", "e", "z", "é", "a"]
_MERGE_IDS = _MERGE_OLD + ["n1", "n2", "n3", "ü"]


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(0, 3), max_size=len(_MERGE_OLD)),
    st.lists(st.sampled_from(_MERGE_IDS), max_size=5),
    st.lists(st.tuples(st.sampled_from(_MERGE_IDS), st.sampled_from(_MERGE_IDS)), max_size=6),
)
# an empty delta, on an empty and on a non-empty corpus
@example([], [], [])
@example([0, 0, 1, 2], [], [])
# a re-ingested id (v2), an edge inside one component (v1-e), a chain
# across three components (e-z, v2-é) that reaches a new id (é-n1), and
# a new-only component (n2-n3)
@example([0, 1, 2, 3, 0, 1, 2, 3], ["v2", "n1", "n2", "n3"],
         [("v1", "e"), ("e", "z"), ("v2", "é"), ("é", "n1"), ("n2", "n3")])
def test_merge_components_matches_union_find(spark, groups, new_ids, delta):
    """merge_components labels every existing and new id once, as a
    union-find over the existing partition plus the delta edges gives:
    component = smallest member id in Spark string order."""
    from jmdfane_spark.streaming.incremental import merge_components

    old = _MERGE_OLD[: len(groups)]
    members = {}
    for v, g in zip(old, groups):
        members.setdefault(g, []).append(v)
    comp = {v: min(ms) for ms in members.values() for v in ms}
    verts = sorted(set(old) | set(new_ids))
    edges = [(a, b) for a, b in delta if a in verts and b in verts]
    chains = [(ms[i], ms[i + 1]) for ms in members.values() for i in range(len(ms) - 1)]
    want = _union_find(verts, chains + edges)

    labels = spark.createDataFrame(sorted(comp.items()), "id string, component string")
    new = spark.createDataFrame([(v,) for v in new_ids], "id string")
    edf = spark.createDataFrame(edges, "id_a string, id_b string")
    rows = merge_components(labels, new, edf).collect()
    assert len(rows) == len(verts)
    assert {r.id: r.component for r in rows} == want
