"""Unit tests: pair generation (incl. skew split), CC, metrics, similarity."""

import itertools
import math

import pyspark.sql.functions as F

from jmdfane_spark.functions import similarity as S
from jmdfane_spark.functions import text as T
from jmdfane_spark.operators import connected_components as cc_mod
from jmdfane_spark.operators.connected_components import connected_components
from jmdfane_spark.operators.evaluate import pairwise_f1
from jmdfane_spark.operators.pairs import blocked_pairs


def test_blocked_pairs_complete_and_skew_split_equal(spark):
    rows = [(f"b{i % 3}", f"id{i:03d}") for i in range(40)]
    df = spark.createDataFrame(rows, "block_key string, id string")
    naive = blocked_pairs(df, max_rows_per_task=1000)
    split = blocked_pairs(df, max_rows_per_task=5)  # forces multi-bucket path
    want = set()
    for b in ("b0", "b1", "b2"):
        ids = sorted(r for bk, r in rows if bk == b)
        want |= {(b, a, c) for a, c in itertools.combinations(ids, 2)}
    got_naive = {(r.block_key, r.id_a, r.id_b) for r in naive.collect()}
    got_split = {(r.block_key, r.id_a, r.id_b) for r in split.collect()}
    assert got_naive == want
    assert got_split == want


def test_connected_components_vs_unionfind(spark):
    edges = [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f2"), ("c", "a"), ("g", "h"), ("h", "i"), ("i", "j")]
    verts = sorted({v for e in edges for v in e} | {"lonely"})
    vdf = spark.createDataFrame([(v,) for v in verts], "id string")
    edf = spark.createDataFrame(edges, "id_a string, id_b string")
    res = connected_components(vdf, edf)
    got = {r.id: r.component for r in res.labels.collect()}

    parent = {v: v for v in verts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in verts}
    # same partition (component ids = min member in both)
    assert got == want
    assert res.metrics[-1]["labels_changed"] == 0


def test_pairwise_f1_matches_reference_loop(spark):
    # brute-force the reference's O(n²) counting (utils.py:63-94) and compare
    import random

    rng = random.Random(7)
    rows = []
    for b in range(3):
        n = rng.randint(5, 15)
        for i in range(n):
            rows.append((f"blk{b}", f"{b}:{i}", f"p{rng.randint(0, 3)}", f"t{rng.randint(0, 3)}"))
    df = spark.createDataFrame(rows, "block_key string, id string, component string, cluster_id string")
    m = pairwise_f1(df.select("id", "component"), df.select("block_key", "id", "cluster_id"))

    f1s = []
    tp = fp = fn = 0
    for b in {r[0] for r in rows}:
        blk = [r for r in rows if r[0] == b]
        btp = bfp = bfn = 0
        for (_, _, p1, t1), (_, _, p2, t2) in itertools.combinations(blk, 2):
            if p1 == p2 and t1 == t2:
                btp += 1
            elif p1 == p2:
                bfp += 1
            elif t1 == t2:
                bfn += 1
        tp, fp, fn = tp + btp, fp + bfp, fn + bfn
        prec = btp / (btp + bfp) if btp + bfp else 0.0
        rec = btp / (btp + bfn) if btp + bfn else 0.0
        f1s.append(2 * prec * rec / (prec + rec) if prec and rec else 0.0)
    assert abs(m["macro_f1"] - sum(f1s) / len(f1s)) < 1e-9
    mp = tp / (tp + fp) if tp + fp else 0.0
    mr = tp / (tp + fn) if tp + fn else 0.0
    want_micro = 2 * mp * mr / (mp + mr) if mp and mr else 0.0
    assert abs(m["micro_f1"] - want_micro) < 1e-9


def test_similarity_functions(spark):
    df = spark.createDataFrame(
        [(["a", "b", "c"], ["b", "c", "d"], "kitten", "sitting", [1.0, 2.0, 3.0], [3.0, 2.0, 1.0])],
        "ta array<string>, tb array<string>, sa string, sb string, va array<double>, vb array<double>",
    )
    r = df.select(
        S.jaccard(F.col("ta"), F.col("tb")).alias("j"),
        S.tanimoto(F.col("ta"), F.col("tb")).alias("t"),
        S.levenshtein_ratio(F.col("sa"), F.col("sb")).alias("l"),
        S.cosine(F.col("va"), F.col("vb")).alias("c"),
    ).first()
    assert abs(r.j - 2 / 4) < 1e-9
    assert abs(r.t - 2 / 4) < 1e-9
    assert abs(r.l - (1 - 3 / 7)) < 1e-9
    want_cos = (3 + 4 + 3) / (math.sqrt(14) * math.sqrt(14))
    assert abs(r.c - want_cos) < 1e-9


def test_cosine_batch_matches_hof(spark):
    """The Arrow-batched numpy cosine must agree with the HOF fold at
    round-9, including null / zero-norm edge rows (both → 0.0 for zero
    norm; NULL input → 0.0 in batch vs 0.0 via otherwise in HOF)."""
    rows = [
        ([1.0, 2.0, 3.0], [3.0, 2.0, 1.0]),
        ([1.0, 0.0, 0.0], [1.0, 0.0, 0.0]),
        ([0.0, 0.0, 0.0], [1.0, 2.0, 3.0]),  # zero norm → 0.0
        ([-1.5, 2.5, 0.25], [0.5, -0.5, 8.0]),
        (None, [1.0, 2.0, 3.0]),  # null side → 0.0
    ]
    df = spark.createDataFrame(rows, "va array<double>, vb array<double>")
    got = df.select(
        F.round(S.cosine(F.col("va"), F.col("vb")), 9).alias("hof"),
        F.round(S.cosine_batch(F.col("va"), F.col("vb")), 9).alias("bat"),
    ).collect()
    for r in got:
        hof = 0.0 if r.hof is None else r.hof
        assert abs(hof - r.bat) < 1e-9, (hof, r.bat)


def test_text_functions(spark):
    df = spark.createDataFrame([("Hello, WORLD! the a of 42 xx",)], "t string")
    r = df.select(
        T.tokenize(F.col("t")).alias("toks"),
        T.path_stem(F.lit("src/Parse_Config_v2.PY")).alias("stem"),
    ).first()
    assert r.toks == ["hello", "world", "42", "xx"]
    assert r.stem == "parseconfig"


def test_char_bag_distance(spark):
    """F4: multiset char symmetric difference (repare_data_name.py:48-65)."""
    df = spark.createDataFrame(
        [("abc", "abc"), ("aab", "abb"), ("abc", "xyz"), ("", "ab"), (None, "ab")],
        "a string, b string",
    )
    got = [r.d for r in df.select(S.char_bag_distance(F.col("a"), F.col("b")).alias("d")).collect()]
    assert got == [0, 2, 6, 2, 2]


def test_connected_components_contraction_long_chain(spark, monkeypatch, tmp_path):
    """Forced edge contraction (contract_min_changed=0) must reach the
    same fixpoint as the default gate (which never contracts a graph this
    small) on a diameter-20 chain — the worst case for hash-min — and
    still label every vertex with the chain's minimum id. The driver
    finish is off, so both runs take the hash-min rounds, on the quotient
    too. CC frees its own snapshots: without a checkpointer only the
    registered labels snapshot outlives the call, and with one nothing
    does."""
    from jmdfane_spark import persist
    from jmdfane_spark.plans.checkpoint import CheckpointManager

    def live_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    monkeypatch.setattr(cc_mod, "DRIVER_MAX_EDGES", 0)
    n = 21
    ids = [f"v{i:02d}" for i in range(n)]
    edges = [(ids[i], ids[i + 1]) for i in range(n - 1)] + [("x1", "x2")]
    verts = sorted({v for e in edges for v in e} | {"iso"})
    vdf = spark.createDataFrame([(v,) for v in verts], "id string")
    edf = spark.createDataFrame(edges, "id_a string, id_b string")
    persist.release()
    before = live_ids()
    contracted = connected_components(vdf, edf, contract_min_changed=0)
    assert len(live_ids() - before) == 1
    got_c = {r.id: r.component for r in contracted.labels.collect()}
    persist.release()
    assert live_ids() <= before
    ckd = connected_components(
        vdf, edf, checkpointer=CheckpointManager(spark, str(tmp_path)), contract_min_changed=0
    )
    assert live_ids() <= before
    got_k = {r.id: r.component for r in ckd.labels.collect()}
    plain = connected_components(vdf, edf)
    got_p = {r.id: r.component for r in plain.labels.collect()}
    persist.release()
    assert got_c == got_p == got_k
    assert any(m["phase"] == "quotient" for m in ckd.metrics)
    assert all(got_c[v] == "v00" for v in ids)
    assert got_c["x1"] == got_c["x2"] == "x1" and got_c["iso"] == "iso"
    assert any(m["phase"] == "quotient" for m in contracted.metrics)
    assert all(m["phase"] == "full" for m in plain.metrics)
    # pointer jumping gives O(log diameter) rounds: a diameter-20 chain
    # must converge in far fewer than 20 iterations in both modes
    assert contracted.iterations <= 9 and plain.iterations <= 9


def test_payload_broadcast_gated_on_bytes(spark):
    """The forced payload broadcast is byte-gated: a wide-payload members
    table above the cap must plan a non-broadcast join (the r3 row-count
    gate would have forced a multi-GB broadcast at the 2M-row margin)."""
    from jmdfane_spark.operators.pairs import estimated_broadcast_bytes, pairs_from_keys

    rows = [(f"id{i}", "b0", list(range(500))) for i in range(40)]
    members = spark.createDataFrame(rows, "id string, block_key string, payload array<int>")
    keys = members.select("id", "block_key")
    est = estimated_broadcast_bytes(members, 40)
    assert est > 40 * 500 * 8  # array bytes dominate the estimate

    over = pairs_from_keys(keys, members.drop("block_key"), broadcast_byte_cap=int(est))
    plan_over = over._jdf.queryExecution().executedPlan().toString()
    under = pairs_from_keys(keys, members.drop("block_key"), broadcast_byte_cap=10**9)
    plan_under = under._jdf.queryExecution().executedPlan().toString()
    # the payload join-back: forced broadcast below the cap, shuffled above
    assert "BroadcastHashJoin" in plan_under
    assert plan_over.count("BroadcastHashJoin") < plan_under.count("BroadcastHashJoin")
    # both produce the identical pair set either way
    assert sorted(map(tuple, over.select("id_a", "id_b").collect())) == sorted(
        map(tuple, under.select("id_a", "id_b").collect())
    )


def test_score_pairs_oov_excludes_channel(spark):
    """OOV embedding pairs EXCLUDE the emb channel and renormalize the
    remaining weights (r4 VERDICT item 7 — the old token_jaccard
    substitution double-weighted the token channel on exactly the pairs
    with the weakest graph signal). emb_cosine must be NULL on OOV rows,
    and score == (Σ other-channel weights·values)/(1−w_emb)."""
    import pyspark.sql.functions as F

    from jmdfane_spark.operators.scoring import CHANNEL_WEIGHTS_EMB, score_pairs

    rows = [
        # (id_a, id_b, tokens/shingles/path payload, emb vectors present?)
        ("a", "b", ["x", "y"], ["x", "y"], "p/q.py", "p/q.py", [1.0, 0.0], [1.0, 0.0]),
        ("a", "c", ["x", "y"], ["x", "z"], "p/q.py", "p/r.py", [1.0, 0.0], None),
    ]
    pairs = spark.createDataFrame(
        rows,
        "id_a string, id_b string, tokens_a array<string>, tokens_b array<string>, "
        "norm_path_a string, norm_path_b string, emb_vec_a array<double>, emb_vec_b array<double>",
    ).withColumn("shingles_a", F.col("tokens_a")).withColumn("shingles_b", F.col("tokens_b"))

    w = CHANNEL_WEIGHTS_EMB
    for prune in (None, 0.1):
        got = {
            (r["id_a"], r["id_b"]): r
            for r in score_pairs(pairs, weights=w, prune_below=prune).collect()
        }
        ok = got[("a", "b")]
        assert ok["emb_cosine"] is not None
        oov = got[("a", "c")]
        assert oov["emb_cosine"] is None, "OOV pair must not fabricate an emb channel"
        expected = (
            w["token_jaccard"] * oov["token_jaccard"]
            + w["shingle_jaccard"] * oov["shingle_jaccard"]
            + w["tfidf_cosine"] * oov["token_jaccard"]  # no tfidf cols → token fallback
            + w["path_sim"] * oov["path_sim"]
        ) / (1.0 - w["emb_cosine"])
        assert abs(oov["score"] - expected) < 1e-9, (prune, oov["score"], expected)


def test_score_cascade_binds_each_kernel_once(spark, fixture_dfs):
    """A `score` filter over the pruned cascade must not re-inline the
    channel kernels. With tiers bound by plain projections, Spark pushed
    the filter through them and the optimized plan of this ingest-shaped
    query held 51 array_intersect and 12 levenshtein calls (the full pass
    holds 6 and 1), past codegen's 64 KB method limit. The Jaro-Winkler
    path channel puts a pandas UDF inside a bound tier; its edges must
    still equal the full pass's."""
    from jmdfane_spark.operators.scoring import score_pairs
    from jmdfane_spark.plans.pipeline import normalize_files
    from jmdfane_spark.streaming.incremental import delta_pairs

    m = (
        normalize_files(fixture_dfs[0])
        .withColumn("block_key", F.concat_ws("|", "lang", "stem"))
        .drop("repo", "path", "commit")
        .persist()
    )
    new_ids = [r.id for r in m.select("id").orderBy("id").collect()][::7]
    dp = delta_pairs(m.where(F.col("id").isin(new_ids)), m.where(~F.col("id").isin(new_ids)))
    dp = dp.persist()
    tau = 0.4

    def kernels(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return plan.count("array_intersect("), plan.count("levenshtein(")

    edges = score_pairs(dp, prune_below=tau).where(F.col("score") >= tau).select("id_a", "id_b")
    (full_i, full_l), (got_i, got_l) = kernels(score_pairs(dp)), kernels(edges)
    assert full_i > 0 and full_l > 0
    assert got_i <= full_i and got_l <= full_l, ((got_i, got_l), (full_i, full_l))

    for impl in ("lev", "jw"):
        want = score_pairs(dp, path_sim_impl=impl).where(F.col("score") >= tau)
        got = score_pairs(dp, prune_below=tau, path_sim_impl=impl)
        want = sorted(map(tuple, want.select("id_a", "id_b", "score").collect()))
        assert want, impl
        assert sorted(map(tuple, got.select("id_a", "id_b", "score").collect())) == want, impl
    dp.unpersist()
    m.unpersist()


def _jw_ref(a: str | None, b: str | None) -> float | None:
    """Independent per-row Jaro-Winkler reference (DuckDB semantics:
    UTF-8 bytes, greedy window match, t = mismatches//2, boost iff
    jaro > 0.7, empty → 0.0) for testing the vectorized batch kernel."""
    if a is None or b is None:
        return None
    ab, bb = a.encode("utf-8"), b.encode("utf-8")
    la, lb = len(ab), len(bb)
    if la == 0 or lb == 0:
        return 0.0
    win = max(max(la, lb) // 2 - 1, 0)
    used = [False] * lb
    ma = []
    for j in range(la):
        for k in range(max(0, j - win), min(lb - 1, j + win) + 1):
            if not used[k] and bb[k] == ab[j]:
                used[k] = True
                ma.append(ab[j])
                break
    m = len(ma)
    if m == 0:
        return 0.0
    mb = [bb[k] for k in range(lb) if used[k]]
    t = sum(1 for x, y in zip(ma, mb) if x != y) // 2
    jaro = (m / la + m / lb + (m - t) / m) / 3.0
    pref = 0
    for x, y in zip(ab[:4], bb[:4]):
        if x != y:
            break
        pref += 1
    return jaro + pref * 0.1 * (1.0 - jaro) if jaro > 0.7 else jaro


def test_jaro_winkler_batch_matches_reference():
    """Batch kernel vs the per-row reference on adversarial + random
    cases (incl. multi-byte UTF-8, empties, nulls, odd 3-cycle
    transpositions), and vs DuckDB's jaro_winkler_similarity directly."""
    import random

    from jmdfane_spark.functions.similarity import _jaro_winkler_batch

    cases = [
        ("martha", "marhta"), ("dixon", "dicksonx"), ("abcxxx", "bcaxxx"),
        ("", ""), ("", "abc"), ("abc", ""), (None, "a"), ("a", None),
        ("héllo", "hallo"), ("aaaaaaaaaa", "aaaaaaaaab"), ("ab", "ba"),
        ("abcd", "abdc"), ("src/main.py", "src/main2.py"), ("x", "x"),
    ]
    rng = random.Random(11)
    alpha = "abcdé€/._"
    cases += [
        (
            "".join(rng.choices(alpha, k=rng.randint(0, 14))),
            "".join(rng.choices(alpha, k=rng.randint(0, 14))),
        )
        for _ in range(800)
    ]
    got = _jaro_winkler_batch([c[0] for c in cases], [c[1] for c in cases])
    import numpy as np

    for (a, b), g in zip(cases, got):
        want = _jw_ref(a, b)
        if want is None:
            assert np.isnan(g), (a, b, g)
        else:
            assert g == want, (a, b, g, want)

    import duckdb

    con = duckdb.connect()
    for a, b in cases:
        if a is None or b is None:
            continue
        dk = con.execute("select jaro_winkler_similarity(?, ?)", [a, b]).fetchone()[0]
        assert _jw_ref(a, b) == dk, (a, b)


def test_jaro_winkler_spark_column_and_scoring_channel(spark):
    """The Spark UDF agrees with the reference through Arrow, and
    score_pairs(path_sim_impl='jw') swaps the path channel in place."""
    from jmdfane_spark.operators.scoring import score_pairs

    df = spark.createDataFrame(
        [("martha", "marhta"), ("dixon", "dicksonx"), (None, "a"), ("", "")],
        "a string, b string",
    )
    got = df.select("a", "b", S.jaro_winkler(F.col("a"), F.col("b")).alias("jw")).collect()
    for r in got:
        want = _jw_ref(r["a"], r["b"])
        assert (r["jw"] is None and want is None) or r["jw"] == want, (r, want)

    pairs = spark.createDataFrame(
        [("a", "b", ["x"], ["x"], "pkg/module_one.py", "pkg/module_two.py")],
        "id_a string, id_b string, tokens_a array<string>, tokens_b array<string>, "
        "norm_path_a string, norm_path_b string",
    ).withColumn("shingles_a", F.col("tokens_a")).withColumn("shingles_b", F.col("tokens_b"))
    lev = score_pairs(pairs).first()
    jw = score_pairs(pairs, path_sim_impl="jw").first()
    assert jw["path_sim"] == _jw_ref("pkg/module_one.py", "pkg/module_two.py")
    assert lev["path_sim"] != jw["path_sim"]  # genuinely different metric
