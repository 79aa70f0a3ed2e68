"""End-to-end acceptance tests: the BASELINE.json contract.

  * pairwise F1 ≥ 0.99 on labeled pairs at matching blocking keys
  * per-row sha256(content) equality vs source
  * resumability from stage checkpoints
"""

import itertools

import pyspark.sql.functions as F
import pytest

from jmdfane_spark.operators.evaluate import pairwise_f1, pairwise_f1_on_labeled_pairs
from jmdfane_spark.plans.pipeline import normalize_files, run_pipeline


def test_flagship_f1(spark, fixture_dfs):
    files, labels, lpairs = fixture_dfs
    res = run_pipeline(spark, files, use_bands=False, use_tfidf=True)
    m = pairwise_f1_on_labeled_pairs(res.labels, lpairs)
    assert m["f1"] >= 0.99, m
    m2 = pairwise_f1(res.labels.select("id", "component"), labels)
    assert m2["macro_f1"] >= 0.99, m2
    # every candidate pair enters scoring; only the edges are kept
    assert res.metrics["pairs_scored"] == res.metrics["pairs_generated"]
    assert 0 < res.metrics["edges"] < res.metrics["pairs_scored"], res.metrics


def test_flagship_f1_with_banding(spark, fixture_dfs):
    files, labels, lpairs = fixture_dfs
    res = run_pipeline(spark, files, use_bands=True, bands=8, rows_per_band=2, use_tfidf=False)
    m = pairwise_f1_on_labeled_pairs(res.labels, lpairs)
    assert m["f1"] >= 0.99, m


def test_flagship_f1_with_embedding_channel(spark, fixture_dfs):
    """5-channel fusion with the network-embedding cosine (the reference's
    HIN channel, local_embedding.py:74-79 + model.py:34-58) keeps the
    F1 ≥ 0.99 contract and emits the emb_cosine channel."""
    files, labels, lpairs = fixture_dfs
    res = run_pipeline(spark, files, use_bands=False, use_tfidf=True, use_embedding=True)
    m = pairwise_f1_on_labeled_pairs(res.labels, lpairs)
    assert m["f1"] >= 0.99, m


def test_flagship_f1_with_ghac_clusterer(spark, fixture_dfs):
    """Stage-3 alternative: per-block GHAC (reference G7/G8) reproduces the
    planted clusters on the fixture just like threshold-CC."""
    files, labels, lpairs = fixture_dfs
    res = run_pipeline(spark, files, use_bands=False, use_tfidf=True, clusterer="ghac")
    m = pairwise_f1_on_labeled_pairs(res.labels, lpairs)
    assert m["f1"] >= 0.99, m


def test_sha_invariant(spark, fixture_dfs):
    files, _, _ = fixture_dfs
    res = run_pipeline(spark, files, use_bands=False, use_tfidf=False)
    src = files.select(
        F.concat_ws(":", "repo", "path", "commit").alias("id"),
        F.sha2("content", 256).alias("src_sha"),
    )
    bad = res.labels.join(src, "id").where(F.col("content_sha") != F.col("src_sha")).count()
    missing = files.count() - res.labels.count()
    assert bad == 0 and missing == 0


def test_resume_from_checkpoint(spark, fixture_dfs, tmp_path):
    files, _, lpairs = fixture_dfs
    ckdir = str(tmp_path / "ck")
    r1 = run_pipeline(spark, files, use_bands=False, use_tfidf=False, checkpoint_dir=ckdir)
    # second run must reuse the committed snapshots (simulates restart)
    r2 = run_pipeline(spark, files, use_bands=False, use_tfidf=False, checkpoint_dir=ckdir)
    a = {(r["id"], r["component"]) for r in r1.labels.collect()}
    b = {(r["id"], r["component"]) for r in r2.labels.collect()}
    assert a == b
    m = pairwise_f1_on_labeled_pairs(r2.labels, lpairs)
    assert m["f1"] >= 0.99
    # CC finished on the driver and the rerun read its committed map
    assert [c["phase"] for c in r1.metrics["cc_metrics"]] == ["driver"]
    assert r1.metrics["cc_metrics"][0]["edges"] > 0
    assert r2.metrics["cc_metrics"][0]["phase"] == "driver"
    assert r2.metrics["cc_metrics"][0]["edges"] is None


def test_normalize_schema(spark, fixture_dfs):
    files, _, _ = fixture_dfs
    norm = normalize_files(files)
    expect = {"id", "repo", "path", "commit", "lang", "content_sha", "norm_path", "stem", "tokens", "shingles"}
    assert expect <= set(norm.columns)
    row = norm.where(F.size("tokens") > 0).first()
    assert row.tokens == sorted(set(row.tokens))


def test_flagship_f1_with_spectral_clusterer(spark, fixture_dfs):
    """Stage-3 alternative: per-block spectral clustering with TRUE k —
    the reference's headline true-cluster-count configuration
    (local_embedding.py:242-271,517-519) — reproduces the planted
    clusters end-to-end from one run_pipeline call."""
    files, labels, lpairs = fixture_dfs
    true_k = labels.groupBy("block_key").agg(F.countDistinct("cluster_id").alias("k"))
    res = run_pipeline(
        spark, files, use_bands=False, use_tfidf=True, clusterer="spectral", true_k=true_k
    )
    m = pairwise_f1_on_labeled_pairs(res.labels, lpairs)
    assert m["f1"] >= 0.99, m


def test_fitted_channel_weights(spark, fixture_dfs):
    """G3: channel weights learned from labeled pairs (the reference
    LEARNS its fusion — global_embedding.py:116-151, model.py:34-58).
    Fit is deterministic, weights form a convex combination, and the
    fitted pipeline matches the fixed-weight flagship F1 contract."""
    from jmdfane_spark.operators import scoring

    files, labels, lpairs = fixture_dfs
    norm = normalize_files(files, staged=True)
    feats = scoring.tfidf_features(norm.select("id", "tokens"), "id", "tokens")
    members = norm.join(feats, "id", "left")
    pcols = [c for c in members.columns if c != "id"]
    pa = members.select(F.col("id").alias("id_a"), *[F.col(c).alias(f"{c}_a") for c in pcols])
    pb = members.select(F.col("id").alias("id_b"), *[F.col(c).alias(f"{c}_b") for c in pcols])
    wide = lpairs.select("id_a", "id_b").join(pa, "id_a").join(pb, "id_b")
    scored = scoring.score_pairs(wide, prune_below=None)

    w1 = scoring.fit_channel_weights(scored, lpairs)
    w2 = scoring.fit_channel_weights(scored, lpairs)
    assert w1 == w2, "fit must be deterministic"
    assert set(w1) == set(scoring.CHANNEL_WEIGHTS)
    assert all(v >= 0 for v in w1.values())
    assert abs(sum(w1.values()) - 1.0) < 1e-4

    res_fit = run_pipeline(
        spark, files, use_bands=False, use_tfidf=True, channel_weights=w1
    )
    f1_fit = pairwise_f1_on_labeled_pairs(res_fit.labels, lpairs)["f1"]
    res_fix = run_pipeline(spark, files, use_bands=False, use_tfidf=True)
    f1_fix = pairwise_f1_on_labeled_pairs(res_fix.labels, lpairs)["f1"]
    assert f1_fit >= 0.99, (f1_fit, w1)
    assert f1_fit >= f1_fix - 1e-9, (f1_fit, f1_fix, w1)


def test_repair_outliers_option(spark, fixture_dfs):
    """G11 repair wired into the pipeline. With clusterer="cc" and the
    default repair_min_score == threshold it is provably a no-op (any pair
    scoring >= threshold is already a CC edge, so singletons have no
    eligible partner); with a lowered repair_min_score it can only merge —
    the component count never increases and the schema is preserved."""
    files, labels, lpairs = fixture_dfs
    base = run_pipeline(spark, files, use_bands=False, use_tfidf=True)
    rep = run_pipeline(
        spark, files, use_bands=False, use_tfidf=True, repair_outliers=True
    )
    assert rep.labels.columns == ["block_key", "id", "component", "content_sha"]
    b = {(r["id"], r["component"]) for r in base.labels.collect()}
    r = {(r["id"], r["component"]) for r in rep.labels.collect()}
    assert b == r  # no-op at min_score == threshold after CC

    low = run_pipeline(
        spark, files, use_bands=False, use_tfidf=True,
        repair_outliers=True, repair_min_score=0.05,
    )
    n_base = base.labels.select("component").distinct().count()
    n_low = low.labels.select("component").distinct().count()
    assert n_low <= n_base
    assert low.labels.count() == base.labels.count()  # no rows lost

def test_no_leaked_persists(spark, fixture_dfs, monkeypatch):
    """r4 VERDICT cache hygiene, and one owner per persisted frame: when
    run_pipeline returns, its labels snapshot is the only cached RDD it
    leaves (snapshot-relative: the session is shared with other tests).
    The labels survive persist.release(), and res.release() frees them.
    Checked on the driver CC finish, on the hash-min rounds
    (DRIVER_MAX_EDGES = 0) and with the GHAC clusterer."""
    from jmdfane_spark import persist
    from jmdfane_spark.operators import connected_components as cc_mod
    from jmdfane_spark.operators.dedup import minhash_lsh_pairs

    def live_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    def partition(rows):
        comps = {}
        for r in rows:
            comps.setdefault(r["component"], set()).add(r["id"])
        return sorted(sorted(c) for c in comps.values())

    spark.catalog.clearCache()
    persist.release()
    before = live_ids()

    files, _, _ = fixture_dfs
    parts = {}
    for name, bound, clusterer in [
        ("driver", cc_mod.DRIVER_MAX_EDGES, "cc"),
        ("rounds", 0, "cc"),
        ("ghac", cc_mod.DRIVER_MAX_EDGES, "ghac"),
    ]:
        monkeypatch.setattr(cc_mod, "DRIVER_MAX_EDGES", bound)
        res = run_pipeline(spark, files, use_bands=True, use_tfidf=True, clusterer=clusterer)
        leaked = live_ids() - before
        assert len(leaked) <= 1, (name, sorted(leaked))
        got = partition(res.labels.collect())
        persist.release()
        parts[name] = partition(res.labels.collect())
        assert parts[name] == got, name
        res.release()
        assert live_ids() <= before, (name, "pipeline leaked persisted RDDs")
    assert parts["driver"] == parts["rounds"]

    # operator-registry path (pairs_from_keys / dedup barriers)
    docs = files.select(F.concat_ws(":", "repo", "path").alias("id"), F.col("content").alias("text"))
    minhash_lsh_pairs(docs, "id", "text", bands=4, rows=2).count()
    # barriers were in use. Compared by id, not by count: Spark's context
    # cleaner may free an earlier test's unreferenced snapshot meanwhile
    assert live_ids() - before
    persist.release()
    assert live_ids() <= before, "dedup operators leaked persisted RDDs"

def test_repair_sees_subthreshold_scores_exactly(spark):
    """r4 ADVICE (medium): with repair_outliers the cascade prune must drop
    to repair_min_score, or the repair phase reads pruned pairs' UPPER
    BOUNDS instead of true scores. Distinguishing fixture at threshold
    0.8 (where pruning bites): C's only pair has upper bound ≈0.59 but
    true score ≈0.09 — under the old prune-at-threshold it merged
    spuriously; with exact sub-threshold scores it stays a singleton,
    while D (true score ≥ repair_min_score) re-attaches."""
    rows = [
        ("r", "aaaa/doc.py", "c1", "py", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        ("r", "bbbb/doc.py", "c2", "py", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        ("r", "zzzz/doc.py", "c3", "py", "one two three four five six seven eight nine ten"),
        ("r", "cccc/doc.py", "c4", "py", "alpha beta gamma delta epsilon hello world foo bar baz"),
    ]
    files = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    res = run_pipeline(
        spark, files, threshold=0.8, use_bands=False, use_tfidf=True,
        repair_outliers=True, repair_min_score=0.25,
    )
    comp = {r["id"].split(":")[1]: r["component"] for r in res.labels.collect()}
    assert comp["aaaa/doc.py"] == comp["bbbb/doc.py"] == comp["cccc/doc.py"]
    assert comp["zzzz/doc.py"] != comp["aaaa/doc.py"]


def test_tfidf_arrow_kernel_matches_jvm(spark, fixture_dfs):
    """The Arrow bincount/einsum TF-IDF kernel (over idx/val arrays) and
    the JVM map_zip_with kernel (over map/norm) score the same pairs of
    one wide frame within 1e-6 — they differ only in summation order."""
    from jmdfane_spark.operators import scoring

    files, labels, lpairs = fixture_dfs
    norm = normalize_files(files, staged=True)
    feats = scoring.tfidf_features(norm.select("id", "tokens"), "id", "tokens")
    pcols = [c for c in feats.columns if c != "id"]
    pa = feats.select(F.col("id").alias("id_a"), *[F.col(c).alias(f"{c}_a") for c in pcols])
    pb = feats.select(F.col("id").alias("id_b"), *[F.col(c).alias(f"{c}_b") for c in pcols])
    wide = lpairs.select("id_a", "id_b").join(pa, "id_a").join(pb, "id_b")
    rows = wide.select(
        scoring.tfidf_cosine_jvm(
            F.col("tfidf_map_a"), F.col("tfidf_norm_a"),
            F.col("tfidf_map_b"), F.col("tfidf_norm_b"),
        ).alias("jvm"),
        scoring.tfidf_cosine_udf(
            F.col("tfidf_idx_a"), F.col("tfidf_val_a"),
            F.col("tfidf_idx_b"), F.col("tfidf_val_b"),
        ).alias("arrow"),
    ).collect()
    assert len(rows) > 50
    assert any(r.jvm > 0.1 for r in rows)
    for r in rows:
        assert abs(r.jvm - r.arrow) < 1e-6, (r.jvm, r.arrow)


_OPS = itertools.count()  # one Spark job group per op
_HOT_KW = dict(threshold=0.4, use_bands=False, use_tfidf=True, max_rows_per_task=100)


@pytest.fixture(scope="module")
def hot_files(spark):
    """perfbench er_hotblock's shape: one 120-row block over
    max_rows_per_task beside 11 blocks of 20."""
    from jmdfane_spark.sources import synthetic

    files, _, _ = synthetic.to_spark(spark, synthetic.synthesize(
        n_blocks=12, min_rows=20, max_rows=20, hot_block_rows=120,
        clusters_per_block=(2, 20),
    ))
    return files


def _run_once(spark, files, **kw):
    """run_pipeline + labels.count(), as one perfbench batch op; returns the
    metrics, the partition and the op's Spark job count."""
    from jmdfane_spark import persist

    sc, group = spark.sparkContext, f"test-op-{next(_OPS)}"
    sc.setJobGroup(group, "one batch op")
    try:
        res = run_pipeline(spark, files, **kw)
        res.labels.count()
    finally:
        sc._jsc.clearJobGroup()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    comps: dict = {}
    for r in res.labels.select("id", "component").collect():
        comps.setdefault(r.component, []).append(r.id)
    res.release()
    persist.release()
    return res.metrics, sorted(sorted(c) for c in comps.values()), jobs


def test_warm_rerun_compiles_no_classes(spark, hot_files):
    """A second run of the same pipeline reuses every generated class.
    This hot-block fixture compiles 121 distinct classes in a fresh JVM,
    more than Spark's default codegen cache of 100 entries: at that
    default the cache cycles and the rerun recompiles about 85 of them."""
    for _ in range(2):
        metrics, _, _ = _run_once(spark, hot_files, **_HOT_KW)
    assert metrics["codegen_compiles"] == 0, metrics["codegen_compiles"]


def test_warm_rerun_job_budget(spark, hot_files):
    """A warm batch op (run_pipeline + labels.count()) on the hot-block
    fixture runs at most JOB_BUDGET Spark jobs: the blocking pre-pass is
    one action that also fills the members cache, and the payload
    broadcast gate reads the cache's statistics instead of sampling. A
    separate members count, block-count table, pair-estimate collect and
    sampled gate took the op to 40."""
    JOB_BUDGET = 32
    _run_once(spark, hot_files, **_HOT_KW)
    _, _, jobs = _run_once(spark, hot_files, **_HOT_KW)
    assert jobs <= JOB_BUDGET, jobs


def test_payload_broadcast_gate_reads_cache_stats(spark, hot_files, monkeypatch):
    """Once the blocking pre-pass has run, the members cache is loaded:
    its plan statistics report rowCount == the member count. The gate
    forces the payload broadcast on the fixture and does not when
    BROADCAST_BYTE_CAP is below the cached size (with Spark's own
    broadcast threshold off, so the join is shuffled); pairs, edges and
    labels are identical both ways."""
    from jmdfane_spark.operators import pairs as pairs_mod
    from jmdfane_spark.operators import scoring
    from jmdfane_spark.plans import pipeline

    seen: dict = {}
    real_stats, real_bytes, real_score = pipeline.block_stats, pipeline.cached_bytes, scoring.score_pairs

    def spy_stats(*a, **k):
        seen["stats"] = real_stats(*a, **k)
        return seen["stats"]

    def spy_bytes(df):
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        seen["rows"] = int(stats.rowCount().get())
        seen["bytes"] = real_bytes(df)
        return seen["bytes"]

    def spy_score(wide, *a, **k):
        seen["plan"] = wide._jdf.queryExecution().optimizedPlan().toString()
        seen["pairs"] = sorted(map(tuple, wide.select("id_a", "id_b").collect()))
        out = real_score(wide, *a, **k)
        seen["edges"] = sorted(map(tuple, out.select("id_a", "id_b", "score").collect()))
        return out

    monkeypatch.setattr(pipeline, "block_stats", spy_stats)
    monkeypatch.setattr(pipeline, "cached_bytes", spy_bytes)
    monkeypatch.setattr(scoring, "score_pairs", spy_score)

    runs, threshold = {}, "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(threshold)
    for name in ("broadcast", "shuffled"):
        if name == "shuffled":
            monkeypatch.setattr(pairs_mod, "BROADCAST_BYTE_CAP", seen["bytes"] * 2 - 1)
            spark.conf.set(threshold, "-1")
        try:
            metrics, part, _ = _run_once(spark, hot_files, **_HOT_KW)
        finally:
            spark.conf.set(threshold, before)
        assert seen["rows"] == seen["stats"].rows == 340, (seen["rows"], seen["stats"])
        runs[name] = (seen["pairs"], seen["edges"], metrics["edges"], part)
        seen[name] = seen["plan"].count("rightHint=(strategy=broadcast)")
    assert seen["broadcast"] == 2 and seen["shuffled"] == 0, seen
    assert runs["broadcast"] == runs["shuffled"]
