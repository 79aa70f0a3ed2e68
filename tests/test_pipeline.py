"""End-to-end acceptance tests: the BASELINE.json contract.

  * pairwise F1 ≥ 0.99 on labeled pairs at matching blocking keys
  * per-row sha256(content) equality vs source
  * resumability from stage checkpoints
"""

import pyspark.sql.functions as F

from jmdfane_spark.operators.evaluate import pairwise_f1, pairwise_f1_on_labeled_pairs
from jmdfane_spark.plans.pipeline import normalize_files, run_pipeline


def test_flagship_f1(spark, fixture_dfs):
    files, labels, lpairs = fixture_dfs
    res = run_pipeline(spark, files, use_bands=False, use_tfidf=True)
    m = pairwise_f1_on_labeled_pairs(res.labels, lpairs)
    assert m["f1"] >= 0.99, m
    m2 = pairwise_f1(res.labels.select("id", "component"), labels)
    assert m2["macro_f1"] >= 0.99, m2


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

def test_no_leaked_persists(spark, fixture_dfs):
    """r4 VERDICT cache hygiene: after materializing the result and calling
    release(), the run leaves NO cached RDDs behind (snapshot-relative —
    the session is shared with other tests)."""
    from jmdfane_spark import persist
    from jmdfane_spark.operators.dedup import minhash_lsh_pairs

    def live_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    spark.catalog.clearCache()
    persist.release()
    before = live_ids()

    files, _, _ = fixture_dfs
    res = run_pipeline(spark, files, use_bands=True, use_tfidf=True)
    res.labels.count()
    assert len(live_ids()) > len(before)  # persists were in use mid-run
    res.release()
    assert live_ids() <= before, "pipeline leaked persisted RDDs"

    # operator-registry path (pairs_from_keys / dedup barriers)
    docs = files.select(F.concat_ws(":", "repo", "path").alias("id"), F.col("content").alias("text"))
    minhash_lsh_pairs(docs, "id", "text", bands=4, rows=2).count()
    assert len(live_ids()) > len(before)  # barriers were in use
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
