"""CheckpointManager: atomic snapshots, stage resume, CC iteration resume."""

import os

from jmdfane_spark.operators import connected_components as cc_mod
from jmdfane_spark.operators.connected_components import connected_components
from jmdfane_spark.plans.checkpoint import CheckpointManager


def test_stage_compute_or_resume(spark, tmp_path):
    ck = CheckpointManager(spark, str(tmp_path / "ck"))
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")

    a = ck.stage("s1", build)
    b = ck.stage("s1", build)  # must hit the snapshot, not recompute
    assert calls["n"] == 1
    assert sorted(r.id for r in a.collect()) == sorted(r.id for r in b.collect())
    assert ck.exists("s1")


def test_small_snapshot_is_one_file(spark, tmp_path):
    ck = CheckpointManager(spark, str(tmp_path / "ck"))
    out = ck.write("s1", spark.range(0, 100, numPartitions=4))
    parts = [f for f in os.listdir(tmp_path / "ck" / "s1") if f.endswith(".parquet")]
    assert len(parts) == 1
    assert out.count() == 100


def test_incomplete_snapshot_is_recomputed(spark, tmp_path):
    root = str(tmp_path / "ck")
    ck = CheckpointManager(spark, root)
    ck.stage("s1", lambda: spark.createDataFrame([(1,)], "id long"))
    # simulate a crash mid-write: remove the commit marker
    os.remove(os.path.join(root, "s1", "_COMMITTED"))
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.createDataFrame([(2,)], "id long")

    out = ck.stage("s1", build)
    assert calls["n"] == 1
    assert [r.id for r in out.collect()] == [2]


def test_cc_resumes_from_iteration(spark, tmp_path, monkeypatch):
    # per-round snapshots exist only on the hash-min path
    monkeypatch.setattr(cc_mod, "DRIVER_MAX_EDGES", 0)
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"), ("x", "y")]
    vdf = spark.createDataFrame([(v,) for v in "abcdefxy"], "id string")
    edf = spark.createDataFrame(edges, "id_a string, id_b string")

    ck1 = CheckpointManager(spark, str(tmp_path / "cc"))
    full = connected_components(vdf, edf, checkpointer=ck1)
    want = {r.id: r.component for r in full.labels.collect()}
    assert full.iterations >= 2

    # restart: a fresh manager over the same dir resumes past iterations
    ck2 = CheckpointManager(spark, str(tmp_path / "cc"))
    resumed = connected_components(vdf, edf, checkpointer=ck2)
    got = {r.id: r.component for r in resumed.labels.collect()}
    assert got == want
    # resume re-ran at most the convergence-check iteration
    assert resumed.iterations <= full.iterations + 1
    assert resumed.metrics and resumed.metrics[-1]["labels_changed"] == 0

    ck1.log_metric(stage="test", x=1)
    ck1.flush_metrics()
    assert os.path.exists(os.path.join(str(tmp_path / "cc"), "metrics.jsonl"))


def test_cc_checkpointed_contraction_kill_resume(spark, tmp_path, monkeypatch):
    """r5 VERDICT item 3: resumable CC must contract too — the resumable
    configuration is the 100 TB one and used to pay the full 2|E| join
    every iteration. The quotient phase is snapshotted (cc_qedges +
    cc_base_labels + cc_qlabels_*); killing mid-quotient-phase and
    resuming must produce identical labels without touching the original
    edge table's iteration prefix again. The driver finish is off, so the
    quotient runs hash-min rounds."""
    import shutil

    monkeypatch.setattr(cc_mod, "DRIVER_MAX_EDGES", 0)

    # chain long enough that the quotient phase runs several iterations
    chain = [(f"v{i:02d}", f"v{i + 1:02d}") for i in range(12)] + [("p", "q")]
    vids = sorted({x for e in chain for x in e})
    vdf = spark.createDataFrame([(v,) for v in vids], "id string")
    edf = spark.createDataFrame(chain, "id_a string, id_b string")

    root = str(tmp_path / "ccq")
    full = connected_components(
        vdf, edf, checkpointer=CheckpointManager(spark, root), contract_min_changed=0
    )
    want = {r.id: r.component for r in full.labels.collect()}
    assert len(set(want.values())) == 2  # the chain + the (p,q) pair
    # contraction actually happened and was snapshotted
    assert os.path.exists(os.path.join(root, "cc_qedges", "_COMMITTED"))
    assert os.path.exists(os.path.join(root, "cc_base_labels", "_COMMITTED"))
    qdirs = sorted(d for d in os.listdir(root) if d.startswith("cc_qlabels_"))
    assert qdirs, "quotient iterations must be checkpointed"
    assert any(m.get("phase") == "quotient" for m in full.metrics)

    # kill mid-quotient-phase: drop the LAST quotient iteration
    shutil.rmtree(os.path.join(root, qdirs[-1]))
    r1 = connected_components(
        vdf, edf, checkpointer=CheckpointManager(spark, root), contract_min_changed=0
    )
    assert {r.id: r.component for r in r1.labels.collect()} == want

    # kill right AFTER contracting: drop every quotient iteration
    for d in os.listdir(root):
        if d.startswith("cc_qlabels_"):
            shutil.rmtree(os.path.join(root, d))
    r2 = connected_components(
        vdf, edf, checkpointer=CheckpointManager(spark, root), contract_min_changed=0
    )
    assert {r.id: r.component for r in r2.labels.collect()} == want

    # and the checkpointed answer matches the non-checkpointed one
    r3 = connected_components(vdf, edf, contract_min_changed=0)
    assert {r.id: r.component for r in r3.labels.collect()} == want
