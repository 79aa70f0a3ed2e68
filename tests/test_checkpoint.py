"""CheckpointManager: atomic snapshots, stage resume, CC iteration resume."""

import os

from jmdfane_spark.operators import connected_components as cc_mod
from jmdfane_spark.operators.connected_components import connected_components
from jmdfane_spark.plans import checkpoint as ck_mod
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


def test_small_snapshot_is_one_file(spark, tmp_path, monkeypatch):
    # the pyarrow path writes one file; the Spark path rebalances into one
    for bound in (ck_mod.DRIVER_MAX_ROWS, 0):
        with monkeypatch.context() as mp:
            mp.setattr(ck_mod, "DRIVER_MAX_ROWS", bound)
            ck = CheckpointManager(spark, str(tmp_path / f"ck{bound}"))
            out = ck.write("s1", spark.range(0, 100, numPartitions=4))
            parts = [f for f in os.listdir(tmp_path / f"ck{bound}" / "s1") if f.endswith(".parquet")]
            assert len(parts) == 1, bound
            assert out.count() == 100


def test_write_above_the_bound_runs_the_plan_once(spark, tmp_path, monkeypatch):
    """Above DRIVER_MAX_ROWS the probe's rows are not used: Spark's write
    reads the cache the probe filled instead of running the frame's plan
    again, and write() frees that cache. A Python UDF logs each row it
    evaluates to a file (an accumulator misses the probe's rows: its
    tasks stop reading the UDF's output early)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    log = str(tmp_path / "evaluated")

    @F.udf(LongType())
    def tally(v):
        with open(log, "a") as f:
            f.write(f"{v}\n")
        return v

    monkeypatch.setattr(ck_mod, "DRIVER_MAX_ROWS", 10)
    ck = CheckpointManager(spark, str(tmp_path / "ck"))
    cached = spark.sparkContext._jsc.getPersistentRDDs().size()
    out = ck.write("s1", spark.range(0, 200, numPartitions=4).select(tally("id").alias("id")))
    with open(log) as f:
        assert len(f.read().split()) == 200
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached
    assert out.count() == 200


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


def _typed_frame(spark):
    import datetime
    from decimal import Decimal

    schema = (
        "id bigint, toks array<bigint>, tf map<bigint,double>, ts timestamp, "
        "amount decimal(12,3), flag tinyint, meta struct<name:string,ids:array<int>>"
    )
    rows = [
        (1, [3, 1, 2], {7: 0.5, 9: 1.25}, datetime.datetime(2024, 2, 29, 12, 30, 1, 250),
         Decimal("1234.500"), -3, ("a", [1, 2])),
        (2, [], {}, None, None, 127, ("é", [])),
        (3, None, None, datetime.datetime(1970, 1, 1), Decimal("-0.001"), None, None),
    ]
    return spark.createDataFrame(rows, schema)


def test_snapshot_round_trip_on_both_write_paths(spark, tmp_path, monkeypatch):
    """Nested, decimal, timestamp and byte columns (and an empty frame)
    read back the same rows through the pyarrow path and the Spark path,
    and the schema read() passes from the marker equals the one parquet
    inference gives for the written files."""
    df = _typed_frame(spark)
    want = sorted(df.collect())
    got = {}
    for bound in (ck_mod.DRIVER_MAX_ROWS, 0):
        with monkeypatch.context() as mp:
            mp.setattr(ck_mod, "DRIVER_MAX_ROWS", bound)
            root = tmp_path / f"ck{bound}"
            ck = CheckpointManager(spark, str(root))
            for stage, frame in (("typed", df), ("empty", df.limit(0))):
                out = ck.write(stage, frame)
                inferred = spark.read.parquet(str(root / stage)).schema
                assert out.schema == inferred == ck.read(stage).schema, stage
                got[bound, stage] = sorted(ck.read(stage).collect())
    assert got[ck_mod.DRIVER_MAX_ROWS, "typed"] == got[0, "typed"] == want
    assert got[ck_mod.DRIVER_MAX_ROWS, "empty"] == got[0, "empty"] == []


def test_marker_without_schema_still_reads(spark, tmp_path):
    """A snapshot committed before markers held a schema resumes: read()
    falls back to parquet schema inference."""
    import json

    root = tmp_path / "ck"
    ck = CheckpointManager(spark, str(root))
    df = _typed_frame(spark)
    ck.write("old", df)
    marker = root / "old" / "_COMMITTED"
    marker.write_text(json.dumps({"stage": "old", "ts": 0.0}))
    assert ck.exists("old")
    assert sorted(ck.read("old").collect()) == sorted(df.collect())
    assert ck.stage("old", lambda: 1 / 0).count() == 3
