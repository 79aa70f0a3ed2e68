"""Input generation, the timed operations, and their correctness checks.

The engine sees only parquet table scans of ``files(repo, path, commit,
lang, content)``; ground truth and expected content hashes stay here.
"""

from __future__ import annotations

import hashlib
import importlib
import os
import random
import shutil
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from spans import INGEST_PREFIX

PACKAGE = "joint_multi_dimensional_features_and_academic_network_embedding_for_author_name_disambiguation_spark"
MIN_F1 = 0.99


def engine():
    """The engine's public entry points, imported by the package's real name."""
    mod = lambda name: importlib.import_module(f"{PACKAGE}.{name}")  # noqa: E731
    return {
        "session": mod("session"),
        "synthetic": mod("sources.synthetic"),
        "pipeline": mod("plans.pipeline"),
        "checkpoint": mod("plans.checkpoint"),
        "incremental": mod("streaming.incremental"),
        "scoring": mod("operators.scoring"),
        "pairs": mod("operators.pairs"),
        "minhash": mod("operators.minhash"),
        "similarity": mod("functions.similarity"),
        "text": mod("functions.text"),
        "persist": mod("persist"),
    }


@dataclass
class Inputs:
    files_path: str                       # parquet the engine scans
    n_files: int
    sha: dict[str, str]                   # id -> sha256(content)
    truth: dict[str, str]                 # id -> true cluster
    slices: list[str] = field(default_factory=list)   # ingest: held-out parquet slices
    slice_ids: list[list[str]] = field(default_factory=list)
    digest: str = ""                      # fingerprint of the generated inputs


def _write(rows: list[tuple], path: str) -> None:
    cols = list(zip(*rows)) if rows else [[]] * 5
    names = ["repo", "path", "commit", "lang", "content"]
    pq.write_table(pa.table({n: pa.array(c, pa.string()) for n, c in zip(names, cols)}), path)


def generate(er, cfg: dict, gen: dict, seed: int, work: str, slice_files: int) -> Inputs:
    """Synthesize the workload's corpus from ``seed`` and write it as parquet.
    For ingest, ``cfg['slices']`` slices of ``slice_files`` files are held
    out of the base corpus in a seed-dependent order."""
    fx = er["synthetic"].synthesize(seed=seed, emit_pairs=False, **gen)
    rid = lambda r: f"{r[0]}:{r[1]}:{r[2]}"  # noqa: E731 — the engine's id
    sha = {rid(r): hashlib.sha256(r[4].encode()).hexdigest() for r in fx.files}
    truth = {i: c for _, i, c in fx.labels}
    if os.path.exists(work):
        shutil.rmtree(work)
    os.makedirs(work)
    digest = hashlib.sha256("".join(sorted(sha.values())).encode()).hexdigest()[:16]
    rows = fx.files
    inp = Inputs(os.path.join(work, "files.parquet"), len(rows), sha, truth, digest=digest)
    if cfg["kind"] == "ingest":
        order = list(range(len(rows)))
        random.Random(seed).shuffle(order)
        held = order[: cfg["slices"] * slice_files]
        for k in range(cfg["slices"]):
            part = [rows[i] for i in held[k * slice_files:(k + 1) * slice_files]]
            path = os.path.join(work, f"slice_{k:03d}.parquet")
            _write(part, path)
            inp.slices.append(path)
            inp.slice_ids.append([rid(r) for r in part])
        held_set = set(held)
        rows = [r for i, r in enumerate(rows) if i not in held_set]
        inp.n_files = len(rows)
    _write(rows, inp.files_path)
    return inp


# ---------------------------------------------------------------------------
# correctness

def micro_pairwise_f1(pred: dict[str, str], truth: dict[str, str]) -> float:
    """Pairwise F1 over every pair of ids (not per block), so a merge across
    blocks counts as a false positive."""
    c2 = lambda n: n * (n - 1) // 2  # noqa: E731
    tp = sum(c2(n) for n in Counter((pred[i], truth[i]) for i in pred).values())
    pp = sum(c2(n) for n in Counter(pred.values()).values())
    tt = sum(c2(n) for n in Counter(truth[i] for i in pred).values())
    if tp == 0:
        return 1.0 if pp == tt == 0 else 0.0
    p, r = tp / pp, tp / tt
    return 2 * p * r / (p + r)


def check_labels(rows, inp: Inputs, expect_ids: set[str]) -> dict:
    """labels rows (id, content_sha, component) against the inputs: one row
    per input file, each with its source's content hash, and F1 >= MIN_F1."""
    pred = {r[0]: r[2] for r in rows}
    errors = []
    if len(rows) != len(expect_ids) or set(pred) != expect_ids:
        errors.append(f"labels rows {len(rows)} (distinct {len(pred)}) != input rows {len(expect_ids)}")
    bad_sha = sum(1 for r in rows if inp.sha.get(r[0]) != r[1])
    if bad_sha:
        errors.append(f"{bad_sha} labels rows with a content_sha unlike their source")
    f1 = micro_pairwise_f1({i: c for i, c in pred.items() if i in inp.truth}, inp.truth)
    if f1 < MIN_F1:
        errors.append(f"micro pairwise F1 {f1:.4f} < {MIN_F1}")
    sizes = Counter(pred.values())
    return {"f1": f1, "errors": errors, "components": len(sizes),
            "largest_share": max(sizes.values()) / len(pred) if pred else 0.0}


# ---------------------------------------------------------------------------
# operations

def batch_op(er, spark, files, run_kw: dict, tracer) -> tuple[dict, list]:
    """One closed-loop batch op: run_pipeline, then labels.count(). Returns
    the pipeline metrics and the collected labels (collected after the op's
    timer stops, so checking is not timed)."""
    t0 = time.perf_counter()
    with tracer.span("op"):
        with tracer.span("pipeline.run_pipeline"):
            res = er["pipeline"].run_pipeline(spark, files, **run_kw)
        with tracer.span("pipeline.labels_count"):
            res.labels.count()
    wall = time.perf_counter() - t0
    rows = res.labels.select("id", "content_sha", "component").collect()
    res.release()
    er["persist"].release()
    return dict(res.metrics, _wall=wall), rows


class Ingest:
    """Committed labels/members snapshots plus one op per held-out slice."""

    def __init__(self, er, spark, root: str, threshold: float):
        self.er, self.spark, self.threshold = er, spark, threshold
        self.root = root
        self.ck = er["checkpoint"].CheckpointManager(spark, root)

    def _members(self, files):
        return (self.er["pipeline"].normalize_files(files)
                .withColumn("block_key", F.concat_ws("|", "lang", "stem"))
                .drop("repo", "path", "commit"))

    def _labels(self) -> list:
        return self.ck.read("labels").select("id", "content_sha", "component").collect()

    def commit_base(self, inp: Inputs, run_kw: dict, tracer) -> tuple[dict, list]:
        """Batch-resolve the base corpus and commit labels and members."""
        files = self.spark.read.parquet(inp.files_path)
        t0 = time.perf_counter()
        with tracer.span("op"):
            with tracer.span("pipeline.run_pipeline"):
                res = self.er["pipeline"].run_pipeline(self.spark, files, **run_kw)
            # the snapshot writes materialize the labels, as labels.count() does in a batch op
            with tracer.span("pipeline.labels_count"):
                self.ck.write("labels", res.labels)
                self.ck.write("members", self._members(files))
        wall = time.perf_counter() - t0
        res.release()
        self.er["persist"].release()
        return dict(res.metrics, _wall=wall), self._labels()

    def op(self, slice_path: str, new_bytes: int, tracer) -> tuple[dict, list]:
        """normalize_files -> delta_pairs -> score_pairs -> merge_components
        -> CheckpointManager.write of labels and members."""
        sc, inc, held, t = self.spark.sparkContext, self.er["incremental"], [], {}

        @contextmanager
        def step(name: str, span: str):
            sc.setJobDescription(f"{INGEST_PREFIX}: {name}")
            t0 = time.perf_counter()
            with tracer.span(span):
                yield
            t[name] = time.perf_counter() - t0

        def keep(df):
            held.append(df.persist())
            return held[-1]

        t0 = time.perf_counter()
        existing_m, existing_l = self.ck.read("members"), self.ck.read("labels")
        with tracer.span("op"):
            with step("normalize", "ingest.normalize"):
                new_m = keep(self._members(self.spark.read.parquet(slice_path)))
                new_m.count()
            with step("delta_pairs", "ingest.delta_pairs"):
                dp = keep(inc.delta_pairs(new_m, existing_m))
                n_dp = dp.count()
            with step("score", "ingest.score"):
                scored = self.er["scoring"].score_pairs(dp, prune_below=self.threshold)
                edges = keep(scored.where(F.col("score") >= self.threshold).select("id_a", "id_b"))
                edges.count()
            with step("merge", "ingest.merge"):
                merged = keep(inc.merge_components(existing_l, new_m.select("id"), edges))
                merged.count()
            with step("checkpoint", "checkpoint.write"):
                cols = ["block_key", "id", "content_sha"]
                everyone = existing_m.select(*cols).unionByName(new_m.select(*cols))
                self.ck.write("labels", merged.join(everyone, "id").select(
                    "block_key", "id", "component", "content_sha"))
                self.ck.write("members", existing_m.unionByName(new_m.select(*existing_m.columns)))
        wall = time.perf_counter() - t0
        sc.setJobDescription(None)
        for df in held:
            df.unpersist()
        self.er["persist"].release()
        written = sum(_du(os.path.join(self.root, s)) for s in ("labels", "members"))
        metrics = {
            "ingest.normalize_s": t["normalize"], "ingest.delta_pairs_s": t["delta_pairs"],
            "ingest.score_s": t["score"], "ingest.merge_s": t["merge"],
            "ingest.delta_pairs": n_dp, "checkpoint.write_s": t["checkpoint"],
            "checkpoint.bytes_mb": written / 2**20,
            "checkpoint.write_amp": written / new_bytes if new_bytes else 0.0,
            "_wall": wall,
        }
        return metrics, self._labels()


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)
