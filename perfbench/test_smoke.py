"""Smoke test of the benchmark itself, at a tiny size: every workload emits
every metric BENCHMARK.json names, in both modes, and a corrupted output (a
dropped sink row, a flipped keep flag) trips the correctness checks.

Run from the repository root (a few minutes; each run starts a JVM):

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import corpus  # noqa: E402
import harness  # noqa: E402
import run  # noqa: E402
import tower  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
# sizes of the smoke runs, overriding run.SIZES
SMALL = {
    "tower_backfill": {"days": 2},
    "tower_append": {"days": 2},
    "corpus_dedup": {"docs": 300},
}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_is_emitted(workload, trace):
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
        "--seconds", "1", "--trace", str(trace),
    ]
    for key, n in SMALL[workload].items():
        cmd += ["--size", f"{key}={n}"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    names = [m["name"] for m in SPEC["per_layer" if trace else "end_to_end"]]
    assert list(result["metrics"]) == names
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())


@pytest.fixture(scope="module")
def spark():
    work = os.path.join(ROOT, ".perfbench_work", f"smoke-{os.getpid()}")
    session = harness.Session(work, trace=False)
    try:
        yield session.start()
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)


def _replace(path, df, partition_by=()):
    """Rewrite the parquet dataset at ``path`` with ``df``."""
    tmp = path + ".tmp"
    df.write.partitionBy(*partition_by).parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)


def test_dropped_row_trips_tower_check(spark):
    work = os.path.join(ROOT, ".perfbench_work", f"smoke-{os.getpid()}", "tower")
    size = {**run.SIZES["tower_backfill"], **SMALL["tower_backfill"]}
    wl = tower.TowerWorkload("tower_backfill", spark, work, seed=3, **size)
    wl.run_pass()
    assert wl.check()[1] == []
    sink = wl.sinks["Flux"]
    df = spark.read.parquet(sink)
    victim = df.filter(F.col("RECORD").isNotNull()).agg(F.min("TIMESTAMP")).first()[0]
    _replace(sink, df.filter(F.col("TIMESTAMP") != victim).localCheckpoint(), ("site", "wateryear"))
    failures = wl.check()[1]
    assert any("spine" in f for f in failures), failures


def test_flipped_keep_flag_trips_corpus_check(spark):
    work = os.path.join(ROOT, ".perfbench_work", f"smoke-{os.getpid()}", "corpus")
    size = {**run.SIZES["corpus_dedup"], **SMALL["corpus_dedup"]}
    wl = corpus.CorpusWorkload(spark, work, seed=3, **size)
    wl.run_pass()
    assert wl.check()[1] == []
    keep = spark.read.parquet(wl.keep_path).localCheckpoint()
    first = keep.agg(F.min("doc_id")).first()[0]
    flipped = keep.withColumn(
        "keep", F.when(F.col("doc_id") == first, ~F.col("keep")).otherwise(F.col("keep"))
    )
    _replace(wl.keep_path, flipped)
    failures = wl.check()[1]
    assert any("differ from the truth" in f for f in failures), failures
    assert any("digest" in f for f in failures), failures
    # a near-duplicate step that keeps every family member, the same on every pass
    wl.keep_digest = None
    _replace(wl.keep_path, keep.withColumn("near_keep", F.lit(True)).withColumn(
        "keep", F.col("exact_keep") & F.col("sem_keep")))
    failures = wl.check()[1]
    assert any("differ from the truth" in f for f in failures), failures
