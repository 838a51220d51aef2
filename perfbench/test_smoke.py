"""Smoke test of the benchmark on a tiny corpus.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload untraced and traced on one local Spark session, and
checks that a corrupted answer and a failing batch are counted as
failed operations, and that the command refuses to run without the
package beside it.
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
sys.path.insert(0, ROOT)

from perfbench import run as bench_run  # noqa: E402
from perfbench import workloads  # noqa: E402

TINY = workloads.Sizes(
    build_docs=120, serve_docs=120, epoch_docs=40, epochs=2,
    probes=2, batch=4, input_reps=1, min_builds=1, min_batches=1,
)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    cwd = os.getcwd()
    bench_run.configure(str(tmp_path_factory.mktemp("bench")))
    from xsearch_spark.session import get_spark

    s = get_spark("perfbench-smoke", master="local[2]", shuffle_partitions=4)
    yield s
    bench_run.stop(s)
    os.chdir(cwd)


def _run(spark, tmp_path, workload: str, trace: bool):
    return workloads.run(
        spark, workload, seed=3, seconds=0.1, trace=trace,
        work=str(tmp_path / workload), session_s=1.0, sizes=TINY,
    )


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_untraced_reports_every_end_to_end_metric(spark, tmp_path, workload):
    result, r = _run(spark, tmp_path, workload, trace=False)
    assert r.errors == []
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert list(result["metrics"]) == list(workloads.END_TO_END)
    assert all(m["value"] > 0 for m in result["metrics"].values())


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_traced_reports_every_layer_and_writes_spans(spark, tmp_path, workload):
    result, r = _run(spark, tmp_path, workload, trace=True)
    assert r.errors == []
    assert result["correct"]
    assert list(result["metrics"]) == list(workloads.PER_LAYER)
    values = {k: m["value"] for k, m in result["metrics"].items()}
    exercised = {
        "build": ("ids.s", "pack.s", "merge.s", "build_index.s", "index.rows",
                  "epoch.s", "compact.s", "compact_incremental.s", "probe.ms"),
        "serve": ("parse.us", "topk.jobs", "scan.ms", "decode.postings",
                  "score.ms", "batch.ms_per_query", "page.facet_counts.jobs",
                  "page.search_after_topk.ms"),
    }[workload]
    assert all(values[k] > 0 for k in exercised), {k: values[k] for k in exercised}
    path = tmp_path / "spans.json"
    r.tracer.write(str(path), {"workload": workload})
    spans = json.loads(path.read_text())["spans"]
    assert spans and all({"name", "start", "end", "parent", "op", "self", "jobs"} <= s.keys() for s in spans)


def test_corrupted_answer_counts_as_failure(spark, tmp_path, monkeypatch):
    from pyspark.sql import functions as F

    real = workloads.wand.search_wand

    def corrupted(*args, **kwargs):
        return real(*args, **kwargs).withColumn("score", F.col("score") * 1.5)

    monkeypatch.setattr(workloads.wand, "search_wand", corrupted)
    result, r = _run(spark, tmp_path, "serve", trace=False)
    assert result["failed"] > 0
    assert not result["correct"]


def test_failing_batches_end_the_run(spark, tmp_path, monkeypatch):
    def broken(*args, **kwargs):
        raise RuntimeError("batch path broken")

    monkeypatch.setattr(workloads.wand, "search_wand_batch", broken)
    result, r = _run(spark, tmp_path, "serve", trace=False)
    assert result["failed"] > 0
    assert any("batch path broken" in e for e in r.errors)


def test_command_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "build", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
