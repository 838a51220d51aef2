"""B8: checkpoint/resume — a re-run skips completed stages; a partially
completed segment stage resumes at seg_group granularity and reproduces
the identical index (SURVEY.md §5.4 resume row)."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from tests.conftest import SF_DIR
from xsearch_spark.operators import segments as seg
from xsearch_spark.plans.build_index import build_index
from xsearch_spark.sources.io import read_documents

# term df is not a stage of its own: merge_to_index stamps it on every
# index row
STAGES = ["segments", "index"]


def _index_snapshot(built) -> dict:
    rows = seg.decode_postings(built.index_df).collect()
    return {(r["term"], r["doc_id"]): (r["tf"], r["dl"]) for r in rows}


@pytest.fixture(scope="module")
def workdir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("resume_index"))
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _build(spark, out):
    docs = read_documents(spark, SF_DIR)
    return build_index(
        spark,
        docs,
        out,
        text_col="text",
        variant="base",
        docs_per_segment=64,
        segs_per_shard=2,
        num_buckets=8,
        segs_per_group=2,
    )


def test_rerun_skips_completed_stages(spark, workdir):
    built1 = _build(spark, workdir)
    snap1 = _index_snapshot(built1)
    stamps1 = {}
    for stage in STAGES:
        with open(os.path.join(workdir, "manifests", f"{stage}.json")) as f:
            stamps1[stage] = json.load(f)["completed_at"]
    built2 = _build(spark, workdir)
    for stage, t1 in stamps1.items():
        with open(os.path.join(workdir, "manifests", f"{stage}.json")) as f:
            t2 = json.load(f)["completed_at"]
        assert t2 == t1, f"stage {stage} re-ran on identical input"
    assert _index_snapshot(built2) == snap1


def test_partial_segment_resume(spark, workdir):
    built1 = _build(spark, workdir)
    snap1 = _index_snapshot(built1)
    mpath = os.path.join(workdir, "manifests", "segments.json")
    with open(mpath) as f:
        m = json.load(f)
    assert len(m["partitions"]) >= 2, "need multiple seg_groups to test resume"
    # simulate a crash that lost one partition: drop it from the manifest
    # and from disk, and invalidate downstream stages
    victim = sorted(m["partitions"])[0]
    survivor = sorted(m["partitions"])[1]
    survivor_row = m["partitions"][survivor]
    del m["partitions"][victim]
    with open(mpath, "w") as f:
        json.dump(m, f)
    shutil.rmtree(os.path.join(workdir, "segments", f"seg_group={victim}"))
    for stage in ["index"]:
        os.remove(os.path.join(workdir, "manifests", f"{stage}.json"))

    built2 = _build(spark, workdir)
    with open(mpath) as f:
        m2 = json.load(f)
    # the lost partition was rebuilt ...
    assert victim in m2["partitions"]
    # ... untouched partitions kept their original lineage rows (i.e.
    # were NOT recomputed) ...
    assert m2["partitions"][survivor] == survivor_row
    # ... and the index is identical
    assert _index_snapshot(built2) == snap1


def test_fused_build_resumes_from_manifest(spark, tmp_path):
    """Fused topology resume: a completed fused build is a no-op on
    re-invocation (manifest fingerprint match -> no jobs beyond reads),
    and the returned index equals the first build's."""
    import time

    from xsearch_spark.plans.build_index import build_index
    from xsearch_spark.sources.io import read_documents

    docs = read_documents(spark, "/root/testdata/sf0.001")
    out = str(tmp_path / "fidx")
    b1 = build_index(
        spark, docs, out, text_col="text", variant="base",
        docs_per_segment=128, segs_per_shard=2, num_buckets=8,
        fused_merge=True,
    )
    rows1 = b1.index_df.count()
    t0 = time.monotonic()
    b2 = build_index(
        spark, docs, out, text_col="text", variant="base",
        docs_per_segment=128, segs_per_shard=2, num_buckets=8,
        fused_merge=True,
    )
    resume_wall = time.monotonic() - t0
    assert b2.index_df.count() == rows1
    assert b2.n_docs == b1.n_docs and b2.avgdl == b1.avgdl
    assert resume_wall < 5.0  # reads only: no re-tokenize, no merge
