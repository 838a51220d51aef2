"""One table writer: a rebuild into an existing index root with another
geometry leaves nothing of the earlier build behind, a build leaves the
caller's ``partitionOverwriteMode`` as it found it, and its progress
event lands under the index root, not in the process cwd."""

from __future__ import annotations

import json
import os

import pytest

from tests.conftest import SF_DIR
from xsearch_spark.operators.wand import search_wand
from xsearch_spark.plans.build_index import build_index
from xsearch_spark.plans.query import parse
from xsearch_spark.sources.io import read_documents

MODE_KEY = "spark.sql.sources.partitionOverwriteMode"


def _build(spark, out, **kw):
    geometry = {"docs_per_segment": 64, "segs_per_shard": 2, "num_buckets": 8, **kw}
    return build_index(
        spark, read_documents(spark, SF_DIR), out, text_col="text",
        variant="base", **geometry,
    )


def _topk(built, q, k=10):
    return [
        (r["doc_id"], round(r["score"], 6))
        for r in search_wand(built, parse(q), k=k).collect()
    ]


@pytest.fixture()
def dynamic_session(spark):
    """A caller's session that overwrites partitions dynamically: the
    engine's writers must not depend on the session's mode."""
    before = spark.conf.get(MODE_KEY)
    spark.conf.set(MODE_KEY, "dynamic")
    yield spark
    spark.conf.set(MODE_KEY, before)


def test_segments_rebuild_with_new_geometry_keeps_no_stale_group(
    dynamic_session, tmp_path
):
    """A staged rebuild into the same root with docs_per_segment 16 -> 64
    is not a resume: its segments start empty, so the seg_groups 1..3 of
    the first build are not merged into the second."""
    spark = dynamic_session
    root = str(tmp_path / "idx")
    _build(spark, root, docs_per_segment=16)
    rebuilt = _build(spark, root, docs_per_segment=64)
    groups = sorted(os.listdir(os.path.join(root, "segments")))
    assert [g for g in groups if g.startswith("seg_group=")] == ["seg_group=0"]
    fresh = _build(spark, str(tmp_path / "fresh"), docs_per_segment=64)
    got = _topk(rebuilt, "hash", k=1000)
    ids = [d for d, _ in got]
    assert len(ids) == len(set(ids)), "duplicate doc ids"
    assert got == _topk(fresh, "hash", k=1000)


@pytest.mark.parametrize("fused", [False, True])
def test_bucket_rebuild_with_fewer_buckets_keeps_no_stale_bucket(
    dynamic_session, tmp_path, fused
):
    """A rebuild into the same root with num_buckets 8 -> 4 leaves only
    bucket=0..3, and a prefix query answers like a fresh build (a stale
    bucket repeats (term, shard) keys, which the scorer rejects)."""
    spark = dynamic_session
    root = str(tmp_path / "idx")
    _build(spark, root, num_buckets=8, fused_merge=fused)
    rebuilt = _build(spark, root, num_buckets=4, fused_merge=fused)
    buckets = sorted(
        d for d in os.listdir(os.path.join(root, "index")) if d.startswith("bucket=")
    )
    assert buckets == [f"bucket={b}" for b in range(4)]
    fresh = _build(spark, str(tmp_path / "fresh"), num_buckets=4, fused_merge=fused)
    assert rebuilt.index_df.count() == fresh.index_df.count()
    assert _topk(rebuilt, "sc*") == _topk(fresh, "sc*")


def test_build_leaves_session_overwrite_mode(spark, tmp_path):
    before = spark.conf.get(MODE_KEY)
    spark.conf.set(MODE_KEY, "static")
    try:
        _build(spark, str(tmp_path / "idx"))
        assert spark.conf.get(MODE_KEY) == "static"
    finally:
        spark.conf.set(MODE_KEY, before)


def test_progress_event_lands_under_index_root(spark, tmp_path, monkeypatch):
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    root = str(tmp_path / "idx")
    built = _build(spark, root, fused_merge=True)
    assert os.listdir(cwd) == []
    with open(os.path.join(root, "manifests", "PROGRESS.jsonl")) as f:
        events = [json.loads(line) for line in f]
    assert [(e["event"], e["out_dir"], e["n_docs"]) for e in events] == [
        ("index_built", root, built.n_docs)
    ]
