"""S4 upsert, S5 tombstone delete + compaction, and the §2.10 streaming
ingest parity path (foreachBatch micro-segments + merge compaction)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from xsearch_spark import engine
from xsearch_spark.constants import attr_term
from xsearch_spark.operators import segments as seg
from xsearch_spark.operators.wand import search_wand
from xsearch_spark.plans import admin
from xsearch_spark.plans.build_index import build_index
from xsearch_spark.plans.query import parse
from xsearch_spark.sources.io import read_documents


def test_upsert_latest(spark):
    rows = [
        ("o/r", "a.py", "2020", "py", "old"),
        ("o/r", "a.py", "2021", "py", "new"),
        ("o/r", "b.py", "2019", "py", "only"),
    ]
    df = spark.createDataFrame(rows, "repo string, path string, commit string, lang string, content string")
    out = {(r["path"]): r["content"] for r in admin.upsert_latest(df).collect()}
    assert out == {"a.py": "new", "b.py": "only"}


@pytest.fixture()
def built(spark, tmp_path):
    docs = read_documents(spark, SF_DIR)
    bi = build_index(
        spark, docs, str(tmp_path / "idx"),
        text_col="text", variant="base",
        docs_per_segment=128, segs_per_shard=2, num_buckets=8,
    )
    yield bi


def test_tombstone_then_compact(spark, built):
    docs = read_documents(spark, SF_DIR)
    parsed = parse("hash join")
    before = [r["doc_id"] for r in search_wand(built, parsed, source_df=docs).collect()]
    victims = before[:2]

    # S5 query-time tombstones: victims disappear without a rebuild, and
    # the scorer drops them BEFORE its top-k cut, so a full page of k
    # rows still comes back
    admin.append_tombstones(spark, built.root, victims)
    tomb = admin.load_tombstones(spark, built.root)
    filtered = search_wand(
        built, parsed, k=20, source_df=docs, tombstones=tomb
    ).collect()
    after_ids = [r["doc_id"] for r in filtered]
    assert not set(victims) & set(after_ids)
    assert len(after_ids) == 20

    # compaction folds tombstones in; geometry comes from the persisted
    # build-time values (docs_per_segment=128, segs_per_shard=2)
    admin.compact(spark, built)
    assert admin.load_tombstones(spark, built.root) is None
    post = [r["doc_id"] for r in search_wand(built, parsed, k=10, source_df=docs).collect()]
    assert not set(victims) & set(post)
    # the compacted index + refreshed stats must equal a FRESH build over
    # source-minus-victims: full top-k oracle comparison (ids AND scores),
    # not just victim absence
    remaining = docs.filter(~F.col("doc_id").isin([int(v) for v in victims]))
    fresh = engine.corpus_from_df(remaining, "text")
    assert built.n_docs == fresh.stats.n_docs
    assert abs(built.avgdl - fresh.stats.avgdl) < 1e-12
    for q in ("hash join", "hash OR join", "the"):
        p = parse(q)
        got = [
            (r["doc_id"], round(r["score"], 6))
            for r in search_wand(built, p, k=10, source_df=remaining).collect()
        ]
        want = [
            (r["doc_id"], r["score"])
            for r in engine.run_query(fresh, p, k=10).collect()
        ]
        assert got == want, q
    # the compacted rows' df, decoded from the swapped-in index, equals
    # the no-index df over the surviving docs
    terms = ["hash", "join"]
    fresh_df = {(r["term"], r["df"]) for r in fresh.term_stats.filter(F.col("term").isin(terms)).collect()}
    built_rows = seg.decode_postings(built.index_df.filter(F.col("term").isin(terms)))
    built_df = {(r["term"], r["df"]) for r in built_rows.select("term", "df").distinct().collect()}
    assert len(fresh_df) == 2 and fresh_df == built_df
    # Q11 facets survive the compact: the purged attr runs must serve
    # the same per-lang counts as a groupby over the surviving corpus
    from xsearch_spark.operators.wand import facet_counts

    p = parse("hash OR join")
    matched = {
        r["doc_id"] for r in engine.run_query(fresh, p, k=1_000_000).collect()
    }
    want_f = {
        (r["lang"], r["n"])
        for r in remaining.filter(F.col("doc_id").isin([int(d) for d in matched]))
        .groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    got_f = {
        (r["value"], r["n_docs"])
        for r in facet_counts(built, p, "lang").collect()
    }
    assert got_f == want_f


def test_streaming_ingest_matches_batch(spark, tmp_path):
    """Stream the documents table through foreachBatch micro-segments,
    compact, and verify the merged postings equal the batch build's."""
    from xsearch_spark.streaming.ingest import compact_segments, start_ingest

    docs = read_documents(spark, SF_DIR)
    staging = str(tmp_path / "staging")
    # write as several files to get multiple micro-batches
    docs.repartition(6).write.parquet(staging)
    root = str(tmp_path / "stream_idx")

    corpus = engine.corpus_from_documents(spark, SF_DIR)
    # no avgdl hint at all: compaction must recompute the true global
    # avgdl from the per-epoch stats sidecars (round-1 advisor: drift)
    q = start_ingest(spark, staging, root, docs_per_segment=128)
    q.awaitTermination(120)

    bi = compact_segments(
        spark, root, segs_per_shard=2, num_buckets=8, docs_per_segment=128
    )
    assert bi.n_docs == corpus.stats.n_docs
    assert abs(bi.avgdl - corpus.stats.avgdl) < 1e-12
    via_stream = {
        (r["term"], r["doc_id"]): (r["tf"], r["dl"])
        for r in seg.decode_postings(bi.index_df).collect()
    }
    from xsearch_spark.operators.build import postings_with_dl

    direct = {
        (r["term"], r["doc_id"]): (r["tf"], r["dl"])
        for r in postings_with_dl(corpus.tokenized).collect()
    }
    assert via_stream == direct

    # post-compaction WAND over the streamed index == naive relational
    # evaluation over the batch corpus (exact scores, recomputed avgdl)
    docs2 = read_documents(spark, SF_DIR)
    for qstr in ("hash join", "hash OR join"):
        p = parse(qstr)
        got = [
            (r["doc_id"], round(r["score"], 6))
            for r in search_wand(bi, p, source_df=docs2).collect()
        ]
        want = [
            (r["doc_id"], r["score"]) for r in engine.run_query(corpus, p).collect()
        ]
        assert got == want, qstr


def test_streaming_positional_multiattr_index(spark, tmp_path):
    """Round-5 streaming generality: micro-batches can pack the v6
    positional stream AND multiple attr fields; compact_segments reads
    both from the epoch sidecars (no config to keep in sync).
    The compacted streamed index must serve phrase, source:, and
    combined queries identically to the batch naive evaluation, and its
    decoded positions must equal a batch positional build's."""
    from xsearch_spark.streaming.ingest import compact_segments, start_ingest

    docs = read_documents(spark, SF_DIR)
    staging = str(tmp_path / "staging")
    docs.repartition(5).write.parquet(staging)
    root = str(tmp_path / "pos_stream_idx")
    q = start_ingest(
        spark, staging, root, docs_per_segment=128,
        attr_cols=("lang", "source"), positions=True,
    )
    q.awaitTermination(120)
    bi = compact_segments(
        spark, root, segs_per_shard=2, num_buckets=8, docs_per_segment=128
    )
    assert bi.has_positions
    assert sorted(bi.attr_fields) == ["lang", "source"]

    corpus = engine.corpus_from_documents(spark, SF_DIR)
    for qs in (
        '"hash join" spark',
        'lang:en "scan merge"',
        "source:src3 hash OR join",
        'source:src1 "the hash"',
    ):
        p = parse(qs, attr_fields=("lang", "source"))
        got = [
            (r["doc_id"], round(r["score"], 6))
            for r in search_wand(bi, p).collect()  # index-only: no source
        ]
        want = [
            (r["doc_id"], r["score"])
            for r in engine.run_query(corpus, p).collect()
        ]
        assert got == want, qs

    # Q11 facets on a streamed-then-compacted index: the streamed attr
    # postings must serve counts over the full match set
    from xsearch_spark.operators.wand import facet_counts

    pf = parse("hash OR join")
    matched = {
        r["doc_id"] for r in engine.run_query(corpus, pf, k=1_000_000).collect()
    }
    want_f = {
        (r["source"], r["n"])
        for r in corpus.source.filter(
            F.col("doc_id").isin([int(d) for d in matched])
        ).groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    got_f = {
        (r["value"], r["n_docs"])
        for r in facet_counts(bi, pf, "source").collect()
    }
    assert got_f == want_f

    # §3.29/§3.30 on the same streamed-then-compacted index: collapse
    # and cardinality ride the identical match truth + attr postings,
    # so the compaction's rebuilt attrs must serve them too
    from xsearch_spark.operators.wand import facet_cardinality, search_collapse

    assert (
        facet_cardinality(bi, pf, "source").collect()[0]["n_values"]
        == len({v for v, _ in want_f})
    )
    col = search_collapse(bi, pf, "source", k=5, per_value=1).collect()
    assert len(col) == min(5, len(want_f))
    assert len({r["value"] for r in col}) == len(col)  # one doc per value

    # positional stream parity vs a batch-built positional index
    batch = build_index(
        spark, docs, str(tmp_path / "pos_batch_idx"),
        text_col="text", variant="base",
        docs_per_segment=128, segs_per_shard=2, num_buckets=8,
        positions=True, attr_cols=("lang", "source"),
    )
    def pos_set(ix):
        return {
            (r["term"], r["doc_id"], r["pos"])
            for r in seg.decode_positions(ix.index_df).collect()
        }
    assert pos_set(bi) == pos_set(batch)


def test_streaming_multivalue_attr(spark, tmp_path):
    """Streaming twin of the multi-value attr path: an array<string>
    column exploded to one DISTINCT synthetic posting per element per
    doc inside the micro-batch; compaction takes the field from the epoch
    sidecar and tags: queries serve index-only, matching the naive
    evaluation."""
    import os as _os

    from xsearch_spark.streaming.ingest import compact_segments, process_epoch

    rows = [
        (0, "hash join scan", ["mit", "web", "mit"]),  # repeated element
        (1, "hash the table", ["gpl"]),
        (2, "join merge hash", None),
        (3, "hash join the", ["mit", "gpl"]),
        (4, "scan scan hash", []),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, tags array<string>"
    )
    root = str(tmp_path / "tags_stream_idx")
    _os.makedirs(_os.path.join(root, "segments"), exist_ok=True)
    _os.makedirs(_os.path.join(root, "epoch_stats"), exist_ok=True)
    process_epoch(
        spark, docs, 0, root, avgdl_hint=1.0, docs_per_segment=4,
        attr_cols=("tags",),
    )
    bi = compact_segments(
        spark, root, segs_per_shard=2, num_buckets=4, docs_per_segment=4
    )
    assert bi.attr_fields == ("tags",)
    c = engine.corpus_from_df(docs, "text")
    for q in ("tags:mit hash", "tags:gpl hash", "tags:nope hash"):
        parsed = parse(q, attr_fields=("tags",))
        got = [
            (r["doc_id"], round(r["score"], 6))
            for r in search_wand(bi, parsed).collect()
        ]
        want = [
            (r["doc_id"], r["score"])
            for r in engine.run_query(c, parsed).collect()
        ]
        assert got == want, q


def test_compaction_preserves_positions(spark, tmp_path):
    """v6 positional stream survives BOTH compaction paths, which share
    one purge (deleted postings' substreams drop with the same
    keep-mask); full compact then re-merges the purged runs. Oracles:
    phrase queries over the compacted index equal the naive evaluation
    over source-minus-victims, and the compacted index rows equal a
    fresh build over source-minus-victims in every column."""
    docs = read_documents(spark, SF_DIR)
    geometry = dict(
        text_col="text", variant="base",
        docs_per_segment=128, segs_per_shard=2, num_buckets=8,
        positions=True, attr_cols=("lang", "source", "n_chars"),
    )
    bi = build_index(spark, docs, str(tmp_path / "pos_idx"), **geometry)
    assert bi.has_positions
    phrase = parse('"hash join" spark')
    before = [r["doc_id"] for r in search_wand(bi, phrase).collect()]
    assert before
    victims = before[:2]

    # incremental: frozen stats, purged postings AND positions
    admin.append_tombstones(spark, bi.root, victims)
    assert admin.compact_incremental(spark, bi, max_dl_drift=1.0) == "incremental"
    got_inc = [
        (r["doc_id"], round(r["score"], 6))
        for r in search_wand(bi, phrase).collect()
    ]
    assert not set(victims) & {d for d, _ in got_inc}
    # frozen-stats semantics: == pre-delete index + tombstone filter
    assert got_inc == [
        (r["doc_id"], round(r["score"], 6))
        for r in search_wand(
            bi,
            phrase,
            tombstones=spark.createDataFrame(
                [(int(v),) for v in victims], "doc_id long"
            ),
        ).collect()
    ]

    # full: trued-up stats; equals a fresh naive evaluation over the
    # surviving corpus
    more = [d for d, _ in got_inc][:1]
    admin.append_tombstones(spark, bi.root, more)
    admin.compact(spark, bi)
    remaining = docs.filter(~F.col("doc_id").isin([int(v) for v in victims + more]))
    fresh = engine.corpus_from_df(remaining, "text")
    for q in ('"hash join" spark', '"the hash"', '"scan merge"'):
        p = parse(q)
        got = [
            (r["doc_id"], round(r["score"], 6))
            for r in search_wand(bi, p).collect()
        ]
        want = [
            (r["doc_id"], r["score"]) for r in engine.run_query(fresh, p).collect()
        ]
        assert got == want, q

    # row identity: every column of every (term, shard) row — string and
    # encoded numeric attr runs, positions, block maxima under the
    # trued-up avgdl, df and bucket — equals a fresh build
    rebuilt = build_index(spark, remaining, str(tmp_path / "fresh_idx"), **geometry)
    assert bi.has_positions and bi.num_attr_fields == ("n_chars",)
    assert (bi.n_docs, bi.sum_dl) == (rebuilt.n_docs, rebuilt.sum_dl)

    def rows_of(b):
        return {
            (r["term"], r["shard"]): {
                c: bytes(v) if isinstance(v, bytearray) else v
                for c, v in r.asDict().items()
            }
            for r in b.index_df.collect()
        }

    got_rows, want_rows = rows_of(bi), rows_of(rebuilt)
    assert len(bi.index_df.columns) == 13
    assert sorted(bi.index_df.columns) == sorted(rebuilt.index_df.columns)
    assert any(t.startswith(attr_term("n_chars", "")) for t, _ in want_rows)
    assert got_rows == want_rows


def test_streaming_epoch_redelivery_exactly_once(spark, tmp_path):
    """§2.10 exactly-once evidence (round-5): the file-source replay
    model is at-least-once, so a micro-batch re-delivered with the SAME
    epoch id (Spark replays the epoch after a foreachBatch crash) must
    leave the epoch output — and therefore the compacted index — in
    exactly the state of single delivery. The epoch directory is
    mode=overwrite and the stats sidecar temp-then-rename, so the
    replay replaces its own output idempotently; asserted here as
    byte-identity of every packed index row."""
    from xsearch_spark.streaming.ingest import compact_segments, process_epoch

    docs = read_documents(spark, SF_DIR)
    slice0 = docs.filter(F.col("doc_id") < 25)
    slice1 = docs.filter((F.col("doc_id") >= 25) & (F.col("doc_id") < 50))

    def build(root: str, redeliver: bool):
        os.makedirs(os.path.join(root, "segments"), exist_ok=True)
        os.makedirs(os.path.join(root, "epoch_stats"), exist_ok=True)
        process_epoch(spark, slice0, 0, root, avgdl_hint=1.0, docs_per_segment=128)
        process_epoch(spark, slice1, 1, root, avgdl_hint=1.0, docs_per_segment=128)
        if redeliver:  # at-least-once: epoch 0 arrives a second time
            process_epoch(
                spark, slice0, 0, root, avgdl_hint=1.0, docs_per_segment=128
            )
        return compact_segments(
            spark, root, segs_per_shard=2, num_buckets=8, docs_per_segment=128
        )

    def rows_of(bi):
        return {
            (r["term"], r["shard"]): (
                bytes(r["doc_ids"]),
                bytes(r["tfs"]),
                bytes(r["dls"]),
                int(r["df"]),
            )
            for r in bi.index_df.collect()
        }

    once = build(str(tmp_path / "once"), redeliver=False)
    replay = build(str(tmp_path / "redelivered"), redeliver=True)
    assert rows_of(once) == rows_of(replay)
    assert once.n_docs == replay.n_docs
    assert once.avgdl == replay.avgdl
    assert once.sum_dl == replay.sum_dl


def test_incremental_compact_frozen_stats(spark, built):
    """Bounded-drift compaction: results must equal the PRE-delete index
    queried with tombstones applied (frozen-stats semantics — N/avgdl/df
    unchanged, deleted postings gone), WAND == relational afterwards
    (block maxima stay valid upper bounds), and a later FULL compact
    trues the stats up using the pending_deleted sidecar."""
    docs = read_documents(spark, SF_DIR)
    queries = ("hash join", "hash OR join", "the", "lang:zh spark")
    # df before and after comes only from decoded index rows
    pre = seg.decode_postings(built.index_df).select("term", "doc_id", "df").collect()
    df0 = {r["term"]: r["df"] for r in pre}
    holders: dict[str, set] = {}
    for r in pre:
        holders.setdefault(r["term"], set()).add(r["doc_id"])
    victims = [
        r["doc_id"]
        for r in search_wand(built, parse("the"), k=4, source_df=docs).collect()
    ][:3]
    # plus every holder of the rarest term, so that term loses all postings
    rarest = min(holders, key=lambda t: (len(holders[t]), t))
    victims = sorted(set(victims) | holders[rarest])
    purged = {t for t, ids in holders.items() if ids <= set(victims)}
    tomb_df = spark.createDataFrame([(int(v),) for v in victims], "doc_id long")

    # oracle: pre-delete index + query-time tombstones (exact scores)
    want = {
        q: [
            (r["doc_id"], round(r["score"], 6))
            for r in search_wand(
                built, parse(q), source_df=docs, tombstones=tomb_df
            ).collect()
        ]
        for q in queries
    }
    n0, avgdl0, sum0 = built.n_docs, built.avgdl, built.sum_dl

    admin.append_tombstones(spark, built.root, victims)
    outcome = admin.compact_incremental(spark, built, max_dl_drift=0.5)
    assert outcome == "incremental"
    assert admin.load_tombstones(spark, built.root) is None
    # frozen stats: every surviving row keeps its term's pre-delete df,
    # read from freshly decoded rows of the rewritten index; a term whose
    # postings were all purged has no rows left
    assert (built.n_docs, built.avgdl, built.sum_dl) == (n0, avgdl0, sum0)
    post = seg.decode_postings(built.index_df).select("term", "doc_id", "df").collect()
    want_df = {(t, d) for t, d in df0.items() if t not in purged}
    assert {(r["term"], r["df"]) for r in post} == want_df
    assert rarest in purged and not purged & {r["term"] for r in post}
    # purged postings: victims absent from the index entirely
    assert not set(victims) & {r["doc_id"] for r in post}
    # result equivalence + engine/relational agreement post-compact
    from xsearch_spark.operators.wand import search_index_relational

    for q in queries:
        got_w = [
            (r["doc_id"], round(r["score"], 6))
            for r in search_wand(built, parse(q), source_df=docs).collect()
        ]
        got_r = [
            (r["doc_id"], round(r["score"], 6))
            for r in search_index_relational(built, parse(q), source_df=docs).collect()
        ]
        assert got_w == want[q], q
        assert got_r == want[q], q

    # pending recorded
    import json
    import os as _os

    with open(_os.path.join(built.root, "stats.json")) as f:
        pend = json.load(f)["pending_deleted"]
    assert pend["n_docs"] == len(victims) and pend["sum_dl"] > 0

    # later FULL compact trues up stats = fresh build over source minus
    # ALL deleted docs (both tombstone generations)
    more = [
        r["doc_id"]
        for r in search_wand(built, parse("hash"), k=2, source_df=docs).collect()
    ]
    admin.append_tombstones(spark, built.root, more)
    admin.compact(spark, built)
    all_deleted = set(victims) | set(more)
    remaining = docs.filter(~F.col("doc_id").isin([int(v) for v in all_deleted]))
    fresh = engine.corpus_from_df(remaining, "text")
    assert built.n_docs == fresh.stats.n_docs
    assert abs(built.avgdl - fresh.stats.avgdl) < 1e-12
    got = [
        (r["doc_id"], round(r["score"], 6))
        for r in search_wand(built, parse("hash join"), source_df=remaining).collect()
    ]
    wantf = [
        (r["doc_id"], r["score"])
        for r in engine.run_query(fresh, parse("hash join")).collect()
    ]
    assert got == wantf
    import json as _json

    with open(_os.path.join(built.root, "stats.json")) as f:
        assert "pending_deleted" not in _json.load(f)


def test_incremental_compact_falls_back_on_drift(spark, built):
    """Deleting more dl-mass than max_dl_drift must route to the full
    compact (trued-up stats, fresh-build parity)."""
    docs = read_documents(spark, SF_DIR)
    victims = [r["doc_id"] for r in docs.limit(100).collect()]
    admin.append_tombstones(spark, built.root, victims)
    outcome = admin.compact_incremental(spark, built, max_dl_drift=0.01)
    assert outcome == "full"
    remaining = docs.filter(~F.col("doc_id").isin([int(v) for v in victims]))
    fresh = engine.corpus_from_df(remaining, "text")
    assert built.n_docs == fresh.stats.n_docs
    assert abs(built.avgdl - fresh.stats.avgdl) < 1e-12


def test_full_compact_applies_pending_without_new_tombstones(spark, built):
    """Round-3 advisor (medium): pending_deleted accumulated by
    incremental passes must be trued up by a later FULL compact even if
    the tombstone table is empty at that point — otherwise frozen
    N/avgdl drift becomes permanent."""
    docs = read_documents(spark, SF_DIR)
    victims = [
        r["doc_id"]
        for r in search_wand(built, parse("the"), k=3, source_df=docs).collect()
    ]
    admin.append_tombstones(spark, built.root, victims)
    assert admin.compact_incremental(spark, built, max_dl_drift=0.5) == "incremental"
    # the incremental pass cleared the tombstone table; stats are frozen
    assert admin.load_tombstones(spark, built.root) is None
    n_frozen = built.n_docs
    # full compact with NO new tombstones must still run and true up
    admin.compact(spark, built)
    remaining = docs.filter(~F.col("doc_id").isin([int(v) for v in victims]))
    fresh = engine.corpus_from_df(remaining, "text")
    assert n_frozen != fresh.stats.n_docs  # the drift existed
    assert built.n_docs == fresh.stats.n_docs
    assert abs(built.avgdl - fresh.stats.avgdl) < 1e-12
    import json as _json
    import os as _os

    with open(_os.path.join(built.root, "stats.json")) as f:
        assert "pending_deleted" not in _json.load(f)
    # and a full compact over a clean index (no tombstones, no pending)
    # stays a no-op
    n1 = built.n_docs
    admin.compact(spark, built)
    assert built.n_docs == n1


def test_incremental_rewrite_keeps_term_sort(spark, built):
    """Round-3 verdict item 4: buckets rewritten by compact_incremental
    must stay term-sorted within each parquet file so row-group min/max
    skipping survives incremental folds."""
    import glob
    import os as _os

    import pyarrow.parquet as pq

    docs = read_documents(spark, SF_DIR)
    victims = [
        r["doc_id"]
        for r in search_wand(built, parse("hash"), k=3, source_df=docs).collect()
    ]
    admin.append_tombstones(spark, built.root, victims)
    assert admin.compact_incremental(spark, built, max_dl_drift=0.5) == "incremental"
    checked = 0
    for f in glob.glob(_os.path.join(built.root, "index", "bucket=*", "*.parquet")):
        terms = pq.read_table(f, columns=["term"]).column("term").to_pylist()
        assert terms == sorted(terms), f
        checked += 1
    assert checked > 0


def test_streaming_compact_shrinking_buckets_no_stale(spark, tmp_path):
    """Round-3 verdict item 3: re-compaction with a smaller bucket set
    must not leave stale bucket partitions (the write is a temp+rename
    swap, immune to the session's dynamic partitionOverwriteMode)."""
    import os as _os

    from xsearch_spark.streaming.ingest import compact_segments, start_ingest

    docs = read_documents(spark, SF_DIR)
    staging = str(tmp_path / "staging")
    docs.repartition(4).write.parquet(staging)
    root = str(tmp_path / "swap_idx")
    q = start_ingest(spark, staging, root, docs_per_segment=128)
    q.awaitTermination(120)

    bi8 = compact_segments(
        spark, root, segs_per_shard=2, num_buckets=8, docs_per_segment=128
    )
    dirs8 = {
        d for d in _os.listdir(_os.path.join(root, "index")) if d.startswith("bucket=")
    }
    assert len(dirs8) > 2
    bi2 = compact_segments(
        spark, root, segs_per_shard=2, num_buckets=2, docs_per_segment=128
    )
    dirs2 = {
        d for d in _os.listdir(_os.path.join(root, "index")) if d.startswith("bucket=")
    }
    assert dirs2 <= {"bucket=0", "bucket=1"}, dirs2  # nothing stale survives
    # and the re-compacted index still answers correctly
    corpus = engine.corpus_from_documents(spark, SF_DIR)
    got = [
        (r["doc_id"], round(r["score"], 6))
        for r in search_wand(bi2, parse("hash join"), source_df=docs).collect()
    ]
    want = [
        (r["doc_id"], r["score"])
        for r in engine.run_query(corpus, parse("hash join")).collect()
    ]
    assert got == want


@pytest.fixture(scope="module")
def built_shared(spark, tmp_path_factory):
    """Module-scoped index for the Hypothesis sweep: each example COPIES
    this directory (compact_incremental mutates on disk)."""
    docs = read_documents(spark, SF_DIR)
    bi = build_index(
        spark, docs, str(tmp_path_factory.mktemp("hyp") / "idx"),
        text_col="text", variant="base",
        docs_per_segment=128, segs_per_shard=2, num_buckets=8,
    )
    return bi


def test_incremental_compact_property_sweep(spark, built_shared, tmp_path):
    """Property sweep (round-3 verdict item 6): for random tombstone
    sets and a mixed query set, fold-then-query must EXACTLY equal
    query-with-tombstones on the pre-delete index (the frozen-stats
    equivalence), across AND/OR/lang/NOT."""
    import random

    from xsearch_spark.plans.build_index import load_index

    docs = read_documents(spark, SF_DIR)
    queries = ["hash join", "hash OR join OR scan", "lang:zh spark", "the -join"]
    rng = random.Random(4242)
    for case in range(4):
        mod, rem = rng.choice([(3, 1), (5, 2), (7, 0), (11, 4)])
        victims = [
            r["doc_id"]
            for r in docs.filter(F.col("doc_id") % mod == rem)
            .select("doc_id")
            .collect()
        ]
        rng.shuffle(victims)
        victims = victims[: rng.randint(1, min(8, len(victims)))]
        tomb_df = spark.createDataFrame([(int(v),) for v in victims], "doc_id long")
        want = {
            q: [
                (r["doc_id"], round(r["score"], 6))
                for r in search_wand(
                    built_shared, parse(q), source_df=docs, tombstones=tomb_df
                ).collect()
            ]
            for q in queries
        }
        copy_root = str(tmp_path / f"case{case}")
        shutil.copytree(built_shared.root, copy_root)
        bi = load_index(spark, copy_root)
        admin.append_tombstones(spark, copy_root, victims)
        assert admin.compact_incremental(spark, bi, max_dl_drift=0.9) == "incremental"
        for q in queries:
            got = [
                (r["doc_id"], round(r["score"], 6))
                for r in search_wand(bi, parse(q), source_df=docs).collect()
            ]
            assert got == want[q], (case, mod, rem, victims, q)


def test_streamed_index_tombstones_and_compaction(spark, tmp_path):
    """§2.10 × S5 integration: a streamed-then-compacted index must
    support the full delete lifecycle — query-time tombstones,
    incremental compaction (frozen stats), and a truing full compact —
    exactly like a batch-built one (the stats sidecar written by
    compact_segments carries everything admin.compact depends on)."""
    from xsearch_spark.streaming.ingest import compact_segments, start_ingest

    docs = read_documents(spark, SF_DIR)
    staging = str(tmp_path / "staging")
    docs.repartition(4).write.parquet(staging)
    root = str(tmp_path / "sidx")
    q = start_ingest(spark, staging, root, docs_per_segment=128)
    q.awaitTermination(120)
    bi = compact_segments(
        spark, root, segs_per_shard=2, num_buckets=8, docs_per_segment=128
    )
    assert bi.has_attr("lang")

    parsed = parse("hash join")
    victims = [
        r["doc_id"] for r in search_wand(bi, parsed, k=3, source_df=docs).collect()
    ]
    tomb_df = spark.createDataFrame([(int(v),) for v in victims], "doc_id long")
    want = {
        qs: [
            (r["doc_id"], round(r["score"], 6))
            for r in search_wand(
                bi, parse(qs), source_df=docs, tombstones=tomb_df
            ).collect()
        ]
        for qs in ("hash join", "lang:zh spark", "the OR scan")
    }
    admin.append_tombstones(spark, root, victims)
    assert admin.compact_incremental(spark, bi, max_dl_drift=0.9) == "incremental"
    for qs, w in want.items():
        got = [
            (r["doc_id"], round(r["score"], 6))
            for r in search_wand(bi, parse(qs), source_df=docs).collect()
        ]
        assert got == w, qs

    # full compact trues up against a fresh build over source-minus-victims
    admin.compact(spark, bi)
    remaining = docs.filter(~F.col("doc_id").isin([int(v) for v in victims]))
    fresh = engine.corpus_from_df(remaining, "text")
    assert bi.n_docs == fresh.stats.n_docs
    assert abs(bi.avgdl - fresh.stats.avgdl) < 1e-12
    got = [
        (r["doc_id"], round(r["score"], 6))
        for r in search_wand(bi, parse("lang:zh spark"), source_df=remaining).collect()
    ]
    wantf = [
        (r["doc_id"], r["score"])
        for r in engine.run_query(fresh, parse("lang:zh spark")).collect()
    ]
    assert got == wantf  # lang attr postings survive the full rebuild


def test_streaming_compact_attr_claim_guard(spark, tmp_path):
    """compact_segments must not claim attr support the segments cannot
    serve: a stream ingested with attr_col=None compacts into an index
    whose stats say NO attr fields, so lang: queries take the source
    fallback (and agree with the naive evaluation) instead of
    silently returning empty."""
    from xsearch_spark.streaming.ingest import compact_segments, start_ingest

    docs = read_documents(spark, SF_DIR)
    staging = str(tmp_path / "staging")
    docs.repartition(3).write.parquet(staging)
    root = str(tmp_path / "noattr_sidx")
    q = start_ingest(
        spark, staging, root, docs_per_segment=128, attr_cols=None
    )
    q.awaitTermination(120)
    bi = compact_segments(
        spark, root, segs_per_shard=2, num_buckets=8, docs_per_segment=128
    )  # the epoch sidecars list no attr field, so neither does the index
    assert not bi.has_attr("lang")
    corpus = engine.corpus_from_documents(spark, SF_DIR)
    got = [
        (r["doc_id"], round(r["score"], 6))
        for r in search_wand(bi, parse("lang:zh spark"), source_df=docs).collect()
    ]
    want = [
        (r["doc_id"], r["score"])
        for r in engine.run_query(corpus, parse("lang:zh spark")).collect()
    ]
    assert got == want


def _stream_epochs(spark, docs, root: str, **kw) -> None:
    """Pack ``docs`` as two epochs (doc_id < 50, the rest)."""
    from xsearch_spark.streaming.ingest import process_epoch

    os.makedirs(os.path.join(root, "segments"), exist_ok=True)
    os.makedirs(os.path.join(root, "epoch_stats"), exist_ok=True)
    process_epoch(spark, docs.filter(F.col("doc_id") < 50), 0, root, **kw)
    process_epoch(spark, docs.filter(F.col("doc_id") >= 50), 1, root, **kw)


def test_streamed_attrs_follow_batch_rules(spark, tmp_path):
    """Streamed epochs pack through the batch build's source packer, so
    attr columns follow one set of rules: an integer column is encoded
    order-preserving (its rows equal the batch build's and serve range
    queries), and a float column raises the batch build's ValueError."""
    from xsearch_spark.constants import attr_term
    from xsearch_spark.streaming.ingest import compact_segments

    af = ("lang", "n_chars")
    docs = read_documents(spark, SF_DIR)
    root = str(tmp_path / "num_stream_idx")
    _stream_epochs(spark, docs, root, docs_per_segment=128, attr_cols=af)
    bi = compact_segments(
        spark, root, segs_per_shard=2, num_buckets=8, docs_per_segment=128
    )
    batch = build_index(
        spark, docs, str(tmp_path / "num_batch_idx"),
        text_col="text", variant="base",
        docs_per_segment=128, segs_per_shard=2, num_buckets=8, attr_cols=af,
    )
    assert bi.num_attr_fields == batch.num_attr_fields == ("n_chars",)

    def num_rows(ix):
        return {
            (r["term"], r["shard"], bytes(r["doc_ids"]), bytes(r["tfs"]),
             bytes(r["dls"]), int(r["df"]))
            for r in ix.index_df.filter(
                F.col("term").startswith(attr_term("n_chars", ""))
            ).collect()
        }

    streamed = num_rows(bi)
    assert streamed and streamed == num_rows(batch)

    parsed = parse("hash n_chars:400..530", attr_fields=af)
    got = [
        (r["doc_id"], round(r["score"], 6))
        for r in search_wand(bi, parsed).collect()
    ]
    assert got
    assert got == [
        (r["doc_id"], round(r["score"], 6))
        for r in search_wand(batch, parsed).collect()
    ]
    corpus = engine.corpus_from_documents(spark, SF_DIR)
    assert got == [
        (r["doc_id"], r["score"])
        for r in engine.run_query(corpus, parsed).collect()
    ]

    # a float attr column: the epoch raises exactly what build_index does
    fdocs = docs.withColumn("n_chars_f", F.col("n_chars").cast("double"))
    froot = str(tmp_path / "float_stream_idx")
    with pytest.raises(ValueError, match="quantized") as streamed_err:
        _stream_epochs(spark, fdocs, froot, attr_cols=("n_chars_f",))
    with pytest.raises(ValueError, match="quantized") as batch_err:
        build_index(
            spark, fdocs, str(tmp_path / "float_batch_idx"),
            text_col="text", attr_cols=("n_chars_f",),
        )
    assert str(streamed_err.value) == str(batch_err.value)
    assert not os.listdir(os.path.join(froot, "segments"))


def test_compact_segments_takes_geometry_from_sidecars(spark, tmp_path):
    """Epochs packed at 16 docs/segment: compacting with another
    docs_per_segment raises and names both values (the index would map
    doc_id -> shard with the wrong one, so tombstones and page scans
    miss docs); omitting it takes the sidecars' value."""
    from xsearch_spark.operators.wand import match_count, scan_docs
    from xsearch_spark.streaming.ingest import compact_segments

    docs = read_documents(spark, SF_DIR)
    root = str(tmp_path / "geom_idx")
    _stream_epochs(spark, docs, root, docs_per_segment=16)
    with pytest.raises(ValueError, match="docs_per_segment=4096.*docs_per_segment=16"):
        compact_segments(
            spark, root, segs_per_shard=2, num_buckets=8, docs_per_segment=4096
        )
    bi = compact_segments(spark, root, segs_per_shard=2, num_buckets=8)
    assert bi.docs_per_segment == 16

    parsed = parse("hash OR join")
    victims = [r["doc_id"] for r in search_wand(bi, parsed, k=3).collect()]
    tomb = spark.createDataFrame([(int(v),) for v in victims], "doc_id long")
    kept = {
        r["doc_id"]
        for r in search_wand(bi, parsed, k=10_000, tombstones=tomb).collect()
    }
    assert len(victims) == 3 and not kept & set(victims)
    n_match = match_count(bi, parsed).first()[0]
    assert scan_docs(bi, parsed, k=10_000).count() == n_match == len(kept) + 3


@pytest.mark.parametrize(
    "second", [{"attr_cols": ("lang", "source")}, {"positions": True}]
)
def test_compact_segments_rejects_disagreeing_epochs(spark, tmp_path, second):
    """Epochs packed with different attr fields or positions cannot make
    one index: its stats would promise filters or phrases that part of
    the runs cannot serve, so compaction raises."""
    from xsearch_spark.streaming.ingest import compact_segments, process_epoch

    docs = read_documents(spark, SF_DIR)
    root = str(tmp_path / "mixed_idx")
    os.makedirs(os.path.join(root, "segments"), exist_ok=True)
    os.makedirs(os.path.join(root, "epoch_stats"), exist_ok=True)
    kw = {"docs_per_segment": 128, "attr_cols": ("lang",), "positions": False}
    process_epoch(spark, docs.filter(F.col("doc_id") < 50), 0, root, **kw)
    process_epoch(
        spark, docs.filter(F.col("doc_id") >= 50), 1, root, **{**kw, **second}
    )
    with pytest.raises(ValueError, match="epoch sidecar epoch=1.json was packed with"):
        compact_segments(spark, root, segs_per_shard=2, num_buckets=8)


def test_compact_segments_reads_run_count_from_sidecars(
    spark, tmp_path, monkeypatch
):
    """Each epoch sidecar records its packed run count, and compaction
    sums the sidecars instead of opening every segment file footer."""
    import json

    import pyarrow.parquet as pq

    from xsearch_spark.streaming.ingest import compact_segments

    docs = read_documents(spark, SF_DIR)
    root = str(tmp_path / "runs_idx")
    _stream_epochs(spark, docs, root, docs_per_segment=32)
    for epoch in (0, 1):
        with open(
            os.path.join(root, "epoch_stats", f"epoch={epoch}.json")
        ) as f:
            side = json.load(f)
        packed = spark.read.parquet(
            os.path.join(root, "segments", f"epoch={epoch}")
        )
        assert side["n_runs"] == packed.count() > 0

    def no_footer_reads(*a, **kw):
        raise AssertionError("compact_segments opened a parquet footer")

    monkeypatch.setattr(pq, "ParquetFile", no_footer_reads)
    bi = compact_segments(
        spark, root, segs_per_shard=2, num_buckets=8, docs_per_segment=32
    )
    assert bi.n_docs == docs.count()
