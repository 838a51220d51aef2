"""M2–M4: index build, segment merge, codec round-trip through Spark,
and three-way query-path agreement (naive relational / index-relational
/ block-max WAND) on the documents table."""

from __future__ import annotations

import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from xsearch_spark import engine, oracles
from xsearch_spark.operators import build as b
from xsearch_spark.operators import segments as seg
from xsearch_spark.operators.wand import search_index_relational, search_wand
from xsearch_spark.plans.build_index import build_index, load_index
from xsearch_spark.plans.query import parse
from xsearch_spark.sources.io import read_documents

QUERIES = [
    "hash",
    "the",
    "hash join",
    "hash OR join",
    "lang:zh spark",
    "hash -join",
    "scan merge window sort",
    "zzzznotaterm",
    "the OR join OR scan",
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("docs_index"))
    docs = read_documents(spark, SF_DIR)
    bi = build_index(
        spark,
        docs,
        out,
        text_col="text",
        variant="base",
        docs_per_segment=128,
        segs_per_shard=2,
        num_buckets=16,
        attr_cols=("lang", "source"),  # round-5 generalized v5 attrs
        positions=True,  # round-5 v6 positional stream (phrase queries)
    )
    yield bi
    shutil.rmtree(out, ignore_errors=True)


@pytest.fixture(scope="module")
def corpus(spark):
    return engine.corpus_from_documents(spark, SF_DIR, cache=True)


def _rounded(df):
    return [(r["doc_id"], round(r["score"], 6)) for r in df.collect()]


def test_index_roundtrip_postings(spark, built, corpus):
    """decode(merge(pack(postings))) == postings — the full B4→B5→Q3 loop."""
    direct = b.postings_with_dl(corpus.tokenized)
    via_index = seg.decode_postings(built.index_df)
    d = {(r["term"], r["doc_id"]): (r["tf"], r["dl"]) for r in direct.collect()}
    v = {(r["term"], r["doc_id"]): (r["tf"], r["dl"]) for r in via_index.collect()}
    assert d == v


def test_term_stats_match(built, corpus):
    """The index's df column is the term dictionary: one df per real
    term, equal to the no-index path's term_stats."""
    from xsearch_spark.constants import ATTR_TERM_PREFIX

    direct = {r["term"]: r["df"] for r in corpus.term_stats.collect()}
    rows = (
        built.index_df.filter(~F.col("term").startswith(ATTR_TERM_PREFIX))
        .select("term", "df")
        .distinct()
        .collect()
    )
    via = {r["term"]: r["df"] for r in rows}
    assert len(via) == len(rows)  # every row of a term carries one df
    assert direct == via


def test_collection_stats_match(built, corpus):
    assert built.n_docs == corpus.stats.n_docs
    assert built.avgdl == corpus.stats.avgdl  # bit-exact by construction


@pytest.mark.parametrize("q", QUERIES)
def test_three_paths_agree(spark, built, corpus, q):
    docs = corpus.source
    parsed = parse(q)
    naive = [(r["doc_id"], r["score"]) for r in engine.run_query(corpus, q).collect()]
    wand = _rounded(search_wand(built, parsed, source_df=docs))
    idx_rel = _rounded(search_index_relational(built, parsed, source_df=docs))
    assert naive == wand, f"WAND differs for {q!r}"
    assert naive == idx_rel, f"index-relational differs for {q!r}"


def test_postings_sorted_unique_invariant(built):
    """Index invariant: decoded doc_id runs strictly increasing per row."""
    import numpy as np

    from xsearch_spark.functions import codec

    rows = built.index_df.select("term", "doc_ids", "n_docs").collect()
    assert rows
    for r in rows:
        ids = codec.decode_doc_ids(r["doc_ids"])
        assert ids.size == r["n_docs"]
        assert np.all(ids[1:] > ids[:-1])


@pytest.mark.parametrize("version", [5, None])
def test_load_index_rejects_other_layouts(spark, built, tmp_path, version):
    """stats.json must name this code's layout version: an older or
    unversioned sidecar raises before any query path runs."""
    import json
    import os

    with open(os.path.join(built.root, "stats.json")) as f:
        stats = json.load(f)
    stats.pop("format_version")
    if version is not None:
        stats["format_version"] = version
    with open(tmp_path / "stats.json", "w") as f:
        json.dump(stats, f)
    shutil.copytree(os.path.join(built.root, "index"), tmp_path / "index")
    found = "no format_version" if version is None else f"format_version {version}"
    with pytest.raises(ValueError, match=f"{found}.*layout v6"):
        load_index(spark, str(tmp_path))


@pytest.mark.parametrize("col", ["df", "poss"])
def test_builtindex_requires_layout_v6(built, col):
    """Index rows without the denormalized df or the positional stream
    are not layout v6: wrapping them raises before any query can run."""
    import dataclasses

    with pytest.raises(ValueError, match=f"lack {col}: not index layout v6"):
        dataclasses.replace(built, index_df=built.index_df.drop(col))


def test_load_index_equivalent(spark, built):
    li = load_index(spark, built.root)  # geometry comes from stats.json
    assert li.n_docs == built.n_docs and li.avgdl == built.avgdl
    assert li.num_buckets == built.num_buckets
    assert li.docs_per_segment == built.docs_per_segment
    assert li.segs_per_shard == built.segs_per_shard
    assert li.sum_dl == built.sum_dl
    assert li.index_df.count() == built.index_df.count()


def test_bucket_python_twin_matches_jvm(spark, built):
    """The Python bucket function must agree bit-for-bit with the JVM
    write-path expression — this is what lets a warm query plan its
    pruned scan with zero Spark jobs."""
    from xsearch_spark.functions.buckets import bucket_col, bucket_of

    rows = (
        built.index_df.select("term", "bucket")
        .distinct()
        .limit(500)
        .collect()
    )
    assert rows
    for r in rows:
        assert bucket_of(r["term"], built.num_buckets) == r["bucket"], r["term"]
    # and on adversarial strings (unicode, quotes, empty-adjacent)
    weird = ["", "a", "naïve", "日本語", "x'y", "_", "0" * 64]
    jvm = (
        spark.createDataFrame([(t,) for t in weird], "term string")
        .select("term", bucket_col(F.col("term"), 64).alias("b"))
        .collect()
    )
    for r in jvm:
        assert bucket_of(r["term"], 64) == r["b"], r["term"]


def test_fused_build_equals_staged(spark, built, tmp_path):
    """fused_merge=True (one lineage, no segments parquet) must produce
    the identical merged index: same rows, same packed bytes."""
    docs = read_documents(spark, SF_DIR)
    bi = build_index(
        spark, docs, str(tmp_path / "fused_idx"),
        text_col="text", variant="base",
        docs_per_segment=128, segs_per_shard=2, num_buckets=16,
        fused_merge=True, attr_cols=("lang", "source"), positions=True,
    )
    assert bi.n_docs == built.n_docs and bi.avgdl == built.avgdl
    a = {
        (r["term"], r["shard"]): (
            bytes(r["doc_ids"]), bytes(r["tfs"]), bytes(r["dls"]), bytes(r["poss"])
        )
        for r in built.index_df.collect()
    }
    b = {
        (r["term"], r["shard"]): (
            bytes(r["doc_ids"]), bytes(r["tfs"]), bytes(r["dls"]), bytes(r["poss"])
        )
        for r in bi.index_df.collect()
    }
    assert a == b


@pytest.mark.parametrize("fused", [False, True])
def test_index_manifest_totals(spark, built, tmp_path, fused):
    """Both places the runs can wait in write the same index manifest
    fields, and the build benchmark's check reads two of them: rows_out
    is the index row count, _totals.postings every posting (synthetic
    attr postings included), _totals.sum_tf the sidecar's Σdl."""
    from xsearch_spark.plans import checkpoints as ckpt

    ix = built
    if fused:
        ix = build_index(
            spark, read_documents(spark, SF_DIR), str(tmp_path / "fused_idx"),
            text_col="text", variant="base",
            docs_per_segment=128, segs_per_shard=2, num_buckets=16,
            fused_merge=True, attr_cols=("lang", "source"), positions=True,
        )
    m = ckpt.load_manifest(ix.root, "index")
    totals = m.partitions["_totals"]
    assert m.rows_out == ix.index_df.count() > 0
    assert totals["postings"] == ix.index_df.agg(F.sum("n_docs")).first()[0]
    assert totals["sum_tf"] == ix.sum_dl
    assert totals["rows"] >= m.rows_out  # packed runs merge into rows


def test_checkpoint_source_ids_stable(spark, tmp_path):
    """Stage-0 ids checkpoint: second call reuses the manifest (no
    recompute) and returns the same mapping."""
    from xsearch_spark.plans.build_index import checkpoint_source_ids
    from xsearch_spark.sources.datagen import generate_code_files
    from xsearch_spark.sources.io import read_source

    p = generate_code_files("0.001", "/root/repo/.cache/code_files/sf0.001")
    src = read_source(spark, p)
    out = str(tmp_path / "idx0")
    df1, n1 = checkpoint_source_ids(spark, src, out)
    m1 = {(r["repo"], r["path"], r["commit"]): r["doc_id"] for r in df1.collect()}
    df2, n2 = checkpoint_source_ids(spark, src, out)
    m2 = {(r["repo"], r["path"], r["commit"]): r["doc_id"] for r in df2.collect()}
    assert n1 == n2 == len(m1)
    assert m1 == m2
    assert sorted(m1.values()) == list(range(n1))  # dense 0..N-1


def test_checkpoint_source_ids_one_bucket_shape(spark, tmp_path):
    """A one-bucket ids checkpoint (1 000 rows, under the id-bucket
    floor) is the count pass plus the numbering write: at most 4 Spark
    jobs (11 with the seeded sample, the per-bucket counts and a
    re-read count), and its plan has no Python stage and no broadcast
    join."""
    from xsearch_spark.plans.build_index import checkpoint_source_ids
    from xsearch_spark.sources.datagen import generate_code_files
    from xsearch_spark.sources.ids import assign_doc_ids_scalable
    from xsearch_spark.sources.io import read_source

    src = read_source(spark, generate_code_files("0.001", str(tmp_path / "code")))
    ids, n = assign_doc_ids_scalable(src, 4 * spark.sparkContext.defaultParallelism)
    plan = ids._jdf.queryExecution().executedPlan().toString()
    assert n == 1000
    assert "ArrowEvalPython" not in plan and "BroadcastHashJoin" not in plan
    sc = spark.sparkContext
    sc.setJobGroup("ids_checkpoint", "ids_checkpoint")
    try:
        df, n = checkpoint_source_ids(spark, src, str(tmp_path / "idx"))
    finally:
        sc.setJobGroup(None, None)
    assert 0 < len(sc.statusTracker().getJobIdsForGroup("ids_checkpoint")) <= 4
    assert n == 1000 and df.rdd.getNumPartitions() == 1


def test_block_meta_consistent(built):
    import math

    import numpy as np

    from xsearch_spark.constants import ATTR_TERM_PREFIX, BLOCK_SIZE
    from xsearch_spark.functions import codec

    for r in built.index_df.limit(50).collect():
        ids = codec.decode_doc_ids(r["doc_ids"])
        n_blocks = math.ceil(ids.size / BLOCK_SIZE)
        assert len(r["block_last"]) == n_blocks
        assert len(r["block_max"]) == n_blocks
        assert r["block_last"][-1] == int(ids[-1])
        if r["term"].startswith(ATTR_TERM_PREFIX):
            # synthetic attr runs (v5) carry tf=0: factor is exactly 0
            assert all(m == 0 for m in r["block_max"])
        else:
            assert all(m > 0 for m in r["block_max"])


def test_batch_search_equals_singles(spark, built, corpus):
    """M queries in one job must reproduce each single-query top-k
    exactly — including lang: and NOT queries."""
    from xsearch_spark.operators.wand import search_wand_batch

    docs = corpus.source
    qset = {f"q{i}": parse(q) for i, q in enumerate(QUERIES)}
    batch = search_wand_batch(built, qset, source_df=docs).collect()
    got: dict[str, list] = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append((r["doc_id"], round(r["score"], 6)))
    for qid, parsed in qset.items():
        single = _rounded(search_wand(built, parsed, source_df=docs))
        assert got.get(qid, []) == single, qid


def test_index_rows_carry_global_df(built, corpus):
    """v4 layout invariant: every index row's denormalized df equals the
    term's collection-wide document frequency — this is what lets warm
    queries compute idf from the pruned scan with zero driver stats."""
    from xsearch_spark.constants import ATTR_TERM_PREFIX

    want = {r["term"]: r["df"] for r in corpus.term_stats.collect()}
    rows = built.index_df.select("term", "df").collect()
    assert rows
    saw_attr = False
    for r in rows:
        if r["term"].startswith(ATTR_TERM_PREFIX):
            # v5 synthetic attr runs: never scored, pinned df=0, and kept
            # out of the term dictionary
            assert r["df"] == 0 and r["term"] not in want
            saw_attr = True
        else:
            assert r["df"] == want[r["term"]], r["term"]
    assert saw_attr  # the fixture source has a lang column -> v5 runs exist


def test_single_term_fast_path_gated_on_unique_keys(built, corpus):
    """Round-4 advisor: the single-term zero-exchange fast path may only
    engage when every (term, shard) key is unique (merge_to_index
    output). A merged BuiltIndex plans WITHOUT a shard exchange; the
    same index with unique_term_shard=False (the ad-hoc-union default)
    must take the guarded shuffled path — and both return identical
    results."""
    import dataclasses
    import io
    from contextlib import redirect_stdout

    assert built.unique_term_shard
    guarded = dataclasses.replace(built, unique_term_shard=False)

    def plan(bi):
        buf = io.StringIO()
        with redirect_stdout(buf):
            search_wand(bi, parse("hash")).explain("formatted")
        return buf.getvalue()

    fast, slow = plan(built), plan(guarded)
    assert "hashpartitioning(shard" not in fast
    assert "hashpartitioning(shard" in slow
    assert _rounded(search_wand(built, parse("hash"))) == _rounded(
        search_wand(guarded, parse("hash"))
    )


def test_single_term_fast_path_in_a_batch(built, corpus):
    """The no-exchange path is a predicate over the compiled plans, so a
    batch made only of single-exact-term queries takes it too: its plan
    has no shard exchange and its answers equal the single-query ones.
    With unique_term_shard=False the same batch shuffles by shard and
    still gives the same answers."""
    import dataclasses
    import io
    from contextlib import redirect_stdout

    from xsearch_spark.operators.wand import search_wand_batch

    qset = {q: parse(q) for q in ("hash", "join", "the", "zzzznotaterm")}
    guarded = dataclasses.replace(built, unique_term_shard=False)

    def plan(bi):
        buf = io.StringIO()
        with redirect_stdout(buf):
            search_wand_batch(bi, qset).explain("formatted")
        return buf.getvalue()

    assert "hashpartitioning(shard" not in plan(built)
    assert "hashpartitioning(shard" in plan(guarded)
    for bi in (built, guarded):
        got: dict[str, list] = {}
        for r in search_wand_batch(bi, qset).collect():
            got.setdefault(r["query_id"], []).append(
                (r["doc_id"], round(r["score"], 6))
            )
        for qid, parsed in qset.items():
            assert got.get(qid, []) == _rounded(search_wand(built, parsed)), qid


def test_wand_tombstones_equal_relational(spark, built, corpus):
    """S5 on the engine path: search_wand with tombstones must equal the
    relational path's pre-top-k anti-join, across AND/OR/lang/NOT."""
    docs = corpus.source
    tomb = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    for q in QUERIES:
        parsed = parse(q)
        w = _rounded(search_wand(built, parsed, source_df=docs, tombstones=tomb))
        r = _rounded(
            search_index_relational(built, parsed, source_df=docs, tombstones=tomb)
        )
        assert w == r, q


def test_lang_serves_from_index_no_source(spark, built, corpus):
    """v5: a lang: query on an attr-indexed build must read its
    allowlist from the index — no source scan, no cogroup — and agree
    with the naive evaluation WITHOUT being given the source at all."""
    import io
    from contextlib import redirect_stdout

    assert built.has_attr("lang")
    for q in ("lang:zh spark", "lang:en hash OR join", "lang:es hash -join"):
        naive = [
            (r["doc_id"], r["score"]) for r in engine.run_query(corpus, q).collect()
        ]
        got = _rounded(search_wand(built, parse(q)))  # no source_df
        assert got == naive, q
    buf = io.StringIO()
    with redirect_stdout(buf):
        search_wand(built, parse("lang:zh hash join")).explain("formatted")
    plan = buf.getvalue()
    assert "documents.parquet" not in plan
    assert "FlatMapCoGroupsInPandas" not in plan


@pytest.fixture(scope="module")
def noattr_built(spark, corpus, tmp_path_factory):
    """The same documents indexed with attr_cols=None: lang: queries on
    it are served by the source allowlist (the scorer's doc-side rows)."""
    out = str(tmp_path_factory.mktemp("noattr_idx"))
    bi = build_index(
        spark, corpus.source, out,
        text_col="text", variant="base",
        docs_per_segment=128, segs_per_shard=2, num_buckets=16,
        attr_cols=None,
    )
    yield bi
    shutil.rmtree(out, ignore_errors=True)


def test_lang_fallback_without_attr_index(spark, corpus, noattr_built):
    """Pre-v5 compatibility: an index built with attr_col=None must still
    serve lang: queries through the source allowlist, distributed as
    doc-side rows of the scorer's scan, and produce identical results."""
    docs = corpus.source
    bi = noattr_built
    from xsearch_spark.constants import ATTR_TERM_PREFIX

    assert not bi.has_attr("lang")
    assert bi.index_df.filter(
        F.col("term").startswith(ATTR_TERM_PREFIX)
    ).count() == 0
    for q in ("lang:zh spark", "lang:en hash OR join"):
        naive = [
            (r["doc_id"], r["score"]) for r in engine.run_query(corpus, q).collect()
        ]
        got = _rounded(search_wand(bi, parse(q), source_df=docs))
        assert got == naive, q


def test_lang_fallback_batch_equals_singles(spark, corpus, noattr_built):
    """One batch on the attr_cols=None index mixing two source-served
    langs and a no-lang query, with and without tombstones: every answer
    equals its single-query answer and the naive evaluation (the naive
    ranking read past the tombstoned docs)."""
    from xsearch_spark.constants import DEFAULT_TOP_K
    from xsearch_spark.operators.wand import search_wand_batch

    docs = corpus.source
    bi = noattr_built
    qs = {"zh": "lang:zh spark", "en": "lang:en hash OR join", "none": "hash OR scan"}
    tomb = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    dead = {r["doc_id"] for r in tomb.collect()}
    for tombstones in (None, tomb):
        gone = dead if tombstones is not None else set()
        batch = search_wand_batch(
            bi, {qid: parse(q) for qid, q in qs.items()},
            source_df=docs, tombstones=tombstones,
        ).collect()
        got: dict[str, list] = {}
        for r in batch:
            got.setdefault(r["query_id"], []).append(
                (r["doc_id"], round(r["score"], 6))
            )
        for qid, q in qs.items():
            single = _rounded(
                search_wand(bi, parse(q), source_df=docs, tombstones=tombstones)
            )
            naive = [
                (r["doc_id"], r["score"])
                for r in engine.run_query(corpus, q, k=bi.n_docs).collect()
                if r["doc_id"] not in gone
            ][:DEFAULT_TOP_K]
            assert single, q
            assert got.get(qid, []) == single == naive, (q, tombstones is None)


PHRASE_QUERIES = [
    '"hash join"',
    '"hash join" spark',
    '"the hash"',
    'lang:en "scan merge"',
    '"hash join" OR scan',  # phrases force AND (frozen)
    '"zzz qqq"',
    '"hash join" -window',
    # round-6 proximity (FIXTURES.md §3.8): ordered window with slop,
    # on all three engine paths; ~0 is the adjacency degeneracy
    '"hash join"~1 spark',
    '"the hash"~2',
    'lang:en "scan merge"~2',
    '"hash join"~0',
    '"zzz qqq"~3',
    # round-6 phrase-prefix (FIXTURES.md §3.28): the final slot matches
    # ANY vocabulary term under the prefix — adjacency, slop, attr and
    # exclusion composition, a full-term body (join* includes join
    # itself), and the no-expansion empty set
    '"hash s*"',
    '"hash jo*" spark',
    '"scan mer*"~1',
    'lang:en "scan mer*"',
    '"hash join*"',
    '"the s*"~2 -window',
    '"hash zz*"',
]


def test_phrase_parse():
    """Quoted spans -> analyzed phrase tuples; phrase terms join the
    scored set; any phrase forces AND; 0/1-token spans degrade to text."""
    p = parse('"hash join" spark')
    assert p.phrases == (("hash", "join"),)
    assert set(p.terms) == {"hash", "join", "spark"}
    assert p.connective == "AND"
    p2 = parse('"hash join" OR scan')
    assert p2.connective == "AND" and p2.phrases == (("hash", "join"),)
    p3 = parse('"hash" scan')  # single-term span: no phrase
    assert p3.phrases == () and set(p3.terms) == {"hash", "scan"}
    p4 = parse('"" scan')
    assert p4.phrases == () and p4.terms == ("scan",)


def test_phrase_prefix_parse():
    """Round-6 §3.28: a trailing-star last token in a quoted span makes
    a phrase-prefix — exact members join the scored set, the body joins
    the §3.10 prefixes, and the prefix rides parallel to phrases.
    Degenerations: bare "b*" becomes an ordinary prefix token; an
    interior star stays a separator (plain phrase)."""
    p = parse('"hash jo*" spark')
    assert p.phrases == (("hash",),) and p.phrase_prefixes == ("jo",)
    assert set(p.terms) == {"hash", "spark"} and p.prefixes == ("jo",)
    assert p.connective == "AND"
    p2 = parse('"scan mer*"~2')
    assert p2.phrase_slops == (2,) and p2.phrase_prefixes == ("mer",)
    p3 = parse('"jo*" scan')  # bare star span -> plain §3.10 prefix
    assert p3.phrases == () and p3.prefixes == ("jo",) and p3.terms == ("scan",)
    p4 = parse('"hash j*oin"')  # interior star: separator, plain phrase
    assert p4.phrase_prefixes == () and p4.phrases == (("hash", "j", "oin"),)
    p5 = parse('"a b" "c d*"')  # mixed exact + prefix, parallel fields
    assert p5.phrases == (("a", "b"), ("c",))
    assert p5.phrase_prefixes == ("", "d")
    with pytest.raises(ValueError, match="maximum"):
        parse('"' + " ".join(f"w{i}" for i in range(64)) + ' x*"')


def test_phrase_prefix_requires_positions(spark, corpus, tmp_path):
    """A phrase-prefix needs the v6 positional stream exactly like an
    exact phrase."""
    docs = corpus.source
    bi = build_index(
        spark, docs, str(tmp_path / "nopos_pp_idx"),
        text_col="text", variant="base",
        docs_per_segment=128, segs_per_shard=2, num_buckets=16,
        attr_cols=None, positions=False,
    )
    with pytest.raises(ValueError, match="positions=True"):
        search_wand(bi, parse('"hash jo*"'))


def test_phrase_prefix_scoring_is_unquoted_query(spark, built, corpus):
    """Frozen §3.28 rule: the positional slot is ONLY a filter — every
    returned doc scores exactly what the unquoted `w1 … b*` query gives
    it (expansions score like bare terms)."""
    scored = dict(_rounded(search_wand(built, parse("hash s*"), k=10**6)))
    for doc_id, score in _rounded(search_wand(built, parse('"hash s*"'))):
        assert scored[doc_id] == score


def test_proximity_parse():
    """Round-6 `"w1 w2"~N` syntax: slop rides parallel to phrases; a
    missing or explicit ~0 is exactly the adjacency phrase; 1-token
    spans degrade (slop dropped with them); the same span at two
    different slops stays two filters."""
    p = parse('"hash join"~2 spark')
    assert p.phrases == (("hash", "join"),) and p.phrase_slops == (2,)
    assert p.connective == "AND"
    assert set(p.terms) == {"hash", "join", "spark"}
    assert parse('"hash join"~0').phrase_slops == (0,)
    assert parse('"hash join"').phrase_slops == (0,)
    p1 = parse('"hash"~3 scan')
    assert p1.phrases == () and set(p1.terms) == {"hash", "scan"}
    p2 = parse('"hash join" "hash join"~1')
    assert p2.phrases == (("hash", "join"), ("hash", "join"))
    assert p2.phrase_slops == (0, 1)
    # duplicate (span, slop) pair still dedups
    p3 = parse('"hash join"~1 "hash join"~1')
    assert p3.phrase_slops == (1,)


FACET_QUERIES = [
    "hash join",
    "hash OR join",
    "hash -join",
    "lang:en hash OR join",
    '"hash join" spark',
    '"hash join"~2 spark',
    "zzzznotaterm",
]


@pytest.mark.parametrize("q", FACET_QUERIES)
def test_facet_counts_index_side(spark, built, corpus, q):
    """Q11 facets: matching-doc count per attr value over the FULL
    match set, computed index-only from the v5 attr postings — must
    equal a groupby over the naive engine's unlimited match set, for
    every query feature (OR/NOT/lang/phrase/proximity/0-match)."""
    from xsearch_spark.operators.wand import facet_counts

    src = corpus.source.select("doc_id", "lang", "source").toPandas()
    parsed = parse(q)
    matched = {
        r["doc_id"] for r in engine.run_query(corpus, parsed, k=1_000_000).collect()
    }
    for fld in ("lang", "source"):
        got = {
            (r["value"], r["n_docs"])
            for r in facet_counts(built, parsed, fld).collect()
        }
        sub = src[src.doc_id.isin(matched)]
        want = {(v, int(n)) for v, n in sub.groupby(fld).size().items()}
        assert got == want, (q, fld)


@pytest.mark.parametrize("q", FACET_QUERIES + ["d* OR merge", "s* -du*"])
def test_match_count_full_set(spark, built, corpus, duck, q):
    """Q11b total-hits: match_count over the FULL match set must equal
    the naive engine's unlimited match cardinality AND the shared-CTE
    DuckDB oracle, for every query feature incl. prefix groups."""
    from xsearch_spark.operators.wand import match_count

    parsed = parse(q)
    want = len(engine.run_query(corpus, parsed, k=1_000_000).collect())
    got = match_count(built, parsed).collect()
    assert [r["n_docs"] for r in got] == [want], q
    want_sql = duck.execute(oracles.match_count_sql(parsed)).fetchone()[0]
    assert want_sql == want, q


def test_match_count_tombstones(spark, built, corpus):
    """Tombstoned docs leave the count (the anti-join shares
    _index_match_scored with relational search)."""
    from xsearch_spark.operators.wand import match_count

    parsed = parse("hash OR join")
    full = {r["doc_id"] for r in engine.run_query(corpus, parsed, k=10**6).collect()}
    tombs = corpus.source.select("doc_id").filter(F.col("doc_id") % 7 == 0)
    got = match_count(built, parsed, tombstones=tombs).collect()
    want = len({d for d in full if d % 7 != 0})
    assert [r["n_docs"] for r in got] == [want]


def test_facet_counts_array_attr_vs_oracle(spark, tmp_path):
    """Array-valued facet field: one count per distinct ELEMENT per
    matching doc (the per-distinct-element attr postings), against the
    DuckDB unnest(list_distinct(...)) oracle on the same table."""
    import random

    import duckdb

    from xsearch_spark import oracles
    from xsearch_spark.operators.wand import facet_counts

    rng = random.Random(4242)
    tag_pool = ["mit", "gpl", "bsd", "apache"]
    words = ["hash", "join", "scan", "merge", "the"]
    rows = []
    for d in range(300):
        text = " ".join(rng.choice(words) for _ in range(rng.randint(1, 12)))
        tags = [rng.choice(tag_pool) for _ in range(rng.randint(0, 4))]
        if rng.random() < 0.2:
            tags = tags + tags  # planted duplicates: still one count each
        if rng.random() < 0.1:
            tags = None
        rows.append((d, text, tags))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, tags array<string>"
    )
    bi = build_index(
        spark, docs, str(tmp_path / "facet_tags_idx"),
        text_col="text", variant="base",
        docs_per_segment=64, segs_per_shard=2, num_buckets=16,
        attr_cols=("tags",),
    )
    con = duckdb.connect()
    con.register(
        "tagdocs",
        pd.DataFrame(rows, columns=["doc_id", "text", "tags"]),
    )
    for q in ("hash OR join", "hash -join", "zzz"):
        parsed = parse(q)
        got = sorted(
            (r["value"], r["n_docs"])
            for r in facet_counts(bi, parsed, "tags").collect()
        )
        want = sorted(
            map(
                tuple,
                con.execute(
                    oracles.facet_sql(
                        parsed, "tags", table="tagdocs", array_fields=("tags",)
                    )
                ).fetchall(),
            )
        )
        assert got == want, q


def test_collapse_and_facet_stats_array_attr_vs_oracle(spark, tmp_path):
    """Array-valued facet field on the §3.26/§3.29 surfaces: a doc
    competes once per DISTINCT element (collapse) and contributes its
    numeric value once per element (facet_stats) — against the DuckDB
    unnest(list_distinct(...)) oracle branches on the same table."""
    import random

    import duckdb

    from xsearch_spark import oracles
    from xsearch_spark.operators.wand import facet_stats, search_collapse

    rng = random.Random(777)
    tag_pool = ["mit", "gpl", "bsd", "apache"]
    words = ["hash", "join", "scan", "merge", "the"]
    rows = []
    for d in range(300):
        text = " ".join(rng.choice(words) for _ in range(rng.randint(1, 12)))
        tags = [rng.choice(tag_pool) for _ in range(rng.randint(0, 4))] or None
        rows.append((d, text, tags, rng.randint(-50, 500)))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, tags array<string>, n_tok long"
    )
    bi = build_index(
        spark, docs, str(tmp_path / "collapse_tags_idx"),
        text_col="text", variant="base",
        docs_per_segment=64, segs_per_shard=2, num_buckets=16,
        attr_cols=("tags", "n_tok"),
    )
    con = duckdb.connect()
    con.register(
        "tagdocs",
        pd.DataFrame(rows, columns=["doc_id", "text", "tags", "n_tok"]),
    )
    for q in ("hash OR join", "hash -join"):
        parsed = parse(q)
        got = [
            (r["doc_id"], r["value"], round(r["score"], 6))
            for r in search_collapse(
                bi, parsed, "tags", k=8, per_value=2
            ).collect()
        ]
        want = [
            (int(r[0]), r[1], round(float(r[2]), 6))
            for r in con.execute(
                oracles.collapse_sql(
                    parsed, "tags", k=8, per_value=2,
                    table="tagdocs", array_fields=("tags",),
                )
            ).fetchall()
        ]
        assert got == want and len(got) > 0, q
        got_s = sorted(
            (r["value"], r["n_docs"], r["sum_value"])
            for r in facet_stats(bi, parsed, "tags", "n_tok").collect()
        )
        want_s = sorted(
            (r[0], int(r[1]), int(r[4]))
            for r in con.execute(
                oracles.facet_stats_sql(
                    parsed, "tags", "n_tok",
                    table="tagdocs", array_fields=("tags",),
                )
            ).fetchall()
        )
        assert got_s == want_s and len(got_s) > 0, q


def test_facet_counts_fallback_and_raise(spark, built, corpus):
    """Unindexed facet fields: a scalar or array source column joins on
    doc_id (never a silent corpus re-score); absent both index attrs
    and a source table, facet_counts raises."""
    from xsearch_spark.operators.wand import facet_counts

    parsed = parse("hash join")
    with pytest.raises(ValueError, match="facet requires"):
        facet_counts(built, parsed, "nosuchfield")
    matched = {
        r["doc_id"] for r in engine.run_query(corpus, parsed, k=1_000_000).collect()
    }
    src = corpus.source.withColumn(
        "bucket10", (F.col("doc_id") % 10).cast("string")
    ).withColumn("arr2", F.array(F.col("lang"), F.lit("x"), F.col("lang")))
    pdfd = src.select("doc_id", "bucket10", "lang").toPandas()
    sub = pdfd[pdfd.doc_id.isin(matched)]
    got_s = {
        (r["value"], r["n_docs"])
        for r in facet_counts(built, parsed, "bucket10", source_df=src).collect()
    }
    want_s = {(v, int(n)) for v, n in sub.groupby("bucket10").size().items()}
    assert got_s == want_s
    # array fallback: distinct elements per doc — every matched doc
    # contributes 1 to its lang value and 1 to "x"
    got_a = {
        (r["value"], r["n_docs"])
        for r in facet_counts(built, parsed, "arr2", source_df=src).collect()
    }
    want_a = {(v, int(n)) for v, n in sub.groupby("lang").size().items()}
    want_a.add(("x", len(sub)))
    assert got_a == want_a


def test_highlight_matches_spans(spark):
    """Q10+ highlight: the Column-expression prefix-sum spans must
    equal an independent re.finditer derivation over the lowered text
    (first occurrence AS A TOKEN — 'scan' inside 'rescanned' never
    matches), snippet clamped to doc bounds, absent terms dropped."""
    import random
    import re

    from xsearch_spark.operators.search import highlight_matches

    rng = random.Random(77)
    alphabet = [
        "hash", "join", "Scan", "rescanned", "naïve", "x1", "_", "!!",
        "日本", "a" * 40, "",
    ]
    rows = []
    for i in range(120):
        n = rng.randint(0, 30)
        rows.append((i, i / 7.0, " ".join(rng.choice(alphabet) for _ in range(n))))
    topk = spark.createDataFrame(
        [(i, s) for i, s, _ in rows], "doc_id long, score double"
    )
    docs = spark.createDataFrame(
        [(i, t) for i, _, t in rows], "doc_id long, text string"
    )
    terms = ("hash", "scan", "x1", "zzz")
    got = sorted(tuple(r) for r in highlight_matches(topk, docs, terms).collect())
    want = []
    for i, s, t in rows:
        matches = list(re.finditer(r"[a-z0-9_]+", t.lower()))
        for term in terms:
            m = next((mm for mm in matches if mm.group(0) == term), None)
            if m is None:
                continue
            cs, ce = m.start() + 1, m.end()  # 1-based inclusive
            ss = max(1, cs - 30)
            want.append((i, s, term, cs, ce, t[ss - 1 : ce + 30]))
    assert got == sorted(want)


@pytest.mark.parametrize("q", PHRASE_QUERIES)
def test_phrase_paths_agree(spark, built, corpus, q):
    """v6 phrase adjacency: WAND (positional-stream intersection) and
    the relational path (decode_positions k-way semi-join) must both
    equal the naive evaluation (token-array exists expression) — and
    scoring must be IDENTICAL to the unquoted query restricted to
    adjacency survivors (frozen semantics)."""
    parsed = parse(q)
    naive = [
        (r["doc_id"], r["score"]) for r in engine.run_query(corpus, parsed).collect()
    ]
    assert naive == _rounded(search_wand(built, parsed)), q
    assert naive == _rounded(search_index_relational(built, parsed)), q


def test_phrase_requires_positions_raises_without_v6(spark, corpus, tmp_path):
    """An index built WITHOUT positions must refuse phrase queries
    instead of silently dropping adjacency."""
    docs = corpus.source
    bi = build_index(
        spark, docs, str(tmp_path / "nopos_idx"),
        text_col="text", variant="base",
        docs_per_segment=128, segs_per_shard=2, num_buckets=16,
        attr_cols=None, positions=False,
    )
    assert not bi.has_positions
    with pytest.raises(ValueError, match="positions=True"):
        search_wand(bi, parse('"hash join"'))
    with pytest.raises(ValueError, match="positions=True"):
        search_index_relational(bi, parse('"hash join"'))


def test_phrase_batch_equals_singles(spark, built):
    """Phrase queries mixed into one batch job reproduce each
    single-query result."""
    from xsearch_spark.operators.wand import search_wand_batch

    qset = {
        "p1": parse('"hash join" spark'),
        "p2": parse('"the hash"'),
        "plain": parse("hash OR join"),
        "pl": parse('lang:en "scan merge"'),
        "prox": parse('"hash join"~2 spark'),
        "pfx": parse('"hash s*"'),  # §3.28 in the shared-decode batch
        "pfx_prox": parse('"scan mer*"~1'),
    }
    got = {}
    for r in search_wand_batch(built, qset).collect():
        got.setdefault(r["query_id"], []).append(
            (r["doc_id"], round(r["score"], 6))
        )
    for qid, parsed in qset.items():
        assert got.get(qid, []) == _rounded(search_wand(built, parsed)), qid


def test_positions_survive_interleaved_merge(spark, corpus, tmp_path):
    """Regression (found by the sf0.1 pinned bench): when the pack input
    is already parallel enough, partial runs reach the merge
    doc-UNSORTED and the merge takes the k-way resort path — the
    positional substreams must ride the same permutation (and the
    uint64 varint-decode output must not poison the gather arithmetic).
    Force that path by feeding the build a many-partition, shuffled-
    order source, then check phrase parity against the naive path."""
    docs = corpus.source.repartition(8)  # >= parallelism: no exchange
    bi = build_index(
        spark, docs, str(tmp_path / "interleaved_pos_idx"),
        text_col="text", variant="base",
        docs_per_segment=128, segs_per_shard=2, num_buckets=16,
        fused_merge=True, positions=True,
    )
    for q in ('"hash join" spark', '"the hash"', '"scan merge"'):
        parsed = parse(q)
        naive = [
            (r["doc_id"], r["score"])
            for r in engine.run_query(corpus, parsed).collect()
        ]
        assert naive == _rounded(search_wand(bi, parsed)), q


def test_decode_positions_matches_tokenizer(spark, built, corpus):
    """The decoded (term, doc_id, pos) stream must equal the positions
    re-derived from the tokenizer directly (1-based emitted-stream
    index), for every posting of a sample of docs."""
    from xsearch_spark.functions.tokenize import tokenize_base_py

    got: dict[tuple, list[int]] = {}
    rows = seg.decode_positions(
        built.index_df.filter(F.col("shard") == 0)
    ).collect()
    for r in rows:
        got.setdefault((r["term"], r["doc_id"]), []).append(r["pos"])
    docs_in_shard = {d for (_t, d) in got}
    want: dict[tuple, list[int]] = {}
    for r in corpus.source.filter(
        F.col("doc_id") < built.docs_per_shard
    ).collect():
        for i, t in enumerate(tokenize_base_py(r["text"]), start=1):
            want.setdefault((t, r["doc_id"]), []).append(i)
    assert docs_in_shard
    assert {k: sorted(v) for k, v in got.items()} == want


def test_generic_attr_filters_index_only(spark, built, corpus):
    """Round-5 generalized v5 attrs: source: (and lang: x source:
    intersections) must agree with the naive evaluation on BOTH engine
    paths WITHOUT being given the source table, and the plan must
    contain neither the source parquet nor a cogroup. Filtering on an
    unindexed field must raise."""
    import io
    from contextlib import redirect_stdout

    import pytest

    assert built.has_attr("source") and built.has_attr("lang")
    fields = ("lang", "source")
    queries = (
        "source:src3 hash OR join",
        "source:src5 hash -join",
        "lang:en source:src7 the",
        "source:src0 lang:zh spark",
        "source:srcnope hash",  # value absent from the corpus -> empty
    )
    for q in queries:
        parsed = parse(q, attr_fields=fields)
        naive = [
            (r["doc_id"], r["score"])
            for r in engine.run_query(corpus, parsed).collect()
        ]
        assert _rounded(search_wand(built, parsed)) == naive, q
        assert _rounded(search_index_relational(built, parsed)) == naive, q
    buf = io.StringIO()
    with redirect_stdout(buf):
        search_wand(
            built, parse("lang:en source:src7 the", attr_fields=fields)
        ).explain("formatted")
    plan = buf.getvalue()
    assert "documents.parquet" not in plan
    assert "FlatMapCoGroupsInPandas" not in plan
    # batch path: attr queries mixed with plain ones, one job
    from xsearch_spark.operators.wand import search_wand_batch

    qset = {
        "a": parse("source:src3 hash OR join", attr_fields=fields),
        "b": parse("lang:en source:src7 the", attr_fields=fields),
        "c": parse("hash join"),
    }
    batch = search_wand_batch(built, qset)
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append(
            (r["doc_id"], round(r["score"], 6))
        )
    for qid, parsed in qset.items():
        assert got.get(qid, []) == _rounded(search_wand(built, parsed)), qid
    # unindexed field -> fail fast, never a silent source scan
    with pytest.raises(ValueError, match="attr_cols"):
        search_wand(built, parse("license:mit hash", attr_fields=("license",)))


def test_multivalue_attr_filters(spark, tmp_path, duck):
    """Round-5 multi-value attrs: an array<string> attribute column
    (tags/licenses) indexes one synthetic posting per DISTINCT element
    per doc; ``tags:x`` matches membership. WAND and relational paths
    (index-only) must agree with the naive evaluation (array_contains
    fallback) AND with a DuckDB list_contains oracle; repeated elements
    must not trip the duplicate-doc_id invariant."""
    import duckdb

    rows = []
    tag_pool = ["gpl", "mit", "web", "code", "news"]
    import random

    rng = random.Random(7)
    words = ["hash", "join", "scan", "merge", "the", "spark", "table"]
    for d in range(120):
        text = " ".join(rng.choice(words) for _ in range(rng.randint(3, 30)))
        tags = [rng.choice(tag_pool) for _ in range(rng.randint(0, 4))]
        if d % 17 == 0:
            tags = tags + tags  # planted duplicates
        if d % 29 == 0:
            tags = None
        rows.append((d, text, tags))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, tags array<string>"
    )
    bi = build_index(
        spark, docs, str(tmp_path / "tags_idx"),
        text_col="text", variant="base",
        docs_per_segment=32, segs_per_shard=2, num_buckets=8,
        attr_cols=("tags",),
    )
    assert bi.has_attr("tags")
    c = engine.corpus_from_df(docs, "text")
    con = duckdb.connect()
    con.register("tagdocs", docs.toPandas())
    for q in ("tags:mit hash", "tags:gpl hash OR join", "tags:nope hash"):
        parsed = parse(q, attr_fields=("tags",))
        naive = [
            (r["doc_id"], r["score"])
            for r in engine.run_query(c, parsed).collect()
        ]
        assert naive == _rounded(search_wand(bi, parsed)), q
        assert naive == _rounded(search_index_relational(bi, parsed)), q
        # independent DuckDB check of the allowlist semantics
        tag = q.split()[0].split(":")[1]
        allowed = {
            r[0]
            for r in con.execute(
                "SELECT doc_id FROM tagdocs WHERE tags IS NOT NULL "
                f"AND list_contains(tags, '{tag}')"
            ).fetchall()
        }
        assert {d for d, _ in naive} <= allowed or not naive


_TAGS_SPARK_EXPR = """
CASE WHEN doc_id % 29 = 0 THEN CAST(NULL AS ARRAY<STRING>)
     WHEN doc_id % 13 = 0 THEN CAST(ARRAY() AS ARRAY<STRING>)
     WHEN doc_id % 4 = 0 THEN ARRAY(
         CONCAT('tag', doc_id % 7), CONCAT('tag', doc_id % 3),
         CONCAT('tag', doc_id % 7), CAST(NULL AS STRING))
     ELSE ARRAY(
         CONCAT('tag', doc_id % 7), CONCAT('tag', doc_id % 3),
         CONCAT('tag', doc_id % 7))
END
"""

_TAGS_DUCK_TABLE = """(SELECT doc_id, text, lang, source,
  CASE WHEN doc_id % 29 = 0 THEN NULL
       WHEN doc_id % 13 = 0 THEN []::VARCHAR[]
       WHEN doc_id % 4 = 0 THEN ['tag' || (doc_id % 7)::VARCHAR,
                                 'tag' || (doc_id % 3)::VARCHAR,
                                 'tag' || (doc_id % 7)::VARCHAR, NULL]
       ELSE ['tag' || (doc_id % 7)::VARCHAR,
             'tag' || (doc_id % 3)::VARCHAR,
             'tag' || (doc_id % 7)::VARCHAR]
  END AS tags FROM documents)"""


@pytest.mark.parametrize("sf_fixture", ["duck", "duck_med"])
def test_array_attr_full_oracle_two_scales(spark, tmp_path, sf_fixture, request):
    """Round-6 (r5 verdict item 8): the array-valued attr path against
    the FULL DuckDB BM25 oracle with list_contains membership
    (oracles.bm25_sql array_fields), at BOTH test scale factors, over a
    deterministically derived tags column carrying every edge shape —
    NULL column, empty list, duplicate elements, NULL elements. Both
    engines derive tags from the same doc_id arithmetic, so the oracle
    is independent end-to-end (tokenize + BM25 + membership)."""
    from xsearch_spark import oracles
    from xsearch_spark.sources.io import read_documents

    from tests.conftest import SF_DIR, SF_DIR_MED

    con = request.getfixturevalue(sf_fixture)
    sf_dir = SF_DIR if sf_fixture == "duck" else SF_DIR_MED
    docs = read_documents(spark, sf_dir).withColumn(
        "tags", F.expr(_TAGS_SPARK_EXPR)
    )
    bi = build_index(
        spark, docs, str(tmp_path / f"tags_{sf_fixture}"),
        text_col="text", variant="base",
        docs_per_segment=256, segs_per_shard=2, num_buckets=16,
        attr_cols=("lang", "tags"),
    )
    for q in (
        "tags:tag1 hash join",
        "tags:tag0 the OR scan",
        "tags:tag2 hash -join",
        "lang:en tags:tag1 the",
        "tags:tag2 tags:tag5 the",  # two array filters AND-intersected
        "tags:tag99 hash",  # absent tag -> empty
    ):
        parsed = parse(q, attr_fields=("lang", "tags"))
        sql = oracles.bm25_sql(parsed, table=_TAGS_DUCK_TABLE, array_fields=("tags",))
        want = [
            (r[0], round(r[1], 6)) for r in con.execute(sql).fetchall()
        ]
        assert _rounded(search_wand(bi, parsed)) == want, (q, sf_fixture)
        assert _rounded(search_index_relational(bi, parsed)) == want, (q, sf_fixture)


def test_batch_random_querysets_with_tombstones(spark, built, corpus):
    """Randomized mixed query SETS (AND/OR/NOT/lang) with tombstones:
    the batch slicing (the shard scorer's one _assemble_shard per shard
    + per-plan term/exclude/lang/tomb slicing) must reproduce every
    single-query result (VERDICT r2 item 6)."""
    import random

    from xsearch_spark.operators.wand import search_wand_batch

    docs = corpus.source
    vocab = ["hash", "join", "the", "scan", "merge", "window", "sort",
             "spark", "table", "key", "zzzznotaterm"]
    rng = random.Random(1234)
    for round_i in range(3):
        qset = {}
        for i in range(8):
            terms = rng.sample(vocab, rng.randint(1, 3))
            q = " ".join(terms)
            if rng.random() < 0.4:
                q = " OR ".join(terms)
            if rng.random() < 0.3:
                q += " -" + rng.choice(vocab)
            if rng.random() < 0.3:
                q = f"lang:{rng.choice(['zh', 'en', 'es'])} " + q
            qset[f"r{round_i}q{i}"] = parse(q)
        tomb = (
            docs.filter(F.col("doc_id") % rng.choice([3, 5, 7]) == 0).select("doc_id")
            if rng.random() < 0.7
            else None
        )
        batch = search_wand_batch(
            built, qset, source_df=docs, tombstones=tomb
        ).collect()
        got: dict[str, list] = {}
        for r in batch:
            got.setdefault(r["query_id"], []).append(
                (r["doc_id"], round(r["score"], 6))
            )
        for qid, parsed in qset.items():
            single = _rounded(
                search_wand(built, parsed, source_df=docs, tombstones=tomb)
            )
            assert got.get(qid, []) == single, (qid, parsed)


def test_lang_attr_with_null_langs(spark, tmp_path):
    """Docs with a NULL lang emit no synthetic posting and can never
    pass a lang: filter — exactly the semantics of the naive
    source-filter path (lang = X is false for NULL). Both paths must
    agree on a corpus containing nulls."""
    rows = [
        (0, "hash join table scan", "zh"),
        (1, "hash join window sort", None),
        (2, "hash merge spark table", "zh"),
        (3, "join scan spark window", "en"),
        (4, "hash join spark scan", None),
        (5, "table hash join spark", "zh"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    bi = build_index(
        spark, docs, str(tmp_path / "null_idx"),
        text_col="text", variant="base",
        docs_per_segment=2, segs_per_shard=2, num_buckets=4,
    )
    corpus = engine.corpus_from_df(docs, "text")
    for q in ("lang:zh hash join", "lang:en spark", "lang:zh hash OR spark"):
        naive = [
            (r["doc_id"], r["score"]) for r in engine.run_query(corpus, q).collect()
        ]
        got = _rounded(search_wand(bi, parse(q)))  # index-only, no source
        assert got == naive, q
        rel = _rounded(search_index_relational(bi, parse(q)))
        assert rel == naive, q
    # null-lang docs are indexed for unfiltered queries
    got_all = _rounded(search_wand(bi, parse("hash join")))
    naive_all = [
        (r["doc_id"], r["score"])
        for r in engine.run_query(corpus, "hash join").collect()
    ]
    assert got_all == naive_all
    assert {1, 4} & {d for d, _ in got_all}  # nulls present unfiltered


def test_highlight_phrase_random_parity(spark):
    """§3.33: first-adjacency-window spans on a randomized corpus must
    equal an independent re.finditer derivation (window found over the
    token list, char spans from match offsets), incl. the §3.28
    prefix-slot form; slop raises on the oracle side."""
    import random
    import re

    from xsearch_spark.operators.search import highlight_phrase

    rng = random.Random(99)
    alphabet = ["hash", "join", "joiner", "Scan", "x1", "_", "!!", "日本", ""]
    rows = []
    for i in range(150):
        n = rng.randint(0, 25)
        rows.append((i, i / 9.0, " ".join(rng.choice(alphabet) for _ in range(n))))
    topk = spark.createDataFrame(
        [(i, s) for i, s, _ in rows], "doc_id long, score double"
    )
    docs = spark.createDataFrame(
        [(i, t) for i, _, t in rows], "doc_id long, text string"
    )
    for phrase, body in [(("hash", "join"), ""), (("hash",), "jo")]:
        got = sorted(
            tuple(r)
            for r in highlight_phrase(topk, docs, phrase, body).collect()
        )
        want = []
        m = len(phrase) + (1 if body else 0)
        for i, s, t in rows:
            toks = list(re.finditer(r"[a-z0-9_]+", t.lower()))
            fi = None
            for j in range(len(toks) - m + 1):
                win = toks[j : j + m]
                ok = all(w.group(0) == p for w, p in zip(win, phrase))
                if body:
                    ok = ok and win[-1].group(0).startswith(body)
                if ok:
                    fi = j
                    break
            if fi is None:
                continue
            cs, ce = toks[fi].start() + 1, toks[fi + m - 1].end()
            ss = max(1, cs - 30)
            want.append((i, s, cs, ce, t[ss - 1 : ce + 30]))
        assert got == sorted(want) and len(got) > 0, (phrase, body)
    with pytest.raises(ValueError, match="slop 0"):
        oracles.highlight_phrase_sql(parse('"hash join"~2'))
