"""Production-schema slice: synthetic code_files (FIXTURES.md §2) —
datagen determinism, sha256 copy-invariant (BASELINE.json:15), doc-id
assignment parity, and code-variant engine-vs-pyref rank identity."""

from __future__ import annotations

import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from xsearch_spark import pyref
from xsearch_spark.operators.wand import search_index_relational, search_wand
from xsearch_spark.plans.build_index import build_index
from xsearch_spark.plans.query import parse
from xsearch_spark.sources.datagen import generate_code_files
from xsearch_spark.sources.ids import assign_doc_ids_global, assign_doc_ids_scalable
from xsearch_spark.sources.io import read_source

CACHE = "/root/repo/.cache/code_files/sf0.001"

CODE_QUERIES = [
    "def",  # q09 hot keyword (skew head)
    "import return",  # q10 AND over hot terms
    "parse_config",  # q11 compound identifier
    "config",  # q12 sub-token match proves code tokenizer
    "lang:py def",  # q13 filter + hot
    "return -def",  # NOT on hot terms
    "parse OR merge",  # OR over sub-tokens
]


@pytest.fixture(scope="module")
def code_path():
    return generate_code_files("0.001", CACHE)


@pytest.fixture(scope="module")
def source(spark, code_path):
    return assign_doc_ids_global(read_source(spark, code_path)).persist()


@pytest.fixture(scope="module")
def built(spark, source, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("code_index"))
    bi = build_index(
        spark,
        source,
        out,
        text_col="content",
        variant="code",
        docs_per_segment=128,
        segs_per_shard=2,
        num_buckets=16,
    )
    yield bi
    shutil.rmtree(out, ignore_errors=True)


@pytest.fixture(scope="module")
def ref_index(source):
    rows = source.select("doc_id", "content", "lang").collect()
    return pyref.build(
        [(r["doc_id"], r["content"]) for r in rows],
        "code",
        {r["doc_id"]: r["lang"] for r in rows},
    )


def test_datagen_deterministic(code_path, tmp_path):
    import pyarrow.parquet as pq

    p2 = generate_code_files("0.001", str(tmp_path))
    assert pq.read_table(code_path).equals(pq.read_table(p2))


def test_sha256_copy_invariant(spark, code_path, source):
    """BASELINE.json:15: per-row content sha256 equality vs the
    generator-computed (independent) fingerprints."""
    gen = spark.read.parquet(CACHE + "/code_files_sha.parquet").withColumnRenamed(
        "content_sha256", "expected_sha"
    )
    joined = source.join(gen, ["repo", "path", "commit"])
    assert joined.count() == source.count()
    assert joined.filter(F.col("content_sha256") != F.col("expected_sha")).count() == 0


def _assert_scalable_ids_equal_global(spark, code_path):
    """The scalable mapping equals the global window's, row for row, is
    dense, and comes back with its row count. Returns its plan text."""
    src = read_source(spark, code_path)
    g = assign_doc_ids_global(src).select("repo", "path", "commit", "doc_id")
    s, n = assign_doc_ids_scalable(src, 8)
    s = s.select("repo", "path", "commit", F.col("doc_id").alias("doc_id2"))
    j = g.join(s, ["repo", "path", "commit"])
    assert n == g.count() == j.count()
    assert j.filter(F.col("doc_id") != F.col("doc_id2")).count() == 0
    assert sorted(r[0] for r in s.select("doc_id2").collect()) == list(range(n))
    return s._jdf.queryExecution().executedPlan().toString()


def test_doc_id_global_vs_scalable(spark, code_path):
    """1 000 rows clamp to one id bucket: the global window at offset 0,
    with no Python stage."""
    plan = _assert_scalable_ids_equal_global(spark, code_path)
    assert "bucket_of" not in plan


def test_doc_id_global_vs_scalable_multi_bucket(spark, code_path, monkeypatch):
    """A smaller bucket floor puts the same corpus in 8 id buckets, so
    the sample -> searchsorted -> per-bucket offset path runs and must
    give the same mapping."""
    from xsearch_spark.sources import ids

    monkeypatch.setattr(ids, "MIN_BUCKET_DOCS", 64)
    plan = _assert_scalable_ids_equal_global(spark, code_path)
    assert "bucket_of" in plan


def test_doc_ids_dense(source):
    n = source.count()
    ids = sorted(r["doc_id"] for r in source.select("doc_id").collect())
    assert ids == list(range(n))


def test_avgdl_matches_pyref(built, ref_index):
    assert built.n_docs == ref_index.n_docs
    assert built.avgdl == ref_index.avgdl


@pytest.mark.parametrize("q", CODE_QUERIES)
def test_engine_rank_identical_to_pyref(spark, built, source, ref_index, q):
    parsed = parse(q, "code")
    expected = [(d, round(s, 6)) for d, s in pyref.search(ref_index, parsed)]
    wand = [
        (r["doc_id"], round(r["score"], 6))
        for r in search_wand(built, parsed, source_df=source).collect()
    ]
    idx_rel = [
        (r["doc_id"], round(r["score"], 6))
        for r in search_index_relational(built, parsed, source_df=source).collect()
    ]
    assert wand == expected, f"WAND vs pyref for {q!r}"
    assert idx_rel == expected, f"index-relational vs pyref for {q!r}"


def test_hot_term_merge_spread(built):
    """Skew handling (SURVEY.md §5.4 scale/skew row): the hottest code
    keyword must NOT funnel into one merge task/row — its postings stay
    range-salted across multiple (term, shard) rows, each bounded by the
    shard width, so no single task ever holds the full posting list."""
    import pyspark.sql.functions as F

    rows = built.index_df.filter(F.col("term") == "def").select(
        "shard", "n_docs"
    ).collect()
    assert len(rows) >= 2, "hot term collapsed into a single merge row"
    shard_width = 128 * 2  # docs_per_segment * segs_per_shard (fixture)
    for r in rows:
        assert r["n_docs"] <= shard_width
    # and the spread is balanced: no shard holds >2x the median
    sizes = sorted(r["n_docs"] for r in rows)
    median = sizes[len(sizes) // 2]
    assert sizes[-1] <= 2 * median


def test_random_query_sweep(spark, built, source, ref_index):
    """FIXTURES q14: 20 random 1–3-term queries, default_rng(4242)."""
    rng = np.random.default_rng(4242)
    vocab = sorted(ref_index.postings.keys())
    for _ in range(20):
        n_terms = int(rng.integers(1, 4))
        terms = [vocab[i] for i in rng.integers(0, len(vocab), size=n_terms)]
        conn = " OR " if rng.integers(0, 2) else " "
        q = conn.join(dict.fromkeys(terms))
        parsed = parse(q, "code")
        expected = [(d, round(s, 6)) for d, s in pyref.search(ref_index, parsed)]
        wand = [
            (r["doc_id"], round(r["score"], 6))
            for r in search_wand(built, parsed, source_df=source).collect()
        ]
        assert wand == expected, f"sweep query {q!r}"


def test_code_phrase_proximity_paths(spark, source, tmp_path_factory):
    """v6 positional stream under the CODE analyzer: positions are the
    emitted-stream index (compounds + subtokens in tokenizer emission
    order), a semantics the SQL oracle can't reproduce (FIXTURES §3.7)
    but the three engine paths share — WAND composite-key/greedy
    chains, the relational join chains, and the naive token-array
    expressions must agree on a positional code index, for adjacency
    and slop alike."""
    import shutil as _sh

    from xsearch_spark import engine

    out = str(tmp_path_factory.mktemp("code_pos_index"))
    bi = build_index(
        spark, source, out,
        text_col="content", variant="code",
        docs_per_segment=128, segs_per_shard=2, num_buckets=16,
        positions=True,
    )
    corpus = engine.corpus_from_df(source, "content", "code")
    try:
        hits = 0
        for q in (
            '"parse config"',
            '"import return"~2',
            '"def parse"~1 config',
            'lang:py "return parse"~3',
            # §3.28 phrase-prefix under the code analyzer: a simple
            # (non-compound) trailing-star body is one emitted term, so
            # the final slot unions the code vocabulary under it
            '"def pa*"',
            '"import re*"~2',
        ):
            parsed = parse(q, "code")
            naive = [
                (r["doc_id"], round(r["score"], 6))
                for r in engine.run_query(corpus, parsed).collect()
            ]
            wand = [
                (r["doc_id"], round(r["score"], 6))
                for r in search_wand(bi, parsed).collect()
            ]
            rel = [
                (r["doc_id"], round(r["score"], 6))
                for r in search_index_relational(bi, parsed).collect()
            ]
            assert wand == naive and rel == naive, q
            hits += len(naive)
        assert hits > 0  # at least one query must actually match docs
    finally:
        _sh.rmtree(out, ignore_errors=True)
