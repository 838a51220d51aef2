"""Round-6 wildcard groups (FIXTURES.md §3.24): parse semantics (and
the prefix/wildcard boundary), three-engine-path agreement, the DuckDB
regexp oracle, batch parity, msm composition, and the fail-fast
guards."""

from __future__ import annotations

import re
import shutil

import pytest

from tests.conftest import SF_DIR
from xsearch_spark import engine, oracles
from xsearch_spark.constants import wildcard_regex, wildcard_scan_prefix
from xsearch_spark.operators.wand import (
    match_count,
    search_index_relational,
    search_wand,
    search_wand_batch,
)
from xsearch_spark.plans.build_index import build_index
from xsearch_spark.plans.query import parse
from xsearch_spark.sources.io import read_documents

WILDCARD_QUERIES = [
    "d*ta join",  # interior star + plain term, AND
    "s*t",  # pure wildcard query (sort, set, ...)
    "w*d*w OR hash",  # two stars, OR
    "hash -s*w",  # exclusion wildcard (slow, ...)
    "lang:en s*t -d*p",  # attr filter + wildcard + exclusion
    "d*ta OR hash min_match:2",  # wildcard group = one msm clause
    "zz*zz",  # absent pattern -> 0 rows
    "d*ta d*",  # wildcard + prefix group compose
    'd*ta "hash join"',  # wildcard + phrase compose
]


def test_wildcard_parse_and_boundary():
    p = parse("d*ta join -s*w")
    assert p.wildcards == ("d*ta",) and p.exclude_wildcards == ("s*w",)
    assert p.terms == ("join",)
    # a single trailing '*' stays a PREFIX group; repeated/interior
    # stars are wildcards
    assert parse("d*").prefixes == ("d",) and parse("d*").wildcards == ()
    assert parse("d**").wildcards == ("d**",)
    assert parse("Da*TA").wildcards == ("da*ta",)  # case folds
    # invalid chars degrade to plain analysis ('*' is a separator)
    assert parse("foo-b*r").wildcards == ()
    assert parse("foo-b*r").terms == ("foo", "b", "r")
    # leading wildcard raises (no scan bound)
    with pytest.raises(ValueError, match="literal prefix"):
        parse("*foo")
    with pytest.raises(ValueError, match="literal prefix"):
        parse("-*foo")
    # dedup
    assert parse("d*ta d*ta").wildcards == ("d*ta",)


def test_wildcard_regex_and_prefix_helpers():
    rx = re.compile(wildcard_regex("d*ta"))
    assert rx.fullmatch("data") and rx.fullmatch("dta")
    assert not rx.fullmatch("adata") and not rx.fullmatch("datax")
    assert wildcard_scan_prefix("d*ta") == "d"
    assert wildcard_scan_prefix("da*t*a") == "da"


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("wc_index"))
    bi = build_index(
        spark,
        read_documents(spark, SF_DIR),
        out,
        text_col="text",
        variant="base",
        docs_per_segment=128,
        segs_per_shard=2,
        num_buckets=16,
        attr_cols=("lang",),
        positions=True,
    )
    yield bi
    shutil.rmtree(out, ignore_errors=True)


@pytest.fixture(scope="module")
def corpus(spark):
    return engine.corpus_from_documents(spark, SF_DIR, cache=True)


def _rounded(df):
    return [(r["doc_id"], round(r["score"], 6)) for r in df.collect()]


@pytest.mark.parametrize("q", WILDCARD_QUERIES)
def test_wildcard_paths_agree(spark, built, corpus, q):
    parsed = parse(q, attr_fields=("lang",))
    naive = [
        (r["doc_id"], r["score"])
        for r in engine.run_query(corpus, parsed).collect()
    ]
    wand = _rounded(search_wand(built, parsed))
    rel = _rounded(search_index_relational(built, parsed))
    assert naive == wand, f"WAND differs for {q!r}"
    assert naive == rel, f"index-relational differs for {q!r}"


def test_wildcard_matches_oracle(spark, built, duck):
    for q in WILDCARD_QUERIES:
        parsed = parse(q, attr_fields=("lang",))
        want = [
            (int(r[0]), float(r[1]))
            for r in duck.execute(oracles.bm25_sql(parsed)).fetchall()
        ]
        got = _rounded(search_wand(built, parsed))
        assert [d for d, _ in got] == [d for d, _ in want], q
        assert all(abs(a[1] - b[1]) < 1e-9 for a, b in zip(got, want)), q
        cgot = match_count(built, parsed).collect()[0][0]
        cwant = duck.execute(oracles.match_count_sql(parsed)).fetchone()[0]
        assert cgot == cwant, q


def test_wildcard_batch_equals_singles(spark, built, corpus):
    qs = {f"q{i}": parse(q) for i, q in enumerate(WILDCARD_QUERIES[:6])}
    batch = search_wand_batch(built, qs, source_df=corpus.source)
    by_q: dict[str, list] = {}
    for r in batch.collect():
        by_q.setdefault(r["query_id"], []).append(
            (r["doc_id"], round(r["score"], 6))
        )
    for qid, p in qs.items():
        single = _rounded(search_wand(built, p, source_df=corpus.source))
        assert by_q.get(qid, []) == single, qid


def test_wildcard_requires_df_rows_raises(built):
    """Index rows without the denormalized df are not layout v6: the
    wrapper raises at construction, before any wildcard query can run."""
    import dataclasses

    with pytest.raises(ValueError, match="lack df: not index layout v6"):
        dataclasses.replace(built, index_df=built.index_df.drop("df"))
