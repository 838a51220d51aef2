"""Round-6 relevance-order cursor paging (FIXTURES.md §3.23): the
page-walk == offset-paging equivalence over the frozen (round6 DESC,
doc_id ASC) order, wand == rel == oracle on every page, composition
with filters/groups, and the theta-seed exactness on hot OR shapes."""

from __future__ import annotations

import shutil

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from xsearch_spark import oracles
from xsearch_spark.constants import SCORE_ROUND_DECIMALS
from xsearch_spark.operators import search
from xsearch_spark.operators.wand import _index_match_scored, search_after_topk
from xsearch_spark.plans.build_index import build_index
from xsearch_spark.plans.query import parse
from xsearch_spark.sources.io import read_documents

CURSOR_QUERIES = [
    "the OR scan OR join",  # hot OR: block pruning + cursor seed
    "hash join",  # AND path
    "the",  # single-term fast path
    "lang:en the OR scan",  # attr filter composes
    "(hash OR join) OR sort min_match:1",  # groups compose
    "the OR scan -dup",  # exclusion composes
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("cur_index"))
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
    )
    yield bi
    shutil.rmtree(out, ignore_errors=True)


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _rel_page(built, parsed, k, after):
    """The same page from the declarative match evaluation: round the
    full scored match set, keep what lies after the cursor, top-k."""
    scored = _index_match_scored(built, parsed).select(
        "doc_id", F.round("score", SCORE_ROUND_DECIMALS).alias("score")
    )
    if after is not None:
        cs, cd = after
        scored = scored.filter(
            (F.col("score") < cs)
            | ((F.col("score") == cs) & (F.col("doc_id") > cd))
        )
    return search.top_k(scored, k)


@pytest.mark.parametrize("q", CURSOR_QUERIES)
def test_page_walk_equals_offset_paging(spark, built, duck, q):
    """Walk three k=5 pages by cursor; every page must equal the
    oracle's LIMIT 5 OFFSET 5*i of the frozen order, from the scorer
    and from the declarative match evaluation alike."""
    parsed = parse(q, attr_fields=("lang",))
    cursor = None
    for i in range(3):
        wand = _rows(search_after_topk(built, parsed, k=5, after=cursor))
        rel = _rows(_rel_page(built, parsed, 5, cursor))
        want = [
            (int(a), float(b))
            for a, b in duck.execute(
                oracles.bm25_after_sql(parsed, k=5, offset=5 * i)
            ).fetchall()
        ]
        assert [d for d, _ in wand] == [d for d, _ in want], (q, i)
        assert all(
            abs(a[1] - b[1]) < 1e-9 for a, b in zip(wand, want)
        ), (q, i)
        assert wand == rel, (q, i)
        if not wand:
            break
        cursor = (wand[-1][1], wand[-1][0])  # (rounded_score, doc_id)


def test_cursor_form_of_oracle_agrees(spark, built, duck):
    """The oracle's own cursor form must agree with its offset form
    (the frozen equivalence stated twice)."""
    parsed = parse("the OR scan OR join")
    page1 = duck.execute(oracles.bm25_after_sql(parsed, k=5)).fetchall()
    cur = (float(page1[-1][1]), int(page1[-1][0]))
    via_cursor = duck.execute(
        oracles.bm25_after_sql(parsed, k=5, after=cur)
    ).fetchall()
    via_offset = duck.execute(
        oracles.bm25_after_sql(parsed, k=5, offset=5)
    ).fetchall()
    assert via_cursor == via_offset


def test_page1_is_rounded_order(spark, built, duck):
    """after=None is page 1 OF THE ROUNDED ORDER — ties in round6
    break by doc_id even when raw scores would order them otherwise."""
    parsed = parse("the OR scan OR join")
    got = _rows(search_after_topk(built, parsed, k=10))
    assert got == sorted(got, key=lambda r: (-r[1], r[0]))
    want = [
        (int(a), float(b))
        for a, b in duck.execute(oracles.bm25_after_sql(parsed, k=10)).fetchall()
    ]
    assert [d for d, _ in got] == [d for d, _ in want]


def test_cursor_beyond_end_is_empty(spark, built):
    parsed = parse("hash join")
    assert _rows(search_after_topk(built, parsed, k=5, after=(0.0, 10**12))) == []


def test_deep_walk_is_exhaustive_and_disjoint(spark, built, duck):
    """Walking to exhaustion visits every match exactly once — the
    union of all pages equals the full match set of the oracle."""
    parsed = parse("the OR scan")
    seen: list[tuple] = []
    cursor = None
    for _ in range(200):
        page = _rows(search_after_topk(built, parsed, k=7, after=cursor))
        if not page:
            break
        assert not set(d for d, _ in page) & set(d for d, _ in seen)
        seen += page
        cursor = (page[-1][1], page[-1][0])
    want = [
        (int(a), float(b))
        for a, b in duck.execute(
            oracles.bm25_after_sql(parsed, k=10_000_000)
        ).fetchall()
    ]
    assert [d for d, _ in seen] == [d for d, _ in want]
