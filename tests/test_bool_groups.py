"""Round-6 boolean OR-groups (FIXTURES.md §3.19): parse semantics,
three-engine-path agreement, the DuckDB oracle, batch parity, and the
fail-fast guards. Groups share the prefix/fuzzy ">= 1 of the member
set, members score as bare terms" semantics with an EXPLICIT member
set, so this suite mirrors test_fuzzy.py shape for shape."""

from __future__ import annotations

import shutil

import pytest

from tests.conftest import SF_DIR
from xsearch_spark import engine, oracles
from xsearch_spark.operators.wand import (
    match_count,
    search_index_relational,
    search_wand,
    search_wand_batch,
)
from xsearch_spark.plans.build_index import build_index
from xsearch_spark.plans.query import parse
from xsearch_spark.sources.io import read_documents

GROUP_QUERIES = [
    "(hash OR join) sort",  # group + plain term, AND
    "(hash OR join)",  # pure group query
    "(hash OR join) (sort OR merge)",  # two groups, AND
    "hash -(sort OR merge)",  # exclusion group
    "lang:en (hash OR join) -(dup OR slow)",  # attr + group + exclusion
    "(hash OR join) OR sort",  # OR connective: group = member bag
    "row (row OR slow)",  # member also a plain term (count once)
    "(zzzz OR qqqq)",  # absent members -> 0 rows
    '(hash OR join) "hash join"',  # group + phrase compose
    "(hash OR join) d*",  # group + prefix group compose
    "(hash OR join) sow~1",  # group + fuzzy group compose
]


def test_group_parse():
    p = parse("(hash OR join) sort -(dup OR slow) lang:en")
    assert p.groups == (("hash", "join"),)
    assert p.exclude_groups == (("dup", "slow"),)
    assert p.terms == ("sort",)
    assert p.lang == "en"
    assert p.connective == "AND"
    # OR connective outside the group: the group stays a member bag
    q = parse("(hash OR join) OR sort")
    assert q.connective == "OR" and q.groups == (("hash", "join"),)
    # degenerate groups (one distinct analyzed term) -> plain term
    assert parse("(a OR a)").groups == () and parse("(a OR a)").terms == ("a",)
    assert parse("-(a OR a)").exclude == ("a",)
    # case lowers via analysis; dedup keeps first-occurrence order
    assert parse("(Hash OR JOIN)").groups == (("hash", "join"),)
    assert parse("(a OR b) (a OR b)").groups == (("a", "b"),)
    # code variant: a compound member contributes ALL its emitted terms
    pc = parse("(fooBar OR baz)", variant="code")
    assert pc.groups == (("foobar", "foo", "bar", "baz"),)
    # parens without an OR keyword are NOT a group (separator chars)
    pp = parse("f(x) foo")
    assert pp.groups == () and pp.terms == ("f", "x", "foo")
    # 3+ members
    assert parse("(a OR b OR c)").groups == (("a", "b", "c"),)


def test_group_parse_guards_raise():
    with pytest.raises(ValueError, match="single plain terms"):
        parse("(a b OR c)")
    with pytest.raises(ValueError, match="single plain terms"):
        parse("(a OR)")
    with pytest.raises(ValueError, match="single plain terms"):
        parse("((a OR b) OR c)")  # inner group leaves '( OR c)'
    with pytest.raises(ValueError, match="not a plain term"):
        parse("(a* OR b)")
    with pytest.raises(ValueError, match="not a plain term"):
        parse("(a~1 OR b)")
    with pytest.raises(ValueError, match="not a plain term"):
        parse("(lang:en OR b)")
    with pytest.raises(ValueError, match="single plain terms"):
        parse('("x y" OR b)')  # the phrase is lifted out first


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("grp_index"))
    bi = build_index(
        spark,
        read_documents(spark, SF_DIR),
        out,
        text_col="text",
        variant="base",
        docs_per_segment=128,
        segs_per_shard=2,
        num_buckets=16,
        attr_cols=("lang", "source"),
        positions=True,
    )
    yield bi
    shutil.rmtree(out, ignore_errors=True)


@pytest.fixture(scope="module")
def corpus(spark):
    return engine.corpus_from_documents(spark, SF_DIR, cache=True)


def _rounded(df):
    return [(r["doc_id"], round(r["score"], 6)) for r in df.collect()]


@pytest.mark.parametrize("q", GROUP_QUERIES)
def test_group_paths_agree(spark, built, corpus, q):
    parsed = parse(q, attr_fields=("lang", "source"))
    naive = [
        (r["doc_id"], r["score"])
        for r in engine.run_query(corpus, parsed).collect()
    ]
    wand = _rounded(search_wand(built, parsed))
    rel = _rounded(search_index_relational(built, parsed))
    assert naive == wand, f"WAND differs for {q!r}"
    assert naive == rel, f"index-relational differs for {q!r}"


def test_group_matches_oracle(spark, built, duck):
    for q in GROUP_QUERIES:
        parsed = parse(q, attr_fields=("lang", "source"))
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


def test_group_equals_flat_or_under_or_connective(spark, built):
    """FROZEN: under the OR connective a group degenerates to its
    member bag — `(a OR b) OR c` must equal `a OR b OR c` exactly."""
    grouped = _rounded(search_wand(built, parse("(hash OR join) OR sort")))
    flat = _rounded(search_wand(built, parse("hash OR join OR sort")))
    assert grouped == flat


def test_group_batch_equals_singles(spark, built, corpus):
    qs = {f"q{i}": parse(q) for i, q in enumerate(GROUP_QUERIES[:7])}
    batch = search_wand_batch(built, qs, source_df=corpus.source)
    by_q: dict[str, list] = {}
    for r in batch.collect():
        by_q.setdefault(r["query_id"], []).append(
            (r["doc_id"], round(r["score"], 6))
        )
    for qid, p in qs.items():
        single = _rounded(search_wand(built, p, source_df=corpus.source))
        assert by_q.get(qid, []) == single, qid


def test_group_requires_df_rows_raises(built):
    """Index rows without the denormalized df are not layout v6: the
    wrapper raises at construction, before any group query can run."""
    import dataclasses

    with pytest.raises(ValueError, match="lack df: not index layout v6"):
        dataclasses.replace(built, index_df=built.index_df.drop("df"))
