"""Round-6 fuzzy queries (FIXTURES.md §3.12): the closed-form d=1
neighborhood enumeration vs brute Levenshtein (Hypothesis), parse
semantics, three-engine-path agreement, the DuckDB levenshtein oracle
(which independently verifies the enumeration is complete), batch
parity, and the fail-fast guards."""

from __future__ import annotations

import shutil

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tests.conftest import SF_DIR
from xsearch_spark import engine, oracles
from xsearch_spark.constants import TERM_ALPHABET, fuzzy_candidates
from xsearch_spark.operators.wand import (
    match_count,
    search_index_relational,
    search_wand,
    search_wand_batch,
)
from xsearch_spark.plans.build_index import build_index
from xsearch_spark.plans.query import parse
from xsearch_spark.sources.io import read_documents

# the documents-vocab neighborhoods (sf0.001): sow~1 -> {slow, row},
# kay~1 -> {key}, aga~1 -> {agg, a}, rows~1 -> {row}
FUZZY_QUERIES = [
    "sort sow~1",  # plain term AND a two-member group
    "sow~1",  # pure fuzzy query
    "kay~1 OR dup",  # OR connective
    "hash -sow~1",  # exclusion neighborhood
    "lang:en hash -sow~1",  # attr filter + exclusion
    "aga~",  # bare ~ means distance 1
    "row sow~1",  # a group member that is also a plain term (count once)
    "qqq~1",  # absent neighborhood -> 0 rows
    "sow~1 kay~1",  # two groups, AND
    'sow~1 "hash join"',  # fuzzy + phrase compose
    "d* sow~1",  # fuzzy + prefix group compose
]


def _lev(a: str, b: str) -> int:
    """Plain Levenshtein (no transposition) — brute reference."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


@settings(max_examples=200, deadline=None)
@given(
    body=st.text(alphabet="ab1_", min_size=1, max_size=5),
    probe=st.text(alphabet="ab1_c", min_size=0, max_size=6),
)
def test_enumeration_complete_and_sound(body: str, probe: str):
    """fuzzy_candidates(body) == {t over the alphabet : lev <= 1}:
    membership of any probe string agrees with brute Levenshtein."""
    cand = set(fuzzy_candidates(body))
    expected = probe != "" and _lev(probe, body) <= 1
    assert (probe in cand) == expected, (body, probe)


def test_enumeration_shape():
    cand = fuzzy_candidates("sow")
    assert "sow" in cand and "slow" in cand and "row" in cand
    assert "" not in cand
    assert all(set(t) <= set(TERM_ALPHABET) for t in cand)
    # size bound: 2*len*|A| + len + |A| + 1
    assert len(cand) <= 2 * 3 * 37 + 3 + 37 + 1


def test_fuzzy_parse():
    p = parse("sort sow~1 -kay~ lang:en")
    assert p.terms == ("sort",)
    assert p.fuzzies == ("sow",)
    assert p.exclude_fuzzies == ("kay",)
    assert p.lang == "en"
    # bare ~ is distance 1; ~0 is the plain term; case lowers
    assert parse("Sow~").fuzzies == ("sow",)
    assert parse("sow~0").fuzzies == () and parse("sow~0").terms == ("sow",)
    assert parse("-sow~0").exclude == ("sow",)
    # unsupported distances and oversized bodies raise
    with pytest.raises(ValueError, match="distance"):
        parse("sow~2")
    with pytest.raises(ValueError, match="exceeds"):
        parse("a" * 65 + "~1")
    # invalid bodies degrade to plain analysis ('~' is a separator)
    assert parse("foo-bar~1").fuzzies == ()
    assert parse("foo-bar~1").terms == ("foo", "bar", "1")
    assert parse("~1").fuzzies == () and parse("~1").terms == ("1",)
    # '~N' on a quoted span is proximity, never fuzzy
    q = parse('"hash join"~1')
    assert q.fuzzies == () and q.phrase_slops == (1,)
    # dedup, first-occurrence order
    assert parse("a~1 b~ a~1").fuzzies == ("a", "b")


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("fz_index"))
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


@pytest.mark.parametrize("q", FUZZY_QUERIES)
def test_fuzzy_paths_agree(spark, built, corpus, q):
    parsed = parse(q, attr_fields=("lang", "source"))
    naive = [
        (r["doc_id"], r["score"])
        for r in engine.run_query(corpus, parsed).collect()
    ]
    wand = _rounded(search_wand(built, parsed))
    rel = _rounded(search_index_relational(built, parsed))
    assert naive == wand, f"WAND differs for {q!r}"
    assert naive == rel, f"index-relational differs for {q!r}"


def test_fuzzy_matches_oracle(spark, built, duck):
    """The oracle states membership DECLARATIVELY (DuckDB levenshtein),
    so equality here verifies the engine's enumeration serves exactly
    the spec'd neighborhood."""
    for q in FUZZY_QUERIES:
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


def test_fuzzy_batch_equals_singles(spark, built, corpus):
    qs = {f"q{i}": parse(q) for i, q in enumerate(FUZZY_QUERIES[:6])}
    batch = search_wand_batch(built, qs, source_df=corpus.source)
    by_q: dict[str, list] = {}
    for r in batch.collect():
        by_q.setdefault(r["query_id"], []).append(
            (r["doc_id"], round(r["score"], 6))
        )
    for qid, p in qs.items():
        single = _rounded(search_wand(built, p, source_df=corpus.source))
        assert by_q.get(qid, []) == single, qid


def test_fuzzy_requires_df_rows_raises(built):
    """Index rows without the denormalized df are not layout v6: the
    wrapper raises at construction, before any fuzzy query can run."""
    import dataclasses

    with pytest.raises(ValueError, match="lack df: not index layout v6"):
        dataclasses.replace(built, index_df=built.index_df.drop("df"))
