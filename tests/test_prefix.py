"""Round-6 prefix queries (FIXTURES.md §3.10) and dictionary completion
(§3.11): parse semantics, three-engine-path agreement, batch parity,
the suggest oracle, and the fail-fast guards."""

from __future__ import annotations

import shutil

import pytest

from tests.conftest import SF_DIR
from xsearch_spark import engine, oracles
from xsearch_spark.operators.wand import (
    search_index_relational,
    search_wand,
    search_wand_batch,
    spell_suggest,
    suggest_terms,
)
from xsearch_spark.plans.build_index import build_index
from xsearch_spark.plans.query import parse
from xsearch_spark.sources.io import read_documents

PREFIX_QUERIES = [
    "d* join",  # group {data, dup} + plain term, AND
    "s* window",  # six-member group
    "qu*",  # pure prefix query (no plain terms)
    "lang:en s* -du*",  # attr filter + group + exclusion prefix
    "d* OR merge",  # OR connective
    "so* OR d*",  # two groups under OR
    "hash -s*",  # exclusion prefix only
    "zz*",  # absent prefix -> 0 rows
    'd* "hash join"',  # prefix + phrase compose
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pfx_index"))
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


def test_prefix_parse():
    p = parse("d* join -du* lang:en")
    assert p.terms == ("join",)
    assert p.prefixes == ("d",)
    assert p.exclude_prefixes == ("du",)
    assert p.lang == "en"
    # uppercase body lowers; underscore bodies are one term shape
    assert parse("Conf*").prefixes == ("conf",)
    assert parse("hash_jo*", "code").prefixes == ("hash_jo",)
    # invalid bodies degrade to plain analysis (the '*' is a separator)
    assert parse("foo-bar*").prefixes == ()
    assert parse("foo-bar*").terms == ("foo", "bar")
    assert parse("*").prefixes == () and parse("*").terms == ()
    # round-6 §3.24: a repeated/interior '*' is a WILDCARD group now
    # (pre-§3.24 this degraded to the plain term) — still not a prefix
    assert parse("s**").prefixes == () and parse("s**").wildcards == ("s**",)
    # round-6 §3.28: a trailing star on the LAST quoted token is now a
    # PHRASE-PREFIX (pre-§3.28 the '*' was a separator and this was the
    # plain phrase) — the body joins prefixes and the phrase keeps the
    # exact members only; an INTERIOR star stays a separator
    q = parse('"hash join*"')
    assert q.prefixes == ("join",) and q.phrases == (("hash",),)
    assert q.phrase_prefixes == ("join",)
    q2 = parse('"hash jo*in"')
    assert q2.prefixes == () and q2.phrases == (("hash", "jo", "in"),)
    # dedup, first-occurrence order
    assert parse("a* b* a*").prefixes == ("a", "b")


@pytest.mark.parametrize("q", PREFIX_QUERIES)
def test_prefix_paths_agree(spark, built, corpus, q):
    parsed = parse(q, attr_fields=("lang", "source"))
    naive = [
        (r["doc_id"], r["score"])
        for r in engine.run_query(corpus, parsed).collect()
    ]
    wand = _rounded(search_wand(built, parsed))
    rel = _rounded(search_index_relational(built, parsed))
    assert naive == wand, f"WAND differs for {q!r}"
    assert naive == rel, f"index-relational differs for {q!r}"


def test_prefix_matches_oracle(spark, built, duck):
    for q in PREFIX_QUERIES:
        parsed = parse(q, attr_fields=("lang", "source"))
        want = [
            (int(r[0]), float(r[1]))
            for r in duck.execute(oracles.bm25_sql(parsed)).fetchall()
        ]
        got = _rounded(search_wand(built, parsed))
        assert [d for d, _ in got] == [d for d, _ in want], q
        assert all(abs(a[1] - b[1]) < 1e-9 for a, b in zip(got, want)), q


def test_prefix_batch_equals_singles(spark, built, corpus):
    qs = {f"q{i}": parse(q) for i, q in enumerate(PREFIX_QUERIES[:5])}
    batch = search_wand_batch(built, qs, source_df=corpus.source)
    by_q: dict[str, list] = {}
    for r in batch.collect():
        by_q.setdefault(r["query_id"], []).append(
            (r["doc_id"], round(r["score"], 6))
        )
    for qid, p in qs.items():
        single = _rounded(search_wand(built, p, source_df=corpus.source))
        assert by_q.get(qid, []) == single, qid


def test_suggest_matches_oracle(built, duck):
    got = [(r["term"], r["df"]) for r in suggest_terms(built, "s", 4).collect()]
    want = [tuple(r) for r in duck.execute(oracles.suggest_sql("s", 4)).fetchall()]
    assert got == want
    # deterministic total order: full-vocab prefix, large n
    got_all = [(r["term"], r["df"]) for r in suggest_terms(built, "s", 100).collect()]
    want_all = [
        tuple(r) for r in duck.execute(oracles.suggest_sql("s", 100)).fetchall()
    ]
    assert got_all == want_all


def test_suggest_invalid_prefix_raises(built):
    for bad in ("", "a b", "A-", "\x01lang"):
        with pytest.raises(ValueError, match="one term shape"):
            suggest_terms(built, bad)


@pytest.mark.parametrize("body", ["sow", "joim", "hach", "the", "zzzz"])
def test_spell_matches_oracle(built, duck, body):
    """§3.18: the enumerated d<=1 probe must equal the declarative
    levenshtein predicate over the corpus vocabulary — including the
    d=0 self-match ('the') and the no-neighbor case ('zzzz')."""
    got = [(r["term"], r["df"]) for r in spell_suggest(built, body, 5).collect()]
    want = [tuple(r) for r in duck.execute(oracles.spell_sql(body, 5)).fetchall()]
    assert got == want, body


def test_spell_guards_raise(built):
    for bad in ("", "a b", "A-", "\x01lang", "x" * 65):
        with pytest.raises(ValueError, match="one term shape"):
            spell_suggest(built, bad)


def test_prefix_requires_df_rows_raises(built):
    """Index rows without the denormalized df are not layout v6: the
    wrapper raises at construction, before any prefix query or suggest_terms can run."""
    import dataclasses

    with pytest.raises(ValueError, match="lack df: not index layout v6"):
        dataclasses.replace(built, index_df=built.index_df.drop("df"))
