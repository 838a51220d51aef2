"""Round-6 score explanation (FIXTURES.md §3.22): per-term breakdown
vs the DuckDB oracle, the sum(weight) == search-score pin, membership
across prefix/fuzzy/boolean groups and boosts, and the guards."""

from __future__ import annotations

import shutil

import pytest

from tests.conftest import SF_DIR
from xsearch_spark import oracles
from xsearch_spark.operators.wand import explain_score, search_wand
from xsearch_spark.plans.build_index import build_index
from xsearch_spark.plans.query import parse
from xsearch_spark.sources.io import read_documents

EXPLAIN_QUERIES = [
    "hash join",  # plain AND
    "hash OR join OR scan",  # OR
    "hash^2.5 join",  # boost folds into weight
    "d* join",  # prefix expansions are scored members
    "sort sow~1",  # fuzzy members
    "(hash OR join) sort",  # boolean-group members
    "hash -join lang:en",  # filters/exclusions NOT re-evaluated
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("xpl_index"))
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


@pytest.mark.parametrize("q", EXPLAIN_QUERIES)
def test_explain_matches_oracle(spark, built, duck, q):
    parsed = parse(q)
    # explain the top hit of the closest runnable search (drop the
    # NOT/lang so the doc set is non-empty for every shape)
    probe = parse(q.replace("-join", "").replace("lang:en", ""))
    top = search_wand(built, probe).collect()
    assert top, q
    d = int(top[0]["doc_id"])
    got = [tuple(r) for r in explain_score(built, parsed, d).collect()]
    want = [tuple(r) for r in duck.execute(oracles.explain_sql(parsed, d)).fetchall()]
    assert [
        (t, tf, dl, df, round(i, 6), round(w, 6)) for t, tf, dl, df, i, w in got
    ] == [
        (t, int(tf), int(dl), int(df), round(float(i), 6), round(float(w), 6))
        for t, tf, dl, df, i, w in want
    ], q


def test_explain_sums_to_search_score(spark, built):
    """For a doc in the match set, sum(weight) == its search score
    (round-6 precision on both) — the explain rows ARE the score."""
    for q in ["hash join", "hash OR join OR scan", "hash^2.5 join", "d* join"]:
        parsed = parse(q)
        for row in search_wand(built, parsed).collect()[:3]:
            rows = explain_score(built, parsed, int(row["doc_id"])).collect()
            assert rows, (q, row)
            # each row's weight is rounded to 6 decimals, so the sum
            # can drift from the raw score by <= n_rows * 5e-7
            drift = len(rows) * 5e-7
            assert abs(sum(r["weight"] for r in rows) - row["score"]) <= drift, (
                q,
                row["doc_id"],
            )


def test_explain_absent_doc_or_terms_empty(spark, built):
    assert explain_score(built, parse("hash"), 10**12).collect() == []
    assert explain_score(built, parse("zzzznotaterm"), 0).collect() == []


def test_explain_requires_df_rows_raises(built):
    """Index rows without the denormalized df are not layout v6: the
    wrapper raises at construction, before explain_score can run."""
    import dataclasses

    with pytest.raises(ValueError, match="lack df: not index layout v6"):
        dataclasses.replace(built, index_df=built.index_df.drop("df"))
