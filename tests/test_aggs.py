"""Round-6 numeric aggregations over the match set (FIXTURES.md §3.17:
field_stats + facet_histogram), cursor pagination (§3.14 search_after),
grouped facet stats (§3.26 facet_stats), and match-set scroll/export
(§3.27 scan_docs): oracle parity, page-walk == offset-paging
equivalence, exact-int bucket floors across negatives, composition with
filters and tombstones, and fail-fast guards."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from xsearch_spark import oracles
from xsearch_spark.operators.wand import (
    facet_histogram,
    field_stats,
    search_sorted,
)
from xsearch_spark.plans.build_index import build_index
from xsearch_spark.plans.query import parse
from xsearch_spark.session import pushed_filters
from xsearch_spark.sources.io import read_documents

AF = ("lang", "source", "n_chars")


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("aggs_index"))
    bi = build_index(
        spark,
        read_documents(spark, SF_DIR),
        out,
        text_col="text",
        variant="base",
        docs_per_segment=128,
        segs_per_shard=2,
        num_buckets=16,
        attr_cols=AF,
        positions=True,
    )
    yield bi
    shutil.rmtree(out, ignore_errors=True)


STATS_QUERIES = [
    "hash OR join",
    "hash lang:en",  # attr filter composes
    "s* -dup n_chars:150..900",  # prefix + NOT + range compose
    "hash n_chars:9000..9999",  # empty match set
]


@pytest.mark.parametrize("q", STATS_QUERIES)
def test_field_stats_matches_oracle(spark, built, duck, q):
    parsed = parse(q, attr_fields=AF)
    got = field_stats(built, parsed, "n_chars").collect()[0]
    want = duck.execute(oracles.stats_sql(parsed, "n_chars")).fetchone()
    assert got["n_docs"] == want[0], q
    if want[0] == 0:
        assert got["min_value"] is None and got["sum_value"] is None
    else:
        assert (got["min_value"], got["max_value"], got["sum_value"]) == (
            want[1],
            want[2],
            want[3],
        ), q
        assert abs(got["avg_value"] - float(want[4])) < 1e-9, q


@pytest.mark.parametrize("q,interval", [
    ("hash OR join", 100),
    ("hash lang:en", 250),
    ("s* -dup n_chars:150..900", 64),  # non-decimal interval
])
def test_histogram_matches_oracle(spark, built, duck, q, interval):
    parsed = parse(q, attr_fields=AF)
    got = sorted(
        (r["bucket"], r["n_docs"])
        for r in facet_histogram(built, parsed, "n_chars", interval).collect()
    )
    want = sorted(
        (int(r[0]), int(r[1]))
        for r in duck.execute(
            oracles.histogram_sql(parsed, "n_chars", interval)
        ).fetchall()
    )
    assert got == want and len(got) > 0, q


def test_stats_histogram_respect_tombstones(spark, built, duck):
    """Both aggregations ride the scorer-served match set — the
    tombstone exclusion must thin them exactly like every other
    surface."""
    parsed = parse("hash OR join", attr_fields=AF)
    tombs = spark.range(0, 10**6, 7).select(F.col("id").alias("doc_id"))
    pred = "tf.doc_id % 7 <> 0"
    got = field_stats(built, parsed, "n_chars", tombstones=tombs).collect()[0]
    want = duck.execute(
        oracles.stats_sql(parsed, "n_chars", extra_doc_pred=pred)
    ).fetchone()
    assert (got["n_docs"], got["sum_value"]) == (want[0], want[3])
    ghist = sorted(
        (r["bucket"], r["n_docs"])
        for r in facet_histogram(
            built, parsed, "n_chars", 100, tombstones=tombs
        ).collect()
    )
    whist = sorted(
        (int(r[0]), int(r[1]))
        for r in duck.execute(
            oracles.histogram_sql(parsed, "n_chars", 100, extra_doc_pred=pred)
        ).fetchall()
    )
    assert ghist == whist


def test_histogram_negative_floor(spark, tmp_path):
    """Bucket floor must be the largest multiple <= value for NEGATIVE
    values too (exact int arithmetic, no float division): -1 at
    interval 100 lands in bucket -100, not 0."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": range(6),
            "text": ["alpha beta"] * 6,
            "delta": [-250, -100, -1, 0, 99, 100],
        }
    )
    out = str(tmp_path / "neg_hist_idx")
    bi = build_index(
        spark,
        spark.createDataFrame(pdf),
        out,
        text_col="text",
        docs_per_segment=4,
        segs_per_shard=2,
        num_buckets=4,
        attr_cols=("delta",),
    )
    parsed = parse("alpha", attr_fields=("delta",))
    got = dict(
        (r["bucket"], r["n_docs"])
        for r in facet_histogram(bi, parsed, "delta", 100).collect()
    )
    assert got == {-300: 1, -100: 2, 0: 2, 100: 1}
    shutil.rmtree(out, ignore_errors=True)


def test_search_after_walk_equals_offset_pages(spark, built, duck):
    """Walking the whole match set with search_after (cursor = last row
    of the previous page) must reproduce the offset paging of the same
    total order exactly, both directions — the frozen §3.14 semantic."""
    parsed = parse("hash OR join", attr_fields=AF)
    for asc in (False, True):
        full = [
            (int(r[0]), int(r[1]), float(r[2]))
            for r in duck.execute(
                oracles.sorted_sql(
                    parsed, "n_chars", ascending=asc, k=10**6, offset=0
                )
            ).fetchall()
        ]
        assert len(full) > 12
        walked: list[tuple[int, int, float]] = []
        cursor = None
        while True:
            page = search_sorted(
                built, parsed, "n_chars", ascending=asc, k=5, after=cursor
            ).collect()
            if not page:
                break
            walked.extend(
                (r["doc_id"], r["sort_value"], round(r["score"], 6)) for r in page
            )
            cursor = (page[-1]["sort_value"], page[-1]["doc_id"])
        assert [(d, v) for d, v, _ in walked] == [(d, v) for d, v, _ in full]
        assert all(abs(a[2] - round(b[2], 6)) < 1e-9 for a, b in zip(walked, full))


def test_search_after_matches_offset_oracle(spark, built, duck):
    """One cursor page == the equivalent LIMIT/OFFSET oracle rows (the
    driver-gate shape): page 2 after an ascending k=5 page 1."""
    parsed = parse("hash OR join n_chars:>=150", attr_fields=AF)
    p1 = search_sorted(built, parsed, "n_chars", ascending=True, k=5).collect()
    cur = (p1[-1]["sort_value"], p1[-1]["doc_id"])
    got = [
        (r["doc_id"], r["sort_value"])
        for r in search_sorted(
            built, parsed, "n_chars", ascending=True, k=10, after=cur
        ).collect()
    ]
    want = [
        (int(r[0]), int(r[1]))
        for r in duck.execute(
            oracles.sorted_sql(parsed, "n_chars", ascending=True, k=10, offset=5)
        ).fetchall()
    ]
    assert got == want and len(got) == 10


def test_after_cursor_bounds_the_attr_scan(spark, built):
    """The cursor must push an encoded-term bound into the attr-postings
    scan (the deep-paging lever): the untruncated PushedFilters of a
    descending cursor page carry a LessThanOrEqual on term."""
    parsed = parse("hash OR join", attr_fields=AF)
    desc = search_sorted(
        built, parsed, "n_chars", ascending=False, k=5, after=(300, 0)
    )
    assert any("LessThanOrEqual(term," in f for f in pushed_filters(desc))
    asc = search_sorted(
        built, parsed, "n_chars", ascending=True, k=5, after=(300, 0)
    )
    assert any("GreaterThanOrEqual(term," in f for f in pushed_filters(asc))


def test_pushed_filters_read_past_the_print_cut(spark, built):
    """A long fuzzy list ahead of a prefix pushes a StringStartsWith
    that the printed plan cuts off (~100 characters of metadata):
    pushed_filters reads it anyway."""
    from xsearch_spark.operators.wand import _sql_in

    fuzzy = [f"hsah{i:03d}" for i in range(40)]
    df = built.index_df.where(
        _sql_in("term", fuzzy) + " OR startswith(term, 'ha')"
    )
    printed = df._jdf.queryExecution().executedPlan().toString()
    assert "In(term," in printed and "StringStartsWith" not in printed
    (scan,) = pushed_filters(df)
    assert "In(term," in scan and "StringStartsWith(term,ha)" in scan


FACET_STATS_QUERIES = [
    ("hash OR join", "lang"),
    ("hash lang:en", "source"),  # attr filter composes; facet another
    ("s* -dup n_chars:150..900", "lang"),  # prefix + NOT + range
    ("hash n_chars:9000..9999", "lang"),  # empty match set -> 0 rows
]


@pytest.mark.parametrize("q,facet", FACET_STATS_QUERIES)
def test_facet_stats_matches_oracle(spark, built, duck, q, facet):
    """§3.26 grouped facet stats == the declarative GROUP BY oracle,
    bucket for bucket, across filters/prefixes/NOT/ranges and the
    empty match set."""
    from xsearch_spark.operators.wand import facet_stats

    parsed = parse(q, attr_fields=AF)
    got = sorted(
        (r["value"], r["n_docs"], r["min_value"], r["max_value"],
         r["sum_value"], round(r["avg_value"], 6))
        for r in facet_stats(built, parsed, facet, "n_chars").collect()
    )
    want = sorted(
        (r[0], int(r[1]), int(r[2]), int(r[3]), int(r[4]), round(float(r[5]), 6))
        for r in duck.execute(
            oracles.facet_stats_sql(parsed, facet, "n_chars")
        ).fetchall()
    )
    assert got == want, q


def test_facet_stats_respects_tombstones(spark, built, duck):
    from xsearch_spark.operators.wand import facet_stats

    parsed = parse("hash OR join", attr_fields=AF)
    tombs = spark.range(0, 10**6, 7).select(F.col("id").alias("doc_id"))
    got = sorted(
        (r["value"], r["n_docs"], r["sum_value"])
        for r in facet_stats(
            built, parsed, "lang", "n_chars", tombstones=tombs
        ).collect()
    )
    want = sorted(
        (r[0], int(r[1]), int(r[4]))
        for r in duck.execute(
            oracles.facet_stats_sql(
                parsed, "lang", "n_chars", extra_doc_pred="tf.doc_id % 7 <> 0"
            )
        ).fetchall()
    )
    assert got == want and len(got) > 0


def test_scan_walk_equals_offset_pages(spark, built, duck):
    """§3.27: walking the whole match set with doc_id cursors must
    reproduce the full doc_id-ordered match set exactly — no overlaps,
    no skips (the frozen cursor == offset equivalence)."""
    from xsearch_spark.operators.wand import scan_docs

    parsed = parse("hash OR join", attr_fields=AF)
    full = [
        (int(r[0]), float(r[1]))
        for r in duck.execute(
            oracles.scan_sql(parsed, k=10**6)
        ).fetchall()
    ]
    assert len(full) > 12
    walked: list[tuple[int, float]] = []
    cursor = None
    while True:
        page = scan_docs(built, parsed, k=5, after=cursor).collect()
        if not page:
            break
        walked.extend((r["doc_id"], round(r["score"], 6)) for r in page)
        cursor = page[-1]["doc_id"]
    assert [d for d, _ in walked] == [d for d, _ in full]
    assert all(abs(a[1] - b[1]) < 1e-9 for a, b in zip(walked, full))


def test_scan_page_matches_offset_oracle(spark, built, duck):
    """One §3.27 cursor page == the equivalent LIMIT/OFFSET oracle rows
    (the extras-entry shape), with an attr filter composed."""
    from xsearch_spark.operators.wand import scan_docs

    parsed = parse("lang:en hash OR join", attr_fields=AF)
    p1 = scan_docs(built, parsed, k=5).collect()
    got = [
        r["doc_id"]
        for r in scan_docs(built, parsed, k=10, after=p1[-1]["doc_id"]).collect()
    ]
    want = [
        int(r[0])
        for r in duck.execute(oracles.scan_sql(parsed, k=10, offset=5)).fetchall()
    ]
    assert got == want and len(got) > 0


@pytest.mark.parametrize("q,facet,pv", [
    ("hash OR join", "lang", 1),
    ("hash OR join", "lang", 3),
    ("s* -dup n_chars:150..900", "source", 2),  # prefix + NOT + range
    ("hash lang:en", "source", 1),  # attr filter composes
])
def test_collapse_matches_oracle(spark, built, duck, q, facet, pv):
    """§3.29 field collapse == the declarative ROW_NUMBER oracle —
    per-bucket selection and the global cut both in the rounded
    paging order."""
    from xsearch_spark.operators.wand import search_collapse

    parsed = parse(q, attr_fields=AF)
    got = [
        (r["doc_id"], r["value"], round(r["score"], 6))
        for r in search_collapse(built, parsed, facet, k=8, per_value=pv).collect()
    ]
    want = [
        (int(r[0]), r[1], round(float(r[2]), 6))
        for r in duck.execute(
            oracles.collapse_sql(parsed, facet, k=8, per_value=pv)
        ).fetchall()
    ]
    assert got == want and len(got) > 0, (q, facet, pv)


def test_collapse_large_per_value_is_plain_topk(spark, built, duck):
    """per_value >= the biggest bucket collapses nothing: the result is
    the plain rounded-order top-k with values attached."""
    from xsearch_spark.operators.wand import search_collapse

    parsed = parse("hash OR join", attr_fields=AF)
    got = [
        (r["doc_id"], round(r["score"], 6))
        for r in search_collapse(
            built, parsed, "lang", k=10, per_value=10**6
        ).collect()
    ]
    want = [
        (int(r[0]), round(float(r[1]), 6))
        for r in duck.execute(
            oracles.bm25_after_sql(parsed, k=10, offset=0)
        ).fetchall()
    ]
    assert got == want


@pytest.mark.parametrize("q,facet", [
    ("hash OR join", "lang"),
    ("hash OR join", "source"),
    ("s* -dup n_chars:150..900", "lang"),
    ("hash n_chars:9000..9999", "lang"),  # empty match -> 0
])
def test_cardinality_matches_oracle(spark, built, duck, q, facet):
    from xsearch_spark.operators.wand import facet_cardinality

    parsed = parse(q, attr_fields=AF)
    got = facet_cardinality(built, parsed, facet).collect()[0]["n_values"]
    want = duck.execute(oracles.cardinality_sql(parsed, facet)).fetchone()[0]
    assert got == int(want), (q, facet)


@pytest.mark.parametrize("q,edges", [
    ("hash OR join", [100, 250, 400]),
    ("hash lang:en", [-5, 0, 200, 10**9]),  # below-all and above-all edges
    ("s* -dup n_chars:150..900", [300]),
])
def test_range_facets_match_oracle(spark, built, duck, q, edges):
    from xsearch_spark.operators.wand import range_facets

    parsed = parse(q, attr_fields=AF)
    got = sorted(
        (r["bucket"], r["n_docs"])
        for r in range_facets(built, parsed, "n_chars", edges).collect()
    )
    want = sorted(
        (int(r[0]), int(r[1]))
        for r in duck.execute(
            oracles.range_facets_sql(parsed, "n_chars", edges)
        ).fetchall()
    )
    assert got == want and len(got) > 0, (q, edges)


@pytest.mark.parametrize("q,w", [
    ("hash OR join", 0.01),
    ("hash lang:en", -0.005),  # negative weight: away-from-zero round
    ("s* -dup n_chars:150..900", 0.002),  # prefix + NOT + range compose
    ("hash n_chars:9000..9999", 1.0),  # empty match set
])
def test_rescored_matches_oracle(spark, built, duck, q, w):
    """§3.31 field-value rescoring == the declarative combined-order
    oracle: one rounding after the sum, NULL-valued docs drop, doc_id
    tiebreak on the rounded key."""
    from xsearch_spark.operators.wand import search_rescored

    parsed = parse(q, attr_fields=AF)
    got = [
        (r["doc_id"], round(r["score"], 6))
        for r in search_rescored(built, parsed, "n_chars", w).collect()
    ]
    want = [
        (int(r[0]), round(float(r[1]), 6))
        for r in duck.execute(
            oracles.rescored_sql(parsed, "n_chars", w)
        ).fetchall()
    ]
    assert got == want, (q, w)


def test_rescored_zero_weight_is_rounded_topk(spark, built, duck):
    """weight = 0 degenerates to the plain rounded-order top-k
    restricted to docs carrying the field (the NULL rule is the only
    difference from §3.23 page 1)."""
    from xsearch_spark.operators.wand import search_rescored

    parsed = parse("hash OR join", attr_fields=AF)
    got = [
        (r["doc_id"], round(r["score"], 6))
        for r in search_rescored(built, parsed, "n_chars", 0.0).collect()
    ]
    want = [
        (int(r[0]), round(float(r[1]), 6))
        for r in duck.execute(
            oracles.bm25_after_sql(
                parsed, k=10, offset=0,
                extra_doc_pred="tf.doc_id IN (SELECT doc_id FROM documents "
                "WHERE n_chars IS NOT NULL)",
            )
        ).fetchall()
    ]
    assert got == want


def test_rescored_guards(spark, built):
    from xsearch_spark.operators.wand import search_rescored

    with pytest.raises(ValueError, match="num_attr_fields"):
        search_rescored(built, parse("hash", attr_fields=AF), "lang", 1.0)


def test_collapse_rounded_tie_picks_doc_id_asc(spark, tmp_path):
    """The frozen §3.29 ordering: identical docs (same text -> same
    rounded score) collapse to the LOWEST doc_ids per bucket — the
    rounded paging order's doc_id ASC tiebreak, deterministic on both
    sides by construction."""
    import pandas as pd

    from xsearch_spark.operators.wand import search_collapse
    from xsearch_spark.plans.build_index import build_index

    rows = []
    for d in range(12):
        rows.append((d, "alpha beta gamma", "g%d" % (d % 3)))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "grp"])
    out = str(tmp_path / "tie_idx")
    bi = build_index(
        spark, spark.createDataFrame(pdf), out,
        text_col="text", docs_per_segment=4, segs_per_shard=2,
        num_buckets=4, attr_cols=("grp",),
    )
    got = [
        (r["value"], r["doc_id"])
        for r in search_collapse(
            bi, parse("alpha"), "grp", k=12, per_value=2
        ).collect()
    ]
    # every score identical: per bucket g0/g1/g2 the two LOWEST doc_ids
    # survive (0,3 / 1,4 / 2,5), global order doc_id ASC then value
    assert sorted(got) == [
        ("g0", 0), ("g0", 3), ("g1", 1), ("g1", 4), ("g2", 2), ("g2", 5),
    ]
    shutil.rmtree(out, ignore_errors=True)


def test_collapse_cardinality_guards(spark, built):
    from xsearch_spark.operators.wand import range_facets, search_collapse

    with pytest.raises(ValueError, match="per_value"):
        search_collapse(built, parse("hash", attr_fields=AF), "lang", per_value=0)
    with pytest.raises(ValueError, match="per_value"):
        oracles.collapse_sql(parse("hash", attr_fields=AF), "lang", per_value=0)
    with pytest.raises(ValueError, match="strictly increasing"):
        range_facets(built, parse("hash", attr_fields=AF), "n_chars", [5, 5])
    with pytest.raises(ValueError, match="strictly increasing"):
        oracles.range_facets_sql(parse("hash", attr_fields=AF), "n_chars", [])
    with pytest.raises(ValueError, match="num_attr_fields"):
        range_facets(built, parse("hash", attr_fields=AF), "lang", [1])


def test_agg_guards_raise(spark, built):
    with pytest.raises(ValueError, match="mutually exclusive"):
        search_sorted(
            built, parse("hash", attr_fields=AF), "n_chars",
            offset=5, after=(1, 2),
        )
    with pytest.raises(ValueError, match="mutually exclusive"):
        oracles.sorted_sql(
            parse("hash", attr_fields=AF), "n_chars", offset=5, after=(1, 2)
        )
    with pytest.raises(ValueError, match="num_attr_fields"):
        field_stats(built, parse("hash", attr_fields=AF), "lang")
    with pytest.raises(ValueError, match="num_attr_fields"):
        facet_histogram(built, parse("hash", attr_fields=AF), "source", 10)
    with pytest.raises(ValueError, match="positive int"):
        facet_histogram(built, parse("hash", attr_fields=AF), "n_chars", 0)
    with pytest.raises(ValueError, match="positive int"):
        oracles.histogram_sql(parse("hash", attr_fields=AF), "n_chars", -5)
    from xsearch_spark.operators.wand import facet_stats, scan_docs

    # §3.26: the value field must be a numeric attr
    with pytest.raises(ValueError, match="num_attr_fields"):
        facet_stats(built, parse("hash", attr_fields=AF), "lang", "source")
    # §3.27: cursor and offset are mutually exclusive, both sides
    with pytest.raises(ValueError, match="mutually exclusive"):
        scan_docs(built, parse("hash", attr_fields=AF), k=5, after=3, offset=5)
    with pytest.raises(ValueError, match="mutually exclusive"):
        oracles.scan_sql(parse("hash", attr_fields=AF), k=5, after=3, offset=5)
