"""Round-6 numeric attributes (FIXTURES.md §3.13) and sort-by-field +
pagination (§3.14): order-preserving encoding, parse, range filters on
all engine paths vs the DuckDB oracle, numeric facets, equality
encoding, sorted pagination, compaction survival, and fail-fast
guards."""

from __future__ import annotations

import shutil

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from xsearch_spark import oracles
from xsearch_spark.constants import num_attr_decode, num_attr_encode
from xsearch_spark.operators.wand import (
    facet_counts,
    match_count,
    search_index_relational,
    search_sorted,
    search_wand,
    search_wand_batch,
)
from xsearch_spark.plans.build_index import build_index, load_index
from xsearch_spark.plans.query import parse
from xsearch_spark.sources.io import read_documents

AF = ("lang", "source", "n_chars")

RANGE_QUERIES = [
    "hash n_chars:400..900",  # two-sided range
    "hash OR join n_chars:>=500",  # OR + open upper
    "scan n_chars:<150 lang:en",  # open lower + attr filter stack
    "sow~1 n_chars:300..400",  # fuzzy group + range compose
    "d* n_chars:200..260",  # prefix group + range compose
    "hash n_chars:100..120 n_chars:110..400",  # two ranges AND-intersect
    "hash n_chars:9000..9999",  # empty interval -> 0 rows
]


@settings(max_examples=300, deadline=None)
@given(a=st.integers(-(2**63), 2**63 - 1), b=st.integers(-(2**63), 2**63 - 1))
def test_encoding_order_preserving(a: int, b: int):
    ea, eb = num_attr_encode(a), num_attr_encode(b)
    assert len(ea) == len(eb) == 20
    assert (ea < eb) == (a < b)
    assert num_attr_decode(ea) == a


def test_range_parse():
    p = parse("hash n_chars:400..900 n_chars:>10 n_chars:<=5", attr_fields=AF)
    assert p.ranges == (
        ("n_chars", 400, 900),
        ("n_chars", 11, None),
        ("n_chars", None, 5),
    )
    assert parse("hash n_chars:>=7", attr_fields=AF).ranges == (("n_chars", 7, None),)
    assert parse("hash n_chars:<7", attr_fields=AF).ranges == (("n_chars", None, 6),)
    # negative bounds
    assert parse("hash n_chars:-5..-1", attr_fields=AF).ranges == (("n_chars", -5, -1),)
    # equality stays an attr; undeclared field stays plain text
    assert parse("hash n_chars:123", attr_fields=AF).attrs == (("n_chars", "123"),)
    assert parse("hash n_chars:1..2").ranges == ()


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("num_index"))
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


def _rounded(df):
    return [(r["doc_id"], round(r["score"], 6)) for r in df.collect()]


def test_num_attr_classification(built):
    assert built.num_attr_fields == ("n_chars",)
    assert built.has_num_attr("n_chars") and not built.has_num_attr("lang")


@pytest.mark.parametrize("q", RANGE_QUERIES)
def test_range_paths_match_oracle(spark, built, duck, q):
    parsed = parse(q, attr_fields=AF)
    want = [
        (int(r[0]), float(r[1]))
        for r in duck.execute(oracles.bm25_sql(parsed)).fetchall()
    ]
    for name, fn in [("wand", search_wand), ("rel", search_index_relational)]:
        got = _rounded(fn(built, parsed))
        assert [d for d, _ in got] == [d for d, _ in want], f"{name}: {q}"
        assert all(abs(a[1] - b[1]) < 1e-9 for a, b in zip(got, want)), q
    cgot = match_count(built, parsed).collect()[0][0]
    assert cgot == duck.execute(oracles.match_count_sql(parsed)).fetchone()[0], q


def test_range_batch_equals_singles(spark, built):
    qs = {f"q{i}": parse(q, attr_fields=AF) for i, q in enumerate(RANGE_QUERIES[:4])}
    by_q: dict[str, list] = {}
    for r in search_wand_batch(built, qs).collect():
        by_q.setdefault(r["query_id"], []).append(
            (r["doc_id"], round(r["score"], 6))
        )
    for qid, p in qs.items():
        assert by_q.get(qid, []) == _rounded(search_wand(built, p)), qid


def test_numeric_equality_encodes(spark, built, duck):
    """Equality on a numeric attr must hit the encoded term — pick a
    value that actually exists so the test is not vacuous."""
    val = duck.execute(
        "SELECT n_chars FROM documents WHERE doc_id = 0"
    ).fetchone()[0]
    parsed = parse(f"the n_chars:{val}", attr_fields=AF)
    want = [
        (int(r[0]), float(r[1]))
        for r in duck.execute(oracles.bm25_sql(parsed)).fetchall()
    ]
    got = _rounded(search_wand(built, parsed))
    assert got == [(d, round(s, 6)) for d, s in want]
    assert len(got) > 0  # the value exists, 'the' is the hottest term


def test_numeric_facet_matches_oracle(spark, built, duck):
    parsed = parse("hash", attr_fields=AF)
    got = sorted(
        (int(r["value"]), int(r["n_docs"]))
        for r in facet_counts(built, parsed, "n_chars").collect()
    )
    want = sorted(
        (int(r[0]), int(r[1]))
        for r in duck.execute(oracles.facet_sql(parsed, "n_chars")).fetchall()
    )
    assert got == want and len(got) > 0


@pytest.mark.parametrize(
    "asc,offset", [(False, 0), (True, 0), (False, 5), (True, 7)]
)
def test_sorted_pagination_matches_oracle(spark, built, duck, asc, offset):
    parsed = parse("hash OR join", attr_fields=AF)
    got = [
        (r["doc_id"], r["sort_value"], round(r["score"], 6))
        for r in search_sorted(
            built, parsed, "n_chars", ascending=asc, k=10, offset=offset
        ).collect()
    ]
    want = [
        (int(r[0]), int(r[1]), float(r[2]))
        for r in duck.execute(
            oracles.sorted_sql(parsed, "n_chars", ascending=asc, k=10, offset=offset)
        ).fetchall()
    ]
    assert [(d, v) for d, v, _ in got] == [(d, v) for d, v, _ in want]
    assert all(abs(a[2] - b[2]) < 1e-9 for a, b in zip(got, want))


def test_sorted_composes_with_filters(spark, built, duck):
    parsed = parse("s* -dup lang:en n_chars:>=200", attr_fields=AF)
    got = [
        (r["doc_id"], r["sort_value"])
        for r in search_sorted(
            built, parsed, "n_chars", ascending=True, k=8, offset=2
        ).collect()
    ]
    want = [
        (int(r[0]), int(r[1]))
        for r in duck.execute(
            oracles.sorted_sql(parsed, "n_chars", ascending=True, k=8, offset=2)
        ).fetchall()
    ]
    assert got == want


def test_range_survives_compact(spark, built, duck, tmp_path):
    """Compaction rebuilds index rows — encoded numeric attr postings
    (and the sidecar's num_attr_fields) must survive it."""
    import shutil as sh

    from xsearch_spark.plans.admin import compact

    root = str(tmp_path / "cidx")
    sh.copytree(built.root, root)
    bi = load_index(spark, root)
    assert bi.num_attr_fields == ("n_chars",)
    compact(spark, bi)
    bi2 = load_index(spark, root)
    assert bi2.num_attr_fields == ("n_chars",)
    parsed = parse("hash n_chars:400..900", attr_fields=AF)
    got = _rounded(search_wand(bi2, parsed))
    want = [
        (int(r[0]), float(r[1]))
        for r in duck.execute(oracles.bm25_sql(parsed)).fetchall()
    ]
    assert [d for d, _ in got] == [d for d, _ in want]
    sh.rmtree(root, ignore_errors=True)


def test_negative_values_order(spark, tmp_path):
    """Signed values: the offset encoding keeps string order == numeric
    order across the sign boundary on a real index."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": range(6),
            "text": ["alpha beta"] * 6,
            "delta": [-100, -1, 0, 1, 99, -(2**62)],
        }
    )
    docs = spark.createDataFrame(pdf)
    out = str(tmp_path / "neg_idx")
    bi = build_index(
        spark,
        docs,
        out,
        text_col="text",
        docs_per_segment=4,
        segs_per_shard=2,
        num_buckets=4,
        attr_cols=("delta",),
    )
    assert bi.num_attr_fields == ("delta",)
    parsed = parse("alpha delta:-100..1", attr_fields=("delta",))
    got = sorted(r["doc_id"] for r in search_wand(bi, parsed).collect())
    assert got == [0, 1, 2, 3]
    shutil.rmtree(out, ignore_errors=True)


def test_guards_raise(spark, built):
    # range on a string attr / unindexed field
    with pytest.raises(ValueError, match="num_attr_fields"):
        search_wand(built, parse("hash source:1..5", attr_fields=AF))
    # sort on a non-numeric field
    with pytest.raises(ValueError, match="num_attr_fields"):
        search_sorted(built, parse("hash", attr_fields=AF), "lang")
    # non-integer equality literal on a numeric attr
    with pytest.raises(ValueError, match="integer value"):
        search_wand(built, parse("hash n_chars:abc", attr_fields=AF))


def test_float_attr_build_raises(spark, tmp_path):
    from xsearch_spark.operators.segments import numeric_attr_fields

    docs = read_documents(spark, SF_DIR).withColumn(
        "score_f", F.col("n_chars").cast("double")
    )
    with pytest.raises(ValueError, match="quantized"):
        numeric_attr_fields(docs.schema, ("score_f",))
