"""Result pages served by the shard scorer: the full-match-set mode of
``wand._score_plans`` against its declarative twin
``_index_match_scored`` across the query language, the per-page Spark
job counts it buys, and the escape-proof SQL literal that keeps the
pruned scan's plan construction at a fixed number of py4j round trips."""

from __future__ import annotations

import shutil

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from xsearch_spark.operators import wand
from xsearch_spark.plans.build_index import build_index
from xsearch_spark.plans.query import parse
from xsearch_spark.sources.io import read_documents

AF = ("lang", "source", "n_chars")


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("served_index"))
    bi = build_index(
        spark, read_documents(spark, SF_DIR), out, text_col="text",
        variant="base", docs_per_segment=128, segs_per_shard=2,
        num_buckets=16, attr_cols=AF, positions=True,
    )
    yield bi
    shutil.rmtree(out, ignore_errors=True)


# --- the SQL literal --------------------------------------------------------

FIXED_LITERALS = [
    "'", "\\", "${spark.app.name}", "\x01lang:x", "\U0001f600x\U00010348",
    "", "a'b\"c\\d", "' OR 1=1 --",
]


def _round_trip(spark, values):
    row = spark.range(1).select(
        *[F.expr(wand.sql_literal(v)).alias(f"c{i}") for i, v in enumerate(values)]
    ).collect()[0]
    return [row[f"c{i}"] for i in range(len(values))]


def test_sql_literal_fixed_cases(spark):
    assert _round_trip(spark, FIXED_LITERALS) == FIXED_LITERALS


@settings(
    max_examples=25, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(st.text(st.characters(codec="utf-8")), min_size=1, max_size=8))
def test_sql_literal_round_trips_any_text(spark, values):
    assert _round_trip(spark, values) == values


def test_pruned_scan_plan_cost_is_flat_in_terms(spark, built):
    """The pruned scan's filter is one SQL string: building its plan for
    400 terms makes the same number of py4j calls as for one term (a
    Column.isin list pays one call per literal). Memory commands, which
    py4j sends whenever Python drops a Java reference, are not calls."""
    from py4j.protocol import MEMORY_COMMAND_NAME

    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    calls = [0]

    def counting(command, *a, **kw):
        if not command.startswith(MEMORY_COMMAND_NAME):
            calls[0] += 1
        return orig(command, *a, **kw)

    def cost(terms):
        calls[0] = 0
        client.send_command = counting
        try:
            wand.pruned_index_scan(built.index_df, terms, built.num_buckets)
        finally:
            client.send_command = orig
        return calls[0]

    one = cost(["hash"])
    assert one > 0
    assert cost([f"t{i}" for i in range(400)]) == one


def test_pruned_scan_keeps_pushdown(spark, built):
    plan = wand.pruned_index_scan(
        built.index_df, ["hash", "join"], built.num_buckets
    )._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "bucket" in plan
    assert "In(term," in plan or "EqualTo(term," in plan


# --- served match set == relational twin -------------------------------------

SWEEP = [
    "hash join",                      # AND
    "hash OR join",                   # OR
    "hash -join",                     # NOT
    "s* -dup",                        # prefix
    "hsah~1 OR join",                 # fuzzy
    "h*sh OR scan",                   # wildcard
    "(hash OR join) spark",           # boolean group
    '"hash join"',                    # phrase
    '"hash join"~2 spark',            # proximity
    "hash OR join n_chars:150..900",  # numeric range
    "hash OR join source:src3",       # field:value
    "hash OR join lang:en",           # lang:
    "hash OR join OR scan min_match:2",
    "hash^2.5 OR join",               # boost
    "zzzznotaterm",                   # empty
]


def _pairs(df):
    return sorted((int(r["doc_id"]), round(r["score"], 6)) for r in df.collect())


@pytest.mark.parametrize("tombs", [False, True], ids=["live", "tombstoned"])
@pytest.mark.parametrize("q", SWEEP)
def test_served_match_set_equals_relational(spark, built, q, tombs):
    parsed = parse(q, attr_fields=AF)
    t = (
        spark.range(0, 1000, 5).select(F.col("id").alias("doc_id"))
        if tombs else None
    )
    got = _pairs(wand._served_matches(built, parsed, None, t))
    want = _pairs(wand._index_match_scored(built, parsed, None, t))
    assert got == want, q
    if q != "zzzznotaterm":
        assert got, q


@pytest.fixture(scope="module")
def nolang(spark, tmp_path_factory):
    """An index built with attr_cols=None: lang: comes from the source."""
    out = str(tmp_path_factory.mktemp("nolang_idx"))
    bi = build_index(
        spark, read_documents(spark, SF_DIR), out, text_col="text",
        docs_per_segment=128, segs_per_shard=2, num_buckets=16,
        attr_cols=None,
    )
    yield bi
    shutil.rmtree(out, ignore_errors=True)


def test_served_match_set_lang_fallback(spark, nolang):
    """attr_cols=None: lang: rides the scorer's doc-side rows and the
    relational allowlist join in the twin — same match set."""
    docs = read_documents(spark, SF_DIR)
    tombs = spark.range(0, 1000, 3).select(F.col("id").alias("doc_id"))
    for q in ("hash OR join lang:en", "s* lang:zh"):
        parsed = parse(q)
        for t in (None, tombs):
            got = _pairs(wand._served_matches(nolang, parsed, docs, t))
            want = _pairs(wand._index_match_scored(nolang, parsed, docs, t))
            assert got == want and got, q
    # an unindexed facet field joins the source on the served match set
    p = parse("hash OR join")
    got = sorted(
        (r["value"], r["n_docs"])
        for r in wand.facet_counts(nolang, p, "lang", docs).collect()
    )
    match = wand._index_match_scored(nolang, p, docs).select("doc_id")
    want = sorted(
        (r["lang"], r["count"])
        for r in docs.join(match, "doc_id").groupBy("lang").count().collect()
    )
    assert got == want and got


def test_served_values_per_distinct_array_element(spark, tmp_path):
    """An array attr field gives one served row per DISTINCT element of
    each matched doc (duplicates inside the array count once), and a
    doc without the field drops out."""
    rows = [
        (0, "alpha beta", ["x", "y", "x"]),
        (1, "alpha", ["y"]),
        (2, "alpha gamma", None),
        (3, "beta", ["x", "z"]),
        (4, "alpha", ["z", "z", "z"]),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, tags array<string>")
    bi = build_index(
        spark, docs, str(tmp_path / "tags_idx"), text_col="text",
        docs_per_segment=2, segs_per_shard=1, num_buckets=4,
        attr_cols=("tags",),
    )
    parsed = parse("alpha")
    spec = wand._attr_value_spec(bi, "value", "tags")
    served = sorted(
        (r["doc_id"], r["value"])
        for r in wand._served_matches(bi, parsed, None, None, spec).collect()
    )
    assert served == [(0, "x"), (0, "y"), (1, "y"), (4, "z")]
    got = {
        r["value"]: r["n_docs"]
        for r in wand.facet_counts(bi, parsed, "tags").collect()
    }
    assert got == {"x": 1, "y": 2, "z": 1}


# --- jobs per page ----------------------------------------------------------


def _jobs(spark, name, make) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        make().collect()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(name))


def test_page_ops_job_counts(spark, built, nolang):
    """One shard exchange, the scorer, then the page's own tail: facet
    counts, stats and histograms run in at most 3 Spark jobs (4 when the
    match set and the values were decoded apart and joined on doc_id),
    a sorted page in at most 2 (was 3). Tombstones and a source lang:
    allowlist are more rows of the scorer's own scan and take its one
    shard exchange: no job of their own (a cogroup shuffled them in a
    second exchange)."""
    docs = read_documents(spark, SF_DIR)
    tombs = spark.range(0, 1000, 5).select(F.col("id").alias("doc_id"))
    p = parse("hash OR join", attr_fields=AF)
    pages = {
        "facet_counts": (lambda: wand.facet_counts(built, p, "lang"), 3),
        "field_stats": (lambda: wand.field_stats(built, p, "n_chars"), 3),
        "facet_histogram": (
            lambda: wand.facet_histogram(built, p, "n_chars", 100), 3
        ),
        "search_sorted": (
            lambda: wand.search_sorted(built, p, "n_chars", k=10), 2
        ),
        "topk_tombstoned": (
            lambda: wand.search_wand(built, p, k=10, tombstones=tombs), 2
        ),
        "topk_source_lang": (
            lambda: wand.search_wand(
                nolang, parse("hash OR join lang:en"), k=10, source_df=docs
            ),
            2,
        ),
        "batch_source_lang_tombstoned": (
            lambda: wand.search_wand_batch(
                nolang,
                {"a": parse("hash lang:en"), "b": parse("join OR scan lang:zh")},
                k=10, source_df=docs, tombstones=tombs,
            ),
            3,
        ),
        "field_stats_tombstoned": (
            lambda: wand.field_stats(built, p, "n_chars", tombstones=tombs), 3
        ),
    }
    counts = {}
    for name, (make, limit) in pages.items():
        make().collect()  # warm: count the steady state
        counts[name] = (_jobs(spark, f"served_{name}", make), limit)
    assert all(0 < n <= limit for n, limit in counts.values()), counts
