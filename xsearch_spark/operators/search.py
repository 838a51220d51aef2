"""Query-side operators, relational path (SURVEY.md Q2, Q4–Q7, Q10).

This is the declarative twin of xsearch's searcher loop (analyze query ->
dictionary lookup -> DAAT scoring -> local top-k heap -> merge; [R],
SURVEY.md §3.2). In Spark the same semantics compile to:

  * Q2 dictionary lookup  -> ``filter(term IN (...))`` — a literal IN
    over the handful of query terms, pushed to the parquet scan.
  * Q4 AND                -> groupBy(doc_id) HAVING count(term) = k
    (postings are (term,doc_id)-unique, so count == countDistinct).
  * Q5 OR                 -> same aggregate without the HAVING.
  * Q6 BM25               -> pure Column arithmetic (functions.bm25).
  * Q7 top-k              -> orderBy(score desc, doc_id asc).limit(k),
    which Spark plans as TakeOrderedAndProject: a per-partition heap on
    executors plus a driver merge — exactly the reference's
    per-shard-heap + proxy-merge topology (Q9), for free.
  * Q10 doc fetch         -> inner join of the tiny top-k back to the
    source table (AQE broadcasts the top-k side).

Stats discipline at scale: per-term df for the few query terms is tiny
-> broadcast joined; (N, avgdl) are plain Python floats folded into the
expression as literals (no join at all). The only big-table join is
postings ⋈ doc_stats on doc_id when dl is not denormalized into the
index (the packed segment path stores dl per posting precisely to avoid
that join — see operators.segments).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xsearch_spark.constants import DEFAULT_TOP_K
from xsearch_spark.functions.bm25 import bm25_weight_col, idf_col
from xsearch_spark.operators.build import CollectionStats
from xsearch_spark.plans.query import ParsedQuery


def _set_groups(parsed: ParsedQuery) -> list[list[str]]:
    """The query's term-SET groups as explicit member lists: fuzzy
    groups enumerate theirs (round-6, FIXTURES.md §3.12); boolean
    OR-groups give them explicitly (§3.19). Identical ">= 1 of the
    set, members score as bare terms" semantics, so every code path
    treats them as one list."""
    from xsearch_spark.constants import fuzzy_candidates

    return [
        list(fuzzy_candidates(b)) for b in parsed.fuzzies
    ] + [list(g) for g in parsed.groups]


def positive_term_pred(parsed: ParsedQuery):
    """Column-predicate factory for the query's POSITIVE scored-term
    membership (plain terms + prefix startswith + fuzzy/boolean group
    members) — the ONE source of relational match truth, shared by
    score_postings and explain_score."""
    from xsearch_spark.constants import wildcard_regex

    prefixes = list(parsed.prefixes)
    wildcards = list(parsed.wildcards)
    set_groups = _set_groups(parsed)

    def term_pred(col: "F.Column") -> "F.Column":
        cond = col.isin(list(parsed.terms)) if parsed.terms else F.lit(False)
        for p in prefixes:
            cond = cond | col.startswith(p)
        for w in wildcards:  # §3.24: anchored glob membership
            cond = cond | col.rlike(wildcard_regex(w))
        for g in set_groups:
            cond = cond | col.isin(g)
        return cond

    return term_pred


def score_postings(
    postings_df: DataFrame,
    term_stats_df: DataFrame | None,
    doc_stats_df: DataFrame | None,
    stats: CollectionStats,
    parsed: ParsedQuery,
) -> DataFrame:
    """Score candidate docs for the parsed query -> (doc_id, score).

    ``postings_df``: (term, doc_id, tf[, dl[, df]]). If ``dl`` is already
    a column (denormalized index), pass ``doc_stats_df=None`` and the big
    doc-stats join is skipped entirely. If ``df`` is also a column (index
    rows carry the global per-term df), pass ``term_stats_df=None`` and
    the term-stats join is skipped too — the whole score is computed
    from the pruned scan.

    Prefix groups (round-6, FIXTURES.md §3.10): ``parsed.prefixes``
    widen the term predicate with ``startswith`` disjuncts; expansions
    are scored exactly like bare terms (postings are (term, doc_id)-
    unique, so the per-doc weight sum counts each distinct term once
    even when it is both a plain term and an expansion). Under AND each
    group contributes a per-doc "matched >= 1" flag alongside the
    plain-term count. Fuzzy groups (round-6, FIXTURES.md §3.12) are the
    same shape with membership in the exactly-enumerated d=1
    neighborhood (an IN literal) instead of ``startswith``.
    """
    from xsearch_spark.constants import wildcard_regex

    prefixes = list(parsed.prefixes)
    wildcards = list(parsed.wildcards)
    fuzzy_groups = _set_groups(parsed)
    if not parsed.terms and not prefixes and not wildcards and not fuzzy_groups:
        return postings_df.sparkSession.createDataFrame(
            [], "doc_id long, score double"
        )
    term_pred = positive_term_pred(parsed)
    q = postings_df.filter(term_pred(F.col("term")))
    if "df" not in q.columns:
        if term_stats_df is None:
            raise ValueError("postings lack df and no term_stats provided")
        ts = term_stats_df.filter(term_pred(F.col("term")))
        q = q.join(F.broadcast(ts), "term")
    if "dl" not in q.columns:
        if doc_stats_df is None:
            raise ValueError("postings lack dl and no doc_stats provided")
        q = q.join(doc_stats_df, "doc_id")
    idf = idf_col(stats.n_docs, F.col("df").cast("double"))
    w = bm25_weight_col(idf, F.col("tf"), F.col("dl"), stats.avgdl)
    # per-term boosts (round-6 §3.15): multiply the weight — same fold
    # as the scorer path's idf scaling (dict() keeps the LAST
    # declaration of a repeated term, matching boost_of)
    for t, b in dict(parsed.boosts).items():
        w = F.when(F.col("term") == t, w * F.lit(b)).otherwise(w)
    scored = q.select("doc_id", "term", w.alias("w"))
    aggs = [F.sum("w").alias("score")]
    if parsed.terms:
        aggs.append(
            F.count(
                F.when(F.col("term").isin(list(parsed.terms)), F.lit(1))
            ).alias("n_terms")
        )
    for i, p in enumerate(prefixes):
        aggs.append(
            F.max(
                F.when(F.col("term").startswith(p), F.lit(1)).otherwise(F.lit(0))
            ).alias(f"_pfx{i}")
        )
    for i, g in enumerate(fuzzy_groups):
        aggs.append(
            F.max(
                F.when(F.col("term").isin(g), F.lit(1)).otherwise(F.lit(0))
            ).alias(f"_fz{i}")
        )
    for i, wc in enumerate(wildcards):  # §3.24: glob-membership flags
        aggs.append(
            F.max(
                F.when(
                    F.col("term").rlike(wildcard_regex(wc)), F.lit(1)
                ).otherwise(F.lit(0))
            ).alias(f"_wc{i}")
        )
    agg = scored.groupBy("doc_id").agg(*aggs)
    group_flags = (
        [f"_pfx{i}" for i in range(len(prefixes))]
        + [f"_fz{i}" for i in range(len(fuzzy_groups))]
        + [f"_wc{i}" for i in range(len(wildcards))]
    )
    if parsed.connective == "AND":
        if parsed.terms:
            agg = agg.filter(F.col("n_terms") == len(parsed.terms))
        for flag in group_flags:
            agg = agg.filter(F.col(flag) == 1)
    elif parsed.min_match:
        # §3.20: >= min_match satisfied clauses (plain terms count
        # individually; each group's >= 1 flag contributes one)
        sat = F.col("n_terms") if parsed.terms else F.lit(0)
        for flag in group_flags:
            sat = sat + F.col(flag)
        agg = agg.filter(sat >= F.lit(parsed.min_match))
    return agg.select("doc_id", "score")


def _slot_conds(
    phrase: tuple[str, ...], prefix_body: str = ""
) -> "list":
    """Per-slot token predicates: exact equality for the phrase
    members, plus — for a §3.28 phrase-prefix — one final startswith
    slot matched by ANY token under the body."""
    conds = [
        (lambda tok, w=w: tok == F.lit(w)) for w in phrase
    ]
    if prefix_body:
        conds.append(lambda tok, b=prefix_body: tok.startswith(b))
    return conds


def phrase_match_col(
    tokens: "F.Column", phrase: tuple[str, ...], prefix_body: str = ""
) -> "F.Column":
    """True iff the token array contains the phrase's terms at
    consecutive positions in order — a pure Column expression (exists
    over start offsets), the same shape as the DuckDB oracle's
    list_filter(generate_series) predicate. ``prefix_body`` (§3.28):
    one extra final slot matched by any token with the prefix."""
    conds = _slot_conds(phrase, prefix_body)
    k = len(conds)
    idxs = F.sequence(F.lit(1), F.size(tokens) - F.lit(k - 1))

    def hit(i):
        cond = conds[0](F.element_at(tokens, i))
        for j in range(1, k):
            cond = cond & conds[j](F.element_at(tokens, i + F.lit(j)))
        return cond

    return F.when(F.size(tokens) >= k, F.exists(idxs, hit)).otherwise(F.lit(False))


def proximity_match_col(
    tokens: "F.Column", phrase: tuple[str, ...], slop: int, prefix_body: str = ""
) -> "F.Column":
    """True iff the token array matches the phrase within an ordered
    window (FIXTURES.md §3.8): positions i_1 < … < i_m with t[i_j] =
    w_j and i_m - i_1 <= (m-1) + slop — nested EXISTS over index
    ranges, the Column-expression twin of the scorer's greedy chain
    and the DuckDB oracle's nested lambdas. ``F.sequence(a, b)``
    DESCENDS when a > b, so every level guards ``lo <= hi`` explicitly
    (an exhausted window must be empty, not reversed). ``prefix_body``
    (§3.28): one extra final startswith slot, window widened by one."""
    conds = _slot_conds(phrase, prefix_body)
    m = len(conds)
    n = F.size(tokens)
    bound = m - 1 + slop

    def level(j, prev_i, i0):
        lo = prev_i + F.lit(1)
        hi = F.least(i0 + F.lit(bound), n)

        def hit(i):
            c = conds[j](F.element_at(tokens, i))
            if j + 1 < m:
                c = c & level(j + 1, i, i0)
            return c

        return F.when(lo <= hi, F.exists(F.sequence(lo, hi), hit)).otherwise(
            F.lit(False)
        )

    def hit0(i):
        c = conds[0](F.element_at(tokens, i))
        if m > 1:
            c = c & level(1, i, i)
        return c

    return F.when(n >= m, F.exists(F.sequence(F.lit(1), n), hit0)).otherwise(
        F.lit(False)
    )


def apply_doc_filters(
    scored: DataFrame,
    postings_df: DataFrame,
    source_df: DataFrame | None,
    parsed: ParsedQuery,
    allowed_df: DataFrame | None = None,
    attr_allowed_dfs: list[DataFrame] | None = None,
    tokenized_df: DataFrame | None = None,
) -> DataFrame:
    """Q5b field filter (lang: / generic field:value) and NOT (-term) as
    semi/anti joins.

    ``allowed_df``: pre-computed (doc_id) allowlist for the lang filter —
    a v5 index passes the decoded synthetic attr posting here so the
    source table is never scanned; without it the allowlist comes from
    filtering ``source_df``. ``attr_allowed_dfs``: the same, one per
    ``parsed.attrs`` entry (positionally aligned); when absent the
    filters fall back to equality predicates on ``source_df`` (the
    naive/no-index path)."""
    out = scored
    if parsed.lang is not None:
        if allowed_df is not None:
            out = out.join(allowed_df.select("doc_id"), "doc_id", "left_semi")
        elif source_df is not None:
            allowed = source_df.filter(F.col("lang") == parsed.lang).select("doc_id")
            out = out.join(allowed, "doc_id", "left_semi")
        else:
            raise ValueError("lang: filter requires the source table")
    for i, (fld, val) in enumerate(parsed.attrs):
        adf = attr_allowed_dfs[i] if attr_allowed_dfs else None
        if adf is not None:
            out = out.join(adf.select("doc_id"), "doc_id", "left_semi")
        elif source_df is not None:
            from pyspark.sql.types import ArrayType

            col_type = dict(
                (f.name, f.dataType) for f in source_df.schema.fields
            ).get(fld)
            pred = (
                F.array_contains(F.col(fld), val)
                if isinstance(col_type, ArrayType)
                else F.col(fld) == val
            )  # multi-value attrs: membership, not equality
            out = out.join(
                source_df.filter(pred).select("doc_id"), "doc_id", "left_semi"
            )
        else:
            raise ValueError(f"{fld}: filter requires the source table")
    for fld, lo, hi in parsed.ranges:
        # numeric range filter (round-6 §3.13), no-index fallback: a
        # plain predicate semi-join on the source table (the index path
        # serves it from the encoded attr postings instead)
        if source_df is None:
            raise ValueError(f"{fld}: range filter requires the source table")
        pred = F.lit(True)
        if lo is not None:
            pred = pred & (F.col(fld) >= F.lit(lo))
        if hi is not None:
            pred = pred & (F.col(fld) <= F.lit(hi))
        out = out.join(
            source_df.filter(pred).select("doc_id"), "doc_id", "left_semi"
        )
    for pi, ph in enumerate(parsed.phrases):
        if tokenized_df is None:
            raise ValueError(
                "phrase filter on the no-index path requires the tokenized "
                "corpus (pass tokenized_df) — the index path reads the v6 "
                "positional stream instead"
            )
        from xsearch_spark.plans.query import phrase_prefix, phrase_slop

        slop = phrase_slop(parsed, pi)
        body = phrase_prefix(parsed, pi)
        pred = (
            phrase_match_col(F.col("tokens"), ph, body)
            if slop == 0
            else proximity_match_col(F.col("tokens"), ph, slop, body)
        )
        match = tokenized_df.filter(pred).select("doc_id")
        out = out.join(match, "doc_id", "left_semi")
    ex_prefixes = parsed.exclude_prefixes
    ex_fuzzies = parsed.exclude_fuzzies
    ex_groups = parsed.exclude_groups
    ex_wildcards = parsed.exclude_wildcards
    if parsed.exclude or ex_prefixes or ex_fuzzies or ex_groups or ex_wildcards:
        from xsearch_spark.constants import fuzzy_candidates, wildcard_regex

        cond = (
            F.col("term").isin(list(parsed.exclude))
            if parsed.exclude
            else F.lit(False)
        )
        for p in ex_prefixes:  # round-6: -body* drops docs containing
            cond = cond | F.col("term").startswith(p)  # ANY prefixed term
        for b in ex_fuzzies:  # round-6: -body~1 drops docs containing
            cond = cond | F.col("term").isin(list(fuzzy_candidates(b)))
        for g in ex_groups:  # round-6 §3.19: -(a OR b) drops docs
            cond = cond | F.col("term").isin(list(g))  # with ANY member
        for wc in ex_wildcards:  # round-6 §3.24: -pat drops docs with
            cond = cond | F.col("term").rlike(wildcard_regex(wc))
        bad = postings_df.filter(cond).select("doc_id").distinct()
        out = out.join(bad, "doc_id", "left_anti")
    return out


def top_k(scored: DataFrame, k: int = DEFAULT_TOP_K) -> DataFrame:
    """Q7: exact top-k, ties by ascending doc_id -> TakeOrderedAndProject."""
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def fetch_docs(topk: DataFrame, source_df: DataFrame, cols: list[str]) -> DataFrame:
    """Q10: join the tiny top-k result back to the doc store. ``content``
    is never re-emitted (column pruning keeps it out of the scan)."""
    return topk.join(source_df.select("doc_id", *cols), "doc_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


def highlight_matches(
    topk: DataFrame,
    source_df: DataFrame,
    terms: tuple[str, ...],
    text_col: str = "text",
    context: int = 30,
) -> DataFrame:
    """Q10+ (round-6): per-term first-occurrence highlight spans for the
    top-k result -> (doc_id, score, term, char_start, char_end,
    snippet), one row per (doc, query term present in it).

    ``char_start``/``char_end`` are 1-based inclusive character
    positions of the first occurrence of ``term`` AS A TOKEN (not a
    substring — 'scan' inside 'rescanned' never matches), computed with
    the same separator-run prefix sums as ``textops.chunk_docs``:
    splitting lower(text) by TOKEN_RUN_REGEX yields sep_0 tok_1 sep_1 …,
    so start(tok_i) = Σlen(sep_0..i-1) + Σlen(tok_1..i-1) + 1. The
    snippet is ``substr(text, max(1, char_start - context),
    char_end + context - that + 1)`` — original case and punctuation,
    clamped to the document bounds by substr itself. Same
    length-preserving-lowercase caveat as chunk_docs.

    Scale shape: the expensive side is k rows (the top-k), so the join
    broadcasts the result against the doc store and every span is a
    pure Column expression over those k fetched docs — one map-only
    stage after the fetch, no UDF, no shuffle beyond the Q10 join."""
    from xsearch_spark.constants import TOKEN_RUN_REGEX
    from xsearch_spark.functions.tokenize import tokenize_base_col

    fetched = topk.join(source_df.select("doc_id", text_col), "doc_id")
    d = fetched.select(
        "doc_id",
        "score",
        F.col(text_col).alias("_text"),
        tokenize_base_col(F.col(text_col)).alias("_toks"),
        F.split(F.lower(F.col(text_col)), TOKEN_RUN_REGEX).alias("_seps"),
    ).withColumn("term", F.explode(F.array(*[F.lit(t) for t in terms])))
    d = d.withColumn(
        "_fi", F.array_position(F.col("_toks"), F.col("term")).cast("int")
    ).filter(F.col("_fi") > 0)

    def len_sum(arr):  # Σ length over an array slice (0 on empty slice)
        return F.aggregate(arr, F.lit(0), lambda a, x: a + F.length(x))

    char_start = (
        len_sum(F.slice(F.col("_seps"), 1, F.col("_fi")))
        + len_sum(F.slice(F.col("_toks"), 1, F.col("_fi") - F.lit(1)))
        + F.lit(1)
    )
    char_end = char_start + F.length(F.col("term")) - F.lit(1)
    snip_start = F.greatest(F.lit(1), char_start - F.lit(context))
    snip_len = char_end + F.lit(context) - snip_start + F.lit(1)
    return d.select(
        "doc_id",
        "score",
        "term",
        char_start.cast("long").alias("char_start"),
        char_end.cast("long").alias("char_end"),
        F.col("_text").substr(snip_start, snip_len).alias("snippet"),
    )


def highlight_phrase(
    topk: DataFrame,
    source_df: DataFrame,
    phrase: tuple[str, ...],
    prefix_body: str = "",
    text_col: str = "text",
    context: int = 30,
) -> DataFrame:
    """Phrase highlight (round-6, FIXTURES.md §3.33): the 1-based
    inclusive char span of the FIRST adjacency window of ``phrase`` in
    each top-k doc -> (doc_id, score, char_start, char_end, snippet) —
    char_start at the window's first token, char_end at the last
    token's final char, ±context snippet. ``prefix_body`` (§3.28): one
    extra final slot matched by any token under the prefix, exactly
    the phrase-prefix window. Adjacency only (slop phrases highlight
    per-term via ``highlight_matches`` — the first GREEDY slop window
    is not a frozen span); docs without a window drop.

    Same scale shape as ``highlight_matches``: k fetched rows, pure
    Column expressions (F.filter finds the first window start), the
    separator-run prefix sums shared with chunk_docs — no UDF, no
    extra shuffle."""
    from xsearch_spark.constants import TOKEN_RUN_REGEX
    from xsearch_spark.functions.tokenize import tokenize_base_col

    conds = _slot_conds(tuple(phrase), prefix_body)
    m = len(conds)
    if m < 1:
        raise ValueError("highlight_phrase needs a non-empty phrase")
    fetched = topk.join(source_df.select("doc_id", text_col), "doc_id")
    d = fetched.select(
        "doc_id",
        "score",
        F.col(text_col).alias("_text"),
        tokenize_base_col(F.col(text_col)).alias("_toks"),
        F.split(F.lower(F.col(text_col)), TOKEN_RUN_REGEX).alias("_seps"),
    )
    idxs = F.sequence(F.lit(1), F.size("_toks") - F.lit(m - 1))

    def hit(i):
        c = conds[0](F.element_at(F.col("_toks"), i))
        for j in range(1, m):
            c = c & conds[j](F.element_at(F.col("_toks"), i + F.lit(j)))
        return c

    firsts = F.when(F.size("_toks") >= m, F.filter(idxs, hit)).otherwise(
        F.array()
    )
    # try_element_at: an empty firsts array (no window) is NULL, not an
    # error (Spark 4 element_at is strict out-of-bounds)
    d = d.withColumn("_fi", F.try_element_at(firsts, F.lit(1)).cast("int")).filter(
        F.col("_fi").isNotNull()
    )

    def len_sum(arr):  # Σ length over an array slice (0 on empty slice)
        return F.aggregate(arr, F.lit(0), lambda a, x: a + F.length(x))

    def tok_start(i):  # 1-based char start of token i (prefix sums)
        return (
            len_sum(F.slice(F.col("_seps"), 1, i))
            + len_sum(F.slice(F.col("_toks"), 1, i - F.lit(1)))
            + F.lit(1)
        )

    ei = F.col("_fi") + F.lit(m - 1)
    char_start = tok_start(F.col("_fi"))
    char_end = (
        tok_start(ei) + F.length(F.element_at(F.col("_toks"), ei)) - F.lit(1)
    )
    snip_start = F.greatest(F.lit(1), char_start - F.lit(context))
    snip_len = char_end + F.lit(context) - snip_start + F.lit(1)
    return d.select(
        "doc_id",
        "score",
        char_start.cast("long").alias("char_start"),
        char_end.cast("long").alias("char_end"),
        F.col("_text").substr(snip_start, snip_len).alias("snippet"),
    )


def search_relational(
    source_df: DataFrame,
    postings_df: DataFrame,
    term_stats_df: DataFrame,
    doc_stats_df: DataFrame | None,
    stats: CollectionStats,
    parsed: ParsedQuery,
    k: int = DEFAULT_TOP_K,
    tokenized_df: DataFrame | None = None,
) -> DataFrame:
    """Full Q1→Q7 pipeline over long-form postings -> (doc_id, score).
    ``tokenized_df``: (doc_id, tokens) — required only for phrase
    queries on this no-index path."""
    scored = score_postings(postings_df, term_stats_df, doc_stats_df, stats, parsed)
    scored = apply_doc_filters(
        scored, postings_df, source_df, parsed, tokenized_df=tokenized_df
    )
    return top_k(scored, k)
