"""DuckDB oracle-SQL generators.

Every SQL string the driver (or our pytest suite) runs against DuckDB is
generated HERE, from the same frozen constants the engine uses
(SURVEY.md §5 hard part #4: tokenizer/BM25 parity is enforced by
construction, not by keeping two copies in sync).

All scores are emitted as ``round(score, 6)`` on both sides — Spark and
DuckDB agree to 1 ulp but not bit-exactly (measured, SURVEY.md §5.2).
"""

from __future__ import annotations

from xsearch_spark.constants import (
    SCORE_ROUND_DECIMALS,
    TOKEN_SPLIT_REGEX,
    bm25_weight_sql,
    idf_sql,
    wildcard_regex,
)
from xsearch_spark.plans.query import ParsedQuery

R = SCORE_ROUND_DECIMALS


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _no_positive(parsed: ParsedQuery) -> bool:
    """True when the query has no positive membership source at all (no
    plain terms, no prefix/fuzzy/boolean group) — the match set is
    empty by construction."""
    return not (
        parsed.terms
        or parsed.prefixes
        or parsed.fuzzies
        or parsed.groups
        or parsed.wildcards
    )


def _doc_attr_filters(
    parsed: ParsedQuery, table_expr: str, array_fields: tuple[str, ...] = ()
) -> str:
    """lang: plus generic field:value filters (v5 attrs) as doc-id
    IN-subqueries over the source table — the declarative statement of
    what the engine's synthetic attr posting intersection computes.
    ``array_fields``: attr columns that are ARRAY-typed in the source —
    the engine indexes each element, so the filter is MEMBERSHIP
    (``list_contains``), not equality (round-5 advisor: the scalar form
    would silently diverge on an array column)."""
    out = ""
    if parsed.lang is not None:
        out += (
            f"AND tf.doc_id IN (SELECT doc_id FROM {table_expr} "
            f"WHERE lang = {_sql_quote(parsed.lang)})"
        )
    for fld, val in parsed.attrs:
        pred = (
            f"list_contains({fld}, {_sql_quote(val)})"
            if fld in array_fields
            else f"{fld} = {_sql_quote(val)}"
        )
        out += (
            f" AND tf.doc_id IN (SELECT doc_id FROM {table_expr} "
            f"WHERE {pred})"
        )
    for fld, lo, hi in parsed.ranges:
        # numeric range filters (round-6 §3.13): plain comparisons over
        # the source column — the declarative twin of the engine's
        # encoded term-interval scan
        conds = []
        if lo is not None:
            conds.append(f"{fld} >= {int(lo)}")
        if hi is not None:
            conds.append(f"{fld} <= {int(hi)}")
        pred = " AND ".join(conds) or "TRUE"
        out += (
            f" AND tf.doc_id IN (SELECT doc_id FROM {table_expr} "
            f"WHERE {pred})"
        )
    return out


def tokens_cte(table: str = "documents", text_col: str = "text") -> str:
    """tok(doc_id, term): the frozen base tokenizer in DuckDB SQL."""
    rgx = _sql_quote(TOKEN_SPLIT_REGEX)
    return (
        f"tok AS (SELECT doc_id, u AS term FROM (SELECT doc_id, "
        f"unnest(string_split_regex(lower({text_col}), {rgx})) AS u FROM {table}) "
        f"WHERE u <> '')"
    )


def corpus_ctes(table: str = "documents", text_col: str = "text") -> str:
    """tok, tf, dl, stats, tdf — the shared relational index CTEs."""
    rgx = _sql_quote(TOKEN_SPLIT_REGEX)
    return f"""
{tokens_cte(table, text_col)},
tf AS (SELECT term, doc_id, count(*)::INT AS tf FROM tok GROUP BY term, doc_id),
dl AS (SELECT doc_id,
              len(list_filter(string_split_regex(lower({text_col}), {rgx}), x -> x <> '')) AS dl
       FROM {table}),
stats AS (SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
tdf AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
"""


def tf_sql(table: str = "documents") -> str:
    return f"WITH {tokens_cte(table)} SELECT term, doc_id, count(*)::INT AS tf FROM tok GROUP BY term, doc_id"


def tf_cjk_sql(table: str = "documents", text_col: str = "text") -> str:
    """tf under the cjk analyzer variant: base tokens UNION ALL the
    per-CJK-run character bigrams (single-char runs emit the char) —
    RE2's \\x{..} class matches Java's, so the run regex is shared
    verbatim from constants."""
    from xsearch_spark.constants import CJK_RUN_REGEX_ENGINE

    rgx = _sql_quote(TOKEN_SPLIT_REGEX)
    crgx = _sql_quote(CJK_RUN_REGEX_ENGINE)
    return f"""
WITH base_tok AS (
  SELECT doc_id, u AS term FROM (SELECT doc_id,
    unnest(string_split_regex(lower({text_col}), {rgx})) AS u FROM {table})
  WHERE u <> ''
),
runs AS (
  SELECT doc_id, unnest(regexp_extract_all({text_col}, {crgx})) AS run FROM {table}
),
bigram_tok AS (
  SELECT doc_id, unnest(
    CASE WHEN length(run) = 1 THEN [run]
         ELSE list_transform(generate_series(1, length(run) - 1),
                             i -> substr(run, i, 2)) END) AS term
  FROM runs
),
tok AS (SELECT * FROM base_tok UNION ALL SELECT * FROM bigram_tok)
SELECT term, doc_id, count(*)::INT AS tf FROM tok GROUP BY term, doc_id
"""


COMPOUND_PAIR_REGEX = r"([a-z0-9]+) ([a-z0-9]+)"
# pairs adjacent lowercase words into snake_case compounds — the
# deterministic stand-in for identifier-bearing source code over the
# driver's prose-like documents fixture (its text has no compounds, so a
# code-variant gate would otherwise be vacuously equal to base). Both
# Java regex (Spark, '$1_$2') and RE2 (DuckDB, '\1_\2' + 'g') replace
# non-overlapping matches left-to-right, so the two transforms agree
# byte-for-byte (tested).


def compound_documents_sql(table: str = "documents") -> str:
    """Derived-table SQL: documents with adjacent word pairs fused into
    snake_case compounds (DuckDB side of the code-variant gate)."""
    return (
        f"(SELECT doc_id, regexp_replace(text, '{COMPOUND_PAIR_REGEX}', "
        f"'\\1_\\2', 'g') AS text, lang FROM {table})"
    )


def corpus_ctes_code(table_expr: str, text_col: str = "text") -> str:
    """tok, tf, dl, stats, tdf under the CODE analyzer (FIXTURES §3.1b):
    each raw [A-Za-z0-9_]+ token lowercased, followed by its sub-tokens
    (snake split on '_', camel at lower->upper boundaries) when it is a
    compound. RE2 has no lookarounds, so the camel boundary is expressed
    as a backreference replacement instead of CAMEL_BOUNDARY_REGEX —
    multiset-equality with tokenize_code_py is pytest-pinned."""
    return f"""
raw AS (SELECT doc_id, unnest(regexp_extract_all({text_col}, '[A-Za-z0-9_]+')) AS raw
        FROM {table_expr}),
expand AS (SELECT doc_id, lower(raw) AS low,
    list_filter(string_split_regex(lower(regexp_replace(replace(raw, '_', ' '),
        '([a-z0-9])([A-Z])', '\\1 \\2', 'g')), ' '), x -> x <> '') AS subs
  FROM raw),
tok AS (
  SELECT doc_id, low AS term FROM expand
  UNION ALL
  SELECT doc_id, unnest(subs) AS term FROM expand WHERE subs <> [low]
),
tf AS (SELECT term, doc_id, count(*)::INT AS tf FROM tok GROUP BY term, doc_id),
dl AS (SELECT d.doc_id, count(tok.term)::INT AS dl
       FROM {table_expr} d LEFT JOIN tok ON tok.doc_id = d.doc_id
       GROUP BY d.doc_id),
stats AS (SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
tdf AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
"""


def bm25_code_sql(
    parsed: ParsedQuery,
    k: int = 10,
    table: str = "documents",
    derived_compounds: bool = True,
) -> str:
    """Naive BM25 top-k under the CODE analyzer — oracle for the
    code-variant index/WAND path. ``parsed`` must already be analyzed
    with variant='code' (compound queries expand to compound+subtoken
    AND terms). ``derived_compounds``: run over the snake_case-fused
    derived table (the code-shaped stand-in corpus)."""
    table_expr = compound_documents_sql(table) if derived_compounds else table
    if parsed.phrases:
        raise ValueError(
            "phrase oracle is base-variant only: the code analyzer's "
            "token emission order is not reproducible in this SQL form"
        )
    if _no_positive(parsed):
        return "SELECT doc_id, 0.0::DOUBLE AS score FROM documents WHERE false"
    idf = idf_sql("s.n", "tdf.df")
    w = _boosted_w_sql(bm25_weight_sql(idf, "tf.tf", "dl.dl", "s.avgdl"), parsed)
    having = _having_sql(parsed)
    lang_filter = _doc_attr_filters(parsed, table_expr)
    not_filter = _not_filter_sql(parsed)
    w_term = (
        ", tf.term AS term"
        if parsed.prefixes
        or parsed.fuzzies
        or parsed.groups
        or parsed.wildcards
        or parsed.min_match
        else ""
    )
    return f"""
WITH {corpus_ctes_code(table_expr)},
w AS (
  SELECT tf.doc_id{w_term}, {w} AS w
  FROM tf
  JOIN tdf USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  WHERE {_term_pred_sql(parsed)} {lang_filter} {not_filter}
),
scored AS (SELECT doc_id, sum(w) AS raw_score FROM w GROUP BY doc_id {having})
SELECT doc_id, round(raw_score, {R}) AS score
FROM scored ORDER BY raw_score DESC, doc_id ASC LIMIT {k}
"""


def dl_sql(table: str = "documents", text_col: str = "text") -> str:
    rgx = _sql_quote(TOKEN_SPLIT_REGEX)
    return (
        f"SELECT doc_id, len(list_filter(string_split_regex(lower({text_col}), {rgx}), "
        f"x -> x <> ''))::INT AS dl FROM {table}"
    )


def df_sql(table: str = "documents") -> str:
    return (
        f"WITH {tokens_cte(table)} SELECT term, count(*) AS df FROM "
        f"(SELECT DISTINCT term, doc_id FROM tok) GROUP BY term"
    )


def collection_stats_sql(table: str = "documents", text_col: str = "text") -> str:
    rgx = _sql_quote(TOKEN_SPLIT_REGEX)
    return f"""
WITH dl AS (SELECT len(list_filter(string_split_regex(lower({text_col}), {rgx}), x -> x <> '')) AS dl FROM {table})
SELECT count(*) AS n_docs, round(sum(dl)::DOUBLE / count(*), {R}) AS avgdl FROM dl
"""


def _boosted_w_sql(w: str, parsed: ParsedQuery) -> str:
    """Per-term boosts (round-6, FIXTURES.md §3.15): multiply the BM25
    weight by the term's declared factor (last declaration of a
    repeated term wins, matching plans.query.boost_of)."""
    boosts = dict(parsed.boosts)
    if not boosts:
        return w
    cases = " ".join(
        f"WHEN tf.term = {_sql_quote(t)} THEN {b!r}"
        for t, b in boosts.items()
    )
    return f"({w}) * (CASE {cases} ELSE 1.0 END)"


def _lev_pred_sql(col: str, body: str) -> str:
    """Fuzzy-group membership (round-6, FIXTURES.md §3.12), stated
    DECLARATIVELY: a vocabulary term over the term alphabet within plain
    Levenshtein distance 1 of the body. The engine serves the same set
    via the closed-form neighborhood enumeration
    (constants.fuzzy_candidates) — this predicate is what verifies that
    enumeration is complete."""
    return (
        f"(levenshtein({col}, {_sql_quote(body)}) <= 1 "
        f"AND regexp_matches({col}, '^[a-z0-9_]+$'))"
    )


def _term_pred_sql(parsed: ParsedQuery, col: str = "tf.term") -> str:
    """The scored-term predicate: exact membership plus prefix-group
    ``starts_with`` plus fuzzy-group ``levenshtein`` disjuncts
    (round-6, FIXTURES.md §3.10/§3.12)."""
    conds = []
    if parsed.terms:
        terms_list = ", ".join(_sql_quote(t) for t in parsed.terms)
        conds.append(f"{col} IN ({terms_list})")
    for p in parsed.prefixes:
        conds.append(f"starts_with({col}, {_sql_quote(p)})")
    for b in parsed.fuzzies:
        conds.append(_lev_pred_sql(col, b))
    for g in parsed.groups:  # §3.19: explicit member set
        members = ", ".join(_sql_quote(t) for t in g)
        conds.append(f"{col} IN ({members})")
    for wc in parsed.wildcards:  # §3.24: anchored glob
        conds.append(f"regexp_matches({col}, {_sql_quote(wildcard_regex(wc))})")
    return "(" + " OR ".join(conds) + ")"


def _not_filter_sql(parsed: ParsedQuery) -> str:
    """NOT filter: docs containing any excluded term OR any term under
    an exclusion prefix are dropped from the match set."""
    conds = []
    if parsed.exclude:
        ex_list = ", ".join(_sql_quote(t) for t in parsed.exclude)
        conds.append(f"term IN ({ex_list})")
    for p in parsed.exclude_prefixes:
        conds.append(f"starts_with(term, {_sql_quote(p)})")
    for b in parsed.exclude_fuzzies:
        conds.append(_lev_pred_sql("term", b))
    for g in parsed.exclude_groups:  # §3.19: any member
        members = ", ".join(_sql_quote(t) for t in g)
        conds.append(f"term IN ({members})")
    for wc in parsed.exclude_wildcards:  # §3.24
        conds.append(f"regexp_matches(term, {_sql_quote(wildcard_regex(wc))})")
    if not conds:
        return ""
    return (
        f"AND tf.doc_id NOT IN (SELECT DISTINCT doc_id FROM tf "
        f"WHERE {' OR '.join(conds)})"
    )


def _having_sql(parsed: ParsedQuery) -> str:
    """AND-connective match condition: every plain term present, and
    every prefix group matched by >= 1 term. The no-prefix form keeps
    the historical ``count(*) = n`` shape (the w rows are exactly the
    plain-term rows there)."""
    prefixes = parsed.prefixes
    fuzzies = parsed.fuzzies
    groups = parsed.groups
    wildcards = parsed.wildcards
    # one ">= 1 member present" condition per term-set group, shared by
    # the AND form (each must hold) and the msm form (each counts one)
    group_conds = (
        [f"starts_with(term, {_sql_quote(p)})" for p in prefixes]
        + [_lev_pred_sql("term", b) for b in fuzzies]
        + [
            "term IN (" + ", ".join(_sql_quote(t) for t in g) + ")"
            for g in groups
        ]
        + [
            f"regexp_matches(term, {_sql_quote(wildcard_regex(wc))})"
            for wc in wildcards
        ]
    )
    if parsed.connective != "AND":
        msm = int(parsed.min_match or 0)
        if not msm:
            return ""
        # §3.20: >= msm satisfied clauses — each plain term counts
        # individually (w rows are (doc, term)-unique), each group's
        # ">= 1 member" indicator contributes one
        parts = []
        if parsed.terms:
            terms_list = ", ".join(_sql_quote(t) for t in parsed.terms)
            parts.append(f"count(*) FILTER (WHERE term IN ({terms_list}))")
        for gc in group_conds:
            parts.append(f"(count(*) FILTER (WHERE {gc}) >= 1)::INT")
        return "HAVING " + " + ".join(parts) + f" >= {msm}"
    if not group_conds:
        return f"HAVING count(*) = {len(parsed.terms)}"
    conds = []
    if parsed.terms:
        terms_list = ", ".join(_sql_quote(t) for t in parsed.terms)
        conds.append(
            f"count(*) FILTER (WHERE term IN ({terms_list})) = "
            f"{len(parsed.terms)}"
        )
    for gc in group_conds:  # >= 1 member of each term-set group
        conds.append(f"count(*) FILTER (WHERE {gc}) >= 1")
    return "HAVING " + " AND ".join(conds)


def _match_ctes(
    parsed: ParsedQuery,
    table: str = "documents",
    extra_doc_pred: str | None = None,
    array_fields: tuple[str, ...] = (),
) -> str:
    """The shared WITH-clause body of every naive-evaluation oracle:
    corpus CTEs + per-(term, doc) BM25 weights + the ``scored`` CTE of
    ALL matching docs (connective, attr filters, NOT, tombstone
    predicate, phrases/proximity, prefix groups applied). ``bm25_sql``
    appends the top-k select; ``facet_sql`` aggregates the full match
    set instead."""
    idf = idf_sql("s.n", "tdf.df")
    w = bm25_weight_sql(idf, "tf.tf", "dl.dl", "s.avgdl")
    w = _boosted_w_sql(w, parsed)
    having = _having_sql(parsed)
    lang_filter = _doc_attr_filters(parsed, table, array_fields)
    not_filter = _not_filter_sql(parsed)
    extra = f"AND ({extra_doc_pred})" if extra_doc_pred else ""
    phrase_filter, tarr_cte = _phrase_sql(parsed, table)
    # the w rows carry term only when the HAVING needs per-group FILTERs
    w_term = (
        ", tf.term AS term"
        if parsed.prefixes
        or parsed.fuzzies
        or parsed.groups
        or parsed.wildcards
        or parsed.min_match
        else ""
    )
    return f"""{corpus_ctes(table)}{tarr_cte},
w AS (
  SELECT tf.doc_id{w_term}, {w} AS w
  FROM tf
  JOIN tdf USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  WHERE {_term_pred_sql(parsed)} {lang_filter} {not_filter} {extra} {phrase_filter}
),
scored AS (SELECT doc_id, sum(w) AS raw_score FROM w GROUP BY doc_id {having})"""


def bm25_sql(
    parsed: ParsedQuery,
    k: int = 10,
    table: str = "documents",
    extra_doc_pred: str | None = None,
    array_fields: tuple[str, ...] = (),
) -> str:
    """Naive (full-evaluation) BM25 top-k — the oracle for Q4–Q8: any
    engine path (relational, index-backed, WAND-pruned) must emit exactly
    this result set. ``extra_doc_pred`` (a predicate over ``tf.doc_id``)
    models query-time tombstones (S5) and similar doc-set restrictions."""
    if _no_positive(parsed):
        return "SELECT doc_id, 0.0::DOUBLE AS score FROM documents WHERE false"
    ctes = _match_ctes(parsed, table, extra_doc_pred, array_fields)
    return f"""
WITH {ctes}
SELECT doc_id, round(raw_score, {R}) AS score
FROM scored ORDER BY raw_score DESC, doc_id ASC LIMIT {k}
"""


def title_documents_sql(table: str = "documents", n: int = 6) -> str:
    """Derived-table SQL: the deterministic fielded stand-in corpus —
    `title` = the first ``n`` space-separated words of text, exposed AS
    the table's text column (DuckDB side of the §3.25 gate; exact twin
    of ``operators.fields.with_title``)."""
    return (
        f"(SELECT doc_id, array_to_string(list_slice(string_split(text, ' '), "
        f"1, {int(n)}), ' ') AS text, lang, source, n_chars FROM {table})"
    )


def multi_field_sql(
    field_specs: "list[tuple[str, ParsedQuery, float]]",
    k: int = 10,
    extra_doc_pred: str | None = None,
) -> str:
    """Multi-field fused-search oracle (round-6, FIXTURES.md §3.25):
    each (table_expr, parsed, weight) contributes its FULL §3.2 match
    set scored with that table's own field-local statistics; fused
    score = sum of weighted per-field raw scores per doc, rounded
    AFTER summation, top-k (score DESC, doc_id ASC). Declarative twin
    of ``operators.fields.multi_field_search``."""
    parts = []
    for tbl, parsed, w in field_specs:
        if _no_positive(parsed):
            continue
        ctes = _match_ctes(parsed, tbl, extra_doc_pred)
        parts.append(
            f"SELECT doc_id, raw_score * {float(w)!r} AS ws FROM "
            f"(WITH {ctes} SELECT doc_id, raw_score FROM scored)"
        )
    if not parts:
        return "SELECT doc_id, 0.0::DOUBLE AS score FROM documents WHERE false"
    union = "\nUNION ALL\n".join(parts)
    return f"""
SELECT doc_id, round(sum(ws), {R}) AS score
FROM ({union})
GROUP BY doc_id
ORDER BY sum(ws) DESC, doc_id ASC LIMIT {int(k)}
"""


def bm25_after_sql(
    parsed: ParsedQuery,
    k: int = 10,
    after: tuple[float, int] | None = None,
    offset: int = 0,
    table: str = "documents",
    extra_doc_pred: str | None = None,
    array_fields: tuple[str, ...] = (),
) -> str:
    """Relevance-order cursor-paging oracle (round-6, FIXTURES.md
    §3.23): the match set ordered by the FROZEN paging key
    (round(score, 6) DESC, doc_id ASC), rows strictly after the
    ``after`` cursor (or rows [offset, offset+k) — cursor-walk ==
    offset paging is the frozen equivalence). Shares ``_match_ctes``
    with every other aggregate (one source of match truth)."""
    if after is not None and offset:
        raise ValueError("offset and after are mutually exclusive")
    if _no_positive(parsed):
        return "SELECT doc_id, 0.0::DOUBLE AS score FROM documents WHERE false"
    ctes = _match_ctes(parsed, table, extra_doc_pred, array_fields)
    cursor = ""
    if after is not None:
        cs, cd = float(after[0]), int(after[1])
        cursor = (
            f"WHERE round(raw_score, {R}) < {cs!r} "
            f"OR (round(raw_score, {R}) = {cs!r} AND doc_id > {cd})"
        )
    return f"""
WITH {ctes}
SELECT doc_id, round(raw_score, {R}) AS score
FROM scored {cursor}
ORDER BY score DESC, doc_id ASC LIMIT {k} OFFSET {offset}
"""


def facet_sql(
    parsed: ParsedQuery,
    field: str,
    table: str = "documents",
    extra_doc_pred: str | None = None,
    array_fields: tuple[str, ...] = (),
) -> str:
    """Facet-count oracle (round-6, Q11): the number of MATCHING docs
    per value of ``field``, over the FULL match set (no top-k) — the
    declarative twin of ``wand.facet_counts``. Scalar fields group on
    the column; fields listed in ``array_fields`` facet per ELEMENT
    (one doc counts once per distinct element it carries, matching the
    per-distinct-element synthetic attr postings of the v5 index)."""
    if _no_positive(parsed):
        return (
            "SELECT ''::VARCHAR AS value, 0::BIGINT AS n_docs "
            f"FROM {table} WHERE false"
        )
    ctes = _match_ctes(parsed, table, extra_doc_pred, array_fields)
    if field in array_fields:
        per_doc = (
            f"SELECT m.doc_id, unnest(list_distinct(d.{field})) AS value "
            f"FROM scored m JOIN {table} d USING (doc_id) "
            f"WHERE d.{field} IS NOT NULL"
        )
    else:
        per_doc = (
            f"SELECT m.doc_id, d.{field} AS value "
            f"FROM scored m JOIN {table} d USING (doc_id) "
            f"WHERE d.{field} IS NOT NULL"
        )
    return f"""
WITH {ctes}
SELECT value, count(*)::BIGINT AS n_docs
FROM ({per_doc}) GROUP BY value
"""


def match_count_sql(
    parsed: ParsedQuery,
    table: str = "documents",
    extra_doc_pred: str | None = None,
    array_fields: tuple[str, ...] = (),
) -> str:
    """Total-hits oracle (round-6, Q11b): the size of the FULL match
    set as one (n_docs) row — the declarative twin of
    ``wand.match_count``, sharing ``_match_ctes`` with the bm25/facet
    oracles (one source of match truth per side)."""
    if _no_positive(parsed):
        return "SELECT 0::BIGINT AS n_docs"
    ctes = _match_ctes(parsed, table, extra_doc_pred, array_fields)
    return f"""
WITH {ctes}
SELECT count(*)::BIGINT AS n_docs FROM scored
"""


def _phrase_sql(parsed: ParsedQuery, table: str) -> tuple[str, str]:
    """(predicate, extra CTE) for phrase adjacency (v6): a doc matches
    iff some start offset i has t[i..i+k-1] equal to the phrase — the
    declarative twin of the positional-index intersection. Base-variant
    tokenization only (the code variant's emission order is not
    reproducible in this SQL form).

    Proximity (round-6, slop > 0, FIXTURES.md §3.8): nested lambdas —
    EXISTS i_1 with t[i_1] = w_1, EXISTS i_2 in (i_1, i_1 + B] with
    t[i_2] = w_2, … where B = (m-1) + slop bounds every later index
    (the last index must land within B of i_1, so capping the
    intermediates at i_1 + B loses no solution). DuckDB lambdas close
    over outer lambda variables and ``generate_series(a, b)`` is empty
    for a > b, so the innermost EXISTS vanishes exactly when the
    window is exhausted."""
    phrases = parsed.phrases
    if not phrases:
        return "", ""
    from xsearch_spark.constants import TOKEN_SPLIT_REGEX
    from xsearch_spark.plans.query import phrase_prefix, phrase_slop

    rgx = _sql_quote(TOKEN_SPLIT_REGEX)
    pred = ""
    for pi, ph in enumerate(phrases):
        # §3.28 phrase-prefix: a non-empty body adds one final slot
        # matched by ANY token under the prefix (starts_with, not LIKE
        # — '_' is a term char and a LIKE wildcard)
        body = phrase_prefix(parsed, pi)

        def _slot(expr: str, j: int) -> str:
            if j < len(ph):
                return f"{expr} = {_sql_quote(ph[j])}"
            return f"starts_with({expr}, {_sql_quote(body)})"

        k = len(ph) + (1 if body else 0)
        slop = phrase_slop(parsed, pi)
        if slop == 0:
            conds = " AND ".join(
                _slot(f"t[i + {j}]", j) for j in range(k)
            )
            pred += (
                f" AND tf.doc_id IN (SELECT doc_id FROM tarr WHERE len(t) >= {k}"
                f" AND len(list_filter(generate_series(1, len(t) - {k - 1}),"
                f" i -> {conds})) > 0)"
            )
            continue
        bound = k - 1 + slop
        # innermost-out: exists i_m … exists i_2, each strictly after
        # the previous and within i_1 + bound
        inner = "TRUE"
        for j in range(k - 1, 0, -1):
            inner = (
                f"len(list_filter(generate_series(i{j - 1} + 1,"
                f" least(i0 + {bound}, len(t))),"
                f" i{j} -> {_slot(f't[i{j}]', j)} AND {inner})) > 0"
            )
        pred += (
            f" AND tf.doc_id IN (SELECT doc_id FROM tarr WHERE len(t) >= {k}"
            f" AND len(list_filter(generate_series(1, len(t)),"
            f" i0 -> {_slot('t[i0]', 0)} AND {inner})) > 0)"
        )
    cte = (
        f",\ntarr AS (SELECT doc_id, list_filter(string_split_regex("
        f"lower(text), {rgx}), x -> x <> '') AS t FROM {table})"
    )
    return pred, cte


def sorted_sql(
    parsed: ParsedQuery,
    sort_field: str,
    ascending: bool = False,
    k: int = 10,
    offset: int = 0,
    after: tuple[int, int] | None = None,
    table: str = "documents",
    extra_doc_pred: str | None = None,
    array_fields: tuple[str, ...] = (),
) -> str:
    """Sort-by-field + pagination oracle (round-6, FIXTURES.md §3.14):
    the FULL match set ordered (sort_field ASC|DESC, doc_id ASC), rows
    [offset, offset+k) — the declarative twin of ``wand.search_sorted``.
    Shares ``_match_ctes`` (one source of match truth); NULL-valued
    docs drop out. ``after=(value, doc_id)``: the k rows strictly after
    that cursor in the total order (cursor pagination; mutually
    exclusive with a non-zero offset, like the engine)."""
    if after is not None and offset:
        raise ValueError("offset and after are mutually exclusive")
    if _no_positive(parsed):
        return (
            "SELECT doc_id, 0::BIGINT AS sort_value, 0.0::DOUBLE AS score "
            f"FROM {table} WHERE false"
        )
    ctes = _match_ctes(parsed, table, extra_doc_pred, array_fields)
    direction = "ASC" if ascending else "DESC"
    cursor = ""
    if after is not None:
        av, ad = after
        cmp = ">" if ascending else "<"
        cursor = (
            f"AND (d.{sort_field} {cmp} {av} "
            f"OR (d.{sort_field} = {av} AND m.doc_id > {ad}))"
        )
    return f"""
WITH {ctes}
SELECT m.doc_id, d.{sort_field}::BIGINT AS sort_value,
       round(m.raw_score, {R}) AS score
FROM scored m JOIN {table} d USING (doc_id)
WHERE d.{sort_field} IS NOT NULL {cursor}
ORDER BY sort_value {direction}, m.doc_id ASC
LIMIT {k} OFFSET {offset}
"""


def stats_sql(
    parsed: ParsedQuery,
    field: str,
    table: str = "documents",
    extra_doc_pred: str | None = None,
    array_fields: tuple[str, ...] = (),
) -> str:
    """Numeric-field statistics oracle (round-6, FIXTURES.md §3.17):
    one (n_docs, min_value, max_value, sum_value, avg_value) row over
    the FULL match set — the declarative twin of ``wand.field_stats``.
    Shares ``_match_ctes``; NULL-valued docs drop out (n_docs counts
    docs WITH the field). sum over BIGINT returns HUGEINT in DuckDB —
    cast back (CLAUDE.md invariant)."""
    if _no_positive(parsed):
        return (
            "SELECT 0::BIGINT AS n_docs, NULL::BIGINT AS min_value, "
            "NULL::BIGINT AS max_value, NULL::BIGINT AS sum_value, "
            "NULL::DOUBLE AS avg_value"
        )
    ctes = _match_ctes(parsed, table, extra_doc_pred, array_fields)
    return f"""
WITH {ctes}
SELECT count(*)::BIGINT AS n_docs,
       min(d.{field})::BIGINT AS min_value,
       max(d.{field})::BIGINT AS max_value,
       sum(d.{field})::BIGINT AS sum_value,
       round(avg(d.{field}), {R}) AS avg_value
FROM scored m JOIN {table} d USING (doc_id)
WHERE d.{field} IS NOT NULL
"""


def histogram_sql(
    parsed: ParsedQuery,
    field: str,
    interval: int,
    table: str = "documents",
    extra_doc_pred: str | None = None,
    array_fields: tuple[str, ...] = (),
) -> str:
    """Fixed-interval histogram oracle (round-6, FIXTURES.md §3.17):
    (bucket, n_docs) over the FULL match set with bucket = the largest
    multiple of ``interval`` <= value — floor semantics stated in exact
    integer arithmetic (``v - ((v % i + i) % i)``, DuckDB % keeps the
    dividend's sign) so both sides agree at every boundary including
    negatives. Declarative twin of ``wand.facet_histogram``."""
    if interval <= 0:
        raise ValueError(f"interval must be a positive int, got {interval!r}")
    if _no_positive(parsed):
        return "SELECT 0::BIGINT AS bucket, 0::BIGINT AS n_docs WHERE false"
    ctes = _match_ctes(parsed, table, extra_doc_pred, array_fields)
    v = f"d.{field}"
    return f"""
WITH {ctes}
SELECT ({v} - (({v} % {interval} + {interval}) % {interval}))::BIGINT AS bucket,
       count(*)::BIGINT AS n_docs
FROM scored m JOIN {table} d USING (doc_id)
WHERE {v} IS NOT NULL
GROUP BY 1
"""


def facet_stats_sql(
    parsed: ParsedQuery,
    facet_field: str,
    value_field: str,
    table: str = "documents",
    extra_doc_pred: str | None = None,
    array_fields: tuple[str, ...] = (),
) -> str:
    """Grouped facet-statistics oracle (round-6, FIXTURES.md §3.26):
    per value of ``facet_field`` over the FULL match set, the numeric
    statistics of ``value_field`` — the declarative twin of
    ``wand.facet_stats``. A doc qualifies for a bucket iff it matches
    AND carries BOTH fields (inner-join NULL rule); array facet fields
    bucket per distinct element. Shares ``_match_ctes`` (one source of
    match truth); sum over BIGINT casts back from HUGEINT (CLAUDE.md
    invariant); avg rounds to 6 like everywhere."""
    if _no_positive(parsed):
        return (
            "SELECT ''::VARCHAR AS value, 0::BIGINT AS n_docs, "
            "NULL::BIGINT AS min_value, NULL::BIGINT AS max_value, "
            "NULL::BIGINT AS sum_value, NULL::DOUBLE AS avg_value "
            f"FROM {table} WHERE false"
        )
    ctes = _match_ctes(parsed, table, extra_doc_pred, array_fields)
    if facet_field in array_fields:
        per_doc = (
            f"SELECT m.doc_id, unnest(list_distinct(d.{facet_field})) AS value, "
            f"d.{value_field} AS v "
            f"FROM scored m JOIN {table} d USING (doc_id) "
            f"WHERE d.{facet_field} IS NOT NULL AND d.{value_field} IS NOT NULL"
        )
    else:
        per_doc = (
            f"SELECT m.doc_id, d.{facet_field} AS value, d.{value_field} AS v "
            f"FROM scored m JOIN {table} d USING (doc_id) "
            f"WHERE d.{facet_field} IS NOT NULL AND d.{value_field} IS NOT NULL"
        )
    return f"""
WITH {ctes}
SELECT value, count(*)::BIGINT AS n_docs,
       min(v)::BIGINT AS min_value,
       max(v)::BIGINT AS max_value,
       sum(v)::BIGINT AS sum_value,
       round(avg(v), {R}) AS avg_value
FROM ({per_doc}) GROUP BY value
"""


def scan_sql(
    parsed: ParsedQuery,
    k: int = 10,
    after: int | None = None,
    offset: int = 0,
    table: str = "documents",
    extra_doc_pred: str | None = None,
    array_fields: tuple[str, ...] = (),
) -> str:
    """Match-set scroll/export oracle (round-6, FIXTURES.md §3.27):
    the FULL match set in doc_id ASC order, rows strictly after the
    ``after`` doc_id cursor (or rows [offset, offset+k) — cursor-walk
    == offset paging is the frozen equivalence, same as §3.14/§3.23).
    Declarative twin of ``wand.scan_docs``; shares ``_match_ctes``."""
    if after is not None and offset:
        raise ValueError("offset and after are mutually exclusive")
    if _no_positive(parsed):
        return "SELECT doc_id, 0.0::DOUBLE AS score FROM documents WHERE false"
    ctes = _match_ctes(parsed, table, extra_doc_pred, array_fields)
    cursor = f"WHERE doc_id > {int(after)}" if after is not None else ""
    return f"""
WITH {ctes}
SELECT doc_id, round(raw_score, {R}) AS score
FROM scored {cursor}
ORDER BY doc_id ASC LIMIT {int(k)} OFFSET {int(offset)}
"""


def collapse_sql(
    parsed: ParsedQuery,
    field: str,
    k: int = 10,
    per_value: int = 1,
    table: str = "documents",
    extra_doc_pred: str | None = None,
    array_fields: tuple[str, ...] = (),
) -> str:
    """Field-collapse oracle (round-6, FIXTURES.md §3.29): the global
    top-k of the per-value top-``per_value`` survivors, both stated in
    the ROUNDED paging order (round(score, 6) DESC, doc_id ASC; value
    ASC global tiebreak) — the declarative twin of
    ``wand.search_collapse``. Array facet fields compete once per
    distinct element; NULL-valued docs drop."""
    if per_value < 1:
        raise ValueError(f"per_value must be >= 1, got {per_value!r}")
    if _no_positive(parsed):
        return (
            "SELECT doc_id, ''::VARCHAR AS value, 0.0::DOUBLE AS score "
            f"FROM {table} WHERE false"
        )
    ctes = _match_ctes(parsed, table, extra_doc_pred, array_fields)
    if field in array_fields:
        per_doc = (
            f"SELECT m.doc_id, unnest(list_distinct(d.{field})) AS value, "
            f"round(m.raw_score, {R}) AS score "
            f"FROM scored m JOIN {table} d USING (doc_id) "
            f"WHERE d.{field} IS NOT NULL"
        )
    else:
        per_doc = (
            f"SELECT m.doc_id, d.{field} AS value, "
            f"round(m.raw_score, {R}) AS score "
            f"FROM scored m JOIN {table} d USING (doc_id) "
            f"WHERE d.{field} IS NOT NULL"
        )
    return f"""
WITH {ctes}
SELECT doc_id, value, score
FROM (SELECT *, row_number() OVER (PARTITION BY value
                                   ORDER BY score DESC, doc_id ASC) AS rn
      FROM ({per_doc}))
WHERE rn <= {int(per_value)}
ORDER BY score DESC, doc_id ASC, value ASC LIMIT {int(k)}
"""


def cardinality_sql(
    parsed: ParsedQuery,
    field: str,
    table: str = "documents",
    extra_doc_pred: str | None = None,
    array_fields: tuple[str, ...] = (),
) -> str:
    """Value-cardinality oracle (round-6, FIXTURES.md §3.30): one
    (n_values) row — COUNT(DISTINCT value) over the match set's facet
    values (array fields per distinct element). Declarative twin of
    ``wand.facet_cardinality``."""
    if _no_positive(parsed):
        return "SELECT 0::BIGINT AS n_values"
    ctes = _match_ctes(parsed, table, extra_doc_pred, array_fields)
    if field in array_fields:
        per_doc = (
            f"SELECT unnest(list_distinct(d.{field})) AS value "
            f"FROM scored m JOIN {table} d USING (doc_id) "
            f"WHERE d.{field} IS NOT NULL"
        )
    else:
        per_doc = (
            f"SELECT d.{field} AS value "
            f"FROM scored m JOIN {table} d USING (doc_id) "
            f"WHERE d.{field} IS NOT NULL"
        )
    return f"""
WITH {ctes}
SELECT count(DISTINCT value)::BIGINT AS n_values FROM ({per_doc})
"""


def range_facets_sql(
    parsed: ParsedQuery,
    field: str,
    edges: "list[int]",
    table: str = "documents",
    extra_doc_pred: str | None = None,
    array_fields: tuple[str, ...] = (),
) -> str:
    """Explicit-edge range-facet oracle (round-6, FIXTURES.md §3.30):
    (bucket, n_docs) with bucket = the count of edges <= value, stated
    in the same pure int arithmetic as the engine (a sum of boolean
    casts — no float boundary can drift). Declarative twin of
    ``wand.range_facets``."""
    if not edges or any(int(b) <= int(a) for a, b in zip(edges, edges[1:])):
        raise ValueError(
            f"edges must be a non-empty strictly increasing int list, "
            f"got {edges!r}"
        )
    if _no_positive(parsed):
        return "SELECT 0::BIGINT AS bucket, 0::BIGINT AS n_docs WHERE false"
    ctes = _match_ctes(parsed, table, extra_doc_pred, array_fields)
    bucket = " + ".join(f"(d.{field} >= {int(e)})::BIGINT" for e in edges)
    return f"""
WITH {ctes}
SELECT ({bucket})::BIGINT AS bucket, count(*)::BIGINT AS n_docs
FROM scored m JOIN {table} d USING (doc_id)
WHERE d.{field} IS NOT NULL
GROUP BY 1
"""


def rescored_sql(
    parsed: ParsedQuery,
    field: str,
    weight: float,
    k: int = 10,
    table: str = "documents",
    extra_doc_pred: str | None = None,
    array_fields: tuple[str, ...] = (),
) -> str:
    """Field-value rescoring oracle (round-6, FIXTURES.md §3.31):
    top-k of the match set by round(raw_score + weight * field, 6) —
    the declarative twin of ``wand.search_rescored``; one rounding
    AFTER the sum, NULL-valued docs drop."""
    if _no_positive(parsed):
        return "SELECT doc_id, 0.0::DOUBLE AS score FROM documents WHERE false"
    ctes = _match_ctes(parsed, table, extra_doc_pred, array_fields)
    return f"""
WITH {ctes}
SELECT m.doc_id, round(m.raw_score + {float(weight)!r} * d.{field}, {R}) AS score
FROM scored m JOIN {table} d USING (doc_id)
WHERE d.{field} IS NOT NULL
ORDER BY score DESC, m.doc_id ASC LIMIT {int(k)}
"""


def percolate_sql(
    queries: "dict[str, ParsedQuery]",
    table: str = "documents",
    extra_doc_pred: str | None = None,
    array_fields: tuple[str, ...] = (),
) -> str:
    """Percolation oracle (round-6, FIXTURES.md §3.32): the UNION ALL
    of every registered query's full match set as (query_id, doc_id)
    — each branch is the same ``_match_ctes`` scored CTE as the
    search oracles (one match truth per side); a no-positive query
    contributes nothing."""
    if not queries:
        raise ValueError("percolate requires a non-empty query registry")
    parts = []
    for qid, parsed in queries.items():
        if _no_positive(parsed):
            continue
        ctes = _match_ctes(parsed, table, extra_doc_pred, array_fields)
        parts.append(
            f"SELECT {_sql_quote(qid)} AS query_id, doc_id FROM "
            f"(WITH {ctes} SELECT doc_id FROM scored)"
        )
    if not parts:
        return (
            "SELECT ''::VARCHAR AS query_id, 0::BIGINT AS doc_id WHERE false"
        )
    return "\nUNION ALL\n".join(parts)


def highlight_phrase_sql(
    parsed: ParsedQuery,
    phrase_index: int = 0,
    k: int = 10,
    table: str = "documents",
    context: int = 30,
) -> str:
    """Phrase-highlight oracle (round-6, FIXTURES.md §3.33): the BM25
    top-k joined back to the doc store with the char span of the FIRST
    adjacency window of phrase ``phrase_index`` — first window index
    via list_filter(generate_series)[1] (guarded: generate_series
    DESCENDS when the doc is shorter than the window), char arithmetic
    via the same separator-run prefix sums as ``highlight_sql``;
    §3.28 phrase-prefix final slots state starts_with. Adjacency only
    (a slop phrase raises, mirroring the engine)."""
    from xsearch_spark.constants import TOKEN_RUN_REGEX, TOKEN_SPLIT_REGEX
    from xsearch_spark.plans.query import phrase_prefix, phrase_slop

    ph = parsed.phrases[phrase_index]
    if phrase_slop(parsed, phrase_index) != 0:
        raise ValueError(
            "highlight_phrase covers adjacency (slop 0) phrases only"
        )
    body = phrase_prefix(parsed, phrase_index)
    m = len(ph) + (1 if body else 0)

    def slot(j: int) -> str:
        if j < len(ph):
            return f"tk.t[i + {j}] = {_sql_quote(ph[j])}"
        return f"starts_with(tk.t[i + {j}], {_sql_quote(body)})"

    conds = " AND ".join(slot(j) for j in range(m))
    rgx = _sql_quote(TOKEN_SPLIT_REGEX)
    run = _sql_quote(TOKEN_RUN_REGEX)
    inner = bm25_sql(parsed, k, table)
    lensum = (
        "coalesce(list_sum(list_transform(list_slice({arr}, 1, {hi}),"
        " x -> length(x))), 0)"
    )
    start_at = lambda i: (  # noqa: E731 — mirrors the engine's tok_start
        lensum.format(arr="s", hi=i)
        + " + "
        + lensum.format(arr="t", hi=f"({i} - 1)")
        + " + 1"
    )
    return f"""
WITH topk AS ({inner}),
toks AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), {rgx}), x -> x <> '') AS t,
         string_split_regex(lower(text), {run}) AS s
  FROM {table}
),
hits AS (
  SELECT k.doc_id, k.score, tk.t AS t, tk.s AS s, tk.text AS text,
         CASE WHEN len(tk.t) >= {m} THEN
           list_filter(generate_series(1, len(tk.t) - {m - 1}),
                       i -> {conds})[1]
         END AS fi
  FROM topk k JOIN toks tk USING (doc_id)
),
spans AS (
  SELECT doc_id, score, text, t,
         ({start_at('fi')})::BIGINT AS char_start,
         (({start_at(f'(fi + {m - 1})')})
          + length(t[fi + {m - 1}]) - 1)::BIGINT AS char_end
  FROM hits WHERE fi IS NOT NULL
)
SELECT doc_id, score, char_start, char_end,
       substr(text,
              greatest(1, char_start - {context})::INT,
              (char_end + {context}
               - greatest(1, char_start - {context}) + 1)::INT) AS snippet
FROM spans
"""


def more_like_this_sql(
    doc_id: int,
    m: int = 5,
    k: int = 10,
    table: str = "documents",
    extra_doc_pred: str | None = None,
) -> str:
    """More-like-this oracle (round-6, FIXTURES.md §3.16), fully
    declarative: seed terms = the seed doc's top-m distinct terms by
    their own BM25 weight (collection idf; ties term ASC), result =
    the OR query over them minus the seed doc."""
    idf = idf_sql("s.n", "tdf.df")
    w = bm25_weight_sql(idf, "tf.tf", "dl.dl", "s.avgdl")
    extra = f"AND ({extra_doc_pred})" if extra_doc_pred else ""
    return f"""
WITH {corpus_ctes(table)},
seed AS (
  SELECT tf.term, {w} AS w
  FROM tf JOIN tdf USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  WHERE tf.doc_id = {int(doc_id)}
),
top_terms AS (SELECT term FROM seed ORDER BY w DESC, term ASC LIMIT {int(m)}),
w2 AS (
  SELECT tf.doc_id, {w} AS w
  FROM tf JOIN tdf USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  WHERE tf.term IN (SELECT term FROM top_terms)
    AND tf.doc_id <> {int(doc_id)} {extra}
),
scored AS (SELECT doc_id, sum(w) AS raw_score FROM w2 GROUP BY doc_id)
SELECT doc_id, round(raw_score, {R}) AS score
FROM scored ORDER BY raw_score DESC, doc_id ASC LIMIT {int(k)}
"""


def suggest_sql(prefix: str, n: int = 10, table: str = "documents") -> str:
    """Dictionary-completion oracle (round-6, FIXTURES.md §3.11): the
    top-``n`` corpus vocabulary terms under ``prefix`` by document
    frequency, ordered (df DESC, term ASC) — the declarative twin of
    ``wand.suggest_terms`` (whose df comes from the v4 index rows; the
    ``term_df`` gate already pins those equal to this corpus-side df)."""
    return f"""
WITH {tokens_cte(table)},
tdf AS (SELECT term, count(*) AS df FROM
        (SELECT DISTINCT term, doc_id FROM tok) GROUP BY term)
SELECT term, df::BIGINT AS df FROM tdf
WHERE starts_with(term, {_sql_quote(prefix)})
ORDER BY df DESC, term ASC LIMIT {n}
"""


def explain_sql(
    parsed: ParsedQuery, doc_id: int, table: str = "documents"
) -> str:
    """Score-explanation oracle (round-6, FIXTURES.md §3.22): the
    per-term BM25 breakdown of one doc under the query's positive
    scored-term predicate — (term, tf, dl, df, idf, weight), term ASC,
    boosts folded into weight. Declarative twin of
    ``wand.explain_score``; same rounding discipline as every score."""
    idf = idf_sql("s.n", "tdf.df")
    w = _boosted_w_sql(bm25_weight_sql(idf, "tf.tf", "dl.dl", "s.avgdl"), parsed)
    return f"""
WITH {corpus_ctes(table)}
SELECT tf.term AS term, tf.tf AS tf, dl.dl::INT AS dl, tdf.df::BIGINT AS df,
       round({idf}, {R}) AS idf, round({w}, {R}) AS weight
FROM tf JOIN tdf USING (term) JOIN dl ON dl.doc_id = tf.doc_id
CROSS JOIN stats s
WHERE tf.doc_id = {int(doc_id)} AND {_term_pred_sql(parsed)}
ORDER BY term
"""


def spell_sql(body: str, n: int = 5, table: str = "documents") -> str:
    """Did-you-mean oracle (round-6, FIXTURES.md §3.18): the top-``n``
    corpus vocabulary terms within Levenshtein distance <= 1 of
    ``body`` by document frequency, (df DESC, term ASC) — the
    declarative twin of ``wand.spell_suggest`` (same membership
    predicate as fuzzy groups, so it also re-verifies the closed-form
    neighborhood enumeration; df comes corpus-side, pinned equal to
    the index-row df by the term_df parity sweep)."""
    return f"""
WITH {tokens_cte(table)},
tdf AS (SELECT term, count(*) AS df FROM
        (SELECT DISTINCT term, doc_id FROM tok) GROUP BY term)
SELECT term, df::BIGINT AS df FROM tdf
WHERE {_lev_pred_sql("term", body)}
ORDER BY df DESC, term ASC LIMIT {n}
"""


def bm25_fetch_sql(
    parsed: ParsedQuery, fetch_cols: list[str], k: int = 10, table: str = "documents"
) -> str:
    inner = bm25_sql(parsed, k, table)
    cols = ", ".join(f"d.{c}" for c in fetch_cols)
    return (
        f"SELECT t.doc_id, t.score, {cols} FROM ({inner}) t "
        f"JOIN {table} d USING (doc_id)"
    )


def highlight_sql(
    parsed: ParsedQuery, k: int = 10, table: str = "documents", context: int = 30
) -> str:
    """Q10+ highlight oracle (round-6): the BM25 top-k joined back to the
    doc store, one row per (doc, query term present), with the 1-based
    inclusive char span of the term's FIRST occurrence as a token and a
    ±context snippet — the same separator-run prefix-sum arithmetic as
    ``chunk_docs_sql`` (list_sum of an empty slice is NULL in DuckDB,
    hence the coalesce), mirroring ``operators.search.highlight_matches``
    expression for expression."""
    from xsearch_spark.constants import TOKEN_RUN_REGEX, TOKEN_SPLIT_REGEX

    rgx = _sql_quote(TOKEN_SPLIT_REGEX)
    run = _sql_quote(TOKEN_RUN_REGEX)
    inner = bm25_sql(parsed, k, table)
    terms_list = ", ".join(_sql_quote(t) for t in parsed.terms)
    lensum = (
        "coalesce(list_sum(list_transform(list_slice({arr}, 1, {hi}),"
        " x -> length(x))), 0)"
    )
    start = (
        lensum.format(arr="s", hi="fi")
        + " + "
        + lensum.format(arr="t", hi="(fi - 1)")
        + " + 1"
    )
    return f"""
WITH topk AS ({inner}),
toks AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), {rgx}), x -> x <> '') AS t,
         string_split_regex(lower(text), {run}) AS s
  FROM {table}
),
hits AS (
  SELECT tk.doc_id, k.score, q.term, list_position(tk.t, q.term) AS fi,
         tk.t AS t, tk.s AS s, tk.text AS text
  FROM topk k JOIN toks tk USING (doc_id)
  CROSS JOIN (SELECT unnest([{terms_list}]) AS term) q
),
spans AS (
  SELECT doc_id, score, term, text, ({start})::BIGINT AS char_start
  FROM hits WHERE fi IS NOT NULL AND fi > 0
)
SELECT doc_id, score, term, char_start,
       (char_start + length(term) - 1)::BIGINT AS char_end,
       substr(text,
              greatest(1, char_start - {context})::INT,
              (char_start + length(term) - 1 + {context}
               - greatest(1, char_start - {context}) + 1)::INT) AS snippet
FROM spans
"""
