"""Frozen semantic constants for the xsearch-capability engine.

This module is the single source of truth for every semantic degree of
freedom that the (empty) reference checkout would normally pin — see
FIXTURES.md §3. It is imported by:

  * the Spark engine (``xsearch_spark.functions`` / ``operators``),
  * the pure-NumPy oracle (``xsearch_spark.pyref``),
  * the DuckDB oracle-SQL generators (``__spark_entry__.py`` / tests).

Changing anything here invalidates all goldens (tests/goldens/) — see
FIXTURES.md §0.

Reference parity: BM25 parameterization k1=1.2, b=0.75 is pinned by the
driver contract (BASELINE.json:6, "same parameterization as xsearch's
searcher"). The idf variant is the Lucene/trec non-negative form, frozen
in FIXTURES.md §3.2 (the Go source is unavailable to verify — SURVEY.md
§0 open item).
"""

from __future__ import annotations

# --- BM25 (FIXTURES.md §3.2; BASELINE.json:6) ---------------------------
K1: float = 1.2
B: float = 0.75

# --- Tokenizer (FIXTURES.md §3.1) ----------------------------------------
# base variant: lowercase, split on this regex, drop empty tokens.
# Identical semantics in Python `re`, Java regex (Spark F.split) and
# DuckDB string_split_regex for this character class.
TOKEN_SPLIT_REGEX: str = r"[^a-z0-9_]+"

# The COMPLEMENT of TOKEN_SPLIT_REGEX: a maximal token run. Splitting
# the lowered text by THIS regex yields the inter-token separators
# (sep_0 tok_1 sep_1 ... tok_n sep_n, leading/trailing possibly empty)
# — the position arithmetic behind chunk byte spans (textops.chunk_docs)
# depends on the two regexes staying exact complements.
TOKEN_RUN_REGEX: str = r"[a-z0-9_]+"

# code variant additionally emits sub-tokens of compound identifiers
# (snake_case on '_', camelCase at lower->upper boundaries), lowercased,
# compound kept first (Lucene WordDelimiter preserve_original style).
CAMEL_BOUNDARY_REGEX: str = r"(?<=[a-z0-9])(?=[A-Z])"

# cjk variant (analyzer-plugin parity: xsearch ships a Chinese word
# segmenter plugin): base tokens of the full text, plus overlapping
# character bigrams of every CJK run (single-char runs emit the char) —
# the Lucene CJKAnalyzer indexing model, chosen over a dictionary
# segmenter because it is deterministic and exactly reproducible in SQL.
# \x{...} class works in BOTH Java regex (Spark) and RE2 (DuckDB);
# Python re needs the \u form.
CJK_RUN_REGEX_ENGINE: str = r"[\x{4e00}-\x{9fff}]+"
CJK_RUN_REGEX_PY: str = "[\u4e00-\u9fff]+"

# --- Posting codec (FIXTURES.md §3.4) ------------------------------------
# LEB128 varint: 7 bits/byte, little-endian, high bit = continuation.
# docIDs: sorted ascending, unique; delta-encoded with the first value
# kept absolute. tfs: plain varint stream aligned by position (no delta).
BLOCK_SIZE: int = 128  # postings per block-max block

# --- Query semantics (FIXTURES.md §3.3) ----------------------------------
DEFAULT_TOP_K: int = 10
# top-k ordering: score DESC, doc_id ASC (ties broken by ascending doc_id)
SCORE_ROUND_DECIMALS: int = 6  # oracle score comparison precision

# --- Attribute postings (index layout v5) --------------------------------
# Per-doc attributes (lang) are indexed as SYNTHETIC posting lists so a
# ``lang:X`` filter is a bucket-pruned INDEX read intersected by the
# existing machinery — never a per-query scan+shuffle of the source
# table (round-3 verdict: the one plan that did O(corpus) work per
# query at 10^12 docs). The prefix byte cannot appear in any analyzed
# token (every tokenizer variant emits only [a-z0-9_]+ / CJK chars), so
# synthetic terms can never collide with real ones. Synthetic postings
# carry tf=0, dl=0: they are filter carriers, never scored, and tf=0
# keeps them out of the sum_tf-derived avgdl by construction.
# \x01, NOT \x00: pandas' string hash table (factorize, on the pack
# path) hashes null-terminated C strings, silently collapsing distinct
# terms that differ only after an embedded NUL.
ATTR_TERM_PREFIX: str = "\x01"


def attr_term(fld: str, value: str) -> str:
    """The synthetic index term for attribute ``fld = value``."""
    return f"{ATTR_TERM_PREFIX}{fld}:{value}"


# --- Numeric attributes (round-6, FIXTURES.md §3.13) ----------------------
# Integer-valued attr columns (lengths, sizes, epoch timestamps) are
# indexed as synthetic terms whose VALUE part is an ORDER-PRESERVING
# fixed-width encoding: enc(v) = zero-padded 20-digit decimal of
# (v + 2^63). String order over encodings == numeric order over the
# full signed int64 range, so a range filter `field:lo..hi` becomes a
# term-RANGE-pruned index scan (>= and <= pushed to parquet; bucket
# files are term-sorted, so row-group min/max statistics bound the read
# to the value interval) — Lucene points/doc-values semantics from the
# one posting layout. Floats are NOT supported (frozen: term
# dictionaries hold exact keys; quantize to ints upstream).
NUM_ATTR_OFFSET: int = 1 << 63
NUM_ATTR_WIDTH: int = 20  # max encoded value 2^64-1 has 20 digits


def num_attr_encode(v: int) -> str:
    """Order-preserving encoding of an int64 attribute value."""
    u = int(v) + NUM_ATTR_OFFSET
    if not 0 <= u < (1 << 64):
        raise ValueError(f"numeric attr value out of int64 range: {v}")
    return format(u, f"0{NUM_ATTR_WIDTH}d")


def num_attr_decode(s: str) -> int:
    """Inverse of :func:`num_attr_encode`."""
    return int(s, 10) - NUM_ATTR_OFFSET


# --- Fuzzy queries (FIXTURES.md §3.12) -----------------------------------
# ``body~1`` matches every VOCABULARY term over the term alphabet within
# plain Levenshtein distance <= 1 of body (substitution / deletion /
# insertion; no transposition — matching DuckDB's levenshtein() and the
# enumeration below). The alphabet is the base/code emission alphabet:
# a distance-1 neighborhood over it is a FINITE, exactly enumerable set
# (<= 2*len*|Σ| + len + |Σ| + 1 terms), so the engine expands a fuzzy
# term driver-side and serves it through the ordinary bucket-pruned
# exact-term scan — no dictionary walk at all (the d=1 degenerate of
# Lucene's Levenshtein-automaton frontier). Distance 2 would square the
# neighborhood and lose the closed form; it RAISES (frozen cap).
TERM_ALPHABET: str = "abcdefghijklmnopqrstuvwxyz0123456789_"
FUZZY_MAX_DISTANCE: int = 1
MAX_FUZZY_LEN: int = 64  # same style of cap as MAX_PHRASE_LEN


def fuzzy_candidates(body: str) -> tuple[str, ...]:
    """The exact set {t in TERM_ALPHABET+ : levenshtein(t, body) <= 1},
    sorted. Pure function of the frozen alphabet — the DuckDB oracle
    states the predicate declaratively (levenshtein(term, body) <= 1
    AND term matches ^[a-z0-9_]+$), which verifies this enumeration is
    complete (tests/test_fuzzy.py Hypothesis sweep)."""
    out = {body}
    for i in range(len(body)):
        out.add(body[:i] + body[i + 1 :])  # deletion
        for c in TERM_ALPHABET:
            out.add(body[:i] + c + body[i + 1 :])  # substitution
    for i in range(len(body) + 1):
        for c in TERM_ALPHABET:
            out.add(body[:i] + c + body[i:])  # insertion
    out.discard("")  # deleting a 1-char body is not a token
    return tuple(sorted(out))


def wildcard_regex(pattern: str) -> str:
    """Anchored regex for a §3.24 wildcard pattern over the term
    alphabet: each ``*`` matches any run of term characters (incl.
    empty); everything else is literal. The SAME string is valid and
    equivalent under Python ``re``, Java regex (Spark ``rlike``), and
    RE2 (DuckDB ``regexp_matches``) — no lookarounds, no
    backreferences, one character class."""
    import re as _re

    return (
        "^"
        + "".join(
            "[a-z0-9_]*" if c == "*" else _re.escape(c) for c in pattern
        )
        + "$"
    )


def wildcard_scan_prefix(pattern: str) -> str:
    """The literal prefix before the first ``*`` — what bounds the
    dictionary scan (§3.24 requires it non-empty: leading wildcards
    would force a full vocabulary sweep and RAISE at parse)."""
    return pattern.split("*", 1)[0]


# --- Skew handling (SURVEY.md B5, §4) ------------------------------------
# Terms whose document frequency exceeds this fraction of total postings
# divided by the shuffle partition count are "hot" and get salted.
HOT_TERM_SALT_BUCKETS: int = 8

# --- ANN sign-random-projection bits -------------------------------------
# A vector's bit for one hyperplane is set iff its dot product, rounded
# correctly to 6 decimals, is >= 0 — i.e. iff the dot is not below
# -5e-7. No double is a 6-decimal midpoint, and the double nearest
# -5e-7 lies just ABOVE it, so that rule is exactly the float comparison
# ``dot >= SRP_BIT_FLOOR``. Every bucketing form (the NumPy projection,
# the exploded Spark reference, the Python probe twin, the DuckDB
# oracle) compares against this constant: Spark's and DuckDB's
# round(x, 6) round the double's shortest decimal form half-up, which
# sends the double -5e-7 itself to -1e-6 and would clear the bit.
SRP_BIT_FLOOR: float = -5e-7

# --- idf -------------------------------------------------------------------


def idf(N: int, df: int) -> float:
    """Lucene-style non-negative idf: ln(1 + (N - df + 0.5)/(df + 0.5)).

    FROZEN in FIXTURES.md §3.2. Shared formula string for SQL oracles is
    built by :func:`idf_sql`.
    """
    import math

    return math.log(1.0 + (N - df + 0.5) / (df + 0.5))


def idf_sql(n_expr: str, df_expr: str) -> str:
    """The idf formula as an ANSI-SQL expression (ln is ln in both Spark
    SQL and DuckDB)."""
    return f"ln(1.0 + ({n_expr} - {df_expr} + 0.5) / ({df_expr} + 0.5))"


def bm25_weight_sql(idf_expr: str, tf_expr: str, dl_expr: str, avgdl_expr: str) -> str:
    """The BM25 per-(term,doc) weight as an ANSI-SQL expression."""
    return (
        f"({idf_expr}) * ({tf_expr}) * ({K1} + 1.0) / "
        f"(({tf_expr}) + {K1} * (1.0 - {B} + {B} * ({dl_expr}) / ({avgdl_expr})))"
    )
