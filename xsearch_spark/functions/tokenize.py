"""Analysis chain (SURVEY.md §2.2): base and code-aware tokenizers.

Two frozen variants (FIXTURES.md §3.1):

  * ``base``   — lowercase, split on ``[^a-z0-9_]+``, drop empties.
                 Implemented as pure JVM Column expressions (``F.split``)
                 so it stays inside whole-stage codegen — no Python at
                 all on this path.
  * ``code``   — base, plus sub-tokens of compound identifiers
                 (snake_case on ``_``, camelCase at lower->upper
                 boundaries), compound kept first, sub-tokens appended in
                 document order (Lucene WordDelimiter preserve_original
                 style). Needs the extra expressiveness of a vectorized
                 pandas UDF (Arrow-batched ``pandas.Series.str`` ops, no
                 per-row Python loop).

Reference parity: xsearch ships a pluggable analyzer interface (its
bundled plugin is a Chinese word segmenter) — component-level [R],
SURVEY.md A1; the code-aware variant is pinned by BASELINE.json:6
("code-aware tokenization of the `content` column").

``tokenize_query`` reuses the *same* Python implementation driver-side so
query analysis is byte-identical to index analysis (SURVEY.md A3).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from xsearch_spark.constants import (
    CAMEL_BOUNDARY_REGEX,
    CJK_RUN_REGEX_ENGINE,
    CJK_RUN_REGEX_PY,
    TOKEN_SPLIT_REGEX,
)

_SPLIT_RE = re.compile(TOKEN_SPLIT_REGEX)
_CAMEL_RE = re.compile(CAMEL_BOUNDARY_REGEX)
# a compound = token containing '_' or a camel boundary (pre-lowercase)
_RAW_SPLIT_RE = re.compile(r"[^A-Za-z0-9_]+")
_CJK_RUN_RE = re.compile(CJK_RUN_REGEX_PY)


def tokenize_base_col(col: Column) -> Column:
    """base tokenizer as a pure Column expression (JVM, codegen'd)."""
    return F.filter(F.split(F.lower(col), TOKEN_SPLIT_REGEX), lambda t: t != "")


def tokenize_base_py(text: str) -> list[str]:
    """Same semantics, plain Python — used by pyref and query analysis."""
    return [t for t in _SPLIT_RE.split(text.lower()) if t]


def tokenize_code_py(text: str) -> list[str]:
    """code-aware tokenizer, plain Python (FIXTURES.md §3.1b).

    Split on non-word chars *before* lowercasing (camel boundaries need
    case), emit each raw token lowercased, followed by its sub-tokens
    when it is a compound.
    """
    out: list[str] = []
    for raw in _RAW_SPLIT_RE.split(text):
        if not raw:
            continue
        out.append(raw.lower())
        # sub-tokens: snake split, then camel split within each part
        parts = [p for p in raw.split("_") if p]
        subs: list[str] = []
        for p in parts:
            subs.extend(s.lower() for s in _CAMEL_RE.split(p) if s)
        if len(subs) > 1 or (len(subs) == 1 and subs[0] != raw.lower()):
            out.extend(subs)
    return out


def _code_tokenize_series(s: pd.Series) -> pd.Series:
    # Vectorized over the Arrow batch: one pass of pandas str ops to find
    # raw tokens; compound expansion is memoized per DISTINCT raw token
    # (worker-lifetime cache) — source code repeats identifiers heavily
    # (Zipf), so per-token Python work amortizes to ~zero on the hot path.
    raw_lists = s.fillna("").str.findall(r"[A-Za-z0-9_]+")
    cache = _EXPAND_CACHE
    expand = _expand_one
    return raw_lists.map(
        lambda raws: [
            t for raw in raws for t in (cache.get(raw) or expand(raw))
        ]
    )


_EXPAND_CACHE: dict[str, tuple[str, ...]] = {}
_EXPAND_CACHE_MAX = 1_000_000  # bound worker memory on adversarial vocab


def _expand_one(raw: str) -> tuple[str, ...]:
    low = raw.lower()
    if "_" in raw:
        parts = [p for p in raw.split("_") if p]
    else:
        parts = [raw]
    subs = [s.lower() for p in parts for s in _CAMEL_RE.split(p) if s]
    out = (low, *subs) if subs != [low] else (low,)
    if len(_EXPAND_CACHE) < _EXPAND_CACHE_MAX:
        _EXPAND_CACHE[raw] = out
    return out


def make_code_tokenizer_udf():
    """Arrow-batched pandas UDF: content -> array<string> (code variant)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(ArrayType(StringType()))
    def code_tokenize(s: pd.Series) -> pd.Series:
        return _code_tokenize_series(s)

    return code_tokenize


def tokenize_cjk_py(text: str) -> list[str]:
    """cjk variant, plain Python: base tokens plus overlapping character
    bigrams of every CJK run (a single-char run emits the char itself) —
    the Lucene-CJKAnalyzer model, the deterministic stand-in for
    xsearch's dictionary word-segmenter plugin (component-level [R])."""
    out = tokenize_base_py(text)
    for run in _CJK_RUN_RE.findall(text):
        if len(run) == 1:
            out.append(run)
        else:
            out.extend(run[i : i + 2] for i in range(len(run) - 1))
    return out


def tokenize_cjk_col(col: Column) -> Column:
    """cjk variant as pure Column expressions (JVM, codegen'd): the base
    token array concatenated with per-run bigram arrays."""
    runs = F.regexp_extract_all(col, F.lit(CJK_RUN_REGEX_ENGINE), 0)
    bigrams = F.flatten(
        F.transform(
            runs,
            lambda r: F.when(F.length(r) == 1, F.array(r)).otherwise(
                F.transform(
                    F.sequence(F.lit(1), F.length(r) - 1),
                    lambda i: r.substr(i, F.lit(2)),
                )
            ),
        )
    )
    return F.concat(tokenize_base_col(col), bigrams)


def tokenize_df(df, text_col: str, variant: str = "base", out_col: str = "tokens"):
    """Attach a ``tokens`` array column using the requested variant."""
    if variant == "base":
        return df.withColumn(out_col, tokenize_base_col(F.col(text_col)))
    if variant == "code":
        return df.withColumn(out_col, make_code_tokenizer_udf()(F.col(text_col)))
    if variant == "cjk":
        return df.withColumn(out_col, tokenize_cjk_col(F.col(text_col)))
    raise ValueError(f"unknown tokenizer variant: {variant}")


def tokenize_query(q: str, variant: str = "base") -> list[str]:
    """Query analysis — byte-identical to the index-side analyzer (A3)."""
    if variant == "base":
        return tokenize_base_py(q)
    if variant == "code":
        return tokenize_code_py(q)
    if variant == "cjk":
        return tokenize_cjk_py(q)
    raise ValueError(f"unknown tokenizer variant: {variant}")
