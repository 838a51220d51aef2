"""Index-build operators B1–B3 (SURVEY.md §2.3): posting construction,
doc lengths, collection statistics.

Reference parity: xsearch builds an in-memory ``term -> []posting`` map
per shard and tracks per-doc lengths + global stats (component-level
[R]; pinned shape BASELINE.json:6 "partition-local posting-list
construction (term -> sorted docID runs with term frequencies and doc
lengths)").

Scale notes:
  * B1 is ``explode + groupBy(term, doc_id).count()`` — Catalyst plans a
    partial (map-side) HashAggregate before the shuffle, so the shuffle
    carries one row per *distinct* (term, doc_id), not per token
    occurrence. That partial-agg is the Spark analogue of xsearch's
    shard-local posting map.
  * dl is computed pre-explode via ``F.size(tokens)`` (no extra shuffle).
  * df/N/avgdl are one extra aggregation over the deduplicated postings.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xsearch_spark.functions.tokenize import tokenize_df


def with_tokens(df: DataFrame, text_col: str, variant: str = "base") -> DataFrame:
    """A1/A2: attach ``tokens`` and ``dl`` (post-filter token count)."""
    return tokenize_df(df, text_col, variant).withColumn("dl", F.size("tokens"))


def postings(tokenized: DataFrame, doc_id_col: str = "doc_id") -> DataFrame:
    """B1: (doc_id, tokens) -> (term, doc_id, tf).

    Map-side partial aggregation collapses repeated tokens before the
    shuffle; the output is the long (relational) form of the inverted
    index.
    """
    return (
        tokenized.select(F.col(doc_id_col).alias("doc_id"), F.explode("tokens").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("tf"))
    )


def postings_with_dl(tokenized: DataFrame, doc_id_col: str = "doc_id") -> DataFrame:
    """B1+B2 in ONE tokenize pass: (term, doc_id, tf, dl). dl rides the
    groupBy key (constant per doc), so no postings⋈doc_stats join and no
    second evaluation of the tokenizer UDF — at 100 TB the tokenizer is
    the most expensive stage and must run exactly once."""
    return (
        tokenized.select(
            F.col(doc_id_col).alias("doc_id"), "dl", F.explode("tokens").alias("term")
        )
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).cast("int").alias("tf"))
        .select("term", "doc_id", "tf", "dl")
    )


def count_batch(texts, ids, variant: str, with_positions: bool = False):
    """Tokenize+count one Arrow batch -> (terms, doc_ids, tfs, dls) numpy
    arrays sorted by doc_id. Returns None for an all-empty batch. (Thin
    materializing wrapper over :func:`count_batch_coded`, kept for the
    kernel benchmark and the parity tests — the one source packer,
    ``segments.pack_from_source``, consumes the coded form directly so
    per-posting term STRINGS are never built on the build hot path.)

    Round 7: base/code run on Arrow C++ kernels end to end — RE2 regex
    split (``pc.split_pattern_regex``), C++ lowercase, and
    ``pc.dictionary_encode`` replace the per-row ``re.findall`` + the
    per-occurrence Python-str materialization (the old
    ``np.fromiter(chain(...))`` built one Python object per token).
    Per-token Python survives only per DISTINCT raw token (the compound
    expansion, memoized worker-lifetime) and per batch-dictionary entry.
    Measured 2.1-2.7x kernel throughput on the code corpus with exact
    posting/position parity (tests/test_tokenize.py::test_count_batch_*).
    The cjk variant keeps the per-row plugin-parity path.

    ``with_positions`` (index layout v6): additionally return a fifth
    array ``pos_flat`` — the 1-based token-stream positions of every
    occurrence, grouped per returned posting in posting order (posting
    j's positions are ``pos_flat[cumsum(tfs)[j-1]:cumsum(tfs)[j]]``,
    ascending). Position = index in the analyzer's EMITTED token stream
    (frozen; equals the filtered-token index for the base variant, which
    is what the SQL oracle reproduces)."""
    res = count_batch_coded(texts, ids, variant, with_positions)
    if res is None:
        return None
    codes, term_dict, doc_ids, tfs, dls = res[:5]
    out = (term_dict[codes], doc_ids, tfs, dls)
    return out + res[5:] if with_positions else out


def count_batch_coded(texts, ids, variant: str, with_positions: bool = False):
    """:func:`count_batch` in CODED form: returns (term_codes, term_dict,
    doc_ids, tfs, dls[, pos_flat]) where posting j's term is
    ``term_dict[term_codes[j]]``. The packer remaps the small per-batch
    dictionary into a task-local one and sorts/groups on integer codes —
    no per-posting Python string is ever materialized (round 7; the
    per-flush object factorize was as expensive as the whole tokenize
    kernel)."""
    import numpy as np
    import pandas as pd

    if variant == "cjk":
        # per-row Python is acceptable here: this variant is the plugin-
        # parity path (swap in a real segmenter at prod); the bigram
        # expansion itself is O(len) string slicing
        import itertools

        from xsearch_spark.functions.tokenize import tokenize_cjk_py

        token_lists = texts.fillna("").map(tokenize_cjk_py)
        lens = token_lists.map(len).to_numpy(np.int64)
        total = int(lens.sum())
        if total == 0:
            return None
        emit_row = np.repeat(np.arange(len(ids)), lens)
        all_tok = np.fromiter(
            itertools.chain.from_iterable(token_lists), dtype=object, count=total
        )
        codes, uniques = pd.factorize(all_tok)
        term_dict = np.asarray(uniques, dtype=object)
        term_codes = codes.astype(np.int64)
        lens_emit = lens
    else:
        import pyarrow as pa
        import pyarrow.compute as pc

        from xsearch_spark.constants import TOKEN_SPLIT_REGEX
        from xsearch_spark.functions.tokenize import _EXPAND_CACHE, _expand_one

        arr = pa.array(
            texts.to_numpy(dtype=object, na_value=""), type=pa.large_string()
        )
        if variant == "base":
            # Python str.lower() maps U+0130 (İ) to TWO codepoints
            # (i + combining dot above) — the only multi-codepoint
            # lowercase in Unicode — while Arrow's utf8_lower maps it to
            # a bare 'i'; the combining mark is a token boundary, so the
            # engines would tokenize 'İstanbul' differently. Pre-expand
            # it so the Arrow path reproduces the frozen Python-lower
            # tokenization exactly (all other codepoints are 1:1 and
            # token-membership-identical, brute-force verified).
            arr = pc.replace_substring(arr, "İ", "i̇")
            arr = pc.utf8_lower(arr)
            lists = pc.split_pattern_regex(arr, TOKEN_SPLIT_REGEX)
        else:  # code: split BEFORE lowercasing (camel boundaries need case)
            lists = pc.split_pattern_regex(arr, r"[^A-Za-z0-9_]+")
        flat = lists.values
        offs = np.asarray(lists.offsets)
        # split emits "" at string edges: drop, and recover each token's
        # row from the list offsets (offs[r] <= j < offs[r+1])
        ne = pc.not_equal(flat, "")
        keep_idx = np.nonzero(np.asarray(ne))[0]
        if keep_idx.size == 0:
            return None
        flat = flat.filter(ne)
        row_of = np.searchsorted(offs[1:], keep_idx, side="right").astype(np.int64)
        denc = pc.dictionary_encode(flat)
        if isinstance(denc, pa.ChunkedArray):
            denc = denc.combine_chunks()
        codes = np.asarray(denc.indices).astype(np.int64)
        if variant == "base":
            term_dict = denc.dictionary.to_numpy(zero_copy_only=False)
            term_codes = codes
            emit_row = row_of
            lens_emit = np.bincount(row_of, minlength=len(ids)).astype(np.int64)
        else:
            # compound expansion per DISTINCT raw token only (memoized);
            # the per-occurrence emitted stream is one C++ list-take
            uniq_raws = denc.dictionary.to_pylist()
            exps = [_EXPAND_CACHE.get(u) or _expand_one(u) for u in uniq_raws]
            exp_counts = np.fromiter(
                (len(e) for e in exps), dtype=np.int64, count=len(uniq_raws)
            )
            ecodes, euniq = pd.factorize(
                np.array([t for e in exps for t in e], dtype=object)
            )
            exp_offsets = np.concatenate([[0], np.cumsum(exp_counts)])
            explist = pa.LargeListArray.from_arrays(
                exp_offsets, pa.array(ecodes, type=pa.int32())
            )
            term_codes = np.asarray(explist.take(denc.indices).values).astype(
                np.int64
            )
            term_dict = np.asarray(euniq, dtype=object)
            occ = exp_counts[codes]
            emit_row = np.repeat(row_of, occ)
            lens_emit = np.bincount(
                row_of, weights=occ, minlength=len(ids)
            ).astype(np.int64)
    total = int(term_codes.size)
    if total == 0:
        return None
    # count (row, term) pairs on INTEGER keys: combined int64 key unique
    # — avoids an O(n log n) Python-string comparison sort
    n_codes = term_dict.size
    combined = emit_row * np.int64(n_codes) + term_codes
    u, counts = np.unique(combined, return_counts=True)
    r = (u // n_codes).astype(np.int64)
    c = (u % n_codes).astype(np.int64)
    out = (
        c,
        term_dict,
        ids[r],
        counts.astype(np.int64),
        lens_emit[r],
    )
    if not with_positions:
        return out
    # positions: stable-sort the token stream by (row, code) key — within
    # a group the original (ascending-position) order is preserved, so
    # the sorted position column is already grouped per posting in the
    # same order np.unique returned the postings
    doc_starts = np.cumsum(lens_emit) - lens_emit
    pos = np.arange(total, dtype=np.int64) - doc_starts[emit_row] + 1
    order = np.argsort(combined, kind="stable")
    return out + (pos[order],)


def doc_stats(tokenized: DataFrame, doc_id_col: str = "doc_id") -> DataFrame:
    """B2: (doc_id, dl) — token count after the filter chain."""
    return tokenized.select(F.col(doc_id_col).alias("doc_id"), F.col("dl"))


def term_stats(postings_df: DataFrame) -> DataFrame:
    """B3 per-term df. (term, doc_id) is unique post-B1, so a plain
    count() equals countDistinct(doc_id) without the expensive distinct
    machinery."""
    return postings_df.groupBy("term").agg(F.count(F.lit(1)).alias("df"))


@dataclass(frozen=True)
class CollectionStats:
    n_docs: int
    avgdl: float


def collection_stats(docs_stats_df: DataFrame) -> CollectionStats:
    """B3 global scalars: N and avgdl (mean dl over ALL docs).

    avgdl is computed as exact-integer sum(dl) divided once in float64 —
    bit-identical across Spark, Python and DuckDB regardless of
    summation order (a float-typed avg() would be order-dependent at the
    last ulp; SURVEY.md §5.2 float discipline).
    """
    row = docs_stats_df.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
    ).collect()[0]
    n = int(row["n"])
    avgdl = (int(row["s"]) / n) if n else 0.0
    return CollectionStats(n_docs=n, avgdl=avgdl)
