"""pyref — single-node pure-Python/NumPy reference engine.

The executable stand-in for the (unavailable) Go reference binary
(SURVEY.md §0, §5.3): it implements the frozen spec of FIXTURES.md §3
directly — dict of term -> NumPy posting arrays, naive document-at-a-time
evaluation, exact top-k with the pinned tie-break. The Spark engine must
be rank-identical to this on the FIXTURES §4 query set.

Deliberately shares NOTHING with the Spark engine except
``constants.py`` (and the varint codec in its round-trip tests, so "same
bytes" is testable) — independence is the point.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from xsearch_spark.constants import B, K1
from xsearch_spark.functions.tokenize import tokenize_base_py, tokenize_code_py
from xsearch_spark.plans.query import ParsedQuery, parse


@dataclass
class PyRefIndex:
    postings: dict[str, tuple[np.ndarray, np.ndarray]]  # term -> (doc_ids, tfs)
    dl: dict[int, int]
    n_docs: int
    avgdl: float
    lang: dict[int, str]
    # generic per-doc attributes (round-5): field -> doc_id -> value
    attrs: dict[str, dict[int, str]] | None = None
    # per-doc emitted token stream (round-5, phrase adjacency)
    tokens: dict[int, list[str]] | None = None


def build(
    docs: list[tuple[int, str]],
    variant: str = "base",
    langs: dict[int, str] | None = None,
    attrs: dict[str, dict[int, str]] | None = None,
) -> PyRefIndex:
    tokenizer = tokenize_base_py if variant == "base" else tokenize_code_py
    acc: dict[str, dict[int, int]] = {}
    dl: dict[int, int] = {}
    streams: dict[int, list[str]] = {}
    for doc_id, text in docs:
        toks = tokenizer(text)
        streams[doc_id] = toks
        dl[doc_id] = len(toks)
        counts: dict[str, int] = {}
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
        for t, c in counts.items():
            acc.setdefault(t, {})[doc_id] = c
    postings = {}
    for t, m in acc.items():
        ids = np.array(sorted(m), dtype=np.int64)
        tfs = np.array([m[i] for i in ids], dtype=np.int64)
        postings[t] = (ids, tfs)
    n = len(docs)
    avgdl = (sum(dl.values()) / n) if n else 0.0
    return PyRefIndex(postings, dl, n, avgdl, langs or {}, attrs or {}, streams)


def _idf(n: int, df: int) -> float:
    return math.log(1.0 + (n - df + 0.5) / (df + 0.5))


def search(index: PyRefIndex, query: str | ParsedQuery, k: int = 10, variant: str = "base"):
    """Exact top-k [(doc_id, score)] — score DESC, doc_id ASC tie-break."""
    parsed = parse(query, variant) if isinstance(query, str) else query
    terms = [t for t in parsed.terms if t in index.postings]
    if not terms or (parsed.connective == "AND" and len(terms) != len(parsed.terms)):
        return []
    scores: dict[int, float] = {}
    hits: dict[int, int] = {}
    for t in terms:
        ids, tfs = index.postings[t]
        idf = _idf(index.n_docs, len(ids))
        for doc_id, tf in zip(ids.tolist(), tfs.tolist()):
            dl = index.dl[doc_id]
            w = idf * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / index.avgdl))
            scores[doc_id] = scores.get(doc_id, 0.0) + w
            hits[doc_id] = hits.get(doc_id, 0) + 1
    cand = scores.keys()
    if parsed.connective == "AND":
        cand = [d for d in cand if hits[d] == len(parsed.terms)]
    if parsed.lang is not None:
        cand = [d for d in cand if index.lang.get(d) == parsed.lang]
    for fld, val in parsed.attrs:
        vals = (index.attrs or {}).get(fld, {})

        def _ok(d: int) -> bool:
            v = vals.get(d)
            if isinstance(v, (list, tuple, set, frozenset)):
                return val in v  # multi-value attrs: membership
            return v == val

        cand = [d for d in cand if _ok(d)]
    for ph in parsed.phrases:
        want = list(ph)
        m = len(want)
        streams = index.tokens or {}

        def _has(d: int) -> bool:
            s = streams.get(d, [])
            return any(s[i : i + m] == want for i in range(len(s) - m + 1))

        cand = [d for d in cand if _has(d)]
    if parsed.exclude:
        banned: set[int] = set()
        for t in parsed.exclude:
            if t in index.postings:
                banned.update(index.postings[t][0].tolist())
        cand = [d for d in cand if d not in banned]
    ranked = sorted(cand, key=lambda d: (-scores[d], d))[:k]
    return [(d, scores[d]) for d in ranked]
